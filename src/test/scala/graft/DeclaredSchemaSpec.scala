package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** Every Parquet read in `src/main` declares its schema
  * (`read.schema(...).parquet(...)`), so opening it reads no footer and
  * starts no schema-inference Spark job. The reads left on inference are
  * listed here with their count per file: a new undeclared read fails, and
  * so does a listed one that is gone.
  */
class DeclaredSchemaSpec extends AnyFunSuite {
  private val Undeclared = """read\s*\.\s*parquet\(""".r

  private val allowed = Map(
    // snapshot: a keyed store of whatever rows the caller upserted
    "graft/streaming/UpsertSink.scala" -> 1,
    // compactStore has no frame to take the `emb` type from
    "graft/streaming/StreamingSemanticDedup.scala" -> 1,
    // bench mains reading back their own outputs
    "graft/StreamingStoreBench.scala" -> 2,
    "graft/SemanticDedupBench.scala" -> 2)

  test("read.parquet( without a declared schema appears only in the allow-list") {
    val root = Paths.get("src/main/scala")
    val files = Files.walk(root)
    val found =
      try files.iterator.asScala.filter(_.toString.endsWith(".scala"))
        .map(p => root.relativize(p).toString ->
          Undeclared.findAllIn(Files.readString(p)).length)
        .filter(_._2 > 0).toMap
      finally files.close()
    assert(found == allowed, s"undeclared reads per file: $found")
  }
}
