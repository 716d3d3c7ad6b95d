package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** The set-similarity pair family has one verify
  * ([[graft.operators.Dedup]]'s `verify`): a second
  * `SortedIntersectCount.count(` call in `src/main` fails this spec, so a
  * new pair variant reuses the one candidate → verify → pairs pipeline
  * instead of writing its own join and count.
  */
class VerifySitesSpec extends AnyFunSuite {
  private val Site = """SortedIntersectCount\.count\(""".r

  test("SortedIntersectCount.count( appears exactly once in src/main") {
    val root = Paths.get("src/main/scala")
    val files = Files.walk(root)
    val found =
      try files.iterator.asScala.filter(_.toString.endsWith(".scala"))
        .map(p => root.relativize(p).toString ->
          Site.findAllIn(Files.readString(p)).length)
        .filter(_._2 > 0).toMap
      finally files.close()
    assert(found == Map("graft/operators/Dedup.scala" -> 1),
      s"SortedIntersectCount.count( sites per file: $found")
  }
}
