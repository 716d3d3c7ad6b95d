package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** Every `SPARK_GRAFT_*` name in `src/main` has a row in README's
  * Configuration table, and the table lists no name the code has dropped:
  * a new setting cannot land undocumented, and a removed one cannot linger
  * in the docs.
  */
class EnvNamesSpec extends AnyFunSuite {
  private val Name = "SPARK_GRAFT_[A-Z0-9_]+".r

  test("SPARK_GRAFT_* names in src/main equal the README configuration table") {
    val files = Files.walk(Paths.get("src/main/scala"))
    val inCode =
      try files.iterator.asScala.filter(_.toString.endsWith(".scala"))
        .flatMap(p => Name.findAllIn(Files.readString(p))).toSet
      finally files.close()
    val section = Files.readString(Paths.get("README.md")).split("\n## ")
      .find(_.startsWith("Configuration"))
      .getOrElse(fail("README.md has no Configuration section"))
    val inTable = section.linesIterator.filter(_.startsWith("| `SPARK_GRAFT_"))
      .flatMap(Name.findFirstIn(_)).toSet
    assert(inCode.nonEmpty)
    assert(inCode == inTable, s"not in the table: ${inCode -- inTable}; " +
      s"in the table but not in src/main: ${inTable -- inCode}")
  }
}
