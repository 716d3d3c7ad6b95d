package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** The engine has one size-gate primitive, [[graft.operators.Gate]]: a
  * `limit(... + 1).collect()` probe in `src/main` outside `Gate.scala`
  * fails this spec, so a new gate site goes through `Gate.collectWithin`
  * (one job description, one log line, the probe-before-persist order).
  */
class GateSitesSpec extends AnyFunSuite {
  private val Probe = """\.limit\([^\n]*\+\s*1\b[^\n]*\)\s*\.collect\(\)""".r

  test("limit(n + 1).collect() probes appear only in Gate.scala") {
    val root = Paths.get("src/main/scala")
    val files = Files.walk(root)
    val found =
      try files.iterator.asScala.filter(_.toString.endsWith(".scala"))
        .map(p => root.relativize(p).toString ->
          Probe.findAllIn(Files.readString(p)).length)
        .filter(_._2 > 0).toMap
      finally files.close()
    assert(found == Map("graft/operators/Gate.scala" -> 1),
      s"limit(n + 1).collect() probes per file: $found")
  }
}
