package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

class GraftSessionSpec extends AnyFunSuite {

  test("core settings parse as positive ints and default to the JVM's processors") {
    assert(GraftSession.cpus(Map.empty) == Runtime.getRuntime.availableProcessors)
    assert(GraftSession.cpus(Map("SPARK_GRAFT_CPUS" -> "6")) == 6)
    assert(GraftSession.cpus(Map("SPARK_GRAFT_CPUS" -> " 3 ")) == 3)
    GraftSession.configure(SparkSession.builder(),
      Map("SPARK_GRAFT_CPUS" -> "2", "SPARK_GRAFT_LIMIT_INITIAL" -> "8"))
  }

  test("a bad core setting fails at session build and names the variable") {
    for (name <- Seq("SPARK_GRAFT_CPUS", "SPARK_GRAFT_LIMIT_INITIAL");
         bad <- Seq("0", "-4", "four", "", "2.5", "99999999999")) {
      val e = intercept[IllegalArgumentException] {
        GraftSession.configure(SparkSession.builder(), Map(name -> bad))
      }
      assert(e.getMessage.contains(name) && e.getMessage.contains(s"'$bad'"),
        e.getMessage)
    }
  }

  test("engine settings parse at session build") {
    GraftSession.configure(SparkSession.builder(), Map(
      "SPARK_GRAFT_OHA_FALLBACK" -> "128",
      "SPARK_GRAFT_LIST_THRESHOLD" -> "32",
      "SPARK_GRAFT_CODEGEN_CACHE" -> "100"))
  }

  test("a bad engine setting fails at session build and names the variable") {
    for ((name, bad) <- Seq("SPARK_GRAFT_OHA_FALLBACK" -> "4m",
        "SPARK_GRAFT_OHA_FALLBACK" -> "99999999999",
        "SPARK_GRAFT_LIST_THRESHOLD" -> "-1",
        "SPARK_GRAFT_CODEGEN_CACHE" -> "lots")) {
      val e = intercept[IllegalArgumentException] {
        GraftSession.configure(SparkSession.builder(), Map(name -> bad))
      }
      assert(e.getMessage.contains(name) && e.getMessage.contains(s"'$bad'"),
        e.getMessage)
    }
  }
}
