package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.storage.StorageLevel
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

  test("engine settings parse at session build: pair storage and the verify cap") {
    assert(GraftSession.pairStorage(Map.empty).isEmpty)
    assert(GraftSession.pairStorage(Map("SPARK_GRAFT_PAIR_STORAGE" -> "ser"))
      .contains(StorageLevel.MEMORY_AND_DISK_SER))
    assert(GraftSession.pairStorage(Map("SPARK_GRAFT_PAIR_STORAGE" -> "deser"))
      .contains(StorageLevel.MEMORY_AND_DISK))
    assert(GraftSession.verifyBcastCap(Map.empty) == (384L << 20))
    assert(GraftSession.verifyBcastCap(
      Map("SPARK_GRAFT_VERIFY_BCAST_CAP" -> "8589934592")) == (8L << 30))
    GraftSession.configure(SparkSession.builder(), Map(
      "SPARK_GRAFT_OHA_FALLBACK" -> "128",
      "SPARK_GRAFT_LIST_THRESHOLD" -> "32",
      "SPARK_GRAFT_CODEGEN_CACHE" -> "100"))
  }

  test("a bad engine setting fails at session build and names the variable") {
    def check(name: String, bad: String)(build: Map[String, String] => Any) = {
      val e = intercept[IllegalArgumentException](build(Map(name -> bad)))
      assert(e.getMessage.contains(name) && e.getMessage.contains(s"'$bad'"),
        e.getMessage)
    }
    for ((name, bad) <- Seq("SPARK_GRAFT_OHA_FALLBACK" -> "4m",
        "SPARK_GRAFT_OHA_FALLBACK" -> "99999999999",
        "SPARK_GRAFT_LIST_THRESHOLD" -> "-1",
        "SPARK_GRAFT_CODEGEN_CACHE" -> "lots"))
      check(name, bad)(GraftSession.configure(SparkSession.builder(), _))
    // the two process-wide settings: configure runs these same parsers
    // on the process environment
    for (bad <- Seq("64MB", "0"))
      check("SPARK_GRAFT_VERIFY_BCAST_CAP", bad)(GraftSession.verifyBcastCap(_))
    for (bad <- Seq("serialized", ""))
      check("SPARK_GRAFT_PAIR_STORAGE", bad)(GraftSession.pairStorage(_))
  }
}
