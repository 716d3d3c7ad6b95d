package graft

import org.scalatest.funsuite.AnyFunSuite

class BenchControlsSpec extends AnyFunSuite {

  test("bench controls parse once, with their defaults") {
    assert(Bench.controls(Map.empty) == Bench.Controls(
      loadGate = 2.0, repeat = 2, queryTimeoutSec = 0,
      heavyRetimeSec = 20.0, canaryGate = 1.5))
    assert(Bench.controls(Map(
      "SPARK_GRAFT_LOADAVG_GATE" -> "3.5",
      "SPARK_GRAFT_REPEAT" -> " 5 ",
      "SPARK_GRAFT_QUERY_TIMEOUT_SEC" -> "600",
      "SPARK_GRAFT_HEAVY_RETIME_SEC" -> "0",
      "SPARK_GRAFT_CANARY_GATE" -> "0")) == Bench.Controls(
      loadGate = 3.5, repeat = 5, queryTimeoutSec = 600,
      heavyRetimeSec = 0.0, canaryGate = 0.0))
    // a repeat count below one still runs each query once
    assert(Bench.controls(Map("SPARK_GRAFT_REPEAT" -> "0")).repeat == 1)
  }

  test("a bad bench control fails at start and names the variable") {
    for ((name, bad) <- Seq(
        "SPARK_GRAFT_LOADAVG_GATE" -> "high",
        "SPARK_GRAFT_LOADAVG_GATE" -> "NaN",
        "SPARK_GRAFT_REPEAT" -> "2.5",
        "SPARK_GRAFT_REPEAT" -> "",
        "SPARK_GRAFT_QUERY_TIMEOUT_SEC" -> "10m",
        "SPARK_GRAFT_QUERY_TIMEOUT_SEC" -> "99999999999",
        "SPARK_GRAFT_HEAVY_RETIME_SEC" -> "20s",
        "SPARK_GRAFT_CANARY_GATE" -> "1,5",
        "SPARK_GRAFT_CANARY_GATE" -> "Infinity")) {
      val e = intercept[IllegalArgumentException](Bench.controls(Map(name -> bad)))
      assert(e.getMessage.contains(name) && e.getMessage.contains(s"'$bad'"),
        e.getMessage)
    }
  }
}
