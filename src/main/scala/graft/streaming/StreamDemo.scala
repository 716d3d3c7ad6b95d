package graft.streaming

import org.apache.spark.sql.functions._
import graft.GraftSession

/** Runnable end-to-end streaming smoke: gen source → stateless transform →
  * watermarked tumbling window → memory sink. Mirrors the reference's
  * canonical source→compute→window→sink pipeline on live micro-batches.
  *
  * Usage: sbt "runMain graft.streaming.StreamDemo [seconds]"
  */
object StreamDemo {
  def main(args: Array[String]): Unit = {
    val runSeconds = args.headOption.map(_.toInt).getOrElse(6)
    val spark = GraftSession.local("stream-demo")
    import spark.implicits._

    val metrics = MetricsCollector.attach(spark)
    val src = StreamOps.genSource(spark, rowsPerSecond = 200)
      .select($"timestamp".as("ts"), ($"value" % 5).as("key"),
        ($"value" % 100).cast("double").as("value"))
    val windowed = StreamOps.windowedAgg(src, "ts", Seq($"key"),
      "2 seconds", "2 seconds", "1 second",
      Seq(count(lit(1)).as("n"), sum($"value").as("total")))
      .select($"window.start".as("wstart"), $"key", $"n", $"total")
    val q = StreamOps.toMemorySink(windowed, "demo_windows", "append")
    // NOTE: never processAllAvailable() on a rate source — it produces new
    // data every second, so "all available" never drains. Run wall-clock.
    Thread.sleep(runSeconds * 1000L)
    q.stop()
    val rows = spark.table("demo_windows").orderBy($"wstart", $"key")
    val n = rows.count()
    rows.show(20, truncate = false)
    println(s"[stream-demo] closed windows emitted: $n (batches: ${q.recentProgress.length})")
    metrics.report().foreach { m =>
      println(f"[stream-demo] metrics ${m.name}: batches=${m.nBatches} " +
        f"rows=${m.totalInputRows} stateRows=${m.maxStateRows} " +
        f"meanBatchMs=${m.meanBatchMs}%.1f maxBatchMs=${m.maxBatchMs}")
    }
    q.stop()
    spark.stop()
    assert(n > 0, "no windows emitted")
  }
}
