package graft

import java.sql.Timestamp
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.api._
import graft.operators.Event
import graft.streaming.StreamOps

case class TsEvent(ts: Timestamp, user_id: Long, event_type: String, value: Double)

class StreamingSpec extends AnyFunSuite {
  lazy val spark: SparkSession = GraftSession.configure(
    SparkSession.builder().master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")).getOrCreate()

  private def ts(minute: Int): Timestamp =
    Timestamp.valueOf(f"2024-01-01 00:$minute%02d:00")

  test("streaming: stateless computation flows source → sink") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val in = MemoryStream[Event]
    val out = StreamOps.compute(in.toDS(),
      StatelessComputation.map[Event, (Long, Double)]("c2f")(e =>
        (e.event_id, e.value * 1.8 + 32.0))).toDF("event_id", "fahrenheit")
    val q = StreamOps.toMemorySink(out, "c2f_out", "append")
    in.addData(Event(1, 10, "m", 0.0, ""), Event(2, 11, "m", 100.0, ""))
    q.processAllAvailable()
    val rows = spark.table("c2f_out").orderBy($"event_id").collect()
    assert(rows.map(r => (r.getLong(0), r.getDouble(1))).toSeq ==
      Seq((1L, 32.0), (2L, 212.0)))
    q.stop()
  }

  test("streaming: per-key StateComputation persists across micro-batches") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val alertComp = new StateComputation[Event, Long, (Long, Long, Double)] {
      val name = "running_total_alert"
      def initialState = 0L
      def apply(e: Event, cum: Long) = {
        val next = cum + math.round(e.value * 100)
        val out = if (next / 100000L > cum / 100000L)
          Iterator.single((e.user_id, e.event_id, next / 100.0))
        else Iterator.empty
        (next, out)
      }
    }
    val in = MemoryStream[Event]
    val out = StreamOps.computeKeyedState(in.toDS(), (_: Event).user_id,
      (_: Event).event_id, alertComp).toDF("user_id", "event_id", "total")
    val q = StreamOps.toMemorySink(out, "alerts_out", "append")
    // batch 1: user 7 accumulates 600.00 — no alert yet
    in.addData(Event(1, 7, "p", 600.0, ""))
    q.processAllAvailable()
    assert(spark.table("alerts_out").count() == 0)
    // batch 2: +500.00 crosses the 1000.00 boundary → alert with state
    // carried over from batch 1
    in.addData(Event(2, 7, "p", 500.0, ""))
    q.processAllAvailable()
    val rows = spark.table("alerts_out").collect()
    assert(rows.map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq ==
      Seq((7L, 2L, 1100.0)))
    q.stop()
  }

  test("streaming: watermarked tumbling window drops late data") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val in = MemoryStream[TsEvent]
    val out = StreamOps.windowedAgg(in.toDF(), "ts", Seq($"event_type"),
      "10 minutes", "10 minutes", "5 minutes",
      Seq(count(lit(1)).as("n"), sum($"value").as("total")))
      .select($"window.start".as("wstart"), $"event_type", $"n", $"total")
    val q = StreamOps.toMemorySink(out, "win_out", "append")
    in.addData(TsEvent(ts(1), 1, "a", 1.0), TsEvent(ts(5), 1, "a", 2.0))
    q.processAllAvailable()
    // advance watermark far past the first window → it closes and emits
    in.addData(TsEvent(ts(40), 1, "a", 5.0))
    q.processAllAvailable()
    // this event is older than watermark (40m - 5m) → LateDataPolicy.drop
    in.addData(TsEvent(ts(2), 1, "a", 100.0))
    q.processAllAvailable()
    in.addData(TsEvent(ts(59), 1, "a", 7.0))
    q.processAllAvailable()
    val closed = spark.table("win_out").orderBy($"wstart").collect()
    // late 100.0 never appears; the 0:59 event closes the [0:40,0:50) window
    assert(closed.map(r => (r.getLong(2), r.getDouble(3))).toSeq ==
      Seq((2L, 3.0), (1L, 5.0)))
    q.stop()
  }

  test("streaming: session windows close after the gap") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val in = MemoryStream[TsEvent]
    val out = StreamOps.sessionAgg(in.toDF(), "ts", Seq($"user_id"),
      "10 minutes", "0 seconds", Seq(count(lit(1)).as("n")))
      .select($"user_id", $"session_window.start".as("sstart"), $"n")
    val q = StreamOps.toMemorySink(out, "sess_out", "append")
    in.addData(TsEvent(ts(1), 9, "a", 1.0), TsEvent(ts(5), 9, "a", 1.0))
    q.processAllAvailable()
    in.addData(TsEvent(ts(50), 9, "a", 1.0)) // gap > 10m: closes session 1
    q.processAllAvailable()
    val rows = spark.table("sess_out").collect()
    assert(rows.map(r => (r.getLong(0), r.getLong(2))).toSeq == Seq((9L, 2L)))
    q.stop()
  }

  test("streaming: per-key global aggregation (Update mode) tracks totals") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val in = MemoryStream[Event]
    val sumAgg = new GraftAggregation[Event, Long, Double] {
      val name = "vote_total"
      def initialAccumulator = 0L
      def update(in: Event, acc: Long) = acc + math.round(in.value * 100)
      def combine(a: Long, b: Long) = a + b
      def output(acc: Long) = acc / 100.0
    }
    val out = StreamOps.globalAgg(in.toDS(), (_: Event).event_type, sumAgg)
      .toDF("event_type", "total")
    val q = out.writeStream.format("memory").queryName("votes_out")
      .outputMode("update").start()
    in.addData(Event(1, 1, "a", 1.5, ""), Event(2, 1, "b", 2.0, ""))
    q.processAllAvailable()
    in.addData(Event(3, 1, "a", 1.0, ""))
    q.processAllAvailable()
    val latest = spark.table("votes_out").groupBy($"event_type")
      .agg(max($"total").as("total")).orderBy($"event_type").collect()
    assert(latest.map(r => (r.getString(0), r.getDouble(1))).toSeq ==
      Seq(("a", 2.5), ("b", 2.0)))
    q.stop()
  }

  test("streaming/batch parity: tumbling windows over the events table") {
    import spark.implicits._
    // batch answer from the oracle-gated query
    val batch = graft.operators.WindowQueries
      .qTumbling(spark, "/root/testdata/sf0.001")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    // same computation as a file stream (complete mode, single batch)
    val stream = (
      spark.readStream.schema(graft.sources.Sources.schemas("events"))
        .option("pathGlobFilter", "events.parquet")
        .parquet("/root/testdata/sf0.001"))
    val windowed = graft.operators.Windows.withTumbling(stream, $"ts", 3600)
      .groupBy($"event_type", $"window_start")
      .agg(count(lit(1)).as("n_events"))
    val q = windowed.writeStream.format("memory").queryName("parity_out")
      .outputMode("complete").start()
    q.processAllAvailable()
    val streamed = spark.table("parity_out").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    q.stop()
    assert(streamed == batch)
  }

  test("streaming/batch parity: sliding windows over the events table") {
    import spark.implicits._
    // batch: explicit window-start arithmetic
    val ev = graft.sources.Sources.events(spark, "/root/testdata/sf0.001")
    val batch = graft.operators.Windows.withSliding(ev, $"ts", 3600, 1800)
      .groupBy($"event_type", $"window_start")
      .agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    // streaming: the built-in window() with the same range/slide
    val stream = (
      spark.readStream.schema(graft.sources.Sources.schemas("events"))
        .option("pathGlobFilter", "events.parquet")
        .parquet("/root/testdata/sf0.001"))
    val windowed = stream
      .groupBy($"event_type", window($"ts", "3600 seconds", "1800 seconds"))
      .agg(count(lit(1)).as("n"))
      .select($"event_type",
        unix_timestamp($"window.start").as("window_start"), $"n")
    val q = windowed.writeStream.format("memory").queryName("slide_parity")
      .outputMode("complete").start()
    q.processAllAvailable()
    val streamed = spark.table("slide_parity").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    q.stop()
    assert(streamed == batch && batch.nonEmpty)
  }

  test("streaming/batch parity: session windows over the events table") {
    import spark.implicits._
    import graft.functions.epochS
    // semantics alignment: batch withSessions splits on diff > gap while
    // session_window splits on diff >= gap, and epochS truncates to
    // seconds — so batch uses gap 3599 on truncated seconds and the
    // stream gets second-truncated timestamps with gap 3600
    val ev = graft.sources.Sources.events(spark, "/root/testdata/sf0.001")
    val batch = graft.operators.Windows
      .withSessions(ev, $"user_id", epochS($"ts"), $"ts", 3599)
      .groupBy($"user_id", $"session_id")
      .agg(count(lit(1)).as("n"), min(epochS($"ts")).as("start_s"))
      .select($"user_id", $"start_s", $"n")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val stream = (
      spark.readStream.schema(graft.sources.Sources.schemas("events"))
        .option("pathGlobFilter", "events.parquet")
        .parquet("/root/testdata/sf0.001"))
      .withColumn("ts2", timestamp_seconds(epochS($"ts")))
    val sessioned = stream
      .groupBy($"user_id", session_window($"ts2", "3600 seconds"))
      .agg(count(lit(1)).as("n"))
      .select($"user_id",
        unix_timestamp($"session_window.start").as("start_s"), $"n")
    val q = sessioned.writeStream.format("memory").queryName("sess_parity")
      .outputMode("complete").start()
    q.processAllAvailable()
    val streamed = spark.table("sess_parity").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    q.stop()
    assert(streamed == batch && batch.nonEmpty)
  }

  test("streaming/batch parity: stateful alerts over the events table") {
    import spark.implicits._
    val alerts = new StateComputation[Event, Long, (Long, Long, Double)] {
      val name = "running_total_alert"
      def initialState = 0L
      private def roundHalfAway(x: Double): Long =
        math.round(math.abs(x)) * (if (x < 0) -1L else 1L)
      def apply(e: Event, cum: Long) = {
        val next = cum + roundHalfAway(e.value * 100)
        val out = if (next / 100000L > cum / 100000L)
          Iterator.single((e.user_id, e.event_id, next / 100.0))
        else Iterator.empty
        (next, out)
      }
    }
    val batch = graft.operators.Examples.qAlertsStateful(spark, "/root/testdata/sf0.001")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val stream = spark.readStream.schema(
      spark.read.parquet("/root/testdata/sf0.001/events.parquet").schema)
      .option("pathGlobFilter", "events.parquet")
      .parquet("/root/testdata/sf0.001")
      .select($"event_id", $"user_id", $"event_type", $"value", $"props")
      .as[Event]
    val out = StreamOps.computeKeyedState(stream, (_: Event).user_id,
      (_: Event).event_id, alerts).toDF("user_id", "event_id", "total")
    val q = out.writeStream.format("memory").queryName("alert_parity")
      .outputMode("append").start()
    q.processAllAvailable()
    val streamed = spark.table("alert_parity").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    q.stop()
    assert(streamed == batch && batch.nonEmpty)
  }

  test("streaming: gen source produces rows") {
    val df = StreamOps.genSource(spark, 100)
    assert(df.isStreaming)
    val q = StreamOps.toMemorySink(
      df.selectExpr("value", "timestamp"), "gen_out", "append")
    try {
      q.processAllAvailable()
      Thread.sleep(1200)
      q.processAllAvailable()
      assert(spark.table("gen_out").count() >= 0)
    } finally q.stop()
  }
}
