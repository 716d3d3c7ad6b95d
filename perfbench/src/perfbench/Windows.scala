package perfbench

import java.nio.charset.StandardCharsets
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.streaming.StreamingQueryListener

import graft.api.GraftAggregation
import graft.sources.connector.{AtLeastOnceClient, ClientSource, ConnectorRegistry}
import graft.streaming.StatefulWindows

/** A parsed generator event. `ts` is event time in epoch seconds; `due`
  * is the generator's due time in epoch milliseconds.
  */
final case class Ev(seq: Long, key: Long, ts: Long, due: Long, v: Long)

/** Per-window count, value sum and latest due time. */
object CountSumDue extends GraftAggregation[Ev, (Long, Long, Long), (Long, Long, Long)] {
  def name: String = "count_sum_due"
  def initialAccumulator: (Long, Long, Long) = (0L, 0L, Long.MinValue)
  def update(in: Ev, a: (Long, Long, Long)): (Long, Long, Long) =
    (a._1 + 1, a._2 + in.v, math.max(a._3, in.due))
  def combine(a: (Long, Long, Long), b: (Long, Long, Long)): (Long, Long, Long) =
    (a._1 + b._1, a._2 + b._2, math.max(a._3, b._3))
  def output(a: (Long, Long, Long)): (Long, Long, Long) = a
}

/** The `stream_windows` workload: Wallaroo's own pipeline shape. One
  * generator thread sends over one TCP connection through the connector
  * protocol ([[AtLeastOnceClient]], paced by a [[ClientSource]]) into the
  * `graft-connector` source; the query parses each event, keys it by a
  * seeded Zipf key and runs [[StatefulWindows.rangeWindows]] (tumbling
  * windows, allowed delay, `FirePerMessage`). A benchmark-owned
  * `foreachBatch` sink stamps each emission.
  *
  * The offered load has two steps: a reference rate below saturation
  * (latency is measured here) and a burst of events that are all due at
  * once, which is above saturation (the drain time is `wall_s`). A flush
  * event far ahead in event time then closes every window, and the run
  * checks that every sent event landed in exactly one emitted window or
  * late singleton, with matching counts and value sums.
  */
object Windows {
  // The traffic dimensions and the basis of each are in perfbench/spec.json
  // (workloads.stream_windows.traffic).
  val RefRate = 3000           // events/s at the reference step: a tenth of the measured saturation
  val Keys = 200               // Zipf key space
  val ZipfS = 1.0              // Zipf exponent
  val RangeS = 1L              // tumbling window length, event seconds
  val DelayS = 2L              // allowed delay, event seconds
  val OutOfOrderShare = 0.10   // events 1 s behind, within the delay
  val LateShare = 0.02         // events behind the delay: late singletons
  val BurstEvents = 150000     // the above-saturation step
  val WarmupS = 3.0            // settling time of the measured query
  val TailS = 3.0              // end of the reference step left unsampled
  val SliceMs = 2000L          // traced/untraced alternation in trace runs
  val ColdS = 1.0              // reference-rate seconds of the cold query
  val FlushKey = -1L

  /** Seeded schedule: offset (ms from generator start), key, lateness
    * shift (s), value. Due time of the burst is the end of the reference
    * step; the last entry is the flush event.
    */
  final class Schedule(seed: Long, refS: Double, burst: Int) {
    private val rng = new scala.util.Random(seed)
    private val cdf = {
      val w = (1 to Keys).map(k => 1.0 / math.pow(k, ZipfS))
      val t = w.sum
      w.scanLeft(0.0)(_ + _).tail.map(_ / t).toArray
    }
    private def zipf(): Long = {
      val u = rng.nextDouble()
      val i = java.util.Arrays.binarySearch(cdf, u)
      (if (i >= 0) i else -i - 1).min(Keys - 1).toLong
    }
    val refN: Int = (RefRate * refS).toInt
    val n: Int = refN + burst
    val burstOffsetMs: Long = (refS * 1000).toLong
    val offsetMs = new Array[Long](n + 1)
    val key = new Array[Long](n + 1)
    val shift = new Array[Long](n + 1)
    val value = new Array[Long](n + 1)
    for (i <- 0 until n) {
      offsetMs(i) = if (i < refN) i * 1000L / RefRate else burstOffsetMs
      key(i) = zipf()
      val u = rng.nextDouble()
      shift(i) = if (u < LateShare) DelayS + RangeS + 1
        else if (u < LateShare + OutOfOrderShare) 1L else 0L
      value(i) = 1L + rng.nextInt(100)
    }
    offsetMs(n) = burstOffsetMs; key(n) = FlushKey; shift(n) = -1000L
    val valueSum: Long = value.take(n).sum
  }

  /** Paced source: `next()` blocks until the record is due. Records the
    * generator's lateness and the ack delay of every acked record.
    */
  final class PacedSource(s: Schedule) extends ClientSource {
    @volatile var t0Ms: Long = 0L
    private var i = 0
    val sentAtMs = new Array[Long](s.n + 1)
    val ackAtMs = new Array[Long](s.n + 1)
    val acked = new AtomicLong(0)
    def reset(pos: Long): Unit = {
      if (t0Ms == 0L) t0Ms = System.currentTimeMillis()
      i = if (pos == graft.sources.connector.Wire.PorUnknown) 0 else pos.toInt
    }
    def pointOfRef: Long = i
    def dueMs(j: Int): Long = t0Ms + s.offsetMs(j)
    def next(): Option[(Array[Byte], Long)] =
      if (i > s.n) None
      else {
        val due = dueMs(i)
        var now = System.currentTimeMillis()
        while (now < due) { Thread.sleep(math.min(due - now, 5L)); now = System.currentTimeMillis() }
        val ts = math.floorDiv(due, 1000L) - s.shift(i)
        val payload = s"$i,${s.key(i)},$ts,$due,${if (s.key(i) == FlushKey) 0 else s.value(i)}"
        sentAtMs(i) = now
        i += 1
        Some((payload.getBytes(StandardCharsets.UTF_8), i.toLong))
      }
    override def acked(por: Long): Unit = {
      val now = System.currentTimeMillis()
      var cur = acked.get
      while (por > cur) {
        if (acked.compareAndSet(cur, por)) {
          var j = cur.toInt
          while (j < por.toInt && j <= s.n) { ackAtMs(j) = now; j += 1 }
        }
        cur = acked.get
      }
    }
  }

  final case class Emit(key: Long, wStart: Long, count: Long, sum: Long,
      maxDue: Long, recvMs: Double)

  /** Micro-batch progress, recorded while `on`. */
  final class Progress extends StreamingQueryListener {
    @volatile var on = false
    val events = ArrayBuffer.empty[(Long, org.apache.spark.sql.streaming.StreamingQueryProgress)]
    def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      if (on) synchronized(events += ((System.currentTimeMillis(), e.progress)))
    }
  }

  /** One streaming query over one schedule: start the pipeline, connect
    * the generator, call `during` with the generator's start time, then
    * wait until every event is accounted for in the outputs (or a
    * deadline passes) and stop everything.
    */
  final class Stream(spark: SparkSession, work: String, sched: Schedule,
      progress: Progress) {
    import spark.implicits._
    val emits = ArrayBuffer.empty[Emit]
    val sinkNs = ArrayBuffer.empty[(Long, Long)]
    val source = new PacedSource(sched)
    var startMs = 0L
    var error: Option[String] = None

    def run(during: Long => Unit): Unit = {
      val name = s"perfbench-${System.nanoTime()}"
      val ckpt = s"$work/ckpt-$name"
      val src = spark.readStream.format("graft-connector")
        .option("port", "0").option("name", name).option("cookie", "")
        .option("credits", (1 << 16).toString)
        .load()
      val events: Dataset[Ev] = src.select($"value").as[Array[Byte]].map { b =>
        val f = new String(b, StandardCharsets.UTF_8).split(",")
        Ev(f(0).toLong, f(1).toLong, f(2).toLong, f(3).toLong, f(4).toLong)
      }
      val windows = StatefulWindows.rangeWindows[Ev, Long, (Long, Long, Long), (Long, Long, Long)](
        events, _.key, _.ts, "ts", RangeS, DelayS,
        StatefulWindows.LatePolicy.FirePerMessage, CountSumDue)
      startMs = System.currentTimeMillis()
      val query = windows.writeStream
        .option("checkpointLocation", ckpt)
        .foreachBatch { (ds: Dataset[(Long, Long, (Long, Long, Long))], _: Long) =>
          val t0 = Harness.now()
          val rows = ds.collect()
          val recv = Harness.epochMs()
          emits.synchronized(rows.foreach { case (k, w, (c, sum, due)) =>
            emits += Emit(k, w, c, sum, due, recv)
          })
          sinkNs.synchronized(sinkNs += ((recv.toLong, Harness.now() - t0)))
          ()
        }
        .start()
      val portDeadline = System.currentTimeMillis() + 60000
      while (ConnectorRegistry.port(name).isEmpty &&
        System.currentTimeMillis() < portDeadline) Thread.sleep(5)
      val client = new AtLeastOnceClient("localhost",
        () => ConnectorRegistry.port(name).get, "", name, "w", 1L, "s", source)
      val sender = client.runInBackground()
      while (source.t0Ms == 0L && sender.isAlive) Thread.sleep(1)
      during(source.t0Ms)
      val deadline = System.currentTimeMillis() + 60000
      while (accounted < sched.n && System.currentTimeMillis() < deadline &&
        query.exception.isEmpty) Thread.sleep(5)
      client.stopped.set(true)
      query.stop()
      sender.join(10000)
      error = query.exception.map(e => String.valueOf(e.getMessage).take(300))
      Harness.deleteRecursively(ckpt)
    }

    def accounted: Long =
      emits.synchronized(emits.iterator.filter(_.key != FlushKey).map(_.count).sum)

    def out: Seq[Emit] = emits.synchronized(emits.filter(_.key != FlushKey).toSeq)

    /** Events missing from (or extra in) the outputs, by per-key count and
      * value sum against the generator's tally.
      */
    def missing: Long = {
      val want = (0 until sched.n).groupBy(i => sched.key(i)).map { case (k, ix) =>
        k -> ((ix.length.toLong, ix.map(i => sched.value(i)).sum))
      }
      val got = out.groupBy(_.key).map { case (k, es) =>
        k -> ((es.map(_.count).sum, es.map(_.sum).sum))
      }
      (want.keySet ++ got.keySet).toSeq.map { k =>
        val (wc, ws) = want.getOrElse(k, (0L, 0L))
        val (gc, gs) = got.getOrElse(k, (0L, 0L))
        if (wc != gc) math.abs(wc - gc) else if (ws != gs) 1L else 0L
      }.sum + (if (error.isDefined) 1 else 0)
    }

    /** When the last event was accounted for. */
    def doneMs: Double = {
      var acc = 0L
      out.sortBy(_.recvMs).find { e => acc += e.count; acc >= sched.n }
        .map(_.recvMs).getOrElse(Harness.epochMs())
    }
  }

  def closableMs(e: Emit): Long = (e.wStart + RangeS + DelayS) * 1000L
  /** On-time window: from the instant it became closable; late
    * singleton: from the event's due time. Both on the generator clock.
    */
  def clockMs(e: Emit): Long = math.max(closableMs(e), e.maxDue)
  def latencyMs(e: Emit): Double = e.recvMs - clockMs(e)

  def run(a: Args): Outcome = {
    val refS = math.max(WarmupS + TailS + 2.0, a.seconds * 0.6)
    val (spark, (coldSched, sched), setupTimes, buildTimes) = Harness.setup(Harness.SetupReps) { _ =>
      // the generator's inputs are part of set-up
      (new Schedule(a.seed * 2 + 1, ColdS, 0), new Schedule(a.seed * 2, refS, BurstEvents))
    }
    val progress = new Progress
    spark.streams.addListener(progress)
    val notes = ArrayBuffer.empty[String]

    // cold: a fresh pipeline in a fresh process, from start() until every
    // event of a short reference-rate schedule is accounted for
    val cold = new Stream(spark, a.work, coldSched, progress)
    cold.run(_ => ())
    val coldS = (cold.doneMs - cold.startMs) / 1000.0
    notes += s"cold: ${coldSched.n} events, complete after $coldS s"

    val probe = if (a.trace) Some(Probe.attach(spark)) else None
    val trace = new Trace
    val warm = new Stream(spark, a.work, sched, progress)
    var t0 = 0L
    var cgCount = 0L; var cgNs = 0L
    def sleepUntil(ms: Long): Unit = {
      var now = System.currentTimeMillis()
      while (now < ms) { Thread.sleep(math.min(ms - now, 20L)); now = System.currentTimeMillis() }
    }
    def burstMs = t0 + sched.burstOffsetMs
    def refFrom = t0 + (WarmupS * 1000).toLong
    // a result whose clock starts near the burst can only be closed by an
    // event sent with or after the burst, so it would wait for the burst to
    // drain: latency samples come from clocks that start before refTo
    def refTo = burstMs - (TailS * 1000).toLong
    // the traced run alternates untraced and traced slices of the step
    def slices = (refFrom until burstMs by SliceMs).map(s => (s, math.min(s + SliceMs, burstMs)))
    def tracedSlices = slices.zipWithIndex.collect { case (s, i) if i % 2 == 1 => s }
    def inTraced(ms: Double) =
      a.trace && tracedSlices.exists { case (s, e) => ms >= s && ms < e }
    warm.run { start =>
      t0 = start
      if (a.trace) tracedSlices.foreach { case (s, e) =>
        sleepUntil(s)
        progress.on = true; probe.foreach(_.on = true)
        val (c0, n0) = Probe.codegen()
        sleepUntil(e)
        val (c1, n1) = Probe.codegen()
        cgCount += c1 - c0; cgNs += n1 - n0
        probe.foreach(_.on = false); progress.on = false
      }
    }
    probe.foreach(_.drain())
    val out = warm.out
    val missing = cold.missing + warm.missing
    (cold.error.toSeq ++ warm.error.toSeq).foreach(e => notes += s"query failed: $e")
    notes += s"events ${sched.n}, emitted ${out.map(_.count).sum}, value sum ${out.map(_.sum).sum} of ${sched.valueSum}"

    val ref = out.filter(e => clockMs(e) >= refFrom && clockMs(e) < refTo)
    val untracedRef = ref.filter(e => !inTraced(clockMs(e).toDouble))
    val lat = untracedRef.map(latencyMs)
    val drainS = (warm.doneMs - burstMs) / 1000.0
    notes += s"latency ms ${Harness.quartiles(lat)}; drain s $drainS"
    notes += s"latency samples received after the burst was due: ${ref.count(_.recvMs >= burstMs)}"
    val e2e = Seq(
      Metric("setup_s", Harness.median(setupTimes), "s"),
      Metric("wall_s", drainS, "s"),
      Metric("first_wall_s", coldS, "s"),
      Metric("latency_p50_ms", Harness.median(lat), "ms"),
      Metric("peak_rss_mb", Harness.peakRssMb(), "MB"))

    val layers = probe.map { p =>
      val source = warm.source
      val refIx = (0 until sched.refN).filter(i => sched.offsetMs(i) + t0 >= refFrom)
      val genLate = refIx.map(i => (source.sentAtMs(i) - source.dueMs(i)).toDouble)
      val ackMs = refIx.filter(i => source.ackAtMs(i) > 0)
        .map(i => (source.ackAtMs(i) - source.dueMs(i)).toDouble)
      // backlog (sent, not yet acked) on a 100 ms grid over the step
      val sent = refIx.map(source.sentAtMs).sorted.toArray
      val ackd = refIx.map(i => if (source.ackAtMs(i) > 0) source.ackAtMs(i) else Long.MaxValue).sorted.toArray
      def countLe(xs: Array[Long], t: Long) = {
        val i = java.util.Arrays.binarySearch(xs, t + 1)
        if (i >= 0) i else -i - 1
      }
      val grid = (refFrom until burstMs by 100L).toSeq
      val backlog = grid.map(t => (countLe(sent, t) - countLe(ackd, t)).toDouble)
      val slope = {
        val xs = grid.map(t => (t - refFrom) / 1000.0)
        val mx = mean(xs); val my = mean(backlog)
        val num = xs.zip(backlog).map { case (x, y) => (x - mx) * (y - my) }.sum
        val den = xs.map(x => (x - mx) * (x - mx)).sum
        if (den > 0) num / den else 0.0
      }
      val overhead = {
        val u = Harness.median(untracedRef.map(latencyMs))
        if (u > 0) Harness.median(ref.filter(e => inTraced(clockMs(e).toDouble)).map(latencyMs)) / u - 1.0
        else 0.0
      }
      val ps = progress.synchronized(progress.events.toSeq)
      def dur(k: String) = ps.map { case (_, pr) =>
        Option(pr.durationMs.get(k)).map(_.toDouble).getOrElse(0.0) }
      val ops = ps.flatMap(_._2.stateOperators.headOption)
      val sinks = warm.sinkNs.synchronized(warm.sinkNs.filter { case (r, _) =>
        inTraced(r.toDouble) }.map(_._2 / 1e6).toSeq)
      val lateSingletons = out.count(e => e.count == 1 && closableMs(e) < e.maxDue)
      ps.foreach { case (endMs, pr) =>
        val trig = Option(pr.durationMs.get("triggerExecution")).map(_.toLong).getOrElse(0L)
        val id = trace.add(0, "trigger", endMs - trig, endMs, s"batch#${pr.batchId}")
        p.window(Seq((endMs - trig, endMs + 1))).jobIntervals.foreach { case (js, je) =>
          trace.add(id, "job", js, je, s"batch#${pr.batchId}")
        }
      }
      warm.sinkNs.synchronized(warm.sinkNs.toSeq).filter { case (r, _) =>
        inTraced(r.toDouble) }.foreach { case (r, ns) =>
        trace.add(0, "sink", r - ns / 1000000L, r, "sink")
      }
      val w = p.window(tracedSlices)
      Layers.spark(p, w, 1.0,
        tracedSlices.map { case (s, e) => Probe.coveredMs(w.jobIntervals, s, e) }.sum / 1000.0,
        tracedSlices.map { case (s, e) => e - s }.sum / 1000.0, cgCount, cgNs) ++ Seq(
        Metric("session.build_s", Harness.median(buildTimes), "s"),
        Metric("connector.gen_late_ms_p99", Harness.quantile(genLate, 0.99), "ms"),
        Metric("connector.ack_ms_p50", Harness.median(ackMs), "ms"),
        Metric("connector.ack_ms_p99", Harness.quantile(ackMs, 0.99), "ms"),
        Metric("connector.backlog_events", mean(backlog), "count"),
        Metric("connector.backlog_growth_eps", slope, "1/s"),
        Metric("connector.sustained_eps", (sched.n - sched.refN) / math.max(drainS, 1e-3), "1/s"),
        Metric("streaming.batches", ps.length.toDouble, "count"),
        Metric("streaming.rows_per_batch", Harness.median(ps.map(_._2.numInputRows.toDouble)), "count"),
        Metric("streaming.trigger_ms_p50", Harness.median(dur("triggerExecution")), "ms"),
        Metric("streaming.trigger_ms_p99", Harness.quantile(dur("triggerExecution"), 0.99), "ms"),
        Metric("streaming.latest_offset_ms", mean(dur("latestOffset")), "ms"),
        Metric("streaming.query_planning_ms", mean(dur("queryPlanning")), "ms"),
        Metric("streaming.add_batch_ms", mean(dur("addBatch")), "ms"),
        Metric("streaming.wal_commit_ms", mean(dur("walCommit")), "ms"),
        Metric("streaming.commit_offsets_ms", mean(dur("commitOffsets")), "ms"),
        Metric("streaming.sink_ms", mean(sinks), "ms"),
        Metric("state.rows", mean(ops.map(_.numRowsTotal.toDouble)), "count"),
        Metric("state.rows_updated", mean(ops.map(_.numRowsUpdated.toDouble)), "count"),
        Metric("state.mem_mb", ops.map(_.memoryUsedBytes / Probe.MiB).maxOption.getOrElse(0.0), "MB"),
        Metric("state.commit_ms", mean(ops.map(_.commitTimeMs.toDouble)), "ms"),
        Metric("state.update_ms", mean(ops.map(_.allUpdatesTimeMs.toDouble)), "ms"),
        Metric("state.remove_ms", mean(ops.map(_.allRemovalsTimeMs.toDouble)), "ms"),
        Metric("state.late_frac", lateSingletons.toDouble / sched.n, "ratio"),
        Metric("trace.overhead_frac", overhead, "ratio"))
    }.getOrElse(Nil)
    probe.foreach(_ => trace.write(s"${a.work}/trace-${a.workload}-${a.seed}.jsonl"))
    Outcome(coldSched.n + sched.n, missing, e2e, layers, notes.toSeq)
  }

  private def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.length
}
