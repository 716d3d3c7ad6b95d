package perfbench

import java.io.PrintWriter
import java.nio.file.{Files, Paths}
import java.util.concurrent.{Executors, TimeUnit}

import scala.collection.mutable.ArrayBuffer
import scala.util.hashing.MurmurHash3

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.StructType

/** Order-independent fingerprint of a query result: the wrapping sum of a
  * 64-bit hash of each row's canonical text.
  */
object Fingerprint {
  def of(rows: Array[Row]): Long = rows.foldLeft(0L)((acc, r) => acc + row(r))

  private def row(r: Row): Long = {
    val s = canon(r)
    (MurmurHash3.stringHash(s, 17).toLong << 32) |
      (MurmurHash3.stringHash(s, 31) & 0xffffffffL)
  }

  private def canon(v: Any): String = v match {
    case null => "∅"
    case r: Row => r.toSeq.map(canon).mkString("(", "\u0001", ")")
    case b: Array[Byte] => b.mkString("b[", ",", "]")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => canon(k) + "->" + canon(x) }.sorted
        .mkString("{", "\u0001", "}")
    case a: scala.collection.Seq[_] => a.map(canon).mkString("[", "\u0001", "]")
    case d: java.math.BigDecimal => d.toPlainString
    case other => other.toString
  }
}

/** The batch workload: a closed loop over a fixed list of
  * `SparkEntry.queries` entries, one query at a time. The first pass is
  * the cold one and runs in the listed order; later passes are warm and
  * run in a seeded order that is reshuffled every pass. Each timed operation runs the query function (the
  * build: eager gates, checkpoints and driver-local cores run here) and
  * then `collect()`, which materialises every output column on the
  * driver. Correctness is checked outside the timed region against the
  * certified row count and fingerprint.
  */
object Catalog {
  type Query = (SparkSession, String) => DataFrame

  final case class Exec(q: String, family: String, pass: Int, traced: Boolean,
      startMs: Long, buildEndMs: Long, endMs: Long, buildS: Double,
      wallS: Double, ok: Boolean, cgCount: Long, cgNs: Long)

  val QueryTimeoutS = 60L

  /** Runs one query; returns (build s, wall s, rows or the error). */
  def execute(spark: SparkSession, dir: String, fn: Query)
      : (Double, Double, Long, Long, Long, Either[String, (Array[Row], StructType)]) = {
    val watchdog = Executors.newSingleThreadScheduledExecutor()
    val cancel = watchdog.schedule(new Runnable {
      def run(): Unit = spark.sparkContext.cancelAllJobs()
    }, QueryTimeoutS, TimeUnit.SECONDS)
    val startMs = System.currentTimeMillis()
    val t0 = Harness.now()
    var t1 = t0
    try {
      val df = fn(spark, dir)
      t1 = Harness.now()
      val rows = df.collect()
      val t2 = Harness.now()
      (Harness.secs(t0, t1), Harness.secs(t0, t2), startMs,
        startMs + (t1 - t0) / 1000000L, startMs + (t2 - t0) / 1000000L,
        Right((rows, df.schema)))
    } catch {
      case e: Throwable =>
        val t2 = Harness.now()
        (Harness.secs(t0, t1), Harness.secs(t0, t2), startMs,
          startMs + (t1 - t0) / 1000000L, startMs + (t2 - t0) / 1000000L,
          Left(s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(200)}"))
    } finally { cancel.cancel(false); watchdog.shutdownNow() }
  }

  private def readTsv(path: String): Seq[Array[String]] =
    scala.io.Source.fromFile(path).getLines().filter(_.nonEmpty)
      .map(_.split("\t")).toSeq

  /** Opens every input table (file listing and parquet footer): the
    * "input load" part of set-up. Reading the rows is part of each query.
    */
  private def loadInputs(spark: SparkSession, dir: String): Unit =
    graft.sources.Sources.tableNames.foreach { t =>
      graft.sources.Sources.table(spark, dir, t).schema
    }

  def run(a: Args): Outcome = {
    val list = readTsv(a.queries).map(r => (r(0), r(1)))
    val cert = readTsv(a.certified).map(r => r(0) -> (r(1).toLong, r(2).toLong)).toMap
    val all = graft.SparkEntry.queries
    val (spark, _, setupTimes, buildTimes) =
      Harness.setup(Harness.SetupReps)(s => loadInputs(s, a.data))
    val probe = if (a.trace) Some(Probe.attach(spark)) else None
    val trace = new Trace
    val rng = new scala.util.Random(a.seed)
    val execs = ArrayBuffer.empty[Exec]
    val notes = ArrayBuffer.empty[String]
    val minPasses = if (a.trace) 4 else 2
    val deadline = Harness.now() + (a.seconds * 1e9).toLong
    var pass = 0
    var lastPassNs = 0L
    // a pass starts only if one more of the last pass's length still ends
    // before the deadline, so runs keep to --seconds
    while (pass < minPasses || Harness.now() + lastPassNs < deadline) {
      val passStart = Harness.now()
      // trace mode alternates untraced and traced warm passes; the cold
      // pass and every other warm pass stay untraced
      val traced = a.trace && pass > 0 && pass % 2 == 0
      probe.foreach { p => p.drain(); p.on = traced }
      // the cold pass runs in the listed order, so first_wall_s does not
      // depend on which query happens to pay the process's warm-up
      (if (pass == 0) list else rng.shuffle(list)).foreach { case (q, fam) =>
        val (cg0, cgNs0) = Probe.codegen()
        val (bs, ws, s, be, e, res) = execute(spark, a.data, all(q))
        val (cg1, cgNs1) = Probe.codegen()
        val ok = res match {
          case Right((rows, _)) =>
            val got = (rows.length.toLong, Fingerprint.of(rows))
            val want = cert.get(q)
            if (want.contains(got)) true
            else { notes += s"$q pass $pass: got rows/fp $got, certified $want"; false }
          case Left(err) => notes += s"$q pass $pass: $err"; false
        }
        execs += Exec(q, fam, pass, traced, s, be, e, bs, ws, ok,
          cg1 - cg0, cgNs1 - cgNs0)
      }
      pass += 1
      lastPassNs = Harness.now() - passStart
    }
    probe.foreach(_.drain())
    val rdds = spark.sparkContext.getPersistentRDDs.size
    val untracedWarm = execs.filter(x => x.pass > 0 && !x.traced)
    def medBy(xs: Seq[Exec]): Map[String, Double] =
      xs.groupBy(_.q).map { case (q, g) => q -> Harness.median(g.map(_.wallS)) }
    val warmMed = medBy(untracedWarm.toSeq)
    val cold = execs.filter(_.pass == 0)
    val perQuery = warmMed.values.toSeq
    notes += s"setup_s ${Harness.quartiles(setupTimes)}"
    notes += s"per-query warm wall s ${Harness.quartiles(perQuery)}"
    notes += s"passes $pass, executions ${execs.length}"
    notes += "cold s: " + cold.map(x => f"${x.q} ${x.wallS}%.2f").mkString(", ")
    notes += "warm median s: " + list.map { case (q, _) => f"$q ${warmMed.getOrElse(q, 0.0)}%.2f" }.mkString(", ")
    val e2e = Seq(
      Metric("setup_s", Harness.median(setupTimes), "s"),
      Metric("wall_s", perQuery.sum, "s"),
      Metric("first_wall_s", cold.map(_.wallS).sum, "s"),
      Metric("latency_p50_ms", Harness.median(perQuery) * 1000, "ms"),
      Metric("peak_rss_mb", Harness.peakRssMb(), "MB"))
    val layers = probe.map { p =>
      layerMetrics(p, trace, execs.toSeq, warmMed, buildTimes, rdds)
    }.getOrElse(Nil)
    probe.foreach(_ => trace.write(s"${a.work}/trace-${a.workload}-${a.seed}.jsonl"))
    Outcome(execs.length, execs.count(!_.ok), e2e, layers, notes.toSeq)
  }

  val Families: Seq[String] = Seq("relational", "graph", "eval", "vector", "dedup")

  private def layerMetrics(p: Probe, trace: Trace, execs: Seq[Exec],
      warmMed: Map[String, Double], buildTimes: Seq[Double],
      rdds: Int): Seq[Metric] = {
    val traced = execs.filter(_.traced)
    val untraced = execs.filter(x => x.pass > 0 && !x.traced)
    val passes = math.max(1, traced.map(_.pass).distinct.length)
    def perPass(x: Double) = x / passes
    val w = p.window(traced.map(x => (x.startMs, x.endMs + 1)))
    // spans: operation > build / collect > the jobs and planning phases
    // that start inside each
    traced.foreach { x =>
      val op = s"${x.q}#${x.pass}"
      val id = trace.add(0, "op", x.startMs, x.endMs, op)
      val build = trace.add(id, "build", x.startMs, x.buildEndMs, op)
      val collect = trace.add(id, "collect", x.buildEndMs, x.endMs, op)
      def under(startMs: Long) = if (startMs <= x.buildEndMs) build else collect
      val wx = p.window(Seq((x.startMs, x.endMs + 1)))
      wx.jobIntervals.foreach { case (s, e) => trace.add(under(s), "job", s, e, op) }
      wx.plans.foreach(pl => trace.add(under(pl.startMs), "plan", pl.startMs, pl.endMs, op))
    }
    val jobSpanS = traced.map(x =>
      Probe.coveredMs(w.jobIntervals, x.startMs, x.endMs + 1) / 1000.0).sum
    val buildJobs = traced.map(x =>
      w.jobIntervals.count { case (s, _) => s >= x.startMs && s <= x.buildEndMs }).sum
    val buildNoJobS = traced.map(x => math.max(0.0, x.buildS -
      Probe.coveredMs(w.jobIntervals, x.startMs, x.buildEndMs + 1) / 1000.0)).sum
    val wallS = traced.map(_.wallS).sum
    val overhead = {
      val tm = traced.groupBy(_.q).map { case (q, g) => q -> Harness.median(g.map(_.wallS)) }
      val um = untraced.groupBy(_.q).map { case (q, g) => q -> Harness.median(g.map(_.wallS)) }
      val common = tm.keySet.intersect(um.keySet).toSeq
      val u = common.map(um).sum
      if (u > 0) common.map(tm).sum / u - 1.0 else 0.0
    }
    val selfS = trace.selfTimes
    val fam = Families.flatMap { f =>
      val qs = execs.filter(_.family == f).map(_.q).distinct
      Seq(Metric(s"family.$f.wall_s", qs.flatMap(warmMed.get).sum, "s"),
        Metric(s"family.$f.build_s", perPass(traced.filter(_.family == f)
          .map(_.buildS).sum), "s"))
    }
    Layers.spark(p, w, passes, jobSpanS, wallS, traced.map(_.cgCount).sum,
      traced.map(_.cgNs).sum) ++ Seq(
      Metric("session.build_s", Harness.median(buildTimes), "s"),
      Metric("operators.build_s", perPass(traced.map(_.buildS).sum), "s"),
      Metric("operators.build_jobs", perPass(buildJobs), "count"),
      Metric("operators.build_nojob_s", perPass(buildNoJobS), "s"),
      Metric("spark.rdds_left", rdds.toDouble, "count"),
      Metric("trace.collect_self_s", perPass(selfS.getOrElse("collect", 0.0)), "s"),
      Metric("trace.overhead_frac", overhead, "ratio")) ++ fam
  }

  /** Certification pass: runs each listed query twice on the data and
    * writes (a) its result as parquet plus the DuckDB oracle SQL, in the
    * layout `tools/oracle_check.py` compares, and (b) one TSV line per
    * query: name, rows, fingerprint, whether both runs agreed, cold and
    * warm seconds, build seconds, error.
    */
  def certify(a: Args): Unit = {
    val names = readTsv(a.queries).map(_(0))
    val spark = Harness.session()
    loadInputs(spark, a.data)
    val outDir = s"${a.work}/certify"
    Files.createDirectories(Paths.get(outDir))
    val w = new PrintWriter(a.out)
    try names.foreach { q =>
      val fn = graft.SparkEntry.queries(q)
      val (b1, w1, _, _, _, r1) = execute(spark, a.data, fn)
      val (_, w2, _, _, _, r2) = execute(spark, a.data, fn)
      val line = (r1, r2) match {
        case (Right((x, schema)), Right((y, _))) =>
          val fp = Fingerprint.of(x)
          spark.createDataFrame(spark.sparkContext.parallelize(x.toSeq, 1), schema)
            .write.mode("overwrite").parquet(s"$outDir/$q")
          s"$q\t${x.length}\t$fp\t${fp == Fingerprint.of(y) && x.length == y.length}\t$w1\t$w2\t$b1\t"
        case (Left(e), _) => s"$q\t-1\t0\tfalse\t$w1\t$w2\t$b1\t$e"
        case (_, Left(e)) => s"$q\t-1\t0\tfalse\t$w1\t$w2\t$b1\t$e"
      }
      w.println(line); w.flush()
      System.err.println(s"[certify] $line")
    } finally w.close()
    val oracle = graft.SparkEntry.oracleSql.filter { case (k, _) => names.contains(k) }
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), Json.obj(oracle))
    spark.stop()
  }
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def obj(m: Iterable[(String, String)]): String =
    m.map { case (k, v) => s"${str(k)}: ${str(v)}" }.mkString("{", ", ", "}")
}
