package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession

/** Command-line arguments shared by every workload. */
final case class Args(workload: String, seed: Long, seconds: Double,
    trace: Boolean, data: String, work: String, out: String, mode: String,
    cores: Int, queries: String, certified: String)

object Args {
  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    Args(m.getOrElse("workload", ""), m.getOrElse("seed", "1").toLong,
      m.getOrElse("seconds", "10").toDouble, m.getOrElse("trace", "0") == "1",
      m("data"), m("work"), m.getOrElse("out", ""),
      m.getOrElse("mode", "run"),
      m.get("cores").map(_.toInt)
        .getOrElse(Runtime.getRuntime.availableProcessors),
      m.getOrElse("queries", ""), m.getOrElse("certified", ""))
  }
}

/** One reported metric. */
final case class Metric(name: String, value: Double, unit: String)

/** What a workload run hands back to [[Main]]. */
final case class Outcome(attempted: Long, failed: Long, endToEnd: Seq[Metric],
    perLayer: Seq[Metric], notes: Seq[String] = Nil)

object Harness {
  /** Set-ups per run; setup_s is their median. The first also pays the
    * JVM's class loading, so an odd count keeps the median on a warm one.
    */
  val SetupReps = 3

  def now(): Long = System.nanoTime()

  private val epochBaseMs = System.currentTimeMillis()
  private val nanoBase = System.nanoTime()
  /** Epoch milliseconds with sub-millisecond resolution. */
  def epochMs(): Double = epochBaseMs + (System.nanoTime() - nanoBase) / 1e6
  def secs(fromNs: Long, toNs: Long): Double = (toNs - fromNs) / 1e9

  /** The engine's own session factory: `local[SPARK_GRAFT_CPUS]` with the
    * standard tuning. The caller sets SPARK_GRAFT_CPUS to the core count.
    */
  def session(): SparkSession = graft.GraftSession.local("perfbench")

  /** Builds the session `reps` times (stopping all but the last) and runs
    * `load` after each build. Returns the live session, the last load's
    * value, the full set-up times (build + load) and the build-only times.
    */
  def setup[T](reps: Int)(load: SparkSession => T)
      : (SparkSession, T, Seq[Double], Seq[Double]) = {
    val full = ArrayBuffer.empty[Double]
    val build = ArrayBuffer.empty[Double]
    var last: Option[(SparkSession, T)] = None
    for (i <- 0 until reps) {
      last.foreach(_._1.stop())
      val t0 = now()
      val s = session()
      val t1 = now()
      val v = load(s)
      val t2 = now()
      build += secs(t0, t1); full += secs(t0, t2)
      last = Some((s, v))
    }
    val (s, v) = last.get
    (s, v, full.toSeq, build.toSeq)
  }

  /** High-water resident set size of this process, in MiB. */
  def peakRssMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024.0
  }

  def loadavg(): String =
    scala.io.Source.fromFile("/proc/loadavg").mkString.trim
      .split(" ").take(3).mkString(" ")

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile (numpy's default rule). */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val pos = q * (s.length - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.length - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  def quartiles(xs: Seq[Double]): String =
    f"p25=${quantile(xs, 0.25)}%.4f p50=${median(xs)}%.4f p75=${quantile(xs, 0.75)}%.4f n=${xs.length}"

  def deleteRecursively(path: String): Unit = {
    val p = Paths.get(path)
    if (Files.exists(p)) {
      val walk = Files.walk(p)
      try walk.sorted(java.util.Comparator.reverseOrder())
        .forEach(f => Files.delete(f))
      finally walk.close()
    }
  }

  /** (files, bytes) under a directory tree. */
  def treeSize(path: String): (Long, Long) = {
    val p = Paths.get(path)
    if (!Files.exists(p)) (0L, 0L)
    else {
      val walk = Files.walk(p)
      try {
        var n = 0L; var b = 0L
        walk.filter(f => Files.isRegularFile(f)).forEach { f =>
          n += 1; b += Files.size(f)
        }
        (n, b)
      } finally walk.close()
    }
  }
}
