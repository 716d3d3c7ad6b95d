package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import java.util.concurrent.atomic.AtomicLong

/** Per-query execution-memory audit for the pair-heavy dedup family
  * (SURVEY §7f-2 / round-10 verdict item 6: the heavy rows ran ~1.5×
  * slower at 24 g driver heap than 48 g — this main measures WHERE that
  * pressure is). For each query it runs `count()` under a listener and
  * records:
  *
  *   - `peak_task_mb`: max single-task `peakExecutionMemory` (the
  *     unified-memory high-water mark of the hungriest task — the number
  *     that must fit per-core at any heap size)
  *   - `spill_mem_mb` / `spill_disk_mb`: summed shuffle/agg spill — the
  *     direct signal of execution memory not fitting
  *   - `wall_s`
  *
  * One JSON line per run to stdout + args(1); compare a
  * SPARK_DRIVER_MEM=24g run against 48g to see which queries trade
  * memory for spill and which just slow down (GC).
  *
  *   SPARK_GRAFT_CPUS=32 SPARK_DRIVER_MEM=24g \
  *     sbt "runMain graft.MemAudit <sfDir> <out.json> <q1,q2,...>"
  */
object MemAudit {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val out = args(1)
    val names = args(2).split(",").toSeq
    val cpus = GraftSession.cpus()
    val spark = GraftSession.configure(SparkSession.builder()
      .master(s"local[$cpus]"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val peak = new AtomicLong(0L)
    val spillMem = new AtomicLong(0L)
    val spillDisk = new AtomicLong(0L)
    val listener = new SparkListener {
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
        val m = t.taskMetrics
        if (m != null) {
          peak.getAndUpdate(p => math.max(p, m.peakExecutionMemory))
          spillMem.addAndGet(m.memoryBytesSpilled)
          spillDisk.addAndGet(m.diskBytesSpilled)
        }
      }
    }
    spark.sparkContext.addSparkListener(listener)
    // warm the scan/codegen path once so query 1 isn't charged for it
    SparkEntry.queries(names.head)(spark, sfDir).count()

    def mb(b: Long): Double = math.round(b / 1048.576) / 1000.0
    val rows = names.map { name =>
      peak.set(0); spillMem.set(0); spillDisk.set(0)
      val t0 = System.nanoTime()
      SparkEntry.queries(name)(spark, sfDir).count()
      val wall = (System.nanoTime() - t0) / 1e9
      // listener events are posted asynchronously; give the bus a moment
      // to drain before reading the counters (no public flush API)
      Thread.sleep(500)
      val row =
        f""""$name":{"wall_s":$wall%.3f,"peak_task_mb":${mb(peak.get)},""" +
        f""""spill_mem_mb":${mb(spillMem.get)},"spill_disk_mb":${mb(spillDisk.get)}}"""
      System.err.println(s"[memaudit] $row")
      row
    }
    val line =
      s"""{"metric":"mem_audit","driver_mem":"${sys.env.getOrElse("SPARK_DRIVER_MEM", "8g")}",""" +
      s""""cpus":$cpus,"sf":"$sfDir","queries":{${rows.mkString(",")}}}"""
    println(line)
    java.nio.file.Files.write(java.nio.file.Paths.get(out),
      (line + "\n").getBytes("UTF-8"))
    spark.stop()
  }
}
