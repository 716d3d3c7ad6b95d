package graft

import java.net.URI
import java.nio.file.Files

import scala.collection.mutable

import org.apache.hadoop.fs.AbstractFileSystem
import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

import graft.api.GraftAggregation
import graft.streaming.StatefulWindows
import graft.streaming.StatefulWindows.LatePolicy

/** A streaming checkpoint written through stock Hadoop's local filesystem
  * resumes through the fork-free one, and the reverse, with the output of
  * an uninterrupted run. `FileContext`, which Spark's checkpoint file
  * manager uses, is not cached, so each session's conf decides the class.
  */
class CheckpointCompatSpec extends AnyFunSuite {
  lazy val spark: SparkSession = GraftSession.configure(
    SparkSession.builder().master("local[4]")).getOrCreate()

  private val StockFs = Seq(
    "fs.file.impl" -> "org.apache.hadoop.fs.LocalFileSystem",
    "fs.AbstractFileSystem.file.impl" -> "org.apache.hadoop.fs.local.LocalFs")

  /** Points the session's `file:` scheme at stock Hadoop or back at the
    * GraftSession default; a query takes its session's conf when it starts.
    */
  private def useStockFs(s: SparkSession, stock: Boolean): Unit =
    StockFs.foreach { case (k, v) => if (stock) s.conf.set(k, v) else s.conf.unset(k) }

  private def fileContextClass(s: SparkSession): String =
    AbstractFileSystem.get(URI.create("file:///"), s.sessionState.newHadoopConf())
      .getClass.getName

  private val countSum = new GraftAggregation[Reading, (Long, Long), (Long, Long)] {
    val name = "count_sum"
    def initialAccumulator = (0L, 0L)
    def update(in: Reading, a: (Long, Long)) = (a._1 + 1, a._2 + in.v)
    def combine(a: (Long, Long), b: (Long, Long)) = (a._1 + b._1, a._2 + b._2)
    def output(a: (Long, Long)) = a
  }

  /** Six batches shaped like `stream_windows`: skewed keys, 1 s tumbling
    * windows, 2 s delay, out-of-order and late events fired per message.
    */
  private val batches: Seq[Seq[Reading]] = {
    val r = new scala.util.Random(7)
    (0 until 6).map { b =>
      (0 until 200).map { i =>
        val k = s"k${math.min(r.nextInt(20), r.nextInt(20))}"
        val t = 1700000000L + b * 3 + r.nextInt(3) - (if (i % 10 == 0) 1 else 0) -
          (if (i % 50 == 0) 6 else 0)
        Reading(k, t, (b * 200 + i).toLong)
      }
    }
  }

  /** Runs `batches` through one query, restarting it from the same
    * checkpoint at each phase, with stock Hadoop's `file:` classes where
    * the phase says so. Returns the emitted rows, sorted.
    */
  private def run(name: String, phases: Seq[(Boolean, Range)]): Seq[(String, Long, Long, Long)] = {
    val s = spark.newSession()
    val ckpt = Files.createTempDirectory(s"ckpt-$name").toString
    val out = mutable.Map.empty[Long, Seq[(String, Long, Long, Long)]]
    implicit val sqlCtx = s.sqlContext
    import s.implicits._
    val in = MemoryStream[Reading]
    for ((stockFs, range) <- phases) {
      useStockFs(s, stockFs)
      assert(fileContextClass(s) == (if (stockFs) StockFs(1)._2
        else classOf[ForkFreeLocalFs].getName))
      val windows = StatefulWindows.rangeWindows[Reading, String, (Long, Long), (Long, Long)](
        in.toDS(), _.key, _.t, "t", 1L, 2L, LatePolicy.FirePerMessage, countSum)
      val q = windows.writeStream.option("checkpointLocation", ckpt)
        .foreachBatch { (ds: Dataset[(String, Long, (Long, Long))], id: Long) =>
          val rows = ds.collect().map { case (k, w, (c, v)) => (k, w, c, v) }.toSeq
          out.synchronized(out(id) = rows)
          ()
        }.start()
      try range.foreach { b =>
        in.addData(batches(b))
        q.processAllAvailable()
      } finally q.stop()
    }
    out.values.flatten.toSeq.sorted
  }

  test("a checkpoint resumes across stock and fork-free Hadoop, in both directions") {
    val all = 0 until batches.length
    val want = run("uninterrupted", Seq(false -> all))
    assert(want.nonEmpty && want.map(_._3).sum > 0)
    val (first, second) = all.splitAt(3)
    assert(run("stock-then-graft", Seq(true -> first, false -> second)) == want)
    assert(run("graft-then-stock", Seq(false -> first, true -> second)) == want)
  }
}
