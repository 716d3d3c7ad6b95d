package graft

import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}
import scala.jdk.CollectionConverters._
import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.Assertions._

/** Layout checks shared by the streaming-store specs: every `batch_id=`
  * tree is flat (no bucket directories), its files cover disjoint bucket
  * ranges, a probe's bucket `isin` reaches the Parquet reader as a
  * pushed filter, and a batch's own directory is pruned from its store
  * scans.
  */
object StoreLayout extends AdaptiveSparkPlanHelper {

  /** `tree` holds at least one but at most `spark.sql.shuffle.partitions`
    * parquet files, all at its top level (no bucket subdirectories).
    */
  def assertFlatTree(spark: SparkSession, tree: String): Unit = {
    val root = new java.io.File(tree)
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) Option(f.listFiles).toSeq.flatten.flatMap(walk) else Seq(f)
    val files = walk(root).filter(_.getName.endsWith(".parquet"))
    val limit = spark.conf.get("spark.sql.shuffle.partitions").toInt
    assert(files.nonEmpty && files.size <= limit,
      s"$tree holds ${files.size} data files, limit $limit")
    val nested = files.map(_.getParentFile).filter(_ != root).distinct
    assert(nested.isEmpty, s"$tree has data files in subdirectories: $nested")
  }

  /** Runs `body` with a 64-byte advisory partition size, so that the
    * store writers split even a tree of a few rows into several files.
    */
  def withSmallFiles[T](spark: SparkSession)(body: => T): T = {
    val key = "spark.sql.adaptive.advisoryPartitionSizeInBytes"
    val caller = spark.conf.getOption(key)
    spark.conf.set(key, "64b")
    try body finally caller.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  /** The files of `tree` cover disjoint `bucketCol` ranges: the min/max
    * of each file, read from its Parquet footer's row-group statistics,
    * overlap no other file's. Returns the ranges, sorted.
    */
  def assertDisjointRanges(spark: SparkSession, tree: String,
      bucketCol: String): Seq[(Long, Long)] = {
    val conf = spark.sessionState.newHadoopConf()
    val files = Option(new java.io.File(tree).listFiles).toSeq.flatten
      .filter(_.getName.endsWith(".parquet"))
    val ranges = files.flatMap { f =>
      val reader = ParquetFileReader.open(
        HadoopInputFile.fromPath(new Path(f.toURI), conf))
      val stats =
        try reader.getFooter.getBlocks.asScala.toSeq.flatMap(_.getColumns.asScala
          .filter(_.getPath.toDotString == bucketCol).map(_.getStatistics))
        finally reader.close()
      val held = stats.filter(s => s.hasNonNullValue)
      if (held.isEmpty) None // an empty tree's schema-only file
      else Some((held.map(_.genericGetMin.asInstanceOf[Number].longValue).min,
        held.map(_.genericGetMax.asInstanceOf[Number].longValue).max))
    }.sorted
    assert(ranges.nonEmpty, s"$tree: no file holds a $bucketCol value")
    ranges.zip(ranges.drop(1)).foreach { case ((_, hi), (lo, _)) =>
      assert(hi < lo, s"$tree: overlapping $bucketCol ranges $ranges")
    }
    ranges
  }

  /** A probe of `store` on `bucketCol isin values` carries the predicate in
    * its scan's PushedFilters and returns exactly the rows of an
    * unfiltered read filtered afterwards. Returns the probe's row count.
    */
  def assertPushedProbe(spark: SparkSession, store: String,
      bucketCol: String, values: Seq[Long]): Int = {
    val probe = spark.read.parquet(store).filter(col(bucketCol).isin(values: _*))
    val scans = probe.queryExecution.executedPlan.collect {
      case s: FileSourceScanExec => s
    }
    assert(scans.size == 1, probe.queryExecution.executedPlan.toString)
    val pushed = scans.head.metadata.getOrElse("PushedFilters", "")
    assert(pushed.contains(s"($bucketCol,"), s"PushedFilters: $pushed")
    val got = probe.collect().toSeq
    val all = spark.read.parquet(store).collect().toSeq
    val want = all.filter(r => values.contains(r.getAs[Long](bucketCol)))
    assert(got.groupBy(identity).view.mapValues(_.size).toMap ==
      want.groupBy(identity).view.mapValues(_.size).toMap,
      s"pruned read ${got.size} rows, filtered full read ${want.size} rows")
    got.size
  }

  /** The executed plans of the queries that `body` runs, on any thread.
    * The listener keeps the plans between a start and an end marker
    * query: a listener sees its events in the order they were posted, so
    * a query that finished before the start marker (whose event may still
    * be queued when the listener registers) is never kept, and once the
    * end marker is seen, every plan of `body` is in.
    */
  def plansOf(spark: SparkSession)(body: => Unit): Seq[SparkPlan] = {
    val token = s"plans_of_${System.nanoTime}"
    val plans = new ConcurrentLinkedQueue[SparkPlan]
    val endSeen = new CountDownLatch(1)
    @volatile var keeping = false
    val listener = new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        qe.analyzed.output.map(_.name) match {
          case Seq(n) if n == s"${token}_start" => keeping = true
          case Seq(n) if n == s"${token}_end" =>
            keeping = false; endSeen.countDown()
          case _ => if (keeping) plans.add(qe.executedPlan): Unit
        }
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    def marker(tag: String): Unit =
      spark.range(1).select(lit(1).as(s"${token}_$tag")).collect(): Unit
    spark.listenerManager.register(listener)
    try {
      marker("start")
      body
      marker("end")
      assert(endSeen.await(30, TimeUnit.SECONDS), "end marker query never seen")
    } finally spark.listenerManager.unregister(listener)
    plans.asScala.toSeq
  }

  /** The file scans of `plan`: through adaptive stages, subqueries and
    * the plans of the cached relations it reads.
    */
  private def fileScans(plan: SparkPlan): Seq[FileSourceScanExec] =
    collectWithSubqueries(plan) {
      case s: FileSourceScanExec => Seq(s)
      case m: InMemoryTableScanExec => fileScans(m.relation.cachedPlan)
    }.flatten

  /** Every scan of the store tree `tree` in `plans` prunes the directory
    * `batch_id=<batchId>` when it is planned: the scan's partition
    * filters, applied to the file listing it was planned from, keep none
    * of that directory's files, so none is opened. Returns the number of
    * scans whose listing held such files (a replay's scans do).
    */
  def assertOwnBatchPruned(plans: Seq[SparkPlan], tree: String,
      batchId: Long): Int = {
    val own = s"/batch_id=$batchId/"
    val scans = plans.flatMap(fileScans).filter(
      _.relation.location.rootPaths.exists(_.toUri.getPath == tree))
    def listed(s: FileSourceScanExec, pruned: Boolean) =
      s.relation.location.listFiles(if (pruned) s.partitionFilters else Nil, Nil)
        .flatMap(_.files).map(_.getPath.toString).filter(_.contains(own))
    scans.foreach { s =>
      assert(listed(s, pruned = true).isEmpty,
        s"$tree scanned without the batch_id=$batchId prune: ${s.partitionFilters}")
    }
    scans.count(listed(_, pruned = false).nonEmpty)
  }
}
