package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.functions.col
import org.scalatest.Assertions._

/** Layout checks shared by the streaming-store specs: every `batch_id=`
  * tree is flat (no bucket directories) and range-clustered, and a probe's
  * bucket `isin` reaches the Parquet reader as a pushed filter.
  */
object StoreLayout {

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
}
