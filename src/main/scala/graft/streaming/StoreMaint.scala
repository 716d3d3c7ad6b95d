package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Shared layout and maintenance for the append-only streaming stores
  * ([[StreamingDedup]], [[StreamingChunkDedup]],
  * [[StreamingSemanticDedup]]): the one tree writer they all use,
  * compaction of per-batch trees into one `batch_id=-1` tree, and the
  * cheap trigger check the auto-compaction policy polls from inside
  * `foreachBatch`.
  *
  * Layout: `batch_id=N` directories hold flat parquet files, written
  * range-partitioned and sorted by the store's hash-bucket column, which
  * is a DATA column (no `bucket=` directories). Each file covers a
  * disjoint bucket range, so a probe's `isin` on that column is a Parquet
  * pushed filter that skips files and row groups by their footer min/max
  * statistics. A tree holds at most `spark.sql.shuffle.partitions` files,
  * not one per bucket. Stores written with `bucket=` directories cannot be
  * mixed with these trees and must be rebuilt.
  *
  * Compaction preserves replay determinism: every store row carries a
  * `src_batch` DATA column (the batch that first wrote it), merged rows
  * keep `min(src_batch)` — the first batch that made the row visible — so
  * the probes' strictly-earlier filter (`src_batch < batchId`) gives a
  * late replay exactly the store view it saw the first time, regardless
  * of how many compactions ran in between.
  *
  * Each store declares its tree schema next to its writer, and its probes
  * and [[compactTree]] read with it: a read with a declared schema lists
  * the files but reads no footer and starts no Spark job. The schemas
  * leave out `batch_id`, which stays a partition column discovered from
  * the directory names.
  */
private[streaming] object StoreMaint {

  /** Whether the store tree at `dir` exists, after first finishing a
    * [[compactTree]] swap that a crash interrupted. No `dir` but both its
    * `__compacting` and `__old` trees means the crash fell between the two
    * renames; the side tree was fully written before the first of them, so
    * it is moved into place and the old tree dropped. Without this the
    * store would read as absent, and every compacted document would stop
    * being probed.
    */
  def exists(spark: SparkSession, dir: String): Boolean = {
    val p = new Path(dir)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    val (tmp, old) = sideTrees(dir)
    fs.exists(p) || (fs.exists(tmp) && fs.exists(old) && {
      if (!fs.rename(tmp, p))
        throw new java.io.IOException(s"exists: rename $tmp -> $dir failed")
      fs.delete(old, true)
      true
    })
  }

  /** The side trees of [[compactTree]]'s swap: (new tree, old tree). */
  private def sideTrees(dir: String): (Path, Path) =
    (new Path(dir + "__compacting"), new Path(dir + "__old"))

  /** Number of uncompacted per-batch trees (`batch_id=N`, N ≥ 0) under
    * `dir` — ONE directory listing, no file walk, cheap enough to run
    * after every micro-batch as the auto-compaction trigger.
    */
  def uncompactedBatches(spark: SparkSession, dir: String): Int = {
    val p = new Path(dir)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(p)) 0
    else fs.listStatus(p).count { st =>
      val n = st.getPath.getName
      st.isDirectory && n.startsWith("batch_id=") && n != "batch_id=-1"
    }
  }

  /** Write `df` as one store tree at `path` (whole-tree overwrite, so a
    * replayed batch rewrites exactly its prior output), range-partitioned
    * and sorted by `bucketCol`.
    */
  def writeTree(df: DataFrame, bucketCol: String, path: String): Unit =
    df.repartitionByRange(col(bucketCol)).sortWithinPartitions(bucketCol)
      .write.mode(SaveMode.Overwrite).parquet(path)

  /** Rewrite all of `dir`'s per-batch trees, read with the store's
    * declared `schema`, into one `batch_id=-1` tree with the same columns
    * in the same order, clustered by `bucketCol`, merging duplicate
    * `keyCols` rows to their minimum `src_batch`. Atomic: write to a side
    * dir, swap via rename (atomic on HDFS/local; for S3-like stores use
    * the manifest pattern — ManifestObjectStore — instead of dir
    * renames), then drop the old tree. A crash between the two renames is finished by the next
    * [[exists]]. Resolves through the Hadoop FileSystem the store
    * actually lives on, the same way the batch writers do.
    */
  def compactTree(spark: SparkSession, dir: String, schema: StructType,
      bucketCol: String, keyCols: Seq[String]): Unit = {
    val storePath = new Path(dir)
    val fs = storePath.getFileSystem(spark.sessionState.newHadoopConf())
    val (tmp, old) = sideTrees(dir)
    writeTree(spark.read.schema(schema).parquet(dir)
      .groupBy((keyCols :+ bucketCol).map(col): _*)
      .agg(min(col("src_batch")).as("src_batch"))
      .select(schema.fieldNames.map(col): _*),
      bucketCol, new Path(tmp, "batch_id=-1").toString)
    if (!fs.rename(storePath, old))
      throw new java.io.IOException(s"compactTree: rename $dir -> $old failed")
    if (!fs.rename(tmp, storePath))
      throw new java.io.IOException(s"compactTree: rename $tmp -> $dir failed")
    fs.delete(old, true): Unit
  }
}
