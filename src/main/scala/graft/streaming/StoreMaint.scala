package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Encoders, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.StructType

/** Shared layout and maintenance for the append-only streaming stores
  * ([[StreamingDedup]], [[StreamingChunkDedup]],
  * [[StreamingSemanticDedup]]): the one tree writer they all use,
  * compaction of per-batch trees into one `batch_id=-1` tree, the
  * one-job bucket census their probes start from, the cheap trigger check
  * the auto-compaction policy polls from inside `foreachBatch`, and the
  * job descriptions that name each phase of a batch.
  *
  * Layout: `batch_id=N` directories hold flat parquet files, each sorted
  * by the store's hash-bucket column, which is a DATA column (no
  * `bucket=` directories). Each file covers a disjoint bucket range, so a
  * probe's `isin` on that column is a Parquet pushed filter that skips
  * files and row groups by their footer min/max statistics. A tree holds
  * at most `spark.sql.shuffle.partitions` files, not one per bucket.
  * Stores written with `bucket=` directories cannot be mixed with these
  * trees and must be rebuilt.
  *
  * The writer is id-partitioned: the bucket domain `[0, nBuckets)` is
  * known, so bucket `b` goes to partition `b * P / nBuckets`, a monotone
  * map with no sampling job (`repartitionByRange` sampled the data on
  * every write, one more Spark job per tree); [[writeTree]] says how P is
  * chosen. The file format and the layout invariant are unchanged, so
  * trees written by the range writer stay readable and compactable;
  * existing stores need no rebuild.
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
private[graft] object StoreMaint {

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
    * replayed batch rewrites exactly its prior output): bucket `b` of the
    * domain `[0, nBuckets)` goes to partition `b * P / nBuckets`, and each
    * partition is sorted by `bucketCol`. Two jobs (the shuffle and the
    * write), no sampling job. A value outside the domain goes to the first
    * or last partition, so the file ranges stay disjoint whatever the
    * column holds. For P = 1 the rows are coalesced into one task instead
    * of shuffled: the same one file sorted by bucket, in ONE job.
    *
    * P is the plan's estimated size over the advisory partition size
    * (`spark.sql.adaptive.advisoryPartitionSizeInBytes`), at least 1 and
    * at most `spark.sql.shuffle.partitions`: the file count AQE left the
    * range writer's output at. A fixed P = `spark.sql.shuffle.partitions`
    * wrote four files per small tree at 4 partitions, and a `stream_dedup`
    * batch on a 4-core box took about an eighth longer than with one file
    * per tree.
    */
  def writeTree(df: DataFrame, bucketCol: String, nBuckets: Int,
      path: String): Unit = {
    val conf = df.sparkSession.sessionState.conf
    val bytes = df.queryExecution.optimizedPlan.stats.sizeInBytes
    val p = (bytes / conf.getConf(SQLConf.ADVISORY_PARTITION_SIZE_IN_BYTES) + 1)
      .min(conf.numShufflePartitions).toInt
    val b = least(greatest(col(bucketCol).cast("long"), lit(0L)),
      lit(nBuckets - 1L))
    (if (p == 1) df.coalesce(1)
     else df.repartitionById(p, floor(b * p / nBuckets).cast("int")))
      .sortWithinPartitions(bucketCol)
      .write.mode(SaveMode.Overwrite).parquet(path)
  }

  /** The rows of a store read `df` that batch `batchId` may probe: those
    * that ORIGINATE strictly earlier (`src_batch`, which survives
    * compaction), so neither a replay's own prior write nor a later batch
    * is seen. The partition filter `batch_id =!= batchId` prunes the
    * batch's own directory when the scan is planned, so a flags plan that
    * overlaps the batch's store write never opens the files that write
    * deletes; every row there has `src_batch = batchId`, so the result is
    * the same.
    */
  def earlierRows(df: DataFrame, batchId: Long): DataFrame =
    df.filter(col("src_batch") < batchId).filter(col("batch_id") =!= batchId)

  /** Row count and bucket set of `df`'s `bucketCol` (values in
    * `[0, nBuckets)`), in ONE narrow job: each partition counts its rows
    * and sets one bit per bucket it holds, and the driver ORs the
    * partitions' bitsets. With no exchange in the plan, the job also fills
    * any cached frame `df` reads from, so the answer comes with the cache.
    */
  def bucketCensus(df: DataFrame, bucketCol: String,
      nBuckets: Int): (Long, Seq[Long]) = {
    val parts = df.select(col(bucketCol).cast("int")).as(Encoders.scalaInt)
      .mapPartitions { it =>
        val bits = new java.util.BitSet(nBuckets)
        var n = 0L
        it.foreach { b => bits.set(b); n += 1 }
        Iterator((n, bits.toByteArray))
      }(Encoders.tuple(Encoders.scalaLong, Encoders.BINARY)).collect()
    val held = new java.util.BitSet(nBuckets)
    parts.foreach(p => held.or(java.util.BitSet.valueOf(p._2)))
    (parts.map(_._1).sum, held.stream().toArray.toSeq.map(_.toLong))
  }

  /** Run `body` with the Spark job description `desc` (e.g.
    * `dedup batch 7: probe`), so every job it starts, the AQE stage jobs
    * included, is named by its phase; the caller's description is
    * restored afterwards.
    */
  def phase[T](spark: SparkSession, desc: String)(body: => T): T = {
    val sc = spark.sparkContext
    val caller = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription(desc)
    try body finally sc.setJobDescription(caller)
  }

  /** Rewrite all of `dir`'s per-batch trees, read with the store's
    * declared `schema`, into one `batch_id=-1` tree with the same columns
    * in the same order, clustered by `bucketCol` over the domain
    * `[0, nBuckets)` (see [[writeTree]]), merging duplicate
    * `keyCols` rows to their minimum `src_batch`. Atomic: write to a side
    * dir, swap via rename (atomic on HDFS/local; for S3-like stores use
    * the manifest pattern — ManifestObjectStore — instead of dir
    * renames), then drop the old tree. A crash between the two renames is finished by the next
    * [[exists]]. Resolves through the Hadoop FileSystem the store
    * actually lives on, the same way the batch writers do.
    */
  def compactTree(spark: SparkSession, dir: String, schema: StructType,
      bucketCol: String, nBuckets: Int, keyCols: Seq[String]): Unit = {
    val storePath = new Path(dir)
    val fs = storePath.getFileSystem(spark.sessionState.newHadoopConf())
    val (tmp, old) = sideTrees(dir)
    writeTree(spark.read.schema(schema).parquet(dir)
      .groupBy((keyCols :+ bucketCol).map(col): _*)
      .agg(min(col("src_batch")).as("src_batch"))
      .select(schema.fieldNames.map(col): _*),
      bucketCol, nBuckets, new Path(tmp, "batch_id=-1").toString)
    if (!fs.rename(storePath, old))
      throw new java.io.IOException(s"compactTree: rename $dir -> $old failed")
    if (!fs.rename(tmp, storePath))
      throw new java.io.IOException(s"compactTree: rename $tmp -> $dir failed")
    fs.delete(old, true): Unit
  }
}
