package graft.streaming

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.StructType

/** Incremental near-dup detection over a DOCUMENT STREAM — the reference's
  * continuous-processing model applied to the LLM-pipeline dedup family:
  * each micro-batch hashes its documents once (native
  * [[graft.plans.ShingleHashes]] + [[graft.plans.MinHashAgg]] OPH
  * signatures), LSH band keys of the new docs are joined against the
  * accumulated signature store, verified near-dups are appended to a flag
  * sink, and the new signatures are appended to the store.
  *
  * Store layout (100 TB shape): TWO subtrees, each clustered by a hash
  * bucket (the [[StoreMaint]] layout: flat files per `batch_id=` tree,
  * range-partitioned and sorted by the bucket column, so every file
  * covers a disjoint bucket range).
  *
  *  - `storeDir/keys`  — (doc_id, band, bk, bucket, src_batch), with
  *    `bucket = pmod(xxhash64(band, bk), B)`. The probe pushes the batch's
  *    touched-bucket set as an `isin` Parquet filter, which skips files
  *    and row groups whose bucket min/max misses it.
  *  - `storeDir/docs`  — (doc_id, sh, dbucket, src_batch), ONE row per
  *    document, `dbucket = pmod(xxhash64(doc_id), B)`. The hashed
  *    shingle array (the heavy payload — it scales with document length)
  *    is stored once per doc, NOT duplicated across the `bands` key rows,
  *    and is fetched only for documents that actually survive the
  *    candidate join — again through an `isin` on the candidates'
  *    ≤ B distinct dbuckets.
  *
  * The bucket prune pays only for small batches: with 16 postings per doc
  * a batch of n docs leaves on average 64·(63/64)^(16n) of the 64 key
  * buckets untouched (0.4 at n = 20), so the keys probe of any larger
  * batch reads every bucket; the docs fetch, keyed by the candidates'
  * dup_ofs only, can still skip ranges. No store shuffle at any depth: the batch's KEY
  * PROJECTION (doc_id, band, bk — a few dozen bytes per posting, no
  * shingle arrays) is broadcast when the batch is small enough
  * (`maxBroadcastKeyRows`), else Spark falls back to a shuffle join for
  * that oversized batch only — the store is never collected either way.
  *
  * Replay safety: foreachBatch is at-least-once, so each batch writes its
  * flags and store rows under its own `batch_id=` partition directory with
  * whole-subdir overwrite — a replayed batch rewrites exactly its prior
  * output instead of double-appending — and the store probe reads only
  * rows originating from strictly earlier batches. The origin batch is
  * carried as a `src_batch` DATA column that [[compactStore]] preserves
  * (per row: the MINIMUM src_batch across the merged duplicates, which is
  * exactly the first batch that made the row visible), so flags stay
  * replay-deterministic even for a late replay issued after later batches
  * committed AND after any number of compactions.
  */
object StreamingDedup {

  /** Bucket count for both store subtrees: the granularity of the
    * footer-statistics prune. Buckets are values of a data column, not
    * directories, so the count costs no files or listing.
    */
  val StoreBuckets = 64

  /** Broadcast the batch's key projection only below this row count
    * (rows ≈ |batch| · bands; ~40 B/row ⇒ 4M rows ≈ 160 MB). Above it the
    * join degrades to shuffle for that batch instead of risking the 8 GB
    * broadcast ceiling / driver OOM on an unbounded micro-batch.
    */
  val maxBroadcastKeyRows = 4L * 1000 * 1000

  private def bucketOf(band: org.apache.spark.sql.Column,
      bk: org.apache.spark.sql.Column) =
    pmod(xxhash64(band, bk), lit(StoreBuckets))

  private def dbucketOf(docId: org.apache.spark.sql.Column) =
    pmod(xxhash64(docId), lit(StoreBuckets))

  /** Band keys for a (doc_id, text) batch — band layout comes from
    * [[graft.operators.Dedup.minhashBandKeys]], the same code the batch
    * LSH family uses, so store contents stay band-compatible. Returns
    * (keys: doc_id/band/bk/bucket, hashed: doc_id/sh).
    */
  private[streaming] def signatures(batch: DataFrame, numHashes: Int,
      bands: Int): (DataFrame, DataFrame) = {
    val spark = batch.sparkSession
    graft.plans.ShingleHashes.register(spark, n = 3)
    val hashed = batch.select(col("doc_id"),
      graft.plans.ShingleHashes.shingleHashes(col("text")).as("sh"))
    val keys = graft.operators.Dedup
      .minhashBandKeys(hashed.withColumnRenamed("sh", "_sh"),
        "doc_id", numHashes, bands)
      .withColumn("bucket", bucketOf(col("band"), col("bk")))
    (keys, hashed)
  }

  /** Start the incremental dedup: reads a streaming (doc_id, text) frame,
    * writes near-dup flags (doc_id, dup_of, jaccard) to `flagDir` and
    * signatures to `storeDir`. `autoCompactBatches > 0` compacts the store
    * from inside the (serialized) foreachBatch loop whenever that many
    * uncompacted per-batch trees have accumulated — the production
    * maintenance policy, no external scheduler needed.
    */
  def start(docs: DataFrame, storeDir: String, flagDir: String,
      checkpoint: String, numHashes: Int = 64, bandCount: Int = 16,
      threshold: Double = 0.5, autoCompactBatches: Int = 0): StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpoint)
      .outputMode("update")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        processBatch(batch, batchId, storeDir, flagDir, numHashes, bandCount,
          threshold)
        if (autoCompactBatches > 0 && StoreMaint.uncompactedBatches(
            batch.sparkSession, s"$storeDir/keys") >= autoCompactBatches)
          compactStore(batch.sparkSession, storeDir)
      }
      .start()

  /** File schemas of the two subtrees, as [[processBatch]] writes them;
    * the probes and [[compactStore]] read with them (see [[StoreMaint]]).
    */
  private[graft] val KeysSchema: StructType = StructType.fromDDL(
    "doc_id BIGINT, band INT, bk ARRAY<BIGINT>, bucket BIGINT, src_batch BIGINT")
  private[graft] val DocsSchema: StructType = StructType.fromDDL(
    "doc_id BIGINT, sh ARRAY<BIGINT>, dbucket BIGINT, src_batch BIGINT")

  /** One micro-batch step (factored out for direct testing). */
  def processBatch(batch: DataFrame, batchId: Long, storeDir: String,
      flagDir: String, numHashes: Int, bandCount: Int,
      threshold: Double): Unit = {
    val spark = batch.sparkSession
    val (keysDf, hashedDf) = signatures(batch, numHashes, bandCount)
    val hashed = hashedDf.persist(
      org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val keys = keysDf.persist(
      org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    var candsCache: Option[DataFrame] = None
    try {
      // ONE job answers all three pre-probe questions (empty?, broadcast
      // gate, touched buckets): per-batch fixed job count is the
      // streaming floor, so every collect here must earn its keep
      val bucketCounts = keys.groupBy(col("bucket")).count().collect()
      val nKeys = bucketCounts.map(_.getLong(1)).sum
      if (nKeys == 0) return
      // candidate pairs: new-vs-store (store doc wins as dup_of) + new-vs-new.
      // Both subtrees are checked, so an interrupted compaction swap of
      // either is finished before the probe; docs are written first, so
      // keys never exist without them
      val vsStore =
        if (StoreMaint.exists(spark, s"$storeDir/docs") &&
            StoreMaint.exists(spark, s"$storeDir/keys")) {
          // the batch's touched buckets: ≤ min(|batch|·bands, B) values —
          // bounded by StoreBuckets, safe to collect, and as a literal isin
          // a Parquet pushed filter that skips bucket ranges at the source
          val touched = bucketCounts.map(_.getLong(0))
          // only rows ORIGINATING strictly earlier (src_batch survives
          // compaction): a replayed batch must not probe its own (failed)
          // prior write, and a late replay issued after later batches
          // committed must not see them either
          val storeKeys = spark.read.schema(KeysSchema).parquet(s"$storeDir/keys")
            .filter(col("src_batch") < batchId)
            .filter(col("bucket").isin(touched: _*))
            .select(col("doc_id").as("dup_of"), col("band"), col("bk"))
          // broadcast the batch KEY PROJECTION (no shingle payload) so the
          // store side only streams — never shuffled, never collected; an
          // oversized batch falls back to a shuffle join rather than
          // risking the broadcast ceiling (ADVICE r9)
          val batchKeys = keys.select(col("doc_id"), col("band"), col("bk"))
          val probe =
            if (nKeys <= maxBroadcastKeyRows) broadcast(batchKeys)
            else batchKeys
          val cands = probe.join(storeKeys, Seq("band", "bk"))
            .filter(col("doc_id") =!= col("dup_of"))
            .select(col("doc_id"), col("dup_of")).distinct()
            .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
          candsCache = Some(cands)
          // verify fetch: shingles ONLY for store docs that appear as
          // candidates — dbuckets of the candidate dup_ofs are again ≤ B
          // distinct values, pushed to the doc tree's scan the same way
          val dbuckets = cands.select(dbucketOf(col("dup_of")).as("db"))
            .distinct().collect().map(_.getLong(0))
          val storeDocs = spark.read.schema(DocsSchema).parquet(s"$storeDir/docs")
            .filter(col("src_batch") < batchId)
            .filter(col("dbucket").isin(dbuckets: _*))
            .select(col("doc_id").as("dup_of"), col("sh").as("sh_b"))
          Some(cands.join(storeDocs, "dup_of").join(hashed, "doc_id"))
        } else None
      // within-batch: later id is the duplicate. Key self-join first,
      // shingles joined back per side only for surviving pairs.
      val newKeys = keys.select(col("doc_id").as("dup_of"), col("band"),
        col("bk"))
      val vsNew = keys.select(col("doc_id"), col("band"), col("bk"))
        .join(newKeys, Seq("band", "bk"))
        .filter(col("doc_id") > col("dup_of"))
        .select(col("doc_id"), col("dup_of")).distinct()
        .join(hashed, "doc_id")
        .join(hashed.select(col("doc_id").as("dup_of"), col("sh").as("sh_b")),
          "dup_of")
      val jac = size(array_intersect(col("sh"), col("sh_b"))).cast("double") /
        size(array_union(col("sh"), col("sh_b")))
      // best match per doc: max jaccard, ties to the smaller dup_of — kept
      // together as one struct so the reported pair is consistent
      val flagged = vsStore.fold(vsNew)(vsNew.unionByName(_))
        .withColumn("jaccard", jac)
        .filter(col("jaccard") >= threshold)
        .groupBy(col("doc_id"))
        .agg(max(struct(col("jaccard"), (-col("dup_of")).as("nd"))).as("_best"))
        .select(col("doc_id"), (-col("_best.nd")).as("dup_of"),
          col("_best.jaccard").as("jaccard"))
      // whole-subdir overwrite per batch id: replay rewrites, never appends
      // (and an empty flag batch still lands a schema'd file, so the flag
      // dir is always readable)
      flagged.write.mode(SaveMode.Overwrite)
        .parquet(s"$flagDir/batch_id=$batchId")
      // docs BEFORE keys: a posting is never visible without its payload,
      // so a crash between the two writes leaves a store that replays
      StoreMaint.writeTree(hashed.select(col("doc_id"), col("sh"))
        .withColumn("dbucket", dbucketOf(col("doc_id")))
        .withColumn("src_batch", lit(batchId)),
        "dbucket", s"$storeDir/docs/batch_id=$batchId")
      StoreMaint.writeTree(
        keys.select(col("doc_id"), col("band"), col("bk"), col("bucket"))
          .withColumn("src_batch", lit(batchId)),
        "bucket", s"$storeDir/keys/batch_id=$batchId")
    } finally {
      candsCache.foreach(_.unpersist())
      keys.unpersist(); hashed.unpersist(): Unit
    }
  }

  /** Compact the signature store: merge duplicate rows (the same document
    * re-ingested across DIFFERENT batches — same-batch replay is already
    * idempotent via the per-batch overwrite) and rewrite the accumulated
    * per-batch small files into one `batch_id=-1` tree per subtree, still
    * clustered by its bucket column. Each merged row keeps
    * `min(src_batch)` — the first batch that made it visible — so the
    * strictly-earlier probe filter keeps excluding later/own rows for a
    * late replay even after compaction.
    *
    * The rewrite is a write-to-side-dir + atomic swap; call it from a
    * maintenance point between batches (foreachBatch serializes batches,
    * so scheduling it there — see `autoCompactBatches` on [[start]] — is
    * safe).
    */
  def compactStore(spark: SparkSession, storeDir: String): Unit = {
    StoreMaint.compactTree(spark, s"$storeDir/keys", KeysSchema, "bucket",
      Seq("doc_id", "band", "bk"))
    StoreMaint.compactTree(spark, s"$storeDir/docs", DocsSchema, "dbucket",
      Seq("doc_id", "sh"))
  }
}
