package graft.streaming

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.StructType

/** Incremental near-dup detection over a DOCUMENT STREAM — the reference's
  * continuous-processing model applied to the LLM-pipeline dedup family:
  * each micro-batch hashes its documents once into ONE cached batch frame
  * (doc_id, sh, sig) — native [[graft.plans.ShingleHashes]] and the
  * row-local OPH signature [[graft.plans.MinHashSigOf]], so the frame's
  * plan has no shuffle — LSH band keys of the new docs (a narrow explode
  * of that frame) are joined against the accumulated signature store,
  * verified near-dups are appended to a flag sink, and the new signatures
  * are appended to the store. [[processBatch]] lists the jobs of a batch.
  *
  * Store layout (100 TB shape): TWO subtrees, each clustered by a hash
  * bucket (the [[StoreMaint]] layout: flat files per `batch_id=` tree,
  * id-partitioned over the bucket domain `[0, StoreBuckets)` and sorted by
  * the bucket column, so every file covers a disjoint bucket range). The
  * file format is the one the earlier range-partitioned writer produced,
  * so stores it wrote stay readable and compactable.
  *
  *  - `storeDir/keys`  — (doc_id, band, bk, bucket, src_batch), with
  *    `bucket = pmod(xxhash64(band, bk), B)`. The probe pushes the batch's
  *    touched-bucket set as an `isin` Parquet filter, which skips files
  *    and row groups whose bucket min/max misses it.
  *  - `storeDir/docs`  — (doc_id, sh, dbucket, src_batch), ONE row per
  *    input row, `dbucket = pmod(xxhash64(doc_id), B)`. The hashed
  *    shingle array (the heavy payload — it scales with document length)
  *    is stored once per doc, NOT duplicated across the `bands` key rows,
  *    and is fetched only for documents that actually survive the
  *    candidate join — again through an `isin` on the candidates'
  *    ≤ B distinct dbuckets.
  *
  * A doc_id repeated within one batch keeps one docs row and one set of
  * postings per copy, each copy signed on its own; the probes and the
  * best-match aggregate collapse identical copies, and [[compactStore]]
  * merges them.
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

  /** The batch frame (doc_id, sh, sig) of a (doc_id, text) batch: the
    * hashed shingles ([[graft.plans.ShingleHashes]]) and their OPH
    * signature, computed row by row ([[graft.plans.MinHashSigOf]], the
    * row-local form of the batch family's [[graft.plans.MinHashAgg]]), so
    * the plan has no exchange. A row with no shingles has a null `sig`.
    */
  private[streaming] def batchFrame(batch: DataFrame, numHashes: Int): DataFrame = {
    val spark = batch.sparkSession
    graft.plans.ShingleHashes.register(spark, n = 3)
    graft.plans.MinHashSigOf.register(spark, numHashes)
    batch.select(col("doc_id"),
        graft.plans.ShingleHashes.shingleHashes(col("text")).as("sh"))
      .withColumn("sig", graft.plans.MinHashSigOf.minhashSigOf(col("sh")))
  }

  /** Band keys (doc_id, band, bk, bucket) of a [[batchFrame]]: a narrow
    * explode of its signatures through
    * [[graft.operators.Dedup.bandKeysFromSig]], the band layout the batch
    * LSH family uses, so store contents stay band-compatible.
    */
  private[streaming] def bandKeys(frame: DataFrame, numHashes: Int,
      bands: Int): DataFrame =
    graft.operators.Dedup.bandKeysFromSig(
        frame.filter(col("sig").isNotNull)
          .select(col("doc_id"), col("sig").as("_sig")),
        "doc_id", numHashes, bands)
      .withColumn("bucket", bucketOf(col("band"), col("bk")))

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

  /** One micro-batch step (factored out for direct testing).
    *
    * Job budget. Each phase runs under the job description
    * `dedup batch N: <phase>`. The counts are for small batches at 4
    * shuffle partitions; `StreamingDedupSpec` pins the totals:
    *  - `census` 1: the one narrow action, which also fills the frame's
    *    cache;
    *  - `probe` 3: the broadcast of the batch keys, the candidates' cache
    *    and their dbucket census;
    *  - `flags` 5: three broadcasts (the batch keys of the within-batch
    *    self-join, the store docs, and the batch payload, fetched once for
    *    both pair kinds), the best-match shuffle and the write;
    *  - `docs` 1 and `keys` 1 (a one-file tree, see
    *    [[StoreMaint.writeTree]]).
    * That is 11 jobs for a batch that probes a store. A batch on an empty
    * store skips `probe` and one broadcast of `flags`: 7 jobs. For a larger
    * batch AQE may pick a shuffle join where these counts assume a
    * broadcast, and a tree of several files adds its shuffle job.
    *
    * Overlap. After the probe, the flags write and the store arm (docs,
    * then keys) run at the same time ([[graft.operators.Par.both]]): each
    * writes only its own `batch_id=N` directories, and the flags plan
    * reads only store rows of earlier batches. Both arms read caches that
    * the census and the probe filled before the fork, and neither persists
    * nor unpersists anything; the caches are released after both arms
    * have finished, and a failure of either is rethrown only then.
    *
    * Own-batch prune. The store reads carry the partition filter
    * `batch_id =!= N`, which prunes that directory when the scan is
    * planned. A replayed batch's store arm overwrites (first deletes)
    * `batch_id=N` while its flags plan may still be scanning the store,
    * and the store's file listing was taken before the fork: without the
    * prune the scan would open the deleted files. Every row under
    * `batch_id=N` has `src_batch = N`, which `src_batch < N` excludes
    * anyway, so the prune changes no result.
    */
  def processBatch(batch: DataFrame, batchId: Long, storeDir: String,
      flagDir: String, numHashes: Int, bandCount: Int,
      threshold: Double): Unit = {
    val spark = batch.sparkSession
    def phase[T](name: String)(body: => T): T =
      StoreMaint.phase(spark, s"dedup batch $batchId: $name")(body)
    def earlier(schema: StructType, dir: String) =
      StoreMaint.earlierRows(spark.read.schema(schema).parquet(dir), batchId)
    // ONE cached frame per batch; the keys are a narrow explode of it
    val frame = batchFrame(batch, numHashes)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val keys = bandKeys(frame, numHashes, bandCount)
    val hashed = frame.select(col("doc_id"), col("sh"))
    var candsCache: Option[DataFrame] = None
    try {
      // ONE narrow job answers all three pre-probe questions (empty?,
      // broadcast gate, touched buckets) and fills the frame's cache:
      // per-batch fixed job count is the streaming floor, so every
      // collect here must earn its keep
      val (nKeys, touched) =
        phase("census")(StoreMaint.bucketCensus(keys, "bucket", StoreBuckets))
      if (nKeys == 0) return
      // candidate pairs: new-vs-store (store doc wins as dup_of) + new-vs-new.
      // Both subtrees are checked, so an interrupted compaction swap of
      // either is finished before the probe; docs are written first, so
      // keys never exist without them
      val vsStore =
        if (StoreMaint.exists(spark, s"$storeDir/docs") &&
            StoreMaint.exists(spark, s"$storeDir/keys")) phase("probe") {
          // the batch's touched buckets (≤ StoreBuckets values) as a
          // literal isin: a Parquet pushed filter that skips bucket ranges
          // at the source. Only rows ORIGINATING strictly earlier
          // (src_batch survives compaction): a replayed batch must not
          // probe its own (failed) prior write, and a late replay issued
          // after later batches committed must not see them either
          val storeKeys = earlier(KeysSchema, s"$storeDir/keys")
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
          // no distinct: a pair that meets in several bands repeats, and
          // the flags' best-match aggregate collapses the repeats
          val cands = probe.join(storeKeys, Seq("band", "bk"))
            .filter(col("doc_id") =!= col("dup_of"))
            .select(col("doc_id"), col("dup_of"))
            .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
          candsCache = Some(cands)
          // verify fetch: shingles ONLY for store docs that appear as
          // candidates — their dbuckets are again ≤ B values, pushed to
          // the doc tree's scan the same way; the census fills the
          // candidates' cache in the same job
          val (nCands, dbuckets) = StoreMaint.bucketCensus(
            cands.select(dbucketOf(col("dup_of")).as("db")), "db", StoreBuckets)
          if (nCands == 0) None
          else {
            val storeDocs = earlier(DocsSchema, s"$storeDir/docs")
              .filter(col("dbucket").isin(dbuckets: _*))
              .select(col("doc_id").as("dup_of"), col("sh").as("sh_k"))
            // the batch document's payload is fetched below
            Some(cands.join(storeDocs, "dup_of")
              .select(col("doc_id"), col("dup_of"), col("sh_k"),
                col("doc_id").as("fid")))
          }
        } else None
      // within-batch: later id is the duplicate. A key self-join whose
      // streamed side is exploded from the frame with each document's
      // shingles riding along, so only the dup_of side is fetched below.
      // No distinct, as for the store candidates
      val newKeys = keys.select(col("doc_id").as("dup_of"), col("band"),
        col("bk"))
      val vsNew = graft.operators.Dedup.bandKeysFromSig(
          frame.filter(col("sig").isNotNull)
            .select(struct(col("doc_id"), col("sh")).as("_doc"),
              col("sig").as("_sig")), "_doc", numHashes, bandCount)
        .join(newKeys, Seq("band", "bk"))
        .filter(col("_doc.doc_id") > col("dup_of"))
        .select(col("_doc.doc_id").as("doc_id"), col("dup_of"),
          col("_doc.sh").as("sh_k"), col("dup_of").as("fid"))
      // both pair kinds carry one payload (`sh_k`) and miss that of a
      // batch document (`fid`): ONE join with the batch frame fetches it,
      // so the batch payload is broadcast once. Jaccard is symmetric, so
      // which side is which does not matter
      val jac = size(array_intersect(col("sh_k"), col("sh_f"))).cast("double") /
        size(array_union(col("sh_k"), col("sh_f")))
      // best match per doc: max jaccard, ties to the smaller dup_of — kept
      // together as one struct so the reported pair is consistent
      val flagged = vsStore.fold(vsNew)(vsNew.unionByName(_))
        .join(hashed.select(col("doc_id").as("fid"), col("sh").as("sh_f")), "fid")
        .withColumn("jaccard", jac)
        .filter(col("jaccard") >= threshold)
        .groupBy(col("doc_id"))
        .agg(max(struct(col("jaccard"), (-col("dup_of")).as("nd"))).as("_best"))
        .select(col("doc_id"), (-col("_best.nd")).as("dup_of"),
          col("_best.jaccard").as("jaccard"))
      // the flags write and the store arm overlap (see the scaladoc):
      // whole-subdir overwrite per batch id, so a replay rewrites, never
      // appends (and an empty flag batch still lands a schema'd file, so
      // the flag dir is always readable)
      graft.operators.Par.both(
        phase("flags")(flagged.write.mode(SaveMode.Overwrite)
          .parquet(s"$flagDir/batch_id=$batchId")), {
        // docs BEFORE keys: a posting is never visible without its
        // payload, so a crash between the two writes leaves a store that
        // replays
        phase("docs")(StoreMaint.writeTree(hashed
          .withColumn("dbucket", dbucketOf(col("doc_id")))
          .withColumn("src_batch", lit(batchId)),
          "dbucket", StoreBuckets, s"$storeDir/docs/batch_id=$batchId"))
        phase("keys")(StoreMaint.writeTree(
          keys.withColumn("src_batch", lit(batchId)),
          "bucket", StoreBuckets, s"$storeDir/keys/batch_id=$batchId"))
      })
    } finally {
      candsCache.foreach(_.unpersist())
      frame.unpersist(): Unit
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
    * safe). The two subtrees are compacted at the same time
    * ([[graft.operators.Par.both]]), each with its own swap, which
    * [[StoreMaint.exists]] finishes if a crash interrupts it.
    */
  def compactStore(spark: SparkSession, storeDir: String): Unit =
    graft.operators.Par.both(
      StoreMaint.phase(spark, "dedup compaction: keys")(
        StoreMaint.compactTree(spark, s"$storeDir/keys", KeysSchema, "bucket",
          StoreBuckets, Seq("doc_id", "band", "bk"))),
      StoreMaint.phase(spark, "dedup compaction: docs")(
        StoreMaint.compactTree(spark, s"$storeDir/docs", DocsSchema, "dbucket",
          StoreBuckets, Seq("doc_id", "sh")))): Unit
}
