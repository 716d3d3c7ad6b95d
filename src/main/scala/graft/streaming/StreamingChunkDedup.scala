package graft.streaming

import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.StructType

/** Incremental CHUNK-level dedup over a document stream — the streaming
  * twin of [[graft.operators.Chunking]]: each micro-batch splits its
  * documents with the content-defined chunker (native
  * [[graft.plans.ChunkHashes]]), reports per document how much of its
  * content already exists (in the accumulated chunk store OR earlier in
  * the same batch), and appends the new chunk hashes to the store.
  *
  * Scale shape: per batch the work is O(batch) chunking + one equi-join
  * against the store keyed on the 60-bit chunk hash. The store is parquet
  * clustered by the data column `hb = pmod(h, Buckets)` (the
  * [[StoreMaint]] layout); the batch's chunk hashes touch at most
  * `min(|batch chunks|, Buckets)` of those buckets, and the probe pushes
  * that touched set as an `isin` Parquet filter that skips files and row
  * groups by their `hb` min/max (same discipline as [[StreamingDedup]] /
  * [[StreamingSemanticDedup]]). The batch side of the probe is broadcast
  * only while it is provably small (`maxBroadcastChunkRows`); an
  * unbounded micro-batch falls back to a shuffle join instead of risking
  * the broadcast ceiling. No old document is ever re-chunked.
  *
  * Replay safety: foreachBatch is at-least-once, so every write is keyed
  * on the batch id with whole-subdir overwrite — a replayed batch
  * rewrites exactly its own `batch_id=` tree instead of double-appending
  * report rows / store chunks. Store rows carry their origin batch as a
  * `src_batch` DATA column that [[compactStore]] preserves (min across
  * merged duplicates), so probe reads exclude later/own batches' chunks
  * even after compaction and the report stays replay-deterministic.
  */
object StreamingChunkDedup {

  private val Buckets = 64

  /** Broadcast ceiling for the batch's (doc_id, h) probe side. */
  val maxBroadcastChunkRows = 4L * 1000 * 1000

  def start(docs: DataFrame, storeDir: String, flagDir: String,
      checkpoint: String, autoCompactBatches: Int = 0): StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpoint)
      .outputMode("update")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        processBatch(batch, batchId, storeDir, flagDir)
        if (autoCompactBatches > 0 && StoreMaint.uncompactedBatches(
            batch.sparkSession, storeDir) >= autoCompactBatches)
          compactStore(batch.sparkSession, storeDir)
      }
      .start()

  /** File schema of the store trees, as [[processBatch]] writes them; the
    * probe and [[compactStore]] read with it (see [[StoreMaint]]).
    */
  private[graft] val StoreSchema: StructType =
    StructType.fromDDL("h BIGINT, hb BIGINT, src_batch BIGINT")

  /** One micro-batch step (factored out for direct testing). */
  def processBatch(batch: DataFrame, batchId: Long, storeDir: String,
      flagDir: String): Unit = {
    val spark = batch.sparkSession
    def phase[T](name: String)(body: => T): T =
      StoreMaint.phase(spark, s"chunk dedup batch $batchId: $name")(body)
    graft.plans.ChunkHashes.register(spark, k = 8, modulus = 64)
    val ch = batch.select(col("doc_id"), explode(array_distinct(
        graft.plans.ChunkHashes.chunkHashes(col("text")))).as("h"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // one narrow job answers empty?, the broadcast gate, and the touched
      // buckets, and fills the cache (per-batch fixed job count is the
      // streaming floor)
      val (nChunks, touched) = phase("census")(StoreMaint.bucketCensus(
        ch.select(pmod(col("h"), lit(Buckets)).as("hb")), "hb", Buckets))
      if (nChunks == 0) return
      val storeHits =
        if (StoreMaint.exists(spark, storeDir)) {
          // ≤ Buckets values, as a literal isin a Parquet pushed filter
          // that skips hb ranges at the source
          // only chunks ORIGINATING strictly earlier (src_batch survives
          // compaction): a replayed batch must not see its own (failed)
          // prior write, nor later batches' chunks; the own-batch prune
          // lets the report overlap the store write
          val st = StoreMaint.earlierRows(
              spark.read.schema(StoreSchema).parquet(storeDir), batchId)
            .filter(col("hb").isin(touched: _*))
            .select(col("h")).distinct()
          val probe =
            if (nChunks <= maxBroadcastChunkRows) broadcast(ch) else ch
          Some(probe.join(st, "h"))
        } else None
      // within-batch: a chunk counts as duplicated for every doc after
      // its first (smallest-id) owner in this batch
      val owners = ch.groupBy(col("h")).agg(min(col("doc_id")).as("first_owner"))
      val batchHits = ch.join(owners, "h")
        .filter(col("doc_id") > col("first_owner"))
        .select(col("doc_id"), col("h"))
      val dups = storeHits.fold(batchHits)(batchHits.unionByName(_)).distinct()
      val report = ch.groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_chunks"))
        .join(dups.groupBy(col("doc_id")).agg(count(lit(1)).as("n_dup")),
          Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_chunks"),
          coalesce(col("n_dup"), lit(0L)).as("n_dup_chunks"))
      // the report and the store write overlap, as in StreamingDedup:
      // both read only the cache the census filled, and neither persists
      // or unpersists anything
      graft.operators.Par.both(
        phase("report")(report.write.mode(SaveMode.Overwrite)
          .parquet(s"$flagDir/batch_id=$batchId")),
        phase("store")(StoreMaint.writeTree(ch.select(col("h")).distinct()
          .select(col("h"), pmod(col("h"), lit(Buckets)).as("hb"))
          .withColumn("src_batch", lit(batchId)),
          "hb", Buckets, s"$storeDir/batch_id=$batchId")))
    } finally ch.unpersist()
  }

  /** Compact the chunk store: merge cross-batch duplicate hashes (keeping
    * the earliest `src_batch` — see [[StoreMaint.compactTree]]) and
    * rewrite the per-batch trees into one `batch_id=-1` tree clustered
    * by `hb`, so probes keep pruning at the source as batches accumulate.
    */
  def compactStore(spark: org.apache.spark.sql.SparkSession,
      storeDir: String): Unit =
    StoreMaint.phase(spark, "chunk dedup compaction")(
      StoreMaint.compactTree(spark, storeDir, StoreSchema, "hb", Buckets, Seq("h")))
}
