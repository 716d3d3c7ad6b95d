package graft.streaming

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.{DataType, StructType}

/** Incremental SEMANTIC near-dup detection over an EMBEDDING STREAM — the
  * vector-space twin of [[StreamingDedup]] (which gates on shingle
  * Jaccard): each micro-batch's documents are IVF-bucketed against a fixed
  * centroid set, probed against the accumulated vector store at their
  * `nprobe` closest buckets, and flagged when cosine ≥ threshold; the new
  * vectors then join the store in their argmax bucket.
  *
  * Scale shape: per batch the work is O(batch·K) bucket assignment + one
  * bucket-equi-join against ONLY the probed store buckets — the store is
  * parquet clustered by its `bucket` data column (the [[StoreMaint]]
  * layout), and since probed buckets are a subset of the ≤K centroid ids
  * the probe pushes an `isin` Parquet filter, so a 100 TB vector store is
  * read only in the files and row groups whose bucket range matches.
  * Cosine uses the norm-precomputed `vec_dot/(‖a‖·‖b‖)` decomposition with
  * store-side norms computed ONCE at ingest and persisted with the vector.
  *
  * Replay safety: identical discipline to [[StreamingDedup]] — per-batch
  * whole-subdir overwrite for both flags and store, and the store probe
  * reads only rows ORIGINATING in strictly earlier batches (the
  * `src_batch` data column, which [[compactStore]] preserves as the
  * minimum across merged duplicates), so at-least-once foreachBatch
  * replay rewrites exactly its prior output even when a replay is issued
  * via the public [[processBatch]] after later batches committed AND
  * after any number of compactions — those later vectors stay invisible
  * to it.
  */
object StreamingSemanticDedup {

  /** Start the incremental semantic dedup over a streaming
    * (doc_id, emb: array<float>) frame: flags (doc_id, dup_of, cos) land
    * in `flagDir`, vectors accumulate in `storeDir`.
    */
  def start(docs: DataFrame, centroids: Seq[(Long, Array[Double])],
      storeDir: String, flagDir: String, checkpoint: String,
      threshold: Double = 0.9, nprobe: Int = 2,
      autoCompactBatches: Int = 0): StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpoint)
      .outputMode("update")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        processBatch(batch, batchId, centroids, storeDir, flagDir,
          threshold, nprobe)
        if (autoCompactBatches > 0 && StoreMaint.uncompactedBatches(
            batch.sparkSession, storeDir) >= autoCompactBatches)
          compact(batch.sparkSession, storeDir, batch.schema("emb").dataType,
            centroids.size)
      }
      .start()

  /** File schema of the store trees that [[processBatch]] writes from a
    * frame whose `emb` column has type `emb`, as Spark reads it back (every
    * column and array element nullable); the probe and compaction read
    * with it (see [[StoreMaint]]).
    */
  private[graft] def storeSchema(emb: DataType): StructType = StructType.fromDDL(
    s"doc_id BIGINT, bucket BIGINT, emb ${emb.sql}, _n DOUBLE, src_batch BIGINT")

  /** One micro-batch step (factored out for direct testing). */
  def processBatch(batch: DataFrame, batchId: Long,
      centroids: Seq[(Long, Array[Double])], storeDir: String,
      flagDir: String, threshold: Double, nprobe: Int): Unit = {
    val spark = batch.sparkSession
    def phase[T](name: String)(body: => T): T =
      StoreMaint.phase(spark, s"semantic dedup batch $batchId: $name")(body)
    if (phase("empty")(batch.isEmpty)) return
    graft.plans.VecCosine.register(spark)
    graft.plans.VecDot.register(spark)
    val assigned = batch
      .select(col("doc_id").cast("long").as("doc_id"), col("emb"))
      .withColumn("bucket",
        graft.operators.Similarity.argmaxCosine(col("emb"), centroids))
      .withColumn("_n", sqrt(graft.plans.VecDot.dot(col("emb"), col("emb"))))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val probes = graft.operators.Similarity.probeBuckets(
        assigned.select(col("doc_id"), col("emb"), col("_n")),
        "doc_id", "emb", centroids, nprobe)
      // probed buckets ⊆ centroid ids (≤K values): safe to collect, and as
      // a literal isin a Parquet pushed filter that skips bucket ranges
      val probedBuckets = phase("census")(probes.select(col("bucket"))
        .distinct().collect().map(_.getLong(0)))
      val store =
        if (StoreMaint.exists(spark, storeDir))
          // src_batch (not the batch_id dir) is the visibility key: it
          // survives compaction, so late replays stay deterministic; the
          // own-batch prune lets the flags overlap the store write
          Some(StoreMaint.earlierRows(spark.read
              .schema(storeSchema(assigned.schema("emb").dataType))
              .parquet(storeDir), batchId)
            .drop("batch_id", "src_batch")
            .filter(col("bucket").isin(probedBuckets: _*)))
        else None
      val cos = (graft.plans.VecDot.dot(col("emb"), col("emb_b")) /
        (col("_n") * col("_n_b"))).as("cos")
      // candidates: new-vs-store (store doc is dup_of; store side sits in
      // its argmax bucket — the IVF contract, approximate by construction
      // with recall set by nprobe/K exactly like the batch knnJoinIvf) +
      // new-vs-new (later id is the duplicate; BOTH sides probed, so the
      // pair meets if any of their nprobe-bucket sets intersect — strictly
      // higher recall than probing one side's argmax alone)
      val vsStore = store.map { st =>
        probes.join(st.select(col("doc_id").as("dup_of"), col("bucket"),
          col("emb").as("emb_b"), col("_n").as("_n_b")), Seq("bucket"))
          .filter(col("doc_id") =!= col("dup_of"))
      }
      val newer = probes.select(col("doc_id").as("dup_of"), col("bucket"),
        col("emb").as("emb_b"), col("_n").as("_n_b"))
      val vsNew = probes.join(newer, Seq("bucket"))
        .filter(col("doc_id") > col("dup_of"))
      val flagged = vsStore.fold(vsNew)(vsNew.unionByName(_))
        .select(col("doc_id"), col("dup_of"), cos)
        .filter(col("cos") >= threshold)
        // a pair can meet in up to nprobe buckets — same (doc, dup_of, cos)
        // either way, and the best-match aggregate collapses repeats
        .groupBy(col("doc_id"))
        .agg(max(struct(col("cos"), (-col("dup_of")).as("nd"))).as("_best"))
        .select(col("doc_id"), (-col("_best.nd")).as("dup_of"),
          col("_best.cos").as("cos"))
      // the flags and the store write overlap, as in StreamingDedup
      graft.operators.Par.both(
        phase("flags")(flagged.write.mode(SaveMode.Overwrite)
          .parquet(s"$flagDir/batch_id=$batchId")),
        phase("store")(StoreMaint.writeTree(
          assigned.select(col("doc_id"), col("bucket"), col("emb"), col("_n"))
            .withColumn("src_batch", lit(batchId)),
          "bucket", centroids.size, s"$storeDir/batch_id=$batchId")))
    } finally assigned.unpersist()
  }

  /** Compact the vector store: merge cross-batch duplicate rows (keeping
    * the earliest `src_batch` — see [[StoreMaint.compactTree]]) and
    * rewrite the per-batch trees into one `batch_id=-1` tree clustered
    * by `bucket` (atomic dir swap), so probes keep pruning at the source
    * as batches accumulate. Schedule between batches like
    * [[StreamingDedup.compactStore]] (or via `autoCompactBatches`).
    * `k` is the number of centroids the store was built with, the bucket
    * domain `[0, k)` the compacted files are spread over (see
    * [[StoreMaint.writeTree]]); a different value changes only how the
    * rows spread over the files, never which rows a probe reads.
    *
    * This entry point has no frame to take the `emb` type from, so it
    * infers the store's schema, which costs one Spark job that reads a
    * footer. The `autoCompactBatches` policy takes the type from the batch
    * and starts no such job.
    */
  def compactStore(spark: SparkSession, storeDir: String, k: Int): Unit =
    compact(spark, storeDir,
      spark.read.parquet(storeDir).schema("emb").dataType, k)

  private def compact(spark: SparkSession, storeDir: String, emb: DataType,
      k: Int): Unit =
    StoreMaint.phase(spark, "semantic dedup compaction")(
      StoreMaint.compactTree(spark, storeDir, storeSchema(emb), "bucket", k,
        Seq("doc_id", "emb", "_n")))
}
