package graft.streaming

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** CDC-style keyed upsert sink: a parquet store holding, per key, the row
  * with the highest sequence value seen so far (last-writer-wins merge —
  * the MERGE/SCD-type-1 sink the reference's connector sinks feed in
  * practice).
  *
  * The store is hash-bucketed on the key (`bucket = pmod(hash(key), n)`):
  * each micro-batch rewrites ONLY the buckets its keys touch (dynamic
  * partition overwrite), and reads back only those buckets
  * (partition-pruned scan) — at a 100 TB store a batch touching 0.1% of
  * keys reads and writes ~0.1% of the store, not all of it. Correctness
  * under foreachBatch's at-least-once replay: max-by-seq is idempotent,
  * so re-merging a replayed batch is a no-op.
  */
object UpsertSink {

  /** Merge one batch of upserts into the bucketed store. Exposed for
    * batch-mode backfills; the streaming path calls it per micro-batch.
    * Ties on `seqCol` break deterministically toward the incoming row.
    */
  def mergeBatch(batch: DataFrame, keyCol: String, seqCol: String,
      storeDir: String, nBuckets: Int): Unit = {
    val spark = batch.sparkSession
    val incoming = batch
      .withColumn("bucket", pmod(hash(col(keyCol)), lit(nBuckets)))
      .withColumn("_src", lit(1)) // incoming wins seq ties vs stored
    if (!Files.exists(Paths.get(storeDir))) {
      incoming.withColumn("_rn", row_number().over(
          Window.partitionBy(col(keyCol)).orderBy(col(seqCol).desc)))
        .filter(col("_rn") === 1).drop("_rn", "_src")
        .write.partitionBy("bucket").mode(SaveMode.Append).parquet(storeDir)
      return
    }
    val touched = incoming.select("bucket").distinct()
      .collect().map(_.getInt(0))
    // the store holds the caller's rows plus the bucket partition column,
    // so its schema is the incoming frame's: no schema-inference job
    val stored = spark.read.schema(incoming.drop("_src").schema)
      .parquet(storeDir)
      .filter(col("bucket").isin(touched.toSeq: _*))
      .withColumn("_src", lit(0))
    val merged = stored.unionByName(incoming)
      .withColumn("_rn", row_number().over(
        Window.partitionBy(col(keyCol))
          .orderBy(col(seqCol).desc, col("_src").desc)))
      .filter(col("_rn") === 1).drop("_rn", "_src")
      .localCheckpoint(true) // materialize BEFORE overwriting its own input
    merged.write.partitionBy("bucket").mode(SaveMode.Overwrite)
      .option("partitionOverwriteMode", "dynamic")
      .parquet(storeDir)
  }

  /** Start the streaming upsert: every micro-batch merges into the store.
    * foreachBatch serializes batches, so merges never race.
    */
  def start(updates: DataFrame, keyCol: String, seqCol: String,
      storeDir: String, checkpoint: String, nBuckets: Int = 16): StreamingQuery =
    updates.writeStream
      .option("checkpointLocation", checkpoint)
      .outputMode("update")
      .foreachBatch { (batch: DataFrame, _: Long) =>
        mergeBatch(batch, keyCol, seqCol, storeDir, nBuckets)
      }
      .start()

  /** Current store contents (latest row per key). */
  def snapshot(spark: SparkSession, storeDir: String): DataFrame =
    spark.read.parquet(storeDir)
}
