package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Stage-wise wall decomposition of the SemDeDup pipeline (round-12:
  * after the adaptive-K fix the sf4-replica wall is ~18-21 s, exponent
  * 1.51 — attribute it before optimizing further). Stages timed in
  * additive isolation, inputs persisted: k-means train (autoK, 2
  * iters) → literal-argmax assignment (persisted) → within-bucket
  * exact cosine pairs → connected components → final per-bucket agg.
  * Also reports the bucket-size distribution (max/p99/mean), because
  * within-bucket pair cost is Σ bucket² — skew, not the mean, decides
  * whether the K≈n/512 rule holds.
  *
  * Run: `sbt "runMain graft.SemDedupDecomp <dir> [dir2 ...]"`.
  */
object SemDedupDecomp {
  def main(args: Array[String]): Unit = {
    val cpus = GraftSession.cpus()
    val spark = GraftSession.configure(SparkSession.builder()
      .master(s"local[$cpus]"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._
    import graft.operators.{Dedup, Similarity}

    def timed[T](f: => T): (T, Double) = {
      val t0 = System.nanoTime()
      val r = f
      (r, (System.nanoTime() - t0) / 1e9)
    }

    args.foreach { dir =>
      val emb = graft.sources.Sources.embeddings(spark, dir)
      val n = Similarity.corpusRows(emb)
      val k = Similarity.autoK(n)
      val (cents, tTrain) = timed(
        Similarity.trainIvfCentroids(emb, "vec_id", "embedding",
          k = k, iters = 2))
      val assigned = emb.withColumn("bucket",
        Similarity.argmaxCosine($"embedding", cents))
        .persist(Dedup.pairStorage)
      val (_, tAssign) = timed(assigned.count())
      val sizes = assigned.groupBy($"bucket").count().collect()
        .map(_.getLong(1)).sorted
      val sumSq = sizes.map(s => s * s).sum
      val pairsDf = Dedup.embeddingPairs(assigned, "vec_id", "embedding",
        "bucket", 0.35, keepBand = true)
        .select($"bucket", $"vec_a".as("doc_a"), $"vec_b".as("doc_b"))
        .persist(Dedup.pairStorage)
      val (nPairs, tPairs) = timed(pairsDf.count())
      // A/B the two CC routes on the identical persisted edge set: the
      // global pointer-jumping loop vs the one-shuffle bucketed
      // union-find qSemDedup now uses (edges never cross buckets)
      val (nDropped, tCc) = timed(
        Dedup.dupClusters(pairsDf.drop("bucket"))
          .filter($"id" =!= $"label").count())
      val (nDroppedB, tCcB) = timed(
        Dedup.dupClustersBucketed(pairsDf, "bucket")
          .filter($"id" =!= $"label").count())
      require(nDropped == nDroppedB,
        s"CC route mismatch: global=$nDropped bucketed=$nDroppedB")
      val total = tTrain + tAssign + tPairs + tCcB
      System.err.println(
        f"[semdecomp] $dir n=$n k=$k buckets=${sizes.length} " +
        f"maxB=${sizes.last} p99B=${sizes(math.max(0, sizes.length * 99 / 100 - 1))} " +
        f"sumSq=$sumSq pairs=$nPairs dropped=$nDropped | " +
        f"train=$tTrain%.1f assign=$tAssign%.1f pairs=$tPairs%.1f " +
        f"ccGlobal=$tCc%.1f ccBucketed=$tCcB%.1f total=$total%.1f")
      println(
        s"""{"metric":"semdedup_decomp","dir":"$dir","n":$n,"k":$k,""" +
        s""""max_bucket":${sizes.last},"sum_sq":$sumSq,"pairs":$nPairs,""" +
        f""""train_s":$tTrain%.2f,"assign_s":$tAssign%.2f,""" +
        f""""pairs_s":$tPairs%.2f,"cc_global_s":$tCc%.2f,""" +
        f""""cc_bucketed_s":$tCcB%.2f,"total_s":$total%.2f}""")
      pairsDf.unpersist(); assigned.unpersist()
    }
    spark.stop()
  }
}
