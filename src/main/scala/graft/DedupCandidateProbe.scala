package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Candidate-mass A/B for the PPJoin positional filter (SURVEY §5k): on a
  * given corpus dir, count the DISTINCT candidate pairs the prefix posting
  * joins emit with and without the positional bound, for the three shapes
  * the filter guards — symmetric Jaccard (q_dedup_ngram_jaccard /
  * q_dedup_corpus), the ingest-gate blocking variant (q_ingest_dedup),
  * and directed containment (q_dedup_containment). The verify joins
  * downstream pay exactly these row counts, so the delta here IS the
  * filter's value at scale.
  *
  * Run: `sbt "runMain graft.DedupCandidateProbe <dir> [dir2 ...]"`.
  */
object DedupCandidateProbe {
  def main(args: Array[String]): Unit = {
    val cpus = GraftSession.cpus()
    val spark = GraftSession.configure(SparkSession.builder()
      .master(s"local[$cpus]"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    args.foreach { dir =>
      graft.plans.ShingleHashes.register(spark, n = 3)
      val base = graft.sources.Sources.documents(spark, dir)
        .select($"doc_id",
          array_sort(graft.plans.ShingleHashes.shingleHashes($"text")).as("_sh"))
        .withColumn("_n", size($"_sh"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      def timeCount(df: DataFrame): (Long, Double) = {
        val t0 = System.nanoTime()
        val n = df.count()
        (n, (System.nanoTime() - t0) / 1e9)
      }
      try {
        base.count()
        val shapes: Seq[(String, Boolean => DataFrame)] = Seq(
          ("jaccard_t05", p => graft.operators.Dedup.prefixCandidates(
            base, "doc_id", Seq.empty, 0.5, positional = p)),
          ("ingest_t05", p => graft.operators.Dedup.prefixCandidates(
            base, "doc_id", Seq.empty, 0.5,
            pairPredicate = Some(col("doc_id") % 2 =!= col("doc_id_b") % 2),
            positional = p)),
          ("containment_45", p => graft.operators.Dedup.containmentCandidates(
            base, "doc_id", num = 4, den = 5, positional = p)))
        val rows = shapes.map { case (name, mk) =>
          val (nOff, tOff) = timeCount(mk(false))
          val (nOn, tOn) = timeCount(mk(true))
          System.err.println(f"[candprobe] $dir $name off=$nOff ($tOff%.1f s) " +
            f"on=$nOn ($tOn%.1f s) cut=${1.0 - nOn.toDouble / math.max(nOff, 1)}%.3f")
          s""""$name":{"candidates_off":$nOff,"candidates_on":$nOn,""" +
            f""""secs_off":$tOff%.1f,"secs_on":$tOn%.1f}"""
        }
        println(s"""{"metric":"positional_filter_ab","dir":"$dir",${rows.mkString(",")}}""")
      } finally base.unpersist()
    }
    spark.stop()
  }
}
