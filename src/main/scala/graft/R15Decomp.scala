package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Round-15 scratch decomposition of the heaviest catalog queries —
  * times each eager piece in isolation (measurement only, no query-path
  * code). Usage: sbt "runMain graft.R15Decomp [sfDir]"
  */
object R15Decomp {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val cpus = GraftSession.cpus()
    val spark = GraftSession.configure(SparkSession.builder()
      .master(s"local[$cpus]"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._
    def timed[T](label: String)(f: => T): T = {
      val t0 = System.nanoTime()
      val r = f
      println(f"[decomp] $label%-46s ${(System.nanoTime() - t0) / 1e9}%7.3f s")
      r
    }
    // warmup
    spark.read.parquet(s"$dir/lineitem.parquet")
      .groupBy("l_returnflag").count().collect()

    for (round <- 1 to 2) {
      println(s"--- round $round (second round = steady state) ---")
      // q_containment_lsh_eval_sampled decomposition
      val docs = timed("shingles+sample+checkpoint") {
        graft.operators.DataOpsQueries.withHashedShingles(spark, dir)
          .filter(graft.operators.DataOpsQueries.idSample($"doc_id"))
          .localCheckpoint(true)
      }
      val exact = timed("exact arm (containmentPairsExact)") {
        graft.operators.Dedup.containmentPairsExact(docs, "doc_id", "sh",
          num = 4, den = 5, preHashed = true)
          .select($"doc_sub", $"doc_sup")
      }
      val lsh = timed("lsh arm (containmentPairsLsh)") {
        graft.operators.Dedup.containmentPairsLsh(docs, "doc_id", "sh",
          num = 4, den = 5, preHashed = true)
          .select($"doc_sub", $"doc_sup")
      }
      timed("final counts+anti-join") {
        val nE = exact.agg(count(lit(1)).as("n_exact_sample"))
        val nB = lsh.agg(count(lit(1)).as("n_lsh_sample"))
        val nM = exact.join(lsh, Seq("doc_sub", "doc_sup"), "left_anti")
          .agg(count(lit(1)).as("n_missed_sample"))
        nE.crossJoin(nB).crossJoin(nM).count()
      }
      // full-corpus shingling cost alone
      timed("withHashedShingles full count") {
        graft.operators.DataOpsQueries.withHashedShingles(spark, dir)
          .select(sum(size($"sh"))).head(): Unit
      }
    }
    spark.stop()
  }
}
