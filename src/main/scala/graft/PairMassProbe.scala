package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Dup-mode slope adjudication probe (round 15, r14 verdict item 4):
  * q_dedup_simhash read a 1.57 and q_dedup_keep_best a 1.67 two-point
  * exponent on the 20×→40× dup-heavy span — the r14 verdict's inference
  * was by-construction output-pair mass (≈33% exact-dup docs make
  * within-clique pair counts quadratic in the dup factor), but per the
  * round's own standard the cause must be MEASURED, not argued. For each
  * corpus dir this probe separates the three quantities a wall-clock
  * slope conflates:
  *
  *   - `clique_pairs`: undirected within-exact-dup-clique pair count
  *     Σ g·(g−1)/2 over text-identical groups — the by-construction
  *     output floor for any dedup family that emits exact dups
  *     (simhash Hamming 0, minhash J = 1);
  *   - per family: wall seconds AND emitted pair count, so the slope of
  *     pairs/second — the plan's actual throughput — is separable from
  *     the slope of the pair mass itself;
  *   - for keep_best: the LSH pair stage timed apart from the
  *     cluster+select tail (the query's only non-linear candidate).
  *
  * If pairs grow ~4× per 2× data while pairs/sec holds, the wall slope
  * is the data's, not the plan's — the q_dedup_embedding adjudication
  * (EmbeddingBandProbe, SURVEY §5p-5) is the template.
  *
  * Run: `sbt "runMain graft.PairMassProbe <dir> [dir2 ...]"`.
  */
object PairMassProbe {
  def main(args: Array[String]): Unit = {
    val cpus = GraftSession.cpus()
    val spark = GraftSession.configure(SparkSession.builder()
      .master(s"local[$cpus]"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    def timed[T](f: => T): (T, Double) = {
      val t0 = System.nanoTime()
      val r = f
      (r, (System.nanoTime() - t0) / 1e9)
    }
    def j(v: Double): String =
      String.format(java.util.Locale.ROOT, "%.2f", Double.box(v))

    args.foreach { dir =>
      val docs = graft.sources.Sources.documents(spark, dir)
      val nDocs = docs.count()
      // exact-dup clique mass: undirected within-clique pairs
      val cliqueRow = docs.groupBy(xxhash64($"text").as("_h"))
        .agg(count(lit(1)).as("g")).filter($"g" > 1)
        .agg(coalesce(sum($"g" * ($"g" - 1) / 2), lit(0L)).as("p"),
          coalesce(sum($"g"), lit(0L)).as("dupdocs")).head
      val cliquePairs = cliqueRow.getLong(0)
      val dupDocs = cliqueRow.getLong(1)
      System.err.println(s"[pairmass] $dir docs=$nDocs " +
        s"clique_pairs=$cliquePairs dup_docs=$dupDocs")

      val (nSim, tSim) = timed(
        graft.operators.DataOpsQueries.qDedupSimhash(spark, dir).count())
      System.err.println(f"[pairmass] $dir simhash pairs=$nSim ($tSim%.1f s)")

      // keep_best's stages: the LSH pair join, then the full query
      // (clusters + best-member select on top of a fresh pair run)
      val (nLsh, tLsh) = timed(
        graft.operators.Dedup.minhashLshPairs(
          graft.operators.DataOpsQueries.withHashedShingles(spark, dir),
          "doc_id", "sh", numHashes = 64, bands = 16, threshold = 0.5,
          preHashed = true).count())
      System.err.println(f"[pairmass] $dir minhash pairs=$nLsh ($tLsh%.1f s)")
      val (nKb, tKb) = timed(
        graft.operators.DataOpsQueries.qDedupKeepBest(spark, dir).count())
      System.err.println(f"[pairmass] $dir keep_best rows=$nKb ($tKb%.1f s)")

      println(s"""{"metric":"pair_mass","dir":"$dir","docs":$nDocs,""" +
        s""""clique_pairs":$cliquePairs,"dup_docs":$dupDocs,""" +
        s""""simhash_pairs":$nSim,"simhash_secs":${j(tSim)},""" +
        s""""simhash_pairs_per_sec":${j(if (tSim > 0) nSim / tSim else 0)},""" +
        s""""minhash_pairs":$nLsh,"minhash_secs":${j(tLsh)},""" +
        s""""minhash_pairs_per_sec":${j(if (tLsh > 0) nLsh / tLsh else 0)},""" +
        s""""keep_best_rows":$nKb,"keep_best_secs":${j(tKb)}}""")
    }
    spark.stop()
  }
}
