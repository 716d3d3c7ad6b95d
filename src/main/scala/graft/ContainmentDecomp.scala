package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Stage-wise wall decomposition of the containment pipeline (round-11
  * verdict item 2: the fresh-mode q_dedup_containment floor trends
  * e=2.18 at sf4-fresh — decompose WHERE the time goes before accepting
  * it as the by-design df≈1 candidate floor).
  *
  * Times each stage in additive isolation by persisting every stage's
  * input before timing it: shingle+persist → df-ranked postings →
  * candidate posting join (positional filter on) → verify join (exact
  * |A∩B| on the candidate pairs). The sum tracks the full
  * [[graft.operators.Dedup.containmentPairs]] wall (same shapes, same
  * storage level); the SPLIT is the adjudication number the verdict
  * asks for — if candidates dominate, the floor is the posting join
  * (df-distribution-bound, the by-design story); if verify dominates,
  * a pre-filter gate (rare-chunk / df-cap) has headroom.
  *
  * Run: `sbt "runMain graft.ContainmentDecomp <dir> [dir2 ...]"`.
  */
object ContainmentDecomp {
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

    args.foreach { dir =>
      graft.plans.ShingleHashes.register(spark, n = 3)
      // stage 1: shingle + sort + persist (the corpus-sized cache)
      val base = graft.sources.Sources.documents(spark, dir)
        .select($"doc_id",
          array_sort(graft.plans.ShingleHashes.shingleHashes($"text")).as("_sh"))
        .withColumn("_n", size($"_sh"))
        .persist(graft.operators.Dedup.pairStorage)
      val (nDocs, tShingle) = timed(base.count())

      // stage 2: df-ordered rank-annotated postings (df agg + join +
      // per-doc window + df>=2 drop) — containmentPairs persists this
      // frame for both sides of the candidate join
      val ranked = graft.operators.Dedup
        .rankedPostsForProbe(base, "doc_id")
        .persist(graft.operators.Dedup.pairStorage)
      val (nPosts, tRank) = timed(ranked.count())

      // stage 3: candidate posting join at t=4/5, positional filter on.
      // SPARK_GRAFT_DECOMP_NO_VERIFY=1 skips the verify stage and the
      // candidate persist: at sf4-fresh the isolated verify's SMJ sort
      // over candidates×arrays spilled >60 GB and killed the box twice —
      // there the split is derived as (bench total − stages 1–3), which
      // is exactly the additive complement since the real pipeline runs
      // the same stage chain.
      val noVerify = sys.env.get("SPARK_GRAFT_DECOMP_NO_VERIFY").contains("1")
      val cand0 = graft.operators.Dedup
        .containmentCandidates(base, "doc_id", num = 4, den = 5,
          rankedPosts = Some(ranked))
      val cand =
        if (noVerify) cand0
        else cand0.persist(graft.operators.Dedup.pairStorage)
      val (nCand, tCand) = timed(cand.count())

      // stage 4: verify join — exact intersect on the candidate pairs
      val (nPairs, tVerify) =
        if (noVerify) (-1L, 0.0)
        else {
          val aSide = base.select($"doc_id".as("_a"), $"_sh".as("_sh_a"),
            $"_n".as("_n_a"))
          val bSide = base.select($"doc_id".as("_b"), $"_sh".as("_sh_b"))
          val verify = cand.join(aSide, "_a").join(bSide, "_b")
            .withColumn("_c", size(array_intersect($"_sh_a", $"_sh_b")))
            .filter($"_c" * 5 >= $"_n_a" * 4)
          timed(verify.count())
        }

      val total = tShingle + tRank + tCand + tVerify
      System.err.println(
        f"[decomp] $dir docs=$nDocs posts=$nPosts cand=$nCand pairs=$nPairs " +
        f"shingle=$tShingle%.1f rank=$tRank%.1f cand=$tCand%.1f " +
        f"verify=$tVerify%.1f total=$total%.1f")
      println(
        s"""{"metric":"containment_decomp","dir":"$dir","docs":$nDocs,""" +
        s""""postings":$nPosts,"candidates":$nCand,"pairs":$nPairs,""" +
        f""""shingle_s":$tShingle%.2f,"rank_s":$tRank%.2f,""" +
        f""""cand_s":$tCand%.2f,"verify_s":$tVerify%.2f,""" +
        f""""total_s":$total%.2f}""")
      if (!noVerify) cand.unpersist()
      ranked.unpersist(); base.unpersist()
    }
    spark.stop()
  }
}
