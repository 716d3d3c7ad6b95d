package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions._
import graft.sources.Sources

/** Oracle-gated queries for the LLM-data-pipeline operator families:
  * [[Dedup]], [[Similarity]], [[TextAnalysis]] over the documents and
  * embeddings tables. MinHash-LSH / SimHash / IVF are rows-only entries
  * (their band/bucket internals aren't ANSI-SQL-expressible) — each is
  * still deterministic and its exact-counterpart query is oracle-checked.
  */
object DataOpsQueries {
  type Q = (SparkSession, String) => DataFrame

  /** Deterministic 25 % id sample gate for the sampled eval protocols —
    * a Knuth multiplicative mix, NOT a residue (`id % 4`): the ScaleUp
    * replica generator shifts ids by a stride that is a multiple of 4,
    * so a residue gate kept WHOLE replica families and the sample²
    * saving degraded to sample¹ on replica corpora (measured,
    * SURVEY §5l-14). The mix decorrelates the gate from any additive
    * stride: (id mod 2³¹)·2654435761 mod 2³² < 2³⁰. The pre-mod keeps
    * the product < 2⁶³ for any 64-bit id (ANSI-safe, no overflow) while
    * preserving stride structure far beyond any realistic corpus; the
    * DuckDB twin ([[idSampleSql]]) is the same BIGINT arithmetic, so
    * both engines keep identical ids.
    */
  private[graft] def idSample(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    (c % lit(2147483648L)) * lit(2654435761L) % lit(4294967296L) < lit(1073741824L)

  private[graft] def idSampleSql(col: String): String =
    s"($col % 2147483648) * 2654435761 % 4294967296 < 1073741824"

  def qDedupExact(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Dedup.exactGroups(Sources.documents(s, dir), $"doc_id", $"text")
      .orderBy($"rep_id")
  }

  def qDedupFingerprint(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Dedup.fingerprintGroups(Sources.documents(s, dir), $"doc_id", $"text")
      .orderBy($"rep_id")
  }

  def qDedupNgramJaccard(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = withHashedShingles(s, dir)
      .withColumn("lb", floor($"n_chars" / 100).cast("long"))
    Dedup.jaccardPairs(docs, "doc_id", "sh", Seq("lang", "lb"), 0.5,
      preHashed = true,
      // (lang, lb) banding already keeps this join's candidate precision
      // near output-sized, so the exact-dup collapse's two extra
      // array-keyed shuffles are net overhead here (isolated A/B at 40×
      // data: 17.0 vs 20.2 s replica, 16.3 vs 23.9 s fresh) — opt out
      collapseExactDups = false)
      .orderBy($"doc_a", $"doc_b")
  }

  /** Native one-pass portable shingle hashing (tokenize→3-gram→md5-60bit
    * in graft.plans.ShingleHashes) — the DuckDB oracle reproduces the
    * chain hash-for-hash in SQL.
    */
  private[graft] def withHashedShingles(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    graft.plans.ShingleHashes.register(s, n = 3)
    Sources.documents(s, dir)
      .withColumn("sh", graft.plans.ShingleHashes.shingleHashes($"text"))
  }

  /** Directed containment near-dups at C >= 4/5: catches "A quoted inside
    * B" pairs whose Jaccard is diluted by B's extra content. The oracle
    * brute-forces exact pair intersections (sf0.01 corpus), which also
    * proves the prefix filter lossless.
    */
  def qDedupContainment(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Dedup.containmentPairs(withHashedShingles(s, dir), "doc_id", "sh",
      num = 4, den = 5, preHashed = true)
      .orderBy($"doc_sub", $"doc_sup")
  }

  /** BANDED containment — the corpus-scale production arm for
    * high-entropy corpora ([[Dedup.containmentPairsBanded]]): each query
    * posts only its 8 rarest prefix shingles, stop-shingles (df over the
    * adaptive cap) are dropped from both sides, survivors verified
    * exactly. Precision 1, recall measured by
    * [[qContainmentEvalSampled]]. The oracle replays the distinct-set
    * collapse, the (df, h) rarest-first ranking, both caps, and the
    * member expansion in SQL.
    */
  def qDedupContainmentBanded(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Dedup.containmentPairsBanded(withHashedShingles(s, dir), "doc_id", "sh",
      num = 4, den = 5, preHashed = true, queryCap = 8)
      .orderBy($"doc_sub", $"doc_sup")
  }

  /** The recall report of an eval, one row: `names` = (exact pairs, pairs
    * the evaluated arm found, exact pairs it missed), counted with
    * multiplicity over the non-null `keys`. ONE aggregate pass: both pair
    * sets are tagged, unioned and summed per pair — one shuffle and one
    * global aggregate, where three count aggregates and a left anti-join
    * ran four shuffles and three global aggregates, for the same counts.
    */
  private def recallCounts(exact: DataFrame, found: DataFrame, keys: Seq[String],
      names: (String, String, String)): DataFrame = {
    val k = keys.map(col)
    exact.select(k :+ lit(1L).as("_e") :+ lit(0L).as("_f"): _*)
      .unionAll(found.select(k :+ lit(0L).as("_e") :+ lit(1L).as("_f"): _*))
      .groupBy(k: _*).agg(sum(col("_e")).as("_e"), sum(col("_f")).as("_f"))
      .agg(coalesce(sum(col("_e")), lit(0L)).as(names._1),
        coalesce(sum(col("_f")), lit(0L)).as(names._2),
        coalesce(sum(when(col("_f") === 0L, col("_e"))), lit(0L)).as(names._3))
  }

  /** Estimated recall (nExact - nMissed) / nExact; null without exact pairs. */
  private def recallEst(nExact: Column, nMissed: Column): Column =
    when(nExact === 0, lit(null).cast("double"))
      .otherwise((nExact - nMissed).cast("double") / nExact)

  /** Banded-containment recall measurement under the deterministic 25%
    * id-hash sample — the q_minhash_eval_sampled protocol: both arms run
    * inside the sample (the exact arm's quadratic candidate mass drops
    * sample², which is what makes ground truth affordable at corpus
    * scale), and banded ⊆ exact (same threshold, exact verify of a
    * candidate subset) so the miss count is a plain anti-join.
    */
  def qContainmentEvalSampled(s: SparkSession, dir: String): DataFrame =
    containmentEvalOn(s, dir, Some(8), "banded")

  /** The body of both containment recall evals: the exact arm against the
    * banded arm (`bandedQueryCap`) or the LSH arm (None), overlapped over
    * one shared set frame ([[Dedup.containmentEvalArms]]; see
    * [[Dedup.planLock]] for why the overlap is safe, `ArmOverlapSpec`
    * pins it). `arm` names the evaluated arm's count column.
    */
  private def containmentEvalOn(s: SparkSession, dir: String,
      bandedQueryCap: Option[Int], arm: String): DataFrame = Dedup.scoped { sc =>
    import s.implicits._
    val docs = sc.checkpoint(withHashedShingles(s, dir).filter(idSample($"doc_id")))
    val (exact0, other0) = Dedup.containmentEvalArms(docs, "doc_id", "sh",
      num = 4, den = 5, preHashed = true, bandedQueryCap = bandedQueryCap)
    recallCounts(exact0, other0, Seq("doc_sub", "doc_sup"),
      ("n_exact_sample", s"n_${arm}_sample", "n_missed_sample"))
      .withColumn("recall_est", recallEst($"n_exact_sample", $"n_missed_sample"))
  }

  /** LSH containment — the corpus-scale production arm for DENSE-df
    * corpora ([[Dedup.containmentPairsLsh]]): OPH MinHash band-bucket
    * candidates (32 bands × 2 rows — the LSH-Ensemble Jaccard floor
    * t/(1+R−t) at the R = 2 size-ratio horizon), exact directed verify,
    * recall measured by [[qContainmentLshEvalSampled]].
    */
  def qDedupContainmentLsh(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Dedup.containmentPairsLsh(withHashedShingles(s, dir), "doc_id", "sh",
      num = 4, den = 5, preHashed = true)
      .orderBy($"doc_sub", $"doc_sup")
  }

  /** LSH-containment recall under the deterministic 25% id-hash sample —
    * same protocol as [[qContainmentEvalSampled]] for the LSH arm.
    */
  def qContainmentLshEvalSampled(s: SparkSession, dir: String): DataFrame =
    containmentEvalOn(s, dir, None, "lsh")

  def qDedupMinhash(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Dedup.minhashLshPairs(withHashedShingles(s, dir), "doc_id", "sh",
      numHashes = 64, bands = 16, threshold = 0.5, preHashed = true)
      .orderBy($"doc_a", $"doc_b")
  }

  def qDedupSimhash(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // two native passes (token_hashes → simhash_bits), no interpreted
    // lambdas — the oracle recomputes the exact signature from the text
    graft.plans.SimHashBits.register(s, bits = 60)
    graft.plans.ShingleHashes.registerTokenHashes(s)
    val docs = Sources.documents(s, dir)
      .withColumn("lb", floor($"n_chars" / 100).cast("long"))
      .withColumn("sim", graft.plans.SimHashBits.simhashBits(
        graft.plans.ShingleHashes.tokenHashes($"text")))
    Dedup.simhashPairs(docs, "doc_id", "sim", Seq("lb"), maxHamming = 5)
      .orderBy($"doc_a", $"doc_b")
  }

  /** SimHash quality evaluation against the exact Jaccard >= 0.5 ground
    * truth: precision/recall (ppm, integer) of Hamming <= 5 SimHash pairs.
    * Candidates come from 10-bit signature-chunk banding — lossless by
    * pigeonhole (6 chunks, <= 5 differing bits → >= 1 chunk equal), never
    * the O(n²) signature cross-join; the oracle brute-forces both sides
    * at oracle SF. SimHash approximates a different similarity than
    * Jaccard, so both error directions are real — this is the report
    * that says whether Hamming <= 5 is the right gate for THIS corpus.
    */
  def qSimhashEval(s: SparkSession, dir: String): DataFrame =
    simhashEvalOn(s, dir, _ => lit(true), "")

  /** SAMPLED SimHash evaluation — the corpus-scale form of
    * [[qSimhashEval]], same protocol as [[qMinhashEvalSampled]]: the
    * production SimHash banding runs over the FULL corpus (linear-ish),
    * while the exact Jaccard ground truth and the precision/recall
    * accounting are restricted to the deterministic 25 % id-hash sample
    * ([[idSample]], a replica-proof multiplicative mix) — exact pair work
    * drops by sample² and the
    * sampled P/R is an unbiased estimate of corpus P/R.
    */
  def qSimhashEvalSampled(s: SparkSession, dir: String): DataFrame =
    simhashEvalOn(s, dir, idSample, "_sample")

  /** The body of both SimHash evals: `keep` selects the ids whose pairs
    * are scored, `sfx` suffixes the count columns (a sampled run also
    * names its ppm columns `_est`). The arms overlap ([[Dedup.planLock]]);
    * the SimHash chain checkpoints and never persists, so they share no
    * cached frame.
    */
  private def simhashEvalOn(s: SparkSession, dir: String,
      keep: Column => Column, sfx: String): DataFrame = {
    import s.implicits._
    graft.plans.SimHashBits.register(s, bits = 60)
    graft.plans.ShingleHashes.registerTokenHashes(s)
    val chunksOf = (sim: org.apache.spark.sql.Column) =>
      array((0 until 6).map(c =>
        struct(lit(c).as("ck"),
          shiftright(sim, c * 10).bitwiseAND(lit(1023L)).as("cv"))): _*)
    val (sh, exact) = Par.both(
      Dedup.scoped { sc =>
        val sigs = sc.checkpoint(Sources.documents(s, dir)
          .select($"doc_id", graft.plans.SimHashBits.simhashBits(
            graft.plans.ShingleHashes.tokenHashes($"text")).as("sim")))
        val banded = sigs.select($"doc_id", $"sim", explode(chunksOf($"sim")).as("b"))
          .select($"doc_id", $"sim", $"b.ck", $"b.cv")
        val other = banded.toDF("doc_id_b", "sim_b", "ck", "cv")
        sc.checkpoint(banded.join(other, Seq("ck", "cv"))
          .filter($"doc_id" < $"doc_id_b")
          .filter(bit_count($"sim".bitwiseXOR($"sim_b")) <= 5)
          .filter(keep($"doc_id") && keep($"doc_id_b"))
          .select($"doc_id".as("doc_a"), $"doc_id_b".as("doc_b"))
          .distinct())
      },
      Dedup.jaccardPairs(withHashedShingles(s, dir).filter(keep($"doc_id")),
        "doc_id", "sh", Seq.empty, 0.5, preHashed = true)
        .select($"doc_a", $"doc_b"))
    val est = if (sfx.isEmpty) "" else "_est"
    val both = sh.join(exact, Seq("doc_a", "doc_b"))
      .agg(count(lit(1)).as(s"n_both$sfx"))
    sh.agg(count(lit(1)).as(s"n_simhash$sfx"))
      .crossJoin(exact.agg(count(lit(1)).as(s"n_exact$sfx")))
      .crossJoin(both)
      .select(col(s"n_simhash$sfx"), col(s"n_exact$sfx"), col(s"n_both$sfx"),
        expr(s"n_both$sfx * 1000000L DIV greatest(n_simhash$sfx, 1)")
          .as(s"prec_ppm$est"),
        expr(s"n_both$sfx * 1000000L DIV greatest(n_exact$sfx, 1)")
          .as(s"rec_ppm$est"))
  }

  /** Within-label embedding near-dup pairs, LSH-candidated (round-10
    * verdict item 2): candidates must share `label` AND an adaptive LSH
    * band bucket, then pass the exact-cosine verify. The former
    * exact-within-label form (O(Σ bucket²) on a low-cardinality label —
    * 76.7× wall at 40× data) lives on as [[qDedupEmbeddingExact]],
    * small-sf tier. At both correctness scales autoBanding floors to the
    * pinned (8, 8), so the static SQL oracle encodes the exact shape.
    */
  def qDedupEmbedding(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Dedup.embeddingLshPairsAuto(Sources.embeddings(s, dir), "vec_id",
      "embedding", threshold = 0.40, extraKeys = Seq("label"))
      .orderBy($"vec_a", $"vec_b")
  }

  /** The didactic exact twin of [[qDedupEmbedding]] — all same-label
    * pairs verified, no LSH recall gap, quadratic in the largest label
    * bucket. Ground-truth arm: keep it off large-sf runs (Bench tiers).
    */
  def qDedupEmbeddingExact(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Dedup.embeddingPairs(Sources.embeddings(s, dir), "vec_id", "embedding",
      "label", 0.40)
      .orderBy($"vec_a", $"vec_b")
  }

  def qDedupEmbeddingLsh(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Dedup.embeddingLshPairsAuto(Sources.embeddings(s, dir), "vec_id",
      "embedding", threshold = 0.40)
      .orderBy($"vec_a", $"vec_b")
  }

  /** Explicitly pinned (bands=8, rows=8) shape — the banding can never
    * drift with corpus size, so the hash-gated oracle is pinned by
    * construction (the adaptive [[qDedupEmbeddingLsh]] matches it at
    * oracle scale because autoBanding floors there; EmbeddingLshAutoSpec
    * pins that equivalence).
    */
  def qDedupEmbeddingLshPinned(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Dedup.embeddingLshPairs(Sources.embeddings(s, dir), "vec_id", "embedding",
      bands = 8, rows = 8, threshold = 0.40)
      .orderBy($"vec_a", $"vec_b")
  }

  def qAnnBruteforce(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val emb = Sources.embeddings(s, dir)
    val query = emb.filter($"vec_id" === 0)
    Similarity.cosineTopK(emb, "vec_id", "embedding", query, "embedding",
      k = 10, excludeId = Some(0L))
      .select($"vec_id", $"label", $"cos")
  }

  def qAnnIvf(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val emb = Sources.embeddings(s, dir)
    // coarse K ≈ √n past the oracle scales (floor 8 for n ≤ 2048, so
    // the SQL twin's pinned vec_id<8 assignment replays exactly): with
    // fixed K the probed candidate mass nprobe·n/K grows linearly in n
    val annK = Similarity.autoCoarseK(Similarity.corpusRows(emb), kFloor = 8)
    val centroids = emb.filter($"vec_id" < annK)
      .select($"vec_id".as("cid"), $"embedding".as("cvec"))
    val assigned = Similarity.assignIvf(emb, "vec_id", "embedding",
      centroids, "cid", "cvec")
    val query = emb.filter($"vec_id" === 0)
    Similarity.ivfTopK(assigned, "vec_id", "embedding", centroids, "cid", "cvec",
      query, "embedding", k = 10, nprobe = 3, excludeId = Some(0L))
      .select($"vec_id", $"bucket", $"cos")
  }

  /** Distributed k-means training of the IVF index (k=4, 2 Lloyd
    * iterations, quantized mean updates): reports final cluster sizes and
    * centroid norms — both bit-reproduced by the SQL oracle, which replays
    * the full training loop in chained CTEs.
    */
  def qKmeansTrain(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val emb = Sources.embeddings(s, dir)
    // K scales with the corpus (⌈n/512⌉, floor 4 — the floor covers
    // both oracle scales so the SQL twin's k=4 chain replays exactly);
    // k-means cost is n·K·dim per iteration either way, but a fixed K
    // at 100× data means buckets of n/4 that no downstream IVF/semantic
    // -dedup consumer could use (round-11 verdict item 5)
    val cents = Similarity.trainIvfCentroids(emb, "vec_id", "embedding",
      k = Similarity.autoK(Similarity.corpusRows(emb)), iters = 2)
    val assigned = emb.withColumn("bucket",
      Similarity.argmaxCosine($"embedding", cents))
    val sizes = assigned.groupBy($"bucket").agg(count(lit(1)).as("n_members"))
    // same sequential index-order fold as the oracle's list_sum
    val norms = cents.map { case (cid, c) =>
      var ss = 0.0; var i = 0
      while (i < c.length) { ss += c(i) * c(i); i += 1 }
      (cid, math.sqrt(ss))
    }
    norms.toDF("bucket", "cnorm")
      .join(sizes, Seq("bucket"), "left")
      .select($"bucket".as("cid"),
        coalesce($"n_members", lit(0L)).as("n_members"), $"cnorm")
      .orderBy($"cid")
  }

  /** SemDeDup-style semantic deduplication (Abbas et al.'s shape): train
    * k-means buckets, find cosine near-dup pairs ONLY within buckets
    * (the cluster pruning that makes semantic dedup sub-quadratic), chain
    * them into clusters via connected components, keep one representative
    * per cluster. Reports per-bucket corpus shrinkage. Every stage —
    * quantized k-means, index-order cosine folds, min-label CC — is
    * deterministic, so the oracle replays the entire pipeline in SQL
    * (k-means CTEs + recursive-CTE closure).
    */
  def qSemDedup(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val emb = Sources.embeddings(s, dir)
    // ADAPTIVE K (round-11 verdict item 1): a fixed K=4 made the
    // within-bucket pair stage O(n²/4) — measured exponent 1.83 at 40×
    // data, 69.7 s at sf4-replica. K ≈ ⌈n/512⌉ caps expected bucket size
    // so pair work stays ≈ n·512 — linear; floors at K=4 for n ≤ 2048,
    // so both oracle scales run the exact pinned K the SQL twin encodes
    // (SemDedupAutoKSpec pins the floor and route parity).
    val k = Similarity.autoK(Similarity.corpusRows(emb))
    System.err.println(s"[graft] qSemDedup: autoK -> k=$k")
    val cents = Similarity.trainIvfCentroids(emb, "vec_id", "embedding",
      k = k, iters = 2)
    val assigned = emb.withColumn("bucket",
      Similarity.argmaxCosine($"embedding", cents))
    val pairs = Dedup.embeddingPairs(assigned, "vec_id", "embedding",
      "bucket", 0.35, keepBand = true)
      .select($"bucket", $"vec_a".as("doc_a"), $"vec_b".as("doc_b"))
    // edges never cross buckets (pairs join within bucket), so CC is
    // one grouped union-find pass — the global pointer-jumping loop
    // cost 12.1 s of the 17.0 s sf4-replica wall on 7.5M replica-clique
    // edges (SURVEY.md §5n-1), and its per-round shuffles grow with the
    // corpus while the bucketed pass stays one edge shuffle
    val dropped = Dedup.dupClustersBucketed(pairs, "bucket")
      .filter($"id" =!= $"label").select($"id".as("vec_id"))
      .withColumn("_drop", lit(1L))
    assigned.join(dropped, Seq("vec_id"), "left")
      .groupBy($"bucket")
      .agg(count(lit(1)).as("n_vecs"),
        sum(when($"_drop".isNull, 1L).otherwise(0L)).as("n_kept"))
      .orderBy($"bucket")
  }

  /** REAL multimodal decode, oracle-verified: WAV/PNG media synthesized
    * from pure integer formulas of the doc id, decoded through the actual
    * JDK codecs (javax.sound / javax.imageio — both lossless), reduced to
    * exact integer stats (unit count, value sum, position-weighted
    * checksum). The oracle recomputes the formulas directly, so any codec
    * -path corruption breaks the hash match.
    */
  def qMultimodalRoundtrip(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // codec work (ImageIO/AudioSystem encode+decode per id) is pure CPU
    // and orders of magnitude heavier than the 8-byte id rows carrying
    // it — spread the ids across the full parallelism BEFORE the heavy
    // map (guide §2.5 input skew: the tiny parquet scan otherwise pins
    // all decode work onto 1-3 scan tasks; measured 3 tasks / 3.7 s CPU
    // at sf0.1, wall ≈ CPU/3 instead of CPU/32)
    val ids = Sources.documents(s, dir).select($"doc_id").as[Long]
      .repartition(s.sparkContext.defaultParallelism)
    Multimodal.integerStats(Multimodal.mediaFromIds(ids))
      .toDF()
      .orderBy($"media_id")
  }

  /** Bucketed range join: views within ±30 s of each purchase (no equality
    * key — the shape that degenerates to a nested-loop join without the
    * bucket decomposition in [[RangeJoin]]).
    */
  def qRangeJoin(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ev = Sources.events(s, dir).withColumn("ts_s", epochS($"ts"))
    val purchases = ev.filter($"event_type" === "purchase")
      .select($"event_id".as("p_id"), $"ts_s".as("p_ts"))
    val views = ev.filter($"event_type" === "view")
      .select($"ts_s".as("v_ts"), $"value".as("v_val"))
    RangeJoin.byTolerance(purchases, "p_ts", views, "v_ts", 30L)
      .groupBy($"p_id")
      .agg(count(lit(1)).as("n_views"), xsum($"v_val").as("sum_view_value"))
      .orderBy($"p_id")
  }

  /** Exact k-NN join: 5 query vectors against the corpus, top-10 each —
    * per-partition heaps, corpus never shuffles.
    */
  def qKnnJoin(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val emb = Sources.embeddings(s, dir)
    val queries = emb.filter($"vec_id" < 5)
      .select($"vec_id".as("qid"), $"embedding".as("qv"))
    Similarity.knnJoin(emb, "vec_id", "embedding", queries, "qid", "qv",
      k = 10)
      .orderBy($"query_id", $"vec_id")
  }

  /** IVF-ROUTED k-NN join, oracle-gated end-to-end: every corpus vector is
    * also a query (Q = N = 500 ≫ the 2-chunk×16 route threshold), so
    * [[Similarity.knnJoin]] reroutes through the fully distributed bucket
    * join — zero-shuffle argmax bucket assignment, nprobe=2 probe
    * explosion, ONE shuffle join on bucket, per-query top-k window. The
    * oracle replays assignment, probing, and ranking in SQL with the same
    * `cos DESC, id ASC` tie-breaks, so the corpus-sized-Q path gets the
    * same hash-match guarantee as the exact path (q_knn_join).
    */
  def qKnnJoinIvf(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val emb = Sources.embeddings(s, dir)
    // Coarse buckets now GROW with √n (autoCoarseK; floor 32 for
    // n ≤ 2048 keeps the oracle's pinned vec_id<32 assignment exact):
    // the r9 K=6 config probed a third of the corpus per query, r11's
    // fixed K=32 still meant candidate mass 2n²/32 — with K=⌊√n⌋ the
    // candidate stage is ≈ 2n^1.5 before the τ-prune (round-11 verdict
    // item 5).
    val knnK = Similarity.autoCoarseK(Similarity.corpusRows(emb))
    val cents: Seq[(Long, Array[Double])] = emb.filter($"vec_id" < knnK)
      .select($"vec_id".cast("long"), $"embedding")
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).map(_.toDouble).toArray))
      .sortBy(_._1).toSeq
    val queries = emb.select($"vec_id".as("qid"), $"embedding".as("qv"))
    Similarity.knnJoin(emb, "vec_id", "embedding", queries, "qid", "qv",
      k = 5, chunkSize = 16, ivfCentroids = Some(cents), ivfNprobe = 2,
      ivfRouteChunks = 2)
      .orderBy($"query_id", $"vec_id")
  }

  /** MinHash-LSH quality evaluation: recall of the banded pipeline against
    * the EXACT Jaccard >= 0.5 pair set (via the lossless prefix-filtered
    * AllPairs join with no banding). Verified LSH pairs are a subset of
    * the exact set, so the report is (n_exact, n_lsh, n_missed) — the
    * measure-your-dedup-before-trusting-it number. Both sides reuse the
    * scale-safe operators; the oracle brute-forces the exact set with the
    * integer form 3·|A∩B| >= |A|+|B| (≡ J >= 1/2, no float gate).
    */
  def qMinhashEval(s: SparkSession, dir: String): DataFrame =
    minhashEvalOn(s, dir, _ => lit(true), "")

  /** SAMPLED recall evaluation — the 100 TB form of [[qMinhashEval]]. The
    * exact AllPairs ground truth is quadratic in near-dup pairs by
    * construction, which is fine as an sf0.1 eval but not a corpus-scale
    * protocol. Here the production LSH pipeline still runs over the FULL
    * corpus (that part is linear-ish in documents), while the exact
    * ground truth is computed only inside a deterministic 25 % id-hash
    * sample ([[idSample]], a replica-proof multiplicative mix — a residue
    * gate kept whole replica families, SURVEY §5l-14) — pair work drops
    * by sample² (16×) and the
    * measured recall over sampled pairs is an unbiased estimate of
    * corpus recall. Output: sampled-pair counts + estimated recall.
    */
  def qMinhashEvalSampled(s: SparkSession, dir: String): DataFrame =
    minhashEvalOn(s, dir, idSample, "_sample")

  /** The body of both MinHash evals: `keep` selects the ids whose pairs
    * are scored, `sfx` suffixes the count columns, and a sampled run adds
    * `recall_est`. The arms overlap ([[Dedup.planLock]]) and share no
    * cached frame (raw vs sorted shingle projections differ); the lazy
    * LSH plan runs inside the overlap through its checkpoint.
    */
  private def minhashEvalOn(s: SparkSession, dir: String,
      keep: Column => Column, sfx: String): DataFrame = {
    import s.implicits._
    val docs = withHashedShingles(s, dir)
    val (lsh0, exact0) = Par.both(
      Dedup.lockedCheckpoint(Dedup.minhashLshPairs(docs, "doc_id", "sh",
        numHashes = 64, bands = 16, threshold = 0.5, preHashed = true)),
      Dedup.jaccardPairs(docs.filter(keep($"doc_id")), "doc_id", "sh",
        Seq.empty, 0.5, preHashed = true))
    val counts = recallCounts(exact0,
      lsh0.filter(keep($"doc_a") && keep($"doc_b")), Seq("doc_a", "doc_b"),
      (s"n_exact$sfx", s"n_lsh$sfx", s"n_missed$sfx"))
    if (sfx.isEmpty) counts
    else counts.withColumn("recall_est",
      recallEst(col(s"n_exact$sfx"), col(s"n_missed$sfx")))
  }

  /** Vocabulary-coverage curve (the tokenizer-design metric): rank terms
    * by corpus frequency and report, at power-of-ten vocab cuts and the
    * full vocabulary, the cumulative fraction of token mass covered
    * (ppm, floored — integer-exact both engines).
    *
    * Scale shape: a 100 TB corpus has a vocabulary in the hundreds of
    * millions, so the global rank and running mass come from ONE
    * range-partitioned two-phase prefix-sum pass
    * ([[Pack.exclusivePrefixSums]]: per-partition sort + metadata-sized
    * offsets collect) — no single-partition window anywhere in the plan.
    */
  def qVocabCoverage(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val counts = Sources.documents(s, dir)
      .select(explode(filter(split(lower($"text"), "[^a-z]+"),
        t => t =!= "")).as("term"))
      .groupBy($"term").agg(count(lit(1)).as("c"))
      .localCheckpoint(true) // feeds the prefix pass AND the totals
    // ascending (-c, term) ≡ (c desc, term): rank = prefix-count + 1,
    // cumulative mass = prefix-sum + own count — one shuffle for both
    val ranked = Pack.exclusivePrefixSums(
        counts.withColumn("_negc", -$"c").withColumn("_one", lit(1L)),
        Seq("_negc", "term"), Seq("_one" -> "_rank0", "c" -> "_cum0"))
      .withColumn("rank", $"_rank0" + 1L)
      .withColumn("cum", $"_cum0" + $"c")
      .crossJoin(broadcast(counts.agg(sum($"c").as("total"),
        count(lit(1)).as("n_terms"))))
    ranked
      .filter($"rank" === 10 || $"rank" === 100 || $"rank" === 1000 ||
        $"rank" === $"n_terms")
      .select($"rank".as("vocab_size"),
        expr("cum * 1000000L DIV total").as("coverage_ppm"), $"n_terms")
      .orderBy($"vocab_size")
  }

  def qTextTokens(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Sources.documents(s, dir).select(
      $"doc_id",
      TextAnalysis.wsTokenCount($"text").cast("long").as("n_ws_tokens"),
      TextAnalysis.bpeishTokenCount($"text").cast("long").as("n_bpeish_tokens"),
      $"n_chars")
      .orderBy($"doc_id")
  }

  def qTextQuality(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    TextAnalysis.withQuality(Sources.documents(s, dir), $"text")
      .select($"doc_id", $"n_words", $"avg_word_len", $"stopword_ratio",
        $"alpha_ratio", $"quality_score")
      .orderBy($"doc_id")
  }

  def qTextLangid(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Sources.documents(s, dir)
      .select($"doc_id", $"lang", TextAnalysis.langIdExpr($"text").as("pred_lang"))
      .orderBy($"doc_id")
  }

  /** End-to-end dedup: MinHash-LSH pairs → connected components → corpus
    * with one representative per cluster. Oracle: the same portable-hash
    * LSH chain + a DuckDB `WITH RECURSIVE` min-label closure.
    */
  def qDedupCorpus(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val pairs = Dedup.minhashLshPairs(withHashedShingles(s, dir), "doc_id", "sh",
      numHashes = 64, bands = 16, threshold = 0.5, preHashed = true)
    Dedup.dedupedCorpus(Sources.documents(s, dir), "doc_id", pairs)
      .select($"doc_id", $"lang", $"n_chars")
      .orderBy($"doc_id")
  }

  /** Quality-aware dedup: same LSH-pairs → connected-components chain as
    * [[qDedupCorpus]], but the survivor of each near-dup cluster is the
    * HIGHEST-QUALITY member (longest `n_chars`, ties by lowest id) — the
    * keep-the-best-copy policy a real training-corpus dedup wants, not
    * keep-the-smallest-id. Selection is one `max(struct(quality, -id))`
    * aggregate per cluster — codegen'd, map-side partial, no rank window —
    * so at 100 TB the representative choice costs one narrow shuffle over
    * cluster labels.
    */
  def qDedupKeepBest(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val pairs = Dedup.minhashLshPairs(withHashedShingles(s, dir), "doc_id", "sh",
      numHashes = 64, bands = 16, threshold = 0.5, preHashed = true)
    val labels = Dedup.dupClusters(pairs)
      .withColumnRenamed("id", "doc_id")
    val clustered = Sources.documents(s, dir)
      .select($"doc_id", $"lang", $"n_chars")
      .join(labels, Seq("doc_id"), "left")
      .withColumn("cluster", coalesce($"label", $"doc_id"))
    val best = clustered.groupBy($"cluster")
      .agg(max(struct($"n_chars", (-$"doc_id").as("_nid"))).as("_b"))
      .select(($"_b._nid" * -1).as("doc_id"))
    clustered.join(best, "doc_id")
      .select($"doc_id", $"lang", $"n_chars")
      .orderBy($"doc_id")
  }

  /** Leakage-safe corpus split: near-dup CLUSTERS (LSH pairs → connected
    * components) are the unit of assignment, so two near-identical
    * documents can never land on opposite sides of a train/test boundary —
    * the split-leakage failure mode a doc-id split invites the moment the
    * corpus contains duplicates. Deterministic `cluster % 10` → 80/10/10;
    * reports per-split doc counts, distinct clusters, and char mass.
    */
  def qSplitLeakageSafe(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val pairs = Dedup.minhashLshPairs(withHashedShingles(s, dir), "doc_id", "sh",
      numHashes = 64, bands = 16, threshold = 0.5, preHashed = true)
    val labels = Dedup.dupClusters(pairs)
      .withColumnRenamed("id", "doc_id")
    Sources.documents(s, dir)
      .select($"doc_id", $"n_chars")
      .join(labels, Seq("doc_id"), "left")
      .withColumn("cluster", coalesce($"label", $"doc_id"))
      .withColumn("split",
        when($"cluster" % 10 < 8, lit("train"))
          .when($"cluster" % 10 === 8, lit("valid"))
          .otherwise(lit("test")))
      .groupBy($"split")
      .agg(count(lit(1)).as("n_docs"),
        countDistinct($"cluster").as("n_clusters"),
        sum($"n_chars").as("sum_chars"))
      .orderBy($"split")
  }

  /** Ingest-gate dedup: an incoming batch (odd doc ids) checked against
    * the existing corpus (even ids) — for every new document, the
    * existing document(s) it near-duplicates at J >= 0.5. Runs the same
    * lossless prefix-filtered AllPairs join as [[qDedupNgramJaccard]]
    * (cross-side pairs share a prefix element like any other pair), then
    * orients the report new → existing; the streaming twin is
    * graft.streaming.StreamingDedup.
    */
  def qIngestDedup(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = withHashedShingles(s, dir)
    // the new-vs-existing constraint is BLOCKING, not a report filter:
    // pushed into the candidate posting join so same-side pairs (half of
    // the quadratic candidate mass) are never generated at all
    Dedup.jaccardPairs(docs, "doc_id", "sh", Seq.empty, 0.5, preHashed = true,
      pairPredicate = Some(col("doc_id") % 2 =!= col("doc_id_b") % 2),
      // the parity gate is a function of id % 2 — declaring it as the
      // collapse key keeps every exact-dup group side-pure, so the
      // exact-duplicate collapse stays lossless under the blocking
      collapseKeys = Seq(col("doc_id") % 2))
      .select(
        when($"doc_a" % 2 === 1, $"doc_a").otherwise($"doc_b").as("new_doc"),
        when($"doc_a" % 2 === 1, $"doc_b").otherwise($"doc_a").as("dup_of"),
        $"jaccard")
      .orderBy($"new_doc", $"dup_of")
  }

  /** LSH band-configuration sweep — the tuning table for the MinHash
    * dedup: recall vs the exact Jaccard >= 0.5 set for bands ∈ {8,16,32}
    * (rows-per-band 8/4/2, S-curve thresholds ≈ 0.77/0.55/0.31). One
    * signature computation feeds all three bandings; verified LSH pairs
    * are a subset of the exact set, so recall = n_lsh / n_exact with no
    * extra anti-join. This is the report that justifies the b=16 default
    * the dedup family ships with.
    */
  def qLshSweep(s: SparkSession, dir: String): DataFrame =
    lshSweepOn(s, withHashedShingles(s, dir), "")

  /** Shared sweep body: ONE 64-hash signature pass feeds all three
    * bandings (r10 — minhashLshPairs per banding re-aggregated the
    * signatures three times), candidates verified against the persisted
    * shingle frame, exact arm from the lossless AllPairs join.
    */
  private def lshSweepOn(s: SparkSession, docsIn: DataFrame,
      sfx: String): DataFrame = Dedup.scoped { sc =>
    import s.implicits._
    val docs = sc.checkpoint(docsIn)
    val hashed = sc.persist(docs.select($"doc_id", $"sh".as("_sh")))
    // the signature pass and the exact AllPairs chain are independent
    // arms (see [[Dedup.planLock]])
    val (signed, exactPairs) = Par.both(
      sc.checkpoint(Dedup.minhashSigs(hashed, "doc_id", numHashes = 64)),
      Dedup.jaccardPairs(docs, "doc_id", "sh", Seq.empty, 0.5,
        preHashed = true))
    val exact = exactPairs.agg(count(lit(1)).as(s"n_exact$sfx"))
    val jac = size(array_intersect($"_sh", $"_sh_b")).cast("double") /
      size(array_union($"_sh", $"_sh_b"))
    val rows = Seq(8, 16, 32).map { b =>
      Dedup.bandPairs(Dedup.bandKeysFromSig(signed, "doc_id", 64, b),
          "doc_id", "doc_a", "doc_b")
        .join(hashed.select($"doc_id".as("doc_a"), $"_sh"), "doc_a")
        .join(hashed.select($"doc_id".as("doc_b"), $"_sh".as("_sh_b")),
          "doc_b")
        .filter(jac >= 0.5)
        .agg(count(lit(1)).as(s"n_lsh$sfx"))
        .select(lit(b.toLong).as("bands"), col(s"n_lsh$sfx"))
    }
    sc.checkpoint(rows.reduce(_.unionByName(_))
      .crossJoin(broadcast(exact))
      .select($"bands", col(s"n_lsh$sfx"), col(s"n_exact$sfx"),
        expr(s"n_lsh$sfx * 1000000L DIV greatest(n_exact$sfx, 1)")
          .as("rec_ppm"))
      .orderBy($"bands"))
  }

  /** SAMPLED band-configuration sweep — the 100 TB form of [[qLshSweep]],
    * the same protocol that rescued the minhash/simhash evals
    * (q_minhash_eval_sampled): both arms run inside the deterministic
    * 25 % id-hash sample ([[idSample]]), so the quadratic exact
    * ground truth AND the per-banding candidate/verify work drop by
    * sample² (16×) while the recall ratio stays an unbiased estimate —
    * banding is PAIRWISE-LOCAL (a pair's band collision depends only on
    * its two signatures), so sampling the input corpus yields exactly
    * the sample-restricted pair sets of a full-corpus run. One 64-hash
    * signature pass ([[Dedup.minhashSigs]]) is shared by all three
    * bandings; [[qLshSweep]] remains the full-exact tuning form for
    * small scale factors.
    */
  def qLshSweepSampled(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    lshSweepOn(s, withHashedShingles(s, dir).filter(idSample($"doc_id")),
      "_sample")
  }

  /** Near-dup cluster-size histogram — the dedup REPORT: how much of the
    * corpus sits in duplicate clusters of each size (the number a data
    * curator reads before deciding thresholds). Reuses the MinHash-LSH
    * pair chain + connected components; one extra label aggregate.
    */
  def qDedupClusterSizes(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val pairs = Dedup.minhashLshPairs(withHashedShingles(s, dir), "doc_id", "sh",
      numHashes = 64, bands = 16, threshold = 0.5, preHashed = true)
    Dedup.dupClusters(pairs)
      .groupBy($"label").agg(count(lit(1)).as("cluster_size"))
      .groupBy($"cluster_size").agg(count(lit(1)).as("n_clusters"))
      .orderBy($"cluster_size")
  }

  /** Winnowing rolling-hash fingerprints (k=8 char-grams, window w=4) in
    * ONE native pass ([[graft.plans.WinnowHashes]]) — the per-doc summary
    * is pure array arithmetic, zero shuffles; the oracle replays the
    * identical portable-hash selection with a SQL window min.
    */
  def qFingerprintWinnow(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    graft.plans.WinnowHashes.register(s, k = 8, w = 4)
    Sources.documents(s, dir)
      .select($"doc_id", graft.plans.WinnowHashes.winnowHashes($"text").as("fps"))
      .filter(size($"fps") > 0)
      .select($"doc_id", size($"fps").cast("long").as("n_fps"),
        array_min($"fps").as("min_fp"), array_max($"fps").as("max_fp"))
      .orderBy($"doc_id")
  }

  /** Winnowing near-dup pairs (the MOSS overlap report): docs sharing at
    * least 5 selected fingerprints, ranked by overlap count. A posting
    * join on the fingerprint — never a doc×doc product — with a document-
    * frequency cap: a fingerprint present in >100 docs is a stop-phrase
    * gram carrying no dedup signal, and at scale its posting group is the
    * quadratic blowup (standard winnowing practice drops it).
    */
  def qWinnowPairs(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    graft.plans.WinnowHashes.register(s, k = 8, w = 4)
    // fingerprints computed natively per doc, exploded once, materialized
    // once for the df-filter and both sides of the posting self-join
    val fps = Sources.documents(s, dir)
      .select($"doc_id",
        explode(graft.plans.WinnowHashes.winnowHashes($"text")).as("fp"))
      .localCheckpoint(true)
    // df-cap as a count window over fp (r16, the dfOrderedPosts fusion):
    // the former groupBy(fp) + join-back shuffled the postings by fp for
    // the join anyway — annotating in place drops the aggregate and the
    // join, and the window output stays hash-partitioned by fp, so the
    // posting self-join below needs NO further exchange. Row semantics
    // identical: count(*) per fp over the same exploded rows.
    val kept = fps
      .withColumn("df", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy($"fp")))
      .filter($"df" <= 100).select($"doc_id", $"fp")
    val other = kept.toDF("doc_id_b", "fp")
    kept.join(other, "fp")
      .filter($"doc_id" < $"doc_id_b")
      .groupBy($"doc_id".as("doc_a"), $"doc_id_b".as("doc_b"))
      .agg(count(lit(1)).as("shared_fps"))
      .filter($"shared_fps" >= 5)
      .orderBy($"doc_a", $"doc_b")
  }

  val queries: Map[String, Q] = Map(
    "q_winnow_pairs" -> qWinnowPairs,
    "q_fingerprint_winnow" -> qFingerprintWinnow,
    "q_dedup_corpus" -> qDedupCorpus,
    "q_dedup_keep_best" -> qDedupKeepBest,
    "q_split_leakage_safe" -> qSplitLeakageSafe,
    "q_dedup_cluster_sizes" -> qDedupClusterSizes,
    "q_ingest_dedup" -> qIngestDedup,
    "q_dedup_exact" -> qDedupExact,
    "q_dedup_fingerprint" -> qDedupFingerprint,
    "q_dedup_ngram_jaccard" -> qDedupNgramJaccard,
    "q_dedup_containment" -> qDedupContainment,
    "q_dedup_containment_banded" -> qDedupContainmentBanded,
    "q_containment_eval_sampled" -> qContainmentEvalSampled,
    "q_dedup_containment_lsh" -> qDedupContainmentLsh,
    "q_containment_lsh_eval_sampled" -> qContainmentLshEvalSampled,
    "q_dedup_minhash" -> qDedupMinhash,
    "q_minhash_eval" -> qMinhashEval,
    "q_minhash_eval_sampled" -> qMinhashEvalSampled,
    "q_simhash_eval" -> qSimhashEval,
    "q_simhash_eval_sampled" -> qSimhashEvalSampled,
    "q_lsh_sweep" -> qLshSweep,
    "q_lsh_sweep_sampled" -> qLshSweepSampled,
    "q_dedup_simhash" -> qDedupSimhash,
    "q_dedup_embedding" -> qDedupEmbedding,
    "q_dedup_embedding_exact" -> qDedupEmbeddingExact,
    "q_dedup_embedding_lsh" -> qDedupEmbeddingLsh,
    "q_dedup_embedding_lsh_pinned" -> qDedupEmbeddingLshPinned,
    "q_ann_bruteforce" -> qAnnBruteforce,
    "q_ann_ivf" -> qAnnIvf,
    "q_knn_join" -> qKnnJoin,
    "q_knn_join_ivf" -> qKnnJoinIvf,
    "q_vocab_coverage" -> qVocabCoverage,
    "q_text_tokens" -> qTextTokens,
    "q_text_quality" -> qTextQuality,
    "q_text_langid" -> qTextLangid,
    "q_kmeans_train" -> qKmeansTrain,
    "q_semdedup" -> qSemDedup,
    "q_multimodal_roundtrip" -> qMultimodalRoundtrip,
    "q_range_join" -> qRangeJoin)

  // Shared oracle fragments
  private val W =
    "list_filter(regexp_split_to_array(lower(text), '[^a-z]+'), x -> x <> '')"
  /** DuckDB twin of [[graft.functions.portableHash64]]. */
  private def md(e: String) = s"CAST('0x'||substr(md5($e),1,15) AS BIGINT)"
  /** Portable-hash OPH MinHash + LSH chain (the DuckDB twin of
    * [[Dedup.minhashLshPairs]] with hashFn=portableHash64): CTEs ending in
    * `mh_pairs(doc_a, doc_b, jaccard)`. 64 hashes, 16 bands of 4 rows,
    * threshold 0.5 — matching `q_dedup_minhash`/`q_dedup_corpus`.
    */
  /** DuckDB twin of [[qLshSweep]]: the shared hashed/ne/sig front matter,
    * one banded/cand/count chain per band configuration, and the exact
    * pair count from the integer-form Jaccard gate.
    */
  private def lshSweepOracle: String = lshSweepOracleFor("TRUE", "")

  /** Same chain with the corpus restricted by `where` and count columns
    * suffixed (the q_lsh_sweep_sampled twin — sampling the input corpus
    * IS restricting the pair universe, since band collisions are
    * pairwise-local).
    */
  private def lshSweepOracleFor(where: String, sfx: String): String = {
    def chain(b: Int): String = {
      val r = 64 / b
      s"""banded$b AS (
         |  SELECT doc_id, t.bb,
         |    list_slice(sg, CAST(t.bb*$r+1 AS BIGINT), CAST(t.bb*$r+$r AS BIGINT)) AS bk
         |  FROM sig CROSS JOIN range(0, $b) t(bb)),
         |cand$b AS (
         |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM banded$b a JOIN banded$b b ON a.bb = b.bb AND a.bk = b.bk
         |    AND a.doc_id < b.doc_id),
         |cnt$b AS (
         |  SELECT COUNT(*) AS n_lsh
         |  FROM cand$b c JOIN ne x ON c.doc_a = x.doc_id
         |    JOIN ne y ON c.doc_b = y.doc_id
         |  WHERE 3 * len(list_intersect(x.hs, y.hs)) >= len(x.hs) + len(y.hs))""".stripMargin
    }
    s"""WITH hashed AS (
       |  SELECT doc_id, list_distinct(list_transform(${shingleSql(W)}, s -> ${md("s")})) AS hs
       |  FROM documents WHERE $where),
       |ne AS (SELECT doc_id, hs FROM hashed WHERE len(hs) > 0),
       |sig0 AS (
       |  SELECT doc_id,
       |    list_transform(range(0, 64), i ->
       |      list_min(list_filter(hs, h -> h % 64 = i))) AS m
       |  FROM ne),
       |sig AS (
       |  SELECT doc_id,
       |    list_transform(range(0, 64), i ->
       |      (list_filter(list_transform(range(0, 64), j ->
       |         m[CAST((i + j) % 64 + 1 AS BIGINT)]),
       |        v -> v IS NOT NULL))[1]) AS sg
       |  FROM sig0),
       |exact AS (
       |  SELECT COUNT(*) AS n_exact
       |  FROM ne a JOIN ne b ON a.doc_id < b.doc_id
       |  WHERE 3 * len(list_intersect(a.hs, b.hs)) >= len(a.hs) + len(b.hs)),
       |${Seq(8, 16, 32).map(chain).mkString(",\n")}
       |SELECT * FROM (
       |  SELECT CAST(8 AS BIGINT) AS bands, n_lsh AS n_lsh$sfx,
       |    n_exact AS n_exact$sfx,
       |    n_lsh * 1000000 // GREATEST(n_exact, 1) AS rec_ppm
       |  FROM cnt8, exact
       |  UNION ALL SELECT 16, n_lsh, n_exact,
       |    n_lsh * 1000000 // GREATEST(n_exact, 1) FROM cnt16, exact
       |  UNION ALL SELECT 32, n_lsh, n_exact,
       |    n_lsh * 1000000 // GREATEST(n_exact, 1) FROM cnt32, exact)
       |ORDER BY bands""".stripMargin
  }

  private def minhashChainSql(w: String): String =
    s"""hashed AS (
       |  SELECT doc_id, list_distinct(list_transform(${shingleSql(w)}, s -> ${md("s")})) AS hs
       |  FROM documents),
       |ne AS (SELECT doc_id, hs FROM hashed WHERE len(hs) > 0),
       |sig0 AS (
       |  SELECT doc_id,
       |    list_transform(range(0, 64), i ->
       |      list_min(list_filter(hs, h -> h % 64 = i))) AS m
       |  FROM ne),
       |sig AS (
       |  SELECT doc_id,
       |    list_transform(range(0, 64), i ->
       |      (list_filter(list_transform(range(0, 64), j ->
       |         m[CAST((i + j) % 64 + 1 AS BIGINT)]),
       |        v -> v IS NOT NULL))[1]) AS sg
       |  FROM sig0),
       |banded AS (
       |  SELECT doc_id, t.bb, list_slice(sg, CAST(t.bb*4+1 AS BIGINT), CAST(t.bb*4+4 AS BIGINT)) AS bk
       |  FROM sig CROSS JOIN range(0, 16) t(bb)),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM banded a JOIN banded b ON a.bb = b.bb AND a.bk = b.bk
       |    AND a.doc_id < b.doc_id),
       |mh_pairs AS (
       |  SELECT c.doc_a, c.doc_b,
       |    CAST(len(list_intersect(x.hs, y.hs)) AS DOUBLE)
       |      / len(list_distinct(list_concat(x.hs, y.hs))) AS jaccard
       |  FROM cand c JOIN ne x ON c.doc_a = x.doc_id
       |    JOIN ne y ON c.doc_b = y.doc_id
       |  WHERE CAST(len(list_intersect(x.hs, y.hs)) AS DOUBLE)
       |      / len(list_distinct(list_concat(x.hs, y.hs))) >= 0.5)""".stripMargin
  /** DuckDB twin of the banded containment chain
    * ([[Dedup.containmentPairsBanded]], queryCap 8 / adaptive dfCap):
    * distinct-set collapse (group by the SORTED hash list, rep = min id),
    * document frequency over reps, per-rep rarest-first (df, h) ranking,
    * query prefix `n − ceil(4n/5) + 1` capped at 8 postings, stop-shingle
    * df cap `greatest(256, reps // 64)` on both sides, exact intersect
    * verify of survivors, then member expansion (cross-group pairs
    * inherit the rep pair's counts; within-group pairs are identity
    * containment, both directions, empty sets excluded). CTEs end in
    * `bpairs(doc_sub, doc_sup, common, size_sub, containment)`.
    * `docFilter` restricts the corpus (the sampled eval arm).
    */
  /** Shared distinct-set collapse prelude (rep = min id per sorted hash
    * list, member→rep mapping) for the banded and LSH containment oracle
    * chains; ends in `bbase(doc_id, hs, n)` + `bm(doc_id, rep)`.
    */
  private def containmentCollapseSql(docFilter: String) =
    s"""bhs0 AS (
       |  SELECT doc_id,
       |    list_sort(list_distinct(list_transform(${shingleSql(W)}, s -> ${md("s")}))) AS hs
       |  FROM documents $docFilter),
       |brept AS (SELECT hs, MIN(doc_id) AS rep FROM bhs0 GROUP BY hs),
       |bbase AS (SELECT rep AS doc_id, hs, len(hs) AS n FROM brept),
       |bm AS (SELECT bhs0.doc_id, brept.rep FROM bhs0 JOIN brept USING (hs))""".stripMargin

  /** Member expansion of rep-level directed pairs `rp(a, b, common, n_a)`
    * (cross-group pairs inherit the rep pair's counts; within-group pairs
    * are identity containment, both directions, empty sets excluded) —
    * the SQL twin of the collapse expansion in
    * [[Dedup.containmentPairs]]'s collapse arm.
    */
  private def containmentExpandSql(rp: String, out: String) =
    s"""$out AS (
       |  SELECT msub.doc_id AS doc_sub, msup.doc_id AS doc_sup,
       |    CAST(common AS BIGINT) AS common, CAST(n_a AS BIGINT) AS size_sub,
       |    CAST(common AS DOUBLE) / n_a AS containment
       |  FROM $rp JOIN bm msub ON msub.rep = $rp.a
       |    JOIN bm msup ON msup.rep = $rp.b
       |  UNION ALL
       |  SELECT x.doc_id AS doc_sub, y.doc_id AS doc_sup,
       |    CAST(bb.n AS BIGINT) AS common, CAST(bb.n AS BIGINT) AS size_sub,
       |    1.0 AS containment
       |  FROM bm x JOIN bm y ON x.rep = y.rep AND x.doc_id <> y.doc_id
       |  JOIN bbase bb ON bb.doc_id = x.rep WHERE bb.n > 0)""".stripMargin

  /** DuckDB twin of [[Dedup.containmentPairsLsh]] (64-hash OPH, 32 bands
    * × 2 rows): the same portable OPH signature chain as
    * [[minhashChainSql]] but over the COLLAPSED rep corpus, band-bucket
    * candidates in both directions, exact directed verify at C ≥ 4/5,
    * then member expansion. CTEs end in `lpairs`.
    */
  private def lshContainmentChainSql(docFilter: String) =
    s"""${containmentCollapseSql(docFilter)},
       |lne AS (SELECT doc_id, hs, n FROM bbase WHERE n > 0),
       |lsig0 AS (
       |  SELECT doc_id,
       |    list_transform(range(0, 64), i ->
       |      list_min(list_filter(hs, h -> h % 64 = i))) AS m
       |  FROM lne),
       |lsig AS (
       |  SELECT doc_id,
       |    list_transform(range(0, 64), i ->
       |      (list_filter(list_transform(range(0, 64), j ->
       |         m[CAST((i + j) % 64 + 1 AS BIGINT)]),
       |        v -> v IS NOT NULL))[1]) AS sg
       |  FROM lsig0),
       |lbanded AS (
       |  SELECT doc_id, t.bb,
       |    list_slice(sg, CAST(t.bb*2+1 AS BIGINT), CAST(t.bb*2+2 AS BIGINT)) AS bk
       |  FROM lsig CROSS JOIN range(0, 32) t(bb)),
       |lund AS (
       |  SELECT DISTINCT a.doc_id AS a, b.doc_id AS b
       |  FROM lbanded a JOIN lbanded b ON a.bb = b.bb AND a.bk = b.bk
       |    AND a.doc_id < b.doc_id),
       |lcand AS (SELECT a, b FROM lund UNION ALL SELECT b AS a, a AS b FROM lund),
       |lrp AS (
       |  SELECT a, b, len(list_intersect(ba.hs, bz.hs)) AS common, ba.n AS n_a
       |  FROM lcand JOIN bbase ba ON ba.doc_id = lcand.a
       |    JOIN bbase bz ON bz.doc_id = lcand.b
       |  WHERE len(list_intersect(ba.hs, bz.hs)) * 5 >= ba.n * 4),
       |${containmentExpandSql("lrp", "lpairs")}""".stripMargin

  private def bandedContainmentChainSql(docFilter: String) =
    s"""${containmentCollapseSql(docFilter)},
       |bdc AS (SELECT greatest(256, (SELECT COUNT(*) FROM bbase) // 64) AS dfcap),
       |be AS (SELECT doc_id, unnest(hs) AS h FROM bbase),
       |bdft AS (SELECT h, COUNT(*) AS df FROM be GROUP BY h),
       |br AS (
       |  SELECT be.doc_id, be.h, bdft.df, bbase.n,
       |    row_number() OVER (PARTITION BY be.doc_id
       |      ORDER BY bdft.df, be.h) AS pos
       |  FROM be JOIN bdft USING (h) JOIN bbase USING (doc_id)),
       |bq AS (
       |  SELECT doc_id, h FROM br, bdc
       |  WHERE pos <= least(n - (n * 4 + 4) // 5 + 1, 8) AND df <= dfcap),
       |bix AS (SELECT doc_id, h FROM br, bdc WHERE df <= dfcap),
       |bcand AS (
       |  SELECT DISTINCT bq.doc_id AS a, bix.doc_id AS b
       |  FROM bq JOIN bix USING (h) WHERE bq.doc_id <> bix.doc_id),
       |brp AS (
       |  SELECT a, b, len(list_intersect(ba.hs, bz.hs)) AS common, ba.n AS n_a
       |  FROM bcand JOIN bbase ba ON ba.doc_id = a JOIN bbase bz ON bz.doc_id = b
       |  WHERE len(list_intersect(ba.hs, bz.hs)) * 5 >= ba.n * 4),
       |${containmentExpandSql("brp", "bpairs")}""".stripMargin

  private def shingleSql(w: String) =
    s"list_distinct(CASE WHEN len($w) >= 3 THEN " +
      s"list_transform(range(1, len($w)-1), i -> $w[i]||' '||$w[i+1]||' '||$w[i+2]) " +
      "ELSE [] END)"
  private val DotFold =
    "list_sum(list_transform(range(1, 65), i -> CAST(%s[i] AS DOUBLE) * CAST(%s[i] AS DOUBLE)))"
  private def dot(a: String, b: String) = DotFold.format(a, b)
  private def cos(a: String, b: String) =
    s"${dot(a, b)} / (sqrt(${dot(a, a)}) * sqrt(${dot(b, b)}))"
  /** DuckDB twin of the sign-random-projection band keys: the ±1
    * hyperplane constants come from the SAME [[Dedup.hyperplanes]] bank
    * (±1 literals round-trip exactly), so both engines bucket identically.
    */
  private def hpBandKeySql(vec: String, band: Int, rows: Int): String =
    (0 until rows).map { r =>
      val lit = Dedup.hyperplanes(band * rows + r)
        .map(x => if (x > 0) "1.0" else "-1.0").mkString("[", ",", "]")
      val d = s"list_sum(list_transform(range(1, 65), i -> " +
        s"CAST($vec[i] AS DOUBLE) * ($lit)[i]))"
      s"(CASE WHEN $d > 0 THEN ${1 << r} ELSE 0 END)"
    }.mkString(" + ")

  /** Shared DuckDB twin for the embedding-LSH pair queries at the PINNED
    * (bands=8, rows=8) shape — valid for the adaptive Scala entries too
    * because [[Dedup.autoBanding]] floors to exactly (8, 8) at both
    * correctness scales (n=500 / n=2000 ≤ occ·2⁸ = 4096;
    * EmbeddingLshAutoSpec pins it). `withLabel` adds the same-label
    * requirement of q_dedup_embedding (label ∧ LSH bucket candidates).
    */
  private def embeddingLshSql(withLabel: Boolean): String = {
    val lbl = if (withLabel) ", label" else ""
    val lblJoin = if (withLabel) " AND a.label = b.label" else ""
    s"""WITH sig AS (
       |  SELECT vec_id$lbl, embedding,
       |    ${(0 until 8).map(b => s"${hpBandKeySql("embedding", b, 8)} AS bk$b")
              .mkString(",\n    ")}
       |  FROM embeddings),
       |br AS (
       |  ${(0 until 8).map(b =>
              s"SELECT vec_id$lbl, $b AS band, bk$b AS bk FROM sig")
              .mkString("\n  UNION ALL ")}),
       |cand AS (
       |  SELECT DISTINCT a.vec_id AS va, b.vec_id AS vb
       |  FROM br a JOIN br b ON a.band = b.band AND a.bk = b.bk$lblJoin
       |    AND a.vec_id < b.vec_id)
       |SELECT c.va AS vec_a, c.vb AS vec_b,
       |  ${cos("x.embedding", "y.embedding")} AS cos
       |FROM cand c JOIN embeddings x ON c.va = x.vec_id
       |  JOIN embeddings y ON c.vb = y.vec_id
       |WHERE ${cos("x.embedding", "y.embedding")} >= 0.40
       |ORDER BY vec_a, vec_b""".stripMargin
  }

  /** Winnowing CTE chain (k=8, w=4, portable hash), ending in
    * `wfps(doc_id, fp)` — distinct selected fingerprints per doc.
    */
  private def winnowChainSql: String =
    s"""base AS (
       |  SELECT doc_id,
       |    regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g') AS norm
       |  FROM documents),
       |b2 AS (
       |  SELECT doc_id, norm, greatest(length(norm) - 7, 0) AS ng FROM base),
       |gi AS (
       |  SELECT doc_id, ng, norm,
       |    unnest(range(1, CAST(greatest(ng + 1, 1) AS BIGINT))) AS i
       |  FROM b2),
       |grams AS (
       |  SELECT doc_id, ng, CAST(i AS BIGINT) AS i,
       |    ${md("substr(norm, CAST(i AS INT), 8)")} AS h
       |  FROM gi),
       |sel AS (
       |  SELECT doc_id, ng, i,
       |    MIN(h) OVER (PARTITION BY doc_id ORDER BY i
       |      ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS fp
       |  FROM grams),
       |wfps AS (SELECT DISTINCT doc_id, fp FROM sel WHERE i <= ng - 3)""".stripMargin

  val oracles: Map[String, String] = Map(
    "q_fingerprint_winnow" ->
      s"""WITH $winnowChainSql
         |SELECT doc_id, COUNT(*) AS n_fps,
         |  MIN(fp) AS min_fp, MAX(fp) AS max_fp
         |FROM wfps
         |GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "q_winnow_pairs" ->
      s"""WITH $winnowChainSql,
         |rare AS (SELECT fp FROM wfps GROUP BY fp HAVING COUNT(*) <= 100),
         |kept AS (SELECT w.doc_id, w.fp FROM wfps w JOIN rare USING (fp))
         |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS shared_fps
         |FROM kept a JOIN kept b ON a.fp = b.fp AND a.doc_id < b.doc_id
         |GROUP BY a.doc_id, b.doc_id
         |HAVING COUNT(*) >= 5
         |ORDER BY doc_a, doc_b""".stripMargin,
    "q_dedup_containment" ->
      s"""WITH hs0 AS (
         |  SELECT doc_id, list_distinct(list_transform(${shingleSql(W)}, s -> ${md("s")})) AS hs
         |  FROM documents),
         |e AS (SELECT doc_id, unnest(hs) AS h FROM hs0),
         |p AS (
         |  SELECT a.doc_id AS doc_sub, b.doc_id AS doc_sup, COUNT(*) AS common
         |  FROM e a JOIN e b ON a.h = b.h AND a.doc_id <> b.doc_id
         |  GROUP BY 1, 2),
         |sz AS (SELECT doc_id, len(hs) AS n FROM hs0)
         |SELECT doc_sub, doc_sup, common, CAST(sz.n AS BIGINT) AS size_sub,
         |  CAST(common AS DOUBLE) / sz.n AS containment
         |FROM p JOIN sz ON p.doc_sub = sz.doc_id
         |WHERE common * 5 >= sz.n * 4
         |ORDER BY doc_sub, doc_sup""".stripMargin,
    "q_dedup_containment_banded" ->
      s"""WITH ${bandedContainmentChainSql("")}
         |SELECT doc_sub, doc_sup, common, size_sub, containment
         |FROM bpairs ORDER BY doc_sub, doc_sup""".stripMargin,
    "q_dedup_containment_lsh" ->
      s"""WITH ${lshContainmentChainSql("")}
         |SELECT doc_sub, doc_sup, common, size_sub, containment
         |FROM lpairs ORDER BY doc_sub, doc_sup""".stripMargin,
    "q_containment_lsh_eval_sampled" ->
      s"""WITH ${lshContainmentChainSql(
             "WHERE " + idSampleSql("doc_id"))},
         |ee AS (SELECT doc_id, unnest(hs) AS h FROM bhs0),
         |ep AS (
         |  SELECT a.doc_id AS doc_sub, b.doc_id AS doc_sup, COUNT(*) AS c
         |  FROM ee a JOIN ee b ON a.h = b.h AND a.doc_id <> b.doc_id
         |  GROUP BY 1, 2),
         |esz AS (SELECT doc_id, len(hs) AS n FROM bhs0),
         |exact AS (
         |  SELECT doc_sub, doc_sup FROM ep JOIN esz ON ep.doc_sub = esz.doc_id
         |  WHERE c * 5 >= esz.n * 4),
         |cnt AS (
         |  SELECT (SELECT COUNT(*) FROM exact) AS n_exact_sample,
         |    (SELECT COUNT(*) FROM lpairs) AS n_lsh_sample,
         |    (SELECT COUNT(*) FROM exact e LEFT JOIN lpairs p
         |       ON e.doc_sub = p.doc_sub AND e.doc_sup = p.doc_sup
         |     WHERE p.doc_sub IS NULL) AS n_missed_sample)
         |SELECT n_exact_sample, n_lsh_sample, n_missed_sample,
         |  CASE WHEN n_exact_sample = 0 THEN NULL
         |    ELSE CAST(n_exact_sample - n_missed_sample AS DOUBLE)
         |      / n_exact_sample END AS recall_est
         |FROM cnt""".stripMargin,
    "q_containment_eval_sampled" ->
      s"""WITH ${bandedContainmentChainSql(
             "WHERE " + idSampleSql("doc_id"))},
         |ee AS (SELECT doc_id, unnest(hs) AS h FROM bhs0),
         |ep AS (
         |  SELECT a.doc_id AS doc_sub, b.doc_id AS doc_sup, COUNT(*) AS c
         |  FROM ee a JOIN ee b ON a.h = b.h AND a.doc_id <> b.doc_id
         |  GROUP BY 1, 2),
         |esz AS (SELECT doc_id, len(hs) AS n FROM bhs0),
         |exact AS (
         |  SELECT doc_sub, doc_sup FROM ep JOIN esz ON ep.doc_sub = esz.doc_id
         |  WHERE c * 5 >= esz.n * 4),
         |cnt AS (
         |  SELECT (SELECT COUNT(*) FROM exact) AS n_exact_sample,
         |    (SELECT COUNT(*) FROM bpairs) AS n_banded_sample,
         |    (SELECT COUNT(*) FROM exact e LEFT JOIN bpairs p
         |       ON e.doc_sub = p.doc_sub AND e.doc_sup = p.doc_sup
         |     WHERE p.doc_sub IS NULL) AS n_missed_sample)
         |SELECT n_exact_sample, n_banded_sample, n_missed_sample,
         |  CASE WHEN n_exact_sample = 0 THEN NULL
         |    ELSE CAST(n_exact_sample - n_missed_sample AS DOUBLE)
         |      / n_exact_sample END AS recall_est
         |FROM cnt""".stripMargin,
    "q_dedup_minhash" ->
      s"""WITH ${minhashChainSql(W)}
         |SELECT doc_a, doc_b, jaccard FROM mh_pairs
         |ORDER BY doc_a, doc_b""".stripMargin,
    "q_minhash_eval" ->
      s"""WITH ${minhashChainSql(W)},
         |exact AS (
         |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM ne a JOIN ne b ON a.doc_id < b.doc_id
         |  WHERE 3 * len(list_intersect(a.hs, b.hs)) >= len(a.hs) + len(b.hs))
         |SELECT (SELECT COUNT(*) FROM exact) AS n_exact,
         |  (SELECT COUNT(*) FROM mh_pairs) AS n_lsh,
         |  (SELECT COUNT(*) FROM exact e LEFT JOIN mh_pairs m
         |     ON e.doc_a = m.doc_a AND e.doc_b = m.doc_b
         |   WHERE m.doc_a IS NULL) AS n_missed""".stripMargin,
    "q_minhash_eval_sampled" ->
      s"""WITH ${minhashChainSql(W)},
         |exact AS (
         |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM ne a JOIN ne b ON a.doc_id < b.doc_id
         |  WHERE ${idSampleSql("a.doc_id")} AND ${idSampleSql("b.doc_id")}
         |    AND 3 * len(list_intersect(a.hs, b.hs)) >= len(a.hs) + len(b.hs)),
         |lshs AS (
         |  SELECT doc_a, doc_b FROM mh_pairs
         |  WHERE ${idSampleSql("doc_a")} AND ${idSampleSql("doc_b")}),
         |c AS (
         |  SELECT (SELECT COUNT(*) FROM exact) AS n_exact_sample,
         |    (SELECT COUNT(*) FROM lshs) AS n_lsh_sample,
         |    (SELECT COUNT(*) FROM exact e LEFT JOIN lshs m
         |       ON e.doc_a = m.doc_a AND e.doc_b = m.doc_b
         |     WHERE m.doc_a IS NULL) AS n_missed_sample)
         |SELECT n_exact_sample, n_lsh_sample, n_missed_sample,
         |  CASE WHEN n_exact_sample = 0 THEN NULL
         |    ELSE CAST(n_exact_sample - n_missed_sample AS DOUBLE)
         |      / n_exact_sample END AS recall_est
         |FROM c""".stripMargin,
    "q_ingest_dedup" ->
      s"""WITH h AS (
         |  SELECT doc_id, list_distinct(list_transform(${shingleSql(W)}, s -> ${md("s")})) AS hs
         |  FROM documents),
         |ne AS (SELECT doc_id, hs FROM h WHERE len(hs) > 0),
         |p AS (
         |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |    len(list_intersect(a.hs, b.hs)) AS c,
         |    len(a.hs) + len(b.hs) AS nab
         |  FROM ne a JOIN ne b ON a.doc_id < b.doc_id
         |    AND (a.doc_id % 2) <> (b.doc_id % 2))
         |SELECT
         |  CASE WHEN doc_a % 2 = 1 THEN doc_a ELSE doc_b END AS new_doc,
         |  CASE WHEN doc_a % 2 = 1 THEN doc_b ELSE doc_a END AS dup_of,
         |  CAST(c AS DOUBLE) / (nab - c) AS jaccard
         |FROM p WHERE 3 * c >= nab
         |ORDER BY new_doc, dup_of""".stripMargin,
    "q_dedup_cluster_sizes" ->
      s"""WITH RECURSIVE ${minhashChainSql(W)},
         |edges AS (
         |  SELECT doc_a AS src, doc_b AS dst FROM mh_pairs
         |  UNION SELECT doc_b, doc_a FROM mh_pairs),
         |reach(id, n) AS (
         |  SELECT DISTINCT src, src FROM edges
         |  UNION
         |  SELECT r.id, e.dst FROM reach r JOIN edges e ON r.n = e.src),
         |lbl AS (SELECT id, MIN(n) AS label FROM reach GROUP BY id),
         |cs AS (SELECT label, COUNT(*) AS cluster_size FROM lbl GROUP BY label)
         |SELECT cluster_size, COUNT(*) AS n_clusters FROM cs
         |GROUP BY cluster_size ORDER BY cluster_size""".stripMargin,
    "q_dedup_corpus" ->
      s"""WITH RECURSIVE ${minhashChainSql(W)},
         |edges AS (
         |  SELECT doc_a AS src, doc_b AS dst FROM mh_pairs
         |  UNION SELECT doc_b, doc_a FROM mh_pairs),
         |reach(id, n) AS (
         |  SELECT DISTINCT src, src FROM edges
         |  UNION
         |  SELECT r.id, e.dst FROM reach r JOIN edges e ON r.n = e.src),
         |lbl AS (SELECT id, MIN(n) AS label FROM reach GROUP BY id)
         |SELECT d.doc_id, d.lang, d.n_chars FROM documents d
         |WHERE d.doc_id NOT IN (SELECT id FROM lbl WHERE id <> label)
         |ORDER BY doc_id""".stripMargin,
    "q_dedup_keep_best" ->
      s"""WITH RECURSIVE ${minhashChainSql(W)},
         |edges AS (
         |  SELECT doc_a AS src, doc_b AS dst FROM mh_pairs
         |  UNION SELECT doc_b, doc_a FROM mh_pairs),
         |reach(id, n) AS (
         |  SELECT DISTINCT src, src FROM edges
         |  UNION
         |  SELECT r.id, e.dst FROM reach r JOIN edges e ON r.n = e.src),
         |lbl AS (SELECT id, MIN(n) AS label FROM reach GROUP BY id),
         |cl AS (
         |  SELECT d.doc_id, d.lang, d.n_chars,
         |    coalesce(l.label, d.doc_id) AS cluster
         |  FROM documents d LEFT JOIN lbl l ON d.doc_id = l.id),
         |mx AS (SELECT cluster, MAX(n_chars) AS mxc FROM cl GROUP BY cluster),
         |keep AS (
         |  SELECT cl.cluster, MIN(cl.doc_id) AS doc_id
         |  FROM cl JOIN mx ON cl.cluster = mx.cluster AND cl.n_chars = mx.mxc
         |  GROUP BY cl.cluster)
         |SELECT c.doc_id, c.lang, c.n_chars
         |FROM cl c JOIN keep k ON c.doc_id = k.doc_id
         |ORDER BY c.doc_id""".stripMargin,
    "q_split_leakage_safe" ->
      s"""WITH RECURSIVE ${minhashChainSql(W)},
         |edges AS (
         |  SELECT doc_a AS src, doc_b AS dst FROM mh_pairs
         |  UNION SELECT doc_b, doc_a FROM mh_pairs),
         |reach(id, n) AS (
         |  SELECT DISTINCT src, src FROM edges
         |  UNION
         |  SELECT r.id, e.dst FROM reach r JOIN edges e ON r.n = e.src),
         |lbl AS (SELECT id, MIN(n) AS label FROM reach GROUP BY id),
         |cl AS (
         |  SELECT d.doc_id, d.n_chars,
         |    coalesce(l.label, d.doc_id) AS cluster
         |  FROM documents d LEFT JOIN lbl l ON d.doc_id = l.id),
         |sp AS (
         |  SELECT doc_id, n_chars, cluster,
         |    CASE WHEN cluster % 10 < 8 THEN 'train'
         |      WHEN cluster % 10 = 8 THEN 'valid' ELSE 'test' END AS split
         |  FROM cl)
         |SELECT split, COUNT(*) AS n_docs,
         |  COUNT(DISTINCT cluster) AS n_clusters,
         |  CAST(SUM(n_chars) AS BIGINT) AS sum_chars
         |FROM sp GROUP BY split ORDER BY split""".stripMargin,
    "q_lsh_sweep" -> lshSweepOracle,
    "q_lsh_sweep_sampled" -> lshSweepOracleFor(idSampleSql("doc_id"), "_sample"),
    "q_simhash_eval" ->
      s"""WITH t AS (
         |  SELECT doc_id, list_transform($W, w -> ${md("w")}) AS tok,
         |    list_distinct(list_transform(${shingleSql(W)}, s -> ${md("s")})) AS hs
         |  FROM documents),
         |sg AS (
         |  SELECT doc_id, hs,
         |    CAST(list_sum(list_transform(range(0, 60), b ->
         |      CASE WHEN 2 * len(list_filter(tok, h -> ((h >> b) & 1) = 1)) > len(tok)
         |        THEN (CAST(1 AS BIGINT) << b) ELSE CAST(0 AS BIGINT) END)) AS BIGINT) AS sim
         |  FROM t),
         |sh AS (
         |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM sg a JOIN sg b ON a.doc_id < b.doc_id
         |  WHERE bit_count(xor(a.sim, b.sim)) <= 5),
         |ne AS (SELECT doc_id, hs FROM sg WHERE len(hs) > 0),
         |exact AS (
         |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM ne a JOIN ne b ON a.doc_id < b.doc_id
         |  WHERE 3 * len(list_intersect(a.hs, b.hs)) >= len(a.hs) + len(b.hs)),
         |c AS (
         |  SELECT (SELECT COUNT(*) FROM sh) AS n_simhash,
         |    (SELECT COUNT(*) FROM exact) AS n_exact,
         |    (SELECT COUNT(*) FROM sh JOIN exact
         |       ON sh.doc_a = exact.doc_a AND sh.doc_b = exact.doc_b) AS n_both)
         |SELECT n_simhash, n_exact, n_both,
         |  n_both * 1000000 // GREATEST(n_simhash, 1) AS prec_ppm,
         |  n_both * 1000000 // GREATEST(n_exact, 1) AS rec_ppm
         |FROM c""".stripMargin,
    "q_simhash_eval_sampled" ->
      s"""WITH t AS (
         |  SELECT doc_id, list_transform($W, w -> ${md("w")}) AS tok,
         |    list_distinct(list_transform(${shingleSql(W)}, s -> ${md("s")})) AS hs
         |  FROM documents),
         |sg AS (
         |  SELECT doc_id, hs,
         |    CAST(list_sum(list_transform(range(0, 60), b ->
         |      CASE WHEN 2 * len(list_filter(tok, h -> ((h >> b) & 1) = 1)) > len(tok)
         |        THEN (CAST(1 AS BIGINT) << b) ELSE CAST(0 AS BIGINT) END)) AS BIGINT) AS sim
         |  FROM t),
         |sh AS (
         |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM sg a JOIN sg b ON a.doc_id < b.doc_id
         |  WHERE bit_count(xor(a.sim, b.sim)) <= 5
         |    AND ${idSampleSql("a.doc_id")} AND ${idSampleSql("b.doc_id")}),
         |ne AS (SELECT doc_id, hs FROM sg
         |  WHERE len(hs) > 0 AND ${idSampleSql("doc_id")}),
         |exact AS (
         |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM ne a JOIN ne b ON a.doc_id < b.doc_id
         |  WHERE 3 * len(list_intersect(a.hs, b.hs)) >= len(a.hs) + len(b.hs)),
         |c AS (
         |  SELECT (SELECT COUNT(*) FROM sh) AS n_simhash_sample,
         |    (SELECT COUNT(*) FROM exact) AS n_exact_sample,
         |    (SELECT COUNT(*) FROM sh JOIN exact
         |       ON sh.doc_a = exact.doc_a AND sh.doc_b = exact.doc_b) AS n_both_sample)
         |SELECT n_simhash_sample, n_exact_sample, n_both_sample,
         |  n_both_sample * 1000000 // GREATEST(n_simhash_sample, 1) AS prec_ppm_est,
         |  n_both_sample * 1000000 // GREATEST(n_exact_sample, 1) AS rec_ppm_est
         |FROM c""".stripMargin,
    "q_dedup_simhash" ->
      s"""WITH t AS (
         |  SELECT doc_id, n_chars//100 AS lb,
         |    list_transform($W, w -> ${md("w")}) AS hs
         |  FROM documents),
         |sg AS (
         |  SELECT doc_id, lb,
         |    CAST(list_sum(list_transform(range(0, 60), b ->
         |      CASE WHEN 2 * len(list_filter(hs, h -> ((h >> b) & 1) = 1)) > len(hs)
         |        THEN (CAST(1 AS BIGINT) << b) ELSE CAST(0 AS BIGINT) END)) AS BIGINT) AS sim
         |  FROM t)
         |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |  CAST(bit_count(xor(a.sim, b.sim)) AS BIGINT) AS hamming
         |FROM sg a JOIN sg b ON a.lb = b.lb AND a.doc_id < b.doc_id
         |WHERE bit_count(xor(a.sim, b.sim)) <= 5
         |ORDER BY doc_a, doc_b""".stripMargin,
    "q_ann_ivf" ->
      s"""WITH c AS (SELECT vec_id AS cid, embedding AS cvec FROM embeddings
         |  WHERE vec_id < 8),
         |q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
         |fan AS (
         |  SELECT e.vec_id, e.embedding, c.cid,
         |    row_number() OVER (PARTITION BY e.vec_id
         |      ORDER BY ${cos("e.embedding", "c.cvec")} DESC, c.cid) AS rn
         |  FROM embeddings e CROSS JOIN c),
         |asg AS (SELECT vec_id, embedding, cid AS bucket FROM fan WHERE rn = 1),
         |probe AS (
         |  SELECT cid AS bucket FROM c CROSS JOIN q
         |  ORDER BY ${cos("cvec", "qv")} DESC, cid LIMIT 3)
         |SELECT a.vec_id, a.bucket, ${cos("a.embedding", "qv")} AS cos
         |FROM asg a JOIN probe USING (bucket) CROSS JOIN q
         |WHERE a.vec_id <> 0
         |ORDER BY cos DESC, vec_id LIMIT 10""".stripMargin,
    "q_dedup_exact" ->
      """SELECT md5(text) AS content_hash, MIN(doc_id) AS rep_id,
        |  COUNT(*) AS n_copies
        |FROM documents GROUP BY md5(text) ORDER BY rep_id""".stripMargin,
    "q_dedup_fingerprint" ->
      """SELECT md5(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')) AS fingerprint,
        |  MIN(doc_id) AS rep_id, COUNT(*) AS n_copies
        |FROM documents
        |GROUP BY md5(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))
        |ORDER BY rep_id""".stripMargin,
    "q_dedup_ngram_jaccard" ->
      s"""WITH s AS (
         |  SELECT doc_id, lang, n_chars//100 AS lb, ${shingleSql(W)} AS sh
         |  FROM documents)
         |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |  CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
         |    / len(list_distinct(list_concat(a.sh, b.sh))) AS jaccard
         |FROM s a JOIN s b ON a.lang = b.lang AND a.lb = b.lb
         |  AND a.doc_id < b.doc_id
         |WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
         |    / len(list_distinct(list_concat(a.sh, b.sh))) >= 0.5
         |ORDER BY doc_a, doc_b""".stripMargin,
    "q_dedup_embedding_lsh" -> embeddingLshSql(withLabel = false),
    "q_dedup_embedding_lsh_pinned" -> embeddingLshSql(withLabel = false),
    "q_dedup_embedding" -> embeddingLshSql(withLabel = true),
    "q_dedup_embedding_exact" ->
      s"""WITH e AS (SELECT vec_id, label, embedding FROM embeddings)
         |SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
         |  ${cos("a.embedding", "b.embedding")} AS cos
         |FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id
         |WHERE ${cos("a.embedding", "b.embedding")} >= 0.40
         |ORDER BY vec_a, vec_b""".stripMargin,
    "q_knn_join_ivf" ->
      s"""WITH c AS (SELECT vec_id AS cid, embedding AS cvec FROM embeddings
         |  WHERE vec_id < 32),
         |fan AS (
         |  SELECT e.vec_id, e.embedding, c.cid,
         |    row_number() OVER (PARTITION BY e.vec_id
         |      ORDER BY ${cos("e.embedding", "c.cvec")} DESC, c.cid) AS rn
         |  FROM embeddings e CROSS JOIN c),
         |asg AS (SELECT vec_id, embedding, cid AS bucket FROM fan WHERE rn = 1),
         |pr AS (
         |  SELECT q.vec_id AS query_id, q.embedding AS qv, c.cid AS bucket,
         |    row_number() OVER (PARTITION BY q.vec_id
         |      ORDER BY ${cos("q.embedding", "c.cvec")} DESC, c.cid) AS rk
         |  FROM embeddings q CROSS JOIN c),
         |probe AS (SELECT query_id, qv, bucket FROM pr WHERE rk <= 2),
         |cand AS (
         |  SELECT p.query_id, a.vec_id, ${cos("a.embedding", "p.qv")} AS cos
         |  FROM asg a JOIN probe p USING (bucket)
         |  WHERE a.vec_id <> p.query_id),
         |r AS (
         |  SELECT query_id, vec_id, cos,
         |    row_number() OVER (PARTITION BY query_id
         |      ORDER BY cos DESC, vec_id) AS rn
         |  FROM cand)
         |SELECT query_id, vec_id, cos FROM r WHERE rn <= 5
         |ORDER BY query_id, vec_id""".stripMargin,
    "q_knn_join" ->
      s"""WITH q AS (SELECT vec_id AS query_id, embedding AS qv
         |  FROM embeddings WHERE vec_id < 5),
         |c AS (
         |  SELECT q.query_id, e.vec_id, ${cos("e.embedding", "qv")} AS cos
         |  FROM embeddings e CROSS JOIN q WHERE e.vec_id <> q.query_id),
         |r AS (
         |  SELECT query_id, vec_id, cos,
         |    row_number() OVER (PARTITION BY query_id
         |      ORDER BY cos DESC, vec_id) AS rn
         |  FROM c)
         |SELECT query_id, vec_id, cos FROM r WHERE rn <= 10
         |ORDER BY query_id, vec_id""".stripMargin,
    "q_ann_bruteforce" ->
      s"""WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0)
         |SELECT vec_id, label, ${cos("embedding", "qv")} AS cos
         |FROM embeddings, q WHERE vec_id <> 0
         |ORDER BY cos DESC, vec_id LIMIT 10""".stripMargin,
    "q_vocab_coverage" ->
      s"""WITH counts AS (
         |  SELECT t.term, COUNT(*) AS c
         |  FROM documents, UNNEST($W) AS t(term)
         |  GROUP BY t.term),
         |tot AS (SELECT SUM(c) AS total, COUNT(*) AS n_terms FROM counts),
         |ranked AS (
         |  SELECT CAST(ROW_NUMBER() OVER (ORDER BY c DESC, term) AS BIGINT)
         |      AS rank,
         |    SUM(c) OVER (ORDER BY c DESC, term
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
         |  FROM counts)
         |SELECT rank AS vocab_size,
         |  CAST((cum * 1000000) // total AS BIGINT) AS coverage_ppm,
         |  n_terms
         |FROM ranked, tot
         |WHERE rank IN (10, 100, 1000) OR rank = n_terms
         |ORDER BY vocab_size""".stripMargin,
    "q_text_tokens" ->
      s"""SELECT doc_id,
         |  len(list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> ''))
         |    AS n_ws_tokens,
         |  len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\\s]'))
         |    AS n_bpeish_tokens,
         |  n_chars
         |FROM documents ORDER BY doc_id""".stripMargin,
    "q_text_quality" ->
      s"""WITH t AS (
         |  SELECT doc_id, $W AS w,
         |    CAST(length(text) AS DOUBLE) AS n_chars_d,
         |    CAST(length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS DOUBLE)
         |      AS letters
         |  FROM documents),
         |c AS (
         |  SELECT doc_id, len(w) AS n_words,
         |    letters / greatest(CAST(len(w) AS DOUBLE), 1.0) AS avg_word_len,
         |    CAST(len(list_filter(w, x -> x IN ('the','of','and','to','in','is','that','for','it','on'))) AS DOUBLE)
         |      / greatest(CAST(len(w) AS DOUBLE), 1.0) AS stopword_ratio,
         |    letters / greatest(n_chars_d, 1.0) AS alpha_ratio
         |  FROM t)
         |SELECT doc_id, n_words, avg_word_len, stopword_ratio, alpha_ratio,
         |  (stopword_ratio * 0.4) + (alpha_ratio * 0.4) +
         |    (CASE WHEN avg_word_len >= 3.0 AND avg_word_len <= 8.0
         |      THEN 0.2 ELSE 0.0 END) AS quality_score
         |FROM c ORDER BY doc_id""".stripMargin,
    "q_text_langid" ->
      s"""WITH t AS (SELECT doc_id, lang, $W AS w FROM documents),
         |c AS (
         |  SELECT doc_id, lang,
         |    len(list_filter(w, x -> x IN ('the','of','and','to','in','is','that','for','it','on'))) AS c_en,
         |    len(list_filter(w, x -> x IN ('le','la','les','de','et','un','une','est','dans','pour'))) AS c_fr,
         |    len(list_filter(w, x -> x IN ('el','los','las','de','y','un','una','es','en','por'))) AS c_es,
         |    len(list_filter(w, x -> x IN ('der','die','das','und','ein','ist','zu','den','von','mit'))) AS c_de
         |  FROM t)
         |SELECT doc_id, lang,
         |  CASE WHEN greatest(c_en, c_fr, c_es, c_de) = 0 THEN 'unknown'
         |    WHEN c_en = greatest(c_en, c_fr, c_es, c_de) THEN 'en'
         |    WHEN c_fr = greatest(c_en, c_fr, c_es, c_de) THEN 'fr'
         |    WHEN c_es = greatest(c_en, c_fr, c_es, c_de) THEN 'es'
         |    ELSE 'de' END AS pred_lang
         |FROM c ORDER BY doc_id""".stripMargin,
    "q_kmeans_train" -> kmeansOracle,
    "q_multimodal_roundtrip" ->
      """SELECT doc_id AS media_id,
        |  CASE WHEN doc_id % 2 = 0 THEN 'audio' ELSE 'image' END AS kind,
        |  CAST(CASE WHEN doc_id % 2 = 0 THEN 800 ELSE 768 END AS BIGINT) AS n_units,
        |  CAST(CASE WHEN doc_id % 2 = 0 THEN
        |    list_sum(list_transform(range(0, 800),
        |      i -> abs((doc_id*17 + i*11) % 2001 - 1000)))
        |  ELSE
        |    list_sum(list_transform(range(0, 768),
        |      i -> (doc_id*31 + (i % 32)*7 + (i // 32)*13) % 256))
        |  END AS BIGINT) AS sum_v,
        |  CAST(CASE WHEN doc_id % 2 = 0 THEN
        |    list_sum(list_transform(range(0, 800),
        |      i -> ((doc_id*17 + i*11) % 2001 - 1000) * (i+1)))
        |  ELSE
        |    list_sum(list_transform(range(0, 768),
        |      i -> ((doc_id*31 + (i % 32)*7 + (i // 32)*13) % 256) * (i+1)))
        |  END AS BIGINT) AS checksum
        |FROM documents ORDER BY media_id""".stripMargin,
    "q_semdedup" ->
      s"""WITH RECURSIVE $kmeansChainSql,
         |asg AS (SELECT vec_id, cid FROM af WHERE rn = 1),
         |ev AS (SELECT a.vec_id, a.cid, e.v
         |       FROM asg a JOIN e ON a.vec_id = e.vec_id),
         |pr AS (
         |  SELECT x.vec_id AS a, y.vec_id AS b
         |  FROM ev x JOIN ev y ON x.cid = y.cid AND x.vec_id < y.vec_id
         |  WHERE ${cos("x.v", "y.v")} >= 0.35),
         |edges AS (SELECT a AS src, b AS dst FROM pr
         |          UNION SELECT b, a FROM pr),
         |reach(id, n) AS (
         |  SELECT DISTINCT src, src FROM edges
         |  UNION
         |  SELECT r.id, e2.dst FROM reach r JOIN edges e2 ON r.n = e2.src),
         |lbl AS (SELECT id, MIN(n) AS label FROM reach GROUP BY id),
         |dropd AS (SELECT id FROM lbl WHERE id <> label)
         |SELECT cid AS bucket, COUNT(*) AS n_vecs,
         |  CAST(SUM(CASE WHEN vec_id NOT IN (SELECT id FROM dropd)
         |    THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
         |FROM asg GROUP BY cid ORDER BY bucket""".stripMargin,
    "q_range_join" ->
      """WITH t AS (SELECT event_id, event_type, value,
        |  epoch_ns(ts) // 1000000000 AS ts_s FROM events)
        |SELECT p.event_id AS p_id, COUNT(*) AS n_views,
        |  CAST(SUM(CAST(v.value AS DECIMAL(27,6))) AS DOUBLE) AS sum_view_value
        |FROM t p JOIN t v
        |  ON p.event_type = 'purchase' AND v.event_type = 'view'
        |  AND abs(p.ts_s - v.ts_s) <= 30
        |GROUP BY p.event_id ORDER BY p_id""".stripMargin)

  /** The k-means training loop replayed in SQL: seed by salted hash rank,
    * then per iteration a cross-join argmax assignment (row_number keeps
    * the strict-`>` lowest-cid tie rule) and a quantized per-dimension
    * mean update; empty clusters carry the previous centroid forward.
    */
  private def kmeansOracle: String =
    s"""WITH $kmeansChainSql,
       |sz AS (SELECT cid, COUNT(*) AS n FROM af WHERE rn = 1 GROUP BY cid)
       |SELECT c2.cid, COALESCE(sz.n, 0) AS n_members,
       |  sqrt(list_sum(list_transform(range(1,65), i -> c[i]*c[i]))) AS cnorm
       |FROM c2 LEFT JOIN sz ON c2.cid = sz.cid
       |ORDER BY c2.cid""".stripMargin

  /** The k-means training loop as a reusable CTE chain ending in
    * `af(vec_id, cid, rn)` (final assignment = rows with rn = 1) and the
    * trained centroids `c2(cid, c)`.
    */
  private def kmeansChainSql: String = {
    def cosSql(v: String, c: String) = {
      val dot = s"list_sum(list_transform(range(1,65), i -> CAST($v[i] AS DOUBLE)*$c[i]))"
      val vv = s"list_sum(list_transform(range(1,65), i -> CAST($v[i] AS DOUBLE)*CAST($v[i] AS DOUBLE)))"
      val cc = s"list_sum(list_transform(range(1,65), i -> $c[i]*$c[i]))"
      s"$dot / (sqrt($vv) * sqrt($cc))"
    }
    def iter(prev: String, n: Int): String =
      s"""a$n AS (
         |  SELECT vec_id, v, cid, ROW_NUMBER() OVER (
         |    PARTITION BY vec_id ORDER BY cos DESC, cid) AS rn
         |  FROM (SELECT e.vec_id, e.v, p.cid, ${cosSql("e.v", "p.c")} AS cos
         |        FROM e CROSS JOIN $prev p)),
         |u$n AS (
         |  SELECT cid, i,
         |    SUM(CAST(round(CAST(v[i] AS DOUBLE)*1000000) AS BIGINT)) AS s,
         |    COUNT(*) AS n
         |  FROM (SELECT cid, v, unnest(range(1, 65)) AS i FROM a$n WHERE rn = 1)
         |  GROUP BY cid, i),
         |m$n AS (
         |  SELECT cid, list(CAST(s AS DOUBLE)/n/1000000 ORDER BY i) AS c
         |  FROM u$n GROUP BY cid),
         |c$n AS (
         |  SELECT p.cid, COALESCE(m.c, p.c) AS c
         |  FROM $prev p LEFT JOIN m$n m ON p.cid = m.cid)""".stripMargin
    val h = md("'km:'||vec_id")
    s"""e AS (SELECT vec_id, embedding AS v FROM embeddings),
       |c0 AS (
       |  SELECT CAST(ROW_NUMBER() OVER (ORDER BY $h, vec_id) - 1 AS BIGINT) AS cid,
       |    list_transform(v, x -> CAST(x AS DOUBLE)) AS c
       |  FROM (SELECT vec_id, v FROM e ORDER BY $h, vec_id LIMIT 4)),
       |${iter("c0", 1)},
       |${iter("c1", 2)},
       |af AS (
       |  SELECT vec_id, cid, ROW_NUMBER() OVER (
       |    PARTITION BY vec_id ORDER BY cos DESC, cid) AS rn
       |  FROM (SELECT e.vec_id, p.cid, ${cosSql("e.v", "p.c")} AS cos
       |        FROM e CROSS JOIN c2 p))""".stripMargin
  }
}
