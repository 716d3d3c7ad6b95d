package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.functions._

/** Training-data deduplication operators: exact, normalized-fingerprint,
  * banded n-gram Jaccard, MinHash+LSH, and SimHash.
  *
  * Scale design (100 TB): nothing here is O(n²) over the corpus. Exact and
  * fingerprint dedup are single hash-partitioned groupBys; Jaccard pairs
  * are generated only inside band buckets ((lang, length-bucket) here,
  * LSH band-hash buckets for MinHash); SimHash compares only within a
  * band. All signatures are built columnar (array expressions over the
  * token array) — no explode of (doc × shingle × hash) rows, no UDFs.
  */
object Dedup {

  /** Storage level of the pair family's corpus-sized persists (set frames,
    * rep tables, ranked postings): serialized below a ~32 GiB heap,
    * deserialized above. Array-heavy rows compress 2-4× serialized;
    * `MEMAUDIT_r11_*.json` measured the deserialized cache GC-thrashing on
    * a 24 g heap (43.5 s against 14.1 s serialized on the worst row), while
    * on 48 g the deserialized level wins.
    */
  private[graft] lazy val pairStorage: StorageLevel =
    // 30 GiB, not 32: Runtime.maxMemory reports slightly under the
    // nominal -Xmx (GC region accounting), and a -Xmx32g run should
    // classify as the 32 g tier, not flip to ser on the rounding
    if (Runtime.getRuntime.maxMemory < 30L * 1024 * 1024 * 1024) {
      System.err.println("[graft] pairStorage: heap < ~32g -> MEMORY_AND_DISK_SER")
      StorageLevel.MEMORY_AND_DISK_SER
    } else StorageLevel.MEMORY_AND_DISK

  /** Word n-gram shingles (distinct) of a text column.
    *
    * Built as a zip_with chain over shifted slices, NOT per-index
    * element_at: higher-order array functions are interpreted and inline
    * their inputs on every reference, so an element_at formulation
    * re-tokenizes the text O(shingles) times per row; this one references
    * the token array O(n) times total. zip_with's null padding (the slices
    * are shorter than the word array) is filtered out at the end.
    */
  def wordShingles(text: Column, n: Int = 3): Column = {
    val words = wordTokens(text)
    val joined = (2 to n).foldLeft(words) { (acc, k) =>
      zip_with(acc, slice(words, lit(k), greatest(size(words) - (k - 1), lit(0))),
        (a, b) => concat(a, lit(" "), b))
    }
    array_distinct(filter(joined, x => x.isNotNull))
  }

  /** Exact-duplicate groups by content hash: one shuffle, representative =
    * min id. (Reference has no dedup surface; this is the LLM-pipeline
    * extension family.)
    */
  def exactGroups(df: DataFrame, idCol: Column, contentCol: Column): DataFrame =
    df.groupBy(md5(contentCol).as("content_hash"))
      .agg(min(idCol).as("rep_id"), count(lit(1)).as("n_copies"))

  /** Near-exact groups by normalized fingerprint (case/punct/whitespace
    * insensitive).
    */
  def fingerprintGroups(df: DataFrame, idCol: Column, textCol: Column): DataFrame =
    df.groupBy(normFingerprint(textCol).as("fingerprint"))
      .agg(min(idCol).as("rep_id"), count(lit(1)).as("n_copies"))

  // ---------------------------------------------------------------------
  // Set-similarity pairs. Jaccard and containment run one pipeline:
  // set frame -> stats -> (collapse) -> candidates -> verify -> (expand).
  // The variants differ only in the candidate stage and the final
  // predicate.
  // ---------------------------------------------------------------------

  /** Exact Jaccard near-dup pairs (doc_a < doc_b, jaccard) at J ≥
    * `threshold`, via prefix-filtered posting joins (the AllPairs/SSJoin
    * formulation): shingles are hashed and globally ordered, only each
    * set's prefix postings enter the candidate self-join (a pair with
    * J ≥ t must share a prefix element), candidates are size-ratio-pruned
    * (t·|A| ≤ |B| ≤ |A|/t), and only survivors pay an exact intersect.
    * Shuffle keys are single shingle hashes — skew-safe under AQE, never a
    * bucket cross-product. Candidates share the values of `bandCols`.
    *
    * `pairPredicate` — optional blocking constraint over the pair's two id
    * columns (`idCol`, `${idCol}_b`), e.g. the ingest gate's "new vs
    * existing" parity. It is applied AT the candidate posting join, so
    * excluded pairs never reach the distinct or the verify join.
    *
    * `collapseExactDups` — run the exact-duplicate [[collapse]] when the
    * dup-rate gate finds ≥ 5% duplicate sets. The collapse pays two
    * array-keyed shuffles to remove clique candidate+verify work: it wins
    * when candidate precision is low (unbanded joins: ingest sf4-replica
    * 35 → 27 s) and loses when bands already keep the verify ≈
    * output-sized (q_dedup_ngram_jaccard's (lang, lb) bands at 40× data:
    * 17.0 vs 20.2 s replica, 16.3 vs 23.9 s fresh); such callers pass
    * false.
    *
    * `collapseKeys` — with a `pairPredicate`, the collapse runs only when
    * the predicate is a function of these per-doc expressions (the ingest
    * parity gate `id % 2 ≠ id_b % 2` is a function of `Seq(col(id) % 2)`),
    * so every collapse group is predicate-homogeneous. The predicate must
    * also be symmetric (`p(a, b) = p(b, a)`): rep pairs are pruned under
    * rep id order and member pairs re-checked under least/greatest member
    * order, and symmetry makes the two agree. A predicate without keys
    * skips the collapse: a predicate that varies inside a group could
    * block a rep pair and lose qualifying member pairs.
    */
  def jaccardPairs(docs: DataFrame, idCol: String, shingleCol: String,
      bandCols: Seq[String], threshold: Double,
      preHashed: Boolean = false,
      pairPredicate: Option[Column] = None,
      collapseKeys: Seq[Column] = Seq.empty,
      collapseExactDups: Boolean = true): DataFrame = scoped { sc =>
    val ckNames = collapseKeys.indices.map(i => s"_ck$i")
    val all = sc.persist(setFrame(docs, idCol, shingleCol, preHashed,
      bandCols.map(col) ++ collapseKeys.zip(ckNames).map { case (c, n) => c.as(n) }))
    val jaccard = col("_c").cast("double") / (col("_n_a") + col("_n_b") - col("_c"))
    def pairsOn(base: DataFrame, sideBytes: Long): DataFrame =
      verify(prefixCandidates(base, idCol, bandCols, threshold, pairPredicate),
          base, idCol, sideBytes)
        .filter(col("_n_b") >= col("_n_a") * threshold &&
          col("_n_a") >= col("_n_b") * threshold)
        .withColumn("jaccard", jaccard)
        .filter(col("jaccard") >= threshold)
    def out(pairs: DataFrame): DataFrame = sc.checkpoint(
      pairs.select(col("_a").as("doc_a"), col("_b").as("doc_b"), col("jaccard")))
    if (!collapseExactDups || (pairPredicate.isDefined && collapseKeys.isEmpty))
      out(pairsOn(all, setStats(all, None).sideBytes))
    else {
      val st = setStats(all, Some(bandCols ++ ckNames))
      if (fewDups("jaccard", st)) out(pairsOn(all, st.sideBytes))
      else {
        val c = collapse(sc, all, idCol, bandCols, ckNames)
        // the predicate applies again on member pairs in (least, greatest)
        // order: the orientation the path without the collapse sees
        out(expand(pairsOn(c.base, c.reps.sideBytes), c, idCol, directed = false)
          .select(least(col("_a"), col("_b")).as(idCol),
            greatest(col("_a"), col("_b")).as(s"${idCol}_b"), jaccard.as("jaccard"))
          .filter(pairPredicate.getOrElse(lit(true)))
          .select(col(idCol).as("_a"), col(s"${idCol}_b").as("_b"), col("jaccard")))
      }
    }
  }

  /** Asymmetric CONTAINMENT near-dup pairs: C(A,B) = |A∩B| / |A| ≥ t —
    * the "document A is quoted/embedded inside B" shape that symmetric
    * Jaccard misses when |B| ≫ |A| (boilerplate-wrapped copies, quote
    * farms). Same posting-join discipline as [[jaccardPairs]] but with the
    * containment prefix filter (see [[containmentCandidates]]).
    *
    * Emits directed pairs (doc_sub → doc_sup): `threshold = num/den`.
    *
    * ARM GATE: the exact posting join is lossless ground truth, but on
    * DENSE-df corpora its candidate mass is quadratic (true-pair shingle
    * df ∝ corpus, so every posting group ∝ N; measured e 1.56, 79.6 s at
    * 40×), while the LSH arm reads e 0.74 at recall 1.0 on the same chain.
    * Route by the average shingle document frequency over the
    * DISTINCT-SET corpus (exact-dup copies collapse before any posting
    * work in both arms, so they must not inflate df). Below
    * [[ContainmentFloor]] distinct sets the exact arm always runs, so
    * both oracle scales keep the lossless arm and its hashes; the density
    * pass (explode + HLL) is paid only above the floor. Ground-truth runs
    * call [[containmentPairsExact]] / [[containmentPairsLsh]] directly.
    */
  def containmentPairs(docs: DataFrame, idCol: String, shingleCol: String,
      num: Int, den: Int, preHashed: Boolean = false): DataFrame = scoped { sc =>
    requireThreshold(num, den)
    val all = sc.persist(setFrame(docs, idCol, shingleCol, preHashed))
    val st = setStats(all, Some(Nil))
    val useLsh =
      if (st.sets < ContainmentFloor) {
        System.err.println(s"[graft] containment arm gate: docs=${st.docs} " +
          s"distinct=${st.sets} < floor $ContainmentFloor -> exact")
        false
      } else {
        // distinct-set postings ≈ p·d/n (exact when n = d; dup copies
        // carry the same set sizes on average), one HLL pass for the
        // distinct-shingle count
        val distinctSh = lockedHead(all
          .select(explode(col("_sh")).as("_h"))
          .agg(approx_count_distinct(col("_h")))).getLong(0)
        val avgDf =
          if (distinctSh == 0L) 0.0
          else (st.postings.toDouble * st.sets / math.max(1L, st.docs)) / distinctSh
        val lsh = avgDf > ContainmentDfGate
        System.err.println(f"[graft] containment arm gate: docs=${st.docs} " +
          f"distinct=${st.sets} postings=${st.postings} shingles=$distinctSh " +
          f"avgDf=$avgDf%.1f gate=$ContainmentDfGate%.1f -> " +
          (if (lsh) "lsh" else "exact"))
        lsh
      }
    if (useLsh) containmentCollapsed(sc, all, idCol, num, den, lshBands = Some((0, 0)))
    else containmentExact(sc, all, idCol, num, den, st)
  }

  /** [[containmentPairs]]' arm gate: below this many distinct sets the
    * exact arm always runs; above it, the LSH arm runs when the average
    * shingle document frequency exceeds [[ContainmentDfGate]].
    */
  private val ContainmentFloor = 100000L
  private val ContainmentDfGate = 64.0

  /** The lossless exact arm of [[containmentPairs]], bypassing the arm
    * gate — ground truth for the recall evals and probes (which run it
    * on sampled/large corpora where the gate would route to LSH).
    */
  def containmentPairsExact(docs: DataFrame, idCol: String,
      shingleCol: String, num: Int, den: Int,
      preHashed: Boolean = false): DataFrame = scoped { sc =>
    requireThreshold(num, den)
    val all = sc.persist(setFrame(docs, idCol, shingleCol, preHashed))
    containmentExact(sc, all, idCol, num, den, setStats(all, Some(Nil)))
  }

  /** BANDED containment near-dup pairs — the corpus-scale production arm
    * of [[containmentPairs]] for high-entropy corpora (the exact arm's
    * fresh-mode candidate mass is provably the post-filter floor,
    * SURVEY §5n-2/§5o-7, measured e≈1.8 at 40×).
    *
    * Same directed semantics (C(A,B) = |A∩B|/|A| ≥ num/den, pairs over
    * the distinct-set corpus expanded to members), but the candidate
    * join is BANDED instead of lossless: each query posts only its
    * `queryCap` rarest prefix shingles, and shingles in more than
    * `dfCap` documents are dropped from both sides (stop-shingle rule).
    * Candidates ≤ docs × queryCap × dfCap — linear in the corpus — and
    * every surviving pair is verified EXACTLY, so precision is 1 and
    * only recall is approximate. Recall is measured, never assumed:
    * `q_containment_eval_sampled` runs both arms inside the
    * deterministic 25% id-sample and reports the recall estimate.
    *
    * Always runs the exact-duplicate collapse (no gate): banded semantics
    * are DEFINED over the distinct-set corpus, so document frequency —
    * and with it the banding itself — cannot be inflated by exact
    * duplicates (a boilerplate doc duplicated 10⁹ times at 100 TB must
    * not push its own shingles over the stop-shingle cap), and
    * within-group pairs (C = 1.0 by identity) are emitted exactly.
    * `dfCap = 0` resolves adaptively from the measured distinct-set count.
    */
  def containmentPairsBanded(docs: DataFrame, idCol: String,
      shingleCol: String, num: Int, den: Int, preHashed: Boolean = false,
      queryCap: Int = 8, dfCap: Long = 0L): DataFrame = scoped { sc =>
    requireThreshold(num, den)
    require(queryCap > 0, "queryCap must be positive")
    containmentCollapsed(sc, sc.persist(setFrame(docs, idCol, shingleCol,
      preHashed)), idCol, num, den, caps = Some((queryCap, dfCap)))
  }

  /** LSH containment near-dup pairs — the corpus-scale production arm
    * for DENSE-df corpora. Both exact and df-capped postings fail on such
    * corpora: the shingles that identify true pairs have df proportional
    * to the corpus (df/N constant), so ANY posting join on raw shingles
    * carries candidate groups ∝ N per posting — quadratic total — while a
    * fixed df cap loses the true pairs once their shingles outgrow it
    * (measured cliff: recall 1.0 → 0.05 from sf2f to sf4f at dfCap 256,
    * SURVEY §5p).
    *
    * The LSH-Ensemble reading (Zhu et al., VLDB'16) instead converts the
    * directed containment threshold into a Jaccard floor within a
    * declared size-ratio horizon: C(A,B) = |A∩B|/|A| ≥ t and
    * |B| ≤ R·|A| imply J(A,B) ≥ t/(1+R−t) (worst case |A∩B| = t·|A|,
    * |B| = R·|A|), so OPH MinHash band-bucket candidates — whose mass is
    * bounded by band-bucket occupancy, measured linear on this corpus
    * (q_dedup_minhash e ≤ 1.11) — recover every horizon pair the
    * banding's S-curve admits at its Jaccard. Survivors are verified
    * EXACTLY in both directions (precision 1); recall is measured, never
    * assumed (`q_containment_lsh_eval_sampled`). Pairs beyond the horizon
    * are only found if a band still collides (J decays as 1/R); a 100 TB
    * deployment chasing extreme-asymmetry pairs (tweet inside a book)
    * should partition the index by size octave and re-band per
    * partition — the full LSH-Ensemble construction this arm's horizon
    * parameter is the single-partition form of.
    *
    * Banding: `numHashes = bands = 0` (the default) resolves via
    * [[autoContainmentBanding]] from the measured distinct-set count once
    * the collapse materializes. Explicit (numHashes, bands) pins the
    * shape (oracle twins, probes). Always collapses exact-duplicate sets
    * first, same discipline as [[containmentPairsBanded]].
    */
  def containmentPairsLsh(docs: DataFrame, idCol: String,
      shingleCol: String, num: Int, den: Int, preHashed: Boolean = false,
      numHashes: Int = 0, bands: Int = 0): DataFrame = scoped { sc =>
    requireThreshold(num, den)
    require((numHashes == 0) == (bands == 0),
      "numHashes and bands must be pinned together (0,0 = auto)")
    require(numHashes == 0 || numHashes % bands == 0,
      "bands must divide numHashes")
    containmentCollapsed(sc, sc.persist(setFrame(docs, idCol, shingleCol,
      preHashed)), idCol, num, den, lshBands = Some((numHashes, bands)))
  }

  /** Size-octave banding for the containment-LSH arm: rows per band step
    * 2 → 3 → 4 as the DISTINCT-SET corpus grows, band count fixed at 32.
    * A fixed r = 2 banding admits coincidental (non-pair) band
    * collisions with probability J², so their mass grows ~n²·E[J²] —
    * the same fixed-shape risk [[autoBanding]] retired for the
    * hyperplane family. Raising rows sharpens the S-curve
    * (per-band collision J^r) at the cost of horizon-floor recall
    * (J = 0.36: r2 ≈ 0.99, r3 ≈ 0.78, r4 ≈ 0.42 per 32 bands) — still
    * ≥ 1−10⁻¹⁰ at the J ≥ 0.8 the measured true pairs sit at, and
    * recall is MEASURED per rung (`q_containment_lsh_eval_sampled`).
    * Floors to the oracle-pinned (64, 32×2) below 2²⁰ reps, so both
    * correctness scales keep that shape byte-for-byte.
    */
  def autoContainmentBanding(nReps: Long): (Int, Int) =
    if (nReps < (1L << 20)) (64, 32)        // r = 2 — oracle-pinned shape
    else if (nReps < (1L << 27)) (96, 32)   // r = 3
    else (128, 32)                          // r = 4

  /** Both arms of a sampled containment recall eval over ONE shared set
    * frame and ONE stats aggregate, run concurrently (see [[planLock]]
    * for why that is sound): the exact arm and the banded
    * (`bandedQueryCap`) or LSH (None) arm read one cache that outlives
    * both. Returns (exactPairs, otherPairs), both checkpointed.
    */
  private[graft] def containmentEvalArms(docs: DataFrame, idCol: String,
      shingleCol: String, num: Int, den: Int, preHashed: Boolean,
      bandedQueryCap: Option[Int]): (DataFrame, DataFrame) = scoped { sc =>
    requireThreshold(num, den)
    val all = sc.persist(setFrame(docs, idCol, shingleCol, preHashed))
    // the stats scan materialises the shared frame BEFORE the arms fork,
    // so neither arm races the other populating it
    val st = setStats(all, Some(Nil))
    Par.both(
      scoped(containmentExact(_, all, idCol, num, den, st)),
      scoped(containmentCollapsed(_, all, idCol, num, den,
        caps = bandedQueryCap.map((_, 0L)),
        lshBands = if (bandedQueryCap.isEmpty) Some((0, 0)) else None)))
  }

  private def requireThreshold(num: Int, den: Int): Unit =
    require(num > 0 && den > 0 && num <= den, "threshold must be in (0,1]")

  /** The lossless exact containment arm: the dup-rate gate, then the
    * posting join over the set frame itself or over the collapse's reps.
    */
  private def containmentExact(sc: Scope, all: DataFrame, idCol: String,
      num: Int, den: Int, st: SetStats): DataFrame =
    if (fewDups("containment", st)) {
      // the rank-annotated postings feed both sides of the candidate join
      val ranked = sc.persist(dfOrderedPosts(all, idCol, Seq.empty))
      sc.checkpoint(containmentOut(contained(verify(
        containmentCandidates(all, idCol, num, den, rankedPosts = Some(ranked)),
        all, idCol, st.sideBytes), num, den)))
    } else containmentCollapsed(sc, all, idCol, num, den)

  /** Containment over the collapse's reps, expanded to member pairs. The
    * candidates come from the lossless posting join by default, from the
    * banded posting join with `caps` = Some((queryCap, dfCap)) (dfCap 0
    * resolves from the rep count), or from MinHash band buckets with
    * `lshBands` = Some((numHashes, bands)) ((0, 0) resolves from the rep
    * count). Banded and LSH semantics are defined over the distinct-set
    * corpus, which is why those arms always collapse.
    */
  private def containmentCollapsed(sc: Scope, all: DataFrame, idCol: String,
      num: Int, den: Int, caps: Option[(Int, Long)] = None,
      lshBands: Option[(Int, Int)] = None): DataFrame = {
    val c = collapse(sc, all, idCol, Seq.empty, Seq.empty)
    val nReps = c.reps.docs
    val candidates = lshBands match {
      case Some((numHashes0, bands0)) =>
        // MinHash band-bucket candidates (the LSH-Ensemble reading of
        // containment: C ≥ t within size ratio R implies J ≥ t/(1+R−t),
        // so Jaccard banding bounds candidate mass linearly where the
        // posting join's df-driven mass is quadratic)
        val (numHashes, bands) =
          if (numHashes0 > 0) (numHashes0, bands0)
          else {
            val shape = autoContainmentBanding(nReps)
            System.err.println(s"[graft] containment lsh auto-banding: " +
              s"reps=$nReps -> hashes=${shape._1} bands=${shape._2} " +
              s"rows=${shape._1 / shape._2}")
            shape
          }
        // signed once: unchecked, the signature aggregate re-ran on both
        // sides of the band self-join and again under the union's second
        // reference (four identical signature stages, 28 s of a 34 s query)
        val sigs = sc.checkpoint(minhashSigs(
          c.base.select(col(idCol), col("_sh")), idCol, numHashes))
        val und = sc.checkpoint(bandPairs(
          bandKeysFromSig(sigs, idCol, numHashes, bands), idCol))
        // buckets are undirected and containment is directed: each
        // colliding pair is verified in both directions
        und.unionAll(und.select(col("_b").as("_a"), col("_a").as("_b")))
      case None =>
        // adaptive stop-shingle cap: a shingle present in more than ~1/64
        // of the distinct-set corpus (floor 256 so small corpora never
        // band) is boilerplate whose posting group is quadratic candidate
        // mass with no dedup signal (measured grid: SURVEY §5p)
        val resolvedCaps = caps.map { case (qc, dc) =>
          (qc, if (dc > 0) dc else math.max(256L, nReps / 64L))
        }
        resolvedCaps.foreach { case (qc, dc) =>
          System.err.println(s"[graft] containment banded caps: reps=$nReps " +
            s"queryCap=$qc dfCap=$dc")
        }
        // persisted: the ranked postings feed both sides of the candidate
        // join, and recomputing the df window per side put sf2
        // containment from 18 to 29 s
        containmentCandidates(c.base, idCol, num, den,
          positional = resolvedCaps.isEmpty,
          rankedPosts = Some(sc.persist(dfOrderedPosts(c.base, idCol, Seq.empty))),
          queryCap = resolvedCaps.map(_._1),
          dfCap = resolvedCaps.map(_._2))
    }
    sc.checkpoint(containmentOut(expand(contained(
      verify(candidates, c.base, idCol, c.reps.sideBytes), num, den),
      c, idCol, directed = true)))
  }

  private def contained(pairs: DataFrame, num: Int, den: Int): DataFrame =
    pairs.filter(col("_c") * den >= col("_n_a") * num)

  private def containmentOut(pairs: DataFrame): DataFrame =
    pairs.select(col("_a").as("doc_sub"), col("_b").as("doc_sup"),
      col("_c").cast("long").as("common"),
      col("_n_a").cast("long").as("size_sub"),
      (col("_c").cast("double") / col("_n_a")).as("containment"))

  /** The set frame every pair entry point starts from: (keys…, id, _sh,
    * _n), `_sh` the sorted distinct shingle hashes (the verify kernel's
    * contract) and `_n` their count. `preHashed`: `shingleCol` is already
    * an array<bigint> of distinct hashes. array_compact on that branch
    * drops null slots AND marks the element type non-null: the
    * SortedIntersectCount kernel rejects containsNull=true, and a
    * caller-supplied hash column (e.g. portableHash64, whose conv() chain
    * is nullable-typed) carries the nullable marker with no actual nulls.
    * The xxhash64 branch is containsNull=false already.
    */
  private def setFrame(docs: DataFrame, idCol: String, shingleCol: String,
      preHashed: Boolean, keys: Seq[Column] = Seq.empty): DataFrame = {
    val sh =
      if (preHashed) array_sort(array_compact(col(shingleCol)))
      else array_sort(array_distinct(transform(col(shingleCol), s => xxhash64(s))))
    docs.select(keys ++ Seq(col(idCol), sh.as("_sh")): _*)
      .withColumn("_n", size(col("_sh")))
  }

  /** A set frame's docs, distinct sets and Σ|_sh| (postings). */
  private final case class SetStats(docs: Long, sets: Long, postings: Long) {
    /** Byte estimate of one verify side: rows × fixed row overhead +
      * array elements × 8.
      */
    def sideBytes: Long = docs * 24L + postings * 8L
  }

  /** [[SetStats]] in one aggregate job, whose scan also materialises a
    * freshly persisted frame. With `distinctBy`, sets counts the distinct
    * (keys, set) values through a hash of the set, so nothing array-keyed
    * shuffles; a collision only under-counts, which tips the dup-rate
    * gate toward collapsing, never toward wrong results. Without it,
    * every row counts as a distinct set (a rep table).
    */
  private def setStats(frame: DataFrame, distinctBy: Option[Seq[String]]): SetStats = {
    val distinct = distinctBy.map(k =>
      countDistinct(struct(k.map(col) :+ xxhash64(col("_sh")): _*)))
    val r = lockedHead(frame.agg(count(lit(1)),
      distinct.toSeq :+ coalesce(sum(col("_n")), lit(0L)): _*))
    SetStats(r.getLong(0), r.getLong(r.length - 2), r.getLong(r.length - 1))
  }

  /** The dup-rate gate: under 5% duplicate sets the collapse's
    * array-keyed groupBy and mapping join (~15-20% of the whole pair job
    * on an all-distinct corpus) cannot repay themselves.
    */
  private def fewDups(family: String, st: SetStats): Boolean = {
    val skip = st.sets * 20L >= st.docs * 19L
    System.err.println(s"[graft] $family dup-rate gate: docs=${st.docs} " +
      s"distinct=${st.sets} -> ${if (skip) "skip collapse" else "collapse"}")
    skip
  }

  /** The reps of a collapse: `base` is their set frame, `mapping` maps
    * each member id `_m` to its `_rep`.
    */
  private final case class Collapsed(base: DataFrame, mapping: DataFrame,
      reps: SetStats)

  /** EXACT-DUPLICATE COLLAPSE. Jaccard and containment are functions of
    * the two shingle sets alone, so identical sets (under equal
    * `bandCols` and collapse keys `ckNames`) are interchangeable: group
    * them by exact array equality (no hash-collision exposure), run the
    * posting/verify machinery once per distinct set with the min id as
    * rep, and [[expand]] rep pairs back to member pairs. A g-copy clique
    * pays one candidate+verify unit instead of g²; real 100 TB crawls
    * carry 20-40% exact dups. The mapping is a co-partitioned join on
    * `_sh`, never a collect_list of group members: a boilerplate doc
    * duplicated 10⁹ times must not become one row.
    *
    * Both frames are materialised at once, concurrently, and `all` is
    * released right after when `sc` owns it: every later read is off
    * `base` or `mapping`, and holding three array-heavy caches to the end
    * tripled the pair family's memory pressure.
    */
  private def collapse(sc: Scope, all: DataFrame, idCol: String,
      bandCols: Seq[String], ckNames: Seq[String]): Collapsed = {
    val gKeys = bandCols ++ ckNames :+ "_sh"
    val repTab = all.groupBy(gKeys.map(col): _*).agg(min(col(idCol)).as("_rep"))
    val base = sc.persist(repTab
      .select(bandCols.map(col) ++ Seq(col("_rep").as(idCol), col("_sh")): _*)
      .withColumn("_n", size(col("_sh"))))
    val mapping = sc.persist(all.join(repTab, gKeys)
      .select(col(idCol).as("_m"), col("_rep")))
    val (reps, _) = Par.both(setStats(base, None), lockedCount(mapping))
    sc.release(all)
    Collapsed(base, mapping, reps)
  }

  /** Rep pairs (_a, _b, _c, _n_a, _n_b) → member pairs with the same
    * columns: every (a ∈ group(_a), b ∈ group(_b)) inherits its rep
    * pair's counts (same sets), plus the pairs within each group, whose
    * sets are identical (_c = _n_a = _n_b = _n). `directed` emits both
    * orders of a within-group pair (containment); otherwise only a < b
    * (Jaccard). Empty sets (_n = 0) never share a posting, so the
    * pipeline without the collapse never pairs them, and neither does
    * this. Output-sized joins.
    */
  private def expand(repPairs: DataFrame, c: Collapsed, idCol: String,
      directed: Boolean): DataFrame = {
    val cross = repPairs
      .join(c.mapping.select(col("_m").as("_ma"), col("_rep").as("_a")), "_a")
      .join(c.mapping.select(col("_m").as("_mb"), col("_rep").as("_b")), "_b")
      .select(col("_ma").as("_a"), col("_mb").as("_b"), col("_c"),
        col("_n_a"), col("_n_b"))
    val sizes = c.base.select(col(idCol).as("_rep"), col("_n"))
      .filter(col("_n") > 0)
    val within = c.mapping.join(c.mapping.toDF("_m2", "_rep"), "_rep")
      .filter(if (directed) col("_m") =!= col("_m2") else col("_m") < col("_m2"))
      .join(sizes, "_rep")
      .select(col("_m").as("_a"), col("_m2").as("_b"), col("_n").as("_c"),
        col("_n").as("_n_a"), col("_n").as("_n_b"))
    cross.unionAll(within)
  }

  /** VERIFY: join candidate pairs (_a, _b) to both array sides of `base`
    * and count |A ∩ B| → (_a, _b, _c, _n_a, _n_b); the variant adds its
    * predicate. `_sh` is sorted-distinct by construction, so the
    * two-pointer [[graft.plans.SortedIntersectCount]] IS
    * size(array_intersect) without a per-pair hash set and intersection
    * array. Join strategy: [[verifySide]].
    */
  private def verify(cands: DataFrame, base: DataFrame, idCol: String,
      sideBytes: Long): DataFrame = {
    graft.plans.SortedIntersectCount.register(base.sparkSession)
    def side(s: String) = verifySide(base.select(col(idCol).as(s"_$s"),
      col("_sh").as(s"_sh_$s"), col("_n").as(s"_n_$s")), sideBytes)
    cands.join(side("a"), "_a").join(side("b"), "_b")
      .withColumn("_c",
        graft.plans.SortedIntersectCount.count(col("_sh_a"), col("_sh_b")))
      .select(col("_a"), col("_b"), col("_c"), col("_n_a"), col("_n_b"))
  }

  /** VERIFY-JOIN STRATEGY: the candidate stream can be 10^8-10^9 skinny
    * rows, and ANY plan that exchanges or sorts the FIRST array join's
    * output materializes ~candidates × array-bytes — sf4 containment wrote
    * 40+ GB of wide shuffle before being killed, under both SMJ (sorts
    * the wide stream for join 2) and plain SHUFFLE_HASH (exchanges it).
    * When the array side fits a broadcast, BOTH lookups pipeline around
    * the unsorted candidate stream inside one stage and the wide rows
    * never hit disk or the network. Past [[VerifyBcastCap]] (a 100 TB
    * corpus's array side does not broadcast) fall back to SHUFFLE_HASH:
    * the arrays stay on the build side, the stream is never SORTED, and
    * the one wide exchange is linear in candidates — banding is what must
    * bound candidates at that scale, not the join.
    *
    * Heap guard on top of the cap: BOTH sides broadcast at once and the
    * in-memory HashedRelation runs ~1.5-3× the raw estimate, so 2 ×
    * sideBytes × 3 must fit in a quarter of the heap. On an 8 g driver
    * that lowers the per-side bound to ~341 MB, so two near-cap
    * broadcasts fall back instead of running out of memory.
    */
  private def verifySide(side: DataFrame, sideBytes: Long): DataFrame =
    if (sideBytes <= VerifyBcastCap &&
        sideBytes * 6L <= Runtime.getRuntime.maxMemory / 4L) broadcast(side)
    else side.hint("SHUFFLE_HASH")

  private val VerifyBcastCap = 384L << 20

  /** Rank-annotated postings under the RAREST-FIRST global order — every
    * (doc, hash) posting carries the hash's 1-based position `_pos` in the
    * doc's `(document frequency, hash)` order plus the doc's set size
    * `_n`. Any common total order keeps the prefix filter lossless (the
    * smallest shared element of a qualifying pair lands in both prefixes
    * by the upward-closed-suffix argument), but the ORDER CHOICE drives
    * the candidate volume: the posting join's output is Σ_h q_h·i_h, and
    * hash order makes prefixes a random sample of the df distribution —
    * at 20× data the frequent-shingle products dominated the entire
    * containment/ingest wall. Rarest-first empties the prefixes of
    * exactly the high-df postings, collapsing q_h for every frequent h.
    * Costs one df window and one per-doc window — both O(postings).
    * Callers take their prefix with `filter(_pos <= plen)`; `_pos` also
    * feeds the PPJoin positional filter (see [[prefixCandidates]]).
    */
  private def dfOrderedPosts(base: DataFrame, idCol: String,
      bandCols: Seq[String]): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val posts = base.select(
      (bandCols.map(col) :+ col(idCol)) :+ col("_n") :+
        explode(col("_sh")).as("_h"): _*)
    // _sh is distinct per doc, so count(*) per hash IS document frequency;
    // a count window annotates in place, where a groupBy(_h) + join-back
    // cost one more exchange and posting scan for the same count
    posts
      .withColumn("_df", count(lit(1)).over(Window.partitionBy(col("_h"))))
      .withColumn("_pos", row_number().over(
        Window.partitionBy(col(idCol)).orderBy(col("_df"), col("_h"))))
      // df<2 postings can never match across documents (any shared hash
      // has df >= 2 by definition), so they are dead weight in every
      // downstream candidate self-join — drop them AFTER the rank window
      // (ranks stay computed over the full element set, so prefix lengths
      // and the positional bound are untouched; a qualifying pair's
      // prefix matches are shared elements, hence never dropped). On a
      // high-entropy corpus (df ~= 1 almost everywhere) this collapses
      // the posting-join shuffle to the tiny shared-hash subset.
      .filter(col("_df") >= 2)
      .select((bandCols.map(col) :+ col(idCol)) :+ col("_n") :+
        col("_h") :+ col("_pos") :+ col("_df"): _*)
  }

  /** Candidate pairs (_a < _b) for the symmetric-Jaccard posting join —
    * package-private so `PrefixFilterPropertySpec` can compare candidate
    * sets with and without the `positional` filter; [[jaccardPairs]]
    * always runs with it on.
    *
    * Prefix filtering (AllPairs): under a global element order, two sets
    * with J ≥ t must share an element within their first
    * n - ceil(t·n) + 1 elements, so only prefix postings enter the join
    * (taken rarest-first, see [[dfOrderedPosts]]).
    *
    * PPJoin positional filter (Xiao et al.): a match of hash h at 1-based
    * ranks (i, j) of the two docs' shared global order bounds the overlap
    * — every shared element sits at rank ≥ i in A and ≥ j in B once h is
    * the pair's FIRST shared element, so o ≤ 1 + min(n_a−i, n_b−j). J ≥ t
    * ⟺ o·(1+t) ≥ t·(n_a+n_b); a pair survives if ANY of its prefix
    * matches could still reach that bar. Lossless: for a qualifying pair
    * the first-shared-element match is in both prefixes (the prefix
    * lemma) and its bound ≥ the true overlap. The filter runs INSIDE the
    * posting join output, before the distinct and the verify join — the
    * two stages whose input it shrinks.
    */
  private[graft] def prefixCandidates(base: DataFrame, idCol: String,
      bandCols: Seq[String], threshold: Double,
      pairPredicate: Option[Column] = None,
      positional: Boolean = true): DataFrame = {
    val prefixLen = (col("_n") - ceil(col("_n") * threshold) + 1).cast("int")
    val posts = dfOrderedPosts(base, idCol, bandCols)
      .filter(col("_pos") <= prefixLen)
    val rhs = posts.toDF(posts.columns.map(c =>
      if (bandCols.contains(c) || c == "_h") c else s"${c}_b"): _*)
    // overlap upper bound at this match; the -1e-9 slack keeps borderline
    // float equality on the LENIENT side (can only under-prune — the
    // verify step recomputes exact J, so losslessness is never at risk)
    val ubound = lit(1) +
      least(col("_n") - col("_pos"), col("_n_b") - col("_pos_b"))
    val positionalOk =
      ubound * (1.0 + threshold) >=
        (col("_n") + col("_n_b")) * threshold - 1e-9
    posts.join(rhs, bandCols :+ "_h")
      .filter(pairPredicate.foldLeft(col(idCol) < col(s"${idCol}_b"))(_ && _))
      .filter(if (positional) positionalOk else lit(true))
      .select(col(idCol).as("_a"), col(s"${idCol}_b").as("_b"))
      .distinct()
  }

  /** Candidate (query, index) pairs (_a, _b) for the containment posting
    * join — package-private for `PrefixFilterPropertySpec`'s
    * positional-filter comparison; the exact arm always runs with
    * `positional` on.
    *
    * The query side posts its `n - ceil(t·n) + 1` smallest hashes (any
    * pair with C ≥ t must share one of them — else A∩B fits inside A's
    * top `ceil(t·n) - 1` elements, a contradiction), the index side
    * posts everything, and BOTH sides carry their rarest-first rank so
    * the positional filter can bound the overlap pairwise: a match at
    * ranks (i, j) of the pair's first shared element bounds
    * |A∩B| ≤ 1 + min(n_a−i, n_b−j), and C ≥ t needs |A∩B|·den ≥ n_a·num
    * — all-integer, so float rounding can never break losslessness. (The
    * query-side-only bound `1 + n_a − i ≥ ceil(t·n_a)` is a tautology at
    * every prefix position — the prefix length is chosen as exactly the
    * positions that satisfy it — which is why the index side's rank is
    * what makes the filter bite.)
    *
    * BANDED CAPS ([[containmentPairsBanded]]): `queryCap` keeps only each
    * query's `queryCap` RAREST prefix postings (the lossless prefix can
    * be ~(1−t)·n postings whose df grows with the corpus; the rarest few
    * carry nearly all of the discrimination), and `dfCap` drops postings
    * of shingles present in more than `dfCap` documents from BOTH sides
    * (stop-shingle rule): their posting groups are the quadratic
    * candidate mass and carry no dedup signal. Candidates are then ≤
    * docs × queryCap × dfCap — LINEAR in the corpus. Recall < 1 and is
    * measured (q_containment_eval_sampled). Caps require
    * `positional = false`: the positional bound's first-shared-element
    * lemma assumes the globally-first shared element was generated,
    * which a cap can remove.
    */
  private[graft] def containmentCandidates(base: DataFrame, idCol: String,
      num: Int, den: Int, positional: Boolean = true,
      rankedPosts: Option[DataFrame] = None,
      queryCap: Option[Int] = None,
      dfCap: Option[Long] = None): DataFrame = {
    require((queryCap.isEmpty && dfCap.isEmpty) || !positional,
      "positional filter is unsound under banded caps (first-shared-element lemma)")
    // exact integer ceil(t*n), immune to 0.8*35 = 28.000000000000004
    val ceilTn = ((col("_n") * num + (den - 1)) / den).cast("int")
    val prefixLen = col("_n") - ceilTn + 1
    // one rank window over all postings, read by both sides of the
    // self-join (callers pass a persisted frame so it runs once)
    val ranked = rankedPosts.getOrElse(dfOrderedPosts(base, idCol, Seq.empty))
    val dfOk = dfCap.map(col("_df") <= _).getOrElse(lit(true))
    val queryPosts = ranked.filter(col("_pos") <= prefixLen)
      .filter(queryCap.map(col("_pos") <= _).getOrElse(lit(true)))
      .filter(dfOk)
      .select(col(idCol).as("_a"), col("_h"),
        col("_pos").as("_pos_a"), col("_n").as("_n_a"))
    val indexPosts = ranked.filter(dfOk)
      .select(col(idCol).as("_b"), col("_h"),
        col("_pos").as("_pos_b"), col("_n").as("_n_b"))
    val ubound = lit(1) +
      least(col("_n_a") - col("_pos_a"), col("_n_b") - col("_pos_b"))
    queryPosts.join(indexPosts, "_h")
      .filter(col("_a") =!= col("_b"))
      .filter(if (positional) ubound * den >= col("_n_a") * num
        else lit(true))
      .select(col("_a"), col("_b"))
      .distinct()
  }

  /** GLOBAL PLAN LOCK. Overlapped eval arms once made the exact
    * containment verify emit ~10× duplicated rows at sf0.01 (pinned by
    * `ArmOverlapSpec`): catalyst COMPILES — the `withCachedData`
    * cached-plan substitution — raced the other arm's cache-registry
    * mutations (persist/unpersist). So every compile and every registry
    * mutation in the pair family goes through this lock, and only
    * RDD/stage-level EXECUTION overlaps. Forcing
    * `queryExecution.executedPlan` under the lock pins the whole
    * analyze → withCachedData → optimize → physical-plan chain (with AQE
    * this does NOT run stages — AdaptiveSparkPlanExec construction is
    * lazy; stage materialization happens at execute, outside the lock);
    * the subsequent action on the SAME Dataset reuses that
    * QueryExecution, so nothing recompiles outside the lock. Overlapped
    * arms share no identically-shaped private cache (the one shared
    * frame is persisted by the caller's scope and released only after
    * both arms), so no arm can unpersist a cache the other's running plan
    * substituted. Sequential callers pay one uncontended monitor
    * acquisition.
    */
  private[graft] val planLock = new Object

  /** Compile under [[planLock]], collect outside it. `df.collect()`
    * reuses this Dataset's own QueryExecution, so the forced
    * executedPlan is exactly what runs.
    */
  private[graft] def lockedHead(df: DataFrame): org.apache.spark.sql.Row = {
    planLock.synchronized { df.queryExecution.executedPlan }
    df.collect().head
  }

  /** count() compiles a separate aggregate plan — route it through the
    * same compile-under-lock discipline.
    */
  private[graft] def lockedCount(df: DataFrame): Long =
    lockedHead(df.groupBy().count()).getLong(0)

  /** Eager localCheckpoint with the compile under [[planLock]] and the
    * checkpoint job (the arm's long pole) outside it.
    */
  private[graft] def lockedCheckpoint(df: DataFrame): DataFrame = {
    planLock.synchronized { df.queryExecution.executedPlan }
    df.localCheckpoint(true)
  }

  /** What one [[scoped]] body persisted and checkpointed. Persists
    * register under [[planLock]] (a registry mutation and a compile);
    * checkpoints compile under it ([[lockedCheckpoint]]).
    */
  private[graft] final class Scope {
    private val made =
      scala.collection.mutable.ArrayBuffer.empty[(DataFrame, () => Unit)]

    def persist(df: DataFrame, level: StorageLevel = pairStorage): DataFrame = {
      val p = planLock.synchronized { df.persist(level) }
      made += p -> (() => planLock.synchronized { p.unpersist(): Unit })
      p
    }

    /** Releasing a checkpoint drops its blocks, so only a frame nothing
      * lazy still reads may be released.
      */
    def checkpoint(df: DataFrame): DataFrame = {
      val c = lockedCheckpoint(df)
      made += c -> (() => c.queryExecution.logical.foreach {
        case r: LogicalRDD => r.rdd.unpersist(blocking = false): Unit
        case _ => ()
      })
      c
    }

    /** Release `df` now if this scope made it; otherwise a no-op (its
      * owner releases it).
      */
    def release(df: DataFrame): Unit = {
      val i = made.indexWhere(_._1 eq df)
      if (i >= 0) made.remove(i)._2()
    }

    private[Dedup] def close(keep: Any): Unit = {
      made.foreach { case (df, free) => if (!(df eq keep.asInstanceOf[AnyRef])) free() }
      made.clear()
    }
  }

  /** Run `body` with a fresh [[Scope]] and release everything it made when
    * the body returns or throws, except the frame it returns. A frame is
    * released by the scope that made it: an arm reading a frame its
    * caller persisted leaves it to the caller.
    */
  private[graft] def scoped[A](body: Scope => A): A = {
    val sc = new Scope
    var out: Any = null
    try { val a = body(sc); out = a; a }
    finally sc.close(out)
  }

  /** Candidate pairs (a < b) of a band-key frame (idCol, band, bk): ids
    * that share a band bucket, once each. Only ids and band slices travel
    * through the band shuffle.
    */
  private[graft] def bandPairs(banded: DataFrame, idCol: String,
      a: String = "_a", b: String = "_b"): DataFrame = {
    val other = banded.select(col(idCol).as(s"${idCol}_b"), col("band"), col("bk"))
    banded.join(other, Seq("band", "bk"))
      .filter(col(idCol) < col(s"${idCol}_b"))
      .select(col(idCol).as(a), col(s"${idCol}_b").as(b))
      .distinct()
  }

  /** One-permutation-hashing MinHash signature (Li et al.): each doc's
    * hashed shingles are exploded to rows, split into `numHashes` buckets
    * by hash residue, and sig[i] = MIN(h | h ≡ i) — one hash per shingle
    * total instead of `numHashes`, as plain codegen'd min-aggregates with
    * map-side partials. Empty buckets are densified deterministically from
    * the doc's global min.
    */
  def minhashSignature(hashedRows: DataFrame, idCol: String, hCol: String,
      numHashes: Int): DataFrame = {
    val h = col(hCol)
    val bucket = pmod(h, lit(numHashes))
    hashedRows.groupBy(col(idCol))
      .agg(min(when(bucket === 0, h)).as("raw_0"),
        (1 until numHashes).map(i =>
          min(when(bucket === i, h)).as(s"raw_$i")): _*)
      .select(col(idCol) +:
        (0 until numHashes).map(i =>
          // rotation densification: first non-empty bucket scanning
          // forward from i (matches MinHashAgg)
          coalesce((0 until numHashes).map(j =>
            col(s"raw_${(i + j) % numHashes}")): _*).as(s"mh_$i")): _*)
  }

  /** OPH MinHash signature → exploded (idCol, band, bk) band-key rows for
    * a pre-hashed (idCol, _sh: array<bigint>) frame. Shared by the batch
    * LSH pairs and the incremental streaming dedup so their stores stay
    * band-compatible.
    */
  def minhashBandKeys(hashed: DataFrame, idCol: String,
      numHashes: Int, bands: Int): DataFrame =
    bandKeysFromSig(minhashSigs(hashed, idCol, numHashes), idCol,
      numHashes, bands)

  /** One-pass native OPH signature (graft.plans.MinHashAgg) for a
    * pre-hashed (idCol, _sh: array<bigint>) frame → (idCol, _sig).
    */
  def minhashSigs(hashed: DataFrame, idCol: String,
      numHashes: Int): DataFrame = {
    graft.plans.MinHashAgg.register(hashed.sparkSession, numHashes)
    hashed.select(col(idCol), explode(col("_sh")).as("_h"))
      .groupBy(col(idCol))
      .agg(graft.plans.MinHashAgg.minhashSig(col("_h")).as("_sig"))
  }

  /** Band-key explosion of a PRECOMPUTED signature frame (idCol, _sig) —
    * factored out of [[minhashBandKeys]] so a band-configuration sweep
    * (q_lsh_sweep*) shares ONE corpus signature pass across all its
    * bandings instead of re-aggregating per configuration.
    */
  def bandKeysFromSig(signed: DataFrame, idCol: String,
      numHashes: Int, bands: Int): DataFrame = {
    val rows = numHashes / bands
    signed
      .withColumn("_band", explode(transform(sequence(lit(0), lit(bands - 1)),
        b => struct(b.as("band"),
          slice(col("_sig"), b * rows + 1, lit(rows)).as("bk")))))
      .select(col(idCol), col("_band.band"), col("_band.bk"))
  }

  /** MinHash-LSH near-dup pairs (doc_a < doc_b, jaccard) at Jaccard >=
    * `threshold`: OPH signatures banded into (band, slice) keys, a bucket
    * self-join on the keys, the distinct candidate id pairs, then exact
    * Jaccard on the hashed shingle sets. Only ids + band slices travel
    * through the band shuffle; shingle arrays are joined back just for
    * the candidates.
    *
    * The plan is LAZY: building it starts no Spark job, persists nothing
    * and checkpoints nothing; the caller's action runs it. Signatures are
    * computed row by row ([[graft.plans.MinHashSigOf]], the row-local form
    * of [[graft.plans.MinHashAgg]]), so the chain has no signature
    * aggregate: each side of the band self-join signs the documents it
    * scans, which costs less than the job that materialised them once.
    * The two verify sides share one exchange. A `doc_id` that
    * occurs in several rows is signed per row, as the streaming dedup
    * does, where the aggregate form merged its rows into one signature;
    * callers pass one row per document. A row with no shingles has a null
    * signature, so it pairs with nothing, as before.
    *
    * preHashed: `shingleCol` is already a distinct array<bigint> (e.g. the
    * native graft.plans.ShingleHashes one-pass form); otherwise each
    * shingle is hashed with `hashFn`, xxhash64 by default (fast path);
    * pass [[graft.functions.portableHash64]] to make the full chain
    * reproducible in an ANSI-SQL oracle (band buckets are compared as raw
    * signature slices, not engine-private hashes, so candidate sets are
    * provably identical across engines).
    */
  def minhashLshPairs(docs: DataFrame, idCol: String, shingleCol: String,
      numHashes: Int, bands: Int, threshold: Double,
      hashFn: Column => Column = xxhash64(_),
      preHashed: Boolean = false): DataFrame = {
    graft.plans.MinHashSigOf.register(docs.sparkSession, numHashes)
    val hashed =
      if (preHashed) docs.select(col(idCol), col(shingleCol).as("_sh"))
      else docs.select(col(idCol),
        array_distinct(transform(col(shingleCol), s => hashFn(s))).as("_sh"))
    // no `_sig IS NOT NULL` filter: Catalyst would push it below the
    // projection and sign every row twice; a null signature's null band
    // slices match no key of the equi-join anyway
    val banded = bandKeysFromSig(
      hashed.select(col(idCol),
        graft.plans.MinHashSigOf.minhashSigOf(col("_sh")).as("_sig")),
      idCol, numHashes, bands)
    val pairs = bandPairs(banded, idCol, "doc_a", "doc_b")
    val jac = size(array_intersect(col("_sh"), col("_sh_b"))).cast("double") /
      size(array_union(col("_sh"), col("_sh_b")))
    pairs
      .join(hashed.select(col(idCol).as("doc_a"), col("_sh")), "doc_a")
      .join(hashed.select(col(idCol).as("doc_b"), col("_sh").as("_sh_b")), "doc_b")
      .withColumn("jaccard", jac)
      .filter(col("jaccard") >= threshold)
      .select(col("doc_a"), col("doc_b"), col("jaccard"))
  }

  /** Columnar SimHash over a pre-hashed token column: majority vote on the
    * low `bits` bits, one sign-sum expression per bit. Reference semantics
    * for [[graft.plans.SimHashBits]] (which does the same in one codegen'd
    * pass); kept columnar here for parity tests and SQL-expressibility.
    */
  def simhashFromHashes(hashes: Column, bits: Int): Column = {
    val bs = (0 until bits).map { b =>
      val vote = aggregate(hashes, lit(0L),
        (acc, h) => acc + when(shiftright(h, b).bitwiseAND(1) === 1, 1L).otherwise(-1L))
      when(vote > 0, lit(1L << b)).otherwise(0L)
    }
    bs.reduce(_ + _)
  }

  /** 63-bit SimHash over word tokens (bit 63 left clear so the signature
    * stays a non-negative long). Columnar: 63 sign-sum expressions over the
    * token-hash array.
    */
  def simhash63(text: Column): Column =
    simhashFromHashes(transform(wordTokens(text), t => xxhash64(t)), 63)

  /** SimHash near-dup pairs within a band (same length bucket), Hamming
    * distance ≤ `maxHamming` via xor + bit_count.
    */
  def simhashPairs(docs: DataFrame, idCol: String, simhashCol: String,
      bandCols: Seq[String], maxHamming: Int): DataFrame = {
    val a = docs.select((bandCols :+ idCol :+ simhashCol).map(col): _*)
    val b = a.toDF(a.columns.map(c => if (bandCols.contains(c)) c else s"${c}_b"): _*)
    a.join(b, bandCols)
      .filter(col(idCol) < col(s"${idCol}_b"))
      .withColumn("hamming",
        bit_count(col(simhashCol).bitwiseXOR(col(s"${simhashCol}_b"))).cast("long"))
      .filter(col("hamming") <= maxHamming)
      .select(col(idCol).as("doc_a"), col(s"${idCol}_b").as("doc_b"), col("hamming"))
  }

  /** Connected components over near-dup pairs: min-label propagation with
    * pointer jumping, iterated to a TRUE fixpoint.
    *
    * Each round does (a) neighbor-min propagation (label(v) ← min over v
    * and its neighbors' labels) and (b) pointer jumping (label(v) ←
    * label(label(v))). Propagation alone needs O(diameter) rounds; the
    * jumping step halves label-chain depth every round, so convergence is
    * O(log diameter) — a 2^20-link chain closes in ~20 rounds, and no
    * silent cap can leave a cluster half-merged (`maxIters` is a safety
    * valve that THROWS instead of truncating). Every round is
    * `localCheckpoint`ed: lineage stays O(1) and the fixpoint probe reads
    * materialized partitions instead of replaying the whole LSH chain.
    */
  def dupClusters(pairs: DataFrame, maxIters: Int = 64,
      driverMaxEdges: Long = 4000000L): DataFrame = {
    // Size-based strategy: near-dup pair sets are tiny relative to the
    // corpus (pairs ≪ docs even at 100 TB — they're the output of LSH
    // banding + verification). Below `driverMaxEdges` edges, union-find on
    // the driver is exact and costs one collect instead of 2×rounds shuffle
    // jobs; above it, the O(log diameter) distributed loop takes over.
    val longIds = pairs.schema.take(2).forall(_.dataType ==
      org.apache.spark.sql.types.LongType)
    // one job gates and fetches the edges (Gate.collectWithin), so a lazy
    // pair plan runs once inside the gate
    if (longIds) Gate.collectWithin(
        pairs.select(col("doc_a").cast("long"), col("doc_b").cast("long")),
        driverMaxEdges, "dup clusters") match {
      case Some(es) => return driverUnionFind(pairs.sparkSession, es)
      case None => ()
    }
    val edges = pairs.select(col("doc_a").as("src"), col("doc_b").as("dst"))
      .union(pairs.select(col("doc_b").as("src"), col("doc_a").as("dst")))
      .localCheckpoint(true)
    var labels = edges.select(col("src").as("id")).distinct()
      .withColumn("label", col("id"))
      .localCheckpoint(true)
    var converged = false
    var i = 0
    while (!converged) {
      if (i >= maxIters)
        throw new IllegalStateException(
          s"dupClusters did not converge in $maxIters rounds — " +
            "component diameter exceeds 2^" + maxIters)
      // (a) neighbor-min propagation (carrying the pre-round label as `old`
      // so the fixpoint probe is a filter on materialized data, not a join)
      val neighborMin = edges
        .join(labels.withColumnRenamed("id", "dst")
          .withColumnRenamed("label", "nlabel"), "dst")
        .groupBy(col("src").as("id"))
        .agg(min(col("nlabel")).as("nmin"))
      val propagated = labels.join(neighborMin, Seq("id"), "left")
        .select(col("id"), col("label").as("old"),
          least(col("label"), coalesce(col("nmin"), col("label"))).as("label"))
      // (b) pointer jumping: follow the label one hop (labels only ever
      // decrease, so label(label(v)) ≤ label(v) — least() is implicit)
      val updated = propagated.as("a")
        .join(propagated.select(col("id").as("pid"), col("label").as("plabel")),
          col("a.label") === col("pid"), "left")
        .select(col("a.id").as("id"), col("a.old").as("old"),
          coalesce(col("plabel"), col("a.label")).as("label"))
        .localCheckpoint(true)
      converged = updated.filter(col("label") =!= col("old")).isEmpty
      labels = updated.select(col("id"), col("label"))
      i += 1
    }
    labels // (id, label) where label = min doc id of the component
  }

  /** Exact min-label components via union-find (path compression + attach
    * -larger-root-under-smaller, so every root IS its component's min id).
    */
  /** [[dupClusters]] for pair sets whose edges NEVER cross a known
    * blocking column (SemDeDup: [[embeddingPairs]] joins within the
    * k-means bucket, so components are bucket-local by construction).
    * One shuffle (group by bucket) + a per-group union-find replaces
    * the global O(log diameter) pointer-jumping loop — at sf4-replica
    * the 7.5M-edge semdedup pair set took 12.1 s through the
    * distributed loop vs one grouped pass here, and the shape is the
    * 100 TB path: bucket count grows with n (Similarity.autoK), while
    * per-group state is O(vertices in bucket) — bounded by the
    * quantizer's target bucket size, independent of corpus size.
    * Edges stream from the group iterator (never materialized).
    *
    * Same contract as [[dupClusters]]: (id, label) for every id in
    * `pairs`, label = component-min id (union-by-min, identical to
    * driverUnionFind's arithmetic — SemDedupAutoKSpec pins parity).
    */
  def dupClustersBucketed(pairs: DataFrame, bucketCol: String,
      aCol: String = "doc_a", bCol: String = "doc_b"): DataFrame = {
    val ss = pairs.sparkSession
    import ss.implicits._
    pairs.select(col(bucketCol).cast("long"), col(aCol).cast("long"),
        col(bCol).cast("long"))
      .as[(Long, Long, Long)]
      .groupByKey(_._1)
      .flatMapGroups { (_, it) =>
        val parent = scala.collection.mutable.HashMap.empty[Long, Long]
        def find(x: Long): Long = {
          var r = x
          while (parent.getOrElse(r, r) != r) r = parent(r)
          var c = x
          while (parent.getOrElse(c, c) != c) {
            val nxt = parent(c); parent(c) = r; c = nxt
          }
          r
        }
        it.foreach { case (_, a, b) =>
          parent.getOrElseUpdate(a, a)
          parent.getOrElseUpdate(b, b)
          val ra = find(a); val rb = find(b)
          if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
        }
        parent.keysIterator.map(v => (v, find(v))).toSeq
      }
      .toDF("id", "label")
  }

  private def driverUnionFind(spark: SparkSession,
      edges: Array[org.apache.spark.sql.Row]): DataFrame = {
    val es = edges.map(r => (r.getLong(0), r.getLong(1)))
    val parent = scala.collection.mutable.HashMap.empty[Long, Long]
    def find(x: Long): Long = {
      var r = x
      while (parent.getOrElse(r, r) != r) r = parent(r)
      var c = x
      while (parent.getOrElse(c, c) != c) { val nxt = parent(c); parent(c) = r; c = nxt }
      r
    }
    es.foreach { case (a, b) =>
      parent.getOrElseUpdate(a, a)
      parent.getOrElseUpdate(b, b)
      val ra = find(a); val rb = find(b)
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val labels = parent.keysIterator.map(v => (v, find(v))).toSeq
    spark.createDataFrame(labels).toDF("id", "label")
  }

  /** The end-use of the dedup family: remove every non-representative
    * member of each near-dup cluster, keeping the min-id doc.
    */
  def dedupedCorpus(docs: DataFrame, idCol: String, pairs: DataFrame): DataFrame = {
    val drop = dupClusters(pairs).filter(col("id") =!= col("label"))
      .select(col("id").as(idCol))
    docs.join(drop, Seq(idCol), "left_anti")
  }

  /** Winnowing document fingerprints (Schleimer et al., the MOSS
    * rolling-hash scheme): hash every character k-gram of the normalized
    * text, then keep the minimum hash of each complete window of `w`
    * consecutive k-grams — a content-defined selection of ~n/w
    * representative hashes per document that is robust to insertions.
    *
    * Shape: explode to (doc, gram-index) rows and take a sliding-frame
    * window min — everything stays in whole-stage codegen (one hash per
    * gram, no higher-order array lambdas to inline), and the only shuffle
    * is the per-doc window partition. Returns (idCol, fp) rows, one per
    * distinct selected fingerprint.
    */
  def winnowFingerprints(docs: DataFrame, idCol: String, textCol: String,
      k: Int, w: Int, hashFn: Column => Column): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val norm = regexp_replace(lower(col(textCol)), "[^a-z0-9]+", " ")
    val base = docs.select(col(idCol), norm.as("_norm"))
      .withColumn("_ng", greatest(length(col("_norm")) - (k - 1), lit(0)))
    val grams = base
      .withColumn("_i", explode(when(col("_ng") >= 1,
        sequence(lit(1), col("_ng"))).otherwise(array())))
      .select(col(idCol), col("_ng"), col("_i"),
        hashFn(col("_norm").substr(col("_i"), lit(k))).as("_h"))
    val frame = Window.partitionBy(col(idCol)).orderBy(col("_i"))
      .rowsBetween(Window.currentRow, w - 1)
    grams.withColumn("_fp", min(col("_h")).over(frame))
      .filter(col("_i") <= col("_ng") - (w - 1)) // complete windows only
      .select(col(idCol), col("_fp").as("fp"))
      .distinct()
  }

  /** Deterministic ±1 (Rademacher) hyperplane bank for sign-random-
    * projection LSH — shared by [[embeddingLshPairs]] and its SQL oracle
    * generator, so both engines compute bit-identical bucket keys (±1
    * entries round-trip exactly through SQL literals; Gaussian floats
    * would risk parse drift).
    */
  lazy val hyperplanes: Array[Array[Double]] = {
    val rng = new scala.util.Random(42)
    // 2048 planes = headroom for [[autoBanding]]'s deepest shape
    // (rows=20 × bands=92 = 1840 under the dual-design-point table).
    // `Array.fill` draws row-by-row, so the first 64 rows are
    // bit-identical to the historical 64-plane bank — every committed
    // oracle SQL literal and pinned-(8,8) bucket key is unchanged (the
    // correctness gate would catch any drift).
    Array.fill(2048)(Array.fill(64)(if (rng.nextBoolean()) 1.0 else -1.0))
  }

  /** Pinned (rows → bands) table for [[autoBanding]]: for each signature
    * width `rows`, the band count that holds the S-curve recall of the
    * historical (bands=8, rows=8) shape at BOTH design cosines —
    * bands(r) = max(bands₀.₉₅(r), bands₀.₈₅(r)) with
    * bands_c(r) = ⌈ln(1−R₈(c))/ln(1−p(c)ʳ)⌉, p(c) = 1 − arccos(c)/π,
    * R₈(c) = 1 − (1 − p(c)⁸)⁸ (p(0.95) ≈ 0.89892, R₈ ≈ 0.9883;
    * p(0.85) ≈ 0.82340, R₈ ≈ 0.8503; bands(8) = 8 by construction).
    * Literals are PINNED — recomputing them per-JVM from doubles could
    * drift a ceil across platforms and silently change every bucket key.
    *
    * Recall contract (round-12 restatement — the r11 single-design-point
    * table only guaranteed ≥ at c* = 0.95; for tight rungs the crossing
    * sat near 0.95, so mid-cosine recall silently dropped below the
    * baseline): anchoring each rung at BOTH 0.95 and 0.85 pins the
    * adaptive curve ≥ the (8, 8) baseline at the two ends of the
    * near-dup regime, and because two S-curves of this family cross at
    * most once, the ≥ holds POINTWISE on all of cos ∈ [0.85, 1]
    * (verified on a 0.001-step grid for every rung; zero violations).
    * Below 0.85 a steeper curve necessarily trades recall for precision
    * — that is the point of sizing rows with the corpus, and recall
    * down there was never the near-dup contract (the (8, 8) shape
    * itself recalls <20% at cos 0.4). EmbeddingLshAutoSpec pins the ≥
    * empirically on planted corpora at a shallow (rows=9) AND a deep
    * (rows≥11) rung. Cost: the 0.85 anchor raises bands 1.3–1.6× at
    * the rungs real corpora hit (11–14) — the coincidental-collision
    * term stays ≈ n·occ·bands, still linear in n.
    */
  val bandsForRows: Map[Int, Int] = Map(
    8 -> 8, 9 -> 10, 10 -> 13, 11 -> 16, 12 -> 19, 13 -> 23, 14 -> 28,
    15 -> 35, 16 -> 42, 17 -> 51, 18 -> 62, 19 -> 76, 20 -> 92)

  /** Corpus-adaptive LSH shape (SURVEY §7f-0 / round-10 verdict item 1):
    * coincidental collisions between non-near-dup vectors contribute
    * ≈ n²·bands/2ʳᵒʷˢ candidate pairs — quadratic in corpus size for any
    * FIXED banding (measured exponent 2.07 at 40× data,
    * SCALE_CURVE_r10). Sizing rows with the corpus so mean bucket
    * occupancy stays ≤ `targetOcc` (2ʳᵒʷˢ ≥ n/occ, i.e.
    * rows = ⌈log₂(n/occ)⌉) makes that term ≈ n·occ·bands — linear —
    * while [[bandsForRows]] raises bands to hold recall. Floors at the
    * historical (8, 8) for n ≤ occ·2⁸ = 4096, which covers both
    * correctness scales (sf0.01 n=500, sf0.1 n=2000) — the oracle-gated
    * queries therefore run the EXACT pinned shape their static SQL
    * twins encode (spec-pinned in EmbeddingLshAutoSpec). Integer-exact
    * arithmetic (bit-length, no floating log) so any engine reproducing
    * the rule lands on the same shape.
    */
  def autoBanding(n: Long, targetOcc: Int = 16): (Int, Int) = {
    val m = math.max(1L, (n + targetOcc - 1) / targetOcc) // ceil(n/occ)
    val ceilLog2 =
      if (m <= 1L) 0 else 64 - java.lang.Long.numberOfLeadingZeros(m - 1L)
    val rows = math.max(8, math.min(20, ceilLog2))
    (bandsForRows(rows), rows)
  }

  /** Embedding near-dup pairs via random-hyperplane LSH (Charikar): the
    * signature bit for hyperplane h is sign(v·h); `bands` bands of `rows`
    * bits each bucket the vectors, candidates share a band bucket, and
    * only candidates pay the exact-cosine verify. This is the 100 TB path
    * for embedding dedup — no low-cardinality band column (a popular
    * label/length bucket is O(bucket²)), bucket population is driven by
    * the data distribution itself, and the shuffle keys are (band, key)
    * ints.
    *
    * SIZING RULE (measured at 40× data, SCALE_CURVE_r10): coincidental
    * collisions between NON-near-dup vectors contribute
    * ≈ n²·bands/2^rows candidate pairs — quadratic in corpus size for
    * any FIXED banding. [[embeddingLshPairsAuto]] implements the sizing
    * rule (2^rows ≳ n/occ with [[bandsForRows]] holding recall on the
    * S-curve) and is the default entry point; this fixed-shape form
    * stays for pinned/oracle use and as the auto variant's target.
    */
  def embeddingLshPairs(emb: DataFrame, idCol: String, vecCol: String,
      bands: Int, rows: Int, threshold: Double,
      extraKeys: Seq[String] = Nil): DataFrame = {
    require(bands * rows <= hyperplanes.length, "not enough hyperplanes")
    graft.plans.SignProjKeys.register(emb.sparkSession,
      hyperplanes.take(bands * rows), rows)
    val base = emb.select((idCol +: vecCol +: extraKeys).map(col): _*)
      .persist(pairStorage)
    try {
      // all band keys in one native pass (graft.plans.SignProjKeys) —
      // bands×rows interpreted dot-folds would dominate the query
      val banded = base
        .select(col(idCol) +: extraKeys.map(col) :+ posexplode(
          graft.plans.SignProjKeys.signProjKeys(col(vecCol))): _*)
        .toDF((idCol +: extraKeys) ++ Seq("band", "bk"): _*)
      val other = banded.withColumnRenamed(idCol, s"${idCol}_b")
      // extraKeys join with (band, bk): candidates must share the LSH
      // bucket AND every extra key — a low-cardinality extra key (label)
      // alone would be O(bucket²); composed with the adaptive bucket it
      // only ever SHRINKS the LSH candidate set
      val pairs = banded.join(other, Seq("band", "bk") ++ extraKeys)
        .filter(col(idCol) < col(s"${idCol}_b"))
        .select(col(idCol).as("vec_a"), col(s"${idCol}_b").as("vec_b"))
        .distinct()
      // native one-pass cosine for the verify: bit-identical to the
      // dotD/norm formulation (same sequential folds), ~20× cheaper
      graft.plans.VecCosine.register(emb.sparkSession)
      pairs
        .join(base.select(col(idCol).as("vec_a"), col(vecCol)), "vec_a")
        .join(base.select(col(idCol).as("vec_b"), col(vecCol).as("_v_b")), "vec_b")
        .withColumn("cos", graft.plans.VecCosine.cosine(col(vecCol), col("_v_b")))
        .filter(col("cos") >= threshold)
        .select(col("vec_a"), col("vec_b"), col("cos"))
        .localCheckpoint(true)
    } finally {
      base.unpersist()
      // restore the session-global SQL function to the shape
      // GraftExtensions documents (pinned 64-plane / rows=8): the
      // adaptive registration above is needed only until the
      // localCheckpoint materializes, and leaving it would silently
      // hand later SQL callers drifted bucket keys
      graft.plans.SignProjKeys.register(emb.sparkSession,
        hyperplanes.take(64), 8)
    }
  }

  /** [[embeddingLshPairs]] with the (bands, rows) shape auto-sized from
    * the corpus via [[autoBanding]] — the default entry point (the fixed
    * shape stays available for pinned/oracle use). `n` comes from
    * Catalyst's logical-plan row-count stat when the plan carries one;
    * otherwise one `count()` job — on a parquet scan that is a
    * footer-metadata aggregate (no column data read), seconds against a
    * pair-generation query that scales in n·occ·bands, and exact where a
    * sizeInBytes-derived estimate could flip a ladder step between
    * engines. The chosen shape is logged to stderr so a run is
    * self-describing about which banding it used.
    */
  def embeddingLshPairsAuto(emb: DataFrame, idCol: String, vecCol: String,
      threshold: Double, extraKeys: Seq[String] = Nil,
      targetOcc: Int = 16): DataFrame = {
    val n = emb.queryExecution.optimizedPlan.stats.rowCount match {
      case Some(rc) => rc.toLong
      case None => emb.count()
    }
    val (bands, rows) = autoBanding(n, targetOcc)
    System.err.println(
      s"[graft] embeddingLshPairsAuto: n=$n -> bands=$bands rows=$rows " +
      s"(occ<=$targetOcc, coincidental~n*occ*bands)")
    embeddingLshPairs(emb, idCol, vecCol, bands, rows, threshold, extraKeys)
  }

  /** Embedding-cosine near-dup pairs, banded by a cluster/label column.
    * Norms are computed once per vector (before the pair fan-out), so each
    * pair costs a single dot-product fold.
    */
  def embeddingPairs(emb: DataFrame, idCol: String, vecCol: String,
      bandCol: String, threshold: Double,
      keepBand: Boolean = false): DataFrame = {
    graft.plans.VecCosine.register(emb.sparkSession)
    val a = emb.select(col(bandCol), col(idCol), col(vecCol))
    val b = a.toDF(bandCol, s"${idCol}_b", s"${vecCol}_b")
    val out = (if (keepBand) Seq(col(bandCol)) else Seq.empty) ++ Seq(
      col(idCol).as("vec_a"), col(s"${idCol}_b").as("vec_b"), col("cos"))
    a.join(b, bandCol)
      .filter(col(idCol) < col(s"${idCol}_b"))
      .withColumn("cos",
        graft.plans.VecCosine.cosine(col(vecCol), col(s"${vecCol}_b")))
      .filter(col("cos") >= threshold)
      .select(out: _*)
  }
}
