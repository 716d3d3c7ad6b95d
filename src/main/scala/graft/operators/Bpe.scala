package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions._
import graft.sources.Sources

/** BPE (byte-pair-encoding) merge-table learning — the tokenizer-training
  * step of an LLM data pipeline, run as a distributed histogram loop.
  *
  * The standard trainer shape: tokenize the corpus once into a WORD
  * HISTOGRAM (unique word → count; vastly smaller than the corpus, and
  * the only thing that ever shuffles), spell each word as space-separated
  * symbols, then repeat: count adjacent symbol pairs weighted by word
  * frequency (one map-side-combining aggregation over the histogram),
  * merge the most frequent pair everywhere (a pure projection using
  * left-to-right non-overlapping literal `replace` — identical semantics
  * in the JVM and DuckDB), emit (round, pair, merged, count).
  *
  * Determinism: counts are exact integers; the winning pair breaks ties
  * by binary string order; pair extraction double-counts overlapping
  * pairs ("a a a" yields "a a" twice) exactly like the reference BPE
  * formulation — and identically in the oracle. No end-of-word marker is
  * modeled (a simplification; adding one is a constant suffix symbol).
  *
  * Scale shape: corpus → histogram is the one big aggregation (the same
  * shape as word count); each merge round then aggregates the compact
  * histogram only. nMerges collect()s move one row each.
  */
object Bpe {

  /** Word-histogram size gate for the in-memory merge loop (r15, the
    * [[Graph.EdgeGate]] pattern): the BPE loop's ONLY state is the
    * (unique word, count) histogram — vocabulary-sized, not
    * corpus-sized — so when it fits the driver heap (~2M words ·
    * ~100 B ≈ 200 MB transient) the whole nMerges loop runs as local
    * string arithmetic with zero per-round Spark jobs. The distributed
    * histogram aggregation (the one corpus-scale pass) is unchanged;
    * past the gate the per-round aggregate loop applies — the 100 TB
    * path, where a hundreds-of-millions-entry vocabulary stays
    * distributed.
    */
  private[graft] val VocabGate = 2000000

  /** Collect the (word, cnt) histogram when it fits [[VocabGate]] (one
    * job, [[Gate.collectWithin]]). The histogram is probed unpersisted:
    * only the past-the-gate loops read it again, and they persist their
    * own spelled form of it.
    */
  private def collectHist(hist: DataFrame,
      site: String): Option[Array[(String, Long)]] =
    Gate.collectWithin(hist, VocabGate, site)
      .map(_.map(r => (r.getString(0), r.getLong(1))))

  /** The local merge loop: identical semantics to the distributed form —
    * adjacent-pair counts weighted by word frequency (overlapping pairs
    * double-counted), argmax by (count desc, pair binary asc; tokens are
    * pure ASCII so String.compareTo IS the UTF8 binary order), literal
    * left-to-right non-overlapping replace (Java String.replace ==
    * Spark/DuckDB `replace`). Returns (round, pair, merged, cnt) plus
    * the per-round spelled histogram for the compression curve.
    */
  private def localMergeLoop(words: Array[(String, Long)], nMerges: Int,
      collectStages: Boolean = true):
      (Seq[(Long, String, String, Long)], Array[Array[(String, Long)]]) = {
    // spell as space-separated single-char symbols (ASCII tokens, so
    // char-join == the regexp_replace spelling)
    var cur = words.map { case (w, c) => (w.toCharArray.mkString(" "), c) }
    // collectStages=false (r15 ADVICE): trainMerges discards the per-round
    // histogram snapshots — don't hold nMerges+1 vocabulary-sized arrays
    // live on the driver for a caller that never reads them
    val stages = Array.newBuilder[Array[(String, Long)]]
    if (collectStages) stages += cur
    val merges = Seq.newBuilder[(Long, String, String, Long)]
    for (r <- 1 to nMerges) {
      val counts = scala.collection.mutable.HashMap.empty[String, Long]
      cur.foreach { case (s, c) =>
        val syms = s.split(" ")
        var i = 0
        while (i < syms.length - 1) {
          val pr = syms(i) + " " + syms(i + 1)
          counts.update(pr, counts.getOrElse(pr, 0L) + c)
          i += 1
        }
      }
      if (counts.nonEmpty) {
        val (pair, cnt) = counts.minBy { case (p, c) => (-c, p) }
        val merged = pair.replace(" ", "")
        merges += ((r.toLong, pair, merged, cnt))
        cur = cur.map { case (s, c) => (s.replace(pair, merged), c) }
        if (collectStages) stages += cur
      }
    }
    (merges.result(), stages.result())
  }

  private def wordHist(docs: DataFrame, textCol: String): DataFrame = {
    import docs.sparkSession.implicits._
    docs.select(explode(wordTokens(col(textCol))).as("w"))
      .groupBy($"w").agg(count(lit(1)).as("cnt"))
  }

  /** Learn `nMerges` BPE merges over the word histogram of `docs.textCol`.
    * Returns one row per merge round: (round, pair, merged, cnt).
    */
  def trainMerges(docs: DataFrame, textCol: String, nMerges: Int): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val histW = wordHist(docs, textCol)
    collectHist(histW, "bpe merges") match {
      case Some(words) =>
        val (merges, _) = localMergeLoop(words, nMerges,
          collectStages = false)
        spark.createDataFrame(merges)
          .toDF("round", "pair", "merged", "cnt")
          .orderBy($"round")
      case None => trainMergesShuffle(histW, nMerges)
    }
  }

  /** Past-the-gate distributed loop (unchanged shape): per round one
    * map-side-combining aggregate over the spelled histogram + a 1-row
    * collect.
    */
  private def trainMergesShuffle(histW: DataFrame, nMerges: Int): DataFrame = {
    val spark = histW.sparkSession
    import spark.implicits._
    val hist = histW
      .select(trim(regexp_replace($"w", "(.)", "$1 ")).as("s"), $"cnt")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      graft.plans.AdjacentPairs.register(spark)
      var cur = hist
      val merges = Seq.newBuilder[(Long, String, String, Long)]
      for (r <- 1 to nMerges) {
        // adjacent symbol pairs in one codegen'd pass (identical to the
        // zip_with-tail + filter composition)
        val pairs = graft.plans.AdjacentPairs.pairs(split($"s", " "))
        val top = cur
          .select($"cnt", explode(pairs).as("pr"))
          .groupBy($"pr").agg(sum($"cnt").as("c"))
          .orderBy($"c".desc, $"pr")
          .limit(1)
          .collect()
        if (top.nonEmpty) {
          val pair = top(0).getString(0)
          val cnt = top(0).getLong(1)
          val merged = pair.replace(" ", "")
          merges += ((r.toLong, pair, merged, cnt))
          cur = cur.select(
            replace($"s", lit(pair), lit(merged)).as("s"), $"cnt")
        }
      }
      merges.result()
        .toDF("round", "pair", "merged", "cnt")
        .orderBy($"round")
        .localCheckpoint(true)
    } finally hist.unpersist()
  }

  /** Tokenizer-application side of BPE: apply the learned merges to the
    * histogram and report the weighted total symbol count after each
    * round — the compression curve that decides how many merges are
    * worth learning. Stage 0 = raw characters.
    */
  def compressionCurve(docs: DataFrame, textCol: String,
      nMerges: Int): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val histW = wordHist(docs, textCol)
    collectHist(histW, "bpe curve") match {
      case Some(words) =>
        // same local loop; the curve is Σ cnt·|symbols| per stage
        val (_, stages) = localMergeLoop(words, nMerges)
        val curve = stages.zipWithIndex.map { case (stage, i) =>
          (i.toLong, stage.map { case (s, c) =>
            c * (s.count(_ == ' ') + 1L) }.sum)
        }.toSeq
        spark.createDataFrame(curve)
          .toDF("stage", "n_symbols").orderBy($"stage")
      case None => compressionCurveShuffle(histW, nMerges)
    }
  }

  /** Past-the-gate distributed curve loop (unchanged shape). */
  private def compressionCurveShuffle(histW: DataFrame,
      nMerges: Int): DataFrame = {
    val spark = histW.sparkSession
    import spark.implicits._
    graft.plans.AdjacentPairs.register(spark)
    val hist = histW
      .select(trim(regexp_replace($"w", "(.)", "$1 ")).as("s"), $"cnt")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      def totalSymbols(df: DataFrame): Long =
        df.agg(sum($"cnt" * size(split($"s", " ")))).head.getLong(0)
      var cur = hist
      val curve = Seq.newBuilder[(Long, Long)]
      curve += ((0L, totalSymbols(hist)))
      for (r <- 1 to nMerges) {
        val top = cur
          .select($"cnt", explode(graft.plans.AdjacentPairs.pairs(
            split($"s", " "))).as("pr"))
          .groupBy($"pr").agg(sum($"cnt").as("c"))
          .orderBy($"c".desc, $"pr")
          .limit(1)
          .collect()
        if (top.nonEmpty) {
          val pair = top(0).getString(0)
          cur = cur.select(
            replace($"s", lit(pair), lit(pair.replace(" ", ""))).as("s"),
            $"cnt")
          curve += ((r.toLong, totalSymbols(cur)))
        }
      }
      curve.result().toDF("stage", "n_symbols").orderBy($"stage")
        .localCheckpoint(true)
    } finally hist.unpersist()
  }

  // ---------------------------------------------------------------- queries

  /** The first 6 BPE merges learned from the documents corpus. */
  def qBpeTrain(s: SparkSession, dir: String): DataFrame =
    trainMerges(Sources.documents(s, dir), "text", nMerges = 6)

  /** Weighted symbol totals after each of the 6 learned merges. */
  def qBpeEncode(s: SparkSession, dir: String): DataFrame =
    compressionCurve(Sources.documents(s, dir), "text", nMerges = 6)

  val queries: Map[String, (SparkSession, String) => DataFrame] =
    Map("q_bpe_train" -> qBpeTrain, "q_bpe_encode" -> qBpeEncode)

  val oracles: Map[String, String] = Map(
    "q_bpe_train" -> bpeOracle, "q_bpe_encode" -> bpeEncodeOracle)

  /** Per-stage totals over the same unrolled 6-round chain. */
  private def bpeEncodeOracle: String = {
    val rounds = (1 to 6).map(roundSql).mkString(",\n")
    val stages = (0 to 6).map(r =>
      s"SELECT CAST($r AS BIGINT) AS stage, " +
        s"CAST(SUM(cnt * len(string_split(s, ' '))) AS BIGINT) AS n_symbols " +
        s"FROM w$r").mkString(" UNION ALL ")
    s"""WITH $histSql,
       |$rounds
       |SELECT stage, n_symbols FROM ($stages) ORDER BY stage""".stripMargin
  }

  /** Shared CTE text: word histogram + spaced spelling (hist, w0).
    * NB the s-interpolator: it processes `\\1` → `\1` even in triple
    * quotes; a plain triple-quoted literal would ship two backslashes
    * to DuckDB and silently corrupt the spelling regex.
    */
  private def histSql: String =
    s"""hist AS (
      |  SELECT w, COUNT(*) AS cnt FROM (
      |    SELECT unnest(regexp_split_to_array(lower(text), '[^a-z]+')) AS w
      |    FROM documents)
      |  WHERE w <> '' GROUP BY w),
      |w0 AS (
      |  SELECT trim(regexp_replace(w, '(.)', '\\1 ', 'g')) AS s, cnt
      |  FROM hist)""".stripMargin

  /** Shared CTE text for merge round `r`: pair count, argmax, replace. */
  private def roundSql(r: Int): String =
    s"""p$r AS (
       |  SELECT pr, SUM(cnt) AS c FROM (
       |    SELECT cnt, unnest(list_transform(range(1, len(a)),
       |      j -> a[j] || ' ' || a[j + 1])) AS pr
       |    FROM (SELECT cnt, string_split(s, ' ') AS a FROM w${r - 1}))
       |  GROUP BY pr),
       |t$r AS (SELECT pr, c FROM p$r ORDER BY c DESC, pr LIMIT 1),
       |w$r AS (
       |  SELECT replace(w.s, t.pr, replace(t.pr, ' ', '')) AS s, w.cnt
       |  FROM w${r - 1} w CROSS JOIN t$r t)""".stripMargin

  /** The same 6-round loop unrolled in SQL: word histogram, spaced
    * spelling, per-round pair count + argmax + literal replace.
    */
  private def bpeOracle: String = {
    val rounds = (1 to 6).map(roundSql).mkString(",\n")
    val out = (1 to 6).map(r =>
      s"SELECT CAST($r AS BIGINT) AS round, pr AS pair, " +
        s"replace(pr, ' ', '') AS merged, CAST(c AS BIGINT) AS cnt FROM t$r")
      .mkString(" UNION ALL ")
    s"""WITH $histSql,
       |$rounds
       |SELECT round, pair, merged, cnt FROM ($out) ORDER BY round""".stripMargin
  }
}
