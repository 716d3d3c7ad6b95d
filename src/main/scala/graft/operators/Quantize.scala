package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions._
import graft.sources.Sources

/** int8 scalar quantization of an embedding column — the standard
  * compression step before shipping vectors to an ANN index or a training
  * shard (4× smaller than float32, distance-preserving to ~1e-5 MSE).
  *
  * Two passes, both trivially parallel: (1) per-dimension min/max (one
  * grouped aggregate, 2·dim values collected — dim ≪ data); (2) a pure
  * projection quantizing each vector against the broadcast-literal ranges.
  * Codes use `floor((x-min)/(max-min)·255)` clamped to 255 — floor (not
  * round) because both engines floor identically, which makes the whole
  * encode→decode→error chain bit-reproducible in the SQL oracle.
  */
object Quantize {

  /** Per-dimension (min, max) of a float-array column, collected to the
    * driver (2·dim doubles). ONE narrow grouped aggregate over
    * `posexplode` (dim groups, two aggregate columns): the former global
    * aggregate had 2·dim columns, past `spark.sql.codegen.maxFields`, so
    * it ran without whole-stage codegen and paid projection codegen in
    * every task. min/max are exact, so the ranges are the same values.
    */
  def dimRanges(emb: DataFrame, vecCol: String, dim: Int): (Array[Double], Array[Double]) = {
    val rows = emb.select(posexplode(col(vecCol)).as(Seq("_i", "_x")))
      .filter(col("_i") < dim)
      .groupBy(col("_i"))
      .agg(min(col("_x").cast("double")), max(col("_x").cast("double")))
      .collect()
    require(rows.length == dim,
      s"dimRanges: ${dim - rows.length} of $dim dimensions have no value")
    val mins = new Array[Double](dim)
    val maxs = new Array[Double](dim)
    rows.foreach { r =>
      mins(r.getInt(0)) = r.getDouble(1); maxs(r.getInt(0)) = r.getDouble(2)
    }
    (mins, maxs)
  }

  /** Squared reconstruction error of int8-quantizing `vecCol` against the
    * given ranges: a single wide codegen'd expression — a left-fold in
    * index order (matches DuckDB `list_sum`), each term touching only the
    * raw array attribute (no computed-array re-inlining, see SURVEY §5a).
    */
  def sqErrExpr(vecCol: Column, mins: Array[Double], maxs: Array[Double]): Column =
    mins.indices.map { i =>
      val x = element_at(vecCol, i + 1).cast("double")
      val mn = lit(mins(i)); val range = lit(maxs(i) - mins(i))
      val code =
        if (maxs(i) == mins(i)) lit(0.0)
        else least(lit(255.0), floor((x - mn) / range * 255.0))
      val recon = mn + code / 255.0 * range
      val d = x - recon
      d * d
    }.reduce(_ + _)

  // ---------------------------------------------------------------- queries

  /** Quantization-error report per label: vectors, mean squared
    * reconstruction error (exact-decimal summed per label), and the worst
    * per-vector error — the dashboard that decides whether int8 is safe
    * for a corpus.
    */
  def qEmbedQuantize(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val emb = Sources.embeddings(s, dir)
    val dim = emb.select(size($"embedding").as("d")).head.getInt(0)
    val (mins, maxs) = dimRanges(emb, "embedding", dim)
    emb
      .withColumn("err", sqErrExpr($"embedding", mins, maxs))
      .groupBy($"label")
      .agg(count(lit(1)).as("n_vecs"),
        (xsum($"err", scale = 12) / count(lit(1)) / dim).as("mse"),
        max($"err").as("max_err"))
      .orderBy($"label")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] =
    Map("q_embed_quantize" -> qEmbedQuantize)

  val oracles: Map[String, String] = Map(
    "q_embed_quantize" ->
      """WITH dims AS (
        |  SELECT i, MIN(CAST(v[i] AS DOUBLE)) AS mn, MAX(CAST(v[i] AS DOUBLE)) AS mx
        |  FROM (SELECT embedding AS v FROM embeddings)
        |    CROSS JOIN (SELECT unnest(range(1, 65)) AS i)
        |  GROUP BY i),
        |rng AS (
        |  SELECT list(mn ORDER BY i) AS mns, list(mx ORDER BY i) AS mxs
        |  FROM dims),
        |e AS (
        |  SELECT label, list_sum(list_transform(
        |    list_transform(range(1, 65), i ->
        |      CASE WHEN mxs[i] = mns[i] THEN 0.0 ELSE
        |        CAST(v[i] AS DOUBLE) - (mns[i] +
        |          least(255.0, floor((CAST(v[i] AS DOUBLE) - mns[i])
        |            / (mxs[i] - mns[i]) * 255.0)) / 255.0 * (mxs[i] - mns[i]))
        |      END),
        |    d -> d * d)) AS err
        |  FROM (SELECT label, embedding AS v FROM embeddings) CROSS JOIN rng)
        |SELECT label, COUNT(*) AS n_vecs,
        |  CAST(SUM(CAST(err AS DECIMAL(27,12))) AS DOUBLE) / COUNT(*) / 64 AS mse,
        |  MAX(err) AS max_err
        |FROM e GROUP BY label ORDER BY label""".stripMargin)
}
