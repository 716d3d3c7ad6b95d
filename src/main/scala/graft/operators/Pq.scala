package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions._
import graft.sources.Sources

/** Product quantization (PQ) for embedding compression: split each vector
  * into `m` subspaces, train a tiny codebook per subspace, and store each
  * vector as `m` small codes — the memory layout behind billion-scale ANN
  * indexes (IVF-PQ).
  *
  * This implementation trains over the int8-quantized codes from
  * [[Quantize]] with ALL-INTEGER arithmetic: seeds by salted-hash rank,
  * assignment by integer squared-L2 argmin (ties → lowest centroid id),
  * centroid updates by element-wise floor-division means. Every step is
  * partitioning-independent and engine-exact, so the full training loop +
  * encoding is replayed by the SQL oracle with zero float tolerance.
  *
  * Scale shape: codebooks are tiny (m·k subvectors, driver-held literals);
  * each training round is one scan with map-side-combining per-dimension
  * sums; encoding is a pure projection. The corpus never shuffles.
  */
object Pq {

  /** int8-quantize an embedding column into `(vec_id, codes)` — the
    * integer domain every PQ/IVF step trains and encodes over.
    */
  def quantizeCodes(emb: DataFrame, idCol: String, vecCol: String,
      dim: Int): DataFrame = {
    val (mins, maxs) = Quantize.dimRanges(emb, vecCol, dim)
    val codeArr = array((0 until dim).map { i =>
      val x = element_at(col(vecCol), i + 1).cast("double")
      val code =
        if (maxs(i) == mins(i)) lit(0.0)
        else least(lit(255.0),
          floor((x - lit(mins(i))) / lit(maxs(i) - mins(i)) * 255.0))
      code.cast("long")
    }: _*)
    emb.select(col(idCol).as("vec_id"), codeArr.as("codes"))
  }

  /** Train `m` per-subspace codebooks of `k` centroids over an integer
    * `(vec_id, codes)` frame (subspace s = codes[s·subDim+1 .. (s+1)·subDim]).
    * Seeds are the `k` lowest `salt`-prefixed portable hashes per subspace
    * — selected for ALL subspaces in ONE job (the rn<=k window filter
    * plans as WindowGroupLimit: per-partition top-k BEFORE the tiny
    * shuffle, the scale-correct two-phase selection). Each Lloyd round is
    * ONE scan: the native one-pass encoder assigns every subspace, then
    * per-dimension sums aggregate with map-side combine; updates are
    * floor-division means, so the whole loop is integer-exact and
    * partitioning-independent. With m=1 this is a plain coarse quantizer
    * trainer (the IVF case).
    */
  /** Row gate for the in-memory trainer (r15, the Graph.EdgeGate /
    * Bpe.VocabGate pattern): the training loop's state is the codebook
    * (tiny) but every round reads the full `(vec_id, codes)` frame —
    * when that frame fits the driver (~200k × 64 longs ≈ 100 MB raw,
    * ~3× boxed transient during collect) the seed selection and every
    * Lloyd round run as local integer arithmetic with ZERO extra Spark
    * jobs (the one limit-collect replaces 2 + iters jobs and their
    * window/aggregate stage chains). Identical arithmetic end to end:
    * portable md5-60bit seed hashes, (h, vec_id) seed order, strict-<
    * argmin with ties to the lowest cid, truncating integer-mean
    * updates. Past the gate the distributed loop below is unchanged —
    * the 100 TB path (CollectLimit stops after ~gate rows, so the
    * probe stays cheap).
    */
  private[graft] val LocalCodesGate = 200000

  private def md5h60(s: String): Long = portableHash64Local(s)

  private def localTrainBooks(rows: Array[(Long, Array[Long])], subDim: Int,
      m: Int, k: Int, iters: Int, salt: String): Array[Seq[(Long, Array[Long])]] = {
    // seeds: per subspace, the k lowest (portable hash, vec_id)
    var books: Array[Seq[(Long, Array[Long])]] = (0 until m).map { s0 =>
      rows.map { case (id, codes) =>
        (md5h60(s"$salt$s0:$id"), id,
          java.util.Arrays.copyOfRange(codes, s0 * subDim, (s0 + 1) * subDim))
      }.sortBy(r => (r._1, r._2)).take(k)
        .zipWithIndex.map { case (r, i) => (i.toLong, r._3) }.toSeq
    }.toArray
    for (_ <- 0 until iters) {
      val sums = Array.fill(m, k)(new Array[Long](subDim))
      val counts = Array.fill(m, k)(0L)
      // assignment identical to PqEncode: strict < over cid-sorted
      // centroids, so ties keep the lowest cid
      rows.foreach { case (_, codes) =>
        var s0 = 0
        while (s0 < m) {
          val cents = books(s0)
          val base = s0 * subDim
          var bestD = Long.MaxValue
          var bestC = -1
          var c = 0
          while (c < cents.length) {
            val cent = cents(c)._2
            var d = 0L
            var j = 0
            while (j < subDim) {
              val diff = codes(base + j) - cent(j); d += diff * diff; j += 1
            }
            if (d < bestD) { bestD = d; bestC = c }
            c += 1
          }
          val s = sums(s0)(bestC)
          var j = 0
          while (j < subDim) { s(j) += codes(base + j); j += 1 }
          counts(s0)(bestC) += 1L
          s0 += 1
        }
      }
      // truncating integer mean (Java `/` == DuckDB `//` toward zero);
      // empty centroids keep their previous position
      books = books.zipWithIndex.map { case (cents, s0) =>
        cents.map { case (cid, old) =>
          val n = counts(s0)(cid.toInt)
          if (n == 0L) (cid, old)
          else (cid, Array.tabulate(subDim)(j => sums(s0)(cid.toInt)(j) / n))
        }
      }
    }
    books
  }

  def trainBooks(coded: DataFrame, subDim: Int, m: Int, k: Int, iters: Int,
      salt: String, heapBytes: Long = Runtime.getRuntime.maxMemory)
      : Array[Seq[(Long, Array[Long])]] = {
    // ONE-JOB gate+collect (see LocalCodesGate). Columns selected BY NAME
    // (r15 ADVICE): the rows are read positionally below, and the
    // distributed twin resolves by name — an explicit select pins the
    // positions so a caller passing extra/reordered columns can't
    // silently train on the wrong slots. BYTE guard on top of the row
    // gate (the trainIvfCentroids rule, Gate.fitsHeap): a wide codes
    // column is 8 B per code per row, so 200k rows of a dim-1024 code
    // vector go to the distributed trainer instead of the driver heap.
    // Local == distributed centroid-for-centroid (PqLocalTrainSpec), so
    // the route never changes results.
    Gate.collectWithin(coded.select(col("vec_id"), col("codes")),
        LocalCodesGate, s"pq train $salt", rows => rows.isEmpty ||
          Gate.fitsHeap(rows.length,
            rows(0).getSeq[Long](1).length * 8L + 64L, heapBytes)) match {
      case Some(fetched) =>
        localTrainBooks(
          fetched.map(r => (r.getLong(0), r.getSeq[Long](1).toArray)),
          subDim, m, k, iters, salt)
      case None => trainBooksShuffle(coded, subDim, m, k, iters, salt)
    }
  }

  /** Past-the-gate distributed trainer (unchanged shape); package-private
    * so the parity spec can pin local == distributed on one frame.
    */
  private[graft] def trainBooksShuffle(coded: DataFrame, subDim: Int, m: Int,
      k: Int, iters: Int, salt: String): Array[Seq[(Long, Array[Long])]] = {
    def subSlice(s0: Int) = slice(col("codes"), s0 * subDim + 1, subDim)
    val seedStructs = array((0 until m).map { s0 =>
      struct(lit(s0.toLong).as("sub"),
        portableHash64(concat(lit(s"$salt$s0:"), col("vec_id"))).as("h"),
        col("vec_id").as("vec_id"), subSlice(s0).as("sc"))
    }: _*)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("sub")).orderBy(col("h"), col("vec_id"))
    val seedRows = coded.select(explode(seedStructs).as("a"))
      .select(col("a.sub"), col("a.h"), col("a.vec_id"), col("a.sc"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .collect()
    var books: Array[Seq[(Long, Array[Long])]] = (0 until m).map { s0 =>
      seedRows.filter(_.getLong(0) == s0.toLong)
        .sortBy(r => (r.getLong(1), r.getLong(2)))
        .zipWithIndex
        .map { case (r, i) => (i.toLong, r.getSeq[Long](3).toArray) }.toSeq
    }.toArray
    val spark = coded.sparkSession
    val fname = s"pq_train_$salt"
    for (_ <- 0 until iters) {
      graft.plans.PqEncode.register(spark, books.toSeq, subDim, fname)
      val sums = coded
        .select(col("codes"),
          explode(graft.plans.PqEncode.encode(col("codes"), fname)).as("a"))
        .select(col("codes"), col("a.sub").as("sub"), col("a.cid").as("cid"))
        .groupBy(col("sub"), col("cid"))
        .agg(count(lit(1)).as("n"), (0 until subDim).map(j =>
          sum(element_at(col("codes"),
            (col("sub") * subDim + (j + 1)).cast("int"))).as(s"s$j")): _*)
        .collect()
      // Java `/` truncates toward zero — exactly DuckDB's integer `//`
      // (NOT floor division), which matters once residual codes go
      // negative: -63/2 = -31 in both engines
      val updated = sums.map { r =>
        val n = r.getLong(2)
        ((r.getLong(0).toInt, r.getLong(1)),
          Array.tabulate(subDim)(j => r.getLong(j + 3) / n))
      }.toMap
      books = books.zipWithIndex.map { case (cents, s0) =>
        cents.map { case (cid, old) =>
          (cid, updated.getOrElse((s0, cid), old))
        }
      }
    }
    books
  }

  /** Full PQ training + encoding report: per (subspace, centroid), member
    * count and total integer distortion. ALL subspaces are processed in
    * each job; the training round and the final encode are ONE scan each,
    * so job count is independent of `m`.
    */
  def trainAndEncode(emb: DataFrame, idCol: String, vecCol: String,
      dim: Int, m: Int, k: Int, iters: Int): DataFrame = {
    val coded = quantizeCodes(emb, idCol, vecCol, dim)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val subDim = dim / m
      val books = trainBooks(coded, subDim, m, k, iters, salt = "pq")
      // final encode + distortion report: one scan
      val spark = coded.sparkSession
      graft.plans.PqEncode.register(spark, books.toSeq, subDim)
      coded.select(explode(graft.plans.PqEncode.encode(col("codes"))).as("a"))
        .select(col("a.sub").as("sub"), col("a.cid").as("cid"),
          col("a.d").as("d"))
        .groupBy(col("sub"), col("cid"))
        .agg(count(lit(1)).as("n_vecs"), sum(col("d")).as("sum_dist"))
        .localCheckpoint(true)
    } finally coded.unpersist()
  }

  // ---------------------------------------------------------------- queries

  /** PQ codebook report: 8 subspaces x 4 centroids over the int8-coded
    * 64-dim embeddings, 1 training round.
    */
  def qPqTrain(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    trainAndEncode(Sources.embeddings(s, dir), "vec_id", "embedding",
      dim = 64, m = 8, k = 4, iters = 1)
      .orderBy($"sub", $"cid")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] =
    Map("q_pq_train" -> qPqTrain)

  private def md(e: String) = portableHash64Sql(e)

  val oracles: Map[String, String] = Map("q_pq_train" -> pqOracle)

  /** The full integer PQ pipeline in SQL: int8 codes, per-subspace seed
    * selection by hash rank, one argmin-assign + floor-mean round, final
    * encode, per-(sub, cid) distortion report.
    */
  private def pqOracle: String = {
    def subChain(s0: Int): String = {
      val lo = s0 * 8 + 1; val hi = s0 * 8 + 8
      val dist = (1 to 8).map(j =>
        s"(s.sc[$j]-p.cent[$j])*(s.sc[$j]-p.cent[$j])").mkString(" + ")
      val distF = (1 to 8).map(j =>
        s"(s.sc[$j]-p.cent[$j])*(s.sc[$j]-p.cent[$j])").mkString(" + ")
      s"""sub$s0 AS (SELECT vec_id, c[$lo:$hi] AS sc FROM codes),
         |seed$s0 AS (
         |  SELECT CAST(ROW_NUMBER() OVER (ORDER BY h, vec_id) - 1 AS BIGINT) AS cid,
         |    sc AS cent
         |  FROM (SELECT vec_id, sc, ${md(s"'pq$s0:'||vec_id")} AS h
         |        FROM sub$s0 ORDER BY h, vec_id LIMIT 4)),
         |a$s0 AS (
         |  SELECT vec_id, sc, cid, d, ROW_NUMBER() OVER (
         |    PARTITION BY vec_id ORDER BY d, cid) AS rn
         |  FROM (SELECT s.vec_id, s.sc, p.cid, $dist AS d
         |        FROM sub$s0 s CROSS JOIN seed$s0 p)),
         |u$s0 AS (
         |  SELECT cid, j, SUM(sc[j]) AS sm, COUNT(*) AS n
         |  FROM (SELECT cid, sc, unnest(range(1, 9)) AS j
         |        FROM a$s0 WHERE rn = 1)
         |  GROUP BY cid, j),
         |m$s0 AS (SELECT cid, list(sm // n ORDER BY j) AS cent
         |         FROM u$s0 GROUP BY cid),
         |cb$s0 AS (
         |  SELECT p.cid, COALESCE(m.cent, p.cent) AS cent
         |  FROM seed$s0 p LEFT JOIN m$s0 m ON p.cid = m.cid),
         |f$s0 AS (
         |  SELECT vec_id, cid, d, ROW_NUMBER() OVER (
         |    PARTITION BY vec_id ORDER BY d, cid) AS rn
         |  FROM (SELECT s.vec_id, p.cid, $distF AS d
         |        FROM sub$s0 s CROSS JOIN cb$s0 p)),
         |r$s0 AS (
         |  SELECT CAST($s0 AS BIGINT) AS sub, cid, COUNT(*) AS n_vecs,
         |    CAST(SUM(d) AS BIGINT) AS sum_dist
         |  FROM f$s0 WHERE rn = 1 GROUP BY cid)""".stripMargin
    }
    val chains = (0 until 8).map(subChain).mkString(",\n")
    val unions = (0 until 8).map(s0 => s"SELECT * FROM r$s0")
      .mkString(" UNION ALL ")
    s"""WITH dims AS (
       |  SELECT i, MIN(CAST(v[i] AS DOUBLE)) AS mn, MAX(CAST(v[i] AS DOUBLE)) AS mx
       |  FROM (SELECT embedding AS v FROM embeddings)
       |    CROSS JOIN (SELECT unnest(range(1, 65)) AS i)
       |  GROUP BY i),
       |rng AS (
       |  SELECT list(mn ORDER BY i) AS mns, list(mx ORDER BY i) AS mxs
       |  FROM dims),
       |codes AS (
       |  SELECT vec_id, list_transform(range(1, 65), i ->
       |    CAST(CASE WHEN mxs[i] = mns[i] THEN 0.0 ELSE
       |      least(255.0, floor((CAST(v[i] AS DOUBLE) - mns[i])
       |        / (mxs[i] - mns[i]) * 255.0)) END AS BIGINT)) AS c
       |  FROM (SELECT vec_id, embedding AS v FROM embeddings) CROSS JOIN rng),
       |$chains
       |SELECT sub, cid, n_vecs, sum_dist FROM ($unions)
       |ORDER BY sub, cid""".stripMargin
  }
}
