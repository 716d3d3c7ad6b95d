package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{Dedup, Gate, Graph, Pq}

/** Job budgets of the size-gated catalog queries: each is counted on a
  * warm run (build + collect) with a listener, its gate probes must run
  * under their `gate <site>` job descriptions, and it must leave no
  * persisted RDD behind. Also the [[Gate]] contract and the byte guard of
  * the PQ trainer's gate.
  */
class CatalogJobBudgetSpec extends AnyFunSuite {
  lazy val spark: SparkSession = GraftSession.configure(
    SparkSession.builder().master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")).getOrCreate()
  val sf = "/root/testdata/sf0.001"

  private def probe(site: String, n: Long) = s"gate $site: probe <= $n rows"

  /** (query, job budget, the gate probes it runs). */
  private val gated = Seq(
    ("q_dedup_minhash", 6, Set.empty[String]),
    ("q_bfs_levels", 3, Set(probe("bfs levels", Graph.EdgeGate))),
    ("q_ann_ivfpq", 7, Set(probe("pq train ivf", Pq.LocalCodesGate),
      probe("pq train pqr", Pq.LocalCodesGate))),
    ("q_minhash_eval_sampled", 19, Set.empty[String]))

  /** Waits for the persisted-RDD registry to empty: it holds checkpointed
    * RDDs weakly, so a finished query's checkpoints leave it once
    * collected; a persisted frame that was never released stays.
    */
  private def persistedLeft(): Map[Int, String] = {
    val sc = spark.sparkContext
    val deadline = System.nanoTime() + 20L * 1000000000L
    while (sc.getPersistentRDDs.nonEmpty && System.nanoTime() < deadline) {
      System.gc(); Thread.sleep(50)
    }
    sc.getPersistentRDDs.map { case (id, r) => id -> r.toString }.toMap
  }

  test("gated queries: warm job budgets, named gate probes, no persist left") {
    val census = gated.map { case (q, budget, gates) =>
      val fn = SparkEntry.queries(q)
      fn(spark, sf).collect() // warm-up: codegen and first-use loading
      val jobs = JobCensus.jobsOf(spark)(fn(spark, sf).collect())
      assert(jobs.size <= budget, s"$q ran ${jobs.size} jobs > $budget: $jobs")
      assert(jobs.filter(_.startsWith("gate ")).toSet == gates, s"$q: $jobs")
      if (q == "q_bfs_levels") // the probe is its only job on the local path
        assert(jobs.forall(gates.contains), s"$q: $jobs")
      assert(spark.sharedState.cacheManager.isEmpty, s"$q left a cached frame")
      val left = persistedLeft()
      assert(left.isEmpty, s"$q left persisted RDDs: $left")
      q -> jobs.size
    }
    info(s"warm jobs per query: ${census.mkString(", ")}")
  }

  test("q_bfs_levels' driver-side histogram equals the shuffle path's") {
    import spark.implicits._
    val und = Graph.copurchaseEdges(spark, sf)
    val e = und.union(und.select($"dst".as("src"), $"src".as("dst")))
    val deg = e.groupBy($"src".as("node")).agg(count(lit(1)).as("deg"))
    val sources = deg
      .crossJoin(broadcast(deg.agg(max($"deg").as("max_deg"))))
      .filter($"deg" === $"max_deg").select($"node")
    val shuffle = Graph.levelHistogram(Graph.bfsLevelsShuffle(e, sources, 3))
    val local = Graph.qBfsLevels(spark, sf)
    assert(local.schema == shuffle.schema)
    val rows = local.collect().toSeq
    assert(rows.length == 3, rows) // levels 0-2 reached at this scale
    assert(rows == shuffle.collect().toSeq)
  }

  test("Gate.collectWithin: the whole input within the gate, None past it, a bad gate rejected") {
    val df = spark.range(5).toDF("id")
    assert(Gate.collectWithin(df, 5, "spec").map(_.map(_.getLong(0)).toSet)
      .contains((0L until 5L).toSet))
    assert(Gate.collectWithin(df, 4, "spec").isEmpty)
    assert(Gate.collectWithin(df.filter(col("id") < 0), 0, "spec")
      .exists(_.isEmpty))
    assert(Gate.collectWithin(df, 5, "spec", _ => false).isEmpty)
    val jobs = JobCensus.jobsOf(spark)(Gate.collectWithin(df, 5, "spec"))
    assert(jobs.nonEmpty && jobs.forall(_ == probe("spec", 5)), jobs)
    for (bad <- Seq(-1L, Int.MaxValue.toLong, Int.MaxValue.toLong + 1L)) {
      val e = intercept[IllegalArgumentException](Gate.collectWithin(df, bad, "spec"))
      assert(e.getMessage.contains("outside"), e.getMessage)
    }
    // a Long gate past Int range fails loudly instead of wrapping around
    intercept[IllegalArgumentException](Dedup.dupClusters(
      df.select(col("id").as("doc_a"), (col("id") + 1L).as("doc_b")),
      driverMaxEdges = Int.MaxValue.toLong + 1L))
  }

  test("Gate.fitsHeap: four times the raw bytes within a quarter of the heap") {
    assert(Gate.fitsHeap(rows = 1000, bytesPerRow = 100, heapBytes = 1600000))
    assert(!Gate.fitsHeap(rows = 1000, bytesPerRow = 100, heapBytes = 1599996))
  }

  test("Pq.trainBooks routes a codes frame past its heap budget to the distributed trainer") {
    val emb = graft.sources.Sources.embeddings(spark, sf)
    val coded = Pq.quantizeCodes(emb, "vec_id", "embedding", dim = 64).persist()
    try {
      def train(heap: Long) = {
        var books: Array[Seq[(Long, Array[Long])]] = null
        val jobs = JobCensus.jobsOf(spark) {
          books = Pq.trainBooks(coded, 16, 4, 4, 1, "pqr", heapBytes = heap)
        }
        (books.map(_.map { case (c, v) => (c, v.toSeq) }).toSeq, jobs)
      }
      val rows = coded.count()
      // 64 codes of 8 B plus 64 B of row overhead per row
      val fits = 16L * rows * (64L * 8L + 64L)
      val (local, localJobs) = train(fits)
      val (dist, distJobs) = train(fits - 4L)
      val gate = probe("pq train pqr", Pq.LocalCodesGate)
      assert(localJobs.nonEmpty && localJobs.forall(_ == gate), localJobs)
      assert(distJobs.count(_ != gate) > 0, distJobs) // the Lloyd loop ran
      assert(local == dist)
    } finally { coded.unpersist(): Unit }
  }
}
