package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.functions._
import graft.operators._
import graft.sources.Sources

/** Scale-behavior specs for the dedup/similarity family: CC convergence on
  * deep chains (pointer jumping, no silent truncation), portable-hash
  * SimHash parity, zero-shuffle IVF assignment.
  */
class DedupScaleSpec extends AnyFunSuite {
  lazy val spark: SparkSession = GraftSession.configure(
    SparkSession.builder().master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")).getOrCreate()
  val sf = "/root/testdata/sf0.001"

  test("dupClusters: diameter-39 chain converges on both CC paths") {
    import spark.implicits._
    // 0-1-2-...-39 plus a separate 100-101 pair and an isolated-free corpus
    val chain = Seq.tabulate(39)(i => (i.toLong, i + 1L))
    val pairs = (chain :+ (100L, 101L)).toDF("doc_a", "doc_b")
    // driverMaxEdges default → driver union-find; 0 → distributed loop
    for (threshold <- Seq(4000000L, 0L)) {
      val labels = Dedup.dupClusters(pairs, driverMaxEdges = threshold)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
      (0L to 39L).foreach(i => assert(labels(i) == 0L, s"node $i @ $threshold"))
      assert(labels(100L) == 100L && labels(101L) == 100L)
      assert(labels.size == 42)
    }
  }

  test("dupClusters: distributed path maxIters throws instead of silently truncating") {
    import spark.implicits._
    val pairs = Seq.tabulate(20)(i => (i.toLong, i + 1L)).toDF("doc_a", "doc_b")
    intercept[IllegalStateException] {
      Dedup.dupClusters(pairs, maxIters = 1, driverMaxEdges = 0L)
    }
  }

  test("ShingleHashes native expression equals the composed shingle+hash chain") {
    import spark.implicits._
    graft.plans.ShingleHashes.register(spark, n = 3)
    val docs = Sources.documents(spark, sf)
      .withColumn("native",
        array_sort(graft.plans.ShingleHashes.shingleHashes($"text")))
      .withColumn("composed", array_sort(array_distinct(
        transform(Dedup.wordShingles($"text"), s => portableHash64(s)))))
    assert(docs.filter($"native" =!= $"composed").count() == 0)
    assert(docs.count() == 500)
  }

  test("WinnowHashes native expression equals the exploded window-min chain") {
    import spark.implicits._
    graft.plans.WinnowHashes.register(spark, k = 8, w = 4)
    val native = Sources.documents(spark, sf)
      .select($"doc_id",
        explode(graft.plans.WinnowHashes.winnowHashes($"text")).as("fp"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val composed = Dedup.winnowFingerprints(Sources.documents(spark, sf),
      "doc_id", "text", k = 8, w = 4, hashFn = portableHash64)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(native == composed && native.nonEmpty)
  }

  test("SimHashBits native expression equals the columnar portable build") {
    import spark.implicits._
    graft.plans.SimHashBits.register(spark, bits = 60)
    val hashes = transform(wordTokens($"text"), t => portableHash64(t))
    val docs = Sources.documents(spark, sf)
      .withColumn("native", graft.plans.SimHashBits.simhashBits(hashes))
      .withColumn("columnar", Dedup.simhashFromHashes(hashes, 60))
    assert(docs.filter($"native" =!= $"columnar").count() == 0)
    assert(docs.count() == 500)
  }

  test("assignIvf: assignment is a pure projection — no Exchange in plan") {
    import spark.implicits._
    val emb = Sources.embeddings(spark, sf)
    val centroids = emb.filter($"vec_id" < 8)
      .select($"vec_id".as("cid"), $"embedding".as("cvec"))
    val assigned = Similarity.assignIvf(emb, "vec_id", "embedding",
      centroids, "cid", "cvec")
    val plan = assigned.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"unexpected shuffle:\n$plan")
    // correctness: matches the crossJoin+window argmax formulation
    import org.apache.spark.sql.expressions.Window
    val fan = emb.crossJoin(broadcast(centroids))
      .withColumn("_c", cosineSim($"embedding", $"cvec"))
    val w = Window.partitionBy($"vec_id").orderBy($"_c".desc, $"cid")
    val expected = fan.withColumn("_rn", row_number().over(w))
      .filter($"_rn" === 1).select($"vec_id", $"cid".as("bucket_exp"))
    val joined = assigned.select($"vec_id", $"bucket").join(expected, "vec_id")
    assert(joined.filter($"bucket" =!= $"bucket_exp").count() == 0)
  }

  test("knnJoin/hardNegatives: chunked query side equals the one-shot path") {
    import spark.implicits._
    val emb = Sources.embeddings(spark, sf)
    // 25 queries through chunkSize=7 → four chunks: the over-broadcast-
    // budget shape (a 1M-query batch never lands on the driver at once)
    val queries = emb.filter($"vec_id" < 25)
      .select($"vec_id".as("qid"), $"embedding".as("qv"))
    def key(df: org.apache.spark.sql.DataFrame) =
      df.select($"query_id", $"vec_id", $"cos").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
        .sortBy(t => (t._1, -t._3, t._2)).toSeq
    val oneShot = Similarity.knnJoin(emb, "vec_id", "embedding",
      queries, "qid", "qv", k = 5, chunkSize = 1 << 20)
    val chunked = Similarity.knnJoin(emb, "vec_id", "embedding",
      queries, "qid", "qv", k = 5, chunkSize = 7)
    assert(key(chunked) == key(oneShot))
    assert(key(chunked).map(_._1).distinct.size == 25)

    val lab = emb.withColumn("label", pmod($"vec_id", lit(3)))
    val qlab = lab.filter($"vec_id" < 25)
      .select($"vec_id".as("qid"), $"embedding".as("qv"), $"label".as("qlabel"))
    def hkey(df: org.apache.spark.sql.DataFrame) =
      df.select($"query_id", $"vec_id", $"cos").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
        .sortBy(t => (t._1, -t._3, t._2)).toSeq
    val hOne = Similarity.hardNegatives(lab, "vec_id", "embedding", "label",
      qlab, "qid", "qv", "qlabel", k = 5, chunkSize = 1 << 20)
    val hChunk = Similarity.hardNegatives(lab, "vec_id", "embedding", "label",
      qlab, "qid", "qv", "qlabel", k = 5, chunkSize = 7)
    assert(hkey(hChunk) == hkey(hOne))
    // the label gate held in every chunk
    val labels = lab.select($"vec_id", $"label").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    hkey(hChunk).foreach { case (qid, id, _) =>
      assert(labels(id) != labels(qid), s"same-label pair ($qid, $id)")
    }
  }

  test("knnJoin IVF route: parity with the exact path on separated clusters, bucket-pruned plan") {
    import spark.implicits._
    // 4 well-separated clusters in 8-dim (basis direction + small fixed
    // noise): every top-3 neighbor lives in the query's own cluster, so
    // the IVF route (approximate in general) must EQUAL the exact path
    val dim = 8
    val rows = (0L until 400L).map { id =>
      val c = (id % 4).toInt
      val v = Array.tabulate(dim)(d =>
        (if (d == c) 1.0f else 0.0f) + 0.01f * (((id * 31 + d) % 7) - 3))
      (id, v)
    }
    val emb = rows.toDF("vec_id", "embedding").repartition(4)
    val queries = emb.filter($"vec_id" < 300)
      .select($"vec_id".as("qid"), $"embedding".as("qv"))
    val cents = Similarity.trainIvfCentroids(emb, "vec_id", "embedding",
      k = 4, iters = 3)
    def key(df: org.apache.spark.sql.DataFrame) =
      df.select($"query_id", $"vec_id", $"cos").collect()
        .map(r => (r.getLong(0), r.getLong(1)))
        .sortBy(identity).toSeq
    val exact = Similarity.knnJoin(emb, "vec_id", "embedding",
      queries, "qid", "qv", k = 3, chunkSize = 1 << 20)
    // 300 queries > ivfRouteChunks(2) × chunkSize(64) → auto-routes to IVF
    val routed = Similarity.knnJoin(emb, "vec_id", "embedding",
      queries, "qid", "qv", k = 3, chunkSize = 64,
      ivfCentroids = Some(cents), ivfNprobe = 2, ivfRouteChunks = 2)
    assert(key(routed) == key(exact))
    assert(key(routed).map(_._1).distinct.size == 300)

    // plan shape: candidates come from a bucket-keyed JOIN (the pruning),
    // never a cartesian/broadcast-nested-loop full fan-out
    val plan = Similarity.knnJoinIvf(emb, "vec_id", "embedding",
      queries, "qid", "qv", k = 3, cents, nprobe = 2)
      .queryExecution.executedPlan.toString
    assert(plan.contains("bucket"), plan.take(800))
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"), plan.take(800))
    // top-k must be the bounded-heap partial aggregate, never a rank
    // window (a window would full-sort every candidate pair, vectors and
    // all, on one partition per query-group)
    assert(!plan.contains("Window"), plan.take(800))
    assert(plan.contains("partial_topkd"),
      s"map-side partial topkd expected in:\n${plan.take(1200)}")
    // and the candidate fan-out is bucket-bounded: ≈ Q × (corpus/K) ×
    // nprobe, not Q × corpus
    val candBound = 300L * (400L / 4) * 2
    assert(candBound < 300L * 400L)
  }
}
