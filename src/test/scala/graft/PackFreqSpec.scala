package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators._

/** Specs for the round-4 operators: distributed prefix sum / sequence
  * packing, Misra-Gries heavy hitters, Bloom-filter join pruning, the
  * repetition filter, and int8 quantization.
  */
class PackFreqSpec extends AnyFunSuite {
  lazy val spark: SparkSession = GraftSession.configure(
    SparkSession.builder().master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")).getOrCreate()
  val sf = "/root/testdata/sf0.001"

  test("exclusivePrefixSum matches the single-partition window under any partitioning") {
    import spark.implicits._
    val rng = new scala.util.Random(7)
    val rows = Seq.tabulate(500)(i => (i.toLong, rng.nextInt(100).toLong))
    for (parts <- Seq(1, 3, 8)) {
      val df = rows.toDF("id", "v").repartition(parts)
      val got = Pack.exclusivePrefixSum(df, Seq("id"), "v", "off", numParts = parts)
        .select($"id", $"off").collect().map(r => (r.getLong(0), r.getLong(1))).toMap
      val want = rows.toDF("id", "v")
        .withColumn("off", coalesce(sum($"v").over(
          Window.orderBy($"id").rowsBetween(Window.unboundedPreceding, -1)),
          lit(0L)))
        .collect().map(r => (r.getLong(0), r.getLong(2))).toMap
      assert(got == want, s"parts=$parts")
    }
  }

  test("exclusivePrefixSum plan has no global single-partition sort") {
    import spark.implicits._
    val df = Seq.tabulate(100)(i => (i.toLong, 1L)).toDF("id", "v")
    val out = Pack.exclusivePrefixSum(df, Seq("id"), "v", "off", numParts = 4)
    // the result is built from range-partitioned mapPartitions output —
    // a global window would plan Exchange SinglePartition + Sort
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("SinglePartition"), plan)
  }

  test("Misra-Gries guarantee holds under adversarial order and any partitioning") {
    import spark.implicits._
    val k = 9
    graft.plans.MisraGriesAgg.register(spark, k)
    // 3 heavy keys (freq 400 each) drowned in 2000 unique light keys:
    // N = 3200, N/(k+1) = 320 < 400 → heavies MUST survive
    val data = (Seq.fill(400)("hv_a") ++ Seq.fill(400)("hv_b") ++
      Seq.fill(400)("hv_c") ++ (0 until 2000).map(i => s"light_$i"))
    for ((seed, parts) <- Seq((1, 1), (2, 4), (3, 16))) {
      val shuffled = new scala.util.Random(seed).shuffle(data)
      val kept = shuffled.toDF("w").repartition(parts)
        .agg(graft.plans.MisraGriesAgg.misraGries($"w").as("mg"))
        .select(map_keys($"mg")).head.getSeq[String](0).toSet
      assert(kept.size <= k)
      assert(Set("hv_a", "hv_b", "hv_c").subsetOf(kept), s"seed=$seed parts=$parts")
    }
  }

  test("Bloom filter has no false negatives and prunes most non-members") {
    import spark.implicits._
    val members = (0L until 300L by 3L).toDF("k")
    val bloom = Freq.buildBloom(members, "k", mBits = 1 << 13, kh = 3)
    val probes = (0L until 10000L).toDF("p")
      .crossJoin(broadcast(bloom))
      .withColumn("hit", Freq.mightContain($"bloom", $"p", 1 << 13, 3))
    val falseNeg = probes.filter($"p" % 3 === 0 && $"p" < 300 && !$"hit").count()
    assert(falseNeg == 0)
    val passed = probes.filter($"hit").count()
    // 100 members; FP rate at m=8192,n=100,k=3 is ~1e-4 — allow slack
    assert(passed < 300, s"bloom passed $passed of 10000")
  }

  test("Misra-Gries aggregate works in a streaming complete-mode aggregation") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    graft.plans.MisraGriesAgg.register(spark, 4)
    val in = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[String]
    val agg = in.toDS().toDF("w")
      .agg(graft.plans.MisraGriesAgg.misraGries($"w").as("mg"))
    val q = graft.streaming.StreamOps.toMemorySink(agg, "mg_stream", "complete")
    in.addData(Seq.fill(50)("heavy") ++ (0 until 30).map(i => s"a$i"): _*)
    q.processAllAvailable()
    in.addData(Seq.fill(50)("heavy") ++ (30 until 60).map(i => s"b$i"): _*)
    q.processAllAvailable()
    val kept = spark.table("mg_stream")
      .select(map_keys($"mg")).head.getSeq[String](0).toSet
    q.stop()
    // N=160, k=4 → guarantee threshold N/5 = 32 < 100 → "heavy" survives
    // the cross-batch state merge
    assert(kept.contains("heavy"))
    assert(kept.size <= 4)
  }

  test("Count-Min sketch is partitioning-invariant and never undercounts") {
    import spark.implicits._
    val depth = 4; val width = 512
    graft.plans.CountMinAgg.register(spark, depth, width)
    val rng = new scala.util.Random(11)
    val data = Seq.fill(2000)(s"w${rng.nextInt(300)}")
    val sketches = Seq(1, 4, 16).map { parts =>
      data.toDF("w").repartition(parts)
        .agg(graft.plans.CountMinAgg.countMin($"w").as("cm"))
        .head.getSeq[Long](0)
    }
    // addition commutes → the counter matrix is identical under any split
    assert(sketches.distinct.size == 1)
    val est = data.toDF("w").groupBy($"w").agg(count(lit(1)).as("n"))
      .crossJoin(broadcast(data.toDF("w")
        .agg(graft.plans.CountMinAgg.countMin($"w").as("cm"))))
      .withColumn("est",
        graft.plans.CountMinAgg.estimate($"cm", $"w", depth, width))
    assert(est.filter($"est" < $"n").count() == 0)
  }

  test("z-order clustering bounds BOTH dimensions' per-partition spread") {
    import spark.implicits._
    // a 64x64 grid: linear sort on x leaves the full y range in every
    // partition; z-order keeps both ranges narrow
    val grid = (for (x <- 0L until 64L; y <- 0L until 64L) yield (x, y))
    val df = grid.toDF("x", "y")
    def avgYSpread(clustered: org.apache.spark.sql.DataFrame): Double =
      clustered
        .groupBy(spark_partition_id().as("p"))
        .agg((max($"y") - min($"y")).as("spread"))
        .agg(avg($"spread")).head.getDouble(0)
    val zClustered = ZOrder.clusterBy(df, $"x", $"y", parts = 16, bits = 6)
    val xSorted = df.repartitionByRange(16, $"x", $"y")
    val (zs, xs) = (avgYSpread(zClustered), avgYSpread(xSorted))
    assert(zs < xs / 2, s"z-order y-spread $zs vs linear $xs")
  }

  test("q_rep_filter flags a template-spam document") {
    import spark.implicits._
    val docs = Seq(
      (1L, "buy now " * 30 + "end"),          // one dominant bigram
      (2L, (1 to 60).map(i => s"w$i").mkString(" "))) // all-distinct
      .toDF("doc_id", "text")
    val stats = Repetition.bigramStats(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    val (ng1, nd1, top1) = stats(1L)
    assert(top1.toDouble / ng1 > 0.3, s"spam doc top_frac $top1/$ng1")
    val (ng2, nd2, _) = stats(2L)
    assert(nd2 == ng2, "distinct doc should have all-unique bigrams")
  }

  test("containment join catches a quoted document that Jaccard misses") {
    import spark.implicits._
    val small = (1 to 20).map(i => s"tok$i").mkString(" ")
    val big = small + " " + (100 to 400).map(i => s"pad$i").mkString(" ")
    val docs = Seq((1L, small), (2L, big), (3L, "unrelated words only here"))
      .toDF("doc_id", "text")
    val shingled = docs.withColumn("sh",
      array_distinct(transform(graft.operators.Dedup.wordShingles($"text"),
        s => graft.functions.portableHash64(s))))
    val cont = Dedup.containmentPairs(shingled, "doc_id", "sh",
      num = 9, den = 10, preHashed = true)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(4)))
    // 1 ⊂ 2 fully: containment(1→2) = 1.0; Jaccard is ~18/320 ≈ 0.06
    assert(cont.exists { case (a, b, c) => a == 1L && b == 2L && c == 1.0 })
    assert(!cont.exists { case (a, b, _) => a == 3L || b == 3L })
    val jac = Dedup.jaccardPairs(shingled, "doc_id", "sh", Nil, 0.5,
      preHashed = true).count()
    assert(jac == 0, "Jaccard at 0.5 should miss the embedded quote")
  }

  test("PQ training is partitioning-invariant (integer arithmetic end to end)") {
    import spark.implicits._
    val emb = graft.sources.Sources.embeddings(spark, sf)
    def report(parts: Int) =
      Pq.trainAndEncode(emb.repartition(parts), "vec_id", "embedding",
        dim = 64, m = 4, k = 2, iters = 1)
        .collect()
        .map(r => ((r.getLong(0), r.getLong(1)), (r.getLong(2), r.getLong(3))))
        .toMap
    assert(report(1) == report(7))
  }

  test("int8 quantization error is bounded by half a quantization step") {
    import spark.implicits._
    val emb = graft.sources.Sources.embeddings(spark, sf)
    val dim = emb.select(size($"embedding")).head.getInt(0)
    val (mins, maxs) = Quantize.dimRanges(emb, "embedding", dim)
    val maxStep = mins.indices.map(i => (maxs(i) - mins(i)) / 255.0).max
    val worst = emb.select(Quantize.sqErrExpr($"embedding", mins, maxs).as("e"))
      .agg(max($"e")).head.getDouble(0)
    // per-dim error < step (floor quantization) → sq err < dim * step^2
    assert(worst < dim * maxStep * maxStep, s"worst=$worst step=$maxStep")
  }

  test("dimRanges: the grouped posexplode aggregate equals the 2·dim-column aggregate") {
    import spark.implicits._
    val emb = graft.sources.Sources.embeddings(spark, sf)
    val dim = 64
    // the former form: one global aggregate with a min and a max column
    // per dimension
    def wide(df: org.apache.spark.sql.DataFrame) = {
      val aggs = (0 until dim).flatMap { i =>
        val x = element_at($"embedding", i + 1).cast("double")
        Seq(min(x), max(x))
      }
      val r = df.agg(aggs.head, aggs.tail: _*).head()
      (Seq.tabulate(dim)(i => r.getDouble(2 * i)),
        Seq.tabulate(dim)(i => r.getDouble(2 * i + 1)))
    }
    // dimension 5 held constant
    val constant = emb.withColumn("embedding", transform($"embedding",
      (x, i) => when(i === 5, lit(0.25f)).otherwise(x)))
    for (df <- Seq(emb, emb.repartition(7), constant.repartition(3))) {
      val (mins, maxs) = Quantize.dimRanges(df, "embedding", dim)
      assert((mins.toSeq, maxs.toSeq) == wide(df))
    }
    val (mins, maxs) = Quantize.dimRanges(constant, "embedding", dim)
    assert(mins(5) == 0.25 && maxs(5) == 0.25)
  }

  test("IVF-PQ probe is partitioning-invariant and prunes to nprobe buckets") {
    import spark.implicits._
    val emb = graft.sources.Sources.embeddings(spark, sf)
    def run(parts: Int) =
      IvfPq.search(emb.repartition(parts), "vec_id", "embedding", dim = 64,
        coarseK = 4, coarseIters = 1, m = 4, pqK = 4, pqIters = 1,
        queryId = 7L, nprobe = 2, topK = 10)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val a = run(1)
    assert(a.toSeq == run(5).toSeq, "partitioning changed the probe result")
    assert(a.length == 10)
    assert(a.map(_._3).distinct.length <= 2, "more buckets than nprobe")
    assert(!a.exists(_._2 == 7L), "query vector not excluded")
    assert(a.map(_._4).toSeq == a.map(_._4).sorted.toSeq, "not sorted by ADC")
  }

  test("BPE merges the most frequent pair first and is partitioning-invariant") {
    import spark.implicits._
    // 'aaab' x3, 'ab' x2: round 1 must merge "a a" (count 2*3=6, beating
    // "a b" at 3+2=5); round 2 then sees 'aa a b' etc.
    val docs = (Seq.fill(3)("aaab") ++ Seq.fill(2)("ab")).zipWithIndex
      .map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    val m = Bpe.trainMerges(docs, "text", 2).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3)))
    assert(m(0) == (1L, "a a", "aa", 6L))
    val again = Bpe.trainMerges(docs.repartition(4), "text", 2).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3)))
    assert(m.toSeq == again.toSeq)
  }

  test("integer PageRank matches a sequential reference on a random graph") {
    import spark.implicits._
    val rng = new scala.util.Random(11)
    val edges = (0 until 300).map(_ => (rng.nextInt(40).toLong, rng.nextInt(40).toLong)).distinct
    val Scale = 1000000000000L
    // sequential reference of the same integer formula
    val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct.sorted
    val n = nodes.length
    val init = Scale / n; val base = 15L * init / 100L
    val deg = edges.groupBy(_._1).map { case (s0, es) => (s0, es.length.toLong) }
    var rank = nodes.map(_ -> init).toMap
    for (_ <- 0 until 3) {
      val mass = scala.collection.mutable.Map.empty[Long, Long].withDefaultValue(0L)
      for ((s0, d) <- edges) mass(d) += rank(s0) / deg(s0)
      rank = nodes.map(v => v -> (base + 85L * mass(v) / 100L)).toMap
    }
    for (parts <- Seq(1, 5)) {
      val got = Graph.pageRank(edges.toDF("src", "dst").repartition(parts),
        "src", "dst", 3).collect().map(r => (r.getLong(0), r.getLong(1))).toMap
      assert(got == rank, s"parts=$parts")
    }
  }

  test("stratified sample takes exactly ceil(pct*n/100) per stratum, invariant to partitioning") {
    import spark.implicits._
    val df = (0 until 157).map(i => (i.toLong, s"g${i % 3}")).toDF("id", "g")
    for (parts <- Seq(1, 6)) {
      val rep = Sampling.stratifiedSample(df.repartition(parts), "id", Seq("g"), 10)
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      assert(rep.length == 3)
      rep.foreach { case (_, total, sampled, _) =>
        assert(sampled == (total * 10 + 99) / 100)
      }
      val again = Sampling.stratifiedSample(df.repartition(1), "id", Seq("g"), 10)
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      assert(rep.toSeq == again.toSeq, s"parts=$parts")
    }
  }

  test("label propagation matches a sequential reference on a random graph") {
    import spark.implicits._
    val rng = new scala.util.Random(23)
    val dir0 = (0 until 200).map(_ => (rng.nextInt(30).toLong, rng.nextInt(30).toLong)).distinct
    val sym = (dir0 ++ dir0.map(e => (e._2, e._1))).distinct
    val nodes = sym.map(_._1).distinct.sorted
    var lab = nodes.map(v => v -> v).toMap
    for (_ <- 0 until 2) {
      lab = nodes.map { v =>
        val nb = sym.filter(_._2 == v).map(e => lab(e._1))
        if (nb.isEmpty) v -> v
        else {
          val byCnt = nb.groupBy(identity).map { case (l, xs) => (l, xs.length) }
          v -> byCnt.toSeq.sortBy { case (l, c) => (-c, l) }.head._1
        }
      }.toMap
    }
    for (parts <- Seq(1, 5)) {
      val got = Graph.labelPropagation(dir0.toDF("src", "dst").repartition(parts),
        "src", "dst", 2).collect().map(r => (r.getLong(0), r.getLong(1))).toMap
      assert(got == lab, s"parts=$parts")
    }
  }

  test("collocations rank an always-together pair above independent words") {
    import spark.implicits._
    // "san"/"francisco" occur ONLY as a pair; their neighbors ("the")
    // are ubiquitous, so every other pair links a frequent word
    val glued = Seq.fill(8)("the san francisco the")
    val noise = (0 until 40).map(i => s"word${i % 7} the and word${(i + 3) % 7} the")
    val docs = (glued ++ noise).zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
    val top = Colloc.topCollocations(docs, "text", minCount = 5, k = 5)
      .collect().map(r => (r.getString(1), r.getString(2)))
    assert(top.head == (("san", "francisco")), s"got ${top.toSeq}")
  }

  test("AdjacentPairs native expression matches the zip_with composition") {
    import spark.implicits._
    graft.plans.AdjacentPairs.register(spark)
    val docs = Seq("a b c d", "x", "", "p q").toDF("t")
      .select(split($"t", " ").as("ws"))
    val native = docs.select(explode(graft.plans.AdjacentPairs.pairs($"ws")).as("p"))
      .collect().map(_.getString(0)).sorted
    val composed = docs.select(explode(filter(
      zip_with($"ws", slice($"ws", lit(2), greatest(size($"ws") - 1, lit(0))),
        (a, b) => concat_ws(" ", a, b)),
      p => p.contains(" "))).as("p"))
      .collect().map(_.getString(0)).sorted
    assert(native.toSeq == composed.toSeq)
    assert(native.toSeq == Seq("a b", "b c", "c d", "p q"))
  }

  test("LM scoring flags the gibberish doc with the highest OOV fraction") {
    import spark.implicits._
    val normal = (0 until 30).map(i => (i.toLong, "the quick brown fox jumps over the lazy dog"))
    val gib = Seq((99L, "zxq vbnm qwerty asdf zxcv uiop hjkl"))
    val docs = (normal ++ gib).toDF("doc_id", "text")
    val scored = LmScore.scoreAgainstTopK(docs, "doc_id", "text", k = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    val worst = scored.maxBy { case (_, nb, noov) => noov.toDouble / math.max(nb, 1) }
    assert(worst._1 == 99L, scored.toString)
  }
}
