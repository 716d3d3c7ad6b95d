package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.api._
import graft.operators._
import graft.sources.Sources

class OperatorSpec extends AnyFunSuite {
  lazy val spark: SparkSession = GraftSession.configure(
    SparkSession.builder().master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")).getOrCreate()
  val sf = "/root/testdata/sf0.001"

  test("multimodal: partition-wise stub decode is deterministic and shaped") {
    import Multimodal._
    val media = syntheticMedia(spark, 60)
    val feats1 = extractFeatures(media, new StubDecoder(16), 224, 224, 10).collect()
    val feats2 = extractFeatures(media, new StubDecoder(16), 224, 224, 10).collect()
    assert(feats1.length == 60)
    assert(feats1.map(_.feature.toSeq).toSeq == feats2.map(_.feature.toSeq).toSeq)
    val video = feats1.find(_.kind == "video").get
    assert(video.n_sampled_frames == 10 && video.out_width == 224)
    val img = feats1.find(_.kind == "image").get
    assert(img.n_sampled_frames == 1 && img.feature.length == 16)
  }

  test("multimodal: JDK decoder really decodes PNG/WAV and frame-samples video") {
    import Multimodal._
    val media = syntheticRealMedia(spark, 30)
    val feats = extractFeatures(media, new JdkDecoder(4), 16, 12, 2).collect()
    assert(feats.length == 30)
    val img = feats.find(_.kind == "image").get
    assert(img.feature.length == 16 && img.feature.forall(v => v >= 0f && v <= 1f))
    assert(feats.find(_.kind == "video").get.n_sampled_frames == 3) // 6 frames / stride 2
    assert(feats.find(_.kind == "audio").get.feature.exists(_ > 0f))
    // ground truth: an all-white PNG must decode to luminance 1.0 per cell
    val bi = new java.awt.image.BufferedImage(8, 8,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until 8; x <- 0 until 8) bi.setRGB(x, y, 0xffffff)
    val out = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(bi, "png", out)
    val white = new JdkDecoder(2).decode(
      Media(999L, "image", out.toByteArray, 8, 8, 0, 1), 8, 8, 1)
    assert(white.feature.forall(v => math.abs(v - 1.0f) < 1e-6))
  }

  test("pipeline: merge is union, collect is global aggregation") {
    import spark.implicits._
    val ev = Sources.events(spark, sf)
      .select($"event_id", $"user_id", $"event_type", $"value", $"props")
      .as[Event]
    val p = Pipeline.source("purchases", ev.filter(_.event_type == "purchase"))
    val v = Pipeline.source("views", ev.filter(_.event_type == "view"))
    val merged = p.merge(v)
    assert(merged.ds.count() ==
      ev.filter(e => e.event_type == "purchase" || e.event_type == "view").count())
    val globalCount = merged.collect()
      .aggregate(new GraftAggregation[Event, Long, Long] {
        val name = "n"
        def initialAccumulator = 0L
        def update(in: Event, acc: Long) = acc + 1
        def combine(a: Long, b: Long) = a + b
        def output(acc: Long) = acc
      }).collect()
    assert(globalCount.toSeq == Seq((0, merged.ds.count())))
  }

  test("pipeline: file sink round-trips") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_sink").toString
    val ev = Sources.events(spark, sf)
      .select($"event_id", $"user_id", $"event_type", $"value", $"props").as[Event]
    Pipeline.source("sink_test", ev).toSink(Sink.parquet(s"$dir/out"))
    assert(spark.read.parquet(s"$dir/out").count() == ev.count())
  }

  test("minhash-lsh: candidates are verified true near-dups") {
    import spark.implicits._
    val docs = Sources.documents(spark, sf)
      .withColumn("sh", Dedup.wordShingles($"text"))
    val pairs = Dedup.minhashLshPairs(docs, "doc_id", "sh", 64, 16, 0.5).collect()
    assert(pairs.nonEmpty)
    assert(pairs.forall(_.getDouble(2) >= 0.5))
  }

  test("minhash-lsh: the lazy plan equals the checkpointed aggregate-signature chain") {
    import spark.implicits._
    // the former chain: signatures by the MinHashAgg group-by, the
    // signatures and the verified pairs each localCheckpointed
    def checkpointed(hashed: org.apache.spark.sql.DataFrame) = {
      val banded = Dedup.bandKeysFromSig(
        Dedup.minhashSigs(hashed, "doc_id", 64).localCheckpoint(true),
        "doc_id", 64, 16)
      val other = banded.select($"doc_id".as("doc_id_b"), $"band", $"bk")
      val pairs = banded.join(other, Seq("band", "bk"))
        .filter($"doc_id" < $"doc_id_b")
        .select($"doc_id".as("doc_a"), $"doc_id_b".as("doc_b")).distinct()
      pairs
        .join(hashed.select($"doc_id".as("doc_a"), $"_sh"), "doc_a")
        .join(hashed.select($"doc_id".as("doc_b"), $"_sh".as("_sh_b")), "doc_b")
        .withColumn("jaccard", size(array_intersect($"_sh", $"_sh_b")).cast("double") /
          size(array_union($"_sh", $"_sh_b")))
        .filter($"jaccard" >= 0.5)
        .select($"doc_a", $"doc_b", $"jaccard")
        .localCheckpoint(true)
    }
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    graft.plans.ShingleHashes.register(spark, n = 3)
    val docs = Sources.documents(spark, sf)
      .withColumn("native", graft.plans.ShingleHashes.shingleHashes($"text"))
      .withColumn("words", Dedup.wordShingles($"text"))
    val preHashed = rows(Dedup.minhashLshPairs(docs, "doc_id", "native", 64, 16,
      0.5, preHashed = true))
    assert(preHashed.nonEmpty)
    assert(preHashed == rows(checkpointed(docs.select($"doc_id", $"native".as("_sh")))))
    val hashedHere = rows(Dedup.minhashLshPairs(docs, "doc_id", "words", 64, 16, 0.5))
    assert(hashedHere.nonEmpty)
    assert(hashedHere == rows(checkpointed(docs.select($"doc_id",
      array_distinct(transform($"words", w => xxhash64(w))).as("_sh")))))
  }

  test("dedup corpus: one representative (min id) kept per dup cluster") {
    import spark.implicits._
    val docs = Sources.documents(spark, sf)
      .withColumn("sh", Dedup.wordShingles($"text"))
    val pairs = Dedup.minhashLshPairs(docs, "doc_id", "sh", 64, 16, 0.5)
    val pairRows = pairs.collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairRows.nonEmpty)
    val kept = Dedup.dedupedCorpus(Sources.documents(spark, sf), "doc_id", pairs)
      .select($"doc_id").as[Long].collect().toSet
    // every pair: the min side survives, and at least one side is dropped
    pairRows.foreach { case (a, b) =>
      assert(!(kept.contains(a) && kept.contains(b)))
      assert(kept.contains(math.min(a, b)) || !kept.contains(math.max(a, b)))
    }
    val total = Sources.documents(spark, sf).count()
    assert(kept.size < total && kept.size >= total - 2L * pairRows.length)
  }

  test("native MinHashAgg equals the multi-column OPH signature") {
    import spark.implicits._
    val rows = Sources.documents(spark, sf)
      .withColumn("sh", Dedup.wordShingles($"text"))
      .select($"doc_id", explode(array_distinct(transform($"sh", s => xxhash64(s)))).as("_h"))
    graft.plans.MinHashAgg.register(spark, 16)
    val native = rows.groupBy($"doc_id")
      .agg(graft.plans.MinHashAgg.minhashSig($"_h").as("sig"))
    val columnar = Dedup.minhashSignature(rows, "doc_id", "_h", 16)
      .select($"doc_id", array((0 until 16).map(i => col(s"mh_$i")): _*).as("sig2"))
    val joined = native.join(columnar, "doc_id")
    assert(joined.filter($"sig" =!= $"sig2").count() == 0)
    assert(joined.count() == 500)
  }

  test("row-local minhash_sig_of equals the MinHashAgg signature; null when empty") {
    import spark.implicits._
    graft.plans.ShingleHashes.register(spark, n = 3)
    graft.plans.MinHashSigOf.register(spark, 64)
    val hashed = Sources.documents(spark, sf)
      .select($"doc_id", graft.plans.ShingleHashes.shingleHashes($"text").as("_sh"))
      .unionByName(Seq((-1L, Seq.empty[Long])).toDF("doc_id", "_sh"))
    val rowLocal = hashed.select($"doc_id",
      graft.plans.MinHashSigOf.minhashSigOf($"_sh").as("sig"))
    val agg = Dedup.minhashSigs(hashed, "doc_id", 64)
    val joined = rowLocal.join(agg, "doc_id")
    assert(joined.count() == 500)
    assert(joined.filter(!($"sig" <=> $"_sig")).count() == 0)
    // the aggregate has no group for an empty array; the scalar gives null
    assert(rowLocal.filter($"doc_id" === -1L).collect().map(_.isNullAt(1)).toSeq == Seq(true))
  }

  test("windows: unaligned/late-drop use broadcast per-key extrema, not a skewed window") {
    import spark.implicits._
    val ev = Sources.events(spark, sf)
    for (df <- Seq(Windows.withUnaligned(ev, $"event_type", $"ts", 3600),
                   Windows.dropLate(ev, $"event_type", $"ts", 600))) {
      df.collect() // finalize AQE
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.contains("BroadcastHashJoin"), plan.take(2000))
      assert(!plan.contains("Window"), plan.take(2000))
    }
  }

  test("windows: unaligned buckets anchor at per-key first event") {
    import spark.implicits._
    val ev = Sources.events(spark, sf)
    val una = Windows.withUnaligned(ev, $"event_type", $"ts", 3600)
    val firsts = una.groupBy($"event_type")
      .agg(min(graft.functions.epochS($"ts")).as("first_t"),
        min($"window_start").as("first_w"))
      .collect()
    firsts.foreach(r => assert(r.getLong(1) == r.getLong(2)))
    val ali = Windows.withTumbling(ev, $"ts", 3600)
    assert(ali.filter($"window_start" % 3600 =!= 0).count() == 0)
  }

  test("skew: salted join and salted aggregate equal their unsalted forms") {
    import spark.implicits._
    val big = Sources.events(spark, sf)
      .select($"event_id", $"event_type", $"value") // event_type is skewed
    val small = Sources.events(spark, sf)
      .select($"event_type").distinct()
      .withColumn("tag", concat(lit("t_"), $"event_type"))
    val plain = big.join(small, Seq("event_type"))
      .agg(count(lit(1)), graft.functions.xsum($"value")).head
    val salted = Skew.saltedJoin(big, small, Seq("event_type"), $"event_id", 8)
      .agg(count(lit(1)), graft.functions.xsum($"value")).head
    assert(plain == salted)
    val aggPlain = big.groupBy($"event_type")
      .agg(count(lit(1)).as("n"), graft.functions.xsum($"value").as("total"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
    // partials stay decimal so the two-phase sum associates exactly
    val aggSalted = Skew.saltedAggregate(big, Seq("event_type"), $"event_id", 8,
      partials = Seq(count(lit(1)).as("pn"),
        sum($"value".cast("decimal(27,6)")).as("pt")),
      merges = Seq(sum($"pn").as("n"),
        sum($"pt").cast("double").as("total")))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
    assert(aggSalted == aggPlain)
  }

  test("skew: q_skew_join runs the salted-shuffle plan and matches the plain join") {
    import spark.implicits._
    val df = Skew.qSkewJoin(spark, sf)
    // plan shape: the join carries the salt in its keys (8-way fan-out of
    // the hot key) and the small side hashes rather than broadcasts
    val optimized = df.queryExecution.optimizedPlan.toString
    assert(optimized.contains("_salt"), s"salt column absent from plan:\n$optimized")
    val physical = df.queryExecution.executedPlan.toString
    assert(physical.contains("ShuffledHashJoin"),
      s"want the shuffled-hash salted join, got:\n$physical")
    assert(!physical.contains("BroadcastHashJoin"),
      "broadcast would hide the hot-key fan-out")
    // parity: identical to the unsalted formulation
    val e = Sources.events(spark, sf)
      .select($"event_id",
        when(pmod($"event_id", lit(10)) < 9, lit("hot"))
          .otherwise($"event_type").as("hot_key"))
    val dim = e.groupBy($"hot_key").agg(count(lit(1)).as("key_rows"))
    val plain = e.join(dim, Seq("hot_key"))
      .groupBy($"hot_key")
      .agg(count(lit(1)).as("n_rows"), max($"key_rows").as("key_rows"),
        sum(pmod($"event_id", lit(997L))).as("id_checksum"))
      .orderBy($"hot_key")
    assert(df.collect().toSeq == plain.collect().toSeq)
    // the hot key really is hot: ~90% of rows on one key
    val hot = df.filter($"hot_key" === "hot").head.getLong(1).toDouble
    val total = df.agg(sum($"n_rows")).head.getLong(0).toDouble
    assert(hot / total > 0.85, s"hot share ${hot / total}")
  }

  test("asOf: generic two-table as-of join picks latest preceding value") {
    import spark.implicits._
    val trades = Seq((1L, 10L), (1L, 20L), (2L, 15L)).toDF("sym", "t")
    val quotes = Seq((1L, 5L, 1.0), (1L, 12L, 2.0), (2L, 20L, 9.0))
      .toDF("sym", "t", "px")
    val joined = AsOfJoin.asOf(trades, quotes, "sym", "t", "px", "last_px")
      .orderBy($"sym", $"t").collect()
    assert(joined.map(r => (r.getLong(0), r.getLong(1),
      Option(r.get(2)).map(_.asInstanceOf[Double]))).toSeq ==
      Seq((1L, 10L, Some(1.0)), (1L, 20L, Some(2.0)), (2L, 15L, None)))
  }
}
