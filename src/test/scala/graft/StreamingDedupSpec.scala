package graft

import java.nio.file.Files
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite
import graft.streaming.StreamingDedup

class StreamingDedupSpec extends AnyFunSuite {
  lazy val spark: SparkSession = GraftSession.configure(
    SparkSession.builder().master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")).getOrCreate()

  val a = "the quick brown fox jumps over the lazy dog every single morning"
  val aDup = a + " indeed" // one extra word: ~0.9 shingle jaccard with a
  val b = "spark structured streaming keeps per key state across micro batches reliably"
  val c = "completely different content about distributed columnar data processing engines"

  test("incremental dedup flags near-dups against the signature store") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val storeDir = Files.createTempDirectory("graft_sig_store").toString + "/store"
    val flagDir = Files.createTempDirectory("graft_flags").toString + "/flags"
    val ckpt = Files.createTempDirectory("graft_sd_ckpt").toString
    val in = MemoryStream[(Long, String)]
    val q = StreamingDedup.start(in.toDF().toDF("doc_id", "text"),
      storeDir, flagDir, ckpt)
    try {
      // batch 1: two distinct docs — no flags, store seeded
      in.addData((1L, a), (2L, b))
      q.processAllAvailable()
      assert(spark.read.parquet(flagDir).count() == 0)
      // batch 2: near-copy of doc 1 (cross-batch, via the store), a copy
      // of doc 4 inside the same batch, and a fresh doc
      in.addData((3L, aDup), (4L, c), (5L, c))
      q.processAllAvailable()
      val flags = spark.read.parquet(flagDir)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(flags.contains((3L, 1L)), flags.toString) // cross-batch near-dup
      assert(flags.contains((5L, 4L)), flags.toString) // within-batch dup
      assert(!flags.exists(_._1 == 2L) && !flags.exists(_._1 == 4L))
      // store accumulated: one shingle payload per doc (docs tree), and
      // posting keys for all five docs (keys tree)
      assert(spark.read.parquet(storeDir + "/docs").count() == 5)
      assert(spark.read.parquet(storeDir + "/keys").select("doc_id")
        .distinct().count() == 5)
    } finally q.stop()
  }

  test("replay is idempotent; compaction preserves probes and prunes by bucket") {
    import spark.implicits._
    val base = Files.createTempDirectory("graft_compact").toString
    val store = base + "/store"
    val flagsA = base + "/flagsA"
    val flagsB = base + "/flagsB"
    def batch(rows: (Long, String)*) = rows.toDF("doc_id", "text")
    // seed two batches, then replay batch 1 verbatim (at-least-once):
    // per-batch overwrite must leave the store and flags unchanged
    StreamingDedup.processBatch(batch((1L, a), (2L, b)), 0L, store, flagsA, 64, 16, 0.5)
    StreamingDedup.processBatch(batch((10L, c)), 1L, store, flagsA, 64, 16, 0.5)
    def storeRows() =
      spark.read.parquet(store + "/keys").collect().toSet ->
        spark.read.parquet(store + "/docs").collect().toSet
    val storeOnce = storeRows()
    val flagsOnce = spark.read.parquet(flagsA).collect().toSet
    StreamingDedup.processBatch(batch((10L, c)), 1L, store, flagsA, 64, 16, 0.5)
    assert(storeRows() == storeOnce,
      "replayed batch must rewrite its partition, not double-append")
    assert(spark.read.parquet(flagsA).collect().toSet == flagsOnce)
    // and the replay must not flag doc 10 against its own failed write
    assert(!spark.read.parquet(flagsA).collect().exists(_.getLong(0) == 10L))
    def parquetFiles(dir: String): Int = {
      def walk(f: java.io.File): Int =
        if (f.isDirectory) Option(f.listFiles).toSeq.flatten.map(walk).sum
        else if (f.getName.endsWith(".parquet")) 1 else 0
      walk(new java.io.File(dir))
    }
    val filesBefore = parquetFiles(store)

    // probe WITHOUT compaction → expected flags
    StreamingDedup.processBatch(batch((3L, aDup)), 2L, store, flagsA, 64, 16, 0.5)
    val expected = spark.read.parquet(flagsA)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet

    // rebuild the same store (with a cross-batch re-ingest of doc 10 that
    // only compaction can dedup), compact, probe → same flags
    val store2 = base + "/store2"
    StreamingDedup.processBatch(batch((1L, a), (2L, b)), 0L, store2, flagsB, 64, 16, 0.5)
    StreamingDedup.processBatch(batch((10L, c)), 1L, store2, flagsB, 64, 16, 0.5)
    StreamingDedup.processBatch(batch((10L, c)), 5L, store2, flagsB, 64, 16, 0.5)
    StreamingDedup.compactStore(spark, store2)
    // compacted layout: fewer files than the three per-batch trees
    // (counted BEFORE the probe batch adds its own tree back)
    val filesAfter = parquetFiles(store2)
    assert(filesAfter < filesBefore, s"$filesAfter vs $filesBefore")
    val postKeys = spark.read.parquet(store2 + "/keys")
      .select($"doc_id", $"band", $"bk")
    assert(postKeys.count() == postKeys.distinct().count()) // cross-batch dups gone
    assert(postKeys.select("doc_id").distinct().count() == 3)
    // merged rows keep the EARLIEST src_batch (doc 10 was first visible
    // at batch 1, not at its batch-5 re-ingest)
    assert(spark.read.parquet(store2 + "/docs")
      .filter($"doc_id" === 10L).select("src_batch")
      .collect().map(_.getLong(0)).toSeq == Seq(1L))
    StreamingDedup.processBatch(batch((3L, aDup)), 2L, store2, flagsB, 64, 16, 0.5)
    val got = spark.read.parquet(flagsB)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
      .filter(_._1 == 3L).toSet
    assert(got == expected.filter(_._1 == 3L), s"got=$got expected=$expected")
    assert(got.contains((3L, 1L)))

    // compacted and per-batch trees are flat, range-clustered file sets,
    // and a bucket probe pushes its predicate to the Parquet scan
    for (sub <- Seq("keys", "docs"); tree <- Seq("batch_id=-1", "batch_id=2"))
      StoreLayout.assertFlatTree(spark, s"$store2/$sub/$tree")
    for ((sub, b) <- Seq("keys" -> "bucket", "docs" -> "dbucket")) {
      val held = spark.read.parquet(s"$store2/$sub").select(b).as[Long]
        .distinct().collect().sorted
      val probed = Seq(held.head, held.last, StreamingDedup.StoreBuckets.toLong)
      assert(StoreLayout.assertPushedProbe(spark, s"$store2/$sub", b, probed) > 0)
    }
  }

  test("a crash between the two store writes of the first batch replays") {
    import spark.implicits._
    val base = Files.createTempDirectory("graft_crash").toString
    val (store, flags) = (base + "/store", base + "/flags")
    def batch(rows: (Long, String)*) = rows.toDF("doc_id", "text")
    StreamingDedup.processBatch(batch((1L, a), (2L, b)), 0L, store, flags, 64, 16, 0.5)
    // a process killed after the first of the two subtree writes leaves
    // that subtree and no trace of the second: find the tree committed
    // last by its _SUCCESS marker and remove it
    def committed(sub: String) =
      new java.io.File(s"$store/$sub/batch_id=0/_SUCCESS").lastModified
    val last = Seq("keys", "docs").maxBy(committed)
    assert(committed("keys") != committed("docs"))
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(s"$store/$last"))
    // the at-least-once replay of batch 0 must succeed and rebuild the
    // store, and the next batch must probe it as if nothing had happened
    StreamingDedup.processBatch(batch((1L, a), (2L, b)), 0L, store, flags, 64, 16, 0.5)
    StreamingDedup.processBatch(batch((3L, aDup)), 1L, store, flags, 64, 16, 0.5)
    val got = spark.read.parquet(flags)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == Set((3L, 1L)), got.toString)
    assert(spark.read.parquet(store + "/docs").count() == 3)
  }

  test("declared store schemas equal the schemas of the trees the writer wrote") {
    import spark.implicits._
    val base = Files.createTempDirectory("graft_schema").toString
    val store = base + "/store"
    def batch(rows: (Long, String)*) = rows.toDF("doc_id", "text")
    StreamingDedup.processBatch(batch((1L, a), (2L, b)), 0L, store, base + "/flags", 64, 16, 0.5)
    StreamingDedup.processBatch(batch((3L, c)), 1L, store, base + "/flags", 64, 16, 0.5)
    StreamingDedup.compactStore(spark, store)
    for ((sub, declared) <- Seq("keys" -> StreamingDedup.KeysSchema,
        "docs" -> StreamingDedup.DocsSchema)) {
      assert(spark.read.parquet(s"$store/$sub/batch_id=-1").schema == declared, sub)
      // the whole subtree: declared columns plus the discovered batch_id
      assert(spark.read.schema(declared).parquet(s"$store/$sub").schema ==
        spark.read.parquet(s"$store/$sub").schema, sub)
    }
  }

  test("a crash between the two renames of a compaction swap loses no document") {
    import spark.implicits._
    def batch(rows: (Long, String)*) = rows.toDF("doc_id", "text")
    for (sub <- Seq("keys", "docs")) {
      val base = Files.createTempDirectory("graft_swap_crash").toString
      val (store, flags) = (base + "/store", base + "/flags")
      StreamingDedup.processBatch(batch((1L, a), (2L, b)), 0L, store, flags, 64, 16, 0.5)
      StreamingDedup.processBatch(batch((10L, c)), 1L, store, flags, 64, 16, 0.5)
      // leave `sub` as compactTree leaves it when killed between its two
      // renames: the per-batch trees under `__old`, the compacted tree
      // under `__compacting`, and no `sub` itself
      val tree = new java.io.File(s"$store/$sub")
      val before = new java.io.File(s"$base/before")
      org.apache.commons.io.FileUtils.copyDirectory(tree, before)
      StreamingDedup.compactStore(spark, store)
      assert(tree.renameTo(new java.io.File(s"$store/${sub}__compacting")))
      assert(before.renameTo(new java.io.File(s"$store/${sub}__old")))
      StreamingDedup.processBatch(batch((3L, aDup)), 2L, store, flags, 64, 16, 0.5)
      val got = spark.read.parquet(s"$flags/batch_id=2")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got == Set((3L, 1L)), s"$sub: $got")
      assert(new java.io.File(tree, "batch_id=-1").isDirectory, sub)
      assert(!new java.io.File(s"$store/${sub}__old").exists &&
        !new java.io.File(s"$store/${sub}__compacting").exists, sub)
    }
  }

  test("late replay after compaction still excludes later batches (src_batch)") {
    import spark.implicits._
    val base = Files.createTempDirectory("graft_replay_compact").toString
    val store = base + "/store"
    val flags = base + "/flags"
    def batch(rows: (Long, String)*) = rows.toDF("doc_id", "text")
    // batch 0: original; batch 1: near-dup (flags (3,1) at J≈0.9);
    // batch 2: EXACT copy of batch 1's text (J=1.0 with doc 3)
    StreamingDedup.processBatch(batch((1L, a)), 0L, store, flags, 64, 16, 0.5)
    StreamingDedup.processBatch(batch((3L, aDup)), 1L, store, flags, 64, 16, 0.5)
    StreamingDedup.processBatch(batch((5L, aDup)), 2L, store, flags, 64, 16, 0.5)
    val before = spark.read.parquet(flags + "/batch_id=1")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(before == Set((3L, 1L)), before.toString)
    StreamingDedup.compactStore(spark, store)
    // late replay of batch 1 AFTER batch 2 committed and the store was
    // compacted: without src_batch the compacted tree (batch_id=-1) would
    // expose doc 5 (J=1.0 beats J≈0.9) and the flag would flip to (3,5) —
    // the r9 ADVICE hole. With src_batch preserved it must NOT.
    StreamingDedup.processBatch(batch((3L, aDup)), 1L, store, flags, 64, 16, 0.5)
    val after = spark.read.parquet(flags + "/batch_id=1")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(after == before, s"replay after compaction changed flags: $after")
  }

  test("auto-compaction fires inside the streaming loop and keeps flags correct") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val base = Files.createTempDirectory("graft_autocompact").toString
    val storeDir = base + "/store"
    val flagDir = base + "/flags"
    val in = MemoryStream[(Long, String)]
    val q = StreamingDedup.start(in.toDF().toDF("doc_id", "text"),
      storeDir, flagDir, base + "/ckpt", autoCompactBatches = 2)
    try {
      in.addData((1L, a)); q.processAllAvailable()
      in.addData((2L, b)); q.processAllAvailable() // 2 trees → compacts
      def batchDirs(sub: String) =
        Option(new java.io.File(s"$storeDir/$sub").listFiles).toSeq.flatten
          .filter(f => f.isDirectory && f.getName.startsWith("batch_id="))
          .map(_.getName).toSet
      assert(batchDirs("keys").contains("batch_id=-1"),
        s"auto-compaction did not fire: ${batchDirs("keys")}")
      assert(batchDirs("keys") == Set("batch_id=-1"), batchDirs("keys").toString)
      // post-compaction the stream keeps flowing and probing correctly
      in.addData((3L, aDup)); q.processAllAvailable()
      val got = spark.read.parquet(flagDir)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got == Set((3L, 1L)), got.toString)
    } finally q.stop()
  }

  test("per-batch and compacted trees cover disjoint bucket ranges") {
    import spark.implicits._
    val base = Files.createTempDirectory("graft_ranges").toString
    val store = base + "/store"
    def batch(rows: (Long, String)*) = rows.toDF("doc_id", "text")
    val trees = Seq("keys" -> "bucket", "docs" -> "dbucket")
    StoreLayout.withSmallFiles(spark) {
      StreamingDedup.processBatch(batch((1L, a), (2L, b), (4L, c)), 0L, store, base + "/flags", 64, 16, 0.5)
      StreamingDedup.processBatch(batch((3L, aDup), (5L, c + " too")), 1L, store, base + "/flags", 64, 16, 0.5)
      for ((sub, b) <- trees)
        StoreLayout.assertDisjointRanges(spark, s"$store/$sub/batch_id=1", b)
      StreamingDedup.compactStore(spark, store)
    }
    for ((sub, b) <- trees)
      StoreLayout.assertDisjointRanges(spark, s"$store/$sub/batch_id=-1", b)
  }

  private def jobsOf(body: => Unit): Seq[String] = JobCensus.jobsOf(spark)(body)

  test("job budget: a batch on an empty store, a probing batch, a compaction") {
    import spark.implicits._
    val base = Files.createTempDirectory("graft_jobs").toString
    val (store, flags) = (base + "/store", base + "/flags")
    def batch(rows: (Long, String)*) = rows.toDF("doc_id", "text")
    def step(rows: Seq[(Long, String)], id: Long) = jobsOf(
      StreamingDedup.processBatch(batch(rows: _*), id, store, flags, 64, 16, 0.5))
    // warm-up on a store of its own, so code generation and first-use
    // class loading do not count against the budget
    StreamingDedup.processBatch(batch((1L, a)), 0L, base + "/warm", base + "/wf", 64, 16, 0.5)
    StreamingDedup.processBatch(batch((2L, aDup)), 1L, base + "/warm", base + "/wf", 64, 16, 0.5)
    val emptyStore = step(Seq((1L, a), (2L, b)), 0L)
    val probing = step(Seq((3L, aDup), (4L, c), (5L, c)), 1L)
    val compaction = jobsOf(StreamingDedup.compactStore(spark, store))
    val counts = Seq(emptyStore, probing, compaction).map(_.size)
    info(s"jobs: empty store, probing, compaction: $counts")
    for (jobs <- Seq(emptyStore, probing, compaction))
      info(jobs.groupBy(identity).toSeq.sortBy(_._1)
        .map { case (d, js) => s"$d ${js.size}" }.mkString(", "))
    assert(counts(0) <= 7 && counts(1) <= 11 && counts(2) <= 4,
      s"jobs: empty store, probing, compaction: $counts")
    // every job is named by its phase
    assert(probing.toSet == Seq("census", "probe", "flags", "docs", "keys")
      .map(p => s"dedup batch 1: $p").toSet, probing)
    assert(emptyStore.toSet == Seq("census", "flags", "docs", "keys")
      .map(p => s"dedup batch 0: $p").toSet, emptyStore)
    assert(compaction.toSet == Set("dedup compaction: keys", "dedup compaction: docs"),
      compaction)
    val got = spark.read.parquet(flags)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == Set((3L, 1L), (5L, 4L)), got.toString)
  }

  test("a one-file store tree is written in one job, a split tree in two") {
    import org.apache.spark.sql.functions._
    val base = Files.createTempDirectory("graft_tree_jobs").toString
    val rows = spark.range(0, 500).select(col("id").as("doc_id"),
      pmod(xxhash64(col("id")), lit(StreamingDedup.StoreBuckets.toLong)).as("bucket"))
    def write(dir: String) = JobCensus.jobsOf(spark)(graft.streaming.StoreMaint.writeTree(
      rows, "bucket", StreamingDedup.StoreBuckets, s"$base/$dir"))
    val one = write("one")
    val split = StoreLayout.withSmallFiles(spark)(write("split"))
    assert(one.size == 1 && split.size == 2, s"jobs: one file $one, split $split")
    assert(StoreLayout.assertDisjointRanges(spark, s"$base/one", "bucket").size == 1)
    assert(StoreLayout.assertDisjointRanges(spark, s"$base/split", "bucket").size > 1)
    for (dir <- Seq("one", "split"))
      assert(spark.read.parquet(s"$base/$dir").count() == 500, dir)
  }

  test("replays of an overlapped probing batch never read its own store directory") {
    import spark.implicits._
    val base = Files.createTempDirectory("graft_overlap_replay").toString
    val (store, flags) = (base + "/store", base + "/flags")
    def batch(rows: (Long, String)*) = rows.toDF("doc_id", "text")
    def probing() =
      StreamingDedup.processBatch(batch((3L, aDup)), 1L, store, flags, 64, 16, 0.5)
    def state() = (spark.read.parquet(flags).collect().toSet,
      spark.read.parquet(store + "/keys").collect().toSet,
      spark.read.parquet(store + "/docs").collect().toSet)
    StreamingDedup.processBatch(batch((1L, a)), 0L, store, flags, 64, 16, 0.5)
    probing()
    val once = state()
    assert(once._1.map(r => (r.getLong(0), r.getLong(1))) == Set((3L, 1L)))
    // each replay's flags plan scans the store while its store arm
    // overwrites batch_id=1, whose files were listed before the fork
    for (i <- 1 to 4) {
      val plans = StoreLayout.plansOf(spark)(probing())
      for (sub <- Seq("keys", "docs"))
        assert(StoreLayout.assertOwnBatchPruned(plans, s"$store/$sub", 1L) > 0,
          s"replay $i: no $sub scan listed batch_id=1")
      assert(state() == once, s"replay $i changed the flags or the store")
    }
  }

  test("a failed flags write is rethrown after the store arm, and a replay recovers") {
    import spark.implicits._
    val base = Files.createTempDirectory("graft_arm_failure").toString
    def batch(rows: (Long, String)*) = rows.toDF("doc_id", "text")
    def run(dir: String, flags: String) = {
      StreamingDedup.processBatch(batch((1L, a), (2L, b)), 0L, s"$dir/store",
        s"$dir/flags", 64, 16, 0.5)
      StreamingDedup.processBatch(batch((3L, aDup), (4L, c), (5L, c)), 1L,
        s"$dir/store", flags, 64, 16, 0.5)
    }
    def state(dir: String) = Seq("flags", "store/keys", "store/docs")
      .map(sub => spark.read.parquet(s"$dir/$sub").collect().toSet)
    run(s"$base/clean", s"$base/clean/flags")
    val sc = spark.sparkContext
    val cached = sc.getPersistentRDDs.keySet
    // a flag dir on a filesystem nobody registered: the flags arm fails
    // at once, while the store arm still has both trees to write
    val err = intercept[Exception](run(s"$base/failed", "nosuchfs://nowhere/flags"))
    assert(Iterator.iterate[Throwable](err)(_.getCause).takeWhile(_ != null)
      .exists(e => String.valueOf(e.getMessage).contains("nosuchfs")), err.toString)
    // rethrown only once the store arm finished: both trees committed,
    // no job still running, and nothing left cached
    for (sub <- Seq("docs", "keys"))
      assert(new java.io.File(s"$base/failed/store/$sub/batch_id=1/_SUCCESS").exists, sub)
    assert(sc.statusTracker.getActiveJobIds().isEmpty)
    assert(sc.getPersistentRDDs.keySet.subsetOf(cached), sc.getPersistentRDDs)
    // the at-least-once replay into a valid flag dir is a clean run
    StreamingDedup.processBatch(batch((3L, aDup), (4L, c), (5L, c)), 1L,
      s"$base/failed/store", s"$base/failed/flags", 64, 16, 0.5)
    assert(state(s"$base/failed") == state(s"$base/clean"))
  }

  test("a batch that repeats a doc_id flags and stores as the unrepeated batch") {
    import spark.implicits._
    val base = Files.createTempDirectory("graft_repeat").toString
    def batch(rows: (Long, String)*) = rows.toDF("doc_id", "text")
    // the same two batches, once with repeated rows (an upstream replay
    // of a row inside one micro-batch) and once without
    def run(dir: String, repeat: Boolean) = {
      val r = if (repeat) 2 else 1
      StreamingDedup.processBatch(
        batch(Seq.fill(r)(1L -> a) ++ Seq(2L -> b): _*), 0L,
        s"$dir/store", s"$dir/flags", 64, 16, 0.5)
      StreamingDedup.processBatch(
        batch(Seq.fill(r)(3L -> aDup) ++ Seq.fill(r)(4L -> c) ++ Seq(5L -> c): _*),
        1L, s"$dir/store", s"$dir/flags", 64, 16, 0.5)
      val flags = spark.read.parquet(s"$dir/flags").collect().toSeq
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
      val keys = spark.read.parquet(s"$dir/store/keys").collect().toSet
      val docs = spark.read.parquet(s"$dir/store/docs").collect().toSeq
      (flags, keys, docs)
    }
    val (flags, keys, docs) = run(base + "/repeated", repeat = true)
    val (flags1, keys1, docs1) = run(base + "/once", repeat = false)
    // one flag per flagged document, however often its row repeats
    assert(flags.sorted == flags1.sorted, s"$flags vs $flags1")
    assert(flags.map(f => (f._1, f._2, f._4)).sorted ==
      Seq((3L, 1L, 1), (5L, 4L, 1)), flags.toString)
    assert(keys == keys1)
    // the docs tree keeps one payload row per input row
    assert(docs.map(_.getLong(0)).sorted == Seq(1L, 1L, 2L, 3L, 3L, 4L, 4L, 5L))
    assert(docs.toSet == docs1.toSet)
  }

  test("dropDuplicatesWithinWatermark: exact streaming dedup matches batch distinct") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    implicit val sc = spark.sqlContext
    val outDir = java.nio.file.Files.createTempDirectory("graft_ddw").toString + "/out"
    val ckpt = java.nio.file.Files.createTempDirectory("graft_ddw_ckpt").toString
    val in = MemoryStream[(Long, Long, String)]
    // (event ts seconds, key, payload): duplicates of the same key arrive
    // across micro-batches but inside the watermark window
    val q = in.toDF().toDF("ts_s", "k", "v")
      .withColumn("ts", timestamp_seconds($"ts_s"))
      .withWatermark("ts", "10 seconds")
      .dropDuplicatesWithinWatermark("k")
      .writeStream.format("parquet")
      .option("path", outDir).option("checkpointLocation", ckpt)
      .outputMode("append").start()
    try {
      in.addData((100L, 1L, "a"), (101L, 2L, "b"), (102L, 1L, "a-dup"))
      q.processAllAvailable()
      in.addData((103L, 2L, "b-dup"), (104L, 3L, "c"), (200L, 9L, "advance"))
      q.processAllAvailable()
      val keys = spark.read.parquet(outDir).select("k")
        .collect().map(_.getLong(0)).sorted
      // one row per key, exactly like batch dropDuplicates on the union
      assert(keys.toSeq == Seq(1L, 2L, 3L, 9L), keys.toSeq.toString)
    } finally q.stop()
  }
}
