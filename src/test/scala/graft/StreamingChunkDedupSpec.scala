package graft

import java.nio.file.Files
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite
import graft.streaming.StreamingChunkDedup

class StreamingChunkDedupSpec extends AnyFunSuite {
  lazy val spark: SparkSession = GraftSession.configure(
    SparkSession.builder().master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")).getOrCreate()

  test("chunk store flags repeated content across and within batches") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val dir = Files.createTempDirectory("chunkdedup").toString
    val (store, flags, ckpt) = (s"$dir/store", s"$dir/flags", s"$dir/ckpt")
    val textA = ("the quick brown fox jumps over the lazy dog and then " +
      "runs far away into the deep green forest before dawn ") * 3
    val textB = "completely different content about spark catalyst " +
      "expressions and distributed shuffles at massive scale " * 3
    val in = MemoryStream[(Long, String)]
    val q = StreamingChunkDedup.start(
      in.toDS().toDF("doc_id", "text"), store, flags, ckpt)
    try {
      // batch 1: two novel docs
      in.addData((1L, textA), (2L, textB))
      q.processAllAvailable()
      // batch 2: doc 3 repeats doc 1 verbatim, doc 4 is novel
      in.addData((3L, textA), (4L, "entirely novel third text about " +
        "watermarks and late data policies in stream processors " * 2))
      q.processAllAvailable()
      val rep = spark.read.parquet(flags).collect()
        .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
      assert(rep(1L)._2 == 0L, s"doc 1 must be novel: ${rep(1L)}")
      assert(rep(2L)._2 == 0L, s"doc 2 must be novel: ${rep(2L)}")
      // doc 3 = doc 1 verbatim → every chunk already in the store
      assert(rep(3L)._1 > 1L, "text should chunk into multiple pieces")
      assert(rep(3L)._2 == rep(3L)._1, s"doc 3 fully duplicated: ${rep(3L)}")
      assert(rep(4L)._2 == 0L, s"doc 4 must be novel: ${rep(4L)}")
      // the store holds each distinct chunk exactly once per append
      val stored = spark.read.parquet(store).select("h").collect().length
      assert(stored >= rep(1L)._1 + rep(2L)._1)
    } finally q.stop()
  }

  test("within-batch duplicates flag against the first owner") {
    import spark.implicits._
    val dir = Files.createTempDirectory("chunkdedup2").toString
    val text = "some shared paragraph that appears in two documents of " +
      "the very same micro batch with identical content " * 3
    StreamingChunkDedup.processBatch(
      Seq((10L, text), (11L, text)).toDF("doc_id", "text"), 0L,
      s"$dir/store", s"$dir/flags")
    val rep = spark.read.parquet(s"$dir/flags").collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(rep(10L)._2 == 0L) // first owner
    assert(rep(11L)._2 == rep(11L)._1) // fully duplicated within batch
  }

  test("declared store schema equals the schema of the trees the writer wrote") {
    import spark.implicits._
    val dir = Files.createTempDirectory("chunkdedup_schema").toString
    val text = "a paragraph long enough to cut into several content " +
      "defined chunks for the schema check of the chunk store " * 3
    StreamingChunkDedup.processBatch(Seq((1L, text)).toDF("doc_id", "text"),
      0L, s"$dir/store", s"$dir/flags")
    StreamingChunkDedup.processBatch(Seq((2L, text)).toDF("doc_id", "text"),
      1L, s"$dir/store", s"$dir/flags")
    StreamingChunkDedup.compactStore(spark, s"$dir/store")
    val declared = StreamingChunkDedup.StoreSchema
    assert(spark.read.parquet(s"$dir/store/batch_id=-1").schema == declared)
    assert(spark.read.schema(declared).parquet(s"$dir/store").schema ==
      spark.read.parquet(s"$dir/store").schema)
  }

  test("at-least-once replay of a batch is idempotent") {
    import spark.implicits._
    val dir = Files.createTempDirectory("chunkdedup3").toString
    val (store, flags) = (s"$dir/store", s"$dir/flags")
    val textA = "first document text that chunks into several content " +
      "defined pieces for the replay idempotency check " * 3
    val textB = "second document body with its own distinct stream of " +
      "words so its chunks never collide with the first " * 3
    StreamingChunkDedup.processBatch(
      Seq((1L, textA)).toDF("doc_id", "text"), 0L, store, flags)
    // batch 1 runs, "fails" after its writes, and is replayed verbatim
    StreamingChunkDedup.processBatch(
      Seq((2L, textB)).toDF("doc_id", "text"), 1L, store, flags)
    val flagsOnce = spark.read.parquet(flags).collect().toSet
    val storeOnce = spark.read.parquet(store).collect().toSet
    StreamingChunkDedup.processBatch(
      Seq((2L, textB)).toDF("doc_id", "text"), 1L, store, flags)
    assert(spark.read.parquet(flags).collect().toSet == flagsOnce,
      "replayed batch must overwrite, not double-append, its report rows")
    assert(spark.read.parquet(store).collect().toSet == storeOnce,
      "replayed batch must overwrite, not double-append, its store chunks")
    // doc 2 must not count as duplicated against its own failed write
    val rep = spark.read.parquet(flags).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(rep(2L)._2 == 0L, s"replay must not self-flag: ${rep(2L)}")
  }

  test("replays of an overlapped probing batch never read its own store directory") {
    import spark.implicits._
    val dir = Files.createTempDirectory("chunkdedup_overlap").toString
    val (store, flags) = (s"$dir/store", s"$dir/flags")
    val text = "a paragraph long enough to cut into several content " +
      "defined chunks for the overlapped replay check " * 3
    def probing() = StreamingChunkDedup.processBatch(
      Seq((3L, text)).toDF("doc_id", "text"), 1L, store, flags)
    def state() = (spark.read.parquet(flags).collect().toSet,
      spark.read.parquet(store).collect().toSet)
    StreamingChunkDedup.processBatch(Seq((1L, text)).toDF("doc_id", "text"),
      0L, store, flags)
    probing()
    val once = state()
    val rep = once._1.map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(rep(3L)._2 == rep(3L)._1, s"doc 3 fully duplicated: ${rep(3L)}")
    for (i <- 1 to 4) {
      val plans = StoreLayout.plansOf(spark)(probing())
      assert(StoreLayout.assertOwnBatchPruned(plans, store, 1L) > 0,
        s"replay $i: no store scan listed batch_id=1")
      assert(state() == once, s"replay $i changed the report or the store")
    }
  }

  test("compaction preserves src_batch visibility and the store prunes by hb") {
    import spark.implicits._
    val dir = Files.createTempDirectory("chunkdedup4").toString
    val (store, flags) = (s"$dir/store", s"$dir/flags")
    val textA = "alpha paragraph that chunks into several content defined " +
      "pieces for the compaction visibility check " * 3
    val textB = "beta body with its own distinct stream of words so its " +
      "chunks never collide with the alpha text at all " * 3
    def b(rows: (Long, String)*) = rows.toDF("doc_id", "text")
    StreamingChunkDedup.processBatch(b((1L, textA)), 0L, store, flags)
    StreamingChunkDedup.processBatch(b((2L, textB)), 1L, store, flags)
    StreamingChunkDedup.processBatch(b((3L, textA)), 2L, store, flags)
    def rep(doc: Long) = spark.read.parquet(flags)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2)))
      .toMap.apply(doc)
    assert(rep(3L)._2 == rep(3L)._1, s"doc 3 fully dup pre-compaction: ${rep(3L)}")
    StoreLayout.assertFlatTree(spark, s"$store/batch_id=0")
    StreamingChunkDedup.compactStore(spark, store)
    // single batch_id=-1 tree, a flat range-clustered file set, and an hb
    // probe pushes its predicate to the Parquet scan
    val dirs = Option(new java.io.File(store).listFiles).toSeq.flatten
      .filter(_.isDirectory).map(_.getName)
    assert(dirs == Seq("batch_id=-1"), dirs.toString)
    StoreLayout.assertFlatTree(spark, s"$store/batch_id=-1")
    StoreLayout.assertPushedProbe(spark, store, "hb", Seq(1L, 2L))
    // late replays after compaction: batch 2's probe still sees doc 1's
    // chunks (src_batch=0) but batch 1's replay must NOT see textA chunks
    // re-labeled under batch_id=-1, nor its own prior write
    StreamingChunkDedup.processBatch(b((3L, textA)), 2L, store, flags)
    assert(rep(3L)._2 == rep(3L)._1, s"doc 3 fully dup post-compaction: ${rep(3L)}")
    StreamingChunkDedup.processBatch(b((2L, textB)), 1L, store, flags)
    assert(rep(2L)._2 == 0L, s"replayed doc 2 must stay novel: ${rep(2L)}")
  }

  test("per-batch and compacted trees cover disjoint hb ranges") {
    import spark.implicits._
    val dir = Files.createTempDirectory("chunkdedup_ranges").toString
    val (store, flags) = (s"$dir/store", s"$dir/flags")
    val text = (1 to 40).map(i => s"sentence number $i of a long document " +
      s"whose content defined chunks land in many hash buckets $i").mkString(" ")
    StoreLayout.withSmallFiles(spark) {
      StreamingChunkDedup.processBatch(Seq((1L, text)).toDF("doc_id", "text"), 0L, store, flags)
      StreamingChunkDedup.processBatch(Seq((2L, text.reverse)).toDF("doc_id", "text"), 1L, store, flags)
      StoreLayout.assertDisjointRanges(spark, s"$store/batch_id=1", "hb")
      StreamingChunkDedup.compactStore(spark, store)
    }
    StoreLayout.assertDisjointRanges(spark, s"$store/batch_id=-1", "hb")
  }
}
