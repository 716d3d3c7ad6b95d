package graft

import java.nio.file.Files
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite
import graft.streaming.StreamingSemanticDedup

class StreamingSemanticDedupSpec extends AnyFunSuite {
  lazy val spark: SparkSession = GraftSession.configure(
    SparkSession.builder().master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")).getOrCreate()

  // two well-separated centroid directions in 4-d
  val cents: Seq[(Long, Array[Double])] = Seq(
    0L -> Array(1.0, 0.0, 0.0, 0.0),
    1L -> Array(0.0, 1.0, 0.0, 0.0))

  def v(xs: Double*): Array[Float] = xs.map(_.toFloat).toArray

  val a = v(0.9, 0.1, 0.2, 0.0)       // bucket 0
  val aDup = v(0.88, 0.12, 0.21, 0.0) // cos(a, aDup) ≈ 0.9996
  val b = v(0.1, 0.95, 0.0, 0.3)      // bucket 1
  val c = v(0.0, 0.1, 0.9, 0.4)       // far from everything kept so far
  val cDup = v(0.02, 0.11, 0.9, 0.39)

  test("flags semantic near-dups across and within batches") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val base = Files.createTempDirectory("graft_semdedup").toString
    val in = MemoryStream[(Long, Array[Float])]
    val q = StreamingSemanticDedup.start(in.toDF().toDF("doc_id", "emb"),
      cents, s"$base/store", s"$base/flags", s"$base/ckpt",
      threshold = 0.98, nprobe = 2)
    try {
      in.addData((1L, a), (2L, b))
      q.processAllAvailable()
      assert(spark.read.parquet(s"$base/flags").count() == 0)
      in.addData((3L, aDup), (4L, c), (5L, cDup))
      q.processAllAvailable()
      val flags = spark.read.parquet(s"$base/flags")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(flags.contains((3L, 1L)), flags.toString) // cross-batch
      assert(flags.contains((5L, 4L)), flags.toString) // within-batch
      assert(!flags.exists(f => f._1 == 2L || f._1 == 4L), flags.toString)
      assert(spark.read.parquet(s"$base/store").select("doc_id")
        .distinct().count() == 5)
    } finally q.stop()
  }

  test("declared store schema equals the schema of the trees the writer wrote") {
    import spark.implicits._
    val base = Files.createTempDirectory("graft_semdedup_schema").toString
    val store = s"$base/store"
    def batch(rows: (Long, Array[Float])*) = rows.toDF("doc_id", "emb")
    StreamingSemanticDedup.processBatch(batch((1L, a), (2L, b)), 0L, cents,
      store, s"$base/flags", 0.98, 2)
    StreamingSemanticDedup.processBatch(batch((3L, c)), 1L, cents,
      store, s"$base/flags", 0.98, 2)
    val declared = StreamingSemanticDedup.storeSchema(batch().schema("emb").dataType)
    assert(spark.read.parquet(s"$store/batch_id=0").schema == declared)
    StreamingSemanticDedup.compactStore(spark, store, cents.size)
    assert(spark.read.parquet(s"$store/batch_id=-1").schema == declared)
    assert(spark.read.schema(declared).parquet(store).schema ==
      spark.read.parquet(store).schema)
  }

  test("replay is idempotent; store prunes to probed bucket partitions") {
    import spark.implicits._
    val base = Files.createTempDirectory("graft_semdedup2").toString
    val store = s"$base/store"
    def batch(rows: (Long, Array[Float])*) = rows.toDF("doc_id", "emb")
    StreamingSemanticDedup.processBatch(batch((1L, a), (2L, b)), 0L, cents,
      store, s"$base/flags", 0.98, 2)
    StreamingSemanticDedup.processBatch(batch((10L, c)), 1L, cents,
      store, s"$base/flags", 0.98, 2)
    StoreLayout.assertFlatTree(spark, s"$store/batch_id=0")
    val storeOnce = spark.read.parquet(store).drop("emb").collect().toSet
    val flagsOnce = spark.read.parquet(s"$base/flags").collect().toSet
    // at-least-once replay of batch 0: byte-for-byte identical outcome
    StreamingSemanticDedup.processBatch(batch((1L, a), (2L, b)), 0L, cents,
      store, s"$base/flags", 0.98, 2)
    assert(spark.read.parquet(store).drop("emb").collect().toSet == storeOnce)
    assert(spark.read.parquet(s"$base/flags").collect().toSet == flagsOnce)
    // compaction preserves content and keeps the bucket layout
    StreamingSemanticDedup.compactStore(spark, store, cents.size)
    assert(spark.read.parquet(store).select("doc_id").distinct().count() == 3)
    // per-batch and compacted trees are flat, range-clustered file sets,
    // and a probe restricted to bucket 0 pushes its predicate to the scan
    StoreLayout.assertFlatTree(spark, s"$store/batch_id=-1")
    assert(StoreLayout.assertPushedProbe(spark, store, "bucket", Seq(0L)) >= 1)
    // and a dup of doc 1 arriving later is still caught post-compaction
    StreamingSemanticDedup.processBatch(batch((20L, aDup)), 2L, cents,
      store, s"$base/flags", 0.98, 2)
    val flags2 = spark.read.parquet(s"$base/flags")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(flags2.contains((20L, 1L)), flags2.toString)
  }

  test("replays of an overlapped probing batch never read its own store directory") {
    import spark.implicits._
    val base = Files.createTempDirectory("graft_semdedup_overlap").toString
    val (store, flags) = (s"$base/store", s"$base/flags")
    def batch(rows: (Long, Array[Float])*) = rows.toDF("doc_id", "emb")
    def probing() = StreamingSemanticDedup.processBatch(batch((3L, aDup)), 1L,
      cents, store, flags, 0.98, 2)
    def state() = (spark.read.parquet(flags).collect().toSet,
      spark.read.parquet(store).drop("emb").collect().toSet)
    StreamingSemanticDedup.processBatch(batch((1L, a), (2L, b)), 0L, cents,
      store, flags, 0.98, 2)
    probing()
    val once = state()
    assert(once._1.map(r => (r.getLong(0), r.getLong(1))) == Set((3L, 1L)))
    for (i <- 1 to 4) {
      val plans = StoreLayout.plansOf(spark)(probing())
      assert(StoreLayout.assertOwnBatchPruned(plans, store, 1L) > 0,
        s"replay $i: no store scan listed batch_id=1")
      assert(state() == once, s"replay $i changed the flags or the store")
    }
  }

  test("per-batch and compacted trees cover disjoint bucket ranges") {
    import spark.implicits._
    val base = Files.createTempDirectory("graft_semdedup_ranges").toString
    val store = s"$base/store"
    def batch(rows: (Long, Array[Float])*) = rows.toDF("doc_id", "emb")
    StoreLayout.withSmallFiles(spark) {
      StreamingSemanticDedup.processBatch(batch((1L, a), (2L, b)), 0L, cents,
        store, s"$base/flags", 0.98, 2)
      StreamingSemanticDedup.processBatch(batch((3L, c), (4L, b), (5L, a)), 1L, cents,
        store, s"$base/flags", 0.98, 2)
      StoreLayout.assertDisjointRanges(spark, s"$store/batch_id=1", "bucket")
      StreamingSemanticDedup.compactStore(spark, store, cents.size)
    }
    StoreLayout.assertDisjointRanges(spark, s"$store/batch_id=-1", "bucket")
  }
}
