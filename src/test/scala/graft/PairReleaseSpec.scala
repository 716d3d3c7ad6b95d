package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.Dedup

/** The pair family releases what it materialises: right after a call
  * returns, the only RDD it has added to the persisted-RDD registry is
  * the returned frame's checkpoint, with no wait for GC to drop
  * finished checkpoints, and no frame is left in the cache manager.
  */
class PairReleaseSpec extends AnyFunSuite {
  lazy val spark: SparkSession = GraftSession.configure(
    SparkSession.builder().master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")).getOrCreate()

  // an exact-dup clique (so the Jaccard dup-rate gate collapses), a
  // contained (sub → sup) pair, and background docs
  private def corpus: DataFrame = {
    import spark.implicits._
    val rng = new scala.util.Random(11)
    val base = (100L until 140L).toArray
    val noise = (20 until 60).map { i =>
      (i.toLong + 100, Array.fill(12 + rng.nextInt(8))(500L + rng.nextInt(400))
        .distinct.sorted)
    }
    (Seq(1L, 2L, 3L, 4L).map(_ -> base) ++
      Seq(10L -> base.take(32), 11L -> base) ++ noise).toDF("doc_id", "sh")
  }

  private def checkpointRdds(df: DataFrame): Set[Int] =
    df.queryExecution.logical.collect { case r: LogicalRDD => r.rdd.id }.toSet

  /** The RDD ids `call` adds to the persisted-RDD registry, and the
    * returned frame's checkpoint RDDs.
    */
  private def added(call: => DataFrame): (Set[Int], Set[Int]) = {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    val out = call
    (sc.getPersistentRDDs.keySet.toSet -- before, checkpointRdds(out))
  }

  test("containmentPairsLsh keeps only the returned frame's checkpoint") {
    val (left, result) = added(Dedup.containmentPairsLsh(corpus, "doc_id",
      "sh", num = 4, den = 5, preHashed = true))
    assert(result.size == 1)
    assert(left == result, s"held besides the result: ${left -- result}")
    assert(spark.sharedState.cacheManager.isEmpty)
  }

  test("jaccardPairs through the collapse keeps only the returned frame's " +
      "checkpoint") {
    val (left, result) = added(Dedup.jaccardPairs(corpus, "doc_id", "sh",
      Seq.empty, 0.5, preHashed = true))
    assert(result.size == 1)
    assert(left == result, s"held besides the result: ${left -- result}")
    assert(spark.sharedState.cacheManager.isEmpty)
  }
}
