package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.Dedup

/** Pins the round-12 verify-kernel + exact-collapse rework of the pair
  * verify stage (the r12 stage decomposition in SURVEY.md §5n-2 put the
  * sf4-replica containment wall 85% in the verify join — 557 s of 655 s
  * stage-isolated — over 181M candidates):
  *
  *  1. [[graft.plans.SortedIntersectCount]] == size(array_intersect)
  *     on sorted-distinct arrays, across empty/disjoint/subset/random
  *     cases AND under codegen (the expression is used inside the
  *     whole-stage-codegen'd verify projection);
  *  2. containmentPairs' exact-duplicate collapse is LOSSLESS — a corpus
  *     with replica cliques, boilerplate-wrapped copies, and empty docs
  *     produces the identical directed pair set as the semantics demand:
  *     within-clique pairs at containment 1.0 in both directions,
  *     sub→sup pairs replicated across every clique member, and empty
  *     shingle sets never paired (they share no posting).
  */
class IntersectCountSpec extends AnyFunSuite {
  lazy val spark: SparkSession = GraftSession.configure(
    SparkSession.builder().master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")).getOrCreate()

  test("sorted_intersect_count == size(array_intersect) incl. codegen") {
    import spark.implicits._
    graft.plans.SortedIntersectCount.register(spark)
    val rng = new scala.util.Random(7)
    val rows = (1 to 200).map { i =>
      val a = rng.shuffle((0L to 400L).toList).take(rng.nextInt(60))
        .distinct.sorted
      val b = rng.shuffle((0L to 400L).toList).take(rng.nextInt(60))
        .distinct.sorted
      (i, a, b)
    } ++ Seq((201, List.empty[Long], List(1L, 2L)),
      (202, List(5L), List(5L)), (203, List(1L, 2L, 3L), List.empty[Long]),
      (204, List(1L, 2L, 3L), List(1L, 2L, 3L)))
    val df = rows.toDF("id", "a", "b")
    val bad = df.select(
      graft.plans.SortedIntersectCount.count($"a", $"b").as("fast"),
      size(array_intersect($"a", $"b")).as("ref"))
      .filter($"fast" =!= $"ref")
    assert(bad.count() === 0)
  }

  test("containment collapse losslessness on a planted clique corpus") {
    import spark.implicits._
    // base shingle sets: B contains A (every hash of A in B); C disjoint
    val setA = (1L to 10L).toList
    val setB = (1L to 25L).toList   // A ⊂ B, C(A,B) = 1.0
    val setC = (100L to 120L).toList
    // replica cliques: 3 copies of A, 2 copies of B, 1 C, 2 empty docs
    val docs = Seq(
      (1L, setA), (2L, setA), (3L, setA),
      (10L, setB), (11L, setB),
      (20L, setC),
      (30L, List.empty[Long]), (31L, List.empty[Long]))
      .toDF("doc_id", "sh")
    val got = Dedup.containmentPairs(docs, "doc_id", "sh",
      num = 4, den = 5, preHashed = true)
      .select($"doc_sub", $"doc_sup", $"common", $"size_sub", $"containment")
      .as[(Long, Long, Long, Long, Double)].collect().toSet
    val aIds = Seq(1L, 2L, 3L); val bIds = Seq(10L, 11L)
    val expected =
      // within-A clique: both directions, containment 1.0
      (for (x <- aIds; y <- aIds if x != y) yield (x, y, 10L, 10L, 1.0)) ++
      // within-B clique
      (for (x <- bIds; y <- bIds if x != y) yield (x, y, 25L, 25L, 1.0)) ++
      // A ⊂ B: every A member contained in every B member (10/10 = 1.0);
      // B→A direction fails (10/25 = 0.4 < 0.8); C pairs with nothing;
      // empty docs pair with nothing
      (for (x <- aIds; y <- bIds) yield (x, y, 10L, 10L, 1.0))
    assert(got === expected.toSet)
  }

  test("jaccard collapse == brute force, incl. the parity-gate keys") {
    import spark.implicits._
    val rng = new scala.util.Random(11)
    // 12 distinct base sets, each duplicated 1-4 times across mixed
    // parities → exact-dup cliques that straddle the ingest gate's sides
    var nextId = 0L
    val docs = (0 until 12).flatMap { s =>
      val set = rng.shuffle((0L to 50L).toList).take(12 + rng.nextInt(8))
        .distinct.sorted
      (0 to rng.nextInt(3)).map { _ =>
        nextId += 1; (nextId, set)
      }
    }.toDF("doc_id", "sh")
    def brute(pred: Option[(Long, Long) => Boolean]) = {
      val rows = docs.as[(Long, Seq[Long])].collect()
      (for {
        (a, sa) <- rows; (b, sb) <- rows if a < b
        if pred.forall(_(a, b))
        j = sa.toSet.intersect(sb.toSet).size.toDouble /
          sa.toSet.union(sb.toSet).size
        if j >= 0.5
      } yield (a, b, j)).toSet
    }
    val plain = Dedup.jaccardPairs(docs, "doc_id", "sh", Seq.empty, 0.5,
      preHashed = true)
      .as[(Long, Long, Double)].collect().toSet
    assert(plain === brute(None))
    val gated = Dedup.jaccardPairs(docs, "doc_id", "sh", Seq.empty, 0.5,
      preHashed = true,
      pairPredicate = Some(col("doc_id") % 2 =!= col("doc_id_b") % 2),
      collapseKeys = Seq(col("doc_id") % 2))
      .as[(Long, Long, Double)].collect().toSet
    assert(gated === brute(Some((a, b) => a % 2 != b % 2)))
  }
}
