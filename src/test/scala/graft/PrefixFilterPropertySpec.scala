package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.Dedup

/** Empirical losslessness of the RAREST-FIRST prefix filter (the df-ordered
  * AllPairs posting scheme): on a seeded corpus with a heavily skewed
  * shingle-frequency distribution — stopword-like elements in half the
  * documents, exactly the regime the df-ordering reshapes — the
  * posting-join operators must return EXACTLY the brute-force pair sets.
  * The prefix filter may prune only true negatives, and the verify step
  * computes exact scores, so equality (not ⊇) is the contract.
  */
class PrefixFilterPropertySpec extends AnyFunSuite {
  lazy val spark: SparkSession = GraftSession.configure(
    SparkSession.builder().master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")).getOrCreate()

  // seeded skewed corpus: 20 "stopword" shingles (p=.5 each), 400 rare
  // ones, plus planted near-dup pairs (small mutations of a base set)
  private def corpus(seed: Int): Seq[(Long, Set[Long])] = {
    val rng = new scala.util.Random(seed)
    val stop = (0L until 20L).toVector
    val rare = (100L until 500L).toVector
    def randomDoc(): Set[Long] =
      (stop.filter(_ => rng.nextBoolean()) ++
        Seq.fill(8 + rng.nextInt(10))(rare(rng.nextInt(rare.size)))).toSet
    val bases = (0 until 40).map(i => i.toLong * 10 -> randomDoc())
    val mutants = bases.take(20).map { case (id, s) =>
      val v = s.toVector
      val dropped = s - v(rng.nextInt(v.size))
      val added = dropped + (1000L + rng.nextInt(50))
      (id + 1) -> added
    }
    bases ++ mutants
  }

  private def jac(a: Set[Long], b: Set[Long]): Double =
    (a & b).size.toDouble / (a | b).size

  test("jaccardPairs under df-ordered prefixes equals brute force on a " +
      "skewed corpus") {
    import spark.implicits._
    val docs = corpus(7)
    val df = docs.map { case (id, s) => (id, s.toArray.sorted) }
      .toDF("doc_id", "sh")
    val got = Dedup.jaccardPairs(df, "doc_id", "sh", Seq.empty, 0.5,
      preHashed = true)
      .select($"doc_a", $"doc_b").as[(Long, Long)].collect().toSet
    val want = (for {
      (a, sa) <- docs; (b, sb) <- docs
      if a < b && jac(sa, sb) >= 0.5
    } yield (a, b)).toSet
    assert(want.nonEmpty, "degenerate corpus: no true pairs")
    assert(got == want,
      s"missed=${(want -- got).take(5)} extra=${(got -- want).take(5)}")
  }

  test("containmentPairs under df-ordered prefixes equals brute force") {
    import spark.implicits._
    val docs = corpus(11)
    // add strict-subset docs: containment 1.0 into their supersets
    val subs = docs.take(10).map { case (id, s) =>
      (id + 5) -> s.toVector.sortBy(identity).dropRight(1).toSet
    }
    val all = docs ++ subs
    val df = all.map { case (id, s) => (id, s.toArray.sorted) }
      .toDF("doc_id", "sh")
    val got = Dedup.containmentPairs(df, "doc_id", "sh", num = 4, den = 5,
      preHashed = true)
      .select($"doc_sub", $"doc_sup").as[(Long, Long)].collect().toSet
    val want = (for {
      (a, sa) <- all; (b, sb) <- all
      if a != b && (sa & sb).size * 5 >= sa.size * 4
    } yield (a, b)).toSet
    assert(want.nonEmpty, "degenerate corpus: no true containments")
    assert(got == want,
      s"missed=${(want -- got).take(5)} extra=${(got -- want).take(5)}")
  }

  // base frame exactly as jaccardPairs/containmentPairs prepare it
  // (preHashed path): sorted distinct hash array + set size
  private def baseFrame(docs: Seq[(Long, Set[Long])]) = {
    import spark.implicits._
    docs.map { case (id, s) => (id, s.toArray.sorted) }
      .toDF("doc_id", "_sh")
      .withColumn("_n", size($"_sh"))
  }

  test("positional filter is lossless and strictly cuts jaccard candidates") {
    import spark.implicits._
    for (seed <- Seq(3, 7, 19)) {
      val docs = corpus(seed)
      val base = baseFrame(docs)
      def cands(positional: Boolean): Set[(Long, Long)] =
        Dedup.prefixCandidates(base, "doc_id", Seq.empty, 0.5,
            positional = positional)
          .as[(Long, Long)].collect().toSet
      val without = cands(positional = false)
      val withPos = cands(positional = true)
      // every surviving candidate was already a candidate, every TRUE pair
      // still survives (losslessness), and the filter actually bites
      assert(withPos.subsetOf(without))
      val truePairs = (for {
        (a, sa) <- docs; (b, sb) <- docs
        if a < b && jac(sa, sb) >= 0.5
      } yield (a, b)).toSet
      assert(truePairs.subsetOf(withPos),
        s"seed=$seed dropped true pairs: ${(truePairs -- withPos).take(5)}")
      assert(withPos.size < without.size,
        s"seed=$seed positional filter pruned nothing " +
          s"(${withPos.size} of ${without.size})")
    }
  }

  test("positional filter is lossless and cuts containment candidates") {
    import spark.implicits._
    for (seed <- Seq(5, 11)) {
      val docs = corpus(seed)
      val subs = docs.take(10).map { case (id, s) =>
        (id + 5) -> s.toVector.sortBy(identity).dropRight(1).toSet
      }
      val all = docs ++ subs
      val base = baseFrame(all)
      def cands(positional: Boolean): Set[(Long, Long)] =
        Dedup.containmentCandidates(base, "doc_id", num = 4, den = 5,
            positional = positional)
          .as[(Long, Long)].collect().toSet
      val without = cands(positional = false)
      val withPos = cands(positional = true)
      assert(withPos.subsetOf(without))
      val truePairs = (for {
        (a, sa) <- all; (b, sb) <- all
        if a != b && (sa & sb).size * 5 >= sa.size * 4
      } yield (a, b)).toSet
      assert(truePairs.subsetOf(withPos),
        s"seed=$seed dropped true pairs: ${(truePairs -- withPos).take(5)}")
      assert(withPos.size < without.size,
        s"seed=$seed positional filter pruned nothing " +
          s"(${withPos.size} of ${without.size})")
    }
  }
}
