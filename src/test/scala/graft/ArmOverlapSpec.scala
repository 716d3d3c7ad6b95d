package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{Dedup, Par}

/** Pins the r16 arm-overlap machinery (VERDICT r15 item 1): overlapped
  * eval arms — every catalyst compile and cache-registry mutation
  * serialized under [[Dedup.planLock]], stage execution concurrent —
  * must produce EXACTLY the sequential arms' pair sets, repeatedly, and
  * with another containment query having already run in the session
  * (the trigger condition of the r15 duplicated-row race reproduced at
  * sf0.01, OPTIMIZATION_r15.md). The last two tests pin [[Par]]: no
  * concurrent sibling outlives a failure.
  */
class ArmOverlapSpec extends AnyFunSuite {
  lazy val spark: SparkSession = GraftSession.configure(
    SparkSession.builder().master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")).getOrCreate()

  // planted corpus: an exact-dup clique, a contained (sub → sup) pair,
  // plus background docs — both arms emit non-trivial, known sets
  private def corpus(seed: Int): Seq[(Long, Set[Long])] = {
    val rng = new scala.util.Random(seed)
    val base = (100L until 140L).toSet
    val clique = Seq(1L, 2L, 3L).map(_ -> base)
    val sub = Seq(10L -> base.take(32), 11L -> base) // C(sub, sup) = 1.0
    val noise = (20 until 60).map { i =>
      i.toLong + 100 ->
        Seq.fill(12 + rng.nextInt(8))(500L + rng.nextInt(400)).toSet
    }
    clique ++ sub ++ noise
  }

  private def pairsOf(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] = {
    import spark.implicits._
    df.select($"doc_sub", $"doc_sup").as[(Long, Long)].collect().toSet
  }

  test("overlapped containmentEvalArms == sequential arms, repeatedly, " +
      "with a prior containment query in-session (the r15 race trigger)") {
    import spark.implicits._
    val df = corpus(3).map { case (id, s) => (id, s.toArray.sorted) }
      .toDF("doc_id", "sh")
    // trigger condition: a containment query earlier in the session
    // leaves its compiled/cached footprint behind
    Dedup.containmentPairs(df, "doc_id", "sh", num = 4, den = 5,
      preHashed = true).count()
    val seqExact = pairsOf(Dedup.containmentPairsExact(
      df, "doc_id", "sh", num = 4, den = 5, preHashed = true))
    val seqBanded = pairsOf(Dedup.containmentPairsBanded(
      df, "doc_id", "sh", num = 4, den = 5, preHashed = true, queryCap = 8))
    val seqLsh = pairsOf(Dedup.containmentPairsLsh(
      df, "doc_id", "sh", num = 4, den = 5, preHashed = true))
    assert(seqExact.nonEmpty, "degenerate corpus: no exact pairs")
    for (i <- 1 to 5) {
      val (e1, b1) = Dedup.containmentEvalArms(df, "doc_id", "sh",
        num = 4, den = 5, preHashed = true, bandedQueryCap = Some(8))
      assert(pairsOf(e1) == seqExact, s"run $i exact-vs-banded overlap")
      assert(pairsOf(b1) == seqBanded, s"run $i banded arm")
      val (e2, l2) = Dedup.containmentEvalArms(df, "doc_id", "sh",
        num = 4, den = 5, preHashed = true, bandedQueryCap = None)
      assert(pairsOf(e2) == seqExact, s"run $i exact-vs-lsh overlap")
      assert(pairsOf(l2) == seqLsh, s"run $i lsh arm")
    }
  }

  test("overlapArms propagates the first arm's failure after draining " +
      "the second (no orphaned concurrent action)") {
    @volatile var bDone = false
    val ex = intercept[RuntimeException] {
      Par.both(
        { Thread.sleep(50); throw new RuntimeException("arm A boom") },
        { Thread.sleep(300); bDone = true; 42 })
    }
    assert(ex.getMessage == "arm A boom")
    assert(bDone, "second arm must be awaited before propagation")
  }

  test("Par.both runs both arms' jobs under the caller's job group") {
    val sc = spark.sparkContext
    // (group, description, interrupt-on-cancel) of every job started
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[Seq[String]]
    val endSeen = new java.util.concurrent.CountDownLatch(1)
    val keys = Seq("spark.jobGroup.id", "spark.job.description",
      "spark.job.interruptOnCancel")
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          e: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        val props = keys.map(k => Option(e.properties).map(_.getProperty(k)).orNull)
        if (props.head == "arms-end") endSeen.countDown() else seen.add(props)
      }
    }
    def arm(n: Int): Long = spark.range(n).filter(col("id") % 3 === 0).count()
    sc.addSparkListener(listener)
    try {
      // one job group per round: a pool thread that kept the group of the
      // thread that created it, or none, fails the later rounds
      for (i <- 1 to 3) {
        sc.setJobGroup(s"arms-$i", s"arms round $i", interruptOnCancel = true)
        try {
          assert(Par.both(arm(100), arm(200)) == ((34L, 67L)))
          assert(sc.getLocalProperty("spark.jobGroup.id") == s"arms-$i")
        } finally sc.clearJobGroup()
      }
      sc.setJobGroup("arms-end", "marker")
      try spark.range(1).count() finally sc.clearJobGroup()
      assert(endSeen.await(30, java.util.concurrent.TimeUnit.SECONDS))
    } finally sc.removeSparkListener(listener)
    val jobs = seen.toArray.toSeq.map(_.asInstanceOf[Seq[String]])
    for (i <- 1 to 3) {
      val round = jobs.filter(_.head == s"arms-$i")
      assert(round.nonEmpty && round.forall(_ == Seq(s"arms-$i",
        s"arms round $i", "true")), s"round $i: $round")
    }
    // each round's arms ran the same jobs; none ran outside a round's group
    assert(jobs.forall(_.head != null), s"jobs without a group: $jobs")
    assert(jobs.groupBy(_.head).values.map(_.size).toSet.size == 1, jobs)
  }

  test("Par.chunks propagates the first chunk's failure after draining " +
      "every other chunk (no sibling still writing the caller's arrays)") {
    val n = 1000
    val covered = new java.util.concurrent.atomic.AtomicInteger(0)
    val ex = intercept[RuntimeException] {
      Par.chunks(n) { (s, e) =>
        if (s == 0) {
          Thread.sleep(50); covered.addAndGet(e - s)
          throw new RuntimeException("chunk 0 boom")
        }
        if (e == n) {
          covered.addAndGet(e - s); throw new RuntimeException("last chunk boom")
        }
        Thread.sleep(300); covered.addAndGet(e - s)
      }
    }
    assert(ex.getMessage == "chunk 0 boom", "the first chunk's failure wins")
    assert(covered.get == n,
      s"only ${covered.get} of $n rows covered: a chunk was still running")
  }
}
