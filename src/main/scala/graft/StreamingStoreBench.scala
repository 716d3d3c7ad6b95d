package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Store-GROWTH curve for the incremental dedup family — the measurement
  * behind the "per-batch cost stays flat as the store deepens" claim
  * ([[graft.streaming.StreamingSemanticDedup]] /
  * [[graft.streaming.StreamingDedup]]): stream the whole table through
  * `processBatch` in enough micro-batches that the final store is tens of
  * times one batch's size, and record EVERY batch's wall clock against the
  * store rows it probed. If the isin/band partition pruning holds, the
  * curve is flat (fixed Spark overhead dominated); a slope means the probe
  * is scanning the store.
  *
  * Also asserts the pruning itself: the store probe's Parquet scan must
  * carry the bucket predicate as a pushed filter (skipping files and row
  * groups by footer statistics), not only a post-scan Filter.
  *
  * Run: `sbt "runMain graft.StreamingStoreBench [sfDir] [nBatches]
  * [compactAt]"` — writes per-batch rows to stderr, a summary JSON line to
  * stdout, and the full curve to STREAMSTORE_BENCH.json. `compactAt > 0`
  * interleaves a mid-run `compactStore` after that batch (the production
  * maintenance shape: per-batch trees collapse into one batch_id=-1 tree
  * and the growth curve continues over the compacted store).
  */
object StreamingStoreBench {

  private def timeBatches(nBatches: Int, compactAt: Int, every: Boolean,
      compact: () => Unit, listProbe: () => (Double, Int))(
      run: Int => Unit): (Array[Double], Array[Double], Int) = {
    var files = 0
    val rows = (0 until nBatches).map { b =>
      val t0 = System.nanoTime()
      run(b)
      val s = (System.nanoTime() - t0) / 1e9
      // driver-side LISTING cost of the store tree, measured separately
      // each batch: at thousands of partition dirs this is the component
      // that could become the per-batch floor (the probe read re-lists on
      // every plain parquet read — there is no file-status cache for
      // non-catalog paths)
      val (ls, nf) = listProbe()
      files = nf
      System.err.println(
        f"[storebench] batch $b%3d  $s%6.2f s  (listing $ls%5.3f s, $nf%5d files)")
      if (compactAt > 0 && b > 0 &&
          (if (every) b % compactAt == 0 else b == compactAt)) {
        val c0 = System.nanoTime()
        compact()
        System.err.println(
          f"[storebench] compacted after batch $b (${(System.nanoTime() - c0) / 1e9}%.2f s)")
      }
      (s, ls)
    }
    (rows.map(_._1).toArray, rows.map(_._2).toArray, files)
  }

  /** Time a FRESH listing of the store tree (new InMemoryFileIndex each
    * read) + the file count it found — the pure metadata component of a
    * batch's store probe.
    */
  private def listingProbe(spark: SparkSession, paths: Seq[String]): (Double, Int) = {
    val existing = paths.filter(p => new java.io.File(p).isDirectory)
    if (existing.isEmpty) (0.0, 0)
    else {
      val t0 = System.nanoTime()
      val n = existing.map(p => spark.read.parquet(p).inputFiles.length).sum
      ((System.nanoTime() - t0) / 1e9, n)
    }
  }

  /** Mean of the first/last `k` entries — the flatness comparison. */
  private def headTail(xs: Array[Double], k: Int): (Double, Double) =
    (xs.take(k).sum / k, xs.takeRight(k).sum / k)

  /** The probe-shaped store read must prune at the source: its Parquet
    * scan pushes the bucket-column predicate down to the reader.
    */
  private def prunedPlan(spark: SparkSession, storeDir: String,
      bucketCol: String): Boolean = {
    val probe = spark.read.parquet(storeDir)
      .filter(col("batch_id") < Long.MaxValue)
      .filter(col(bucketCol).isin(0L, 1L))
    probe.queryExecution.executedPlan.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec =>
        s.metadata.getOrElse("PushedFilters", "")
    }.exists(_.contains(s"($bucketCol,"))
  }

  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val nBatches = args.lift(1).map(_.toInt).getOrElse(40)
    val compactAt = args.lift(2).map(_.toInt).getOrElse(0)
    // 4th arg "every": compact every `compactAt` batches (the production
    // auto-compaction cadence — keeps the uncompacted-tree count, and with
    // it the per-probe directory-listing cost, BOUNDED) instead of one
    // single-shot compaction (the r9-comparable protocol)
    val every = args.lift(3).contains("every")
    val spark = GraftSession.local("streaming-store-bench")
    spark.sparkContext.setLogLevel("WARN")
    val base = java.nio.file.Files.createTempDirectory("graft_ssb").toString

    // ---- semantic (IVF-bucketed vector) store ----
    val emb = graft.sources.Sources.embeddings(spark, dir)
      .select(col("vec_id").cast("long").as("doc_id"),
        col("embedding").as("emb"))
      .persist()
    val nVec = emb.count()
    val cents = graft.operators.Similarity.trainIvfCentroids(
      emb, "doc_id", "emb", k = 32, iters = 3)
    val (semWalls, semList, semFiles) = timeBatches(nBatches, compactAt, every,
      () => graft.streaming.StreamingSemanticDedup.compactStore(
        spark, s"$base/sem_store", cents.size),
      () => listingProbe(spark, Seq(s"$base/sem_store"))) { b =>
      graft.streaming.StreamingSemanticDedup.processBatch(
        emb.filter(pmod(col("doc_id"), lit(nBatches)) === b), b.toLong,
        cents, s"$base/sem_store", s"$base/sem_flags",
        threshold = 0.99, nprobe = 2)
    }
    val semPruned = prunedPlan(spark, s"$base/sem_store", "bucket")
    emb.unpersist()

    // ---- minhash (band-partitioned signature) store ----
    val docs = graft.sources.Sources.documents(spark, dir)
      .select(col("doc_id").cast("long").as("doc_id"), col("text"))
      .persist()
    val nDoc = docs.count()
    val (mhWalls, mhList, mhFiles) = timeBatches(nBatches, compactAt, every,
      () => graft.streaming.StreamingDedup.compactStore(
        spark, s"$base/mh_store"),
      () => listingProbe(spark,
        Seq(s"$base/mh_store/keys", s"$base/mh_store/docs"))) { b =>
      graft.streaming.StreamingDedup.processBatch(
        docs.filter(pmod(col("doc_id"), lit(nBatches)) === b), b.toLong,
        s"$base/mh_store", s"$base/mh_flags",
        numHashes = 64, bandCount = 16, threshold = 0.5)
    }
    // the store splits keys (postings clustered by bucket) from docs
    // (shingle payloads clustered by dbucket); both probes push their
    // bucket predicate
    val mhPruned = prunedPlan(spark, s"$base/mh_store/keys", "bucket") &&
      prunedPlan(spark, s"$base/mh_store/docs", "dbucket")
    docs.unpersist()

    def fmtArr(xs: Array[Double]) =
      xs.map(x => f"$x%.2f").mkString("[", ",", "]")
    val (semHead, semTail) = headTail(semWalls, 3)
    val (mhHead, mhTail) = headTail(mhWalls, 3)
    val (semListHead, semListTail) = headTail(semList, 3)
    val (mhListHead, mhListTail) = headTail(mhList, 3)
    val full =
      s"""{"metric":"streaming_store_growth","sf":"$dir","batches":$nBatches,"compact_at":$compactAt,"compact_every":$every,""" +
      s""""semantic":{"rows":$nVec,"batch_rows":${nVec / nBatches},""" +
      f""""first3_mean_s":$semHead%.2f,"last3_mean_s":$semTail%.2f,""" +
      s""""growth_ratio":${f"${semTail / semHead}%.2f"},"pruned":$semPruned,""" +
      f""""listing_first3_s":$semListHead%.3f,"listing_last3_s":$semListTail%.3f,""" +
      s""""files_final":$semFiles,""" +
      s""""per_batch_s":${fmtArr(semWalls)},"listing_s":${fmtArr(semList)}},""" +
      s""""minhash":{"rows":$nDoc,"batch_rows":${nDoc / nBatches},""" +
      f""""first3_mean_s":$mhHead%.2f,"last3_mean_s":$mhTail%.2f,""" +
      s""""growth_ratio":${f"${mhTail / mhHead}%.2f"},"pruned":$mhPruned,""" +
      f""""listing_first3_s":$mhListHead%.3f,"listing_last3_s":$mhListTail%.3f,""" +
      s""""files_final":$mhFiles,""" +
      s""""per_batch_s":${fmtArr(mhWalls)},"listing_s":${fmtArr(mhList)}}}"""
    java.nio.file.Files.write(
      java.nio.file.Paths.get("STREAMSTORE_BENCH.json"),
      (full + "\n").getBytes("UTF-8"))
    // stdout stays one compact line (per-batch curves live in the file)
    println(full.replaceAll(""""(per_batch_s|listing_s)":\[[^\]]*\],?""", "")
      .replaceAll(",}", "}"))
    spark.stop()
  }
}
