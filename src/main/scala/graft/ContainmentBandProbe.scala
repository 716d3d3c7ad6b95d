package graft

import org.apache.spark.sql.SparkSession

/** Measurement probe for the banded containment arm (round 14): on each
  * corpus dir, run the EXACT arm ([[graft.operators.Dedup.containmentPairs]])
  * once for ground truth, then the banded arm over a (queryCap, dfCap)
  * grid — wall + output count per cell. Banded output is a subset of the
  * exact output (same threshold, exact verify of a candidate subset), so
  * count ratio IS recall. This grid picks the production defaults and the
  * adaptive dfCap rule recorded in SURVEY §5p.
  *
  * Run: `sbt "runMain graft.ContainmentBandProbe <dir> [dir2 ...]"`.
  * Grid via SPARK_GRAFT_BAND_GRID="8:0,4:0,16:0,8:1024" (dfCap 0 =
  * adaptive); SPARK_GRAFT_SKIP_EXACT=1 skips the ground-truth arm (recall
  * reported as -1) for corpora where the exact arm is the known blowup.
  */
object ContainmentBandProbe {
  def main(args: Array[String]): Unit = {
    val cpus = GraftSession.cpus()
    val spark = GraftSession.configure(SparkSession.builder()
      .master(s"local[$cpus]"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val grid = sys.env.getOrElse("SPARK_GRAFT_BAND_GRID",
      "8:0,4:0,16:0,8:1024,8:4096")
      .split(",").toSeq.filter(_.nonEmpty).map { s =>
        val Array(b, d) = s.split(":"); (b.toInt, d.toLong)
      }
    val skipExact = sys.env.get("SPARK_GRAFT_SKIP_EXACT").contains("1")

    def timed[T](f: => T): (T, Double) = {
      val t0 = System.nanoTime()
      val r = f
      (r, (System.nanoTime() - t0) / 1e9)
    }

    args.foreach { dir =>
      val docs = graft.operators.DataOpsQueries.withHashedShingles(spark, dir)
        .localCheckpoint(true)
      val (nExact, tExact) =
        if (skipExact) (-1L, -1.0)
        else timed(graft.operators.Dedup.containmentPairsExact(
          docs, "doc_id", "sh", num = 4, den = 5, preHashed = true).count())
      System.err.println(f"[bandprobe] $dir exact=$nExact ($tExact%.1f s)")
      val cells = grid.map { case (b, d) =>
        val (n, t) = timed(graft.operators.Dedup.containmentPairsBanded(
          docs, "doc_id", "sh", num = 4, den = 5, preHashed = true,
          queryCap = b, dfCap = d).count())
        val recall = if (nExact > 0) n.toDouble / nExact else -1.0
        System.err.println(
          f"[bandprobe] $dir B=$b D=$d pairs=$n ($t%.1f s) recall=$recall%.4f")
        f""""b${b}_d$d":{"pairs":$n,"secs":$t%.1f,"recall":$recall%.4f}"""
      } ++ sys.env.get("SPARK_GRAFT_BAND_LSH").toSeq
        .flatMap(_.split(",").toSeq.filter(_.nonEmpty)).map { cell =>
        // each cell is `bands` (64 hashes) or `numHashes:bands` — the
        // latter sweeps the rows-per-band ladder the adaptive banding
        // rule (autoContainmentBanding) picks from, e.g. "64:32,96:32"
        // = r2 vs r3 at the same band count
        val (numHashes, bands) = cell.split(":") match {
          case Array(b) => (64, b.toInt)
          case Array(h, b) => (h.toInt, b.toInt)
        }
        val (n, t) = timed(graft.operators.Dedup.containmentPairsLsh(
          docs, "doc_id", "sh", num = 4, den = 5, preHashed = true,
          numHashes = numHashes, bands = bands).count())
        val recall = if (nExact > 0) n.toDouble / nExact else -1.0
        System.err.println(
          f"[bandprobe] $dir LSH h=$numHashes bands=$bands pairs=$n " +
          f"($t%.1f s) recall=$recall%.4f")
        f""""lsh_h${numHashes}_b$bands":{"pairs":$n,"secs":$t%.1f,"recall":$recall%.4f}"""
      }
      // cells can be empty (SPARK_GRAFT_BAND_GRID="" with no
      // SPARK_GRAFT_BAND_LSH) — don't emit a trailing comma
      val cellsPart =
        if (cells.isEmpty) "" else "," + cells.mkString(",")
      println(s"""{"metric":"containment_band_grid","dir":"$dir",""" +
        f""""n_exact":$nExact,"exact_secs":$tExact%.1f$cellsPart}""")
    }
    spark.stop()
  }
}
