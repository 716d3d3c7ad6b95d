package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Candidate-mass decomposition for the embedding LSH family (round-14
  * verdict item 5: q_dedup_embedding fresh-mode wall jumped 1.8 → 14.3 s
  * from 20× to 40× while replica mode stayed flat — is coincidental
  * band-bucket collision mass outrunning the rows ladder on PERMUTED
  * embeddings?). For each corpus dir and each rows value around the
  * auto-ladder's pick, print the distinct candidate-pair count, the
  * in-bucket pair mass Σ c·(c−1)/2, and the top bucket occupancies —
  * the quadratic term lives in the occupancy tail, so this table names
  * the cause directly.
  *
  * Run: `sbt "runMain graft.EmbeddingBandProbe <dir> [dir2 ...]"`;
  * rows grid via SPARK_GRAFT_EMB_ROWS="12,13,14,16" (default: auto pick
  * −1, auto, +1, +3).
  */
object EmbeddingBandProbe {
  def main(args: Array[String]): Unit = {
    val cpus = GraftSession.cpus()
    val spark = GraftSession.configure(SparkSession.builder()
      .master(s"local[$cpus]"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._
    import graft.operators.Dedup

    args.foreach { dir =>
      val emb = graft.sources.Sources.embeddings(spark, dir)
        .select($"vec_id", $"embedding", $"label")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val n = emb.count()
      val (autoBands, autoRows) = Dedup.autoBanding(n)
      val rowsGrid = sys.env.get("SPARK_GRAFT_EMB_ROWS")
        .map(_.split(",").toSeq.map(_.toInt))
        .getOrElse(Seq(autoRows - 1, autoRows, autoRows + 1, autoRows + 3))
        .filter(r => Dedup.bandsForRows.contains(r) &&
          Dedup.bandsForRows(r) * r <= Dedup.hyperplanes.length)
      System.err.println(s"[embprobe] $dir n=$n auto=($autoBands,$autoRows)")
      val cells = rowsGrid.map { rows =>
        val bands = Dedup.bandsForRows(rows)
        graft.plans.SignProjKeys.register(spark,
          Dedup.hyperplanes.take(bands * rows), rows)
        val banded = emb.select($"vec_id", $"label", posexplode(
            graft.plans.SignProjKeys.signProjKeys($"embedding")))
          .toDF("vec_id", "label", "band", "bk")
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val t0 = System.nanoTime()
        val occ = banded.groupBy($"band", $"bk", $"label")
          .agg(count(lit(1)).as("c"))
        // keep the pair sums integral (long): `/ 2` would promote to
        // double and the row accessors below expect longs
        val stats = occ.agg(
          (sum($"c" * ($"c" - 1)) / 2).cast("long").as("bucket_pairs"),
          max($"c").as("max_occ"),
          (sum(when($"c" > 1024, $"c" * ($"c" - 1)).otherwise(lit(0L))) / 2)
            .cast("long").as("giant_pairs"))
          .head
        val other = banded.toDF("vec_id_b", "label", "band", "bk")
        val nCand = banded.join(other, Seq("band", "bk", "label"))
          .filter($"vec_id" < $"vec_id_b")
          .select($"vec_id", $"vec_id_b").distinct().count()
        val secs = (System.nanoTime() - t0) / 1e9
        banded.unpersist()
        val bp = if (stats.isNullAt(0)) 0L else stats.getLong(0)
        // max($"c") over an EMPTY occupancy aggregation is null too —
        // guard like the sums or a zero-embedding corpus dir NPEs here
        val mo = if (stats.isNullAt(1)) 0L else stats.getLong(1)
        val gp = if (stats.isNullAt(2)) 0L else stats.getLong(2)
        System.err.println(f"[embprobe] $dir rows=$rows bands=$bands " +
          f"bucket_pairs=$bp maxocc=$mo giant_pairs=$gp " +
          f"cand=$nCand ($secs%.1f s)")
        f""""r$rows":{"bands":$bands,"bucket_pairs":$bp,""" +
          f""""max_occ":$mo,"giant_pairs":$gp,""" +
          f""""candidates":$nCand,"secs":$secs%.1f}"""
      }
      // cells can legitimately be empty (every SPARK_GRAFT_EMB_ROWS entry
      // filtered out of bandsForRows) — a bare trailing comma would make
      // the metric line invalid JSON
      val cellsPart =
        if (cells.isEmpty) "" else "," + cells.mkString(",")
      println(s"""{"metric":"embedding_band_grid","dir":"$dir","n":$n,""" +
        s""""auto_rows":$autoRows$cellsPart}""")
      emb.unpersist()
      // restore the session-global registration (see embeddingLshPairs)
      graft.plans.SignProjKeys.register(spark, Dedup.hyperplanes.take(64), 8)
    }
    spark.stop()
  }
}
