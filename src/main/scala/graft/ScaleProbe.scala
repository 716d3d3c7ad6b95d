package graft

import org.apache.spark.sql.SparkSession

/** Scale-probe diagnostics: prints the data-distribution facts behind the
  * sf1/sf0.1 ratio table (SURVEY §5i) so superlinear entries are
  * explained with numbers, not guesses — co-purchase edge count vs
  * [[graft.operators.Graph.EdgeGate]], and the edit-join true-pair count
  * (ScaleUp's half-splice replicas share the original's 48-char prefix,
  * so near-dup PAIRS grow quadratically in the replica factor while rows
  * grow linearly).
  *
  *   runMain graft.ScaleProbe <sfDir> [sfDir2 ...]
  */
object ScaleProbe {
  def main(args: Array[String]): Unit = {
    val cpus = GraftSession.cpus()
    val spark = GraftSession.configure(SparkSession.builder()
      .master(s"local[$cpus]"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._
    import org.apache.spark.sql.functions._

    args.foreach { dir =>
      graft.plans.PairCombos.register(spark)
      val edges = graft.sources.Sources.lineitem(spark, dir)
        .groupBy($"l_orderkey")
        .agg(sort_array(collect_set($"l_partkey")).as("ps"))
        .select(explode(graft.plans.PairCombos.pairs($"ps")).as("pr"))
        .select($"pr.a".as("src"), $"pr.b".as("dst"))
        .distinct().count()
      val editPairs = graft.operators.EditDist.qEditJoin(spark, dir).count()
      val knnRows =
        graft.sources.Sources.embeddings(spark, dir).count()
      println(s"SCALEPROBE dir=$dir copurchase_edges=$edges " +
        s"(EdgeGate=${graft.operators.Graph.EdgeGate}) " +
        s"edit_join_pairs=$editPairs embeddings_rows=$knnRows")
    }
    spark.stop()
  }
}
