package graft

import org.apache.spark.sql.SparkSession

/** Scratch: exact mirror of the failing Verify pair. */
object R15Race3 {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val cpus = GraftSession.cpus()
    val spark = GraftSession.configure(SparkSession.builder()
      .master(s"local[$cpus]"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    for (i <- 1 to 4) {
      SparkEntry.queries("q_dedup_containment")(spark, dir)
        .coalesce(1).write.mode("overwrite").parquet("/tmp/r15race3_front")
      SparkEntry.queries("q_containment_lsh_eval_sampled")(spark, dir)
        .coalesce(1).write.mode("overwrite").parquet("/tmp/r15race3_eval")
      val row = spark.read.parquet("/tmp/r15race3_eval").collect().toSeq
      println(s"[race3] run $i eval row: $row")
    }
    spark.stop()
  }
}
