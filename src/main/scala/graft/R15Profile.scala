package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ExplainMode

/** Round-15 measurement harness (guide §1): times one or more declared
  * queries with a per-Spark-job breakdown so the expensive job inside a
  * multi-job query is attributable, and dumps `explain("formatted")` to
  * plans/r15/<query>_<tag>.txt for the plan-diff deliverable.
  *
  * Usage: sbt "runMain graft.R15Profile <tag> <q1,q2,...> [sfDir]"
  * Timing methodology matches Bench (count() action, min of 2).
  */
object R15Profile {
  def main(args: Array[String]): Unit = {
    val tag = args.headOption.getOrElse("before")
    val names = args.lift(1) match {
      case Some("ALL") => SparkEntry.queries.keys.toSeq.sorted
      case Some(s) => s.split(",").toSeq
      case None => Seq("q_triangles")
    }
    val compact = args.lift(1).contains("ALL")
    val dir = args.lift(2).getOrElse(
      sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    val cpus = GraftSession.cpus()
    val spark = GraftSession.configure(SparkSession.builder()
      .master(s"local[$cpus]"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // job- and stage-level breakdown (epoch-ms spans per job, task-time
    // sums per stage) — the driver-side gap between wall and job spans is
    // planning/optimization/codegen time
    val jobs = new java.util.concurrent.ConcurrentHashMap[Int, (String, Long)]()
    val done = scala.collection.mutable.ArrayBuffer.empty[(Int, String, Double)]
    @volatile var taskTimeMs = 0L
    @volatile var nStages = 0
    @volatile var nTasks = 0
    val stageRows = scala.collection.mutable.ArrayBuffer
      .empty[(Int, Int, Long, String)]
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        val desc = Option(js.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .getOrElse(js.stageInfos.headOption.map(_.name).getOrElse(""))
        jobs.put(js.jobId, (desc, System.nanoTime()))
      }
      override def onJobEnd(je: SparkListenerJobEnd): Unit = {
        Option(jobs.remove(je.jobId)).foreach { case (d, t0) =>
          done.synchronized {
            done += ((je.jobId, d, (System.nanoTime() - t0) / 1e9)): Unit
          }
        }
      }
      override def onStageCompleted(
          sc: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
        nStages += 1
        nTasks += sc.stageInfo.numTasks
        taskTimeMs += sc.stageInfo.taskMetrics.executorRunTime
        stageRows.synchronized {
          stageRows += ((sc.stageInfo.stageId, sc.stageInfo.numTasks,
            sc.stageInfo.taskMetrics.executorRunTime,
            sc.stageInfo.details.linesIterator.take(3).mkString(" | "))): Unit
        }
      }
    })
    // warmup (JIT/codegen/IO), same as Bench
    spark.read.parquet(s"$dir/lineitem.parquet")
      .groupBy("l_returnflag").count().collect()
    // plan dumps land in the round's deliverable dir (r16: plans/r16)
    val plansDir = sys.env.getOrElse("SPARK_GRAFT_PLANS_DIR", "plans/r15")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(plansDir))
    for (name <- names) {
      val fn = SparkEntry.queries(name)
      // pass 1: warm, also the plan snapshot after execution (AQE final)
      val df = fn(spark, dir)
      df.count()
      if (!compact) {
        val plan = df.queryExecution.explainString(ExplainMode.fromString("formatted"))
        java.nio.file.Files.write(
          java.nio.file.Paths.get(s"$plansDir/${name}_$tag.txt"),
          plan.getBytes("UTF-8"))
      }
      // pass 2: timed with job breakdown
      done.synchronized(done.clear())
      stageRows.synchronized(stageRows.clear())
      taskTimeMs = 0L; nStages = 0; nTasks = 0
      val t0 = System.nanoTime()
      val df2 = fn(spark, dir)
      val tBuild = (System.nanoTime() - t0) / 1e9
      df2.count()
      val wall = (System.nanoTime() - t0) / 1e9
      Thread.sleep(300) // let listener drain
      if (compact) {
        println(f"[prof] $name%-34s wall=$wall%7.3f build=$tBuild%7.3f " +
          f"jobs=${done.synchronized(done.size)}%3d stages=$nStages%3d " +
          f"tasks=$nTasks%4d taskTime=${taskTimeMs / 1e3}%8.3f")
      } else {
      println(f"== $name $wall%.3f s (steady-state pass) tag=$tag build=$tBuild%.3f s")
      val snap = done.synchronized(done.toList)
      val attributed = snap.map(_._3).sum
      snap.sortBy(-_._3).take(10).foreach { case (id, d, sec) =>
        println(f"   job $id%3d $sec%7.3f s  ${d.take(90)}")
      }
      println(f"   jobs=${snap.size} jobspan=${attributed}%.3f s " +
        f"stages=$nStages tasks=$nTasks taskTime=${taskTimeMs / 1e3}%.3f s " +
        f"driverGap=${wall - attributed}%.3f s")
      stageRows.synchronized(stageRows.toList)
        .sortBy(-_._3).take(10).foreach { case (sid, nt, rt, det) =>
          println(f"   stage $sid%4d tasks=$nt%3d runTime=${rt / 1e3}%7.3f s  ${det.take(120)}")
        }
      }
    }
    spark.stop()
  }
}
