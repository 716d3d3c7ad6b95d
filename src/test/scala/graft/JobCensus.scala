package graft

import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** Job census for job-budget specs. */
object JobCensus {

  /** The job description of every Spark job started while `body` runs,
    * on any thread, whatever its job group. The listener counts the
    * jobs between a start marker run before `body` and an end marker run
    * after it; listener events arrive in order, so once the end marker is
    * seen, every job of `body` has been counted. Specs run one at a time,
    * so no other job falls between the markers. Also checks that `body`
    * leaves the caller's job description in place.
    */
  def jobsOf(spark: SparkSession)(body: => Unit): Seq[String] = {
    val sc = spark.sparkContext
    val group = s"census-${System.nanoTime}"
    val jobs = new ConcurrentLinkedQueue[String]
    val endSeen = new CountDownLatch(1)
    @volatile var counting = false
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val props = Option(e.properties)
        val g = props.map(_.getProperty("spark.jobGroup.id")).orNull
        if (g == s"$group-start") counting = true
        else if (g == s"$group-end") { counting = false; endSeen.countDown() }
        else if (counting)
          jobs.add(String.valueOf(props.map(_.getProperty("spark.job.description")).orNull))
      }
    }
    def marker(tag: String): Unit = {
      sc.setJobGroup(s"$group-$tag", "marker")
      spark.range(1).count()
    }
    sc.addSparkListener(listener)
    try {
      marker("start")
      sc.setJobGroup(group, "job census")
      try {
        body
        assert(sc.getLocalProperty("spark.job.description") == "job census")
      } finally {
        marker("end")
        sc.clearJobGroup()
      }
      assert(endSeen.await(30, TimeUnit.SECONDS), "end marker job never seen")
      jobs.asScala.toSeq
    } finally sc.removeSparkListener(listener)
  }
}
