package graft

import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import graft.sources.Sources

/** The canonical tables' declared schemas are the ones Spark infers from
  * the files, and opening every table with them starts no Spark job.
  */
class SourcesSchemaSpec extends AnyFunSuite {
  lazy val spark: SparkSession = GraftSession.configure(
    SparkSession.builder().master("local[2]")).getOrCreate()

  // the scale-factor directories TESTDATA.md lists: sf0.001 and sf0.01
  // must be present, larger ones are checked when they are
  private val dirs = {
    val listed = "`([^`]+/sf[0-9.]+)/`".r
      .findAllMatchIn(java.nio.file.Files.readString(java.nio.file.Paths.get("TESTDATA.md")))
      .map(_.group(1)).toSeq.distinct
    assert(Seq("sf0.001", "sf0.01").forall(sf => listed.exists(_.endsWith("/" + sf))), listed)
    listed.filter(d => d.endsWith("/sf0.001") || d.endsWith("/sf0.01") ||
      new java.io.File(d).isDirectory)
  }

  test("every declared table schema equals the inferred one at every scale") {
    for (dir <- dirs; t <- Sources.tableNames) {
      val inferred = spark.read.parquet(s"$dir/$t.parquet").schema
      assert(Sources.schemas(t) == inferred, s"$dir/$t")
      assert(Sources.table(spark, dir, t).schema == inferred, s"$dir/$t")
    }
    assert(Sources.schemas.keySet == Sources.tableNames.toSet)
  }

  test("a missing declared column reads as nulls; a different column type fails at read") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_sources").toString
    Seq(0, 1).toDF("r_regionkey").write.parquet(s"$dir/missing/region.parquet")
    assert(Sources.region(spark, s"$dir/missing").collect().map(_.toSeq).toSet ==
      Set(Seq(0, null), Seq(1, null)))
    Seq("0", "1").toDF("r_regionkey").write.parquet(s"$dir/typed/region.parquet")
    intercept[org.apache.spark.SparkException](
      Sources.region(spark, s"$dir/typed").collect())
  }

  test("opening all ten tables and reading their schemas starts no Spark job") {
    val sc = spark.sparkContext
    val groups = new ConcurrentLinkedQueue[String]
    val markerSeen = new CountDownLatch(1)
    // listener events arrive in order, so once the marker job's start is
    // seen every job started before it has been counted
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val g = Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull
        groups.add(String.valueOf(g))
        if (g == "marker") markerSeen.countDown()
      }
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup("open-tables", "open the canonical tables")
      Sources.tableNames.foreach(t => Sources.table(spark, dirs.last, t).schema)
      sc.setJobGroup("marker", "marker")
      spark.range(1).count()
      sc.clearJobGroup()
      assert(markerSeen.await(30, TimeUnit.SECONDS), "marker job never seen")
      assert(groups.asScala.count(_ == "open-tables") == 0, groups.asScala.toSeq)
    } finally sc.removeSparkListener(listener)
  }
}
