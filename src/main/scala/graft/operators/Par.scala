package graft.operators

import scala.concurrent.{Await, Future}
import scala.concurrent.duration.Duration
import scala.concurrent.ExecutionContext.Implicits.global
import org.apache.spark.SparkContext
import org.apache.spark.sql.SparkSession

/** Driver-side concurrency: the one place the engine runs its own work on
  * the global pool. Both helpers await everything they started before
  * they return or rethrow, so no sibling outlives the call into the
  * caller's cleanup (an unpersist, or a read of the arrays it writes).
  */
private[graft] object Par {

  /** Run `fb` on the pool and `fa` on the caller's thread. Used for eval
    * arms, for materialisation jobs with no mutual dependency, and for the
    * streaming stores' writes, so the second job chain is not serialized
    * behind the first's stage tails.
    *
    * The arms' plans compile concurrently, which is safe only while no
    * compile races a cache-registry mutation (see [[Dedup.planLock]]). So
    * an arm that persists, unpersists or checkpoints must route those and
    * every compile through [[Dedup.planLock]]'s helpers. Arms that mutate
    * nothing may compile freely: the streaming stores' arms only write
    * files and only read caches that were filled before the fork, and the
    * caller releases those caches after this returns.
    *
    * `fb`'s jobs carry the caller's job group and description, so
    * cancelling the group stops both arms. If `fa` fails, `fb` is still
    * awaited, and `fa`'s failure is the one rethrown.
    */
  def both[A, B](fa: => A, fb: => B): (A, B) = {
    val job = jobProps()
    val f = Future(withJobProps(job)(fb))
    val a =
      try fa
      catch { case t: Throwable =>
        try Await.ready(f, Duration.Inf) catch { case _: Throwable => () }
        throw t
      }
    (a, Await.result(f, Duration.Inf))
  }

  /** Spark keeps a job's group, description and interrupt-on-cancel flag
    * in thread-local properties, which a pool thread does not inherit
    * (or inherits stale, from whichever thread created it).
    */
  private val JobKeys = Seq("spark.jobGroup.id", "spark.job.description",
    "spark.job.interruptOnCancel")

  private def jobProps(): Option[(SparkContext, Seq[(String, String)])] =
    SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession)
      .map(_.sparkContext)
      .map(sc => sc -> JobKeys.map(k => k -> sc.getLocalProperty(k)))

  /** Run `body` with the caller's job properties on this thread, then
    * restore the thread's own.
    */
  private def withJobProps[B](job: Option[(SparkContext, Seq[(String, String)])])(
      body: => B): B = job match {
    case None => body
    case Some((sc, props)) =>
      val own = props.map { case (k, _) => k -> sc.getLocalProperty(k) }
      props.foreach { case (k, v) => sc.setLocalProperty(k, v) }
      try body
      finally own.foreach { case (k, v) => sc.setLocalProperty(k, v) }
  }

  /** Split [0, n) into chunks and run `f(start, end)` for each on the
    * driver's cores: 4 chunks per core for cheap load balance, the core
    * count being the session's budget (SPARK_GRAFT_CPUS) capped by the
    * JVM's processors. Callers' per-chunk work is a pure partial result
    * or an exclusive write, so the output equals the sequential loop's.
    * Every chunk is awaited before the first failure (in chunk order) is
    * rethrown.
    */
  def chunks(n: Int)(f: (Int, Int) => Unit): Unit = {
    val cores = math.min(graft.GraftSession.cpus(),
      Runtime.getRuntime.availableProcessors()).max(1)
    val nChunks = math.min(cores * 4, n).max(1)
    if (nChunks <= 1) { f(0, n); return }
    val step = (n + nChunks - 1) / nChunks
    val fs = (0 until nChunks).map { c =>
      val s = c * step; val e = math.min(n, s + step)
      Future(if (s < e) f(s, e))
    }
    fs.foreach(Await.ready(_, Duration.Inf))
    fs.foreach(_.value.get.get)
  }
}
