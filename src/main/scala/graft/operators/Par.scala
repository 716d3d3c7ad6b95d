package graft.operators

import scala.concurrent.{Await, Future}
import scala.concurrent.duration.Duration
import scala.concurrent.ExecutionContext.Implicits.global

/** Driver-side concurrency: the one place the engine runs its own work on
  * the global pool. Both helpers await everything they started before
  * they return or rethrow, so no sibling outlives the call into the
  * caller's cleanup (an unpersist, or a read of the arrays it writes).
  */
private[graft] object Par {

  /** Run `fb` on the pool and `fa` on the caller's thread. Used for eval
    * arms and for materialisation jobs with no mutual dependency, so the
    * second job chain is not serialized behind the first's stage tails.
    * Spark work in either must route every compile, persist, unpersist
    * and checkpoint through [[Dedup.planLock]]'s helpers. If `fa` fails,
    * `fb` is still awaited, and `fa`'s failure is the one rethrown.
    */
  def both[A, B](fa: => A, fb: => B): (A, B) = {
    val f = Future(fb)
    val a =
      try fa
      catch { case t: Throwable =>
        try Await.ready(f, Duration.Inf) catch { case _: Throwable => () }
        throw t
      }
    (a, Await.result(f, Duration.Inf))
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
