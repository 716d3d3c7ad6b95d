package graft.operators

import org.apache.spark.sql.{DataFrame, Row}

/** The engine's one size gate: decide between a driver-local core and its
  * distributed fallback by how many rows an input has, in the same job
  * that fetches the rows the local core needs.
  *
  * The probe is `limit(n + 1).collect()`. When the input has at most `n`
  * rows, the result IS the whole input; past the gate, `CollectLimit`'s
  * incremental partition execution stops after about `n + 1` rows, so the
  * probe stays cheap on a huge input. Callers probe BEFORE they persist
  * anything: only the fallback reads its input again, so only the
  * fallback persists it, and the local path leaves no cache behind.
  *
  * Each probe runs under the job description `gate <site>: probe <= n
  * rows` and logs one line naming the rows it saw and the path taken.
  */
private[graft] object Gate {

  /** All rows of `df` when it has at most `n` rows and `fits` accepts
    * them, else None (the caller runs its distributed fallback). `n` must
    * lie in [0, Int.MaxValue - 1]: the probe fetches `n + 1` rows, and a
    * wider gate would overflow `limit`'s Int.
    */
  def collectWithin(df: DataFrame, n: Long, site: String,
      fits: Array[Row] => Boolean = _ => true): Option[Array[Row]] = {
    require(n >= 0L && n < Int.MaxValue,
      s"gate $site: n=$n is outside [0, ${Int.MaxValue - 1}]")
    val rows = graft.streaming.StoreMaint.phase(df.sparkSession,
      s"gate $site: probe <= $n rows") {
      df.limit(n.toInt + 1).collect()
    }
    val local = rows.length <= n && fits(rows)
    System.err.println(s"[graft] gate $site: rows=${rows.length} gate=$n -> " +
      (if (local) "local" else "distributed"))
    if (local) Some(rows) else None
  }

  /** The driver-heap rule for a local core over collected rows: the
    * collect holds boxed rows and the core a primitive copy, so four times
    * the raw estimate (`rows` × `bytesPerRow`) must fit in a quarter of
    * `heapBytes`.
    */
  def fitsHeap(rows: Long, bytesPerRow: Long,
      heapBytes: Long = Runtime.getRuntime.maxMemory): Boolean =
    rows * bytesPerRow * 4L <= heapBytes / 4L
}
