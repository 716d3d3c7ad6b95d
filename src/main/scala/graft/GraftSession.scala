package graft

import org.apache.spark.sql.SparkSession

/** Session factory with the engine's standard tuning.
  *
  * Local mode is a stand-in for a real cluster: `spark.sql.shuffle.partitions`
  * tracks core count (not the 200 default), AQE is on everywhere so plans
  * re-partition/skew-split at runtime, and the session time zone is pinned to
  * UTC for oracle parity.
  *
  * The `file:` scheme resolves to [[ForkFreeLocalFileSystem]] (the
  * `FileSystem` API) and [[ForkFreeLocalFs]] (`FileContext`, which Spark's
  * checkpoint file manager uses). Without the native Hadoop library, stock
  * `RawLocalFileSystem` forks `chmod` for every file and directory it
  * creates and `readlink` for every `FileContext` rename: on a 4-core box
  * a 25 s `stream_windows` benchmark run forked 592 `chmod` and 2272
  * `readlink` (the count grows with the number of micro-batches), a
  * `stream_dedup` run 114 `chmod`, and the state-store commit of each
  * micro-batch waited on them. These classes set the same permission bits
  * and read the same link status in the JVM; `.crc` sidecars, Spark's
  * checkpoint checksums and rename semantics are unchanged. Hadoop caches
  * `FileSystem` instances JVM-wide, so where a `file:` FileSystem was
  * created in the JVM before the session (under a conf without these
  * settings), `FileSystem.get` keeps returning that one; `FileContext` is
  * not cached and always follows the session's conf.
  *
  * Every `SPARK_GRAFT_*` engine setting is parsed and checked here, when
  * the session is built: a bad value fails at once with a message that
  * names the variable, not at first use under a Spark key. `configure`
  * reads them from its `env` map (the process environment by default).
  */
object GraftSession {
  /** `name` from `env` as a positive Int, `default` when unset; any
    * other value fails with a message that names the variable.
    */
  private def positiveInt(env: Map[String, String], name: String,
      default: => Int): Int =
    env.get(name).fold(default) { v =>
      v.trim.toIntOption.filter(_ > 0).getOrElse(throw
        new IllegalArgumentException(s"$name must be a positive integer, got '$v'"))
    }

  /** The session's core budget: SPARK_GRAFT_CPUS, else the JVM's processors. */
  def cpus(env: Map[String, String] = sys.env): Int =
    positiveInt(env, "SPARK_GRAFT_CPUS", Runtime.getRuntime.availableProcessors)

  def configure(b: SparkSession.Builder,
      env: Map[String, String] = sys.env): SparkSession.Builder = {
    val n = cpus(env)
    val limitInitial = positiveInt(env, "SPARK_GRAFT_LIMIT_INITIAL", n)
    val ohaFallback = positiveInt(env, "SPARK_GRAFT_OHA_FALLBACK", 4 << 20)
    val listThreshold = positiveInt(env, "SPARK_GRAFT_LIST_THRESHOLD", 4096)
    val codegenCache = positiveInt(env, "SPARK_GRAFT_CODEGEN_CACHE", 4096)
    b.config("spark.sql.shuffle.partitions", n.toString)
    .config("spark.sql.adaptive.enabled", "true")
    .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
    .config("spark.sql.adaptive.skewJoin.enabled", "true")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.autoBroadcastJoinThreshold", (64L << 20).toString)
    // ObjectHashAggregate (TypedImperativeAggregate: topk/topkd, sketches,
    // collect_list) falls back to SORT-based aggregation after only 128
    // distinct groups per task by default — which silently reintroduces a
    // full sort of the pre-aggregation rows on exactly the stages the
    // bounded-buffer aggregates exist to keep sort-free (measured: the
    // k-NN join's 1.3×10⁸-pair candidate stage). Our aggregate buffers
    // are small and bounded (k-entry heaps, fixed-width sketches), so a
    // multi-million-group hash map is far cheaper than the sort. Caveat:
    // collect_list/collect_set also plan as ObjectHashAggregate and are
    // NOT bounded — a job whose collect groups are both huge-cardinality
    // AND long-listed should dial this back via SPARK_GRAFT_OHA_FALLBACK
    // (sort-based spills; the hash map holds every in-flight buffer).
    // A/B at sf1 showed no regression for this repo's collect sites.
    .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold",
      ohaFallback.toString)
    // partition discovery goes DISTRIBUTED past 32 paths by default — for
    // the streaming stores (one batch_id=N dir per uncompacted batch)
    // that turns every per-batch probe read into an extra listing JOB
    // whose task overhead grows with uncompacted-tree count. Driver-side
    // listing of a few thousand dirs is microseconds on HDFS-like
    // metadata; raise the threshold so listing jobs only appear at
    // genuinely massive path counts.
    .config("spark.sql.sources.parallelPartitionDiscovery.threshold",
      listThreshold.toString)
    // Generated-code cache (r16, guide §1.2 step 3 — config only after
    // the algorithms): janino compilation is pure DRIVER-side latency
    // (~10-60 ms per fragment) and the default 100-entry LRU thrashes in
    // any session that executes more than a handful of distinct plans —
    // this 170-query catalog generates ~1.5k fragments, so every repeat
    // recompiles nearly everything; a production cluster session with
    // the same shape (Thrift server, scheduled ETL DAG, notebook) pays
    // identically, and the cache costs only driver memory (compiled
    // classes, ~tens of KB each — ~200 MB worst case at 4096). Nothing
    // about task execution changes, so this is not a local[32]-only
    // tweak. Static conf: must be set before the first session.
    .config("spark.sql.codegen.cache.maxEntries",
      codegenCache.toString)
    // executeTake first-wave size (r16): every size-gate probe in the
    // engine is a `limit(gate+1).collect()` whose expected outcome is
    // either "the whole (small) result" or a fast overshoot — the
    // default first wave of 1 partition forces a 1 → 4 → 16 → … job-wave
    // ramp (spark.sql.limit.scaleUpFactor), each wave a sequential
    // driver round-trip, on EVERY probe at ANY cluster size. Size the
    // first wave to the session's parallelism instead: wave-1 cost is
    // bounded at one task per core, and a gate-sized result arrives in
    // one wave. Tracks core count, not a local constant.
    .config("spark.sql.limit.initialNumPartitions", limitInitial.toString)
    .config("spark.ui.enabled", "false")
    // both Hadoop APIs: checkpoints go through FileContext, data files
    // through FileSystem (see the object's scaladoc)
    .config("spark.hadoop.fs.file.impl", classOf[ForkFreeLocalFileSystem].getName)
    .config("spark.hadoop.fs.AbstractFileSystem.file.impl",
      classOf[ForkFreeLocalFs].getName)
  }

  def local(appName: String = "graft"): SparkSession = {
    val s = configure(
      SparkSession.builder().appName(appName).master(s"local[${cpus()}]"))
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
