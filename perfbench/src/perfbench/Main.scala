package perfbench

import java.io.PrintWriter

/** Benchmark entry point. Modes:
  *
  *  - `run`: one workload, one seed; writes the result JSON to `--out`.
  *  - `certify`: runs the listed catalog queries and dumps their results
  *    for the DuckDB comparison (see `perfbench/certify.py`).
  */
object Main {
  def main(argv: Array[String]): Unit = {
    val a = Args.parse(argv)
    val jvmStartS = (System.currentTimeMillis() -
      java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime) / 1000.0
    val load0 = Harness.loadavg()
    a.mode match {
      case "certify" =>
        Catalog.certify(a)
      case _ =>
        val o = a.workload match {
          case "catalog" => Catalog.run(a)
          case "stream_windows" => Windows.run(a)
          case "stream_dedup" => DedupStore.run(a)
          case w => throw new IllegalArgumentException(s"unknown workload $w")
        }
        val context = Seq(
          "nproc" -> Runtime.getRuntime.availableProcessors.toString,
          "cores" -> a.cores.toString,
          "loadavg_start" -> load0,
          "loadavg_end" -> Harness.loadavg(),
          "driver_heap_mb" -> (Runtime.getRuntime.maxMemory / (1 << 20)).toString,
          "jvm_start_to_main_s" -> f"$jvmStartS%.3f") ++
          sys.env.toSeq.filter(_._1.startsWith("SPARK_GRAFT_")).sorted
        val metrics = if (a.trace) o.perLayer else o.endToEnd
        val w = new PrintWriter(a.out)
        try w.println(
          s"""{"attempted": ${o.attempted}, "failed": ${o.failed}, """ +
            s""""metrics": ${metrics.map(m =>
              s"""${Json.str(m.name)}: {"value": ${num(m.value)}, "unit": ${Json.str(m.unit)}}""")
              .mkString("{", ", ", "}")}, """ +
            s""""context": ${Json.obj(context)}, """ +
            s""""notes": ${o.notes.map(Json.str).mkString("[", ", ", "]")}}""")
        finally w.close()
    }
    // Spark leaves non-daemon threads behind; end the process explicitly
    System.exit(0)
  }

  private def num(x: Double): String =
    if (x.isNaN || x.isInfinite) "0" else java.lang.Double.toString(x)
}
