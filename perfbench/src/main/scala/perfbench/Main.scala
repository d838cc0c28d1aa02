package perfbench

import org.apache.spark.sql.SparkSession

/** The benchmark's JVM entry point (started by `run.py`, which builds it).
  *
  * {{{
  *   --workload build_dedup|serve_read|maintain_mixed  --seed N  --seconds S
  *   --trace 0|1  --work DIR  [--trace-file FILE]  [--size full|tiny]
  *   [--corrupt pairs|point|topk|maint]
  * }}}
  *
  * Prints one JSON line of run details, then, as the last line, the result:
  * `{"correct", "attempted", "failed", "metrics"}` — the end-to-end metrics
  * without tracing, the per-layer metrics with it. Exits 1 when any
  * operation or correctness check failed.
  */
object Main {
  private val t0 = System.nanoTime()
  def log(msg: String): Unit =
    System.err.println(f"[perfbench] ${(System.nanoTime() - t0) / 1e9}%7.2f s  $msg")

  def main(argv: Array[String]): Unit = {
    val args = Args.parse(argv)
    val cores = math.min(4, Runtime.getRuntime.availableProcessors())
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.optimizer.excludedRules",
        "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate")
      .config("spark.sql.warehouse.dir", args.work.resolve("warehouse").toUri.toString)
      .config("spark.local.dir", args.work.resolve("local").toString)
      .withExtensions(new graft.plans.GraftExtensions)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    log("session up")
    val r = new Run(spark, args)
    val outcome = args.workload match {
      case "build_dedup" => Workloads.buildDedup(r)
      case "serve_read" => Workloads.serveRead(r)
      case "maintain_mixed" => Workloads.maintainMixed(r)
    }
    log("workload done")
    // after the workload, so the probe runs on a warm JVM
    val calib = Seq.fill(2)(r.tracer.span("probe.calib")(r.calibrate()))
    r.detail("host_calib_s") = Run.arr(calib)
    r.detail("cores") = r.cores.toString
    r.detail("failed_ops_ratio") = Run.num(r.failed.toDouble / math.max(1L, r.attempted))

    if (args.trace) {
      // end-to-end figures of a traced run are not comparable: keep them
      // as details only
      r.metrics.foreach { case (k, (v, _)) => r.detail(s"traced.$k") = Run.num(v) }
      r.metrics.clear()
      r.tracer.drain()
      Layers.report(r, outcome, calib)
      r.tracer.drain()
      args.traceFile.foreach { f =>
        r.tracer.write(java.nio.file.Paths.get(f))
        r.detail("trace_file") = "\"" + f + "\""
      }
    }

    val finite = r.metrics.values.forall { case (v, _) => !v.isNaN && !v.isInfinite }
    val correct = r.failed == 0 && finite
    if (!finite) System.err.println("[perfbench] a metric is not a finite number")
    println(r.detail.map { case (k, v) => s""""$k":$v""" }
      .mkString("""{"detail":{""", ",", "}}"))
    val metrics = r.metrics.map { case (k, (v, u)) =>
      s""""$k":{"value":${Run.num(v)},"unit":"$u"}""" }.mkString("{", ",", "}")
    println(s"""{"correct":$correct,"attempted":${r.attempted},""" +
      s""""failed":${r.failed},"metrics":$metrics}""")
    System.out.flush()
    log("result printed")
    spark.stop()
    log("session stopped")
    sys.exit(if (correct) 0 else 1)
  }
}
