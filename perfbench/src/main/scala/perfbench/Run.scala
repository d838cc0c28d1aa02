package perfbench

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

final case class Args(
    workload: String,
    seed: Long,
    seconds: Double,
    trace: Boolean,
    tiny: Boolean,
    corrupt: Option[String],
    work: java.nio.file.Path,
    traceFile: Option[String])

object Args {
  val Workloads = Seq("build_dedup", "serve_read", "maintain_mixed")
  val Corruptions = Seq("pairs", "point", "topk", "maint")

  def parse(a: Array[String]): Args = {
    require(a.length % 2 == 0, "arguments come as --name value pairs")
    val m = a.grouped(2).map { case Array(k, v) =>
      require(k.startsWith("--"), s"unexpected argument $k"); k.drop(2) -> v
    }.toMap
    val known = Set("workload", "seed", "seconds", "trace", "size", "corrupt", "work",
      "trace-file")
    require(m.keySet.subsetOf(known), s"unknown options ${m.keySet -- known}")
    val w = m.getOrElse("workload", sys.error("--workload is required"))
    require(Workloads.contains(w), s"unknown workload $w (one of ${Workloads.mkString(", ")})")
    val corrupt = m.get("corrupt")
    corrupt.foreach(c => require(Corruptions.contains(c), s"unknown corruption $c"))
    val size = m.getOrElse("size", "full")
    require(size == "full" || size == "tiny", s"--size is full or tiny, not $size")
    Args(w, m.getOrElse("seed", "1").toLong, m.getOrElse("seconds", "10").toDouble,
      m.getOrElse("trace", "0") == "1", size == "tiny", corrupt,
      java.nio.file.Paths.get(m.getOrElse("work", sys.error("--work is required"))),
      m.get("trace-file"))
  }
}

/** State shared by one benchmark run: the session, the tracer, the operation
  * and check tallies, and everything reported at the end.
  */
final class Run(val spark: SparkSession, val args: Args) {
  val sc = spark.sparkContext
  val cores: Int = sc.defaultParallelism
  val tracer = new Tracer(sc, args.trace)
  val cfg = graft.MinHashConfig()
  val threshold = 0.5
  val topK = 10

  var attempted = 0L
  var failed = 0L
  /** End-to-end metrics (untraced run) or per-layer metrics (traced run). */
  val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
  /** Everything else worth keeping from the run, printed as one JSON line. */
  val detail = mutable.LinkedHashMap.empty[String, String]

  /** One operation of the workload. A failure is counted, not thrown. */
  def op[A](name: String, request: Long = -1L)(body: => A): Option[A] = {
    attempted += 1
    try Some(tracer.span(name, request)(body))
    catch { case NonFatal(e) =>
      failed += 1
      System.err.println(s"[perfbench] operation $name failed: $e")
      None
    }
  }

  /** One correctness check. A failing check counts as a failed operation. */
  def check(name: String, ok: Boolean, why: => String): Unit = {
    attempted += 1
    if (!ok) {
      failed += 1
      System.err.println(s"[perfbench] check $name FAILED: $why")
    }
    detail(s"check.$name") = if (ok) "\"pass\"" else "\"fail\""
  }

  def corrupting(c: String): Boolean = args.corrupt.contains(c)

  private var peakStorage = 0L
  /** Samples the storage memory Spark holds for cached and checkpointed
    * data; the run reports the largest sample.
    */
  def sampleStorage(): Unit =
    peakStorage = math.max(peakStorage, sc.getRDDStorageInfo.map(_.memSize).sum)
  def peakStorageMb: Double = peakStorage / 1e6

  def docsFrame(docs: Seq[Doc]): DataFrame = {
    val s = spark
    import s.implicits._
    val df = docs.map(d => (d.id, d.text)).toDF("id", "text").persist()
    df.count()
    df
  }

  def dropTable(t: String): Unit = graft.sources.IndexStore.reset(spark, t)

  def tableBytes(t: String): Long = {
    val root = graft.sources.IndexStore.warehouseLocation(spark, t).toPath
    val files = java.nio.file.Files.walk(root)
    try files.filter(p => java.nio.file.Files.isRegularFile(p))
      .mapToLong(p => java.nio.file.Files.size(p)).sum()
    finally files.close()
  }

  def dataFiles(t: String): Long = {
    val root = graft.sources.IndexStore.warehouseLocation(spark, t).toPath
    val files = java.nio.file.Files.walk(root)
    try files.filter(p => p.getFileName.toString.endsWith(".parquet") &&
        !root.relativize(p).toString.startsWith("_")).count()
    finally files.close()
  }

  /** Host-churn calibration: a fixed CPU-bound Spark job (hash aggregate over
    * a generated range, no I/O). Its time drifts only with the host.
    */
  def calibrate(): Double = {
    val rows = if (args.tiny) 10000000L else 30000000L
    val (_, s) = Run.timed {
      spark.range(0L, rows, 1L, cores)
        .select(sum(pmod(xxhash64(col("id")), lit(1000000L)))).collect()
    }
    s
  }
}

object Run {
  def timed[A](body: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  private val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  /** CPU seconds this JVM has run on, all threads together. Time the
    * hypervisor steals from the guest and time other processes run is not
    * in it (the kernel accounts steal apart from task time).
    */
  def cpuSeconds(): Double = os.getProcessCpuTime / 1e9

  /** The body's result, wall seconds and CPU seconds. */
  def costed[A](body: => A): (A, Double, Double) = {
    val c0 = cpuSeconds()
    val (r, s) = timed(body)
    (r, s, cpuSeconds() - c0)
  }

  /** Steal ticks of the whole guest so far (the 8th field of /proc/stat's
    * cpu line), or -1 where the file is missing.
    */
  def stealTicks(): Long =
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      try src.getLines().next().trim.split("\\s+").lift(8).map(_.toLong).getOrElse(-1L)
      finally src.close()
    } catch { case NonFatal(_) => -1L }

  def median(xs: Seq[Double]): Double = percentile(xs, 0.5)

  /** Nearest-rank percentile. */
  def percentile(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      s(math.min(s.size - 1, math.max(0, math.ceil(p * s.size).toInt - 1)))
    }

  def num(x: Double): String =
    if (x.isNaN || x.isInfinite) "null" else java.lang.Double.toString(x)

  def arr(xs: Seq[Double]): String = xs.map(num).mkString("[", ",", "]")
}
