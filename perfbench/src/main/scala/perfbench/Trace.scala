package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Listener counts of one span (jobs attributed by Spark job group). */
final class Counts {
  var jobs = 0L
  var tasks = 0L
  var taskMs = 0L
  var gcMs = 0L
  var shuffleWrite = 0L
  var shuffleRead = 0L
  var spill = 0L
  var inputBytes = 0L
  var outputBytes = 0L

  def add(o: Counts): Unit = synchronized {
    jobs += o.jobs; tasks += o.tasks; taskMs += o.taskMs; gcMs += o.gcMs
    shuffleWrite += o.shuffleWrite; shuffleRead += o.shuffleRead
    spill += o.spill; inputBytes += o.inputBytes; outputBytes += o.outputBytes
  }

  def json: String =
    s""""jobs":$jobs,"tasks":$tasks,"task_ms":$taskMs,"gc_ms":$gcMs,""" +
      s""""shuffle_write_bytes":$shuffleWrite,"shuffle_read_bytes":$shuffleRead,""" +
      s""""spill_bytes":$spill,"input_bytes":$inputBytes,"output_bytes":$outputBytes"""
}

/** Attributes every job, and the tasks of its stages, to the Spark job group
  * it ran under. The tracer sets one group per span, so the counts of a group
  * are the self counts of that span. Jobs under any other group are ignored.
  */
final class LayerListener(prefix: String) extends SparkListener {
  val bySpan = new ConcurrentHashMap[String, Counts]()
  private val stageSpan = new ConcurrentHashMap[Int, String]()
  private val jobSpan = new ConcurrentHashMap[Int, String]()
  private val ended = ConcurrentHashMap.newKeySet[String]()

  private def counts(span: String): Counts = bySpan.computeIfAbsent(span, _ => new Counts)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val group = Option(e.properties).flatMap(p =>
      Option(p.getProperty("spark.jobGroup.id")))
    group.filter(_.startsWith(prefix)).foreach { span =>
      val c = counts(span); c.synchronized { c.jobs += 1 }
      jobSpan.put(e.jobId, span)
      e.stageIds.foreach(stageSpan.put(_, span))
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobSpan.remove(e.jobId)).foreach(ended.add)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(stageSpan.get(e.stageId)).foreach { span =>
      val c = counts(span)
      val m = e.taskMetrics
      c.synchronized {
        c.tasks += 1
        if (m != null) {
          c.taskMs += m.executorRunTime
          c.gcMs += m.jvmGCTime
          c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          c.spill += m.memoryBytesSpilled + m.diskBytesSpilled
          c.inputBytes += m.inputMetrics.bytesRead
          c.outputBytes += m.outputMetrics.bytesWritten
        }
      }
    }

  /** True once a job of `span` has ended: events are delivered in order, so
    * everything posted before that job's end has been counted too.
    */
  def sawEnd(span: String): Boolean = ended.contains(span)
}

final case class Span(id: String, name: String, parent: String, request: Long,
    startNs: Long, var endNs: Long = -1L)

/** Spans around each call the benchmark makes into a layer. Spans live in
  * memory and are written out once, at the end of the run. With tracing off
  * `span` only runs its body.
  */
final class Tracer(sc: SparkContext, val enabled: Boolean) {
  private val prefix = "pb-"
  private val seq = new AtomicLong()
  private val stack = new ThreadLocal[List[Span]] { override def initialValue() = Nil }
  val spans = scala.collection.mutable.ArrayBuffer.empty[Span]
  val listener: Option[LayerListener] =
    if (enabled) Some(new LayerListener(prefix)) else None
  listener.foreach(sc.addSparkListener)
  /** Switched off around the untraced half of a traced run's operations. */
  @volatile var active: Boolean = enabled
  private val t0 = System.nanoTime()

  def span[A](name: String, request: Long = -1L)(body: => A): A =
    if (!active) body
    else {
      val parent = stack.get.headOption
      val s = Span(s"$prefix${seq.incrementAndGet()}", name,
        parent.map(_.id).getOrElse(""), request, System.nanoTime() - t0)
      synchronized { spans += s }
      stack.set(s :: stack.get)
      sc.setJobGroup(s.id, name)
      try body
      finally {
        s.endNs = System.nanoTime() - t0
        stack.set(stack.get.tail)
        parent match {
          case Some(p) => sc.setJobGroup(p.id, p.name)
          case None => sc.clearJobGroup()
        }
      }
    }

  /** Waits until the listener has seen every event posted so far. */
  def drain(): Unit = listener.foreach { l =>
    val id = s"${prefix}drain-${seq.incrementAndGet()}"
    sc.setJobGroup(id, "drain")
    try sc.parallelize(Seq(1), 1).count()
    finally sc.clearJobGroup()
    val deadline = System.nanoTime() + 30L * 1000000000L
    while (!l.sawEnd(id) && System.nanoTime() < deadline) Thread.sleep(2)
    l.bySpan.remove(id)
  }

  def self(s: Span): Counts =
    listener.flatMap(l => Option(l.bySpan.get(s.id))).getOrElse(new Counts)

  /** Counts of a span and all its descendants. */
  def inclusive(s: Span): Counts = {
    val out = new Counts
    val kids = spans.groupBy(_.parent)
    def walk(x: Span): Unit = { out.add(self(x)); kids.getOrElse(x.id, Nil).foreach(walk) }
    walk(s)
    out
  }

  def named(name: String): Seq[Span] = spans.filter(_.name == name).toSeq

  def seconds(s: Span): Double = (s.endNs - s.startNs) / 1e9

  def write(path: java.nio.file.Path): Unit = {
    val lines = spans.map { s =>
      s"""{"id":"${s.id}","name":"${s.name}","parent":"${s.parent}",""" +
        s""""request":${s.request},"start_ms":${s.startNs / 1e6},"end_ms":${s.endNs / 1e6},""" +
        self(s).json + "}"
    }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path, lines.mkString("", "\n", "\n").getBytes("UTF-8"))
  }
}
