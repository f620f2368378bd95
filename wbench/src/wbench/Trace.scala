package wbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One timed call into a layer's public function, made from the benchmark.
  * Times are `System.nanoTime` for durations and epoch millis for lining
  * spans up with Spark task launch/finish times. The Spark counters are
  * credited by [[Ledger]] while the span is the innermost open span on the
  * thread that submitted the job. */
final class Span(val id: Int, val name: String, val parent: Int, val req: Long,
                 val startNs: Long, val startMs: Long) {
  @volatile var endNs: Long = 0L
  @volatile var endMs: Long = 0L
  val jobs = new AtomicLong()
  val tasks = new AtomicLong()
  val runMs = new AtomicLong()
  val cpuNs = new AtomicLong()
  val gcMs = new AtomicLong()
  val inputBytes = new AtomicLong()
  val shuffleWriteBytes = new AtomicLong()
  val spillBytes = new AtomicLong()
  /** (launch, finish) epoch millis of every task credited here. */
  val taskIntervals = new ConcurrentLinkedQueue[(Long, Long)]()

  def seconds: Double = (endNs - startNs) / 1e9
  def millis: Double = (endNs - startNs) / 1e6

  /** Wall time during which none of this span's tasks ran: the serial
    * driver share (planning, scheduling, collect, commit). */
  def driverOnlySeconds: Double = {
    import scala.jdk.CollectionConverters._
    val iv = taskIntervals.asScala.toArray
      .map { case (a, b) => (math.max(a, startMs), math.min(b, endMs)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L
    var curA = -1L
    var curB = -1L
    iv.foreach { case (a, b) =>
      if (a > curB) { covered += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    covered += curB - curA
    math.max(0.0, seconds - covered / 1e3)
  }
}

/** In-memory span recorder. Off by default: with tracing off, [[span]] is
  * one volatile read and a direct call. Spans are kept until the run ends
  * and written once by [[dump]]. */
object Trace {
  val SpanProperty = "wbench.span"

  @volatile private var on = false
  @volatile private var sc: SparkContext = _
  private val nextId = new AtomicInteger()
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val byId = new java.util.concurrent.ConcurrentHashMap[Int, Span]()
  private val current = new ThreadLocal[Span]()
  /** Nanoseconds spent in span bookkeeping on calling threads. */
  val bookkeepingNs = new AtomicLong()

  def start(context: SparkContext): Unit = {
    sc = context
    context.addSparkListener(new Ledger)
    on = true
  }

  def lookup(id: Int): Span = byId.get(id)

  def span[T](name: String, req: Long = -1L)(f: => T): T = {
    if (!on) return f
    val t0 = System.nanoTime()
    val parent = current.get()
    val s = new Span(nextId.incrementAndGet(), name,
      if (parent == null) 0 else parent.id,
      if (req >= 0 || parent == null) req else parent.req,
      System.nanoTime(), System.currentTimeMillis())
    byId.put(s.id, s)
    spans.add(s)
    current.set(s)
    sc.setLocalProperty(SpanProperty, s.id.toString)
    bookkeepingNs.addAndGet(System.nanoTime() - t0)
    try f
    finally {
      val t1 = System.nanoTime()
      s.endNs = t1
      s.endMs = System.currentTimeMillis()
      current.set(parent)
      sc.setLocalProperty(SpanProperty, if (parent == null) null else parent.id.toString)
      bookkeepingNs.addAndGet(System.nanoTime() - t1)
    }
  }

  /** Clears the span property on this thread, so threads it creates from
    * now on (server pools) start without an inherited span. */
  def detach(): Unit = if (on) {
    current.remove()
    sc.setLocalProperty(SpanProperty, null)
  }

  def all: Seq[Span] = { import scala.jdk.CollectionConverters._; spans.asScala.toSeq }
  def named(name: String): Seq[Span] = all.filter(_.name == name)

  /** Self time: the span's duration minus the part its children cover. */
  def selfSeconds(s: Span, children: Seq[Span]): Double = {
    val iv = children.map(c => (math.max(c.startNs, s.startNs), math.min(c.endNs, s.endNs)))
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L
    var curA = Long.MinValue
    var curB = Long.MinValue
    iv.foreach { case (a, b) =>
      if (curB == Long.MinValue) { curA = a; curB = b }
      else if (a > curB) { covered += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    if (curB != Long.MinValue) covered += curB - curA
    (s.endNs - s.startNs - covered) / 1e9
  }

  /** Writes every span as one JSON line. */
  def dump(path: java.nio.file.Path): Unit = {
    val kids = all.groupBy(_.parent)
    val lines = all.sortBy(_.id).map { s =>
      val self = selfSeconds(s, kids.getOrElse(s.id, Nil))
      s"""{"id":${s.id},"name":"${s.name}","parent":${s.parent},"req":${s.req},""" +
        s""""start_ns":${s.startNs},"end_ns":${s.endNs},"self_s":$self,""" +
        s""""jobs":${s.jobs.get},"tasks":${s.tasks.get},"run_ms":${s.runMs.get},""" +
        s""""cpu_ns":${s.cpuNs.get},"gc_ms":${s.gcMs.get},"input_bytes":${s.inputBytes.get},""" +
        s""""shuffle_write_bytes":${s.shuffleWriteBytes.get},"spill_bytes":${s.spillBytes.get}}"""
    }
    java.nio.file.Files.write(path, (lines.mkString("\n") + "\n").getBytes("UTF-8"))
  }
}

/** Spark ledger registered from outside the program: credits each job and
  * its tasks' metrics to the benchmark span that was open on the thread
  * that submitted the job (the `wbench.span` local property). */
final class Ledger extends SparkListener {
  private val stageSpan = new java.util.concurrent.ConcurrentHashMap[Int, Span]()

  private def timed(f: => Unit): Unit = {
    val t0 = System.nanoTime()
    f
    Trace.bookkeepingNs.addAndGet(System.nanoTime() - t0)
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = timed {
    val id = Option(e.properties).flatMap(p => Option(p.getProperty(Trace.SpanProperty)))
    id.flatMap(i => Option(Trace.lookup(i.toInt))).foreach { s =>
      s.jobs.incrementAndGet()
      e.stageIds.foreach(st => stageSpan.put(st, s))
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = timed {
    val s = stageSpan.get(e.stageId)
    if (s != null) {
      s.tasks.incrementAndGet()
      s.taskIntervals.add((e.taskInfo.launchTime, e.taskInfo.finishTime))
      val m = e.taskMetrics
      if (m != null) {
        s.runMs.addAndGet(m.executorRunTime)
        s.cpuNs.addAndGet(m.executorCpuTime)
        s.gcMs.addAndGet(m.jvmGCTime)
        s.inputBytes.addAndGet(m.inputMetrics.bytesRead)
        s.shuffleWriteBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        s.spillBytes.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
      }
    }
  }
}
