package graftbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.{GraftMetricsBridge, SparkContext, Success}
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Measures the layers from outside the library.
  *
  * Spans wrap the benchmark's own calls into the library; each span
  * sets a local property on the calling thread, so every Spark job the
  * call submits carries its span id and the listeners can attribute it.
  * Spark's engine layers are read through a SparkListener (scheduler
  * and executors), a QueryExecutionListener (Catalyst phase times) and
  * a StreamingQueryListener (micro-batches). Listeners are attached
  * only while tracing is on, so untraced passes run without them.
  */
final class Probe(spark: SparkSession) {
  import Probe._

  private def sc: SparkContext = spark.sparkContext

  final class Span(val id: Int, val name: String, val parent: Int, val op: Long,
      val start: Long) {
    @volatile var end: Long = 0L
    val jobs = new AtomicLong(0L)
  }

  private val spans = ArrayBuffer.empty[Span]
  private val byId = new ConcurrentHashMap[String, Span]()
  private var stack: List[Span] = Nil
  private var tracing = false

  // ---- engine counters (reset per traced pass) ----
  val c: Map[String, AtomicLong] = Counters.map(_ -> new AtomicLong(0L)).toMap
  private val activeJobs = new AtomicLong(0L)
  @volatile private var busySince = 0L
  val streamJobs = new AtomicLong(0L)
  val unattributed = new AtomicLong(0L)

  private object Jobs extends SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      c("sched.jobs").incrementAndGet()
      val p = e.properties
      val streaming = p != null && p.getProperty("sql.streaming.queryId") != null
      val sid = if (p == null) null else p.getProperty(SpanKey)
      if (streaming) streamJobs.incrementAndGet()
      else Option(sid).flatMap(s => Option(byId.get(s))) match {
        case Some(s) => s.jobs.incrementAndGet()
        case None => unattributed.incrementAndGet()
      }
      synchronized {
        if (activeJobs.getAndIncrement() == 0) busySince = e.time
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      if (activeJobs.decrementAndGet() == 0) c("sched.busy_ms").addAndGet(e.time - busySince)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      c("sched.stages").incrementAndGet()
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      c("sched.tasks").incrementAndGet()
      val m = e.taskMetrics
      if (m != null && e.reason == Success) {
        c("exec.task_cpu_ms").addAndGet(m.executorCpuTime / 1000000L)
        c("exec.input_rows").addAndGet(m.inputMetrics.recordsRead)
        c("exec.input_bytes").addAndGet(m.inputMetrics.bytesRead)
        c("exec.shuffle_read_bytes").addAndGet(m.shuffleReadMetrics.totalBytesRead)
        c("exec.shuffle_write_bytes").addAndGet(m.shuffleWriteMetrics.bytesWritten)
        c("exec.spill_bytes").addAndGet(m.diskBytesSpilled)
        c("exec.output_bytes").addAndGet(m.outputMetrics.bytesWritten)
        c("exec.gc_ms").addAndGet(m.jvmGCTime)
      }
    }
  }

  private object Plans extends QueryExecutionListener {
    private def phases(qe: QueryExecution): Long =
      qe.tracker.phases.values.map(_.durationMs).sum
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      c("driver.actions").incrementAndGet()
      c("driver.plan_ms").addAndGet(phases(qe))
    }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = {
      c("driver.actions").incrementAndGet()
      c("driver.plan_ms").addAndGet(phases(qe))
    }
  }

  private object Streams extends StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      if (p.numInputRows > 0) {
        c("stream.batches").incrementAndGet()
        c("stream.rows").addAndGet(p.numInputRows)
        Option(p.durationMs.get("triggerExecution")).foreach(d => c("stream.batch_ms").addAndGet(d.longValue))
      }
    }
  }

  private val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala.toSeq
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala.toSeq
    .filter(_.getType == MemoryType.HEAP)
  private def gcMs: Long = gcBeans.map(b => math.max(0L, b.getCollectionTime)).sum
  private var gcAtStart = 0L

  def isTracing: Boolean = tracing

  heapPools.foreach(_.resetPeakUsage())

  /** Record spans without listeners (a traced set-up). */
  def startSpans(): Unit = tracing = true
  def stopSpans(): Unit = tracing = false

  /** Attach the listeners for one traced pass. */
  def startTrace(): Unit = {
    drain()
    gcAtStart = gcMs
    sc.addSparkListener(Jobs)
    spark.listenerManager.register(Plans)
    spark.streams.addListener(Streams)
    tracing = true
  }

  /** Detach the listeners after every queued event is delivered. */
  def stopTrace(): Unit = {
    drain()
    tracing = false
    sc.removeSparkListener(Jobs)
    spark.listenerManager.unregister(Plans)
    spark.streams.removeListener(Streams)
    c("jvm.gc_ms").addAndGet(gcMs - gcAtStart)
    c("jvm.heap_peak_mb").set(math.max(c("jvm.heap_peak_mb").get(),
      heapPools.map(_.getPeakUsage.getUsed).sum / (1024L * 1024L)))
  }

  def drain(): Unit = GraftMetricsBridge.drainListeners(sc)

  /** Run `body` as a span named `name` for operation `op`. A no-op
    * wrapper while tracing is off. */
  def span[A](name: String, op: Long = -1L)(body: => A): A = {
    if (!tracing) return body
    val s = new Span(spans.size, name, stack.headOption.map(_.id).getOrElse(-1),
      if (op >= 0) op else stack.headOption.map(_.op).getOrElse(-1L), System.nanoTime())
    spans += s
    byId.put(s.id.toString, s)
    stack = s :: stack
    sc.setLocalProperty(SpanKey, s.id.toString)
    sc.setJobDescription(s"graftbench:$name")
    try body
    finally {
      s.end = System.nanoTime()
      stack = stack.tail
      sc.setLocalProperty(SpanKey, stack.headOption.map(_.id.toString).orNull)
      sc.setJobDescription(stack.headOption.map(p => s"graftbench:${p.name}").orNull)
    }
  }

  /** Spans closed so far, in start order. */
  def closed: Seq[Span] = spans.filter(_.end > 0L).toSeq

  /** Wall time of each span minus the wall time of its direct children. */
  def selfMs: Map[String, Double] = {
    val childNs = spans.groupBy(_.parent).map { case (p, cs) =>
      p -> cs.map(x => x.end - x.start).sum }
    closed.groupBy(_.name).map { case (n, ss) =>
      n -> ss.map(s => (s.end - s.start - childNs.getOrElse(s.id, 0L)) / 1e6).sum }
  }

  def spansJson(t0: Long): String = {
    val rows = closed.map { s =>
      Json.obj("id" -> s.id, "name" -> s.name, "parent" -> s.parent, "op" -> s.op,
        "start_ms" -> (s.start - t0) / 1e6, "end_ms" -> (s.end - t0) / 1e6,
        "jobs" -> s.jobs.get())
    }
    Json.arr(rows: _*)
  }

  /** Jobs of each span including those of its descendants. */
  def inclusiveJobs: Map[Int, Long] = {
    val acc = Array.tabulate(spans.size)(i => spans(i).jobs.get())
    // children are created after their parents, so one reverse sweep suffices
    for (i <- spans.indices.reverse; p = spans(i).parent if p >= 0) acc(p) += acc(i)
    spans.indices.map(i => i -> acc(i)).toMap
  }

  /** Run `body` with the listeners detached (checks between operations). */
  def untraced[A](body: => A): A =
    if (!tracing) body
    else {
      val saved = stack
      stopTrace()
      try body
      finally { startTrace(); stack = saved }
    }

  /** Jobs attributed to spans plus the synthetic micro-batch span. */
  def attributedJobs: Long = spans.map(_.jobs.get()).sum + streamJobs.get()
}

object Probe {
  val SpanKey = "graftbench.span"
  val Counters: Seq[String] = Seq(
    "driver.plan_ms", "driver.actions",
    "sched.jobs", "sched.stages", "sched.tasks", "sched.busy_ms",
    "exec.task_cpu_ms", "exec.input_rows", "exec.input_bytes", "exec.shuffle_read_bytes",
    "exec.shuffle_write_bytes", "exec.spill_bytes", "exec.output_bytes", "exec.gc_ms",
    "stream.batches", "stream.batch_ms", "stream.rows",
    "jvm.gc_ms", "jvm.heap_peak_mb")
}
