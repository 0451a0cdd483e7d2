package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicInteger
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One traced interval. `end` is -1 while open; a span whose jobs
  * outlive its body is closed at dump time with its last job's end. */
final class Span(val id: Int, val name: String, val parent: Int, val op: Int,
    val startMs: Double) {
  @volatile var endMs: Double = -1.0
  @volatile var closeOnLastJob: Boolean = false
}

/** Per-span (or per-op) Spark runtime counters, filled from task-end
  * events. */
final class Counters {
  var jobs, stages, tasks = 0L
  var cpuNs, runMs, gcMs = 0L
  var inRows, inBytes, outRows, outBytes = 0L
  var shWrite, shRead, spill = 0L
  var lastJobEndMs = -1.0
  val taskIntervals = mutable.ArrayBuffer.empty[(Long, Long)]

  def toJson: Map[String, Any] = Map(
    "jobs" -> jobs, "stages" -> stages, "tasks" -> tasks,
    "task_cpu_ms" -> cpuNs / 1e6, "task_run_ms" -> runMs, "gc_ms" -> gcMs,
    "in_rows" -> inRows, "in_bytes" -> inBytes, "out_rows" -> outRows,
    "out_bytes" -> outBytes, "shuffle_write_bytes" -> shWrite,
    "shuffle_read_bytes" -> shRead, "spill_bytes" -> spill,
    "last_job_end_ms" -> lastJobEndMs)
}

/** Span recorder plus the listeners that attribute Spark work to spans
  * and ops. Jobs are tied to the span and op current on the submitting
  * thread through Spark local properties (inherited by threads the
  * submitting thread creates, such as the Runner's pool). All state is
  * kept in memory and dumped once at the end of the run.
  *
  * Disabled tracers record nothing and install no listener. */
final class Tracer(sc: SparkContext, val enabled: Boolean) {
  import Tracer._

  // epoch-ms clock for spans, so they line up with Spark's task and job
  // times (which are epoch ms)
  private val offNs = System.currentTimeMillis() * 1000000L - System.nanoTime()
  def nowMs: Double = (System.nanoTime() + offNs) / 1e6

  private val nextId = new AtomicInteger(1)
  private val spans = new ConcurrentHashMap[Int, Span]()
  private val current = new ThreadLocal[Integer]
  private val jobSpan = new ConcurrentHashMap[Int, (Int, Int)]()
  private val stageSpan = new ConcurrentHashMap[Int, (Int, Int)]()
  private val bySpan = new ConcurrentHashMap[Int, Counters]()
  private val byOp = new ConcurrentHashMap[Int, Counters]()
  private val opRoot = new ConcurrentHashMap[Int, Integer]()
  // (start ms epoch, optimization ms, planning ms) per executed query
  private val phases = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long, Long)]()

  private def counters(m: ConcurrentHashMap[Int, Counters], k: Int) =
    m.computeIfAbsent(k, _ => new Counters)

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val p = e.properties
      def prop(k: String) = Option(p).flatMap(x => Option(x.getProperty(k)))
        .map(_.toInt).getOrElse(0)
      val key = (prop(SpanKey), prop(OpKey))
      jobSpan.put(e.jobId, key)
      e.stageIds.foreach(s => stageSpan.put(s, key))
      for (c <- Seq(counters(bySpan, key._1), counters(byOp, key._2)))
        c.synchronized { c.jobs += 1; c.stages += e.stageIds.size }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobSpan.get(e.jobId)).foreach { key =>
        for (c <- Seq(counters(bySpan, key._1), counters(byOp, key._2)))
          c.synchronized { c.lastJobEndMs = math.max(c.lastJobEndMs, e.time.toDouble) }
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(stageSpan.get(e.stageId)).foreach { key =>
        val m = e.taskMetrics
        val i = e.taskInfo
        for (c <- Seq(counters(bySpan, key._1), counters(byOp, key._2)))
          c.synchronized {
            c.tasks += 1
            c.taskIntervals += ((i.launchTime, i.finishTime))
            if (m != null) {
              c.cpuNs += m.executorCpuTime; c.runMs += m.executorRunTime
              c.gcMs += m.jvmGCTime
              c.inRows += m.inputMetrics.recordsRead
              c.inBytes += m.inputMetrics.bytesRead
              c.outRows += m.outputMetrics.recordsWritten
              c.outBytes += m.outputMetrics.bytesWritten
              c.shWrite += m.shuffleWriteMetrics.bytesWritten
              c.shRead += m.shuffleReadMetrics.totalBytesRead
              c.spill += m.diskBytesSpilled + m.memoryBytesSpilled
            }
          }
      }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(fn: String, qe: QueryExecution, ns: Long): Unit = {
      val ph = qe.tracker.phases
      def ms(k: String) = ph.get(k).map(_.durationMs).getOrElse(0L)
      val start = ph.values.map(_.startTimeMs).reduceOption(_ min _)
        .getOrElse(System.currentTimeMillis())
      phases.add((start, ms("optimization"), ms("planning")))
    }
    override def onFailure(fn: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  def install(spark: org.apache.spark.sql.SparkSession): Unit = if (enabled) {
    sc.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
  }

  /** Start op `op` on this thread: its root span is opened and the op id
    * set as a local property, which threads spawned from here inherit. */
  def beginOp(op: Int, name: String): Span = {
    sc.setLocalProperty(OpKey, op.toString)
    current.remove()
    val s = open(name, op)
    opRoot.put(op, s.id)
    s
  }

  /** Run the next op on this thread untraced: nothing it submits is
    * attributed to a span or op. */
  def clearOp(): Unit = {
    sc.setLocalProperty(OpKey, null)
    sc.setLocalProperty(SpanKey, null)
    current.remove()
  }

  /** Open a span on this thread and make it current (for child spans
    * and for job attribution) until `close`. The parent is the thread's
    * current span, else the op's root span. */
  def open(name: String, op: Int, asChildOfRoot: Boolean = false): Span = {
    val root = Option(opRoot.get(op)).map(_.intValue).getOrElse(0)
    val parent =
      if (asChildOfRoot) root
      else Option(current.get).map(_.intValue).getOrElse(root)
    val s = new Span(nextId.getAndIncrement(), name, parent, op, nowMs)
    spans.put(s.id, s)
    current.set(s.id)
    sc.setLocalProperty(SpanKey, s.id.toString)
    s
  }

  def close(s: Span): Unit = {
    s.endMs = nowMs
    val p = if (s.parent == 0) null else Integer.valueOf(s.parent)
    current.set(p)
    sc.setLocalProperty(SpanKey, if (p == null) null else p.toString)
  }

  /** Time `body` as a span when tracing; run it bare otherwise. */
  def span[T](name: String, op: Int)(body: => T): T =
    if (!enabled) body
    else {
      val s = open(name, op)
      try body finally close(s)
    }

  /** A span that starts now and ends with the last Spark job submitted
    * under it (or when `body` returns, if later). It stays the thread's
    * current span after `body`, so work the caller triggers next on the
    * same thread is attributed to it — how a model's span covers the
    * Runner's materialization of the frame its transform returned. */
  def openUntilLastJob[T](name: String, op: Int)(body: => T): T =
    if (!enabled) body
    else {
      val s = open(name, op, asChildOfRoot = true)
      s.closeOnLastJob = true
      val r = body
      s.endMs = nowMs
      r
    }

  /** Reuse the open-ended span `name` of op `op` on this thread, or
    * open one. */
  def enterShared(name: String, op: Int): Unit = if (enabled) {
    val cur = Option(current.get).map(i => spans.get(i.intValue))
    if (!cur.exists(s => s.name == name && s.op == op)) {
      val s = open(name, op, asChildOfRoot = true)
      s.closeOnLastJob = true
      s.endMs = s.startMs
    }
  }

  /** Everything recorded, for the run's result file. Waits for the
    * listener bus to drain first. */
  def dump(): Map[String, Any] = {
    if (!enabled) return Map.empty
    org.apache.spark.PerfbenchBus.drain(sc)
    val ss = spans.values.asScala.toSeq.sortBy(_.id).map { s =>
      val c = Option(bySpan.get(s.id))
      val end =
        if (s.closeOnLastJob) math.max(s.endMs, c.map(_.lastJobEndMs).getOrElse(-1.0))
        else s.endMs
      Map("id" -> s.id, "name" -> s.name, "parent" -> s.parent, "op" -> s.op,
        "start_ms" -> s.startMs, "end_ms" -> end,
        "counters" -> c.map(_.toJson - "last_job_end_ms").getOrElse(Map.empty))
    }
    val ops = byOp.asScala.toSeq.sortBy(_._1).map { case (op, c) =>
      op.toString -> (c.toJson - "last_job_end_ms" +
        ("task_intervals_ms" -> c.taskIntervals.map { case (a, b) => Seq(a, b) }.toSeq))
    }.toMap
    val qs = phases.asScala.toSeq.map { case (st, o, p) => Seq(st, o, p) }
    Map("spans" -> ss, "ops" -> ops, "query_phases" -> qs)
  }
}

object Tracer {
  val SpanKey = "perfbench.span"
  val OpKey = "perfbench.op"
  /** Records nothing; what untraced ops and set-up use. */
  val off = new Tracer(null, false)
}
