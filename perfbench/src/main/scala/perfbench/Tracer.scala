package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed call. `counters` hold what Spark reported for the jobs,
  * tasks and plan phases that ran while this span was the innermost one.
  */
final class Span(val id: Int, val name: String, val parent: Int, val isOp: Boolean,
    val startNs: Long, val startMs: Long) {
  @volatile var endNs: Long = 0L
  @volatile var endMs: Long = 0L
  val counters = new ConcurrentHashMap[String, Double]()
  val jobIntervals = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long)]()
  val taskMs = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
  def add(k: String, v: Double): Unit = counters.merge(k, v, (a: Double, b: Double) => a + b)
  def wallMs: Double = (endNs - startNs) / 1e6
}

/** Spans around layer calls, plus the Spark listeners that attribute job,
  * stage, task, plan-phase and streaming-progress events to them. A
  * disabled tracer runs the body and records nothing, so the untraced run
  * pays no listener cost.
  *
  * Attribution: every span sets a local property on the calling thread;
  * Spark copies local properties into each job it submits, so a job (and
  * its stages and tasks) belongs to the span that was innermost when the
  * job started. Plan phases and streaming progress carry no properties;
  * they go to the innermost span whose wall-clock interval contains the
  * phase's start time. Self time is a span's wall time minus its direct
  * children's wall time.
  */
final class Tracer(spark: SparkSession, traced: Boolean) {
  @volatile private var enabled = false
  private val SpanProp = "perfbench.span"
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Span] = Nil
  private val stageSpan = new ConcurrentHashMap[Int, Span]()
  private val jobSpan = new ConcurrentHashMap[Int, (Span, Long)]()
  private val phaseEvents = new java.util.concurrent.ConcurrentLinkedQueue[(Long, String, Double)]()
  /** Streaming progress: (timestamp ms, durationMs by phase, input rows). */
  val progress = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Map[String, Long], Long)]()

  private def spanOf(props: java.util.Properties): Option[Span] =
    Option(props).flatMap(p => Option(p.getProperty(SpanProp)))
      .map(id => spans.synchronized(spans(id.toInt)))

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = spanOf(e.properties).foreach { s =>
      jobSpan.put(e.jobId, (s, e.time))
      e.stageIds.foreach(id => stageSpan.put(id, s))
      s.add("spark.jobs", 1)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobSpan.remove(e.jobId)).foreach { case (s, t0) => s.jobIntervals.add((t0, e.time)) }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Option(stageSpan.get(e.stageInfo.stageId)).foreach(_.add("spark.stages", 1))
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(stageSpan.get(e.stageId)).foreach { s =>
        s.add("spark.tasks", 1)
        s.taskMs.add(e.taskInfo.duration)
        Option(e.taskMetrics).foreach { m =>
          s.add("spark.executor_run_ms", m.executorRunTime.toDouble)
          s.add("spark.executor_cpu_ms", m.executorCpuTime / 1e6)
          s.add("spark.gc_ms", m.jvmGCTime.toDouble)
          s.add("spark.shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead.toDouble)
          s.add("spark.shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
          s.add("spark.shuffle_records", m.shuffleWriteMetrics.recordsWritten.toDouble)
          s.add("spark.spill_bytes", (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
          s.add("spark.input_bytes", m.inputMetrics.bytesRead.toDouble)
          s.add("spark.input_records", m.inputMetrics.recordsRead.toDouble)
        }
      }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      recordPhases(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      recordPhases(qe)
  }

  /** Adds a plan's analysis / optimization / planning phases, and the
    * time spent in the engine's own rules (`rule.<name>_ms`).
    */
  def recordPhases(qe: QueryExecution): Unit = if (enabled) {
    val phases = qe.tracker.phases
    phases.foreach { case (phase, p) =>
      phaseEvents.add((p.startTimeMs, s"plan.${phase}_ms", p.durationMs.toDouble))
    }
    phases.values.map(_.startTimeMs).minOption.foreach { t =>
      qe.tracker.rules.foreach { case (rule, r) =>
        if (rule.startsWith("graft.") && r.totalTimeNs > 0)
          phaseEvents.add((t, s"rule.${rule.split('.').last}_ms", r.totalTimeNs / 1e6))
      }
    }
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = if (enabled) {
      val p = e.progress
      progress.add((java.time.Instant.parse(p.timestamp).toEpochMilli,
        p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap, p.numInputRows))
    }
  }

  /** Registers the listeners (once) and turns span recording on or off;
    * a no-op for an untraced run.
    */
  def record(on: Boolean): Unit = if (traced) {
    if (!registered) {
      spark.sparkContext.addSparkListener(listener)
      spark.listenerManager.register(qeListener)
      spark.streams.addListener(streamListener)
      registered = true
    }
    enabled = on
  }

  private var registered = false

  def isOn: Boolean = enabled

  def span[T](name: String)(body: => T): T = open(name, isOp = false)(body)

  /** A span around one timed op of the workload. */
  def opSpan[T](name: String)(body: => T): T = open(name, isOp = true)(body)

  private def open[T](name: String, isOp: Boolean)(body: => T): T =
    if (!enabled) body
    else {
      val sc = spark.sparkContext
      val s = spans.synchronized {
        val s = new Span(spans.size, name, stack.headOption.map(_.id).getOrElse(-1), isOp,
          System.nanoTime(), System.currentTimeMillis())
        spans += s
        s
      }
      stack = s :: stack
      val prev = sc.getLocalProperty(SpanProp)
      sc.setLocalProperty(SpanProp, s.id.toString)
      try body
      finally {
        s.endNs = System.nanoTime()
        s.endMs = System.currentTimeMillis()
        stack = stack.tail
        sc.setLocalProperty(SpanProp, prev)
      }
    }

  /** Waits until every posted listener event has been handled, then
    * assigns plan phases to spans.
    */
  def settle(): Unit = if (registered) {
    org.apache.spark.perfbench.ListenerBusAccess.drain(spark.sparkContext)
    val recorded = all
    var e = phaseEvents.poll()
    while (e != null) {
      val (t, k, ms) = e
      recorded.filter(s => s.startMs <= t && t <= s.endMs).lastOption.foreach(_.add(k, ms))
      e = phaseEvents.poll()
    }
  }

  def all: Vector[Span] = spans.synchronized(spans.toVector)

  def named(name: String): Vector[Span] = all.filter(_.name == name)

  /** Mean of `f` over the spans called `name` (NaN if there are none). */
  def mean(name: String)(f: Span => Double): Double = {
    val xs = named(name)
    if (xs.isEmpty) Double.NaN else xs.map(f).sum / xs.length
  }

  def meanWall(name: String): Double = mean(name)(_.wallMs)

  def meanCounter(name: String, counter: String): Double =
    mean(name)(s => inclusive(s).getOrElse(counter, 0.0))

  /** Engine rule time summed over all spans, largest first. */
  def topRules(n: Int): Seq[(String, Double)] =
    all.flatMap(_.counters.asScala).filter(_._1.startsWith("rule."))
      .groupMapReduce(_._1)(_._2)(_ + _).toSeq.sortBy(-_._2).take(n)

  private lazy val children: Map[Int, Vector[Span]] = all.groupBy(_.parent)

  def selfMs(s: Span): Double = s.wallMs - children.getOrElse(s.id, Vector.empty).map(_.wallMs).sum

  /** The span and all its descendants. */
  def subtree(s: Span): Vector[Span] = s +: children.getOrElse(s.id, Vector.empty).flatMap(subtree)

  /** Own counters summed over the span and its descendants. */
  def inclusive(s: Span): Map[String, Double] =
    subtree(s).flatMap(_.counters.asScala).groupMapReduce(_._1)(_._2)(_ + _)

  /** Wall time of `s` not covered by any job of its subtree. */
  def driverGapMs(s: Span): Double = {
    val iv = subtree(s).flatMap(_.jobIntervals.asScala).sortBy(_._1)
    var covered = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.foreach { case (a, b) =>
      if (a > curE) { if (curE > curS) covered += curE - curS; curS = a; curE = b }
      else curE = math.max(curE, b)
    }
    if (curE > curS) covered += curE - curS
    math.max(0.0, s.wallMs - covered)
  }

  /** Spark and plan counters per timed op, averaged over the op spans. */
  def perOp: Seq[Metric] = {
    val ops = all.filter(_.isOp)
    val n = math.max(1, ops.length).toDouble
    val sums = ops.map(inclusive).flatten.groupMapReduce(_._1)(_._2)(_ + _)
    Tracer.opCounters.map { case (k, unit) => Metric(k, sums.getOrElse(k, 0.0) / n, unit) } :+
      Metric("driver_gap_ms", ops.map(driverGapMs).sum / n, "ms")
  }

  /** One JSON object per span, in start order. */
  def jsonLines: Iterator[String] = {
    val t0 = all.headOption.map(_.startNs).getOrElse(0L)
    all.iterator.map { s =>
      val c = s.counters.asScala.toSeq.sortBy(_._1)
        .map { case (k, v) => s""""$k":${Json.num(v)}""" }.mkString(",")
      s"""{"id":${s.id},"parent":${s.parent},"name":${Json.str(s.name)},""" +
        s""""op":${s.isOp},"start_ms":${Json.num((s.startNs - t0) / 1e6)},"wall_ms":${Json.num(s.wallMs)},""" +
        s""""self_ms":${Json.num(selfMs(s))},"counters":{$c}}"""
    }
  }
}

object Tracer {
  /** The per-op counters every workload reports in its traced run. */
  val opCounters: Seq[(String, String)] = Seq(
    "plan.analysis_ms" -> "ms", "plan.optimization_ms" -> "ms", "plan.planning_ms" -> "ms",
    "spark.jobs" -> "count", "spark.stages" -> "count", "spark.tasks" -> "count",
    "spark.executor_run_ms" -> "ms", "spark.executor_cpu_ms" -> "ms", "spark.gc_ms" -> "ms",
    "spark.shuffle_read_bytes" -> "bytes", "spark.shuffle_write_bytes" -> "bytes",
    "spark.spill_bytes" -> "bytes", "spark.input_bytes" -> "bytes")
}
