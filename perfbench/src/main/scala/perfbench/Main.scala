package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}

/** A named value with its unit, as printed in the report. */
final case class Metric(name: String, value: Double, unit: String)

/** Everything a workload needs: the session, the tracer, its scratch
  * directory and the seed.
  */
final class Ctx(val spark: SparkSession, val tracer: Tracer, val work: Path, val seed: Long) {
  private val samples = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  var attempted = 0L
  var failed = 0L
  private val errors = mutable.ArrayBuffer.empty[String]

  def sample(kind: String, v: Double): Unit =
    samples.getOrElseUpdate(kind, mutable.ArrayBuffer.empty[Double]) += v
  def samplesOf(kind: String): Seq[Double] = samples.get(kind).map(_.toSeq).getOrElse(Nil)
  def kinds: Seq[String] = samples.keys.toSeq
  def resetSamples(): Unit = samples.clear()

  /** Runs one timed op. A failed or mis-verified op counts in `failed`
    * and its time is never recorded; `verify` runs after the clock stops.
    */
  def op[T](kinds: Seq[String], span: String)(body: => T)(verify: T => Option[String]): Option[T] = {
    val t0 = System.nanoTime()
    val r = try Right(tracer.opSpan(span)(body)) catch { case e: Exception => Left(e.toString) }
    val ms = (System.nanoTime() - t0) / 1e6
    val err = r.fold(Some(_), verify)
    this.verify(span, err)
    if (err.isEmpty) kinds.foreach(sample(_, ms))
    r.toOption.filter(_ => err.isEmpty)
  }

  /** Counts one untimed check; `err` is its failure message, if any. */
  def verify(label: String, err: Option[String]): Unit = {
    attempted += 1
    err.foreach { msg =>
      failed += 1
      if (errors.length < 20) errors += s"$label: $msg"
    }
  }

  def errorLog: Seq[String] = errors.toSeq

  private val setupPhases = mutable.ArrayBuffer.empty[Metric]

  /** Times one named part of the set-up (reported as `setup.<name>_s`). */
  def setupPhase[T](name: String)(body: => T): T = {
    val t0 = System.nanoTime()
    try body finally setupPhases += Metric(s"setup.${name}_s", (System.nanoTime() - t0) / 1e9, "s")
  }

  def setupBreakdown: Seq[Metric] = setupPhases.toSeq

  /** Fully executes `df` and discards the rows (Spark's `noop` sink runs
    * the whole physical plan, unlike `count()`, which Catalyst may prune).
    */
  def materialize(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()
}

/** One benchmark workload: `setup` makes its inputs from the seed, touches
  * them and runs an untimed warm-up; `step` runs one timed unit of work
  * through `ctx.op`.
  */
trait Workload {
  def setup(ctx: Ctx): Unit
  def step(ctx: Ctx): Unit
  /** Samples of the workload's primary op, pooled. */
  def opKind: String
  /** Prefix of the per-kind samples (`query:q17...`); `op_ms` is the
    * geometric mean of each kind's median.
    */
  def opKindPrefix: String
  /** Samples of one pass over its fixed op cycle (for `pass_s`). */
  def passKind: String
  /** Workload-specific end-to-end metrics, after measurement. */
  def report(ctx: Ctx): Seq[Metric]
  /** Workload-specific per-layer metrics from the traced half. */
  def layers(ctx: Ctx): Seq[Metric]
}

/** Runs one workload for a fixed time and prints its metrics; the last
  * stdout line is the JSON result.
  *
  * Usage: Main <workload> <seed> <seconds> <trace 0|1> <work dir> <span file>
  */
object Main {

  val workloads: Map[String, () => Workload] = Map(
    "refjob" -> (() => new RefJobWorkload),
    "query_mix" -> (() => new QueryMixWorkload),
    "layout_rw" -> (() => new LayoutRwWorkload),
  )

  /** Workload layer metrics that every workload in BENCHMARK.json reports,
    * so they belong in the traced result line.
    */
  val sharedLayers = Set("tokenize.ms", "tokenize.tokens_per_s")

  def main(args: Array[String]): Unit = {
    val Array(name, seedS, secondsS, traceS, workS, spanFile) = args
    val t0 = System.nanoTime()
    val traced = traceS == "1"
    val work = Files.createDirectories(Paths.get(workS))
    val cores = math.min(4, Runtime.getRuntime.availableProcessors())
    val workload = workloads(name)()
    val spark = graft.GraftSession
      .builder("perfbench", Some(s"local[$cores]"), shufflePartitions = cores)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionMs = (System.nanoTime() - t0) / 1e6
    val ok = try {
      val tracer = new Tracer(spark, traced)
      val ctx = new Ctx(spark, tracer, work, seedS.toLong)
      workload.setup(ctx)
      val setupS = (System.nanoTime() - t0) / 1e9
      val seconds = secondsS.toDouble
      val metrics = mutable.ArrayBuffer.empty[Metric]
      val layerMetrics = mutable.ArrayBuffer.empty[Metric]
      ctx.resetSamples()
      val deadline = System.nanoTime() + (seconds * 1e9).toLong
      if (!traced) while (System.nanoTime() < deadline) workload.step(ctx)
      else {
        // Steps alternate untraced and traced, so the tracer's overhead is
        // the difference of the two halves' op medians.
        val plain, withSpans = mutable.ArrayBuffer.empty[Double]
        var i = 0
        while (System.nanoTime() < deadline || withSpans.isEmpty) {
          val on = i % 2 == 1
          tracer.record(on)
          val done = ctx.samplesOf(workload.opKind).length
          workload.step(ctx)
          (if (on) withSpans else plain) ++= ctx.samplesOf(workload.opKind).drop(done)
          i += 1
        }
        tracer.record(false)
        tracer.settle()
        val overhead = 100 * (Stats.median(withSpans.toSeq) / Stats.median(plain.toSeq) - 1)
        metrics += Metric("session.build_ms", sessionMs, "ms")
        metrics ++= tracer.perOp
        metrics += Metric("trace.overhead_pct", overhead, "%")
        val specific = workload.layers(ctx)
        metrics ++= specific.filter(m => sharedLayers.contains(m.name))
        layerMetrics ++= specific.filterNot(m => sharedLayers.contains(m.name))
        val out = Files.newBufferedWriter(Paths.get(spanFile))
        try tracer.jsonLines.foreach { l => out.write(l); out.write('\n') } finally out.close()
      }
      val ops = ctx.samplesOf(workload.opKind)
      val passes = ctx.samplesOf(workload.passKind)
      val kindMedians = ctx.kinds.filter(_.startsWith(workload.opKindPrefix))
        .map(k => Stats.median(ctx.samplesOf(k)))
      val e2e = Seq(
        Metric("setup_s", setupS, "s"),
        Metric("op_ms", if (kindMedians.isEmpty) Double.NaN else Stats.geomean(kindMedians), "ms"),
        Metric("pass_s", if (passes.isEmpty) Double.NaN else Stats.median(passes) / 1000, "s"),
        Metric("peak_rss_mb", peakRssMb, "MB"))
      val specific = (Metric("setup.session_s", sessionMs / 1000, "s") +: ctx.setupBreakdown) ++
        Seq(Metric("op_p50_ms", if (ops.isEmpty) Double.NaN else Stats.median(ops), "ms"),
          Metric("op_samples", ops.length, "count"), Metric("pass_samples", passes.length, "count")) ++
        workload.report(ctx) :+
        Metric("error_rate", ctx.failed.toDouble / math.max(1L, ctx.attempted), "ratio")
      (e2e ++ specific ++ metrics ++ layerMetrics).foreach(m => println(f"${m.name}%-36s ${Json.num(m.value)}%s ${m.unit}"))
      println(s"# ${workload.opKind} samples (ms, in order): " + ops.map(x => f"$x%.1f").mkString(" "))
      if (workload.passKind != workload.opKind)
        println(s"# ${workload.passKind} samples (ms, in order): " + passes.map(x => f"$x%.1f").mkString(" "))
      ctx.errorLog.foreach(e => println(s"error: $e"))
      val correct = ctx.failed == 0 && ops.nonEmpty && passes.nonEmpty
      val contract = if (traced) metrics.toSeq else e2e
      val body = contract.map(m =>
        s"""${Json.str(m.name)}:{"value":${Json.num(m.value)},"unit":${Json.str(m.unit)}}""")
      println(s"""{"correct":$correct,"attempted":${math.max(1L, ctx.attempted)},""" +
        s""""failed":${ctx.failed},"metrics":{${body.mkString(",")}}}""")
      correct
    } finally spark.stop()
    System.exit(if (ok) 0 else 1)
  }

  /** The JVM's resident-set high-water mark (VmHWM), in MB. */
  def peakRssMb: Double = {
    val status = Paths.get("/proc/self/status")
    if (!Files.isReadable(status)) Double.NaN
    else Files.readAllLines(status).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(Double.NaN)
  }
}
