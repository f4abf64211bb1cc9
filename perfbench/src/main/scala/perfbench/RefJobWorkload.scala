package perfbench

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import graft.operators.{InvertedIndex, LetterSink, ReferenceJob}
import graft.sources.ManifestSource

/** `refjob`: the paper's own job at the paper's size. Each op runs
  * `ReferenceJob.run` from the manifest to a fresh output directory and
  * checks the 26 letter files byte for byte against [[RefModel]].
  *
  * The traced half also calls the job's layers one by one (manifest read,
  * line frame build, tokenize, index, sink) so each gets its own span.
  */
final class RefJobWorkload extends Workload {
  private val WarmupRuns = 5
  val opKind = "refjob"
  val opKindPrefix = "refjob"
  val passKind = "refjob"

  private var manifest: Path = _
  private var expected: IndexedSeq[Array[Byte]] = _
  private var corpusStats: Seq[Metric] = Nil
  private var normalizedTokens = 0L
  private var runs = 0
  private var sinkBytes = List.empty[Double]

  private def freshOut(ctx: Ctx): Path = { runs += 1; ctx.work.resolve(s"out-$runs") }

  private def check(out: Path): Option[String] = {
    val bad = RefModel.mismatches(out, expected)
    if (bad.isEmpty) None else Some(s"letter files differ from the model: ${bad.mkString(",")}")
  }

  private def delete(p: Path): Unit = if (Files.exists(p)) {
    val walk = Files.walk(p)
    try walk.iterator().asScala.toSeq.reverse.foreach(Files.delete) finally walk.close()
  }

  def setup(ctx: Ctx): Unit = {
    val files = ctx.setupPhase("corpus")(Corpus.generate(ctx.seed))
    manifest = Corpus.write(ctx.work.resolve("corpus"), files)
    val index = ctx.setupPhase("model")(
      RefModel.index(files.iterator.zipWithIndex.map { case (f, i) => (i + 1, f) }))
    expected = RefModel.render(index)
    normalizedTokens = files.iterator.map(f =>
      RefModel.tokens(f).count(t => graft.functions.text.normalizeWordScala(t).nonEmpty).toLong).sum
    corpusStats = Seq(
      Metric("corpus.files", files.length, "count"),
      Metric("corpus.tokens", files.iterator.map(RefModel.tokens(_).size.toLong).sum, "count"),
      Metric("corpus.bytes", files.iterator.map(_.getBytes("UTF-8").length.toLong).sum, "bytes"),
      Metric("corpus.distinct_words", index.size, "count"))
    // Warm-up: the first run pays class loading and code generation; the
    // JIT needs a few more before run times stop falling.
    ctx.setupPhase("warmup")((1 to WarmupRuns).foreach(_ => step(ctx)))
  }

  def step(ctx: Ctx): Unit = {
    val out = freshOut(ctx)
    ctx.op(Seq("refjob"), "refjob.run")(
      ReferenceJob.run(ctx.spark, manifest.toString, out.toString))(_ => check(out))
    delete(out)
    if (ctx.tracer.isOn) layerProbes(ctx)
  }

  /** The job's layers called one at a time, each in its own span. */
  private def layerProbes(ctx: Ctx): Unit = {
    val t = ctx.tracer
    val m = t.span("manifest.read")(ManifestSource.read(manifest.toString))
    val lines = t.span("manifest.lines_build")(ManifestSource.lines(ctx.spark, m))
    t.span("tokenize")(ctx.materialize(InvertedIndex.words(lines, "file_id", "line")))
    t.span("index")(ctx.materialize(InvertedIndex.fromLines(lines, "file_id", "line")))
    val index = t.span("sink.checkpoint")(
      InvertedIndex.fromLines(lines, "file_id", "line").localCheckpoint())
    val out = freshOut(ctx)
    t.span("sink.write")(LetterSink.write(index, out.toString))
    ctx.verify("sink.probe", check(out))
    val listing = Files.list(out)
    sinkBytes ::= (try listing.iterator().asScala.map(Files.size).sum.toDouble finally listing.close())
    delete(out)
  }

  def report(ctx: Ctx): Seq[Metric] = {
    val runs = ctx.samplesOf("refjob").map(_ / 1000)
    val tail = Stats.tail(runs)
    corpusStats ++ Seq(
      Metric("refjob_p50_s", Stats.median(runs), "s"),
      Metric("refjob_tail_s", tail.map(_._2).getOrElse(Double.NaN), "s"),
      Metric("refjob_tail_percentile", tail.map(_._1).getOrElse(Double.NaN), "%"))
  }

  def layers(ctx: Ctx): Seq[Metric] = {
    val t = ctx.tracer
    val tokenizeMs = t.meanWall("tokenize")
    val sinkTasks = t.named("sink.write").flatMap(s => t.subtree(s).flatMap(_.taskMs.asScala))
      .map(_.toDouble)
    Seq(
      Metric("manifest.read_ms", t.meanWall("manifest.read"), "ms"),
      Metric("manifest.lines_build_ms", t.meanWall("manifest.lines_build"), "ms"),
      Metric("scan.input_bytes", t.meanCounter("tokenize", "spark.input_bytes"), "bytes"),
      Metric("scan.records", t.meanCounter("tokenize", "spark.input_records"), "count"),
      Metric("tokenize.ms", tokenizeMs, "ms"),
      Metric("tokenize.tokens_per_s", normalizedTokens / (tokenizeMs / 1000), "1/s"),
      Metric("index.exec_ms", t.meanWall("index"), "ms"),
      Metric("index.shuffle_write_bytes", t.meanCounter("index", "spark.shuffle_write_bytes"), "bytes"),
      Metric("index.shuffle_records", t.meanCounter("index", "spark.shuffle_records"), "count"),
      Metric("index.spill_bytes", t.meanCounter("index", "spark.spill_bytes"), "bytes"),
      Metric("sink.write_ms", t.meanWall("sink.write"), "ms"),
      Metric("sink.bytes_written", if (sinkBytes.isEmpty) Double.NaN else sinkBytes.sum / sinkBytes.length, "bytes"),
      Metric("sink.max_task_ms", if (sinkTasks.isEmpty) Double.NaN else sinkTasks.max, "ms"),
      Metric("sink.median_task_ms", if (sinkTasks.isEmpty) Double.NaN else Stats.median(sinkTasks), "ms"))
  }
}
