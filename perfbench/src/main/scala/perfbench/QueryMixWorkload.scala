package perfbench

import scala.io.Source

import graft.{SparkEntry, Tables}
import graft.operators.InvertedIndex

/** `query_mix`: passes over seven read-only registry queries, each fully
  * materialized through the `noop` sink, in a seed-shuffled order per pass.
  * Three are text queries on the tokenizer and text scans (the inverted
  * index, the regex PII scrub, the prefix-filter join), three are exact
  * statistics over lineitem (percentiles, moment aggregates, the range
  * plan), and one is a `graft-layout` stream subscriber that drains the
  * change feed of a versioned layout's CRUD history. That layout is built
  * on first use, in the set-up.
  *
  * The tables are generated from a fixed data seed (so result digests can
  * be pinned in `query_mix_digests.tsv`); `--seed` drives the query order
  * and which query is re-verified after each pass. Every query's digest is
  * checked in the warm-up pass.
  */
final class QueryMixWorkload extends Workload {
  val opKind = "query"
  val opKindPrefix = "query:"
  val passKind = "pass"

  val textQueries = Seq("q17_inverted_index", "q195_pii_scrub", "q101_prefix_filter_join")
  val statsQueries = Seq("q45_percentiles", "q54_stat_aggregates", "q147_range_plan")
  val layoutQueries = Seq("q208_layout_stream_feed")
  val queries: Seq[String] = textQueries ++ statsQueries ++ layoutQueries

  private var dir: String = _
  private var order: Iterator[Seq[String]] = _
  private var passes = 0
  private var docTokens = 0L
  private lazy val pinned: Map[String, String] = {
    val src = Source.fromInputStream(getClass.getResourceAsStream("/query_mix_digests.tsv"), "UTF-8")
    try src.getLines().filterNot(_.startsWith("#")).map(_.split("\t"))
      .collect { case Array(q, d) => q -> d }.toMap
    finally src.close()
  }

  private def fn(q: String) = SparkEntry.queries(q)

  private def checkDigest(ctx: Ctx, q: String): Unit = {
    val got = Digest.of(fn(q)(ctx.spark, dir))
    ctx.verify(s"digest:$q", pinned.get(q) match {
      case Some(d) if d == got => None
      case Some(d) => Some(s"digest $got != pinned $d")
      case None => Some(s"no pinned digest (got $got)")
    })
  }

  def setup(ctx: Ctx): Unit = {
    dir = ctx.work.resolve("tables").toString
    ctx.setupPhase("tables")(DataGen.writeTables(ctx.spark, dir, docs = QueryMixWorkload.Docs,
      lineitems = QueryMixWorkload.Lineitems, seed = QueryMixWorkload.DataSeed))
    order = OpStream.passes(ctx.seed, queries)
    ctx.setupPhase("first_touch") {
      Tables.documents(ctx.spark, dir).count()
      Tables.lineitem(ctx.spark, dir).count()
      docTokens = InvertedIndex.words(Tables.documents(ctx.spark, dir), "doc_id", "text").count()
    }
    // Warm-up: the digest check executes every query in full.
    ctx.setupPhase("warmup")(queries.foreach(checkDigest(ctx, _)))
  }

  def step(ctx: Ctx): Unit = {
    val t = ctx.tracer
    val done = ctx.samplesOf("query").length
    order.next().foreach { q =>
      ctx.op(Seq("query", s"query:$q"), s"query:$q") {
        val df = t.span("query.build")(fn(q)(ctx.spark, dir))
        t.recordPhases(df.queryExecution)
        t.span("query.exec")(ctx.materialize(df))
      }(_ => None)
    }
    // A pass's time is the sum of its query times, and only complete
    // passes count.
    val times = ctx.samplesOf("query").drop(done)
    if (times.length == queries.length) ctx.sample("pass", times.sum)
    passes += 1
    checkDigest(ctx, queries((ctx.seed.toInt.abs + passes) % queries.length))
    if (t.isOn) {
      t.span("tables.resolve") { Tables.documents(ctx.spark, dir); Tables.lineitem(ctx.spark, dir) }
      t.span("tokenize")(ctx.materialize(
        InvertedIndex.words(Tables.documents(ctx.spark, dir), "doc_id", "text")))
    }
  }

  def report(ctx: Ctx): Seq[Metric] = {
    val qs = ctx.samplesOf("query").map(_ / 1000)
    val tail = Stats.tail(qs)
    Seq(
      Metric("query_mix_s", Stats.median(ctx.samplesOf("pass")) / 1000, "s"),
      Metric("query_p50_s", Stats.median(qs), "s"),
      Metric("query_tail_s", tail.map(_._2).getOrElse(Double.NaN), "s"),
      Metric("query_tail_percentile", tail.map(_._1).getOrElse(Double.NaN), "%")) ++
      queries.map(q => Metric(s"query.$q.p50_s", Stats.median(ctx.samplesOf(s"query:$q")) / 1000, "s"))
  }

  def layers(ctx: Ctx): Seq[Metric] = {
    val t = ctx.tracer
    val ops = t.all.filter(_.isOp)
    def perQuery(f: Span => Double) = if (ops.isEmpty) Double.NaN else ops.map(f).sum / ops.length
    val tokenizeMs = t.meanWall("tokenize")
    Seq(
      Metric("tables.resolve_ms", t.meanWall("tables.resolve"), "ms"),
      Metric("tokenize.ms", tokenizeMs, "ms"),
      Metric("tokenize.tokens_per_s", docTokens / (tokenizeMs / 1000), "1/s"),
      Metric("query.build_ms", t.meanWall("query.build"), "ms"),
      Metric("query.exec_ms", t.meanWall("query.exec"), "ms"),
      Metric("query.jobs", perQuery(s => t.inclusive(s).getOrElse("spark.jobs", 0.0)), "count"),
      Metric("query.driver_gap_ms", perQuery(t.driverGapMs), "ms")) ++
      t.topRules(5).map { case (k, v) => Metric(k, v / math.max(1, ops.length), "ms") } ++
      queries.map(q => Metric(s"query.$q.exec_ms",
        t.mean(s"query:$q")(s => t.subtree(s).filter(_.name == "query.exec").map(_.wallMs).sum), "ms"))
  }
}

object QueryMixWorkload {
  /** Fixed data seed: the pinned digests belong to these tables. */
  val DataSeed = 20241118L
  val Docs = 500
  val Lineitems = 60000L
}
