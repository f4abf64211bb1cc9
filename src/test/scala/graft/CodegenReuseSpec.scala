package graft

import org.apache.spark.metrics.source.CodegenMetrics

/** Warm queries reuse their compiled code. Spark caches generated classes
  * JVM-wide, keyed by source and by the task's classloader; `GraftSession`
  * sizes that cache to the engine's working set and keeps one classloader
  * for every session, including the clone each streaming query runs on.
  * Spark's 100-entry default evicts part of a query mix whose passes need
  * more classes than that, so every pass recompiles; per-session
  * classloaders make a restarted stream recompile its micro-batch classes.
  */
class CodegenReuseSpec extends SparkSpec {

  /** Text, statistics, cube and window queries whose plans do not depend on
    * task timing. A cold pass over them compiles ~235 classes at sf0.001.
    */
  private val mix = Seq("q17_inverted_index", "q195_pii_scrub", "q101_prefix_filter_join",
    "q46_curation", "q81_repetition", "q40_tfidf_top_terms", "q18_word_doc_freq",
    "q45_percentiles", "q54_stat_aggregates", "q01_pricing_summary", "q38_cube",
    "q59_grouping_sets", "q44_pivot", "q53_lead_lag")

  private def run(q: String): Unit =
    SparkEntry.queries(q)(spark, sf0001).write.format("noop").mode("overwrite").save()

  /** Classes Janino compiled while `body` ran (cache hits compile none). */
  private def compiled(body: => Unit): Long = {
    val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    body
    CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
  }

  test("a warm pass over a query mix, in another order, compiles no class") {
    // The first pass may be cold; the second may still meet plans that a
    // first run changes (cached tables), so the third pass is the check.
    val cold = compiled(mix.foreach(run))
    val warm = compiled(mix.foreach(run))
    val reordered = compiled(mix.reverse.foreach(run))
    info(s"passes compiled $cold, $warm and $reordered classes")
    assert(reordered == 0, s"the reordered pass recompiled $reordered classes")
  }

  test("a stream started again compiles no class") {
    val q = "q208_layout_stream_feed"
    val first = compiled(run(q))
    val second = compiled(run(q))
    info(s"first run compiled $first classes, second run $second")
    assert(second == 0, s"the second run recompiled $second classes")
  }
}
