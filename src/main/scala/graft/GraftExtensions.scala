package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

import graft.expressions.{StringPolyHash, VectorDotProduct}
import graft.plans.IntersectSizeRewrite

/** Registers the engine's custom Catalyst surface: expressions as SQL
  * functions (`spark.sql("SELECT vector_dot(a, b) ...")` works alongside
  * the Column API), TABLE functions for the versioned layout's time
  * travel (`FROM graft_layout_asof('/path', 2)`), and the optimizer
  * rule that fuses `size(array_intersect)` into a count-only
  * expression. Installed by GraftSession via `builder.withExtensions`;
  * external users can add it with
  * `spark.sql.extensions=graft.GraftExtensions`.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  /** A table function's arguments must be compile-time constants — the
    * layout directory and version resolve at PLAN time (the as-of read
    * assembles its source list from log metadata before any task runs),
    * exactly like a table format's `VERSION AS OF` literal.
    */
  private def constArg(args: Seq[Expression], i: Int, fn: String): Any = {
    require(i < args.length && args(i).foldable,
      s"$fn argument ${i + 1} must be a literal")
    args(i).eval()
  }

  /** A table function's layout argument accepts a PATH or (round 16) a
    * catalog-registered NAME — resolved through the same registry the
    * `graft` catalog serves, so `graft_layout_history('corpus')` and
    * `graft_layout_history('/tables/corpus')` are the same call. An
    * unknown plain name passes through for the engine's own
    * "no committed layout" refusal.
    */
  private def dirArg(args: Seq[Expression], i: Int, fn: String): String = {
    val raw = constArg(args, i, fn).toString
    graft.plans.GraftCatalog.resolveDir(SparkSession.active, raw).getOrElse(raw)
  }

  override def apply(e: SparkSessionExtensions): Unit = {
    e.injectOptimizerRule(_ => IntersectSizeRewrite)
    // SQL DML over the versioned layout (round 15): MERGE INTO /
    // DELETE / UPDATE statements addressed as `graft.`<dir>`` rewrite
    // to the engine's own appendMerge/appendDelete/appendUpsert — one
    // commit-log version, identical artifacts to the Scala API. See
    // graft.plans.GraftDmlRule.
    e.injectResolutionRule(session => new graft.plans.GraftDmlRule(session))
    // Batch reads of the layout format (round 15):
    // `spark.read.format("graft-layout").option("versionAsOf", v)` —
    // the DSv2 relation is swapped for the engine's as-of plan. See
    // graft.plans.GraftBatchReadRule.
    e.injectResolutionRule(session => new graft.plans.GraftBatchReadRule(session))
    e.injectFunction((
      FunctionIdentifier("vector_dot"),
      new ExpressionInfo(classOf[VectorDotProduct].getName, "vector_dot"),
      (args: Seq[Expression]) => VectorDotProduct(args(0), args(1)),
    ))
    e.injectFunction((
      FunctionIdentifier("string_poly_hash"),
      new ExpressionInfo(classOf[StringPolyHash].getName, "string_poly_hash"),
      (args: Seq[Expression]) => StringPolyHash(args.head),
    ))
    // SQL-FACING TIME TRAVEL (round 13): the Scala API
    // (VersionedLayout.readAsOf / readAsOfTimestamp) exposed as table
    // functions, so a pure-SQL consumer can address retained history
    // without touching the Scala surface:
    //   SELECT * FROM graft_layout_asof('/table/dir', 2)
    //   SELECT * FROM graft_layout_asof_ts('/table/dir', 1786800000000)
    // The builder returns the as-of read's LOGICAL PLAN — Catalyst
    // analyzes and optimizes it like any subquery (filters still push
    // into the underlying parquet scans), and every layout guarantee
    // (log-resolved sources, tombstone masking, era-gated identity
    // resolution, below-horizon refusal) rides along because it IS the
    // same plan the Scala API builds.
    e.injectTableFunction((
      FunctionIdentifier("graft_layout_asof"),
      new ExpressionInfo(classOf[graft.operators.VersionedLayout.LogEntry].getName,
        "graft_layout_asof"),
      (args: Seq[Expression]) => {
        val dir = dirArg(args, 0, "graft_layout_asof")
        val v = constArg(args, 1, "graft_layout_asof").toString.toInt
        graft.operators.VersionedLayout.readAsOf(SparkSession.active, dir, v)
          .queryExecution.logical: LogicalPlan
      },
    ))
    e.injectTableFunction((
      FunctionIdentifier("graft_layout_asof_ts"),
      new ExpressionInfo(classOf[graft.operators.VersionedLayout.LogEntry].getName,
        "graft_layout_asof_ts"),
      (args: Seq[Expression]) => {
        val dir = dirArg(args, 0, "graft_layout_asof_ts")
        val ts = constArg(args, 1, "graft_layout_asof_ts").toString.toLong
        graft.operators.VersionedLayout
          .readAsOfTimestamp(SparkSession.active, dir, ts)
          .queryExecution.logical: LogicalPlan
      },
    ))
    // DESCRIBE HISTORY as SQL — metadata-only (zero Spark jobs to
    // build), the frame a dashboard polls:
    //   SELECT * FROM graft_layout_history('/table/dir')
    e.injectTableFunction((
      FunctionIdentifier("graft_layout_history"),
      new ExpressionInfo(classOf[graft.operators.VersionedLayout.LogEntry].getName,
        "graft_layout_history"),
      (args: Seq[Expression]) => {
        val dir = dirArg(args, 0, "graft_layout_history")
        graft.operators.VersionedLayout.describeHistory(SparkSession.active, dir)
          .queryExecution.logical: LogicalPlan
      },
    ))
    // The DATA-SKIPPING read as SQL:
    //   SELECT * FROM graft_layout_asof_range('/table/dir', v, lo, hi)
    // — whole sources whose commit-time bounds miss [lo, hi] never even
    // enter the plan (log metadata only), and the range predicate still
    // pushes into the surviving parquet scans.
    // SQL-FACING CDC (round 14): the change feed as a table function —
    //   SELECT * FROM graft_layout_feed('/table/dir', fromV, toV)
    // serves the row-level changes in (fromV, toV] (insert rows +
    // delete before-images, stamped change_type/change_version); a
    // range crossing a typed re-add serves per-incarnation
    // `name__as_<type>` columns exactly like the Scala API. Pure-SQL
    // consumers subscribe window by window (changeFeedWindows names
    // the cuts) without touching Scala.
    e.injectTableFunction((
      FunctionIdentifier("graft_layout_feed"),
      new ExpressionInfo(classOf[graft.operators.VersionedLayout.LogEntry].getName,
        "graft_layout_feed"),
      (args: Seq[Expression]) => {
        val dir = dirArg(args, 0, "graft_layout_feed")
        val fromV = constArg(args, 1, "graft_layout_feed").toString.toInt
        val toV = constArg(args, 2, "graft_layout_feed").toString.toInt
        graft.operators.VersionedLayout
          .changeFeed(SparkSession.active, dir, fromV, toV)
          .queryExecution.logical: LogicalPlan
      },
    ))
    // The change feed addressed by TIMESTAMP window:
    //   SELECT * FROM graft_layout_feed_ts('/table/dir', fromMs, toMs)
    // — "every change since yesterday's sync" in pure SQL, resolved on
    // the same monotonicized commit-time axis as graft_layout_asof_ts.
    e.injectTableFunction((
      FunctionIdentifier("graft_layout_feed_ts"),
      new ExpressionInfo(classOf[graft.operators.VersionedLayout.LogEntry].getName,
        "graft_layout_feed_ts"),
      (args: Seq[Expression]) => {
        val dir = dirArg(args, 0, "graft_layout_feed_ts")
        val fromTs = constArg(args, 1, "graft_layout_feed_ts").toString.toLong
        val toTs = constArg(args, 2, "graft_layout_feed_ts").toString.toLong
        graft.operators.VersionedLayout
          .changeFeedByTimestamp(SparkSession.active, dir, fromTs, toTs)
          .queryExecution.logical: LogicalPlan
      },
    ))
    // DESCRIBE DETAIL as SQL — the one-row table summary beside
    // graft_layout_history (metadata-only, zero jobs):
    //   SELECT * FROM graft_layout_detail('/table/dir')
    e.injectTableFunction((
      FunctionIdentifier("graft_layout_detail"),
      new ExpressionInfo(classOf[graft.operators.VersionedLayout.LogEntry].getName,
        "graft_layout_detail"),
      (args: Seq[Expression]) => {
        val dir = dirArg(args, 0, "graft_layout_detail")
        graft.operators.VersionedLayout.describeDetail(SparkSession.active, dir)
          .queryExecution.logical: LogicalPlan
      },
    ))
    e.injectTableFunction((
      FunctionIdentifier("graft_layout_asof_range"),
      new ExpressionInfo(classOf[graft.operators.VersionedLayout.LogEntry].getName,
        "graft_layout_asof_range"),
      (args: Seq[Expression]) => {
        val dir = dirArg(args, 0, "graft_layout_asof_range")
        val v = constArg(args, 1, "graft_layout_asof_range").toString.toInt
        val lo = constArg(args, 2, "graft_layout_asof_range").toString.toLong
        val hi = constArg(args, 3, "graft_layout_asof_range").toString.toLong
        graft.operators.VersionedLayout
          .readAsOfRange(SparkSession.active, dir, v, lo, hi)
          .queryExecution.logical: LogicalPlan
      },
    ))
  }
}
