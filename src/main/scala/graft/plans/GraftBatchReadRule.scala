package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
import org.apache.spark.sql.catalyst.expressions.Alias
import org.apache.spark.sql.catalyst.plans.logical.{DeleteFromTable, LogicalPlan, MergeIntoTable, Project, UpdateTable, V2WriteCommand}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation

import graft.operators.VersionedLayout
import graft.streaming.GraftLayoutTable

/** Resolves `spark.read.format("graft-layout")` relations into the
  * engine's own AS-OF plan. The DSv2 [[GraftLayoutTable]] is a
  * metadata-only handle (path + pinned version + schema); this rule
  * swaps its relation for `VersionedLayout.readAsOf`'s LOGICAL plan —
  * the union of parquet scans, tombstone masks, log-resolved sources, and
  * era-gated identity resolution the Scala API builds — so Catalyst
  * treats a format-read exactly like an API read: filters and column
  * pruning still push into the surviving parquet scans, and every
  * layout guarantee rides along because it IS the same plan (the move
  * `graft_layout_asof` already made for SQL text, completed for the
  * DataFrameReader surface).
  *
  * The swap happens during resolution, so operators above may already
  * have bound to the relation's attribute ids — the substituted plan
  * is wrapped in a Project that re-publishes the as-of columns under
  * the ORIGINAL ids (standard relation-substitution discipline), which
  * the optimizer then collapses away.
  */
final class GraftBatchReadRule(spark: SparkSession) extends Rule[LogicalPlan] {

  /** Analyzer-cost fast path: a GraftLayoutTable relation can only
    * exist after the provider's `getTable` ran in this JVM
    * ([[graft.streaming.GraftLayoutTable.everCreated]]) — until then
    * every analysis exits in O(1), and only sessions actually using
    * the batch format pay the per-plan traversal. Same rationale as
    * [[GraftDmlRule]]'s COMMAND guard (measured ~35% analyzer tax on
    * plan-heavy queries without it).
    */
  override def apply(plan: LogicalPlan): LogicalPlan = {
    if (graft.streaming.GraftLayoutTable.everCreated.get() == 0L) return plan
    // WRITE/DML TARGET relations must keep their relation identity —
    // AppendData/OverwriteByExpression resolve their V1 fallback write
    // against the table, and the DML rule reads the target's dir off
    // the relation. Collect them by reference so only READ-position
    // relations are swapped (round 16, with the write front doors).
    val writeTargets = java.util.Collections.newSetFromMap(
      new java.util.IdentityHashMap[LogicalPlan, java.lang.Boolean]())
    // Write/DML plans are Catalyst Commands — a query-shaped plan (no
    // COMMAND bit) cannot hold a write target, so it skips the
    // collection pass entirely (one bitset check).
    if (plan.containsPattern(org.apache.spark.sql.catalyst.trees.TreePattern.COMMAND))
      plan.foreach {
        case w: V2WriteCommand => w.table.foreach(writeTargets.add)
        case m: MergeIntoTable => m.targetTable.foreach(writeTargets.add)
        case d: DeleteFromTable => d.table.foreach(writeTargets.add)
        case u: UpdateTable => u.table.foreach(writeTargets.add)
        case _ => ()
      }
    plan resolveOperators {
      case r: DataSourceV2Relation if r.table.isInstanceOf[GraftLayoutTable]
          && !writeTargets.contains(r)
          // A create-mode handle (df.write against an empty path) has
          // no committed version to read.
          && r.table.asInstanceOf[GraftLayoutTable].asOfVersion >= 0 =>
        val t = r.table.asInstanceOf[GraftLayoutTable]
        val asOf = VersionedLayout.readAsOf(spark, t.dir, t.asOfVersion)
          .queryExecution.logical
        Project(r.output.map(o =>
          Alias(UnresolvedAttribute(Seq(o.name)), o.name)(exprId = o.exprId)), asOf)
    }
  }
}
