package graft.plans

import org.apache.spark.sql.{Column, Row, SparkSession}
import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
import org.apache.spark.sql.catalyst.analysis.UnresolvedRelation
import org.apache.spark.sql.catalyst.expressions.{And, Attribute, AttributeReference, EqualTo, Expression}
import org.apache.spark.sql.catalyst.plans.logical.{Assignment, DeleteAction, DeleteFromTable, InsertAction, InsertStarAction, LogicalPlan, MergeAction, MergeIntoTable, SubqueryAlias, UpdateAction, UpdateStarAction, UpdateTable}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.command.LeafRunnableCommand
import org.apache.spark.sql.functions.{coalesce, col, lit}
import org.apache.spark.sql.graftshim.DmlShim
import org.apache.spark.sql.types.LongType

import graft.operators.VersionedLayout

/** SQL DML over the versioned layout — the front door the engine's
  * Scala mutation API ([[graft.operators.VersionedLayout.appendMerge]] /
  * `appendDelete` / `appendUpsert`) was missing: a SQL-first consumer
  * addresses a layout as the two-part identifier `graft.`<dir>``
  * (directory path backquoted, exactly how the read-side TVFs take it
  * as a string literal) and writes ordinary ANSI DML —
  *
  * {{{
  *   MERGE INTO graft.`/tables/corpus` AS t USING updates AS s
  *     ON t.doc_id = s.doc_id
  *     WHEN MATCHED AND s.op = 'd' THEN DELETE
  *     WHEN MATCHED THEN UPDATE SET quality = s.quality
  *     WHEN NOT MATCHED THEN INSERT *
  *   DELETE FROM graft.`/tables/corpus` WHERE quality < 0.1
  *   UPDATE graft.`/tables/corpus` SET quality = quality * 2 WHERE lang = 'en'
  * }}}
  *
  * The rule rewrites the parsed [[MergeIntoTable]] / [[DeleteFromTable]]
  * / [[UpdateTable]] (whose `graft`-catalog target can never resolve)
  * into a leaf command that drives the SAME engine call the Scala API
  * makes — one commit-log version, the identical tombstone/segment
  * artifacts, the identical change-feed events — so every capability
  * behind the log (time travel, CDC, IVM, restore, compaction) sees a
  * SQL-issued mutation as native. This is the Delta-shaped extension
  * point (public knowledge: delta-io/delta's DeltaAnalysis resolution
  * rule); injected via [[graft.GraftExtensions]].
  *
  * Spelling contract (documented, loudly enforced): the MERGE `ON`
  * clause must be a conjunction equating exactly the layout's declared
  * key columns (`t.k = s.k` per key) — the engine merge joins on row
  * identity, and any other join shape would make the update
  * non-deterministic; matched arms are at most one UPDATE and one
  * DELETE (SQL first-match-wins order is honored by narrowing the
  * later arm with the earlier one's null-safe negation); `WHEN NOT
  * MATCHED BY SOURCE` (round 16) supports one UPDATE and one DELETE
  * arm over TARGET columns only — one commit, one feed batch, full
  * single-statement atomicity. Inside arm expressions target columns
  * resolve plain and source columns resolve through the engine's
  * `s_<name>` matched-frame namespace — the rewrite happens HERE, so
  * SQL authors write normal `t.x` / `s.x` references. Targets may be
  * the path spelling (`graft.`/dir``) or a catalog-registered name
  * (`graft.corpus` — see [[GraftCatalog]]).
  */
final class GraftDmlRule(spark: SparkSession) extends Rule[LogicalPlan] {

  private object GraftTarget {
    /** Matches both spellings of a DML target: the still-unresolved
      * `graft.<name-or-dir>` identifier, AND the relation the `graft`
      * catalog may have already resolved it to (rule-order race inside
      * the resolution fixpoint — whoever runs first must not lose the
      * rewrite). Yields the layout DIR: a path-shaped name is its own
      * address, a plain name resolves through the catalog registry;
      * an unknown plain name falls through to ordinary resolution for
      * the standard NoSuchTable error.
      */
    def unapply(plan: LogicalPlan): Option[(String, Option[String])] = plan match {
      // The OUTERMOST alias is the SQL-visible qualifier (`AS t`, or
      // the catalog's own name-alias layer when the user wrote none);
      // the catalog may stack SubqueryAlias(t, SubqueryAlias(graft.x,
      // relation)), so the core strips ALL layers.
      case SubqueryAlias(id, inner) => core(inner).map((_, Some(id.name)))
      case other => core(other).map((_, None))
    }
    private def core(plan: LogicalPlan): Option[String] = plan match {
      case SubqueryAlias(_, inner) => core(inner)
      case u: UnresolvedRelation if isGraft(u) =>
        GraftCatalog.resolveDir(spark, u.multipartIdentifier(1))
      case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
          if r.table.isInstanceOf[graft.streaming.GraftLayoutTable] =>
        Some(r.table.asInstanceOf[graft.streaming.GraftLayoutTable].dir)
      case _ => None
    }
    private def isGraft(u: UnresolvedRelation): Boolean =
      u.multipartIdentifier.length == 2 &&
        u.multipartIdentifier.head.equalsIgnoreCase("graft")
  }

  private def sourceQuals(plan: LogicalPlan): Set[String] = plan match {
    case SubqueryAlias(id, _) => Set(id.name.toLowerCase)
    case u: UnresolvedRelation => Set(u.multipartIdentifier.last.toLowerCase)
    case _ => Set.empty
  }

  /** Analyzer-cost fast path: DML statements are Catalyst Commands
    * (the COMMAND tree-pattern bit), and the analyzer re-applies every
    * resolution rule across its whole fixed point on EVERY DataFrame
    * analysis — so a query-shaped plan (no COMMAND bit anywhere) must
    * exit in O(1) instead of paying a full-tree traversal. Measured
    * (one JVM, q162 interleaved, rules on vs off): with the guards the
    * rules cost nothing measurable (3.57 vs 3.91 s min — parity);
    * unguarded cross-window readings suggested a double-digit tax on
    * plan-heavy queries.
    */
  override def apply(plan: LogicalPlan): LogicalPlan =
    if (!plan.containsPattern(org.apache.spark.sql.catalyst.trees.TreePattern.COMMAND)) plan
    else applySlow(plan)

  private def applySlow(plan: LogicalPlan): LogicalPlan = plan resolveOperators {
    case d: DeleteFromTable =>
      d.table match {
        case GraftTarget(dir, alias) =>
          GraftDeleteCommand(dir, alias, ExprHolder(d.condition))
        case _ => d
      }
    case u: UpdateTable =>
      u.table match {
        case GraftTarget(dir, alias) =>
          GraftUpdateCommand(dir, alias, UpdateSpec(u.assignments, u.condition))
        case _ => u
      }
    case m: MergeIntoTable =>
      m.targetTable match {
        case GraftTarget(dir, tAlias) =>
          GraftMergeCommand(dir, tAlias, sourceQuals(m.sourceTable),
            MergeSpec(m.sourceTable, m.mergeCondition, m.matchedActions,
              m.notMatchedActions, m.notMatchedBySourceActions))
        case _ => m
      }
  }
}

/** Opaque holders for the parsed (still unresolved) DML pieces: a
  * Catalyst command node's constructor args of type Expression /
  * Seq[Expression] / LogicalPlan are reflectively collected into
  * `expressions`/`children`, which would make the rewritten command
  * itself read as UNRESOLVED and fail checkAnalysis before it ever
  * runs. Wrapping them in plain case classes keeps them as inert data
  * — the command resolves the references itself, against the engine
  * frames, inside `run`.
  */
final case class ExprHolder(e: Expression)
final case class UpdateSpec(assignments: Seq[Assignment], condition: Option[Expression])
final case class MergeSpec(sourcePlan: LogicalPlan, mergeCond: Expression,
    matchedActions: Seq[MergeAction], notMatchedActions: Seq[MergeAction],
    notMatchedBySource: Seq[MergeAction])

/** Shared attribute-rewrite helpers for the DML commands: parsed DML
  * expressions arrive with `t.x` / `s.x` / bare references; the engine
  * evaluates matched-arm expressions over a frame holding target
  * columns plain and source columns as `s_<name>`, and insert-arm
  * expressions over the source's plain columns.
  */
private[plans] object GraftDml {

  def splitConj(e: Expression): Seq[Expression] = e match {
    case And(l, r) => splitConj(l) ++ splitConj(r)
    case x => Seq(x)
  }

  /** Inline Spark 4's `With` common-expression nodes (the parser
    * desugars BETWEEN and friends into them): a `With` rebuilt with
    * UNRESOLVED children calls `.dataType` on its CommonExpressionDef
    * and throws INTERNAL_ERROR before the frame can re-resolve it —
    * substituting each ref by its definition restores the plain
    * double-evaluated shape, which the engine frames resolve normally.
    */
  def inlineWith(e: Expression): Expression = e.transformUp {
    case w: org.apache.spark.sql.catalyst.expressions.With =>
      val defs = w.defs.map(d => d.id -> d.child).toMap
      w.child.transformUp {
        case r: org.apache.spark.sql.catalyst.expressions.CommonExpressionRef =>
          defs.getOrElse(r.id, throw new IllegalStateException(
            s"dangling common-expression ref ${r.id} in DML expression ${e.sql}"))
      }
  }

  /** Strip a (possibly alias-qualified) attribute to its bare column
    * name; refuse references qualified by anything else.
    */
  def bareName(e: Expression, quals: Set[String], what: String): String = e match {
    case a: UnresolvedAttribute => a.nameParts match {
      case Seq(n) => n
      case Seq(q, n) if quals(q.toLowerCase) => n
      case _ => throw new IllegalArgumentException(
        s"$what: cannot resolve '${a.name}' (unknown qualifier)")
    }
    case a: AttributeReference => a.name
    case other => throw new IllegalArgumentException(
      s"$what: expected a column reference, got ${other.sql}")
  }

  /** Matched-frame rewrite: source refs → `s_<name>`, target refs →
    * plain. Unqualified names resolve target-first (the matched frame
    * keeps target columns under their plain names). Already-RESOLVED
    * references (the analyzer may bind attributes to the catalog's
    * relation before this rule rewrites the command) route by exprId
    * against the source plan's output when known, by name otherwise —
    * and always convert back to unresolved names, since the engine
    * frame is a fresh plan with fresh ids.
    */
  def matchedFrameColumn(e: Expression, tQuals: Set[String], sQuals: Set[String],
      tgtCols: Set[String], srcCols: Set[String],
      srcExprIds: Set[Long] = Set.empty): Column =
    DmlShim.column(inlineWith(e).transformUp {
      case a: UnresolvedAttribute => a.nameParts match {
        case Seq(q, n) if sQuals(q.toLowerCase) => UnresolvedAttribute(Seq("s_" + n))
        case Seq(q, n) if tQuals(q.toLowerCase) => UnresolvedAttribute(Seq(n))
        case Seq(n) if tgtCols(n.toLowerCase) => a
        case Seq(n) if srcCols(n.toLowerCase) => UnresolvedAttribute(Seq("s_" + n))
        case _ => throw new IllegalArgumentException(
          s"cannot resolve '${a.name}' against the merge target or source")
      }
      case a: AttributeReference if srcExprIds(a.exprId.id)
          || (srcCols(a.name.toLowerCase) && !tgtCols(a.name.toLowerCase)) =>
        UnresolvedAttribute(Seq("s_" + a.name))
      case a: AttributeReference =>
        UnresolvedAttribute(Seq(a.name))
    })

  /** NOT-MATCHED-BY-SOURCE arm rewrite: only TARGET columns are in
    * scope (there is no source row on this side of the frame).
    */
  def targetFrameColumn(e: Expression, tQuals: Set[String],
      tgtCols: Set[String], srcExprIds: Set[Long] = Set.empty): Column =
    DmlShim.column(inlineWith(e).transformUp {
      case a: UnresolvedAttribute => a.nameParts match {
        case Seq(q, n) if tQuals(q.toLowerCase) => UnresolvedAttribute(Seq(n))
        case Seq(n) if tgtCols(n.toLowerCase) => a
        case _ => throw new IllegalArgumentException(
          s"merge NOT MATCHED BY SOURCE arm: cannot resolve '${a.name}' — " +
            "only target columns are in scope (there is no source row)")
      }
      case a: AttributeReference if srcExprIds(a.exprId.id) =>
        throw new IllegalArgumentException(
          s"merge NOT MATCHED BY SOURCE arm: '${a.name}' is a SOURCE column — " +
            "only target columns are in scope (there is no source row)")
      case a: AttributeReference => UnresolvedAttribute(Seq(a.name))
    })

  /** Insert-arm rewrite: only SOURCE columns are in scope, plain. */
  def sourceFrameColumn(e: Expression, sQuals: Set[String],
      srcCols: Set[String]): Column =
    DmlShim.column(inlineWith(e).transformUp {
      case a: UnresolvedAttribute => a.nameParts match {
        case Seq(q, n) if sQuals(q.toLowerCase) => UnresolvedAttribute(Seq(n))
        case Seq(n) if srcCols(n.toLowerCase) => a
        case _ => throw new IllegalArgumentException(
          s"merge INSERT arm: cannot resolve '${a.name}' against the source " +
            "(target columns are out of scope when nothing matched)")
      }
      case a: AttributeReference if srcCols(a.name.toLowerCase) =>
        UnresolvedAttribute(Seq(a.name))
      case a: AttributeReference => throw new IllegalArgumentException(
        s"merge INSERT arm: cannot resolve '${a.name}' against the source " +
          "(target columns are out of scope when nothing matched)")
    })

  /** Canonicalize an assignment's target column to the head schema's
    * spelling (DML text may differ in case).
    */
  def canonical(name: String, headCols: Seq[String], what: String): String =
    headCols.find(_.equalsIgnoreCase(name)).getOrElse(
      throw new IllegalArgumentException(s"$what assigns unknown column '$name'"))

  val dmlOutput: Seq[Attribute] = Seq(
    AttributeReference("version", LongType, nullable = false)(),
    AttributeReference("rows_written", LongType, nullable = false)(),
    AttributeReference("rows_deleted", LongType, nullable = false)())

  def resultOf(dir: String, ver: Int): Seq[Row] = {
    // By-version lookup, never `.last` — a concurrent writer committing
    // between our append and this read must not make the result row
    // report ANOTHER commit's counters (round-16 advisor).
    val e = VersionedLayout.log(dir).find(_.version == ver).getOrElse(
      throw new IllegalStateException(s"version $ver vanished from $dir's log"))
    Seq(Row(ver.toLong, math.max(e.rowsW, 0L), math.max(e.rowsD, 0L)))
  }
}

/** `DELETE FROM graft.`<dir>` WHERE <cond>` →
  * [[graft.operators.VersionedLayout.appendDelete]] — one `delete`
  * commit whose tombstones are the matching keys of the current head.
  */
final case class GraftDeleteCommand(dir: String, alias: Option[String],
    holder: ExprHolder) extends LeafRunnableCommand {

  override val output: Seq[Attribute] = GraftDml.dmlOutput

  override def run(spark: SparkSession): Seq[Row] = {
    val quals = alias.map(_.toLowerCase).toSet
    val cond = DmlShim.column(GraftDml.inlineWith(holder.e).transformUp {
      case a: UnresolvedAttribute => a.nameParts match {
        case Seq(q, n) if quals(q.toLowerCase) => UnresolvedAttribute(Seq(n))
        case _ => a
      }
      // Already-resolved refs (bound to the catalog relation before the
      // rewrite): back to names — the engine frame has fresh ids.
      case a: AttributeReference => UnresolvedAttribute(Seq(a.name))
    })
    val ver = VersionedLayout.appendDelete(spark, dir, cond)
    GraftDml.resultOf(dir, ver)
  }
}

/** `UPDATE graft.`<dir>` SET ... WHERE ...` →
  * [[graft.operators.VersionedLayout.appendUpsert]] — one
  * upsert-shaped commit: tombstone the matching rows, re-insert them
  * with the assignments applied. Key and `pid` assignments are refused
  * (row identity and placement are immutable; DELETE + INSERT is the
  * explicit spelling), same contract as the merge's update arm.
  */
final case class GraftUpdateCommand(dir: String, alias: Option[String],
    spec: UpdateSpec) extends LeafRunnableCommand {

  override val output: Seq[Attribute] = GraftDml.dmlOutput

  override def run(spark: SparkSession): Seq[Row] = {
    import spec.{assignments, condition}
    val quals = alias.map(_.toLowerCase).toSet
    def xlate(e: Expression): Column = DmlShim.column(GraftDml.inlineWith(e).transformUp {
      case a: UnresolvedAttribute => a.nameParts match {
        case Seq(q, n) if quals(q.toLowerCase) => UnresolvedAttribute(Seq(n))
        case _ => a
      }
      case a: AttributeReference => UnresolvedAttribute(Seq(a.name))
    })
    val head = VersionedLayout.currentVersion(dir)
    val headCols = VersionedLayout.readAsOf(spark, dir, head).columns.toSeq
    val keyish = (VersionedLayout.metaOf(dir).keyCols :+ "pid").map(_.toLowerCase).toSet
    val set: Map[String, Column] = assignments.map { asg =>
      val name = GraftDml.canonical(
        GraftDml.bareName(asg.key, quals, "UPDATE"), headCols, "UPDATE")
      require(!keyish(name.toLowerCase),
        s"UPDATE may not assign key/placement column '$name' — " +
          "DELETE + INSERT is the explicit spelling for a key change")
      name -> xlate(asg.value)
    }.toMap
    val cond = condition.map(xlate).getOrElse(lit(true))
    val ver = VersionedLayout.appendUpsert(spark, dir, cond,
      df => df.select(headCols.map(c => set.getOrElse(c, col(c)).as(c)): _*))
    GraftDml.resultOf(dir, ver)
  }
}

/** `MERGE INTO graft.`<dir>` ...` →
  * [[graft.operators.VersionedLayout.appendMerge]] — the full
  * three-arm Delta-shaped merge as ONE upsert-shaped commit. See
  * [[GraftDmlRule]] for the spelling contract.
  */
final case class GraftMergeCommand(dir: String, tAlias: Option[String],
    sQuals: Set[String], spec: MergeSpec) extends LeafRunnableCommand {

  override val output: Seq[Attribute] = GraftDml.dmlOutput

  override def run(spark: SparkSession): Seq[Row] = {
    import spec.{matchedActions, mergeCond, notMatchedActions, notMatchedBySource, sourcePlan}
    val source = DmlShim.ofRows(spark, sourcePlan)
    val srcCols = source.columns.map(_.toLowerCase).toSet
    // ExprIds of the source plan's output, when the analyzer resolved
    // it before this command was formed — the EXACT side router for
    // already-bound references (name overlap between target and source
    // is the norm in a merge).
    val srcExprIds: Set[Long] =
      if (sourcePlan.resolved) sourcePlan.output.map(_.exprId.id).toSet
      else Set.empty
    val head = VersionedLayout.currentVersion(dir)
    val target = VersionedLayout.readAsOf(spark, dir, head)
    val headCols = target.columns.toSeq
    val tgtCols = headCols.map(_.toLowerCase).toSet
    val tQuals = tAlias.map(_.toLowerCase).toSet
    val keyCols = VersionedLayout.metaOf(dir).keyCols

    // ON contract: a conjunction of `target.key = source.key`
    // equalities covering exactly the layout's key columns — the join
    // the engine merge performs. Anything else is refused with the
    // contract, not silently reinterpreted.
    def sideOf(a: Expression): (String, String) = a match {
      case u: UnresolvedAttribute => u.nameParts match {
        case Seq(q, n) if tQuals(q.toLowerCase) => ("t", n)
        case Seq(q, n) if sQuals(q.toLowerCase) => ("s", n)
        case Seq(n) if tgtCols(n.toLowerCase) => ("t", n)
        case Seq(n) if srcCols(n.toLowerCase) => ("s", n)
        case _ => throw new IllegalArgumentException(
          s"merge ON: cannot resolve '${u.name}'")
      }
      case r: AttributeReference =>
        (if (srcExprIds(r.exprId.id) || !tgtCols(r.name.toLowerCase)) "s" else "t", r.name)
      case other => throw new IllegalArgumentException(
        s"merge ON must equate key columns, got ${other.sql}")
    }
    val onKeys = GraftDml.splitConj(mergeCond).map {
      case EqualTo(l, r) =>
        val sides = Seq(sideOf(l), sideOf(r))
        val t = sides.collect { case ("t", n) => n }
        val sN = sides.collect { case ("s", n) => n }
        require(t.size == 1 && sN.size == 1 && t.head.equalsIgnoreCase(sN.head),
          s"merge ON must equate a target key with the same-named source " +
            s"column, got ${EqualTo(l, r).sql}")
        t.head.toLowerCase
      case other => throw new IllegalArgumentException(
        "merge ON must be a conjunction of target-key = source-key " +
          s"equalities, got ${other.sql}")
    }
    require(onKeys.toSet == keyCols.map(_.toLowerCase).toSet,
      s"merge ON must equate exactly the layout's key columns " +
        s"(${keyCols.mkString(", ")}) — got (${onKeys.distinct.mkString(", ")}); " +
        "the engine merge joins on row identity")

    def xm(e: Expression): Column =
      GraftDml.matchedFrameColumn(e, tQuals, sQuals, tgtCols, srcCols, srcExprIds)
    val keyish = (keyCols :+ "pid").map(_.toLowerCase).toSet

    // Matched arms: at most one UPDATE and one DELETE; SQL
    // first-match-wins is honored by narrowing the LATER arm with the
    // negation of the earlier arm's condition (the engine applies
    // delete-before-update natively).
    final case class Arm(kind: String, cond: Option[Expression],
        assigns: Option[Seq[Assignment]], star: Boolean)
    val arms = matchedActions.map {
      case u: UpdateAction => Arm("update", u.condition, Some(u.assignments), star = false)
      case _: UpdateStarAction => Arm("update", None, None, star = true)
      case d: DeleteAction => Arm("delete", d.condition, None, star = false)
      case other => throw new IllegalArgumentException(
        s"unsupported matched merge action: $other")
    }
    require(arms.count(_.kind == "update") <= 1 && arms.count(_.kind == "delete") <= 1,
      "merge supports at most one WHEN MATCHED UPDATE and one WHEN MATCHED DELETE arm")
    def condOr(a: Arm, dflt: Column): Column = a.cond.map(xm).getOrElse(dflt)
    val updArm = arms.find(_.kind == "update")
    val delArm = arms.find(_.kind == "delete")
    val updateCond: Option[Column] = updArm.map(condOr(_, lit(true)))
    val deleteCond: Option[Column] = delArm.map { d =>
      val raw = condOr(d, lit(true))
      // UPDATE listed first: a row satisfying both arms updates. ANSI
      // first-match-wins under three-valued logic: an earlier arm whose
      // condition evaluates NULL did NOT match, so the row must fall
      // through — coalesce the negated arm to false (a bare `!NULL` is
      // NULL and would silently drop the row from BOTH arms;
      // round-16 advisor).
      if (arms.headOption.exists(_.kind == "update") && updArm.isDefined)
        raw && !coalesce(updateCond.get, lit(false))
      else raw
    }
    val updateSet: Map[String, Column] = updArm match {
      case None => Map.empty
      case Some(a) if a.star =>
        // ANSI/Delta star expansion assigns EVERY target column from the
        // same-named source column and ERRORS when one is missing — a
        // silently-narrowed expansion would let a misspelled source
        // column leave its target column unchanged (round-16 advisor).
        // Key/pid columns are exempt (immutable under the merge; the ON
        // clause already proved the keys line up).
        val missing = headCols.filter(c =>
          !keyish(c.toLowerCase) && !srcCols(c.toLowerCase))
        require(missing.isEmpty,
          s"merge UPDATE SET *: source lacks target column(s) " +
            s"${missing.mkString(", ")} — star expansion assigns every " +
            "non-key target column; list assignments explicitly to update a subset")
        headCols.filter(c => !keyish(c.toLowerCase))
          .map(c => c -> col("s_" + c)).toMap
      case Some(a) =>
        // Key/pid IDENTITY assignments (k -> s.k) are dropped, not
        // refused: the analyzer's own star expansion and assignment
        // ALIGNMENT (when it runs before this rewrite) emit one
        // assignment per target column INCLUDING the keys — and under
        // the ON contract a same-named key assignment is a provable
        // no-op. A GENUINE key reassignment (k -> s.v) still reaches
        // the engine's keyish refusal.
        def refName(e: Expression): Option[String] = e match {
          case u: UnresolvedAttribute => Some(u.nameParts.last)
          case r: AttributeReference => Some(r.name)
          case c: org.apache.spark.sql.catalyst.expressions.Cast => refName(c.child)
          case _ => None
        }
        a.assigns.get.flatMap { asg =>
          val name = GraftDml.canonical(
            GraftDml.bareName(asg.key, tQuals, "merge UPDATE"), headCols, "merge UPDATE")
          if (keyish(name.toLowerCase)
              && refName(asg.value).exists(_.equalsIgnoreCase(name))) None
          else Some(name -> xm(asg.value))
        }.toMap
    }

    // NOT MATCHED BY SOURCE arms (round 16): target-only rows — at most
    // one UPDATE and one DELETE, first-match-wins narrowing with the
    // same null-safe coalesce as the matched arms; expressions resolve
    // over TARGET columns only. UPDATE SET * is meaningless here (there
    // is no source row) and refuses.
    def xt(e: Expression): Column =
      GraftDml.targetFrameColumn(e, tQuals, tgtCols, srcExprIds)
    val bsArms = notMatchedBySource.map {
      case u: UpdateAction => Arm("update", u.condition, Some(u.assignments), star = false)
      case _: UpdateStarAction => throw new IllegalArgumentException(
        "merge NOT MATCHED BY SOURCE cannot UPDATE SET * — there is no source row")
      case d: DeleteAction => Arm("delete", d.condition, None, star = false)
      case other => throw new IllegalArgumentException(
        s"unsupported NOT MATCHED BY SOURCE merge action: $other")
    }
    require(bsArms.count(_.kind == "update") <= 1 && bsArms.count(_.kind == "delete") <= 1,
      "merge supports at most one NOT MATCHED BY SOURCE UPDATE and one DELETE arm")
    def bsCondOr(a: Arm, dflt: Column): Column = a.cond.map(xt).getOrElse(dflt)
    val bsUpdArm = bsArms.find(_.kind == "update")
    val bsDelArm = bsArms.find(_.kind == "delete")
    val bsUpdateCond: Option[Column] = bsUpdArm.map(bsCondOr(_, lit(true)))
    val bsDeleteCond: Option[Column] = bsDelArm.map { d =>
      val raw = bsCondOr(d, lit(true))
      if (bsArms.headOption.exists(_.kind == "update") && bsUpdArm.isDefined)
        raw && !coalesce(bsUpdateCond.get, lit(false))
      else raw
    }
    val bsUpdateSet: Map[String, Column] = bsUpdArm match {
      case None => Map.empty
      case Some(a) => a.assigns.get.map { asg =>
        val name = GraftDml.canonical(
          GraftDml.bareName(asg.key, tQuals, "merge BY SOURCE UPDATE"),
          headCols, "merge BY SOURCE UPDATE")
        name -> xt(asg.value)
      }.toMap
    }

    // Not-matched arms: one INSERT, star or explicit-assignment.
    var insertNotMatched = false
    var insertCond: Option[Column] = None
    var insertSet: Option[Map[String, Column]] = None
    notMatchedActions match {
      case Seq() => ()
      case Seq(i: InsertStarAction) =>
        insertNotMatched = true
        insertCond = i.condition.map(GraftDml.sourceFrameColumn(_, sQuals, srcCols))
      case Seq(i: InsertAction) =>
        insertNotMatched = true
        insertCond = i.condition.map(GraftDml.sourceFrameColumn(_, sQuals, srcCols))
        insertSet = Some(i.assignments.map { asg =>
          val name = GraftDml.canonical(
            GraftDml.bareName(asg.key, tQuals, "merge INSERT"), headCols, "merge INSERT")
          name -> GraftDml.sourceFrameColumn(asg.value, sQuals, srcCols)
        }.toMap)
      case other => throw new IllegalArgumentException(
        s"merge supports at most one WHEN NOT MATCHED INSERT arm, got ${other.size}")
    }

    val ver = VersionedLayout.appendMerge(spark, dir, source, updateSet,
      deleteCond, updateCond, insertNotMatched, -1L, insertCond, insertSet,
      bsDeleteCond, bsUpdateCond, bsUpdateSet)
    GraftDml.resultOf(dir, ver)
  }
}
