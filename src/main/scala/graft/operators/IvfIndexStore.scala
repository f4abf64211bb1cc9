package graft.operators

import java.nio.charset.StandardCharsets
import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Persisted, generation-versioned state for an incrementally
  * maintainable IVF (inverted-file) ANN index — the third maintained
  * index chain beside the retrieval index ([[IndexStore]]) and the LSH
  * dedup index ([[LshIndexStore]]), closing the symmetry: every index
  * the engine serves can now be maintained under continuous ingest
  * instead of rebuilt per batch.
  *
  * State model — what each generation directory `v<N>/` holds:
  *
  *  - `v0` (and any generation a [[compact]] produced): `centroids`
  *    (the trained cluster table — tiny, broadcast at every use) and a
  *    FULL `asg` snapshot (vec_id, cid — the inverted file), laid out
  *    `cid=`-PARTITIONED so a probe reads ONLY the probed clusters'
  *    directories: the file set, not just the filter, is pruned. The
  *    centroid table is FROZEN by admits (assignment against moving
  *    centroids would silently skew the index); drift is measured by
  *    the q173 drift audit and acted on by [[retrain]] — a CENTROID
  *    EPOCH flip inside the chain that migrates the live assignments
  *    and preserves txn stamps and time travel (see [[epochOf]]).
  *  - every admitted generation: `asg-delta` — ONLY the batch's
  *    assignments (computed by the caller against the broadcast frozen
  *    centroids; O(delta) compute and write, the corpus is never
  *    re-assigned).
  *  - every retracted generation: `retract-ids` — a tombstone segment.
  *    Tombstones are GENERATION-SCOPED (the [[LshIndexStore]] rule): a
  *    retract erases only rows from generations below it, so a vector
  *    retracted and later re-admitted is live again.
  *
  * [[compact]] folds the chain into a fresh full-snapshot generation
  * (single-source reads again); [[GenChain]] provides the
  * complete-tmp/manifest-last/atomic-rename commit protocol and the
  * txn-stamped exactly-once [[admitOnce]]/[[retractOnce]] for
  * streaming ingest.
  *
  * At 100 TB the economics: the corpus is assigned once (init) plus
  * O(delta) per batch; serving reads the centroid broadcast + only the
  * probed `cid=` directories of the base + the (delta-sized) segments;
  * the alternative — re-clustering per batch — is a full corpus
  * shuffle. Registry surface: q171 (chained admits == flat rebuild,
  * derivation oracle), q172 (full CRUD incl. retract), q173 (drift
  * audit: integer-exact per-generation assignment quality, the retrain
  * trigger).
  */
object IvfIndexStore {

  private def genDir(dir: String, gen: Int) = GenChain.genDir(dir, gen)

  /** Highest COMPLETE generation (manifest present), -1 when none. */
  def currentGeneration(dir: String): Int = GenChain.currentGeneration(dir)

  /** The frozen centroid table (cid, ce, cn) serving generation `gen`. */
  def centroidsOf(s: SparkSession, dir: String, gen: Int): DataFrame = {
    val b = GenChain.baseGenOf(dir, gen, "asg")
    SnapshotCache.parquet(s, SnapshotCache.genStamp(dir, b), None,
      Seq(s"${genDir(dir, b)}/centroids"))
  }

  /** The full-snapshot generation serving `gen` (the segment chain's
    * base) — exposed for audits that iterate the chain from its
    * serving base (e.g. the scheduled drift audit).
    */
  private[graft] def baseGeneration(dir: String, gen: Int): Int =
    GenChain.baseGenOf(dir, gen, "asg")

  /** Argmax-cosine assignment of `df`'s vectors against a centroid
    * table `(cid, ce, cn)` — THE single spelling of the IVF coarse
    * quantizer, shared by the query layer's builds and the pipeline's
    * frozen-centroid admits so the tie-break (highest cosine, ties to
    * the LOWEST cid) can never drift between paths. Argmax by
    * AGGREGATION, not a ranking window: `max(struct(cos, -cid))`
    * partial-aggregates map-side — each task sends one candidate row
    * per vector into the exchange, where a window must shuffle and
    * sort all n*k rows first. The centroid table broadcasts.
    */
  def assignAgainst(df: DataFrame, cents: DataFrame,
      id: String, vec: String, nrm: String): DataFrame =
    df.join(org.apache.spark.sql.functions.broadcast(cents))
      .select(col(id), col("cid"),
        (graft.functions.vectors.dot(col(vec), col("ce")) / (col(nrm) * col("cn"))).as("cos"))
      .groupBy(col(id))
      .agg(max(struct(col("cos"), (-col("cid")).as("neg"))).as("m"))
      .select(col(id), (-col("m.neg")).as("cid"))

  /** Assignments as of generation `gen`, restricted to the probed
    * clusters when `cids` is given: the base snapshot contributes ONLY
    * the named `cid=` partition directories (driver-side listing — the
    * scan's file set is pruned), the delta segments are O(delta) and
    * read whole with the filter pushed down; rows are masked by the
    * generation-scoped retract horizon.
    */
  def assignmentsOf(s: SparkSession, dir: String, gen: Int,
      cids: Option[Seq[Long]] = None): DataFrame = {
    val b = GenChain.baseGenOf(dir, gen, "asg")
    val basePath = s"${genDir(dir, b)}/asg"
    // The base's cid partition column is re-inferred (as int) from the
    // directory names — normalize every source to the long it was
    // written as, so the chain union is schema-stable.
    def norm(df: DataFrame): DataFrame =
      df.select(col("vec_id"), col("cid").cast("long").as("cid"))
    val bStamp = SnapshotCache.genStamp(dir, b)
    val baseDf = norm(cids match {
      case Some(ks) =>
        val dirs = ks.distinct.map(k => new java.io.File(basePath, s"cid=$k"))
          .filter(_.isDirectory).map(_.getAbsolutePath)
        if (dirs.isEmpty)
          SnapshotCache.parquet(s, bStamp, None, Seq(basePath)).where(lit(false))
        else SnapshotCache.parquet(s, bStamp, Some(basePath), dirs)
      case None => SnapshotCache.parquet(s, bStamp, None, Seq(basePath))
    })
    val segs = ((b + 1) to gen).flatMap { g =>
      val d = new java.io.File(genDir(dir, g), "asg-delta")
      if (d.isDirectory) {
        val df = norm(SnapshotCache.parquet(s, SnapshotCache.genStamp(dir, g),
          None, Seq(d.getAbsolutePath)))
        Seq((cids match {
          case Some(ks) => df.where(col("cid").isin(ks: _*))
          case None => df
        }).withColumn("_row_gen", lit(g)))
      } else Nil
    }
    val live = segs.foldLeft(baseDf.withColumn("_row_gen", lit(b)))(_ unionByName _)
    retractHorizons(s, dir, b, gen) match {
      case Some(h) =>
        live.join(h, Seq("vec_id"), "left")
          .where(col("_retract_gen").isNull || col("_row_gen") > col("_retract_gen"))
          .drop("_row_gen", "_retract_gen")
      case None => live.drop("_row_gen")
    }
  }

  /** The assignment rows generation `gen` CONTRIBUTED (the base
    * snapshot for a full generation, the admit delta for an admitted
    * one, empty for a retract) — the per-batch consumer surface the
    * drift audit (q173) folds, analogous to a change feed's insert arm.
    */
  def segmentOf(s: SparkSession, dir: String, gen: Int): DataFrame = {
    val full = new java.io.File(genDir(dir, gen), "asg")
    val delta = new java.io.File(genDir(dir, gen), "asg-delta")
    val stamp = SnapshotCache.genStamp(dir, gen)
    val src =
      if (full.isDirectory)
        SnapshotCache.parquet(s, stamp, None, Seq(full.getAbsolutePath))
      else if (delta.isDirectory)
        SnapshotCache.parquet(s, stamp, None, Seq(delta.getAbsolutePath))
      else {
        val b = GenChain.baseGenOf(dir, gen, "asg")
        SnapshotCache.parquet(s, SnapshotCache.genStamp(dir, b), None,
          Seq(s"${genDir(dir, b)}/asg")).where(lit(false))
      }
    src.select(col("vec_id"), col("cid").cast("long").as("cid"))
  }

  /** Per-vector HIGHEST retract generation in (baseGen, gen], if any
    * (shared logic in [[GenChain.retractHorizons]]).
    */
  private def retractHorizons(
      s: SparkSession, dir: String, baseGen: Int, gen: Int): Option[DataFrame] =
    GenChain.retractHorizons(s, dir, baseGen, gen, "vec_id")

  /** Generation 0: the trained centroid table + the base corpus's full
    * assignment snapshot (`cid=`-partitioned). No-op if a generation
    * already exists. A retrain is [[retrain]] — an epoch flip inside
    * the chain, NOT a fresh init into a new dir (the
    * centroid freeze is the store's contract — see class doc).
    */
  /** Write an assignment snapshot `cid=`-partitioned; an EMPTY one (a
    * compact after a total retract) writes unpartitioned — a zero-row
    * partitioned write leaves no footered file and the base becomes
    * unreadable, while the plain zero-row write keeps the schema.
    */
  private def writeAsg(asg: DataFrame, dest: String): Unit = {
    val a = asg.select(col("vec_id"), col("cid"))
    if (a.isEmpty) a.write.mode("overwrite").parquet(dest)
    else a.write.mode("overwrite").partitionBy("cid").parquet(dest)
  }

  def init(s: SparkSession, dir: String, centroids: DataFrame, baseAsg: DataFrame,
      txn: Long = -1L): Int = {
    if (currentGeneration(dir) >= 0) return currentGeneration(dir)
    val tmp = GenChain.freshTmp(dir, 0)
    centroids.write.mode("overwrite").parquet(s"$tmp/centroids")
    writeAsg(baseAsg, s"$tmp/asg")
    GenChain.publish(dir, 0, txn, tmp)
    0
  }

  /** Admit a delta batch's assignments (computed by the caller against
    * [[centroidsOf]] — broadcast, frozen) as generation N+1: one
    * O(delta) segment write, the corpus-sized base untouched. Contract:
    * admitted vec_ids must be novel or previously retracted — admitting
    * an already-live id duplicates its row (retract first, the same
    * discipline as the LSH store's re-admit path).
    */
  def admit(s: SparkSession, dir: String, deltaAsg: DataFrame, txn: Long = -1L): Int = {
    val gen = currentGeneration(dir)
    require(gen >= 0, s"$dir has no generation 0 — call init first")
    val next = gen + 1
    val tmp = GenChain.freshTmp(dir, next)
    deltaAsg.select(col("vec_id"), col("cid"))
      .write.mode("overwrite").parquet(s"$tmp/asg-delta")
    GenChain.publish(dir, next, txn, tmp)
    next
  }

  /** RETRACT vectors as generation N+1: a tombstone segment, applied
    * generation-scoped by [[assignmentsOf]]. O(retracted) write.
    */
  def retract(s: SparkSession, dir: String, vecIds: DataFrame, txn: Long = -1L): Int = {
    val gen = currentGeneration(dir)
    require(gen >= 0, s"$dir has no generation 0 — call init first")
    val next = gen + 1
    val tmp = GenChain.freshTmp(dir, next)
    vecIds.select(col("vec_id")).distinct()
      .coalesce(1).write.mode("overwrite").parquet(s"$tmp/retract-ids")
    GenChain.publish(dir, next, txn, tmp)
    next
  }

  /** Exactly-once admit/retract for streaming ingest (txn-stamp replay
    * dedupe, the [[LshIndexStore.admitOnce]] contract). Multi-writer
    * safe: a lost generation CAS rebases via
    * [[Cas.withRetry]]; the txn re-check inside each attempt
    * keeps a batch the winner committed from duplicating.
    */
  def admitOnce(s: SparkSession, dir: String, deltaAsg: DataFrame, txn: Long): Int =
    Cas.withRetry() {
      GenChain.committedGen(dir, txn).getOrElse(admit(s, dir, deltaAsg, txn))
    }

  def retractOnce(s: SparkSession, dir: String, vecIds: DataFrame, txn: Long): Int =
    Cas.withRetry() {
      GenChain.committedGen(dir, txn).getOrElse(retract(s, dir, vecIds, txn))
    }

  /** Centroid EPOCH serving generation `gen`: 0 is the init training;
    * each [[retrain]] increments it; [[compact]] carries it forward.
    * Epochs are what make the retrain signal actionable WITHOUT erasing
    * the chain: a generation's answers are always served under the
    * centroid table of its own epoch, so time travel across a retrain
    * reproduces exactly what each past pipeline run saw.
    */
  def epochOf(dir: String, gen: Int): Int = {
    val f = new java.io.File(genDir(dir, GenChain.baseGenOf(dir, gen, "asg")), "_epoch.txt")
    if (f.isFile)
      new String(Files.readAllBytes(f.toPath), StandardCharsets.UTF_8).trim.toInt
    else 0
  }

  private def writeEpochMarker(tmp: String, epoch: Int): Unit =
    Files.write(new java.io.File(tmp, "_epoch.txt").toPath,
      epoch.toString.getBytes(StandardCharsets.UTF_8))

  /** RETRAIN-AND-MIGRATE as generation N+1, centroid epoch E+1 — the
    * action the [[driftAudit q173 drift audit]]'s `retrain_recommended`
    * signal calls for, WITHOUT the old dead-end of a from-scratch
    * re-`init` (which erased the generation chain, its txn stamps, and
    * its time-travel history). The caller trains `newCentroids` (on
    * whatever corpus slice its policy dictates) and re-assigns exactly
    * the LIVE vectors against them (`newAsg` — one O(live) assignment
    * pass, the same broadcast-argmax shape as an admit's); the store
    * publishes both as a FULL-snapshot generation carrying the new
    * epoch. Everything the chain already guarantees is preserved:
    *
    *  - generations BELOW the retrain keep serving under their own
    *    epoch's centroids ([[centroidsOf]]/[[assignmentsOf]] route
    *    through [[GenChain.baseGenOf]], which the retrain generation
    *    now caps);
    *  - txn stamps survive (nothing is deleted — and the flip doubles
    *    as a txn-checkpoint moment like [[compact]]);
    *  - subsequent admits assign against [[centroidsOf]] at the NEW
    *    head — the epoch flip is transparent to the ingest loop as long
    *    as it reads the centroid table per batch (which the documented
    *    admit contract already requires).
    *
    * Like compact, a retrain is MAINTENANCE: single-writer with respect
    * to concurrent admits (an admit computed against the old epoch's
    * centroids must not rebase across the flip — its assignments would
    * be stale; serialize the flip between micro-batches).
    */
  def retrain(s: SparkSession, dir: String, newCentroids: DataFrame,
      newAsg: DataFrame, txn: Long = -1L): Int = {
    val gen = currentGeneration(dir)
    require(gen >= 0, s"$dir has no generation 0 — call init first")
    // A TRANSACTIONAL retrain is replay-checked here rather than via a
    // separate *Once entry point: a replayed flip would publish a
    // duplicate epoch, which no caller can ever want — the txn
    // parameter is only meaningful with exactly-once semantics.
    if (txn >= 0) GenChain.committedGen(dir, txn).foreach(return _)
    val next = gen + 1
    val tmp = GenChain.freshTmp(dir, next)
    newCentroids.select(col("cid"), col("ce"), col("cn"))
      .write.mode("overwrite").parquet(s"$tmp/centroids")
    writeAsg(newAsg, s"$tmp/asg")
    writeEpochMarker(tmp, epochOf(dir, gen) + 1)
    GenChain.publish(dir, next, txn, tmp)
    GenChain.checkpointTxns(dir)
    next
  }

  /** Fold the segment chain into a fresh full-snapshot generation
    * (centroids AND epoch carried forward unchanged — physical
    * reorganization, not a retrain), so reads are single-source again.
    */
  def compact(s: SparkSession, dir: String): Int = {
    val gen = currentGeneration(dir)
    require(gen >= 0, s"$dir has no generation 0 — call init first")
    val next = gen + 1
    val tmp = GenChain.freshTmp(dir, next)
    centroidsOf(s, dir, gen).write.mode("overwrite").parquet(s"$tmp/centroids")
    writeAsg(assignmentsOf(s, dir, gen), s"$tmp/asg")
    writeEpochMarker(tmp, epochOf(dir, gen))
    GenChain.publish(dir, next, -1L, tmp)
    // Maintenance moment doubles as the txn-index consolidation point:
    // replay detection stays O(1) + tail however long ingest runs.
    GenChain.checkpointTxns(dir)
    next
  }

  /** Drop generations BELOW `keepFrom` (must be a full-snapshot
    * generation — compact first).
    */
  def vacuumGenerations(dir: String, keepFrom: Int): Unit = {
    require(new java.io.File(genDir(dir, keepFrom), "asg").isDirectory,
      s"keepFrom=$keepFrom is not a full-snapshot generation of $dir — " +
        "vacuum would orphan the segment chain (compact first)")
    GenChain.vacuumGenerations(dir, keepFrom)
  }

  /** Chain-health audit: (segment count, rows a merged read scans,
    * rows a folded snapshot would hold) — the [[LshIndexStore.chainAudit]]
    * analog feeding the shared compaction policy.
    */
  def chainAudit(s: SparkSession, dir: String): (Int, Long, Long) = {
    val gen = currentGeneration(dir)
    require(gen >= 0, s"$dir has no generation 0 — call init first")
    val b = GenChain.baseGenOf(dir, gen, "asg")
    val segGens = ((b + 1) to gen).filter(g =>
      new java.io.File(genDir(dir, g), "asg-delta").isDirectory ||
        new java.io.File(genDir(dir, g), "retract-ids").isDirectory)
    val readRows = s.read.parquet(s"${genDir(dir, b)}/asg").count() +
      segGens.map { g =>
        val d = new java.io.File(genDir(dir, g), "asg-delta")
        if (d.isDirectory) s.read.parquet(d.getAbsolutePath).count() else 0L
      }.sum
    val foldedRows = assignmentsOf(s, dir, gen).count()
    (segGens.size, readRows, foldedRows)
  }

  /** Compact when the measured merge-read overhead or segment count
    * crosses the shared policy threshold. Returns whether it fired.
    */
  def compactIfNeeded(s: SparkSession, dir: String,
      maxOverheadMilli: Long = GenChain.recommendOverheadMilli,
      maxSegments: Int = GenChain.recommendMaxSegments): Boolean =
    GenChain.compactWhenNeeded(chainAudit(s, dir),
      compact(s, dir), maxOverheadMilli, maxSegments)

  /** Fire `doRetrain` when the drift audit (a q173-shaped frame with a
    * boolean `retrain_recommended` column, one row per generation —
    * bounded) flags any generation — the policy arm that closes the
    * audit -> [[retrain]] loop, symmetric with [[compactIfNeeded]].
    * Returns whether it fired.
    */
  def retrainWhenRecommended(audit: DataFrame)(doRetrain: => Int): Boolean = {
    val fire = audit.where(col("retrain_recommended")).limit(1).count() > 0
    if (fire) { doRetrain; () }
    fire
  }
}
