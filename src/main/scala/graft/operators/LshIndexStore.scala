package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Persisted, generation-versioned state for the incrementally
  * maintainable LSH dedup index ([[Dedup.incrementalPairBands]]).
  *
  * State model — what each generation directory `v<N>/` holds:
  *
  *  - `v0` (and any generation a [[compact]] produced): FULL snapshots
  *    `bands` (doc_id, band, key) and `counts` (band, key, n).
  *  - every admitted generation: `bands-delta` / `counts-delta` —
  *    ONLY the batch's band rows and per-bucket increments. The big
  *    tables are append-only segments, so an admit WRITES O(delta),
  *    never a corpus-proportional rewrite (the claim the admit-slope
  *    harness measures); readers union base + segments, pruned by a
  *    (band, key)-bucketed layout at scale.
  *  - every admitted/retracted generation: `touched-buckets` (the
  *    (band, key) set the batch touched) + `pairbands-delta` (the
  *    recomputed pair rows of exactly those buckets). The pair table —
  *    the index's PRODUCT, sized by the candidate set — is therefore
  *    ALSO segmented: a mutation writes O(delta + touched buckets),
  *    never a candidate-mass rewrite (through round 8 it was rewritten
  *    whole per admit — the store's one acknowledged scale gap, closed
  *    in round 9). Readers resolve LAST-TOUCH-WINS per bucket: a
  *    bucket's pair rows come from the latest segment that touched it,
  *    or from the base snapshot if none did. The touch-horizon table is
  *    touched-buckets-sized (delta-scale), so the resolve join
  *    broadcasts at scale.
  *
  * [[compact]] bounds what continuous ingest grows without limit: it
  * folds the segment chain into a fresh full-snapshot generation (the
  * q152 discipline for the retrieval index), after which reads are
  * single-source again. Admits chain from wherever the head is.
  *
  * Commit protocol (the [[GenChain]] one):
  * a generation is built complete under a dot-prefixed tmp dir — the
  * manifest JSON written LAST inside it — then atomically renamed to
  * `v<N>`, so readers only ever see complete generations and a crashed
  * admit leaves a tmp the next admit overwrites. The manifest carries a
  * `txn` stamp: [[admitOnce]] skips a batch whose stamp any existing
  * generation already records, which makes a replayed micro-batch
  * (a restarted `foreachBatch` stream re-delivering) commit exactly
  * once — the same idempotence contract as
  * [[VersionedLayout.appendInsertOnce]], now for index maintenance.
  *
  * MEASURED (LshAdmitSlope, sf0.1, warm, 2026-08-14, segmented pair
  * table + bkt-partitioned base band AND count state + pruned
  * retract): against a 5,000-doc vs a 50,000-doc base index —
  * pair-table mass 73,214 vs 761,526 rows (10.4x the candidate
  * product) — a fixed 500-doc admit costs 2.02 s vs 2.23 s (1.10x
  * across 10x corpus AND 10.4x candidate mass), a fixed 500-doc
  * retract 2.56 s vs 2.62 s (1.02x; survivor and count fetches
  * bucket-pruned, one index-sized locating scan remains on the id-only
  * path — [[retractBands]] is the fully pruned CDC shape), and compact
  * (the only state-proportional op left, by design) 3.10 s vs 3.90 s,
  * while the ground-up rebuild grows 2.11 s -> 3.08 s. Absolute times
  * swing ~±25% with machine load between harness runs; the flat
  * mutation slopes do not. At 100 TB the rebuild side is a full corpus
  * re-signature + corpus-wide shuffle per batch, the admit side is not.
  */
object LshIndexStore {

  private def genDir(dir: String, gen: Int) = GenChain.genDir(dir, gen)
  private def manifest(dir: String, gen: Int) = GenChain.manifest(dir, gen)

  /** Highest COMPLETE generation (manifest present), -1 when none. */
  def currentGeneration(dir: String): Int = GenChain.currentGeneration(dir)

  /** Band rows as of generation `gen`: base snapshot + delta segments,
    * minus every doc a retract segment tombstoned (q149's semantics).
    *
    * Tombstones are GENERATION-SCOPED: a retract at generation r erases
    * only rows that existed when it committed (source generation < r),
    * so a doc retracted and later re-admitted is live again — the
    * re-admit's delta rows sit ABOVE the tombstone's horizon. Each row
    * is tagged with its segment's generation and kept iff it is above
    * the doc's highest tombstone; the horizon table is
    * retracted-docs-sized (tiny next to the corpus), so Spark
    * broadcasts the join at scale.
    */
  def bandsOf(s: SparkSession, dir: String, gen: Int): DataFrame =
    prunedBands(s, dir, gen, None)

  /** Number of hash partitions the BASE state tables — bands AND
    * bucket counts (init/compact outputs) — are laid out in
    * (`bkt = murmur3(band, key) mod N`). The
    * scale knob that makes the admit path's touched-bucket fetch
    * PARTITION-PRUNED: an admit touching k state buckets reads at most
    * k partition directories of the corpus-proportional base instead
    * of scanning it whole — the same reason a 100 TB deployment
    * buckets its index state. Delta SEGMENTS deliberately stay
    * unpartitioned: they are O(delta)-sized, so reading one whole is
    * already bounded, and an N-way partitioned write would turn every
    * admit into N tiny files (measured ~1 s/admit of pure write
    * overhead at sf0.1 when deltas were partitioned too).
    */
  val stateBuckets = 32

  private def bktOf(band: org.apache.spark.sql.Column, key: org.apache.spark.sql.Column) =
    pmod(hash(band, key), lit(stateBuckets))

  /** [[bandsOf]] restricted to the given state partitions (`bkts`):
    * only the named `bkt=` partition directories enter the relation
    * (driver-side listing of <= [[stateBuckets]] dirs), so the scan's
    * file set — not just its filters — is pruned (inputFiles-asserted
    * in DedupSpec). `None` = all partitions.
    */
  private[graft] def prunedBands(
      s: SparkSession, dir: String, gen: Int, bkts: Option[Seq[Int]]): DataFrame = {
    val b = GenChain.baseGenOf(dir, gen, "bands")
    val parts =
      readPruned(s, s"${genDir(dir, b)}/bands", SnapshotCache.genStamp(dir, b), bkts)
        .map(_.drop("bkt").withColumn("_row_gen", lit(b))).toSeq ++
        ((b + 1) to gen).flatMap { g =>
          // Delta segments are unpartitioned (O(delta), bounded to read
          // whole; the recompute's semi-join filters).
          val d = new java.io.File(genDir(dir, g), "bands-delta")
          if (d.isDirectory)
            readPruned(s, d.getAbsolutePath, SnapshotCache.genStamp(dir, g), bkts)
              .map(_.drop("bkt").withColumn("_row_gen", lit(g)))
          else None
        }
    val live = parts.reduceOption(_ unionByName _)
      .getOrElse( // no requested bucket anywhere: empty, schema from base
        SnapshotCache.parquet(s, SnapshotCache.genStamp(dir, b), None,
          Seq(s"${genDir(dir, b)}/bands")).where(lit(false))
          .drop("bkt").withColumn("_row_gen", lit(b)))
    retractHorizons(s, dir, b, gen) match {
      case Some(h) =>
        live.join(h, Seq("doc_id"), "left")
          .where(col("_retract_gen").isNull || col("_row_gen") > col("_retract_gen"))
          .drop("_row_gen", "_retract_gen")
      case None => live.drop("_row_gen")
    }
  }

  /** Write a BASE state table (bands or counts — both keyed by
    * (band, key)) in the `bkt`-partitioned layout.
    */
  private def writeBands(df: DataFrame, dest: String): Unit = {
    // An EMPTY frame (a compact after a total retract) writes
    // unpartitioned: a zero-row partitionBy write leaves no footered
    // file at all — the base would become unreadable — while a zero-row
    // plain write leaves one schema-carrying part ([[readPruned]]
    // treats it as legacy-unpartitioned and reads it whole).
    val keyed = df.withColumn("bkt", bktOf(col("band"), col("key")))
    if (keyed.isEmpty) keyed.drop("bkt").write.mode("overwrite").parquet(dest)
    else keyed.write.mode("overwrite").partitionBy("bkt").parquet(dest)
  }

  /** The distinct state buckets a (band, key)-keyed frame touches —
    * bounded by [[stateBuckets]], collected driver-side to drive the
    * partition-pruned fetches.
    */
  private def bktsOf(df: DataFrame): Seq[Int] =
    df.select(bktOf(col("band"), col("key")).as("bkt")).distinct()
      .collect().map(_.getInt(0)).toSeq

  /** Read a base state table restricted to `bkts` partition dirs when
    * given (file-set pruning; legacy unpartitioned tables read whole),
    * `None` result = the table holds none of the requested buckets.
    */
  private def readPruned(s: SparkSession, path: String, stamp: String,
      bkts: Option[Seq[Int]]): Option[DataFrame] = {
    def isPartitioned(f: java.io.File): Boolean =
      Option(f.listFiles()).exists(_.exists(_.getName.startsWith("bkt=")))
    bkts match {
      case Some(ks) if isPartitioned(new java.io.File(path)) =>
        val dirs = ks.distinct
          .map(k => new java.io.File(path, s"bkt=$k"))
          .filter(_.isDirectory).map(_.getAbsolutePath)
        if (dirs.isEmpty) None
        else Some(SnapshotCache.parquet(s, stamp, Some(path), dirs))
      case _ => Some(SnapshotCache.parquet(s, stamp, None, Seq(path)))
    }
  }

  /** Per-doc HIGHEST retract generation in (baseGen, gen], if any —
    * the tombstone horizon [[bandsOf]] scopes rows against (shared
    * logic in [[GenChain.retractHorizons]]). A retract generation never
    * carries band rows of its own, so strict `>` on the row side is
    * exact.
    */
  private def retractHorizons(
      s: SparkSession, dir: String, baseGen: Int, gen: Int): Option[DataFrame] =
    GenChain.retractHorizons(s, dir, baseGen, gen, "doc_id")

  /** Bucket counts as of generation `gen`: base snapshot + per-segment
    * increments, sum-merged (admits grow them, retracts net them out
    * with negative deltas). With `bkts` the base snapshot contributes
    * only the named state partitions (file-set pruning — the counts
    * base is (band, key)-keyed and bkt-partitioned like the band state,
    * so a mutation's count fetch never scans the index-sized table);
    * deltas are O(delta) and read whole.
    */
  def countsOf(s: SparkSession, dir: String, gen: Int,
      bkts: Option[Seq[Int]] = None): DataFrame = {
    val b = GenChain.baseGenOf(dir, gen, "bands")
    val parts =
      readPruned(s, s"${genDir(dir, b)}/counts", SnapshotCache.genStamp(dir, b), bkts)
        .map(_.drop("bkt")).toSeq ++
        ((b + 1) to gen).flatMap { g =>
          val d = new java.io.File(genDir(dir, g), "counts-delta")
          if (d.isDirectory)
            readPruned(s, d.getAbsolutePath, SnapshotCache.genStamp(dir, g), bkts)
              .map(_.drop("bkt"))
          else None
        }
    parts.reduceOption(_ unionByName _)
      .getOrElse(SnapshotCache.parquet(s, SnapshotCache.genStamp(dir, b), None,
        Seq(s"${genDir(dir, b)}/counts"))
        .drop("bkt").where(lit(false)))
      .groupBy(col("band"), col("key")).agg(sum(col("n")).as("n"))
  }

  /** Pair-table rows as of generation `gen`: base full snapshot +
    * per-generation recompute segments, resolved LAST-TOUCH-WINS per
    * (band, key) bucket — a bucket's rows come from the newest segment
    * whose mutation touched it (base rows and superseded segment rows
    * drop out), so a mutation never rewrites the candidate-sized table.
    */
  private def pairBandsOf(s: SparkSession, dir: String, gen: Int): DataFrame = {
    val b = GenChain.baseGenOf(dir, gen, "bands")
    val segGens = ((b + 1) to gen).filter(g =>
      new java.io.File(genDir(dir, g), "touched-buckets").isDirectory)
    val base = SnapshotCache.parquet(s, SnapshotCache.genStamp(dir, b), None,
      Seq(s"${genDir(dir, b)}/pairbands"))
    if (segGens.isEmpty) base
    else {
      // Explicit schemas: an all-over-cap mutation legitimately writes a
      // ZERO-ROW recompute segment, which may carry no parquet footer to
      // infer from.
      val pairSchema = base.schema
      val bucketSchema = org.apache.spark.sql.types.StructType(pairSchema.take(2))
      val horizon = segGens
        .map(g => s.read.schema(bucketSchema)
          .parquet(s"${genDir(dir, g)}/touched-buckets")
          .withColumn("_touch_gen", lit(g)))
        .reduce(_ unionByName _)
        .groupBy(col("band"), col("key")).agg(max(col("_touch_gen")).as("_touch_gen"))
      segGens
        .map(g => s.read.schema(pairSchema)
          .parquet(s"${genDir(dir, g)}/pairbands-delta")
          .withColumn("_row_gen", lit(g)))
        .foldLeft(base.withColumn("_row_gen", lit(b)))(_ unionByName _)
        .join(horizon, Seq("band", "key"), "left")
        .where(col("_touch_gen").isNull || col("_row_gen") === col("_touch_gen"))
        .drop("_row_gen", "_touch_gen")
    }
  }

  /** Publish generation `gen` from a complete tmp: manifest last, then
    * one atomic rename — a lost publish race fails loudly rather
    * than clobbering the committed generation (protocol in [[GenChain]]).
    */
  private[graft] def publish(dir: String, gen: Int, txn: Long, tmp: String): Unit =
    GenChain.publish(dir, gen, txn, tmp)

  private def freshTmp(dir: String, gen: Int): String = GenChain.freshTmp(dir, gen)

  /** Generation 0: full index state from the initial corpus's band
    * rows. No-op if a generation already exists.
    */
  def init(s: SparkSession, dir: String, bands: DataFrame,
      maxBucket: Int = Dedup.defaultMaxBucket, txn: Long = -1L): Int = {
    if (currentGeneration(dir) >= 0) return currentGeneration(dir)
    val b = bands.localCheckpoint() // feeds all three state writes
    val tmp = freshTmp(dir, 0)
    writeBands(b, s"$tmp/bands")
    writeBands(Dedup.bucketCounts(b), s"$tmp/counts")
    Dedup.indexPairBands(b, maxBucket).write.mode("overwrite").parquet(s"$tmp/pairbands")
    publish(dir, 0, txn, tmp)
    0
  }

  /** Admit a delta batch as generation N+1: the batch's band rows,
    * bucket increments, touched-bucket set, and recomputed pair rows of
    * exactly the touched buckets ALL land as SEGMENTS — an admit writes
    * O(delta + touched buckets) and never reads or rewrites the
    * candidate-sized pair table ([[Dedup.touchedPairDelta]]: untouched
    * buckets stay wherever they live, touched buckets recompute from a
    * bounded fetch, over-cap buckets retract by superseding with an
    * empty recompute). Returns the new generation number.
    */
  def admit(s: SparkSession, dir: String, deltaBands: DataFrame,
      maxBucket: Int = Dedup.defaultMaxBucket, txn: Long = -1L): Int = {
    val gen = currentGeneration(dir)
    require(gen >= 0, s"$dir has no generation 0 — call init first")
    val delta = deltaBands.localCheckpoint() // feeds segments + pair maintenance
    val next = gen + 1
    val tmp = freshTmp(dir, next)
    delta.write.mode("overwrite").parquet(s"$tmp/bands-delta")
    Dedup.bucketCounts(delta).write.mode("overwrite").parquet(s"$tmp/counts-delta")
    // The touched-bucket fetches (bands AND counts) read ONLY the state
    // partitions the delta's buckets hash into — partition-pruned,
    // never an index-sized scan (restricting the base side is safe: the
    // recompute's keep set is a subset of the delta's buckets).
    val touchedBkts = bktsOf(delta)
    val (touched, recomputed) = Dedup.touchedPairDelta(
      prunedBands(s, dir, gen, Some(touchedBkts)),
      countsOf(s, dir, gen, Some(touchedBkts)), delta, maxBucket)
    touched.write.mode("overwrite").parquet(s"$tmp/touched-buckets")
    recomputed.write.mode("overwrite").parquet(s"$tmp/pairbands-delta")
    publish(dir, next, txn, tmp)
    next
  }

  /** Exactly-once admit for streaming ingest: skip the batch if any
    * generation's manifest already records `txn` (the replayed
    * micro-batch of a restarted stream), else admit it. Multi-writer
    * safe: a lost generation CAS rebases via
    * [[Cas.withRetry]], and the txn re-check inside each
    * attempt keeps a batch the winner committed from duplicating.
    */
  def admitOnce(s: SparkSession, dir: String, deltaBands: DataFrame, txn: Long,
      maxBucket: Int = Dedup.defaultMaxBucket): Int =
    Cas.withRetry() {
      committedGen(dir, txn).getOrElse(admit(s, dir, deltaBands, maxBucket, txn))
    }

  /** Exactly-once retract (same txn-stamp contract as [[admitOnce]]). */
  def retractOnce(s: SparkSession, dir: String, docIds: DataFrame, txn: Long,
      maxBucket: Int = Dedup.defaultMaxBucket): Int =
    Cas.withRetry() {
      committedGen(dir, txn).getOrElse(retract(s, dir, docIds, maxBucket, txn))
    }

  /** Exactly-once [[retractBands]] — the streaming CDC-erasure shape:
    * the tombstone stream carries the docs' band rows, every state read
    * is bucket-pruned, and the txn stamp dedupes replayed batches.
    */
  def retractBandsOnce(s: SparkSession, dir: String, removedBands: DataFrame, txn: Long,
      maxBucket: Int = Dedup.defaultMaxBucket): Int =
    Cas.withRetry() {
      committedGen(dir, txn).getOrElse(retractBands(s, dir, removedBands, maxBucket, txn))
    }

  private def committedGen(dir: String, txn: Long): Option[Int] =
    GenChain.committedGen(dir, txn)

  /** RETRACT documents from the index as generation N+1 — the q149
    * analog for the dedup side, completing CRUD on the index state
    * (init / admit / retract / compact). The erased docs' band rows
    * leave via a tombstone segment (`retract-ids`, applied by
    * [[bandsOf]]'s anti-join), their bucket counts via NEGATIVE
    * `counts-delta` rows (the sum-merge nets them out), and the pair
    * table is maintained incrementally over exactly the touched
    * buckets. The sharp edge is the REVERSE of admit's: removing rows
    * can bring an over-cap bucket back UNDER the cap, which must
    * REVIVE the surviving members' pairs the cap had suppressed —
    * non-monotone in both directions (spec-proven with a crafted
    * crossing-back fixture). Cost is O(retracted + touched buckets);
    * the base corpus is never re-signatured and the pair table is never
    * rewritten (the recompute lands as a last-touch-wins segment).
    */
  def retract(s: SparkSession, dir: String, docIds: DataFrame,
      maxBucket: Int = Dedup.defaultMaxBucket, txn: Long = -1L): Int = {
    val gen = currentGeneration(dir)
    require(gen >= 0, s"$dir has no generation 0 — call init first")
    val ids = docIds.select(col("doc_id")).distinct().localCheckpoint()
    // Locating the erased docs' rows from ids alone costs ONE scan of
    // the band state (index-sized — 8 rows/doc — not corpus-sized, but
    // still O(state)): the state is (band, key)-partitioned, so a doc's
    // buckets are unknowable without either this scan or the docs' band
    // rows themselves. [[retractBands]] is the fully pruned path.
    val removed = bandsOf(s, dir, gen).join(ids, Seq("doc_id"), "left_semi")
      .localCheckpoint() // feeds tombstones, negative counts, touched set
    retractTail(s, dir, gen, ids, removed, bktsOf(removed), maxBucket, txn)
  }

  /** [[retract]] with the erased docs' band rows SUPPLIED — recomputed
    * from their text (signatures are deterministic, O(retracted)) or
    * carried by the erasure request itself. With the buckets known up
    * front, EVERY state read of the retraction is partition-pruned to
    * the touched buckets, exactly like [[admit]]'s fetch: nothing
    * index-sized is scanned. PRECONDITION: the supplied rows must come
    * from the same signature pipeline that admitted the docs. The
    * divergence guard detects every mismatch VISIBLE WITHIN THE
    * SUPPLIED BUCKETS (stored rows there the supplier missed, or
    * supplied rows the state never held for a doc that is present);
    * stored rows living in buckets the supplier never named are — by
    * construction — invisible to a pruned read, so a doc banded under a
    * partially or entirely different scheme cannot be fully caught
    * here and would leave its unnamed buckets unmaintained.
    * [[retract]] by ids is the unconditional path when the producer
    * cannot guarantee the admit pipeline. Spec-proven equal to the id
    * path in DedupSpec.
    */
  def retractBands(s: SparkSession, dir: String, removedBands: DataFrame,
      maxBucket: Int = Dedup.defaultMaxBucket, txn: Long = -1L): Int = {
    val gen = currentGeneration(dir)
    require(gen >= 0, s"$dir has no generation 0 — call init first")
    val supplied = removedBands.select(col("doc_id"), col("band"), col("key"))
      .localCheckpoint()
    val ids = supplied.select(col("doc_id")).distinct().localCheckpoint()
    val suppliedBkts = bktsOf(supplied)
    val removed = prunedBands(s, dir, gen, Some(suppliedBkts))
      .join(ids, Seq("doc_id"), "left_semi")
      .localCheckpoint()
    // Divergence guard (bounded: O(retracted) rows): for every doc the
    // state DOES hold rows for, the supplied set and the stored set
    // must agree exactly — a mismatched signature pipeline would
    // otherwise leave the doc's true buckets un-recomputed (stale pairs
    // serving an erased doc) and its counts never netted out.
    val present = removed.select(col("doc_id")).distinct()
    val divergent =
      supplied.join(present, Seq("doc_id"), "left_semi")
        .join(removed, Seq("doc_id", "band", "key"), "left_anti").count() +
      removed.select(col("doc_id"), col("band"), col("key"))
        .join(supplied, Seq("doc_id", "band", "key"), "left_anti").count()
    require(divergent == 0,
      s"$divergent supplied band rows diverge from the stored index state — " +
        "recompute them with the admit pipeline, or use retract(ids)")
    retractTail(s, dir, gen, ids, removed, suppliedBkts, maxBucket, txn)
  }

  private def retractTail(s: SparkSession, dir: String, gen: Int,
      ids: DataFrame, removed: DataFrame, bkts: Seq[Int],
      maxBucket: Int, txn: Long): Int = {
    val touched = removed.select(col("band"), col("key")).distinct()
      .localCheckpoint()
    // Surviving rows of the touched buckets whose NEW total is a
    // pairable size — includes buckets crossing back under the cap,
    // whose pairs this recompute revives. The survivor AND count
    // fetches are partition-pruned to the touched buckets
    // (keep ⊆ touched ⊆ bkts).
    val newTotals = countsOf(s, dir, gen, Some(bkts))
      .join(touched, Seq("band", "key"), "left_semi")
      .join(removed.groupBy(col("band"), col("key")).agg(count(lit(1)).as("rn")),
        Seq("band", "key"), "left")
      .na.fill(0L, Seq("rn"))
      .select(col("band"), col("key"), (col("n") - col("rn")).as("total"))
    val keep = newTotals.where(col("total").between(2, maxBucket))
      .select(col("band"), col("key"))
    val survivors = prunedBands(s, dir, gen, Some(bkts))
      .join(keep, Seq("band", "key"), "left_semi")
      .join(ids, Seq("doc_id"), "left_anti")
    val next = gen + 1
    val tmp = freshTmp(dir, next)
    ids.write.mode("overwrite").parquet(s"$tmp/retract-ids")
    removed.groupBy(col("band"), col("key")).agg((-count(lit(1))).as("n"))
      .write.mode("overwrite").parquet(s"$tmp/counts-delta")
    touched.write.mode("overwrite").parquet(s"$tmp/touched-buckets")
    Dedup.pairBandRowsOf(survivors)
      .write.mode("overwrite").parquet(s"$tmp/pairbands-delta")
    publish(dir, next, txn, tmp)
    next
  }

  /** Fold the segment chain into a fresh FULL-snapshot generation, so
    * subsequent reads and admits are single-source again — the
    * maintenance step bounding what continuous ingest grows without
    * limit. Answer-preserving by construction (the pair table is
    * carried over unchanged; bands/counts are the same rows
    * materialized once). Older generations become retention metadata a
    * deployment drops like archives.
    */
  def compact(s: SparkSession, dir: String): Int = {
    val gen = currentGeneration(dir)
    require(gen >= 0, s"$dir has no generation 0 — call init first")
    val next = gen + 1
    val tmp = freshTmp(dir, next)
    writeBands(bandsOf(s, dir, gen), s"$tmp/bands")
    // Buckets retracts netted to zero are inert — dropping them at the
    // fold keeps the counts base from accumulating dead rows across
    // retract/compact cycles.
    writeBands(countsOf(s, dir, gen).where(col("n") =!= 0), s"$tmp/counts")
    pairBandsOf(s, dir, gen).write.mode("overwrite").parquet(s"$tmp/pairbands")
    publish(dir, next, -1L, tmp)
    // Maintenance moment doubles as the txn-index consolidation point:
    // replay detection stays O(1) + tail however long ingest runs.
    GenChain.checkpointTxns(dir)
    next
  }

  /** Drop generations BELOW `keepFrom`, which must be a full-snapshot
    * generation (v0 or a [[compact]] output) — the chain from
    * `keepFrom` up stays readable; reads of dropped generations fail
    * loudly via the missing-snapshot guard. The retention step that
    * reclaims what continuous ingest leaves behind (the
    * [[VersionedLayout.vacuum]] analog; old generations are pure
    * metadata + superseded segments once a compact has folded them).
    */
  def vacuumGenerations(dir: String, keepFrom: Int): Unit = {
    require(new java.io.File(genDir(dir, keepFrom), "bands").isDirectory,
      s"keepFrom=$keepFrom is not a full-snapshot generation of $dir — " +
        "vacuum would orphan the segment chain (compact first)")
    GenChain.vacuumGenerations(dir, keepFrom)
  }

  /** Candidate pairs as of generation `gen` (time travel over the
    * retained chain — every generation keeps its full pair table).
    */
  def pairsOf(s: SparkSession, dir: String, gen: Int): DataFrame = {
    require(manifest(dir, gen).isFile,
      s"generation $gen of $dir is not addressable (never committed, or vacuumed)")
    pairBandsOf(s, dir, gen)
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("n_shared_bands"))
  }

  /** Chain-health audit over the pair-table segments: (segment count,
    * rows the last-touch-wins resolve scans = base snapshot + every
    * pairbands-delta, rows a folded snapshot would hold). The overhead
    * ratio is what [[pairs]] pays per read until a [[compact]] folds
    * the chain — the policy input [[compactIfNeeded]] fires on and the
    * q169 audit reports. Counts only; never touches band state.
    */
  def chainAudit(s: SparkSession, dir: String): (Int, Long, Long) = {
    val gen = currentGeneration(dir)
    require(gen >= 0, s"$dir has no generation 0 — call init first")
    val b = GenChain.baseGenOf(dir, gen, "bands")
    val segGens = ((b + 1) to gen).filter(g =>
      new java.io.File(genDir(dir, g), "touched-buckets").isDirectory)
    val base = SnapshotCache.parquet(s, SnapshotCache.genStamp(dir, b), None,
      Seq(s"${genDir(dir, b)}/pairbands"))
    val readRows = base.count() + segGens.map(g =>
      s.read.schema(base.schema).parquet(s"${genDir(dir, g)}/pairbands-delta").count()).sum
    val foldedRows = pairBandsOf(s, dir, gen).count()
    (segGens.size, readRows, foldedRows)
  }

  /** Compact when the chain's measured merge-read overhead or segment
    * count crosses the policy threshold (the [[GenChain]] defaults — one
    * policy for every maintained chain). Returns
    * whether it fired. Integer-exact crossing test.
    */
  def compactIfNeeded(s: SparkSession, dir: String,
      maxOverheadMilli: Long = GenChain.recommendOverheadMilli,
      maxSegments: Int = GenChain.recommendMaxSegments): Boolean =
    GenChain.compactWhenNeeded(chainAudit(s, dir),
      compact(s, dir), maxOverheadMilli, maxSegments)

  /** The current generation's candidate pairs (the consumer surface —
    * identical to a ground-up rebuild over everything admitted so far,
    * served from the maintained pair segments by the last-touch-wins
    * resolve; single-source again after a [[compact]]).
    */
  def pairs(s: SparkSession, dir: String): DataFrame =
    pairBandsOf(s, dir, currentGeneration(dir))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("n_shared_bands"))
}
