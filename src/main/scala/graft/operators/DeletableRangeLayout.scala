package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Range layout with DELETE support — since round 9 a FACADE over
  * [[VersionedLayout]]'s commit log, not a protocol of its own.
  *
  * Through round 8 this layout kept a parallel crash discipline (a
  * `_tombstones` sidecar with its own two-rename swap, manifest
  * publish, and compaction recovery preamble) that duplicated what the
  * versioned layout already proves: same base (the q150 range
  * partitioning over the same boundary array), same tombstone key,
  * same threshold-crossing compaction rule. Three disciplines were two
  * too many (round-8 verdict), so delete/compact now route through the
  * commit log:
  *
  *  - `applyDelete(cond)` == [[VersionedLayout.appendDelete]]: a
  *    numbered, replayable commit whose tombstone set is this
  *    version's metadata — and the layout gains TIME TRAVEL and the
  *    CHANGE DATA FEED for free (`readAsOf`/`changeFeed` work on a
  *    dir built here; spec-proven).
  *  - `maskedRead` == the head `readAsOf` — the version-stamped mask
  *    the versioned layout's whole test surface already covers.
  *  - `compact(threshold)` == [[VersionedLayout.appendCompact]]: the
  *    same per-pid crossing rule, written copy-on-write — the survivors
  *    land in new files the compaction's log entry names, the pre-state
  *    files stay readable AS-OF until a vacuum drops them, and one
  *    commit protocol covers every crash and race.
  *  - `tombstones` reports the OUTSTANDING mask — tombstone rows not
  *    yet physically reclaimed by a compaction at-or-after their
  *    version (the same liveness rule vacuum's tombstone GC applies) —
  *    so the q158 audit's residual-dead prediction keeps its meaning.
  *
  * At 100 TB nothing changes from the caller's view: deletes touch
  * metadata proportional to the deleted keys, reads stay
  * partition-pruned and pay one bounded broadcast anti-join, rewrite
  * cost is deferred to the explicit threshold-crossing maintenance
  * pass. What changed is that every mutation is now a numbered commit
  * with one crash discipline, one history, one retention story.
  *
  * Reference scope note: the reference engine (tema1a) has no mutable
  * storage at all — this is part of the extension surface's
  * training-data-pipeline story (erasure/recall over curated corpora).
  */
object DeletableRangeLayout {

  private val tombSchema = StructType(Seq(
    StructField("pid", IntegerType),
    StructField("l_orderkey", LongType),
    StructField("l_linenumber", IntegerType),
    StructField("v", LongType)))

  /** Serializes this JVM's delete and compact commits, so two sessions
    * replaying the same scenario never race the commit log.
    */
  private val lock = new Object

  /** Build the versioned base (v0 commit) once per JVM, published
    * whole ([[graft.ScratchRoot.publishOnce]]): the layout (data + log)
    * is built under a writer tmp and renamed into place, so a concurrent
    * or crashed builder never leaves a half-built dir another JVM would
    * read. A JVM that published first wrote a byte-equivalent copy (the
    * boundary array is deterministic).
    */
  def ensure(s: SparkSession, d: String, dir: String, uppers: Array[Long]): String =
    graft.ScratchRoot.publishOnce(dir)(t => VersionedLayout.currentVersion(t.getPath) >= 0) {
      tmp => VersionedLayout.writeBase(s, d, tmp.getPath, uppers)
    }

  /** The raw layout base at the head (pid as the partition column) —
    * the UNMASKED read, correct only when no tombstones are outstanding;
    * ordinary readers use [[maskedRead]]. The base files come from the
    * log ([[VersionedLayout.baseFiles]]), never a listing of the root:
    * after a compaction the root's v0 `pid=` dirs are history.
    */
  def data(s: SparkSession, dir: String): DataFrame = VersionedLayout.baseFiles(s, dir)

  /** The OUTSTANDING tombstone set: every committed delete's keys,
    * minus rows a compaction at-or-after their version physically
    * reclaimed (those shadow nothing — the same liveness rule
    * [[VersionedLayout.vacuum]]'s tombstone GC applies). Bounded by the
    * not-yet-reclaimed deleted fraction.
    */
  def tombstones(s: SparkSession, dir: String): DataFrame = {
    val entries = VersionedLayout.log(dir)
    val compacts = entries.filter(e =>
      e.action == "compact" || e.action == "majorcompact")
    val segVersions = entries
      .filter(e => e.action == "insert" || e.action == "upsert").map(_.version)
    entries.filter(e => e.action == "delete" || e.action == "upsert")
      .map { te =>
        // A compaction rewrites BASE pid dirs only — a tombstone with an
        // insert/upsert segment OLDER than itself may still be masking a
        // live segment row the compact never touched, so its rows stay
        // outstanding (the same liveness guard vacuum's tombstone GC
        // applies).
        val reclaimed =
          if (segVersions.exists(_ < te.version)) Nil
          else compacts.filter(_.version >= te.version).flatMap(_.pids).distinct
        val t = VersionedLayout.tombstonesAt(s, dir, te.version)
        if (reclaimed.isEmpty) t else t.where(!col("pid").isin(reclaimed: _*))
      }
      .reduceOption(_ unionByName _).map(_.distinct())
      .getOrElse(s.createDataFrame(s.sparkContext.emptyRDD[Row], tombSchema))
  }

  /** DELETE FROM layout WHERE cond — one numbered commit
    * ([[VersionedLayout.appendDelete]]). Touches no data file; matching
    * runs against the current masked view, so re-deleting deleted or
    * compacted rows commits an empty tombstone set (a no-op version).
    * Returns THIS delete's tombstone count (reading back only the one
    * committed set — the full outstanding mask is [[tombstones]], whose
    * cost grows with delete history and does not belong on every
    * delete's path).
    */
  def applyDelete(s: SparkSession, dir: String, cond: Column): Long = lock.synchronized {
    // A replayed delete (idempotent sessions re-issuing the same
    // condition) matches nothing — skip the commit entirely so the
    // shared scenario dirs don't grow one empty log version per
    // session; a real delete pays this probe's cost inside its own
    // tombstone materialization anyway.
    if (maskedRead(s, dir).where(cond).isEmpty) return 0L
    // The JVM lock serializes this process; Cas.withRetry rebases a
    // lost race against a writer in ANOTHER process (appends are
    // multi-writer-safe — see VersionedLayout's concurrency scope).
    val ver = Cas.withRetry()(VersionedLayout.appendDelete(s, dir, cond))
    VersionedLayout.tombstonesAt(s, dir, ver).count()
  }

  /** The reader contract: the commit log's HEAD read (version-stamped
    * mask, partition-pruned base, bounded broadcast anti-join).
    */
  def maskedRead(s: SparkSession, dir: String): DataFrame =
    VersionedLayout.readAsOf(s, dir, VersionedLayout.currentVersion(dir))

  /** Per-pid live-row and outstanding-tombstone counts — the bounded
    * (≤ pid count) stats compaction decides from.
    */
  def pidStats(s: SparkSession, dir: String): DataFrame =
    data(s, dir).groupBy(col("pid")).agg(count(lit(1)).as("n_rows"))
      .join(tombstones(s, dir).groupBy(col("pid")).agg(count(lit(1)).as("n_deleted")),
        Seq("pid"), "left")
      .na.fill(0L, Seq("n_deleted"))

  /** Threshold-crossing compaction as one numbered commit
    * ([[VersionedLayout.appendCompact]]): rewrites exactly the pids
    * whose outstanding deleted fraction reaches `threshold` into new
    * files, leaving the pre-state readable AS-OF (vacuum reclaims it
    * later) under the versioned layout's one commit protocol. Returns
    * the rewritten pids, ascending.
    */
  def compact(s: SparkSession, dir: String, threshold: Double): Seq[Int] = lock.synchronized {
    // Replay hygiene (bounded pre-check, <= 32 rows): when no pid's
    // outstanding dead fraction can cross, skip the commit — otherwise
    // every replayed session appends an empty compact version to the
    // shared dirs. The key-count stats over-approximate the live-kill
    // census appendCompact itself runs, so a skip here is always safe.
    val anyCrossing = pidStats(s, dir)
      .where(col("n_deleted") > 0 && col("n_deleted") >= col("n_rows") * threshold)
      .limit(1).count() > 0
    if (!anyCrossing) Nil
    else VersionedLayout.appendCompact(s, dir, threshold)._2
  }
}
