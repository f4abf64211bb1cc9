package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.vectors

/** The four persisted stores one training-data ingest batch touches:
  * the documents table ([[VersionedLayout]], key `doc_id`), the LSH
  * dedup index over those documents ([[LshIndexStore]]), the
  * embeddings table ([[VersionedLayout]], key `vec_id`), and the IVF
  * ANN index over those vectors ([[IvfIndexStore]]) — plus `meta`, the
  * coordinator directory holding each erase transaction's durable
  * intent record (see [[PipelineTxn.erase]]).
  */
case class PipelineStores(docs: String, lsh: String, emb: String, ivf: String,
    meta: String)

/** COORDINATED exactly-once mutation across every store a corpus batch
  * touches — the missing lifecycle layer above the per-store `*Once`
  * transactions: each store alone commits a txn-stamped batch exactly
  * once, but a real ingest pipeline mutates the table AND its indexes
  * together, and a crash between stores leaves the indexes lagging the
  * table with nothing that knows how to finish the job.
  *
  * Protocol (the table-format "idempotent multi-sink" recipe): one
  * logical transaction id stamps the SAME batch into all four stores in
  * a FIXED order (docs table -> LSH index -> embeddings table -> IVF
  * index). Every step is the store's own exactly-once mutation, so a
  * crash anywhere is recovered by simply RE-RUNNING the whole
  * transaction: steps that committed skip on their txn stamp, steps
  * that didn't commit now; after any number of partial attempts plus
  * one complete run, the state is identical to a single clean run
  * (spec-proven per crash window in PipelineTxnSpec).
  *
  * The index mutations derive from the TABLE'S OWN COMMITTED SEGMENTS,
  * not from the caller's input frames: an ingest re-reads the insert
  * segment its txn committed ([[VersionedLayout.insertsAt]]) to build
  * the LSH band rows and IVF assignments, and an erase retracts exactly
  * the keys its txn's tombstone segment recorded
  * ([[VersionedLayout.tombstonesAt]]). That makes resume correct even
  * when the world moved between attempts — a predicate re-evaluated at
  * a later head would erase a different set; the tombstone segment is
  * the authoritative CDC record of what THIS transaction erased.
  *
  * At 100 TB: every step is the store's own incremental path — O(batch)
  * segment writes against corpus-sized bases that are never rewritten —
  * and the coordination layer adds only log/manifest reads, no data
  * movement. The [[alignmentAudit]] is the monitoring arm: per
  * table~index pair, full-outer-join the distinct key sets (one shuffle
  * each, linear in keys, no data columns) and count coverage holes —
  * the freshness check a serving deployment alerts on, and because
  * both layouts and both chains keep history, it can be evaluated AS OF
  * any past (version, generation) vector to reconstruct exactly what a
  * mid-crash reader saw (q184).
  */
object PipelineTxn {

  /** Test-only crash injection: thrown by [[ingest]]/[[erase]] between
    * store commits when `failAfter` is reached.
    */
  private[graft] final class InjectedCrash(afterSteps: Int)
    extends RuntimeException(s"injected pipeline crash after $afterSteps store commits")

  /** The caller's txn id mapped into DISJOINT stamp spaces per action
    * (ingest 4k, erase 4k+1, erase-conflict repair 4k+2; 4k+3
    * reserved). The chain stores' `committedGen` matches a txn stamp
    * with NO action discrimination (one stamp per generation), so an
    * erase reusing an id an ingest once used — e.g. ids drawn from one
    * monotonic counter — would silently skip both index retracts while
    * the action-scoped layout arms committed: a half-served erasure
    * with no error. The mapping removes the hazard structurally;
    * callers keep one id space.
    */
  private def ingestStamp(txn: Long): Long = { requireTxn(txn); 4 * txn }
  private def eraseStamp(txn: Long): Long = { requireTxn(txn); 4 * txn + 1 }
  private def eraseRepairStamp(txn: Long): Long = { requireTxn(txn); 4 * txn + 2 }
  private def requireTxn(txn: Long): Unit =
    require(txn >= 0 && txn < Long.MaxValue / 4,
      s"a pipeline transaction needs a txn id in [0, 2^61) (got $txn)")

  /** Decode a committed store stamp back to (logical txn id, action) —
    * the forensic inverse of the stamp-space mapping above plus
    * [[restoreStamps]]'s ≡3 (mod 4) pair; the ledger surface (q194)
    * reads every store's commit history through this. Negative stamps
    * are the non-transactional sentinel (base writes, batch
    * maintenance).
    */
  def decodeStamp(stamp: Long): (Long, String) =
    if (stamp < 0) (-1L, "none")
    else (stamp % 4) match {
      case 0 => (stamp / 4, "ingest")
      case 1 => (stamp / 4, "erase")
      case 2 => (stamp / 4, "erase-repair")
      case _ => (stamp / 16, (stamp % 16) match {
        case 3 => "restore-table"
        case 7 => "restore-index"
        case _ => "reserved"
      })
    }

  /** What the erase's LSH band arm does when it finds the WRITE-WRITE
    * CONFLICT its divergence guard exists for: a key the transaction
    * recorded for erasure was RE-INGESTED inside the erase's
    * crash-recovery window, so the stored band state no longer matches
    * the pre-delete recompute (the re-admit's rows, which the recompute
    * cannot name, would be left unmaintained by a blind retract).
    */
  sealed trait EraseConflict
  object EraseConflict {
    /** Refuse loudly (the default, and the former only behavior): the
      * divergence guard's IllegalArgumentException propagates and the
      * operator decides.
      */
    case object Fail extends EraseConflict

    /** Resolve by restoring index == table for the conflicted keys:
      * retract EVERY stored row of the recorded keys (both
      * incarnations — one bounded locating scan, the id-path cost),
      * then re-admit the rows of keys still LIVE at the docs head,
      * re-derived from the table's own committed state (never from the
      * erase's stale recompute). Exactly-once across crashes: the
      * retract rides the erase stamp, the re-admit a dedicated repair
      * stamp, and a durable marker in the intent record carries the
      * pending-repair fact across a crash between the two (the intent
      * is not reclaimable until the repair committed). Each resume
      * converges to index == table AS OF ITS OWN completion — the
      * alignment audit is the acceptance check, exactly as for every
      * other recovery path.
      */
    case object RetractAndReadmit extends EraseConflict
  }

  /** An erase found a recorded-for-erasure key LIVE AGAIN in the docs
    * table (re-ingested inside the erase's crash-recovery window) and
    * its conflict policy is [[EraseConflict.Fail]].
    */
  final class EraseConflictException(msg: String) extends IllegalStateException(msg)

  /** Ingest one batch exactly-once across all four stores. `docRows`
    * must carry the docs layout's schema (including computed `pid` and
    * the `text` column the LSH signatures derive from); `embRows` the
    * embeddings layout's (including `pid` and `embedding`). Returns the
    * committed version/generation per store. Safe to re-run with the
    * same `txn` after any crash — committed steps replay as no-ops.
    */
  def ingest(s: SparkSession, p: PipelineStores, docRows: DataFrame,
      embRows: DataFrame, txn: Long): Map[String, Int] =
    ingest(s, p, docRows, embRows, txn, Int.MaxValue)

  private[graft] def ingest(s: SparkSession, p: PipelineStores, docRows: DataFrame,
      embRows: DataFrame, txn: Long, failAfter: Int): Map[String, Int] = {
    val stamp = ingestStamp(txn)
    val crash = crasher(failAfter)
    val dv = crash {
      Cas.withRetry() {
        VersionedLayout.appendInsertOnce(s, p.docs, docRows, stamp)
      }
    }
    // The index admits derive from the layout's COMMITTED segment — the
    // authoritative batch content on a resumed attempt.
    val lg = crash {
      LshIndexStore.admitOnce(s, p.lsh,
        bandRowsOf(VersionedLayout.insertsAt(s, p.docs, dv)), stamp)
    }
    val ev = crash {
      Cas.withRetry() {
        VersionedLayout.appendInsertOnce(s, p.emb, embRows, stamp)
      }
    }
    val ig = crash {
      IvfIndexStore.admitOnce(s, p.ivf,
        assignFrozen(s, p.ivf, VersionedLayout.insertsAt(s, p.emb, ev)), stamp)
    }
    Map("docs" -> dv, "lsh" -> lg, "emb" -> ev, "ivf" -> ig)
  }

  /** Erase matching rows exactly-once across all four stores (the
    * training-data erasure request served end-to-end).
    *
    * CROSS-TABLE ATOMICITY needs more than per-store exactly-once: if
    * each layout arm evaluated the predicate at its OWN commit time, a
    * transaction that lands in a crash-recovery window between the two
    * arms would make them erase DIFFERENT sets (spec-proven anomaly).
    * So step 0 writes a DURABLE INTENT record: each predicate is
    * evaluated ONCE against its table's pinned head (both heads pinned
    * up front; the residual cross-table skew window — a commit landing
    * between the two pins — is inherent without a global lock and does
    * not break convergence: every arm still erases the one recorded
    * set), the matched key sets
    * land under `meta/_intents/txn<id>/` (write-tmp + atomic rename —
    * the saga coordinator's commit), and every arm erases exactly the
    * recorded set — the layouts via
    * [[VersionedLayout.appendDeleteKeysOnce]] (semi-join, so rows
    * inserted after the intent are untouched even when the predicate
    * matches them), the indexes via their table's tombstone segment. A
    * crash before the intent committed re-evaluates on resume (the
    * transaction had not logically begun); after it, every attempt —
    * however the heads move in between — converges on one key set.
    */
  def erase(s: SparkSession, p: PipelineStores, docPred: Column,
      vecPred: Column, txn: Long,
      onConflict: EraseConflict = EraseConflict.Fail): Map[String, Int] =
    erase(s, p, docPred, vecPred, txn, Int.MaxValue, onConflict)

  private[graft] def erase(s: SparkSession, p: PipelineStores, docPred: Column,
      vecPred: Column, txn: Long, failAfter: Int): Map[String, Int] =
    erase(s, p, docPred, vecPred, txn, failAfter, EraseConflict.Fail)

  private[graft] def erase(s: SparkSession, p: PipelineStores, docPred: Column,
      vecPred: Column, txn: Long, failAfter: Int,
      onConflict: EraseConflict): Map[String, Int] = {
    val stamp = eraseStamp(txn)
    val crash = crasher(failAfter)
    crash {
      eraseIntent(s, p, docPred, vecPred, txn); 0
    }
    // No intent dir after eraseIntent means the txn is fully applied
    // and its record already vacuumed — every arm below skips on its
    // stamp without reading the keys, so empty placeholders suffice.
    val haveIntent = new java.io.File(intentDir(p, txn)).isDirectory
    def keys(sub: String, as: String): DataFrame =
      if (haveIntent) s.read.parquet(s"${intentDir(p, txn)}/$sub")
      else s.range(0).select(col("id").as(as))
    val docKeys = keys("docids", "doc_id")
    val vecKeys = keys("vecids", "vec_id")
    val dv = crash {
      Cas.withRetry() {
        VersionedLayout.appendDeleteKeysOnce(s, p.docs, docKeys, stamp)
      }
    }
    // The CDC-shaped retract: the erased docs' band rows recompute from
    // the layout's PRE-DELETE snapshot (readAsOf(dv - 1) still serves
    // them — deletes are logical), so every LSH state read is
    // bucket-pruned; the id-only retract pays an index-sized locating
    // scan instead. The stamp is checked BEFORE any as-of read — a
    // replay of a fully-applied erase must skip even after the docs
    // history below dv was vacuumed. When a very late resume finds
    // dv - 1 already below the vacuum horizon, the arm falls back to
    // the id-driven retract (always resolvable: tombstone segments are
    // rewritten by folds, never deleted). The write-write edge:
    // re-ingesting an ERASED key inside the erase's crash-recovery
    // window leaves the index holding rows the pre-delete recompute
    // cannot name — a blind retract would leave them unmaintained (and
    // a tombstone above the re-admit's generation would wrongly erase
    // it). The conflict is DETECTED STRUCTURALLY, only on a resume
    // whose head moved (one bounded semi-join; a non-crashed erase can
    // never conflict): `onConflict` Fail raises
    // [[EraseConflictException]] (default); RetractAndReadmit restores
    // index == table for the recorded keys
    // ([[EraseConflict.RetractAndReadmit]]). retractBands' divergence
    // guard stays as the in-store backstop for supplier-pipeline
    // mismatch, a different error.
    val lg = crash {
      GenChain.committedGen(p.lsh, stamp) match {
        case Some(g) =>
          // A replay may land between a conflict resolution's retract
          // and its repair admit — the durable marker carries that.
          finishLshConflictRepair(s, p, txn)
          g
        case None =>
          val ids = VersionedLayout.tombstonesAt(s, p.docs, dv).select(col("doc_id"))
          val docsHead = VersionedLayout.currentVersion(p.docs)
          val conflicted = docsHead > dv &&
            VersionedLayout.readAsOf(s, p.docs, docsHead)
              .join(ids, Seq("doc_id"), "left_semi").limit(1).count() > 0
          if (conflicted && onConflict == EraseConflict.Fail)
            throw new EraseConflictException(
              s"erase txn $txn: recorded keys were re-ingested into ${p.docs} " +
                "inside the crash-recovery window — resolve with " +
                "EraseConflict.RetractAndReadmit, or retract the re-ingest first")
          if (conflicted) {
            // Durable marker FIRST: a crash between the retract and the
            // repair admit must not strand a replay that skips on the
            // erase stamp and never repairs.
            java.nio.file.Files.write(lshConflictMarker(p, txn).toPath,
              Array.emptyByteArray)
            val g = LshIndexStore.retractOnce(s, p.lsh, ids, stamp)
            finishLshConflictRepair(s, p, txn)
            g
          } else if (VersionedLayout.horizon(p.docs) <= dv - 1)
            LshIndexStore.retractBandsOnce(s, p.lsh,
              bandRowsOf(VersionedLayout.readAsOf(s, p.docs, dv - 1)
                .join(ids, Seq("doc_id"), "left_semi")),
              stamp)
          else LshIndexStore.retractOnce(s, p.lsh, ids, stamp)
      }
    }
    val ev = crash {
      Cas.withRetry() {
        VersionedLayout.appendDeleteKeysOnce(s, p.emb, vecKeys, stamp)
      }
    }
    val ig = crash {
      IvfIndexStore.retractOnce(s, p.ivf,
        VersionedLayout.tombstonesAt(s, p.emb, ev).select(col("vec_id")), stamp)
    }
    Map("docs" -> dv, "lsh" -> lg, "emb" -> ev, "ivf" -> ig)
  }

  /** Two stamps per RESTORE transaction, both in the `4k+3` space the
    * ingest/erase/repair mapping reserved — a restore mutates each
    * chain TWICE (retract the undone rows, re-admit the target rows),
    * and one generation carries one stamp. `16·txn+3` and `16·txn+7`
    * are ≡ 3 (mod 4), so no restore stamp can ever collide with an
    * ingest (4k), erase (4k+1), or repair (4k+2) stamp of any txn id,
    * and the two are injective per txn.
    */
  private def restoreStamps(txn: Long): (Long, Long) = {
    require(txn >= 0 && txn < (Long.MaxValue - 7) / 16,
      s"a pipeline restore needs a txn id in [0, 2^59) (got $txn)")
    (16 * txn + 3, 16 * txn + 7)
  }

  /** Roll the WHOLE pipeline back to a historical (docs, embeddings)
    * version pair — the coordinated RESTORE completing the lifecycle:
    * "undo the bad backfill across the table AND its indexes, keep the
    * incident history readable". Each layout restores via
    * [[VersionedLayout.restoreOnce]] (one upsert-shaped commit,
    * O(changed keys) — see [[VersionedLayout.restore]]), and each index
    * re-derives its delta from that commit's OWN segments: retract the
    * tombstoned keys' rows (the CDC-shaped bucket-pruned band recompute
    * from the pre-restore snapshot, falling back to the id-driven
    * locating scan when that snapshot was vacuumed), then admit the
    * re-inserted target rows — both exactly-once under the txn's two
    * restore stamps, so a crash anywhere is recovered by re-running the
    * transaction, exactly like ingest and erase.
    *
    * Each step commits through [[Cas.withRetry]], so a racing commit on
    * one store rebases that step. The transaction as a whole is NOT
    * isolated from concurrent ingest: quiesce the pipeline's writers
    * while restoring. A concurrent ingest between a crash and its resume
    * is the erase-conflict class of hazard; the restore makes no attempt
    * to repair it — it is an operator-invoked rollback, not a
    * steady-state mutation.
    */
  def restore(s: SparkSession, p: PipelineStores, docVersion: Int,
      embVersion: Int, txn: Long): Map[String, Int] =
    restore(s, p, docVersion, embVersion, txn, Int.MaxValue)

  private[graft] def restore(s: SparkSession, p: PipelineStores, docVersion: Int,
      embVersion: Int, txn: Long, failAfter: Int): Map[String, Int] = {
    val (sA, sB) = restoreStamps(txn)
    val crash = crasher(failAfter)
    val dv = crash {
      Cas.withRetry() {
        VersionedLayout.restoreOnce(s, p.docs, docVersion, sA)
      }
    }
    // A restore to the current head commits nothing (no stamped entry):
    // there is no delta to index, and by the pipeline invariant the
    // indexes already align — the index arms skip.
    val docsRestored = VersionedLayout.log(p.docs)
      .exists(e => e.version == dv && e.txn == sA)
    val lgRetract = crash {
      if (!docsRestored) LshIndexStore.currentGeneration(p.lsh)
      else {
        val ids = VersionedLayout.tombstonesAt(s, p.docs, dv).select(col("doc_id"))
        // Keys absent just below the restore (the undone range DELETED
        // them; the restore re-inserts) have no live index rows — the
        // semi-join drops them, and the retract stays bucket-pruned.
        if (VersionedLayout.horizon(p.docs) <= dv - 1)
          LshIndexStore.retractBandsOnce(s, p.lsh,
            bandRowsOf(VersionedLayout.readAsOf(s, p.docs, dv - 1)
              .join(ids, Seq("doc_id"), "left_semi")),
            sA)
        else LshIndexStore.retractOnce(s, p.lsh, ids, sA)
      }
    }
    val lg = crash {
      if (!docsRestored) lgRetract
      else LshIndexStore.admitOnce(s, p.lsh,
        bandRowsOf(VersionedLayout.insertsAt(s, p.docs, dv)), sB)
    }
    val ev = crash {
      Cas.withRetry() {
        VersionedLayout.restoreOnce(s, p.emb, embVersion, sA)
      }
    }
    val embRestored = VersionedLayout.log(p.emb)
      .exists(e => e.version == ev && e.txn == sA)
    val igRetract = crash {
      if (!embRestored) IvfIndexStore.currentGeneration(p.ivf)
      else IvfIndexStore.retractOnce(s, p.ivf,
        VersionedLayout.tombstonesAt(s, p.emb, ev).select(col("vec_id")), sA)
    }
    val ig = crash {
      if (!embRestored) igRetract
      else IvfIndexStore.admitOnce(s, p.ivf,
        assignFrozen(s, p.ivf, VersionedLayout.insertsAt(s, p.emb, ev)), sB)
    }
    Map("docs" -> dv, "lsh" -> lg, "emb" -> ev, "ivf" -> ig)
  }

  private def intentDir(p: PipelineStores, txn: Long): String =
    s"${p.meta}/_intents/txn$txn"

  /** Durable pending-repair marker of an erase's resolved LSH conflict
    * — inside the intent record, so it shares the intent's lifecycle:
    * present from resolution until [[vacuumIntents]] reclaims the
    * fully-applied transaction (which [[fullyApplied]] refuses while
    * the repair admit is uncommitted).
    */
  private def lshConflictMarker(p: PipelineStores, txn: Long): java.io.File =
    new java.io.File(intentDir(p, txn), "_lsh_conflict")

  /** Complete a resolved conflict's repair arm: re-admit the recorded
    * keys' rows still LIVE at the docs head (the re-ingested
    * incarnations), re-derived from the table's committed state under
    * the dedicated repair stamp. No-op without a marker or once the
    * repair committed; a marker whose keys have no live rows (the
    * re-ingest was itself erased meanwhile) clears without an admit.
    */
  private def finishLshConflictRepair(s: SparkSession, p: PipelineStores,
      txn: Long): Unit = {
    val marker = lshConflictMarker(p, txn)
    if (!marker.isFile) return
    if (GenChain.committedGen(p.lsh, eraseRepairStamp(txn)).isDefined) return
    val live = VersionedLayout.readAsOf(s, p.docs, VersionedLayout.currentVersion(p.docs))
      .join(s.read.parquet(s"${intentDir(p, txn)}/docids"), Seq("doc_id"), "left_semi")
      .localCheckpoint()
    if (live.isEmpty) { java.nio.file.Files.deleteIfExists(marker.toPath); return }
    LshIndexStore.admitOnce(s, p.lsh, bandRowsOf(live), eraseRepairStamp(txn))
    ()
  }

  /** Commit the erase intent exactly-once: evaluate both predicates at
    * the current heads, write the matched key sets to a writer tmp, and
    * publish by [[Cas.publishDir]]. A concurrent or replayed attempt
    * that loses discards its tmp and reuses the committed record.
    */
  private def eraseIntent(s: SparkSession, p: PipelineStores, docPred: Column,
      vecPred: Column, txn: Long): Unit = {
    val dst = new java.io.File(intentDir(p, txn))
    if (dst.isDirectory) return
    // A fully-applied transaction whose record was GC'd must not write
    // a fresh one on replay: every arm will skip on its stamp anyway,
    // and the re-evaluated record would linger until the next vacuum.
    if (fullyApplied(p, txn)) return
    // Both heads pinned UP FRONT, before either predicate evaluation:
    // per table the predicate is evaluated once against one version;
    // cross-table, the two pins are adjacent reads, so the skew window
    // is two metadata reads wide — a commit landing exactly between
    // them can still make the vectors straddle pipeline states, which
    // is inherent without a global lock across both layouts (the arms
    // still converge on this ONE recorded key set either way).
    val docsHead = VersionedLayout.currentVersion(p.docs)
    val embHead = VersionedLayout.currentVersion(p.emb)
    val tmp = new java.io.File(s"${intentDir(p, txn)}.tmp-${Cas.writerTag}")
    org.apache.commons.io.FileUtils.deleteDirectory(tmp)
    tmp.getParentFile.mkdirs()
    VersionedLayout.readAsOf(s, p.docs, docsHead)
      .where(docPred).select(col("doc_id"))
      .coalesce(1).write.mode("overwrite").parquet(s"$tmp/docids")
    VersionedLayout.readAsOf(s, p.emb, embHead)
      .where(vecPred).select(col("vec_id"))
      .coalesce(1).write.mode("overwrite").parquet(s"$tmp/vecids")
    // Only a LOST PUBLISH RACE is benign (the winner's record is equally
    // valid — evaluated under the same txn); a failure with no record
    // must not let the erase stamp a zero-row delete. A tmp that a
    // concurrent [[vacuumIntents]] swept after the winner published is
    // the same benign case.
    Cas.publishDir(tmp, dst)(_.isDirectory)
  }

  /** A step wrapper that throws [[InjectedCrash]] once `failAfter`
    * store commits have completed (Int.MaxValue = never).
    */
  private final class Crasher(failAfter: Int) {
    private var done = 0
    def apply(step: => Int): Int = {
      if (done >= failAfter) throw new InjectedCrash(done)
      val r = step
      done += 1
      r
    }
  }

  private def crasher(failAfter: Int) = new Crasher(failAfter)

  /** THE pipeline's LSH banding scheme — r = 1 single-row bands, ONE
    * spelling shared by the admit and erase arms so a recomputed
    * retract can never use a different banding than the rows it must
    * net out. Contract: the pipeline owns its LSH store from `init`
    * (initialize it with these band rows); a store initialized under a
    * different scheme is out of contract for BOTH arms.
    */
  private def bandRowsOf(docs: DataFrame): DataFrame =
    Dedup.bandRows(Dedup.minhashSignatures(docs, "doc_id", "text"), rowsPerBand = 1)

  /** Assign a batch against the IVF store's FROZEN centroid table —
    * [[IvfIndexStore.assignAgainst]] (the one spelling of the coarse
    * quantizer): the O(delta) maintenance assignment, the corpus is
    * never re-assigned.
    */
  private def assignFrozen(s: SparkSession, ivfDir: String, embRows: DataFrame): DataFrame =
    IvfIndexStore.assignAgainst(
      embRows.select(col("vec_id"), col("embedding"),
        vectors.norm(col("embedding")).as("nrm")),
      IvfIndexStore.centroidsOf(s, ivfDir, IvfIndexStore.currentGeneration(ivfDir)),
      "vec_id", "embedding", "nrm")

  /** Table~index coverage audit AS OF an explicit (version, generation)
    * vector — one row per pair: distinct key counts on each side,
    * `missing_in_index` (table keys the index lacks — ingest lag) and
    * `stale_in_index` (index keys the table no longer has — erase lag).
    * A fully-applied pipeline reads all-zero lag; any crash window's
    * historical state reads its exact hole (q184).
    */
  def alignmentAuditAsOf(s: SparkSession, p: PipelineStores,
      docsVer: Int, lshGen: Int, embVer: Int, ivfGen: Int): DataFrame = {
    val docsLsh = pairAudit("documents~lsh",
      VersionedLayout.readAsOf(s, p.docs, docsVer),
      LshIndexStore.bandsOf(s, p.lsh, lshGen), "doc_id")
    val embIvf = pairAudit("embeddings~ivf",
      VersionedLayout.readAsOf(s, p.emb, embVer),
      IvfIndexStore.assignmentsOf(s, p.ivf, ivfGen), "vec_id")
    docsLsh.unionByName(embIvf)
  }

  /** [[alignmentAuditAsOf]] at every store's current head. */
  def alignmentAudit(s: SparkSession, p: PipelineStores): DataFrame =
    alignmentAuditAsOf(s, p,
      VersionedLayout.currentVersion(p.docs), LshIndexStore.currentGeneration(p.lsh),
      VersionedLayout.currentVersion(p.emb), IvfIndexStore.currentGeneration(p.ivf))

  /** Reclaim intent records of OLD transactions (`txn < keepFromTxn`)
    * that are FULLY APPLIED — every arm's stamp committed, so any
    * replay skips before ever reading the record. An intent whose
    * transaction still has an uncommitted arm is NEVER removed,
    * whatever its age: deleting it would make a late resume re-evaluate
    * the predicates at the then-current head — exactly the divergence
    * the record exists to prevent. Also sweeps abandoned writer tmps
    * (`txn<id>.tmp-*` left by a crash inside the intent write): a tmp
    * whose record published (or whose txn is fully applied) is garbage
    * now; otherwise it goes once its [[Cas.reclaimExpired]] lease runs
    * out. Returns the number of intent records reclaimed (tmps not
    * counted).
    */
  def vacuumIntents(p: PipelineStores, keepFromTxn: Long,
      orphanLeaseMs: Long = 30 * 60 * 1000L): Int = {
    val root = new java.io.File(s"${p.meta}/_intents")
    val entries = Option(root.listFiles()).getOrElse(Array.empty)
      .filter(_.isDirectory)
    // One log read per layout for the whole sweep, not per intent.
    val docsDel = VersionedLayout.log(p.docs)
      .collect { case e if e.action == "delete" => e.txn }.toSet
    val embDel = VersionedLayout.log(p.emb)
      .collect { case e if e.action == "delete" => e.txn }.toSet
    def applied(t: Long): Boolean = {
      val stamp = eraseStamp(t)
      docsDel(stamp) && GenChain.committedGen(p.lsh, stamp).isDefined &&
        embDel(stamp) && GenChain.committedGen(p.ivf, stamp).isDefined &&
        // A resolved-conflict marker pins the record until its repair
        // admit committed: the marker AND the recorded key set live in
        // this directory, and the repair needs both.
        (!lshConflictMarker(p, t).isFile ||
          GenChain.committedGen(p.lsh, eraseRepairStamp(t)).isDefined)
    }
    def txnOf(name: String): Option[Long] =
      "^txn(\\d+)".r.findFirstMatchIn(name).flatMap(_.group(1).toLongOption)
    entries.filter(_.getName.contains(".tmp-")).foreach { f =>
      if (txnOf(f.getName)
          .exists(t => new java.io.File(intentDir(p, t)).isDirectory || applied(t)))
        org.apache.commons.io.FileUtils.deleteDirectory(f)
      else Cas.reclaimExpired(f, orphanLeaseMs)
    }
    entries
      .filterNot(_.getName.contains(".tmp-"))
      .flatMap(f => f.getName.stripPrefix("txn").toLongOption.map(f -> _))
      .filter { case (_, t) => t < keepFromTxn && applied(t) }
      .map { case (f, _) =>
        org.apache.commons.io.FileUtils.deleteDirectory(f); 1
      }.sum
  }

  /** ONE maintenance entrypoint for the pipeline's whole store
    * footprint — the operation a deployment schedules instead of five:
    * checkpoint both layout logs (O(1)-read discipline), consult each
    * layout's retention policy ([[VersionedLayout.vacuumIfNeeded]]),
    * fold each index chain when the shared chain policy says so
    * ([[LshIndexStore.compactIfNeeded]] /
    * [[IvfIndexStore.compactIfNeeded]] — a chain compact also
    * consolidates its txn checkpoint, so exactly-once survives the
    * maintenance), and reclaim fully-applied erase-intent records.
    * Returns one report row per store: head version/generation, live
    * distinct keys, and which policies fired — deterministic given the
    * store state, so the report itself is oracle-gateable (q185).
    * Idempotent: a second immediate run fires nothing.
    *
    * The IVF RETRAIN decision rides the SAME scheduled pass when the
    * caller supplies an [[IvfRetrainPolicy]]: the policy's audit frame
    * (q173-shaped, a `retrain_recommended` boolean per generation —
    * bounded) is consulted via
    * [[IvfIndexStore.retrainWhenRecommended]] BEFORE the chain's
    * compaction consult (a retrain publishes a full snapshot, making a
    * same-pass fold moot), and whether it fired is reported in the
    * `retrained` column. Without a policy the retrain stays a separate
    * scheduled decision, exactly as before — the audit needs the
    * embedding data and a training pass only the caller can shape.
    */
  def maintain(s: SparkSession, p: PipelineStores, keepLast: Int,
      minReclaimRows: Long, reclaimIntentsBelowTxn: Long,
      maxOverheadMilli: Long = GenChain.recommendOverheadMilli,
      maxSegments: Int = GenChain.recommendMaxSegments,
      deepCounts: Boolean = true,
      ivfRetrain: Option[IvfRetrainPolicy] = None,
      retainWindow: Option[(Long, Long)] = None): DataFrame = {
    // History vacuum DEFERS while any erase transaction is in flight:
    // a resumed erase's pruned LSH arm reads the docs snapshot AS OF
    // its delete version minus one, and a vacuum above that would
    // force the fallback locating scan (or, for the embeddings side's
    // tombstone reads, nothing — but the rule is uniform and cheap to
    // check: one intent-dir listing).
    val pending = pendingIntents(p)
    // TIME-BASED arm (round 13): `retainWindow = Some((retainMs,
    // nowMs))` swaps the keep-last-N policy for `VACUUM ... RETAIN
    // <window>` semantics on both layouts
    // ([[VersionedLayout.vacuumIfNeededByTime]]) — the same erase-
    // pending deferral applies; `nowMs` is injectable so scheduled
    // policies (and specs) are deterministic.
    def layoutVac(dir: String): Boolean = pending.isEmpty && (retainWindow match {
      case Some((w, now)) =>
        VersionedLayout.vacuumIfNeededByTime(s, dir, w, now, minReclaimRows)
      case None => VersionedLayout.vacuumIfNeeded(s, dir, keepLast, minReclaimRows)
    })
    VersionedLayout.checkpoint(p.docs)
    val dVac = layoutVac(p.docs)
    val lCompacted = LshIndexStore.compactIfNeeded(s, p.lsh, maxOverheadMilli, maxSegments)
    VersionedLayout.checkpoint(p.emb)
    val eVac = layoutVac(p.emb)
    // Retrain consult FIRST (policy thunks evaluated lazily, per pass —
    // the audit must see THIS pass's head), then the fold consult: a
    // fired retrain publishes a full snapshot, so the fold reads a
    // zero-segment chain and correctly declines.
    val retrained = ivfRetrain.exists(pol =>
      IvfIndexStore.retrainWhenRecommended(pol.audit())(pol.retrain()))
    val iCompacted = IvfIndexStore.compactIfNeeded(s, p.ivf, maxOverheadMilli, maxSegments)
    val intents = vacuumIntents(p, reclaimIntentsBelowTxn)
    // The deep per-store key counts anchor the report to the data (the
    // q185 oracle rides them) but cost one distinct-count job per
    // store — a scheduled no-op health check at scale passes
    // deepCounts = false and reads -1 here.
    def layoutKeys(dir: String, key: String): Long =
      if (!deepCounts) -1L
      else VersionedLayout.readAsOf(s, dir, VersionedLayout.currentVersion(dir))
        .select(col(key)).distinct().count()
    val ivfHead = IvfIndexStore.currentGeneration(p.ivf)
    val lshHead = LshIndexStore.currentGeneration(p.lsh)
    val rows = Seq(
      ("docs", VersionedLayout.currentVersion(p.docs).toLong,
        layoutKeys(p.docs, "doc_id"), false, dVac, 0L, false),
      ("emb", VersionedLayout.currentVersion(p.emb).toLong,
        layoutKeys(p.emb, "vec_id"), false, eVac, 0L, false),
      ("ivf", ivfHead.toLong,
        if (!deepCounts) -1L
        else IvfIndexStore.assignmentsOf(s, p.ivf, ivfHead)
          .select(col("vec_id")).distinct().count(), iCompacted, false, 0L, retrained),
      ("lsh", lshHead.toLong,
        if (!deepCounts) -1L
        else LshIndexStore.bandsOf(s, p.lsh, lshHead)
          .select(col("doc_id")).distinct().count(), lCompacted, false, 0L, false),
      ("meta", -1L, 0L, false, false, intents.toLong, false),
    )
    val s0 = s
    import s0.implicits._
    rows.toDF("store", "head", "live_keys", "compacted", "vacuumed",
      "intents_reclaimed", "retrained")
  }

  /** The scheduled IVF retrain arm of [[maintain]]: `audit` builds the
    * q173-shaped drift frame (a boolean `retrain_recommended` column,
    * one bounded row per generation) and `retrain` runs the epoch-flip
    * recipe ([[IvfIndexStore.retrain]] — train on the live corpus,
    * re-assign the live set). Both are THUNKS so each maintenance pass
    * evaluates them against its own head — an audit frame built before
    * pass 1 would resolve pass 2's store paths stale.
    */
  final case class IvfRetrainPolicy(audit: () => DataFrame, retrain: () => Int)

  /** Recorded erase transactions with at least one uncommitted arm. */
  private def pendingIntents(p: PipelineStores): Seq[Long] = {
    val root = new java.io.File(s"${p.meta}/_intents")
    Option(root.listFiles()).getOrElse(Array.empty)
      .filter(f => f.isDirectory && !f.getName.contains(".tmp-"))
      .flatMap(_.getName.stripPrefix("txn").toLongOption)
      .filterNot(t => fullyApplied(p, t)).toSeq
  }

  /** Every arm of erase txn `txn` carries its stamp (erases touch all
    * four stores, so all four must), AND — when a resolved LSH conflict
    * left its durable marker — the repair admit committed too. Matches
    * the ERASE stamp space — an ingest that used the same caller id can
    * never satisfy it.
    */
  private def fullyApplied(p: PipelineStores, txn: Long): Boolean = {
    val stamp = eraseStamp(txn)
    VersionedLayout.log(p.docs).exists(e => e.action == "delete" && e.txn == stamp) &&
      GenChain.committedGen(p.lsh, stamp).isDefined &&
      VersionedLayout.log(p.emb).exists(e => e.action == "delete" && e.txn == stamp) &&
      GenChain.committedGen(p.ivf, stamp).isDefined &&
      (!lshConflictMarker(p, txn).isFile ||
        GenChain.committedGen(p.lsh, eraseRepairStamp(txn)).isDefined)
  }

  private def pairAudit(pair: String, table: DataFrame, index: DataFrame,
      key: String): DataFrame =
    // One exchange, not three (round 17, guide §2.4): the former
    // distinct-each-side + full-outer join shuffled the SAME key space
    // twice and then sorted both sides for the merge; tagging sides
    // into one union and grouping once computes the identical four
    // counts — the per-key presence flags partial-aggregate map-side,
    // so the exchange carries one row per (key, side) at most.
    // NULL keys cannot occur here by construction (both sides' key is
    // a layout row-identity / index doc-id column — non-null by the
    // write paths' domain checks), which is what makes the groupBy
    // spelling equivalent to the old full-outer join even though SQL
    // GROUP BY matches NULLs where a join's equality would not.
    table.select(col(key), lit(1).as("_side"))
      .unionByName(index.select(col(key), lit(2).as("_side")))
      .groupBy(col(key))
      .agg(max(when(col("_side") === 1, 1)).as("_t"),
        max(when(col("_side") === 2, 1)).as("_i"))
      .agg(
        count(col("_t")).as("table_keys"),
        count(col("_i")).as("index_keys"),
        count(when(col("_t").isNotNull && col("_i").isNull, 1)).as("missing_in_index"),
        count(when(col("_i").isNotNull && col("_t").isNull, 1)).as("stale_in_index"))
      .select(lit(pair).as("pair"), col("table_keys"), col("index_keys"),
        col("missing_in_index"), col("stale_in_index"))
}
