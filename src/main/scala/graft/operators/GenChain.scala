package graft.operators

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The generation-chain commit protocol shared by the three maintained
  * index stores ([[IndexStore]], [[LshIndexStore]], [[IvfIndexStore]]):
  * numbered generation directories `v<N>/`, each built COMPLETE under a
  * writer tmp `.gen-tmp-v<N>-<tag>` — its manifest JSON written LAST
  * inside — then published by [[Cas.publishDir]] (the commit-file rules
  * are [[Cas]]'s), so readers only ever see complete generations, a
  * crashed mutation leaves a tmp that [[vacuumGenerations]] sweeps, and
  * a lost race fails loudly instead of clobbering committed state.
  * Manifests ([[MetaJson]]) carry a `txn` stamp for exactly-once
  * streaming ingest (the [[VersionedLayout.appendInsertOnce]] contract).
  */
private[graft] object GenChain {

  def genDir(dir: String, gen: Int) = s"$dir/v$gen"

  def manifest(dir: String, gen: Int) =
    new java.io.File(genDir(dir, gen), "_graft_manifest.json")

  /** Highest COMPLETE generation (manifest present), -1 when none. */
  def currentGeneration(dir: String): Int =
    Option(new java.io.File(dir).listFiles()).getOrElse(Array.empty)
      .filter(f => f.isDirectory && f.getName.matches("v\\d+"))
      .map(_.getName.stripPrefix("v").toInt)
      .filter(g => manifest(dir, g).isFile)
      .maxOption.getOrElse(-1)

  /** Latest full-snapshot generation at or below `gen` — the one whose
    * directory holds `snapshotSubdir` (v0 or a compaction): the segment
    * chain's base.
    */
  def baseGenOf(dir: String, gen: Int, snapshotSubdir: String): Int =
    (gen to 0 by -1).find(g => new java.io.File(genDir(dir, g), snapshotSubdir).isDirectory)
      .getOrElse(throw new IllegalStateException(s"$dir has no full-snapshot generation <= $gen"))

  def txnOf(dir: String, gen: Int): Long =
    MetaJson.parseManifest(new String(
      Files.readAllBytes(manifest(dir, gen).toPath), StandardCharsets.UTF_8))._2

  /** The generation whose manifest records `txn`, skipping vacuumed
    * (manifest-less) generations — the exactly-once replay check.
    * `txn < 0` is the NON-transactional sentinel every batch mutation
    * publishes with; matching it would make `admitOnce(txn = -1)`
    * silently skip real work (any v0 init or compact carries -1), so a
    * sentinel lookup is always "not committed".
    *
    * Consistency under concurrent maintenance: the checkpoint map and
    * the manifest-tail bound come from ONE checkpoint-file read (see
    * [[txnCheckpoint]] — a coverage re-read could have advanced past
    * generations the map we hold does not cover, making a committed
    * txn invisible), a mid-scan vanishing manifest (vacuum) retries,
    * and a lookup that misses re-checks whether the checkpoint
    * advanced underneath it before concluding "not committed".
    */
  def committedGen(dir: String, txn: Long): Option[Int] =
    if (txn < 0) None
    // A manifest listed as present can vanish mid-scan under a
    // concurrent vacuum; its stamp is then in the (newer) checkpoint,
    // which the re-read sees.
    else Cas.reread(s"txn index of $dir") {
      val (cov, idx) = txnCheckpoint(dir)
      idx.get(txn).orElse(((cov + 1) to currentGeneration(dir))
        .filter(g => manifest(dir, g).isFile)
        .find(g => txnOf(dir, g) == txn)) match {
        case found @ Some(_) => Some(found)
        // A checkpoint landing between our read and the tail scan may
        // have absorbed (and a vacuum deleted) the very generation we
        // were scanning for — only a STABLE view may conclude absence.
        case None => if (checkpointCoverage(dir) == cov) Some(None) else None
      }
    }

  /** (coverage, txn -> generation) read from ONE checkpoint file — the
    * newest at list time; a read that loses the race with a superseding
    * checkpoint's truncation re-lists (strictly newer state, bounded).
    */
  private def txnCheckpoint(dir: String): (Int, Map[Long, Int]) =
    Cas.reread(s"txn checkpoint of $dir") {
      val n = checkpointCoverage(dir)
      if (n < 0) Some((-1, Map.empty[Long, Int]))
      else Some((n, new String(Files.readAllBytes(
        new java.io.File(dir, s"_txn-ckpt-v$n.txt").toPath), StandardCharsets.UTF_8)
        .linesIterator.filter(_.nonEmpty).map { l =>
          val Array(t, g) = l.split(",", 2)
          t.toLong -> g.toInt
        }.toMap))
    }

  private def txnCkptFiles(dir: String): Array[java.io.File] =
    Option(new java.io.File(dir).listFiles()).getOrElse(Array.empty)
      .filter(f => f.isFile && f.getName.matches("_txn-ckpt-v\\d+\\.txt"))

  /** Highest generation the newest txn checkpoint covers (-1 when none). */
  def checkpointCoverage(dir: String): Int =
    txnCkptFiles(dir)
      .map(_.getName.stripPrefix("_txn-ckpt-v").stripSuffix(".txt").toInt)
      .maxOption.getOrElse(-1)

  /** The newest txn checkpoint's txn -> generation map. Replay detection
    * reads this O(1) file plus only the post-checkpoint manifest tail,
    * instead of every `v<N>` manifest — the bound that keeps
    * `admitOnce` flat at 10^5 generations of continuous ingest. The map
    * also SURVIVES vacuuming the generations that carried the stamps
    * (see [[vacuumGenerations]]), so exactly-once holds across history
    * reclamation.
    */
  def txnIndex(dir: String): Map[Long, Int] = txnCheckpoint(dir)._2

  /** Consolidate every transactional (txn >= 0) stamp at or below the
    * current head into one checkpoint file named for its coverage,
    * then drop the older checkpoints it subsumes. Published by
    * [[Cas.publishFile]]: a lost same-head race is benign (both writers
    * render identical content — the map is deterministic from the
    * chain). Returns the covered generation.
    */
  def checkpointTxns(dir: String): Int = {
    val head = currentGeneration(dir)
    require(head >= 0, s"$dir has no committed generation to checkpoint")
    // One consistent (coverage, map) read — a coverage re-read could
    // skip generations the map we hold does not cover.
    val (cov, prev) = txnCheckpoint(dir)
    val fresh = ((cov + 1) to head).filter(g => manifest(dir, g).isFile)
      .flatMap(g => { val t = txnOf(dir, g); if (t >= 0) Some(t -> g) else None })
    val all = prev ++ fresh
    val f = new java.io.File(dir, s"_txn-ckpt-v$head.txt")
    if (!f.isFile)
      Cas.publishFile(f, all.toSeq.sorted.map { case (t, g) => s"$t,$g" }.mkString("\n")
        .getBytes(StandardCharsets.UTF_8))
    txnCkptFiles(dir)
      .filter(_.getName.stripPrefix("_txn-ckpt-v").stripSuffix(".txt").toInt < head)
      .foreach(old => Files.deleteIfExists(old.toPath))
    head
  }

  /** Publish generation `gen` from a complete tmp: manifest last, then
    * [[Cas.publishDir]]. A generation another writer already published
    * loses: [[Cas.LostException]], which [[Cas.withRetry]] rebases.
    */
  def publish(dir: String, gen: Int, txn: Long, tmp: String): Unit = {
    Files.write(new java.io.File(tmp, "_graft_manifest.json").toPath,
      MetaJson.renderManifest(gen, txn).getBytes(StandardCharsets.UTF_8))
    Files.createDirectories(Paths.get(dir))
    if (!Cas.publishDir(new java.io.File(tmp), new java.io.File(genDir(dir, gen)))(
        new java.io.File(_, "_graft_manifest.json").isFile))
      throw new Cas.LostException(
        s"generation $gen of $dir was committed by another writer", null)
  }

  /** This writer's build dir for generation `gen` ([[Cas.writerTag]]). */
  def freshTmp(dir: String, gen: Int): String = {
    val tmp = s"$dir/.gen-tmp-v$gen-${Cas.writerTag}"
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(tmp))
    Files.createDirectories(Paths.get(tmp))
    tmp
  }

  /** Drop generations BELOW `keepFrom` (caller asserts `keepFrom` is a
    * full-snapshot generation so the chain stays rooted). The txn stamps
    * of the generations about to vanish are consolidated into the txn
    * checkpoint FIRST — otherwise a restarted stream would re-commit a
    * vacuumed batch, breaking exactly-once across history reclamation.
    * Abandoned writer tmps (crashed or CAS-lost `.gen-tmp-` builds, and
    * a killed checkpoint publish's `._txn-ckpt-v<N>.tmp-` file) go once
    * their [[Cas.reclaimExpired]] lease runs out.
    */
  def vacuumGenerations(dir: String, keepFrom: Int,
      orphanLeaseMs: Long = 15 * 60 * 1000L): Unit = {
    if (currentGeneration(dir) >= 0) checkpointTxns(dir)
    (0 until keepFrom).foreach { g =>
      val d = new java.io.File(genDir(dir, g))
      if (d.isDirectory) org.apache.commons.io.FileUtils.deleteDirectory(d)
    }
    Option(new java.io.File(dir).listFiles()).getOrElse(Array.empty)
      .filter(f => (f.isDirectory && f.getName.startsWith(".gen-tmp-")) || Cas.isPublishTmp(f))
      .foreach(Cas.reclaimExpired(_, orphanLeaseMs))
  }

  /** The policy's default thresholds, shared by every maintained chain:
    * fold when the chain read scans >= 1.5x the rows a folded base would,
    * or when segment count alone reaches 8 (each segment adds scheduling
    * + open cost even when small). The q169 audit reports both inputs.
    */
  val recommendOverheadMilli: Long = 1500L
  val recommendMaxSegments: Int = 8

  /** ONE compaction policy for every maintained chain: fire at
    * `maxSegments` chain length, or when the merged read's row mass
    * reaches `maxOverheadMilli`/1000 of the folded mass (integer-exact
    * crossing test). `audit` is the chain's (segments, read rows,
    * folded rows); `doCompact` is its fold. Returns whether it fired.
    */
  def compactWhenNeeded(audit: (Int, Long, Long), doCompact: => Int,
      maxOverheadMilli: Long, maxSegments: Int): Boolean = {
    val (nSeg, readRows, foldedRows) = audit
    val fire = nSeg > 0 && (nSeg >= maxSegments ||
      (foldedRows > 0 && readRows * 1000L >= foldedRows * maxOverheadMilli))
    if (fire) { doCompact; () }
    fire
  }

  /** Per-id HIGHEST retract generation in (baseGen, gen], if any — the
    * GENERATION-SCOPED tombstone horizon shared by the stores: a
    * retract at generation r erases only rows whose segment generation
    * is below r, so an id retracted and later re-admitted is live
    * again. The horizon table is retracted-ids-sized (tiny next to the
    * corpus), so the mask join broadcasts at scale.
    */
  def retractHorizons(s: SparkSession, dir: String, baseGen: Int, gen: Int,
      idCol: String): Option[DataFrame] = {
    val segs = ((baseGen + 1) to gen).flatMap { g =>
      val d = new java.io.File(genDir(dir, g), "retract-ids")
      if (d.isDirectory)
        Seq(SnapshotCache.parquet(s, SnapshotCache.genStamp(dir, g), None,
          Seq(d.getAbsolutePath)).withColumn("_retract_gen", lit(g)))
      else Nil
    }
    segs.reduceOption(_ unionByName _)
      .map(_.groupBy(col(idCol)).agg(max(col("_retract_gen")).as("_retract_gen")))
  }
}
