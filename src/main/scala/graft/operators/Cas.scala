package graft.operators

import java.io.File
import java.nio.file.{FileAlreadyExistsException, FileSystemException, Files, NoSuchFileException, StandardCopyOption}

import org.apache.commons.io.FileUtils

/** The one commit-file protocol every storage layer publishes through:
  * the layout log ([[VersionedLayout]]), the generation chains
  * ([[GenChain]]), the table registry ([[graft.plans.GraftCatalog]]),
  * the pipeline's erase intents ([[PipelineTxn]]) and the stable
  * scenario roots. Five rules, stated once here:
  *
  *  1. '''One writer suffix.''' Every writer-private tmp ends in
  *     [[writerTag]] `p<jvm>t<thread>` ([[graft.JvmId.token]] plus the
  *     thread id): concurrent writers, in one JVM or many, preparing the
  *     same target write disjoint paths, so a lost race leaves
  *     unreferenced garbage instead of overwriting the winner's
  *     in-flight bytes. Each caller keeps its own prefix (`.gen-tmp-`,
  *     `.clone-tmp-`, `.tmp-`, `txn<id>.tmp-`); a file publish's tmp is
  *     `.<stem>.tmp-<tag>` beside its target ([[tmpFor]]).
  *  1. '''File publish = write a tmp, hard-link it''' ([[publishFile]]).
  *     `link(2)` refuses an existing target atomically, which is the
  *     compare-and-swap; `rename(2)` would silently replace it, letting
  *     the loser of a race overwrite the winner.
  *  1. '''Directory publish = build a tmp, rename it''' ([[publishDir]]).
  *     A rename onto a non-empty directory fails; the writer lost only
  *     if a complete copy now sits at the target, and any other failure
  *     is loud.
  *  1. '''One bounded re-read''' ([[reread]]): a file listed as present
  *     can vanish under a concurrent checkpoint truncation or vacuum;
  *     the re-list sees strictly newer state, so a few attempts converge
  *     and needing more than 8 fails loudly.
  *  1. '''One lease test''' ([[reclaimExpired]]): an uncommitted tmp or
  *     orphan is reclaimable only when the NEWEST mtime anywhere in its
  *     tree is older than the lease. Task part files land in
  *     subdirectories, which does not touch the root's mtime, so a
  *     root-only check would sweep a long in-flight write from under its
  *     writer. Sweeps apply it only to candidates that already failed
  *     the committed-name check, so a vacuum never walks a committed
  *     tree.
  *
  * A lost publish throws [[LostException]] where the caller's mutation
  * must rebase, and [[withRetry]] re-runs exactly those.
  */
object Cas {

  /** A lost commit compare-and-swap: another writer committed the
    * version or generation this mutation prepared. Still an
    * `IllegalStateException`, so a caller outside the retry loop sees a
    * loud failure, and the mutation published nothing.
    */
  final class LostException(msg: String, cause: Throwable)
    extends IllegalStateException(msg, cause)

  /** OPTIMISTIC multi-writer mutation: run `action`; if it loses the
    * commit CAS to a concurrent writer, re-run it against the new head.
    * The rebase is correct for every mutation that derives its artifacts
    * deterministically from the committed state it read, writes them
    * into writer-tagged (or writer-private tmp) paths that no reader
    * resolves until its own commit names them, and changes no committed
    * directory before its commit: re-running it IS the same logical
    * mutation serialized after the winner. That covers the layout's
    * appends, its copy-on-write maintenance (compact, fold, vacuum) and
    * the chains' admit/retract family. The exactly-once `*Once` entry
    * points re-check their txn stamp inside each attempt, so a batch the
    * winner committed is skipped, not duplicated.
    */
  def withRetry[T](attempts: Int = 5)(action: => T): T = {
    var last: Throwable = null
    (1 to attempts).foreach { _ =>
      try return action
      catch { case e: LostException => last = e }
    }
    throw new IllegalStateException(
      s"lost the commit race $attempts times — livelocked against concurrent writers", last)
  }

  /** Rule 1: the suffix unique to this writer (process + thread). */
  def writerTag: String = s"p${graft.JvmId.token}t${Thread.currentThread().getId}"

  /** This writer's tmp for a file publish of `target`:
    * `.<stem>.tmp-<writerTag>` in the target's directory.
    */
  def tmpFor(target: File): File = {
    val n = target.getName
    val stem = if (n.contains('.')) n.substring(0, n.lastIndexOf('.')) else n
    new File(target.getParentFile, s".$stem.tmp-$writerTag")
  }

  /** Whether `f` is a file publish's tmp ([[tmpFor]]'s name shape) —
    * never a committed name, so a sweep may test it for the lease.
    */
  def isPublishTmp(f: File): Boolean =
    f.isFile && f.getName.matches("\\..+\\.tmp-p[^.]+")

  /** Rule 2: publish `bytes` at `target` by write-tmp-then-hard-link.
    * The tmp is always deleted. Returns whether this writer won; false
    * means `target` already existed, and it is left as it was.
    */
  def publishFile(target: File, bytes: Array[Byte]): Boolean = {
    val tmp = tmpFor(target)
    Files.write(tmp.toPath, bytes)
    try { Files.createLink(target.toPath, tmp.toPath); true }
    catch { case _: FileAlreadyExistsException => false }
    finally Files.deleteIfExists(tmp.toPath)
  }

  /** Rule 3: publish the complete directory `tmp` at `target` by one
    * atomic rename. If the rename fails and `complete(target)` holds,
    * another writer published first: `tmp` is deleted and the result is
    * false. Any other failure throws, because no complete copy exists.
    */
  def publishDir(tmp: File, target: File)(complete: File => Boolean): Boolean =
    try {
      Files.move(tmp.toPath, target.toPath, StandardCopyOption.ATOMIC_MOVE)
      true
    } catch {
      case e: FileSystemException =>
        if (!complete(target)) throw new IllegalStateException(
          s"publish of $target failed and no complete copy exists", e)
        FileUtils.deleteDirectory(tmp)
        false
    }

  /** Rule 4: run `read` until it returns a stable result. `None`, or a
    * file vanishing mid-read, re-reads; after 8 unstable attempts the
    * read fails loudly, naming `what`.
    */
  def reread[T](what: => String)(read: => Option[T]): T = {
    var last: Throwable = null
    var attempts = 0
    while (attempts < 8) {
      attempts += 1
      val r = try read catch {
        case e @ (_: NoSuchFileException | _: java.io.FileNotFoundException) =>
          last = e
          None
      }
      if (r.isDefined) return r.get
    }
    throw new IllegalStateException(s"$what kept changing across 8 reads", last)
  }

  /** Rule 5: delete `f` (a file or a tree) when the newest mtime
    * anywhere in it is older than `leaseMs`; the walk stops at the first
    * fresh entry. Callers pass only candidates that already failed their
    * committed-name check.
    */
  def reclaimExpired(f: File, leaseMs: Long): Unit = {
    val cutoff = System.currentTimeMillis() - leaseMs
    def fresh(x: File): Boolean = x.lastModified() > cutoff ||
      Option(x.listFiles()).exists(_.exists(fresh))
    if (!fresh(f)) {
      if (f.isDirectory) FileUtils.deleteDirectory(f) else Files.deleteIfExists(f.toPath)
    }
  }
}
