package graft.operators

/** The one optimistic-concurrency primitive both commit protocols share:
  * the layout log's hard-link publish ([[VersionedLayout.commit]]) and the
  * generation chains' atomic-rename publish ([[GenChain.publish]]) each
  * throw [[Cas.LostException]] when a concurrent writer already holds the
  * target, and [[Cas.withRetry]] rebases exactly those.
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
}
