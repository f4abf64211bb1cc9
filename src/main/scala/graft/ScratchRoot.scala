package graft

import java.io.File
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong
import java.util.regex.Pattern

import scala.util.control.NonFatal

import org.apache.commons.io.FileUtils

import graft.operators.Cas

/** The one place a scratch root under the JVM's temp directory is
  * named, built and reclaimed. Every root is `graft_<name>_<sfx>_…`,
  * where `sfx` is the source directory with every non-alphanumeric
  * character replaced by `_`, and ends in one of two owners:
  *
  *  - '''`_p<token>`''' ([[jvm]], [[fresh]]): private to this JVM
  *    ([[JvmId.token]]), so no other JVM can name it, and deleted by
  *    the exit sweep ([[JvmId.sweepOwnRoots]]). A killed JVM's roots
  *    stay: nothing tells a live JVM's root from a dead one's.
  *  - '''`_n<nonce>`''' ([[stable]]): shared by every JVM running the
  *    same code, so a fresh session reuses the layouts an earlier one
  *    paid for. The nonce is a CRC of the bytecode of the classes whose
  *    behaviour determines the root's content: state built by another
  *    code spelling lands under another root and is never adopted.
  *    Such roots go dead when the code changes; the first claim of a
  *    name in a JVM reclaims them ([[claim]]).
  *
  * [[once]] builds a root at most once per JVM and records it only
  * after the build returns; [[publishOnce]] builds a shared root in a
  * writer tmp and publishes it with one rename ([[Cas.publishDir]]).
  */
object ScratchRoot {

  private val tmpDir = new File(sys.props("java.io.tmpdir"))

  try Runtime.getRuntime.addShutdownHook(new Thread(() => JvmId.sweepOwnRoots(tmpDir)))
  catch { case _: IllegalStateException => () } // already shutting down

  /** How long an other-nonce sibling or a publish tmp must sit untouched
    * (newest mtime anywhere in its tree, [[Cas.reclaimExpired]]) before
    * a claim deletes it: 2 hours. A JVM of other code refreshes its root
    * at its own first claim and writes into it while it builds, but may
    * then only read it; the lease must outlast the longest such run. The
    * longest run here is the Tier-1 suite, whose timeout is 2670 s.
    */
  val leaseMs: Long = 2L * 60 * 60 * 1000

  private def sfx(d: String): String = d.replaceAll("[^A-Za-z0-9]", "_")

  private def under(name: String): String = new File(tmpDir, name).getAbsolutePath

  /** This JVM's root `graft_<name>_<sfx>_p<token>`, or
    * `graft_<name>_p<token>` when `d` is empty.
    */
  def jvm(name: String, d: String = ""): String =
    under(s"graft_$name${if (d.isEmpty) "" else "_" + sfx(d)}_p${JvmId.token}")

  private val freshSeq = new AtomicLong()

  /** A new per-JVM directory name on every call, for single-use state
    * such as a stream's checkpoint.
    */
  def fresh(name: String): String =
    under(s"graft_${name}_p${JvmId.token}_${freshSeq.incrementAndGet()}")

  private val nonces = new ConcurrentHashMap[Seq[Class[_]], String]()

  /** CRC of the given classes' bytecode, hex. */
  private[graft] def classNonce(classes: Seq[Class[_]]): String =
    nonces.computeIfAbsent(classes, _ => {
      val crc = new java.util.zip.CRC32()
      classes.foreach { c =>
        val res = c.getResourceAsStream("/" + c.getName.replace('.', '/') + ".class")
        if (res != null)
          try crc.update(res.readAllBytes()) finally res.close()
      }
      java.lang.Long.toHexString(crc.getValue)
    })

  private val claimed = ConcurrentHashMap.newKeySet[String]()

  /** The shared root `graft_<name>_<sfx>_n<nonce>`, the nonce taken over
    * `classes`. Its first call in a JVM [[claim]]s the name.
    */
  def stable(name: String, d: String, classes: Class[_]*): String = {
    val stem = s"graft_${name}_${sfx(d)}_n"
    val root = under(stem + classNonce(classes))
    if (claimed.add(root)) claim(new File(root), stem)
    root
  }

  /** Refresh `root`'s mtime, so no other code's claim reclaims it while
    * this JVM reads it, then reclaim by [[leaseMs]]: every same-name
    * sibling of another nonce (`<stem><other>`, plus its `-feeder` and
    * tmp companions) and this root's own `<root>.tmp-p…` publish tmps.
    * A reclaim that fails (a peer deleting the same entry) is skipped.
    */
  private[graft] def claim(root: File, stem: String): Unit = {
    root.setLastModified(System.currentTimeMillis())
    val own = root.getName.stripPrefix(stem)
    val named = (Pattern.quote(stem) + "([0-9a-f]+)([-.].*)?").r
    Option(root.getParentFile.listFiles()).toSeq.flatten.foreach { f =>
      val dead = f.getName match {
        case named(nonce, rest) =>
          if (nonce != own) true else rest != null && rest.startsWith(".tmp-p")
        case _ => false
      }
      if (dead)
        try Cas.reclaimExpired(f, leaseMs) catch { case NonFatal(_) => () }
    }
  }

  private val built = ConcurrentHashMap.newKeySet[String]()
  private val locks = new ConcurrentHashMap[String, AnyRef]()

  /** Run `build` for `root` unless it already returned in this JVM; one
    * lock per root, so concurrent callers wait for the one build. The
    * root is recorded only after `build` returns: a build that throws
    * leaves it unrecorded and the next caller builds again. A per-JVM
    * root that is not recorded can only hold such a failed build, so
    * it is cleared first.
    */
  def once(root: String)(build: => Unit): String = {
    if (!built.contains(root)) locks.computeIfAbsent(root, _ => new Object).synchronized {
      if (!built.contains(root)) {
        val f = new File(root)
        if (f.getName.endsWith(s"_p${JvmId.token}")) FileUtils.deleteDirectory(f)
        build
        built.add(root)
      }
    }
    root
  }

  /** Forget that `root` was built, so the next [[once]] builds it again. */
  private[graft] def forget(root: String): Unit = built.remove(root)

  /** [[once]] for a root built whole and then published: unless
    * `complete(root)` holds, `build` fills the writer tmp
    * `<root>.tmp-<writerTag>`, which is renamed onto the root. A JVM that
    * published first built the same deterministic content, so losing
    * the rename is fine.
    */
  def publishOnce(root: String)(complete: File => Boolean)(build: File => Unit): String =
    once(root) {
      val target = new File(root)
      if (!complete(target)) {
        val tmp = new File(s"$root.tmp-${Cas.writerTag}")
        FileUtils.deleteDirectory(tmp)
        build(tmp)
        Cas.publishDir(tmp, target)(complete)
      }
    }
}
