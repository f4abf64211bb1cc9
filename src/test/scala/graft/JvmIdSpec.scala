package graft

import java.nio.file.{Files, Path, Paths}

import org.scalatest.funsuite.AnyFunSuite

/** `JvmId.diag` writes its forensic ledger under the checkout's build
  * output (`target/diag/`), never into the tracked tree: the forked test
  * JVM runs with the checkout root as its working directory, so a
  * repo-root ledger was appended to by every test run. The exit sweep
  * deletes only this JVM's own scenario roots.
  */
class JvmIdSpec extends AnyFunSuite {

  /** (size, SHA-256) of a file, None when absent. */
  private def digest(p: Path): Option[(Long, String)] =
    if (!Files.isRegularFile(p)) None
    else {
      val md = java.security.MessageDigest.getInstance("SHA-256")
      Some(Files.size(p) -> md.digest(Files.readAllBytes(p)).map("%02x".format(_)).mkString)
    }

  test("diag lands under target/diag and leaves the repo-root DIAG.jsonl untouched") {
    val root = Paths.get(sys.props("user.dir")).toAbsolutePath
    assert(Files.isRegularFile(root.resolve("build.sbt")),
      s"tests are expected to run from the checkout root, not $root")
    val rootLedger = root.resolve("DIAG.jsonl")
    val before = digest(rootLedger)
    val nonce = java.util.UUID.randomUUID().toString
    JvmId.diag("jvmid_spec_probe", "nonce" -> nonce)
    assert(digest(rootLedger) == before, "JvmId.diag changed the repo-root DIAG.jsonl")
    val diagDir = root.resolve("target/diag")
    val ledgers = Option(diagDir.toFile.listFiles()).toSeq.flatten
      .filter(f => f.getName.startsWith("DIAG") && f.getName.endsWith(".jsonl"))
    assert(ledgers.exists(f => Files.readString(f.toPath).contains(nonce)),
      s"no line with nonce $nonce under $diagDir (files: ${ledgers.map(_.getName)})")
  }

  test("the exit sweep deletes this JVM's graft_ roots and nothing else") {
    val tmp = Files.createTempDirectory("graft-jvmid-sweep")
    val own = Files.createDirectories(tmp.resolve(s"graft_scenario_p${JvmId.token}/v0"))
    val foreign = Files.createDirectories(tmp.resolve("graft_scenario_p" + "0" * 32))
    val nonce = Files.createDirectories(tmp.resolve("graft_index_store_sf_n1a2b3c4d"))
    JvmId.sweepOwnRoots(tmp.toFile)
    assert(!Files.exists(own.getParent), "own-token root survived")
    assert(Files.isDirectory(foreign), "another JVM's root was deleted")
    assert(Files.isDirectory(nonce), "a nonce-named root was deleted")
    org.apache.commons.io.FileUtils.deleteDirectory(tmp.toFile)
  }
}
