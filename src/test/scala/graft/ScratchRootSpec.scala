package graft

import java.io.File
import java.nio.file.{Files, Paths}
import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.commons.io.FileUtils
import org.apache.commons.io.filefilter.TrueFileFilter
import org.scalatest.funsuite.AnyFunSuite

/** [[ScratchRoot]]: a root is recorded only after its build returns,
  * concurrent callers share one build, a claim reclaims dead siblings by
  * lease, and no other file in `src/main` names a scratch root.
  */
class ScratchRootSpec extends AnyFunSuite {

  test("a once build that throws runs again on the next call, which completes the root") {
    val root = ScratchRoot.jvm(s"scratchroot_spec_${java.util.UUID.randomUUID().toString.take(8)}")
    val runs = new AtomicInteger()
    def build(fail: Boolean): Unit = {
      runs.incrementAndGet()
      val dir = new File(root)
      dir.mkdirs()
      if (fail) {
        Files.write(new File(dir, "partial").toPath, Array[Byte](1))
        throw new IllegalStateException("build failed")
      }
      Files.write(new File(dir, "done").toPath, Array[Byte](1))
    }
    try {
      intercept[IllegalStateException](ScratchRoot.once(root)(build(fail = true)))
      assert(ScratchRoot.once(root)(build(fail = false)) == root)
      assert(runs.get == 2, "the failed build was not retried")
      assert(new File(root, "done").isFile, "the retried build did not complete the root")
      assert(!new File(root, "partial").exists, "the failed build's leftovers survived the retry")
      ScratchRoot.once(root)(build(fail = false))
      assert(runs.get == 2, "a completed root was built again")
    } finally FileUtils.deleteDirectory(new File(root))
  }

  test("two threads racing once on one root run the build exactly once") {
    val root = s"scratchroot-spec-race-${java.util.UUID.randomUUID()}"
    val runs = new AtomicInteger()
    val start = new CountDownLatch(1)
    val pool = Executors.newFixedThreadPool(2)
    try {
      val results = (1 to 2).map { _ =>
        pool.submit(() => {
          start.await()
          ScratchRoot.once(root) { runs.incrementAndGet(); Thread.sleep(200) }
        })
      }
      start.countDown()
      results.foreach(r => assert(r.get(30, TimeUnit.SECONDS) == root))
      assert(runs.get == 1, s"the build ran ${runs.get} times")
    } finally pool.shutdownNow()
  }

  test("a claim reclaims stale other-nonce siblings and publish tmps, and nothing live") {
    val tmp = Files.createTempDirectory("graft-scratchroot-claim").toFile
    try {
      val stem = "graft_scn_sf_n"
      val old = System.currentTimeMillis() - 2 * ScratchRoot.leaseMs
      def entry(name: String, stale: Boolean): File = {
        val f = new File(tmp, name)
        new File(f, "part").mkdirs()
        Files.write(new File(f, "part/x.parquet").toPath, Array[Byte](1))
        if (stale) FileUtils.listFilesAndDirs(f, TrueFileFilter.TRUE, TrueFileFilter.TRUE)
          .forEach(x => x.setLastModified(old))
        f
      }
      val root = entry(s"${stem}abc1", stale = true)
      val deadSibling = entry(s"${stem}0def2", stale = true)
      val deadFeeder = entry(s"${stem}0def2-feeder", stale = true)
      val deadTmp = entry(s"${stem}abc1.tmp-p${"0" * 32}t1", stale = true)
      val freshSibling = entry(s"${stem}0fee3", stale = false)
      val jvmRoot = entry(s"graft_scn_sf_p${"0" * 32}", stale = true)
      val otherName = entry(s"${stem}12_nabc9", stale = true)
      ScratchRoot.claim(root, stem)
      assert(!deadSibling.exists, "a stale other-nonce sibling survived")
      assert(!deadFeeder.exists, "a stale other-nonce companion survived")
      assert(!deadTmp.exists, "a stale publish tmp survived")
      assert(root.isDirectory && new File(root, "part/x.parquet").isFile, "the current root was touched")
      assert(root.lastModified > old, "the claim did not refresh the root's mtime")
      assert(freshSibling.isDirectory, "a sibling inside its lease was reclaimed")
      assert(jvmRoot.isDirectory, "a _p<token> root was reclaimed")
      assert(otherName.isDirectory, "another name's root was reclaimed")
    } finally FileUtils.deleteDirectory(tmp)
  }

  test("no file in src/main other than ScratchRoot reads java.io.tmpdir or spells a graft_ root name") {
    val main = Paths.get(sys.props("user.dir"), "src/main/scala")
    assert(Files.isDirectory(main), s"tests are expected to run from the checkout root, not ${sys.props("user.dir")}")
    val rootName = "\"graft_[^\"]*(JvmId\\.token|_p\\$|_n\\$)".r
    val hits = Files.walk(main).iterator().asScala
      .filter(p => p.toString.endsWith(".scala") && p.getFileName.toString != "ScratchRoot.scala")
      .flatMap { p =>
        Files.readAllLines(p).asScala.zipWithIndex.collect {
          case (line, i) if line.contains("java.io.tmpdir") || rootName.findFirstIn(line).isDefined =>
            s"${main.relativize(p)}:${i + 1}: ${line.trim}"
        }
      }.toList
    assert(hits.isEmpty, s"scratch roots named outside ScratchRoot:\n${hits.mkString("\n")}")
  }
}
