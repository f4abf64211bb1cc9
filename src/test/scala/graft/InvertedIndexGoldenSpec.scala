package graft

import java.nio.file.{Files, Paths, Path}
import scala.jdk.CollectionConverters._

import graft.operators.ReferenceJob

/** Golden-output parity with the reference checker
  * (reference: tema1a/checker/checker.sh:22-41 — per-letter `diff -w`).
  * The tests need the reference tree; where it is absent they are
  * canceled, and ReferenceJobSpec's model checks, among them a paper-size
  * corpus, carry reference parity.
  */
class InvertedIndexGoldenSpec extends SparkSpec {

  private val checker = Paths.get("/root/reference/tema1a/checker")

  private def assumeReference(): Unit =
    assume(Files.isDirectory(checker), s"reference checker tree $checker is absent")

  private def writeManifest(dir: Path, files: Seq[Path]): Path = {
    val manifest = dir.resolve("manifest.txt")
    val content = (files.size.toString +: files.map(_.toAbsolutePath.toString)).mkString("\n")
    Files.writeString(manifest, content)
    manifest
  }

  private def letterFiles(dir: Path): Map[String, String] =
    ('a' to 'z').map { c =>
      val p = dir.resolve(s"$c.txt")
      s"$c.txt" -> (if (Files.exists(p)) Files.readString(p) else null)
    }.toMap

  /** diff -w equivalence: compare line sequences with whitespace runs
    * normalized and trailing whitespace stripped.
    */
  private def normalizeWs(content: String): Seq[String] =
    content.linesIterator.map(_.trim.replaceAll("\\s+", " ")).filter(_.nonEmpty).toSeq

  test("test_in_small matches golden output byte-for-byte, empty letters included") {
    assumeReference()
    val out = tempDir("graft-golden-small")
    val manifest = writeManifest(
      out,
      (1 to 3).map(i => checker.resolve(s"test_in_small/file$i.txt")))
    ReferenceJob.run(spark, manifest.toString, out.toString)

    val golden = letterFiles(checker.resolve("test_out_small"))
    val got = letterFiles(out)
    ('a' to 'z').foreach { c =>
      assert(got(s"$c.txt") != null, s"$c.txt missing")
      assert(got(s"$c.txt") == golden(s"$c.txt"), s"$c.txt differs from golden")
    }
  }

  test("full 355-file corpus matches golden output (diff -w equivalence)") {
    assumeReference()
    val out = tempDir("graft-golden-full")
    // The checked-in manifest uses paths relative to the checker dir, which
    // ManifestSource resolves against the manifest's own directory — but the
    // reference tree is read-only, so rebuild the manifest with absolute
    // paths in the same order (ids must match 1-based manifest positions).
    val entries = Files.readAllLines(checker.resolve("test.txt")).asScala
    val n = entries.head.trim.toInt
    val manifest = writeManifest(out, entries.slice(1, 1 + n).map(r => checker.resolve(r.trim)).toSeq)
    ReferenceJob.run(spark, manifest.toString, out.toString)

    val goldenDir = checker.resolve("test_out")
    ('a' to 'z').foreach { c =>
      val golden = normalizeWs(Files.readString(goldenDir.resolve(s"$c.txt")))
      val got = normalizeWs(Files.readString(out.resolve(s"$c.txt")))
      assert(got.size == golden.size, s"$c.txt line count: got ${got.size}, want ${golden.size}")
      got.zip(golden).zipWithIndex.foreach { case ((g, w), i) =>
        assert(g == w, s"$c.txt line ${i + 1}: got '$g', want '$w'")
      }
    }
  }

  test("re-running the sink over existing output leaves byte-identical files and no temp litter") {
    assumeReference()
    // The atomic-rename commit must make retries idempotent: a second
    // complete write (a retried/speculative task in miniature) swaps in
    // an identical file rather than interleaving with the first.
    val out = tempDir("graft-rewrite")
    val manifest = writeManifest(
      out,
      (1 to 3).map(i => checker.resolve(s"test_in_small/file$i.txt")))
    ReferenceJob.run(spark, manifest.toString, out.toString)
    val first = letterFiles(out)
    ReferenceJob.run(spark, manifest.toString, out.toString)
    assert(letterFiles(out) == first, "second write changed the output")
    val litter = Files.list(out).iterator.asScala
      .filter(_.getFileName.toString.startsWith(".tmp-")).toSeq
    assert(litter.isEmpty, s"uncommitted temp files left behind: $litter")
  }

  test("output is invariant under shuffle-partition count (reference M/R invariance)") {
    assumeReference()
    // Mirrors checker.sh:141-246: all parallelism configs must agree.
    val manifestDir = tempDir("graft-invariance")
    val manifest = writeManifest(
      manifestDir,
      (1 to 3).map(i => checker.resolve(s"test_in_small/file$i.txt")))
    val results = Seq(1, 2, 7).map { parts =>
      val out = tempDir(s"graft-inv-$parts")
      val prev = spark.conf.get("spark.sql.shuffle.partitions")
      try {
        spark.conf.set("spark.sql.shuffle.partitions", parts.toString)
        ReferenceJob.run(spark, manifest.toString, out.toString)
      } finally spark.conf.set("spark.sql.shuffle.partitions", prev)
      letterFiles(out)
    }
    assert(results.distinct.size == 1, "outputs differ across shuffle partition counts")
  }
}
