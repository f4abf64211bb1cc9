package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.ReferenceJob

class RefModelSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = graft.GraftSession
    .builder("perfbench-test", Some("local[2]"), shufflePartitions = 2).getOrCreate()
  private val tmp = Files.createTempDirectory("perfbench-model")

  override def afterAll(): Unit = {
    spark.stop()
    val walk = Files.walk(tmp)
    try walk.iterator().asScala.toSeq.reverse.foreach(Files.delete) finally walk.close()
  }

  /** Writes `files` (name -> body) and a manifest listing `order`. */
  private def manifest(dir: String, files: Map[String, String], order: Seq[String]): Path = {
    val d = Files.createDirectories(tmp.resolve(dir))
    files.foreach { case (n, body) => Files.write(d.resolve(n), body.getBytes(StandardCharsets.UTF_8)) }
    Files.write(d.resolve("manifest.txt"),
      (order.length.toString +: order).mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
  }

  private def letter(out: IndexedSeq[Array[Byte]], c: Char) =
    new String(out(c - 'a'), StandardCharsets.UTF_8)

  test("whitespace-only and empty files contribute nothing; absent letters are empty files") {
    val m = manifest("ws", Map("a.txt" -> " \t\n\r\n  ", "b.txt" -> "", "c.txt" -> "Zebra\u000b zoo"),
      Seq("a.txt", "b.txt", "c.txt"))
    val out = RefModel.run(m)
    assert(out.length == 26)
    assert(letter(out, 'z') == "zebra:[3]\nzoo:[3]\n")
    assert(('a' to 'y').forall(c => out(c - 'a').isEmpty))
  }

  test("a path listed twice gets two ids") {
    val m = manifest("dup", Map("x.txt" -> "apple banana", "y.txt" -> "apple"),
      Seq("x.txt", "y.txt", "x.txt"))
    val out = RefModel.run(m)
    assert(letter(out, 'a') == "apple:[1 2 3]\n")
    assert(letter(out, 'b') == "banana:[1 3]\n")
  }

  test("doc-frequency ties are ordered by word; normalization follows the reference") {
    val m = manifest("ties", Map(
      "1.txt" -> "beta Alpha, gamma's",
      "2.txt" -> "alpha BETA x1y2 café",
      "3.txt" -> "\"bravo\" ?!"),
      Seq("1.txt", "2.txt", "3.txt"))
    val out = RefModel.run(m)
    assert(letter(out, 'b') == "beta:[1 2]\nbravo:[3]\n")
    assert(letter(out, 'a') == "alpha:[1 2]\n")
    assert(letter(out, 'g') == "gammas:[1]\n")
    assert(letter(out, 'x') == "xy:[2]\n")
    assert(letter(out, 'c') == "caf:[2]\n")
  }

  test("ReferenceJob matches the model byte for byte on a generated corpus") {
    val files = Corpus.generate(11L,
      Corpus.Shape(files = 15, tokens = 20000, vocabulary = 2000, zipfS = 1.05))
    val m = Corpus.write(tmp.resolve("gen"), files)
    val out = tmp.resolve("gen-out")
    ReferenceJob.run(spark, m.toString, out.toString)
    assert(RefModel.mismatches(out, RefModel.run(m)).isEmpty)
  }
}
