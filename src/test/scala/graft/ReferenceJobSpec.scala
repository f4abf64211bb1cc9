package graft

import java.nio.charset.{Charset, StandardCharsets}
import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Random

import org.scalacheck.{Gen, Prop, Test}
import org.scalacheck.Prop.propBoolean
import org.scalacheck.rng.Seed
import org.scalatest.BeforeAndAfterAll

import graft.functions.text
import graft.operators.ReferenceJob

/** `ReferenceJob` against a plain-Scala model of the reference program
  * (tema1a/src/main.cpp), on hand-made corpora, so reference parity is
  * checked without the reference tree. The model:
  *   - the manifest's first line is a count N, then N paths relative to the
  *     manifest's directory; file ids are 1-based manifest positions, so a
  *     path listed twice gets two ids;
  *   - tokens are `operator>>` words over the file's BYTES: maximal runs
  *     outside the C locale's whitespace (space, \t, \n, \v, \f, \r);
  *   - each token is normalized by `text.normalizeWordScala` (bytes read as
  *     Latin-1, so every non-ASCII byte is a non-letter) and dropped if
  *     nothing survives;
  *   - a word's posting list is the set union of the ids it occurs in;
  *   - each letter file lists its words by doc_freq desc, then word asc,
  *     one `word:[id id ...]` line each; absent letters give empty files.
  */
class ReferenceJobSpec extends SparkSpec with BeforeAndAfterAll {

  private val root = Files.createTempDirectory("graft-refjob")

  override def afterAll(): Unit = {
    val walk = Files.walk(root)
    try walk.iterator().asScala.toSeq.reverse.foreach(Files.delete) finally walk.close()
  }

  private object Model {
    def words(bytes: Array[Byte]): Iterator[String] =
      new String(bytes, StandardCharsets.ISO_8859_1)
        .split("[ \t\n\u000b\f\r]+").iterator
        .map(text.normalizeWordScala).filter(_.nonEmpty)

    def letterFiles(docs: Seq[Array[Byte]]): IndexedSeq[String] = {
      val postings = mutable.TreeMap.empty[String, mutable.TreeSet[Int]]
      docs.zipWithIndex.foreach { case (bytes, i) =>
        words(bytes).foreach(w => postings.getOrElseUpdate(w, mutable.TreeSet.empty[Int]) += i + 1)
      }
      val byLetter = postings.toSeq.groupBy(_._1.charAt(0))
      ('a' to 'z').map { c =>
        byLetter.getOrElse(c, Nil)
          .sortBy { case (w, ids) => (-ids.size, w) }
          .map { case (w, ids) => s"$w:[${ids.mkString(" ")}]\n" }
          .mkString
      }
    }
  }

  private var dirs = 0

  /** Writes `files` (name -> bytes) into a fresh directory with a manifest
    * listing `order`, and returns the manifest and the bytes in id order.
    */
  private def corpus(files: Map[String, Array[Byte]], order: Seq[String]): (Path, Seq[Array[Byte]]) = {
    dirs += 1
    val dir = Files.createDirectories(root.resolve(s"in-$dirs"))
    files.foreach { case (name, bytes) => Files.write(dir.resolve(name), bytes) }
    val manifest = Files.write(dir.resolve("manifest.txt"),
      (order.length.toString +: order).mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
    (manifest, order.map(files))
  }

  private def utf8(s: String): Array[Byte] = s.getBytes(StandardCharsets.UTF_8)

  /** Runs the job into a fresh directory and returns its files, all 26
    * letter files present and nothing else.
    */
  private def run(manifest: Path): IndexedSeq[String] = {
    dirs += 1
    val out = root.resolve(s"out-$dirs")
    ReferenceJob.run(spark, manifest.toString, out.toString)
    read(out)
  }

  private def read(out: Path): IndexedSeq[String] = {
    val listing = Files.list(out)
    val names = try listing.iterator().asScala.map(_.getFileName.toString).toSet finally listing.close()
    assert(names == ('a' to 'z').map(c => s"$c.txt").toSet)
    ('a' to 'z').map(c => new String(Files.readAllBytes(out.resolve(s"$c.txt")), StandardCharsets.UTF_8))
  }

  private def assertMatchesModel(files: Map[String, Array[Byte]], order: Seq[String]): IndexedSeq[String] = {
    val (manifest, docs) = corpus(files, order)
    val got = run(manifest)
    val want = Model.letterFiles(docs)
    ('a' to 'z').zipWithIndex.foreach { case (c, i) => assert(got(i) == want(i), s"$c.txt") }
    got
  }

  test("a path listed twice gets two ids") {
    val got = assertMatchesModel(
      Map("x.txt" -> utf8("apple banana"), "y.txt" -> utf8("apple")),
      Seq("x.txt", "y.txt", "x.txt"))
    assert(got(0) == "apple:[1 2 3]\n")
    assert(got(1) == "banana:[1 3]\n")
  }

  test("empty and whitespace-only files contribute nothing; absent letters are empty files") {
    val got = assertMatchesModel(
      Map("ws.txt" -> utf8(" \t\n\r\n  \u000b\f"), "empty.txt" -> Array.emptyByteArray,
        "z.txt" -> utf8("Zebra zoo")),
      Seq("ws.txt", "empty.txt", "z.txt"))
    assert(got(25) == "zebra:[3]\nzoo:[3]\n")
    assert(got.take(25).forall(_.isEmpty))
  }

  test("doc-frequency ties are ordered by word") {
    val got = assertMatchesModel(
      Map("1.txt" -> utf8("beta Alpha, gamma's bravo"),
        "2.txt" -> utf8("alpha BETA x1y2 brave"),
        "3.txt" -> utf8("\"bravo\" ?! bake")),
      Seq("1.txt", "2.txt", "3.txt"))
    assert(got(1) == "beta:[1 2]\nbravo:[1 3]\nbake:[3]\nbrave:[2]\n")
    assert(got(0) == "alpha:[1 2]\n")
    assert(got(6) == "gammas:[1]\n")
  }

  test("CRLF, tab, form feed and vertical tab separate words") {
    val got = assertMatchesModel(
      Map("1.txt" -> utf8("alpha\r\nbeta\tgamma\fdelta\u000bepsilon\rzeta\n\neta\r\n"),
        "2.txt" -> utf8("eta\u000b\u000balpha\t\r\n")),
      Seq("1.txt", "2.txt"))
    assert(got(0) == "alpha:[1 2]\n")
    assert(got(4) == "eta:[1 2]\nepsilon:[1]\n")
    assert(got(25) == "zeta:[1]\n")
  }

  test("non-ASCII letters and invalid UTF-8 bytes are dropped inside a word") {
    val invalid = Array[Byte]('a', 'b', 0xff.toByte, 'c', ' ', 0xc3.toByte, 'x', ' ', 0xe2.toByte,
      0x80.toByte, 'y', ' ', 0x80.toByte, '\n', 'Z', 0xc0.toByte, 0xaf.toByte, 'z')
    val got = assertMatchesModel(
      Map("1.txt" -> utf8("café naïve ñandú über — ’tis"), "2.txt" -> invalid),
      Seq("1.txt", "2.txt"))
    assert(got(0) == "abc:[2]\nand:[1]\n")
    assert(got(2) == "caf:[1]\n")
    assert(got(13) == "nave:[1]\n")
    assert(got(23) == "x:[2]\n")
    assert(got(25) == "zz:[2]\n")
  }

  test("paths with '+', space and '%' keep their ids; non-ASCII paths where file names allow") {
    val ascii = Seq("a+b.txt", "with space.txt", "100%.txt", "%2B%20.txt", "c++ 50%+.txt")
    val nonAscii = Seq("café.txt", "über+ été.txt")
    // The JVM encodes file names in sun.jnu.encoding (the locale's charset);
    // under a POSIX locale it cannot name these files at all.
    val fileNames = Charset.forName(System.getProperty("sun.jnu.encoding")).newEncoder()
    val names = if (nonAscii.forall(fileNames.canEncode)) ascii ++ nonAscii else {
      val manifest = Files.write(root.resolve("non-ascii-manifest.txt"), utf8(s"1\n${nonAscii.head}\n"))
      intercept[IllegalArgumentException](ReferenceJob.run(spark, manifest.toString, root.resolve("unused").toString))
      info("file names cannot hold non-ASCII characters in this JVM; checked that such an entry is rejected")
      ascii
    }
    val files = names.zipWithIndex.map { case (n, i) => n -> utf8(s"shared w${('a' + i).toChar}only") }.toMap
    val got = assertMatchesModel(files, names)
    assert(got(18) == s"shared:[${names.indices.map(_ + 1).mkString(" ")}]\n")
  }

  private def randomCorpus(seed: Long): Map[String, Array[Byte]] = {
    val rnd = new Random(seed)
    val vocab = IndexedSeq.fill(300)(Seq.fill(1 + rnd.nextInt(7))(('a' + rnd.nextInt(26)).toChar).mkString)
    val seps = IndexedSeq(" ", " ", " ", "  ", "\t", "\n", "\r\n", "\f", "\u000b")
    (1 to 24).map { f =>
      val words = Seq.fill(rnd.nextInt(400)) {
        val w = vocab(math.min(vocab.length - 1, (math.abs(rnd.nextGaussian()) * 60).toInt))
        (if (rnd.nextInt(10) == 0) w.capitalize else w) + (if (rnd.nextInt(12) == 0) "," else "")
      }
      s"f$f.txt" -> utf8(words.map(_ + seps(rnd.nextInt(seps.length))).mkString)
    }.toMap
  }

  test("output is invariant under shuffle-partition count (reference M/R invariance)") {
    val files = randomCorpus(7L)
    val order = files.keys.toSeq.sorted ++ Seq("f3.txt", "f1.txt")
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    val results = Seq(1, 2, 7).map { parts =>
      try {
        spark.conf.set("spark.sql.shuffle.partitions", parts.toString)
        assertMatchesModel(files, order)
      } finally spark.conf.set("spark.sql.shuffle.partitions", prev)
    }
    assert(results.distinct.size == 1)
  }

  test("re-running into the same directory leaves byte-identical files and no temp litter") {
    val (manifest, docs) = corpus(randomCorpus(11L), (1 to 24).map(i => s"f$i.txt"))
    val out = root.resolve("rerun")
    ReferenceJob.run(spark, manifest.toString, out.toString)
    val first = ('a' to 'z').map(c => Files.readAllBytes(out.resolve(s"$c.txt")).toSeq)
    ReferenceJob.run(spark, manifest.toString, out.toString)
    assert(('a' to 'z').map(c => Files.readAllBytes(out.resolve(s"$c.txt")).toSeq) == first)
    assert(read(out) == Model.letterFiles(docs))
  }

  /** One generated file: empty, whitespace-only, or words from a small
    * vocabulary (so doc-frequency ties and absent letters are common)
    * mixed with every separator, non-ASCII words and invalid UTF-8 bytes.
    */
  private val genFile: Gen[Array[Byte]] = {
    val word = Gen.oneOf("apple", "Apple", "apricot", "banana", "BANANA", "bravo", "x1y2", "it's",
      "zoo", "zebra,", "\"quoted\"", "café", "naïve", "über", "ñandú", "—", "?!").map(utf8)
    val sep = Gen.oneOf(" ", "  ", "\t", "\n", "\r\n", "\r", "\f", "\u000b").map(utf8)
    val invalid = Gen.oneOf(Seq(0xff), Seq(0xc3), Seq(0x80), Seq(0xc0, 0xaf), Seq(0xe2, 0x80))
      .map(_.map(_.toByte).toArray)
    def concat(parts: List[Array[Byte]]) = parts.flatMap(_.toSeq).toArray
    Gen.frequency(
      1 -> Gen.const(Array.emptyByteArray),
      1 -> Gen.listOf(sep).map(concat),
      6 -> Gen.listOf(Gen.frequency(6 -> word, 5 -> sep, 1 -> invalid)).map(concat))
  }

  /** Up to five files and a manifest of one to eight entries over them,
    * so paths repeat and some files go unlisted.
    */
  private val genManifest: Gen[(Map[String, Array[Byte]], Seq[String])] = for {
    n <- Gen.choose(1, 5)
    bodies <- Gen.listOfN(n, genFile)
    names = bodies.indices.map(i => s"f$i.txt")
    k <- Gen.choose(1, 8)
    order <- Gen.listOfN(k, Gen.oneOf(names))
  } yield (names.zip(bodies).toMap, order)

  test("generated manifests match the model byte for byte (ScalaCheck, fixed seed)") {
    val params = Test.Parameters.default
      .withMinSuccessfulTests(12).withWorkers(1).withInitialSeed(Seed(20261018L))
    val result = Test.check(params, Prop.forAllNoShrink(genManifest) { case (files, order) =>
      val (manifest, docs) = corpus(files, order)
      (run(manifest) == Model.letterFiles(docs)) :| s"manifest $manifest, order $order"
    })
    assert(result.passed, result.status)
  }
}
