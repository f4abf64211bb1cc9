package graft

import java.nio.charset.{Charset, StandardCharsets}
import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageSubmitted,
  SparkListenerTaskEnd}
import org.scalacheck.{Gen, Prop, Test}
import org.scalacheck.Prop.propBoolean
import org.scalacheck.rng.Seed

import graft.functions.text
import graft.operators.{InvertedIndex, LetterSink, ReferenceJob}
import graft.sources.ManifestSource

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
class ReferenceJobSpec extends SparkSpec {

  private val root = tempDir("graft-refjob")

  private object Model {
    def words(bytes: Array[Byte]): Iterator[String] =
      new String(bytes, StandardCharsets.ISO_8859_1)
        .split("[ \t\n\u000b\f\r]+").iterator
        .map(text.normalizeWordScala).filter(_.nonEmpty)

    /** Each (file_id, word) pair's word -> the set of its ids. */
    def postings(pairs: Iterator[(Int, String)]): collection.Map[String, collection.BitSet] = {
      val byWord = mutable.HashMap.empty[String, mutable.BitSet]
      pairs.foreach { case (id, w) => byWord.getOrElseUpdate(w, mutable.BitSet.empty) += id }
      byWord
    }

    def render(postings: collection.Map[String, collection.BitSet]): IndexedSeq[String] = {
      val byLetter = postings.toSeq.groupBy(_._1.charAt(0))
      ('a' to 'z').map { c =>
        byLetter.getOrElse(c, Nil)
          .sortBy { case (w, ids) => (-ids.size, w) }
          .map { case (w, ids) => s"$w:[${ids.mkString(" ")}]\n" }
          .mkString
      }
    }

    def letterFiles(docs: Seq[Array[Byte]]): IndexedSeq[String] =
      render(postings(docs.iterator.zipWithIndex.flatMap { case (bytes, i) => words(bytes).map((i + 1, _)) }))
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
    * letter files present and nothing else. `mapTasks` 0 runs the job with
    * its default M; otherwise the job's mapper gets the manifest cut into
    * `mapTasks` contiguous slices (some empty when there are more slices
    * than files), one map task per slice.
    */
  private def run(manifest: Path, mapTasks: Int = 0): IndexedSeq[String] = {
    dirs += 1
    val out = root.resolve(s"out-$dirs")
    ReferenceJob.run(spark, manifest.toString, out.toString, mapSlices = Option.when(mapTasks > 0)(mapTasks))
    read(out)
  }

  /** Runs `body` with `spark.sql.shuffle.partitions` set to `parts`, which
    * makes the sink's reduce side min(26, parts) letter-group tasks.
    */
  private def withShufflePartitions[T](parts: Int)(body: => T): T = {
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", parts.toString)
    try body finally spark.conf.set("spark.sql.shuffle.partitions", prev)
  }

  private def read(out: Path): IndexedSeq[String] = {
    val listing = Files.list(out)
    val names = try listing.iterator().asScala.map(_.getFileName.toString).toSet finally listing.close()
    assert(names == ('a' to 'z').map(c => s"$c.txt").toSet)
    ('a' to 'z').map(c => new String(Files.readAllBytes(out.resolve(s"$c.txt")), StandardCharsets.UTF_8))
  }

  private def assertMatchesModel(files: Map[String, Array[Byte]], order: Seq[String],
      mapTasks: Int = 0): IndexedSeq[String] = {
    val (manifest, docs) = corpus(files, order)
    val got = run(manifest, mapTasks)
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
    val results = Seq(1, 2, 3, 7, 26).map(r => withShufflePartitions(r)(assertMatchesModel(files, order)))
    assert(results.distinct.size == 1)
  }

  test("a one-letter corpus at R = 4 writes all 26 files, 25 of them empty") {
    // Only 'b' words: task 1 gets every row, tasks 0, 2 and 3 none, and
    // each must still write its letters' empty files.
    val got = withShufflePartitions(4)(assertMatchesModel(
      Map("1.txt" -> utf8("bee Bravo, bee"), "2.txt" -> utf8("bravo bat")), Seq("1.txt", "2.txt")))
    assert(got(1) == "bravo:[1 2]\nbat:[2]\nbee:[1]\n")
    assert(got.count(_.isEmpty) == 25)
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

  test("the combiner keeps both ids of a path listed twice in one map slice") {
    val got = assertMatchesModel(
      Map("x.txt" -> utf8("apple apple banana Apple"), "y.txt" -> utf8("apple cherry apple")),
      Seq("x.txt", "y.txt", "x.txt"), mapTasks = 1)
    assert(got(0) == "apple:[1 2 3]\n")
    assert(got(1) == "banana:[1 3]\n")
    assert(got(2) == "cherry:[2]\n")
  }

  test("a word spread over several map slices merges its ids; surplus slices stay empty") {
    val files = (1 to 5).map(i => s"f$i.txt" -> utf8(s"shared only$i ${"zz " * i}shared")).toMap
    val order = files.keys.toSeq.sorted
    Seq(2, 5, 7, 12).foreach { mapTasks =>
      val got = assertMatchesModel(files, order, mapTasks)
      assert(got(18) == "shared:[1 2 3 4 5]\n", s"$mapTasks map tasks")
      assert(got(25) == "zz:[1 2 3 4 5]\n", s"$mapTasks map tasks")
    }
  }

  test("the combiner drops non-ASCII and invalid UTF-8 bytes glued to letters") {
    val glued = Array[Byte]('a', 0xff.toByte, 'b', ' ', 0xc3.toByte, 'a', 'b', '\n', 'a', 'b', 0xc3.toByte,
      ' ', 0xe2.toByte, 0x80.toByte, 0x99.toByte, 'Z', 'o', 0x80.toByte, 'o', ' ', 0xc0.toByte)
    val files = Map("1.txt" -> glued, "2.txt" -> utf8("ab zoo café cafe"), "3.txt" -> utf8("é—ab ’zoo’ caf"))
    val order = Seq("1.txt", "2.txt", "3.txt")
    Seq(1, 2, 3).foreach { mapTasks =>
      val got = assertMatchesModel(files, order, mapTasks)
      assert(got(0) == "ab:[1 2 3]\n")
      assert(got(2) == "caf:[2 3]\ncafe:[2]\n")
      assert(got(25) == "zoo:[1 2 3]\n")
    }
  }

  test("output is invariant under the number of map slices (1, 2, 7)") {
    val files = randomCorpus(17L)
    val order = files.keys.toSeq.sorted ++ Seq("f5.txt", "f9.txt", "f5.txt")
    val results = Seq(1, 2, 7).map(mapTasks => assertMatchesModel(files, order, mapTasks))
    assert(results.distinct.size == 1)
  }

  test("write merges unordered, repeated id lists of every letter as the model") {
    val rnd = new Random(3L)
    // Every letter; 'q' holds one word. Each word's ids arrive in
    // descending order with some repeated, split over several rows.
    val words = ('a' to 'z').flatMap { c =>
      if (c == 'q') Seq("quay")
      else Seq.fill(1 + rnd.nextInt(6))(c.toString + Seq.fill(rnd.nextInt(5))(('a' + rnd.nextInt(26)).toChar).mkString)
    }.distinct
    val pairs = words.flatMap { w =>
      val ids = Seq.fill(1 + rnd.nextInt(8))(1 + rnd.nextInt(40))
      (ids ++ ids.take(2)).map((_, w))
    }.sortBy(-_._1)
    val rows = pairs.groupBy(_._2).toSeq.flatMap { case (w, ps) =>
      ps.map(_._1).grouped(3).map(ids => (w, ids.toArray))
    }
    val out = root.resolve("lists-direct")
    LetterSink.write(spark.createDataFrame(rows).toDF("word", "file_ids"), out.toString)
    val want = Model.render(Model.postings(pairs.iterator))
    assert(want(16) == "quay:[" + pairs.filter(_._2 == "quay").map(_._1).distinct.sorted.mkString(" ") + "]\n")
    assert(read(out) == want)
  }

  test("write(index) and ReferenceJob.run give identical files") {
    val (manifest, docs) = corpus(randomCorpus(13L), (1 to 24).map(i => s"f$i.txt"))
    val words = InvertedIndex.words(
      ManifestSource.lines(spark, ManifestSource.read(manifest.toString)), "file_id", "line")
    val viaIndex = root.resolve("via-index")
    val viaJob = root.resolve("via-job")
    LetterSink.write(InvertedIndex.index(words), viaIndex.toString)
    ReferenceJob.run(spark, manifest.toString, viaJob.toString)
    assert(('a' to 'z').forall { c =>
      java.util.Arrays.equals(Files.readAllBytes(viaIndex.resolve(s"$c.txt")), Files.readAllBytes(viaJob.resolve(s"$c.txt")))
    })
    assert(read(viaJob) == Model.letterFiles(docs))
  }

  test("a word not starting with a-z fails the sink by name and reaches no file") {
    // The letter-group partitioner is the guard: letter % R for a-z, and
    // an error naming the word for anything else, thrown on the map side.
    Seq(1, 4, 26).foreach { r =>
      val groups = LetterSink.LetterGroups(r)
      assert(('a' to 'z').map(c => groups.getPartition(s"${c}x")) == (0 until 26).map(_ % r))
    }
    intercept[IllegalArgumentException](LetterSink.LetterGroups(27))
    // A previous complete output (some letters empty) the failed writes
    // below must leave byte for byte as it was.
    val previous = root.resolve("bad-previous")
    LetterSink.write(spark.createDataFrame(Seq(("apple", Array(1, 2)), ("umbra", Array(3))))
      .toDF("word", "file_ids"), previous.toString)
    def letterBytes(dir: java.nio.file.Path) =
      ('a' to 'z').map(c => java.util.Arrays.toString(Files.readAllBytes(dir.resolve(s"$c.txt"))))
    val before = letterBytes(previous)
    val written = read(previous)
    assert(written(0) == "apple:[1 2]\n" && written(1).isEmpty && written(20) == "umbra:[3]\n")
    Seq("Apple", "ébène", "1st", "", "-x").zipWithIndex.foreach { case (bad, i) =>
      val rows = spark.createDataFrame(Seq(("apple", Array(1)), (bad, Array(2)), ("umbra", Array(3))))
        .toDF("word", "file_ids")
      val fresh = root.resolve(s"bad-$i")
      Seq(fresh, previous).foreach { out =>
        val e = intercept[Exception](LetterSink.write(rows, out.toString))
        val messages = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null).map(_.getMessage).mkString("\n")
        assert(messages.contains(s"word '$bad' does not start with a letter a-z"), messages)
      }
      assert(('a' to 'z').forall(c => !Files.exists(fresh.resolve(s"$c.txt"))), s"'$bad' wrote a letter file")
      assert(letterBytes(previous) == before, s"'$bad' changed the previous complete output")
    }
  }

  /** Spark's work for `body`: its jobs, the stages they ran, their tasks
    * and the task count of each job's last stage. A marker job run after
    * `body` bounds the count: the listener bus delivers events in order, so
    * once the marker starts, every event of `body` has been seen. Only the
    * stages of the jobs started inside `body` and their tasks count: a task
    * killed in an earlier test's failed job can report its end after the
    * listener is added.
    */
  private def jobShape(body: => Unit): (Int, Int, Int, Seq[Int]) = {
    val marker = "reference-job-spec-marker"
    val jobs, stages, tasks = new java.util.concurrent.atomic.AtomicInteger
    val lastStageTasks = new java.util.concurrent.ConcurrentLinkedQueue[Int]()
    val ours = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val done = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      @volatile private var counting = true
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null && e.properties.getProperty("spark.job.description") == marker) {
          counting = false
          done.countDown()
        } else if (counting) {
          jobs.incrementAndGet()
          e.stageInfos.foreach(st => ours.add(st.stageId))
          lastStageTasks.add(e.stageInfos.maxBy(_.stageId).numTasks)
        }
      override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
        if (ours.contains(e.stageInfo.stageId)) stages.incrementAndGet()
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        if (ours.contains(e.stageId)) tasks.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      body
      spark.sparkContext.setJobDescription(marker)
      try spark.sparkContext.parallelize(Seq(1), 1).count() finally spark.sparkContext.setJobDescription(null)
      assert(done.await(60, java.util.concurrent.TimeUnit.SECONDS), "the marker job was not seen")
      (jobs.get, stages.get, tasks.get, lastStageTasks.asScala.toSeq)
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("the job runs as 1 job, 2 stages and M + R tasks") {
    val (manifest, _) = corpus(randomCorpus(19L), (1 to 24).map(i => s"f$i.txt"))
    val m = spark.sparkContext.defaultParallelism
    Seq(4 -> 4, 26 -> 26, 40 -> 26).foreach { case (parts, r) =>
      val shape = withShufflePartitions(parts)(jobShape(
        ReferenceJob.run(spark, manifest.toString, root.resolve(s"shape-$parts").toString)))
      assert(shape == ((1, 2, m + r, Seq(r))), s"$parts shuffle partitions: (jobs, stages, tasks, reduce tasks)")
    }
    Seq((3, 5, 5), (2, 40, 26)).foreach { case (m, r, tasks) =>
      val shape = jobShape(ReferenceJob.run(spark, manifest.toString, root.resolve(s"shape-m$m-r$r").toString,
        mapSlices = Some(m), letterGroups = Some(r)))
      assert(shape == ((1, 2, m + tasks, Seq(tasks))), s"M $m, R $r: (jobs, stages, tasks, reduce tasks)")
    }
    Seq((Some(0), None, "M = 0, R = 4"), (None, Some(0), s"M = $m, R = 0"), (Some(-2), Some(4), "M = -2, R = 4"))
      .foreach { case (mapSlices, letterGroups, got) =>
        val e = intercept[IllegalArgumentException](ReferenceJob.run(spark, manifest.toString,
          root.resolve("shape-bad").toString, mapSlices, letterGroups))
        assert(e.getMessage.endsWith(s"M (map slices) and R (letter groups) must be at least 1, got $got"),
          e.getMessage)
      }
    // The DataFrame adapter: the same single shuffle into R partitions.
    val rows = spark.createDataFrame(Seq(("apple", Array(1, 2)), ("umbra", Array(3)))).toDF("word", "file_ids")
    val viaFrame = withShufflePartitions(4)(jobShape(LetterSink.write(rows, root.resolve("shape-frame").toString)))
    assert((viaFrame._1, viaFrame._2, viaFrame._4) == ((1, 2, Seq(4))), viaFrame)
  }

  /** A corpus shaped like the paper's input: 355 files of log-normal
    * size, 1,040,000 tokens drawn Zipf(1.05) from a 33,000-word vocabulary
    * whose first letters follow English, and noise in the bytes the
    * normalizer must strip or split on (capitals, punctuation, `'s`, UTF-8
    * letters, invalid bytes, every separator). Same seed, same bytes.
    */
  private def paperCorpus(seed: Long): IndexedSeq[Array[Byte]] = {
    val rnd = new Random(seed)
    def cdf(w: Array[Double]): Array[Double] = { val c = w.scanLeft(0.0)(_ + _).tail; c.map(_ / c.last) }
    def pick(cdf: Array[Double]): Int = {
      val i = java.util.Arrays.binarySearch(cdf, rnd.nextDouble())
      math.min(if (i >= 0) i else -i - 1, cdf.length - 1)
    }
    val firstLetters = cdf(Array(11.7, 4.4, 5.2, 3.2, 2.8, 4.0, 1.6, 4.2, 7.3, 0.51, 0.86, 2.4, 3.8,
      2.3, 7.6, 4.3, 0.22, 2.8, 6.7, 16.0, 1.2, 0.82, 5.5, 0.045, 0.76, 0.045))
    val letters = cdf(Array(8.2, 1.5, 2.8, 4.3, 12.7, 2.2, 2.0, 6.1, 7.0, 0.15, 0.77, 4.0, 2.4,
      6.7, 7.5, 1.9, 0.095, 6.0, 6.3, 9.1, 2.8, 0.98, 2.4, 0.15, 2.0, 0.074))
    val vocab = mutable.LinkedHashSet.empty[String]
    while (vocab.size < 33000) {
      val len = 1 + math.min(13, rnd.nextInt(4) + rnd.nextInt(4) + (if (vocab.size > 10000) rnd.nextInt(5) else 0))
      vocab += (('a' + pick(firstLetters)).toChar +: Seq.fill(len - 1)(('a' + pick(letters)).toChar)).mkString
    }
    val lexicon = vocab.toIndexedSeq
    val zipf = cdf(Array.tabulate(lexicon.length)(r => math.pow(r + 1, -1.05)))
    val weights = Array.fill(355)(math.exp(0.9 * rnd.nextGaussian()))
    val sizes = weights.map(w => math.max(1, (1040000 * w / weights.sum).toInt))
    sizes(sizes.indexOf(sizes.max)) += 1040000 - sizes.sum
    val noise = IndexedSeq("é", "ü", "—", "’").map(utf8) ++
      IndexedSeq(Array(0xff.toByte), Array(0x80.toByte), Array(0xc3.toByte))
    val seps = IndexedSeq(" ", " ", " ", " ", " ", " ", " ", " ", "  ", "\t", "\n", "\r\n", "\f", "\u000b").map(utf8)
    sizes.toIndexedSeq.map { n =>
      val out = new java.io.ByteArrayOutputStream(n * 8)
      (1 to n).foreach { _ =>
        var w = lexicon(pick(zipf))
        val u = rnd.nextDouble()
        if (u < 0.08) w = w.capitalize else if (u < 0.10) w = w.toUpperCase
        if (rnd.nextDouble() < 0.006) w += "'s"
        if (rnd.nextDouble() < 0.07) w += ",.;:!?" (rnd.nextInt(6))
        val bytes = utf8(w)
        val at = if (rnd.nextDouble() < 0.012) rnd.nextInt(bytes.length + 1) else -1
        out.write(bytes, 0, math.max(at, 0))
        if (at >= 0) out.write(noise(rnd.nextInt(noise.length)))
        out.write(bytes, math.max(at, 0), bytes.length - math.max(at, 0))
        out.write(seps(rnd.nextInt(seps.length)))
      }
      out.toByteArray
    }
  }

  /** Runs `body`, whose job has `tasks` reduce tasks, and returns, with its
    * result, the shuffle records each of them read, by task index.
    */
  private def reduceTaskRecords[T](tasks: Int)(body: => T): (T, Seq[Long]) = {
    val reduceStages = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val records = new java.util.concurrent.ConcurrentSkipListMap[Int, Long]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        e.stageInfos.filter(_.parentIds.nonEmpty).foreach(s => reduceStages.add(s.stageId))
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        if (reduceStages.contains(e.stageId) && e.taskMetrics != null)
          records.put(e.taskInfo.index, e.taskMetrics.shuffleReadMetrics.recordsRead)
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val result = body
      val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
      while (records.size < tasks && System.nanoTime() < deadline) Thread.sleep(20)
      (result, records.values.asScala.toSeq)
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  /** `paperCorpus(11L)`'s manifest, its files in id order and the model's
    * letter files, rendered once for the tests that run it.
    */
  private lazy val paper: (Path, IndexedSeq[Array[Byte]], IndexedSeq[String]) = {
    val docs = paperCorpus(11L)
    val names = docs.indices.map(i => f"f$i%03d.txt")
    (corpus(names.zip(docs).toMap, names)._1, docs, Model.letterFiles(docs))
  }

  test("a paper-size corpus (355 files, 1.04 M tokens) matches the model byte for byte") {
    val (manifest, docs, want) = paper
    val out = root.resolve("paper")
    val r = math.min(26, spark.conf.get("spark.sql.shuffle.partitions").toInt)
    val (ms, reduceRecords) = reduceTaskRecords(r) {
      val t0 = System.nanoTime()
      ReferenceJob.run(spark, manifest.toString, out.toString)
      (System.nanoTime() - t0) / 1e6
    }
    assert(read(out) == want)
    assert(reduceRecords.size == r && reduceRecords.forall(_ > 0),
      s"shuffle records read per reduce task: $reduceRecords")
    info(f"${docs.length} files, ${docs.map(_.length.toLong).sum} bytes, " +
      f"${want.map(_.count(_ == '\n')).sum} words: ReferenceJob.run took $ms%.0f ms")
  }

  test("checker grid: every M, R in {1, 2, 4} matches the model on the paper corpus") {
    val (manifest, _, want) = paper
    for (m <- Seq(1, 2, 4); r <- Seq(1, 2, 4)) {
      val out = root.resolve(s"grid-m$m-r$r")
      ReferenceJob.run(spark, manifest.toString, out.toString, mapSlices = Some(m), letterGroups = Some(r))
      val got = read(out)
      ('a' to 'z').zipWithIndex.foreach { case (c, i) => assert(got(i) == want(i), s"M$m R$r: $c.txt") }
    }
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
