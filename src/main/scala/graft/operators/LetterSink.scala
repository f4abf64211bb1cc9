package graft.operators

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import org.apache.spark.{Partitioner, TaskContext}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.functions.col

/** The reference engine's sink: 26 per-letter text files `a.txt`..`z.txt`,
  * each line `word:[id1 id2 ... idn]`, ids ascending, lines ordered by
  * (doc_freq desc, word asc) WITHIN each letter file
  * (reference: tema1a/src/main.cpp:150-174). Letters with no words still
  * produce an EMPTY file (golden fixture test_out_small/d.txt is 0 bytes).
  *
  * Implementation, in the shape of the reference's R reducer threads
  * (main.cpp:121-174): [[writeRows]] takes an RDD of (word, file_ids) rows
  * and shuffles it once, with `partitionBy(`[[LetterGroups]]`(R))`, into R
  * reduce tasks that write the files; the whole write is one Spark job of
  * a map stage and a reduce stage. Reduce task p owns the letters whose
  * index is p modulo R: a letter group, as a reference reducer owns
  * `get_reducer_id`'s group (main.cpp:41-46). The groups are interleaved
  * rather than contiguous ranges because English first letters are skewed:
  * at R = 4 contiguous ranges would give the tasks 33/19/40/8 % of the
  * vocabulary, interleaving 28/15/27/30 %. At R = 26 each letter has its
  * own task. A word whose first character is not `a`-`z` fails the job on
  * the map side, before any reduce task runs, with an error that names it.
  * The task folds its rows into one word -> ids hash map per letter it
  * owns, sorts and dedups each id list (a word may come in several rows,
  * one per map task, its ids in any order), ranks each letter's words by
  * (doc_freq desc, word asc) in memory and writes every letter it owns,
  * those with no words too. Memory therefore holds one letter group's
  * postings, about the size of those letters' output files: the reference
  * reducer's own model. [[write]] feeds a DataFrame through the same path.
  *
  * Commit protocol: a task writes each of its letters to a
  * task-attempt-private temp file (`.tmp-<letter>-<taskAttemptId>`) in
  * UTF-8, and only once ALL of them are written does it ATOMICALLY rename
  * each over `<letter>.txt`, an empty letter included. Nothing touches a
  * letter file before its task commits, so a failed job leaves an earlier
  * complete output as it was, and a task that fails while writing renames
  * nothing. Readers therefore never observe a partial file, a retried task
  * simply re-renames complete files over the previous ones, and two
  * concurrent speculative attempts cannot interleave within a file — each
  * renames its own complete temps, and whichever renames a letter last
  * wins it wholesale. Failed attempts leave only `.tmp-*` litter that the
  * next successful rename ignores. (On a multi-node cluster `outDir` must
  * be a shared filesystem whose rename is atomic — the same contract
  * HDFS/NFS output committers rely on.)
  */
object LetterSink {

  /** The default letter-group count R: `min(26, spark.sql.shuffle.partitions)`. */
  private[operators] def groups(spark: SparkSession): Int =
    math.min(26, spark.conf.get("spark.sql.shuffle.partitions").toInt)

  /** Write (word, file_ids, ...) rows as the reference's 26 per-letter
    * files under `outDir`, in [[groups]] letter groups (see the object
    * doc). A ranked index has one row per word; the reference job's mapper
    * sends one row per word and map task. Either way a word's line lists
    * the distinct union of its rows' ids.
    */
  def write(index: DataFrame, outDir: String): Unit =
    writeRows(index.select(col("word"), col("file_ids").cast("array<int>"))
      .as(Encoders.product[(String, Array[Int])]).rdd, groups(index.sparkSession), outDir)

  /** (word, file_ids) rows -> the 26 letter files, in `groups` (1 to 26) letter-group tasks. */
  private[operators] def writeRows(rows: RDD[(String, Array[Int])], groups: Int, outDir: String): Unit = {
    Files.createDirectories(Paths.get(outDir))
    rows.partitionBy(LetterGroups(groups)).foreachPartition(writeLetters(_, groups, outDir))
  }

  /** Routes a word to letter group `letter % groups`, letter 0 for `a` ..
    * 25 for `z`. Any other first character, an empty word or a null fails
    * the map task with an error that names the word.
    */
  private[graft] final case class LetterGroups(groups: Int) extends Partitioner {
    require(groups >= 1 && groups <= 26, s"letter groups must be 1 to 26, got $groups")
    def numPartitions: Int = groups
    def getPartition(key: Any): Int = key match {
      case w: String if w.nonEmpty && w.charAt(0) >= 'a' && w.charAt(0) <= 'z' => (w.charAt(0) - 'a') % groups
      case w => throw new IllegalArgumentException(s"LetterSink: word '$w' does not start with a letter a-z")
    }
  }

  /** One word's ids as they arrive: unsorted, possibly repeated. */
  private[operators] final class Ids {
    var buf = new Array[Int](4)
    var n = 0
    def add(id: Int): Unit = {
      if (n == buf.length) buf = java.util.Arrays.copyOf(buf, n * 2)
      buf(n) = id
      n += 1
    }
    def addAll(ids: Array[Int]): Unit = {
      if (n + ids.length > buf.length) buf = java.util.Arrays.copyOf(buf, math.max(n * 2, n + ids.length))
      System.arraycopy(ids, 0, buf, n, ids.length)
      n += ids.length
    }
    /** Sorts and dedups in place; `n` becomes the doc_freq. */
    def settle(): Unit = {
      java.util.Arrays.sort(buf, 0, n)
      var k = 0
      var i = 0
      while (i < n) {
        if (k == 0 || buf(i) != buf(k - 1)) { buf(k) = buf(i); k += 1 }
        i += 1
      }
      n = k
    }
  }

  private val ranking: java.util.Comparator[java.util.Map.Entry[String, Ids]] = (a, b) => {
    val byFreq = Integer.compare(b.getValue.n, a.getValue.n)
    if (byFreq != 0) byFreq else a.getKey.compareTo(b.getKey)
  }

  /** One letter group's (word, file_ids) rows -> its letters' files.
    * Reduce partition p of `groups` holds the letters `'a' + i` with
    * `i % groups == p`, possibly no rows.
    */
  private def writeLetters(rows: Iterator[(String, Array[Int])], groups: Int, outDir: String): Unit = {
    val ctx = TaskContext.get()
    val attempt = ctx.taskAttemptId()
    val group = ctx.partitionId()
    val letters = (group until 26 by groups).map(i => ('a' + i).toChar)
    val words = letters.map(_ => new java.util.HashMap[String, Ids]())
    rows.foreach { case (word, fileIds) =>
      val letterWords = words((word.charAt(0) - 'a') / groups)
      var ids = letterWords.get(word)
      if (ids == null) { ids = new Ids; letterWords.put(word, ids) }
      ids.addAll(fileIds)
    }
    val temps = letters.map(letter => Paths.get(outDir, s".tmp-$letter-$attempt"))
    var committed = false
    try {
      temps.zip(words).foreach { case (tmp, letterWords) => writeRanked(letterWords, tmp) }
      temps.zip(letters).foreach { case (tmp, letter) =>
        Files.move(tmp, Paths.get(outDir, s"$letter.txt"),
          StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
      }
      committed = true
    } finally if (!committed) temps.foreach(Files.deleteIfExists)
  }

  /** One letter's words, ranked by (doc_freq desc, word asc), as lines of
    * `tmp`.
    */
  private def writeRanked(words: java.util.HashMap[String, Ids], tmp: Path): Unit = {
    val ranked = words.entrySet().toArray(new Array[java.util.Map.Entry[String, Ids]](0))
    ranked.foreach(_.getValue.settle())
    java.util.Arrays.sort(ranked, ranking)
    val out = Files.newBufferedWriter(tmp, StandardCharsets.UTF_8)
    try ranked.foreach { e =>
      val ids = e.getValue
      out.write(e.getKey)
      out.write(":[")
      var i = 0
      while (i < ids.n) {
        if (i > 0) out.write(' ')
        out.write(Integer.toString(ids.buf(i)))
        i += 1
      }
      out.write("]\n")
    } finally out.close()
  }
}
