package graft.operators

import java.io.BufferedWriter
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import org.apache.spark.TaskContext
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.text

/** The reference engine's sink: 26 per-letter text files `a.txt`..`z.txt`,
  * each line `word:[id1 id2 ... idn]`, ids ascending, lines ordered by
  * (doc_freq desc, word asc) WITHIN each letter file
  * (reference: tema1a/src/main.cpp:150-174). Letters with no words still
  * produce an EMPTY file (golden fixture test_out_small/d.txt is 0 bytes).
  *
  * Implementation: hash-repartition on the letter (each letter lands wholly
  * in exactly one task; a task may own several letters), sort within
  * partitions by (letter, doc_freq desc, word), and stream each task's rows
  * to its letter files. The explicit `repartition(26, letter)` pins the
  * partitioning so AQE coalescing cannot split a letter across tasks (AQE
  * only merges whole partitions, which preserves the one-task-per-letter
  * invariant).
  *
  * [[writePostings]] takes (file_id, word) pairs instead of a built index
  * and makes that repartition the plan's ONLY exchange: it sorts each
  * partition by (word, file_id), folds every word's consecutive rows into
  * its ascending id list, then ranks with a second sort within the same
  * partitions. Both sorts spill; the fold holds one posting list at a
  * time. (In [[ReferenceJob]] the pairs come from one row per input file,
  * so each file must be under ~2 GB; see [[graft.sources.ManifestSource]].)
  *
  * Commit protocol: each task writes a letter to a task-attempt-private
  * temp file (`.tmp-<letter>-<taskAttemptId>`) in UTF-8 and ATOMICALLY
  * renames it over `<letter>.txt` when that letter's rows are exhausted.
  * Readers therefore never observe a partial file, a retried task simply
  * re-renames a complete file over the previous one, and two concurrent
  * speculative attempts cannot interleave — each renames its own complete
  * temp, and whichever commits last wins wholesale. Failed attempts leave
  * only `.tmp-*` litter that the next successful rename ignores. (On a
  * multi-node cluster `outDir` must be a shared filesystem whose rename is
  * atomic — the same contract HDFS/NFS output committers rely on.)
  */
object LetterSink {

  /** Write the ranked index (columns: word, file_ids, doc_freq, letter) as
    * the reference's 26 per-letter files under `outDir`.
    */
  def write(index: DataFrame, outDir: String): Unit =
    writeRanked(
      index
        .select(
          col("letter"),
          col("word"),
          col("file_ids").cast("array<int>"),
          col("doc_freq").cast("int"),
        )
        .repartition(26, col("letter")),
      outDir)

  /** Write (file_id, word) pairs as the 26 per-letter files under `outDir`,
    * with one exchange (see the object doc). A pair may repeat; a word's
    * ids are the distinct file_ids it occurs with.
    */
  def writePostings(pairs: DataFrame, outDir: String): Unit = {
    val spark = pairs.sparkSession
    import spark.implicits._
    // Partitioned on the letter but sorted on the word: a letter is its
    // words' first character, so word order keeps each letter contiguous,
    // and the word (unlike the one-byte letter) gives the sorter a
    // discriminating key prefix.
    val postings = pairs
      .select(col("word"), col("file_id").cast("int"))
      .repartition(26, text.firstLetter(col("word")))
      .sortWithinPartitions("word", "file_id")
      .as[(String, Int)]
      .mapPartitions(foldPostings)
      .toDF("letter", "word", "file_ids", "doc_freq")
    writeRanked(postings, outDir)
  }

  /** (word, file_id) rows sorted by (word, file_id) -> one (letter, word,
    * distinct ascending ids, doc_freq) row per word.
    */
  private def foldPostings(
      it: Iterator[(String, Int)]): Iterator[(String, String, Array[Int], Int)] =
    new Iterator[(String, String, Array[Int], Int)] {
      private val rows = it.buffered
      private val ids = new scala.collection.mutable.ArrayBuilder.ofInt
      def hasNext: Boolean = rows.hasNext
      def next(): (String, String, Array[Int], Int) = {
        val word = rows.head._1
        ids.clear()
        var last = 0
        var n = 0
        while (rows.hasNext && rows.head._1 == word) {
          val id = rows.next()._2
          if (n == 0 || id != last) { ids += id; last = id; n += 1 }
        }
        (word.substring(0, 1), word, ids.result(), n)
      }
    }

  /** Sorts each partition of (letter, word, file_ids, doc_freq) — every
    * letter wholly inside one partition — by (letter, doc_freq desc, word)
    * and streams it to the letter files under the commit protocol.
    */
  private def writeRanked(byLetter: DataFrame, outDir: String): Unit = {
    Files.createDirectories(Paths.get(outDir))
    ('a' to 'z').foreach { c =>
      Files.write(Paths.get(outDir, s"$c.txt"), Array.emptyByteArray)
    }
    val spark = byLetter.sparkSession
    import spark.implicits._

    byLetter
      .sortWithinPartitions(col("letter").asc, col("doc_freq").desc, col("word").asc)
      .as[(String, String, Seq[Int], Int)]
      .foreachPartition { (it: Iterator[(String, String, Seq[Int], Int)]) =>
        val attempt = Option(TaskContext.get()).map(_.taskAttemptId()).getOrElse(0L)
        var current: String = null
        var tmp: Path = null
        var out: BufferedWriter = null
        def commit(): Unit = if (out != null) {
          out.close(); out = null
          Files.move(tmp, Paths.get(outDir, s"$current.txt"),
            StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
        }
        try {
          it.foreach { case (letter, word, ids, _) =>
            if (letter != current) {
              commit()
              current = letter
              tmp = Paths.get(outDir, s".tmp-$letter-$attempt")
              out = Files.newBufferedWriter(tmp, StandardCharsets.UTF_8)
            }
            out.write(word)
            out.write(":[")
            out.write(ids.mkString(" "))
            out.write("]\n")
          }
          commit()
        } finally if (out != null) { out.close(); Files.deleteIfExists(tmp) }
      }
  }
}
