package graft.operators

import java.io.BufferedWriter
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths, StandardCopyOption}

import org.apache.spark.TaskContext
import org.apache.spark.sql.{DataFrame, Encoder, Encoders}
import org.apache.spark.sql.functions._

import graft.functions.text

/** The reference engine's sink: 26 per-letter text files `a.txt`..`z.txt`,
  * each line `word:[id1 id2 ... idn]`, ids ascending, lines ordered by
  * (doc_freq desc, word asc) WITHIN each letter file
  * (reference: tema1a/src/main.cpp:150-174). Letters with no words still
  * produce an EMPTY file (golden fixture test_out_small/d.txt is 0 bytes).
  *
  * Implementation, in the shape of the reference reducer
  * (main.cpp:121-174): [[writePostings]] takes (file_id, word) pairs and
  * hash-repartitions them on the letter, the plan's ONLY exchange (each
  * letter lands wholly in exactly one task; a task may own several
  * letters). The explicit `repartition(26, letter)` pins the partitioning
  * so AQE coalescing cannot split a letter across tasks (AQE only merges
  * whole partitions). Each task then sorts its rows on one integer key,
  * the word's first byte, which Spark radix-sorts without a record
  * comparator and which may spill; its only job is to make each letter
  * contiguous. One pass folds a letter's rows into a word -> ids hash map,
  * sorts and dedups each id list (pairs may arrive in any order and
  * repeat), ranks the letter's words by (doc_freq desc, word asc) in
  * memory, writes the file and clears the map. Memory therefore holds one
  * letter's postings, about the size of that letter's output file: the
  * reference reducer's own model. (In [[ReferenceJob]] the pairs come from
  * one row per input file, so each file must be under ~2 GB; see
  * [[graft.sources.ManifestSource]].)
  *
  * Commit protocol: each task writes a letter to a task-attempt-private
  * temp file (`.tmp-<letter>-<taskAttemptId>`) in UTF-8 and ATOMICALLY
  * renames it over `<letter>.txt` once the letter is written.
  * Readers therefore never observe a partial file, a retried task simply
  * re-renames a complete file over the previous one, and two concurrent
  * speculative attempts cannot interleave — each renames its own complete
  * temp, and whichever commits last wins wholesale. Failed attempts leave
  * only `.tmp-*` litter that the next successful rename ignores. (On a
  * multi-node cluster `outDir` must be a shared filesystem whose rename is
  * atomic — the same contract HDFS/NFS output committers rely on.)
  */
object LetterSink {

  private val pairEncoder: Encoder[(String, Int)] = Encoders.tuple(Encoders.STRING, Encoders.scalaInt)

  /** Write a ranked index (columns: word, file_ids, ...) as the reference's
    * 26 per-letter files under `outDir`, through [[writePostings]].
    */
  def write(index: DataFrame, outDir: String): Unit =
    writePostings(index.select(explode(col("file_ids")).as("file_id"), col("word")), outDir)

  /** Write (file_id, word) pairs as the 26 per-letter files under `outDir`,
    * with one exchange (see the object doc). Pairs may come in any order
    * and repeat; a word's ids are the distinct file_ids it occurs with.
    */
  def writePostings(pairs: DataFrame, outDir: String): Unit = {
    Files.createDirectories(Paths.get(outDir))
    ('a' to 'z').foreach { c =>
      Files.write(Paths.get(outDir, s"$c.txt"), Array.emptyByteArray)
    }
    pairs
      .select(col("word"), col("file_id").cast("int"))
      .repartition(26, text.firstLetter(col("word")))
      .sortWithinPartitions(ascii(col("word")))
      .as(pairEncoder)
      .foreachPartition((it: Iterator[(String, Int)]) => writeLetters(it, outDir))
  }

  /** One word's ids as they arrive: unsorted, possibly repeated. */
  private final class Ids {
    var buf = new Array[Int](4)
    var n = 0
    def add(id: Int): Unit = {
      if (n == buf.length) buf = java.util.Arrays.copyOf(buf, n * 2)
      buf(n) = id
      n += 1
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

  /** A task's (word, file_id) rows, each letter contiguous -> that task's
    * letter files, one letter in memory at a time.
    */
  private def writeLetters(rows: Iterator[(String, Int)], outDir: String): Unit = {
    val attempt = Option(TaskContext.get()).map(_.taskAttemptId()).getOrElse(0L)
    val words = new java.util.HashMap[String, Ids]()
    var letter = '\u0000'
    def flush(): Unit = if (!words.isEmpty) {
      val ranked = words.entrySet().toArray(new Array[java.util.Map.Entry[String, Ids]](0))
      ranked.foreach(_.getValue.settle())
      java.util.Arrays.sort(ranked, ranking)
      val tmp = Paths.get(outDir, s".tmp-$letter-$attempt")
      var out: BufferedWriter = Files.newBufferedWriter(tmp, StandardCharsets.UTF_8)
      try {
        ranked.foreach { e =>
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
        }
        out.close(); out = null
        Files.move(tmp, Paths.get(outDir, s"$letter.txt"),
          StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
      } finally if (out != null) { out.close(); Files.deleteIfExists(tmp) }
      words.clear()
    }
    rows.foreach { case (word, id) =>
      if (word.charAt(0) != letter) { flush(); letter = word.charAt(0) }
      var ids = words.get(word)
      if (ids == null) { ids = new Ids; words.put(word, ids) }
      ids.add(id)
    }
    flush()
  }
}
