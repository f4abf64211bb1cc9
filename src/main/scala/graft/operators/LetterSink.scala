package graft.operators

import java.io.BufferedWriter
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths, StandardCopyOption}

import org.apache.spark.TaskContext
import org.apache.spark.sql.{Column, DataFrame, Encoder, Encoders}
import org.apache.spark.sql.functions._

/** The reference engine's sink: 26 per-letter text files `a.txt`..`z.txt`,
  * each line `word:[id1 id2 ... idn]`, ids ascending, lines ordered by
  * (doc_freq desc, word asc) WITHIN each letter file
  * (reference: tema1a/src/main.cpp:150-174). Letters with no words still
  * produce an EMPTY file (golden fixture test_out_small/d.txt is 0 bytes).
  *
  * Implementation, in the shape of the reference reducer
  * (main.cpp:121-174): [[write]] takes (word, file_ids) rows and routes
  * each row by its word's letter with `repartitionById(26, letter index)`,
  * the plan's ONLY exchange. Each letter owns exactly one reduce partition
  * ('a' is 0, 'z' is 25), a pass-through id that AQE does not coalesce, so
  * a reduce task holds one whole letter and nothing else, with no sort. A
  * word whose first character is not `a`-`z` fails the job on the map side
  * with an error that names it (see [[letterIndex]]). The task folds its
  * rows into a word -> ids hash map, sorts and dedups each id list (a word
  * may come in several rows, one per map task, its ids in any order),
  * ranks the letter's words by (doc_freq desc, word asc) in memory and
  * writes the file. Memory therefore holds one letter's postings, about
  * the size of that letter's output file: the reference reducer's own
  * model.
  *
  * Commit protocol: each task writes a letter to a task-attempt-private
  * temp file (`.tmp-<letter>-<taskAttemptId>`) in UTF-8 and ATOMICALLY
  * renames it over `<letter>.txt` once the letter is written — a letter
  * with no words too, whose task writes its empty file the same way.
  * Nothing touches a letter file before its task commits, so a failed
  * job leaves an earlier complete output as it was.
  * Readers therefore never observe a partial file, a retried task simply
  * re-renames a complete file over the previous one, and two concurrent
  * speculative attempts cannot interleave — each renames its own complete
  * temp, and whichever commits last wins wholesale. Failed attempts leave
  * only `.tmp-*` litter that the next successful rename ignores. (On a
  * multi-node cluster `outDir` must be a shared filesystem whose rename is
  * atomic — the same contract HDFS/NFS output committers rely on.)
  */
object LetterSink {

  /** (word, file_ids) rows, as the reference job's mapper emits them. */
  private[operators] val listEncoder: Encoder[(String, Array[Int])] = Encoders.product[(String, Array[Int])]

  /** Write (word, file_ids, ...) rows as the reference's 26 per-letter
    * files under `outDir`, with one exchange (see the object doc). A ranked
    * index has one row per word; the reference job's mapper sends one row
    * per word and map task. Either way a word's line lists the distinct
    * union of its rows' ids.
    */
  def write(index: DataFrame, outDir: String): Unit = {
    Files.createDirectories(Paths.get(outDir))
    index
      .select(col("word"), col("file_ids").cast("array<int>"))
      .repartitionById(26, letterIndex(col("word")))
      .as(listEncoder)
      .foreachPartition((it: Iterator[(String, Array[Int])]) => writeLetter(it, outDir))
  }

  /** The word's reduce partition: 0 for `a` .. 25 for `z`. Spark reduces a
    * pass-through id modulo the partition count (`DirectShufflePartitionID`
    * plans as `pmod(id, 26)`), so an id out of range would silently send a
    * word such as `Apple` to `u`'s task. Any other first character, an
    * empty word or a null fails instead, naming the word.
    */
  private def letterIndex(word: Column): Column = {
    val i = ascii(word) - 'a'.toInt
    when(i.between(0, 25), i).otherwise(raise_error(
      format_string("LetterSink: word '%s' does not start with a letter a-z", word)))
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

  /** One letter's (word, file_ids) rows -> that letter's file. Reduce
    * partition i holds exactly the letter `'a' + i`, possibly no rows.
    */
  private def writeLetter(rows: Iterator[(String, Array[Int])], outDir: String): Unit = {
    val ctx = TaskContext.get()
    val attempt = ctx.taskAttemptId()
    val letter = ('a' + ctx.partitionId()).toChar
    val words = new java.util.HashMap[String, Ids]()
    rows.foreach { case (word, fileIds) =>
      require(word.charAt(0) == letter, s"letter task '$letter' got the word '$word'")
      var ids = words.get(word)
      if (ids == null) { ids = new Ids; words.put(word, ids) }
      ids.addAll(fileIds)
    }
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
  }
}
