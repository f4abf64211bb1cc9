package graft.operators

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graftbridge.TaskMetricsBridge

import graft.expressions.NormalizedTokens
import graft.sources.ManifestSource

/** End-to-end equivalent of the reference CLI `./tema1 M R manifest`
  * (reference: tema1a/src/main.cpp:179-270). M is the number of map tasks,
  * one per contiguous slice of the manifest (default `defaultParallelism`),
  * R the number of letter-group reduce tasks (default [[LetterSink.groups]],
  * at most 26). Neither changes the output, as the reference's checker
  * requires for all nine M×R combos.
  *
  * The job has the reference's shape: ONE Spark job, a map stage, the
  * barrier and a reduce stage, with no Catalyst plan. Each map task reads
  * its slice's files itself and, like the reference mapper
  * (main.cpp:13,97-103), folds their words into one word -> ids table
  * before the barrier, then emits one (word, file_ids) row per distinct
  * word. Then one shuffle into R letter groups, whose tasks merge their
  * words' id lists, rank each of their letters in memory and write its
  * file ([[LetterSink.writeRows]]), as the reference reducers do
  * (main.cpp:121-174).
  *
  * Memory: a map task holds its slice's postings (each distinct word once,
  * with its ids) plus one file's bytes, as a reference mapper holds its
  * per-reducer maps; a reduce task holds its letter group's postings. A
  * file is read into one array, so each input file must be under ~2 GB
  * ([[ManifestSource.read]] checks).
  */
object ReferenceJob {

  /** The manifest's files -> the 26 letter files under `outDir`, with
    * `mapSlices` (M >= 1) map tasks and `letterGroups` (R >= 1, capped at 26).
    */
  def run(spark: SparkSession, manifestPath: String, outDir: String,
      mapSlices: Option[Int] = None, letterGroups: Option[Int] = None): Unit = {
    val m = mapSlices.getOrElse(spark.sparkContext.defaultParallelism)
    val r = letterGroups.getOrElse(LetterSink.groups(spark))
    require(m >= 1 && r >= 1, s"M (map slices) and R (letter groups) must be at least 1, got M = $m, R = $r")
    val postings = spark.sparkContext.parallelize(ManifestSource.read(manifestPath), m).mapPartitions { files =>
      val words = new WordTable
      files.foreach { case (id, path) =>
        val bytes = Files.readAllBytes(Paths.get(path))
        TaskMetricsBridge.recordRead(bytes.length, 1)
        NormalizedTokens.scan(bytes, (buf, len) => words.add(buf, len, id))
      }
      words.rows
    }
    LetterSink.writeRows(postings, math.min(26, r), outDir)
  }

  /** A map task's word -> ids table, keyed by the token's bytes so that a
    * token costs no String: one String is built per distinct word, when
    * [[rows]] emits it. Open addressing with linear probing: `slots` holds
    * entry index + 1 (0 is empty) and is kept at most half full; entry e's
    * word is `arena(offsets(e) until offsets(e) + lengths(e))`.
    */
  private[graft] final class WordTable(initialCapacity: Int = 1024) {
    private var offsets = new Array[Int](Integer.highestOneBit(math.max(2, initialCapacity - 1)) * 2)
    private var lengths = new Array[Int](offsets.length)
    private var hashes = new Array[Int](offsets.length)
    private var ids = new Array[LetterSink.Ids](offsets.length)
    private var slots = new Array[Int](offsets.length * 2)
    private var arena = new Array[Byte](offsets.length * 8)
    private var used = 0
    private var size = 0

    /** Records that the word `buf(0 until len)` occurs in file `id`. A
      * file's tokens arrive together, so a word seen again in the same file
      * is dropped by checking its last id.
      */
    def add(buf: Array[Byte], len: Int, id: Int): Unit = {
      val h = hash(buf, len)
      val mask = slots.length - 1
      var s = h & mask
      var e = slots(s) - 1
      while (e >= 0 && !(hashes(e) == h && lengths(e) == len &&
          java.util.Arrays.equals(arena, offsets(e), offsets(e) + len, buf, 0, len))) {
        s = (s + 1) & mask
        e = slots(s) - 1
      }
      if (e < 0) e = insert(buf, len, h, s)
      val list = ids(e)
      if (list.n == 0 || list.buf(list.n - 1) != id) list.add(id)
    }

    /** Each distinct word with its ids, in insertion order. */
    def rows: Iterator[(String, Array[Int])] = Iterator.range(0, size).map { e =>
      (new String(arena, offsets(e), lengths(e), StandardCharsets.US_ASCII),
        java.util.Arrays.copyOf(ids(e).buf, ids(e).n))
    }

    private def insert(buf: Array[Byte], len: Int, h: Int, slot: Int): Int = {
      if (used + len > arena.length) arena = java.util.Arrays.copyOf(arena, math.max(arena.length * 2, used + len))
      System.arraycopy(buf, 0, arena, used, len)
      val e = size
      offsets(e) = used
      lengths(e) = len
      hashes(e) = h
      ids(e) = new LetterSink.Ids
      slots(slot) = e + 1
      used += len
      size += 1
      if (size == offsets.length) grow()
      e
    }

    private def grow(): Unit = {
      val capacity = offsets.length * 2
      offsets = java.util.Arrays.copyOf(offsets, capacity)
      lengths = java.util.Arrays.copyOf(lengths, capacity)
      hashes = java.util.Arrays.copyOf(hashes, capacity)
      ids = java.util.Arrays.copyOf(ids, capacity)
      slots = new Array[Int](capacity * 2)
      val mask = slots.length - 1
      var e = 0
      while (e < size) {
        var s = hashes(e) & mask
        while (slots(s) != 0) s = (s + 1) & mask
        slots(s) = e + 1
        e += 1
      }
    }

    /** Polynomial hash of the bytes, its bits spread by murmur3's finalizer
      * so the low bits that pick a slot depend on every byte.
      */
    private def hash(buf: Array[Byte], len: Int): Int = {
      var h = 0
      var i = 0
      while (i < len) {
        h = 31 * h + buf(i)
        i += 1
      }
      h ^= h >>> 16
      h *= 0x85ebca6b
      h ^= h >>> 13
      h *= 0xc2b2ae35
      h ^ (h >>> 16)
    }
  }

  /** `ReferenceJob M R manifest out`, as the reference's `./tema1 M R manifest`. */
  def main(args: Array[String]): Unit = {
    require(args.length == 4, "usage: ReferenceJob M R manifest out")
    val spark = graft.GraftSession.local("graft-inverted-index")
    try run(spark, args(2), args(3), Some(args(0).toInt), Some(args(1).toInt))
    finally spark.stop()
  }
}
