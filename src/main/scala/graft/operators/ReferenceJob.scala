package graft.operators

import java.nio.charset.StandardCharsets

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Encoder, Encoders, SparkSession}
import org.apache.spark.sql.functions.col

import graft.expressions.NormalizedTokens
import graft.sources.ManifestSource

/** End-to-end equivalent of the reference CLI `./tema1 M R manifest`
  * (reference: tema1a/src/main.cpp:179-270). M/R thread counts are
  * scheduling hints in the reference with no semantic effect (the checker
  * requires identical output for all nine M×R combos); in Spark the
  * scheduler plays that role: the map side has one task per slice of the
  * manifest, the reduce side one task per letter.
  *
  * The plan has the reference's shape. One map stage: each task reads
  * whole files ([[ManifestSource.files]]) and, like the reference mapper
  * (main.cpp:13,97-103), folds its files' words into one word -> ids table
  * before the barrier, then emits one (word, file_ids) row per distinct
  * word ([[mapper]]). Then ONE exchange, one reduce partition per letter,
  * whose task merges its words' id lists, ranks the letter in memory and
  * writes its file ([[LetterSink.write]]), as the reference reducer does
  * (main.cpp:121-174).
  *
  * Memory: a map task holds its slice's postings (each distinct word once,
  * with its ids) plus one file's bytes, as a reference mapper holds its
  * per-reducer maps; a reduce task holds one letter's postings. A file is
  * one row, so each input file must be under ~2 GB ([[ManifestSource.read]]
  * checks).
  */
object ReferenceJob {
  private val fileEncoder: Encoder[(Int, Array[Byte])] = Encoders.tuple(Encoders.scalaInt, Encoders.BINARY)

  def run(spark: SparkSession, manifestPath: String, outDir: String): Unit = {
    val manifest = ManifestSource.read(manifestPath)
    LetterSink.write(mapper(ManifestSource.files(spark, manifest)), outDir)
  }

  /** The mapper and its combiner: (file_id, text) rows -> (word, file_ids),
    * one row per distinct word of each partition. Each file goes through
    * the shared tokenizer kernel ([[NormalizedTokens.scan]]) into one
    * word -> ids map. Files arrive one at a time, each with its own id, so
    * a word seen again in the same file is dropped by checking its last id.
    */
  private[graft] def mapper(files: DataFrame): DataFrame =
    files
      .select(col("file_id"), col("text").cast("binary"))
      .as(fileEncoder)
      .mapPartitions { (it: Iterator[(Int, Array[Byte])]) =>
        val words = new java.util.HashMap[String, LetterSink.Ids]()
        it.foreach { case (id, bytes) =>
          NormalizedTokens.scan(bytes, (buf, len) => {
            val word = new String(buf, 0, len, StandardCharsets.US_ASCII)
            var ids = words.get(word)
            if (ids == null) { ids = new LetterSink.Ids; words.put(word, ids) }
            if (ids.n == 0 || ids.buf(ids.n - 1) != id) ids.add(id)
          })
        }
        words.entrySet().iterator().asScala.map(e => (e.getKey, java.util.Arrays.copyOf(e.getValue.buf, e.getValue.n)))
      }(LetterSink.listEncoder)
      .toDF("word", "file_ids")

  def main(args: Array[String]): Unit = {
    val Array(manifestPath, outDir) = args.takeRight(2)
    val spark = graft.GraftSession.local("graft-inverted-index")
    try run(spark, manifestPath, outDir)
    finally spark.stop()
  }
}
