package graft.operators

import org.apache.spark.sql.SparkSession

import graft.sources.ManifestSource

/** End-to-end equivalent of the reference CLI `./tema1 M R manifest`
  * (reference: tema1a/src/main.cpp:179-270). M/R thread counts are
  * scheduling hints in the reference with no semantic effect (the checker
  * requires identical output for all nine M×R combos); in Spark the
  * scheduler plays that role, so they are simply not parameters here.
  *
  * The plan has the reference's shape: one map stage in which each task
  * reads whole files ([[ManifestSource.files]]) and emits each file's
  * distinct words ([[InvertedIndex.documentWords]]), then ONE exchange on
  * the first letter, after which every letter's task merges, ranks and
  * writes its file ([[LetterSink.writePostings]]). A file is one row, so
  * each input file must be under ~2 GB ([[ManifestSource.read]] checks).
  */
object ReferenceJob {
  def run(spark: SparkSession, manifestPath: String, outDir: String): Unit = {
    val manifest = ManifestSource.read(manifestPath)
    val files = ManifestSource.files(spark, manifest)
    LetterSink.writePostings(InvertedIndex.documentWords(files, "file_id", "text"), outDir)
  }

  def main(args: Array[String]): Unit = {
    val Array(manifestPath, outDir) = args.takeRight(2)
    val spark = graft.GraftSession.local("graft-inverted-index")
    try run(spark, manifestPath, outDir)
    finally spark.stop()
  }
}
