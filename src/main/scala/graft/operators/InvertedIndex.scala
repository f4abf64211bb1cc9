package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.text

/** The reference engine's single built-in query: an inverted index /
  * document-frequency ranking (reference: tema1a/src/main.cpp, pipeline
  * documented in SURVEY.md §2).
  *
  * Spark-first mapping, as the reference job ([[ReferenceJob]]) runs it:
  *   - tokenize+normalize  -> the one byte kernel behind
  *                            `text.normalizedTokens` (#3,#4,#5)
  *   - per-mapper dedup    -> the map-side combiner of
  *                            [[ReferenceJob.run]]: each map task folds
  *                            its files into one byte-keyed word -> ids
  *                            table, the reference mapper's per-reducer
  *                            `map<word, set<fileId>>` (#9)
  *   - barrier + shuffle   -> one RDD shuffle, `partitionBy(letter % R)`,
  *                            in [[LetterSink.writeRows]]: the job's only
  *                            stage boundary, one reduce task per letter
  *                            group, as the reference's R reducers (#8,#10)
  *   - set-union merge     -> per letter, a word -> ids hash map whose
  *                            lists are sorted and deduped (#11)
  *   - composite sort      -> each letter's words ranked in memory (#12,
  *                            see LetterSink for why the order is
  *                            per-letter)
  *
  * A map task holds its slice's postings and a reduce task its letter
  * group's, as in the reference; each input file is one row (so under ~2 GB,
  * checked by [[graft.sources.ManifestSource.read]]). [[index]] and
  * [[fromLines]] build the same ranking as a DataFrame (`collect_set` by
  * word) for queries that consume the index itself rather than the letter
  * files; [[LetterSink.write]] also writes that frame.
  *
  * Scale notes: the per-word posting list (`collect_set(file_id)`) is the
  * reference's own data model; at 100 TB a single word's posting list can
  * exceed executor memory, so [[postings]] offers the scalable alternative
  * (distinct pairs, no in-memory set) and callers that only need counts
  * should aggregate `doc_freq` directly (count-distinct, no list at all).
  */
object InvertedIndex {

  /** (id, line/text) -> (file_id, word): tokenized, ASCII-normalized,
    * empties dropped. One output row per surviving token occurrence.
    */
  def words(lines: DataFrame, idCol: String, textCol: String): DataFrame =
    lines.select(
      col(idCol).as("file_id"),
      explode(text.normalizedTokens(col(textCol))).as("word"),
    )

  /** Distinct (word, file_id) pairs — the shuffle-friendly, unbounded-scale
    * representation of the index (no per-word in-memory set).
    */
  def postings(words: DataFrame): DataFrame =
    words.select("word", "file_id").distinct()

  /** word -> sorted distinct file_ids (+ doc_freq, first letter).
    * Matches the reference's `map<string, set<int>>` merge
    * (tema1a/src/main.cpp:121-135): ids ascending, distinct.
    */
  def index(words: DataFrame): DataFrame =
    words
      .groupBy("word")
      .agg(array_sort(collect_set(col("file_id"))).as("file_ids"))
      .select(
        col("word"),
        col("file_ids"),
        size(col("file_ids")).as("doc_freq"),
        text.firstLetter(col("word")).as("letter"),
      )

  /** Index-grain retraction — the DELETION path of incremental index
    * maintenance (the additive path is the q146 merge): remove a
    * tombstone set of doc ids from every posting list WITHOUT re-reading
    * or re-tokenizing any document. The tombstone relation collapses to
    * one collect_set row and broadcasts (erasure request lists are
    * bounded — thousands of ids against a corpus of billions — the same
    * envelope as every broadcast dimension), so the retract is one
    * map-only pass over index rows: `array_except` per posting list
    * (order-preserving on the sorted first argument, codegen'd),
    * doc_freq recomputed from the survivor list, and words whose lists
    * empty out dropped — a word exists in the index iff it survives in
    * at least one live document. No shuffle at all beyond the broadcast.
    */
  def retract(index: DataFrame, tombstones: DataFrame, idCol: String): DataFrame = {
    val del = tombstones.agg(collect_set(col(idCol)).as("del_ids"))
    index
      .crossJoin(broadcast(del))
      .select(col("word"), array_except(col("file_ids"), col("del_ids")).as("file_ids"))
      .where(size(col("file_ids")) > 0)
      .select(
        col("word"),
        col("file_ids"),
        size(col("file_ids")).as("doc_freq"),
        text.firstLetter(col("word")).as("letter"),
      )
  }

  /** Full pipeline from (id, text) rows to the ranked index. */
  def fromLines(lines: DataFrame, idCol: String, textCol: String): DataFrame =
    index(words(lines, idCol, textCol))
}
