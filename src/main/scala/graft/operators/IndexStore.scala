package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Persisted base+delta inverted-index chain with COMPACTION — the
  * maintenance step q146's algebraic merge implies but never
  * materializes: under continuous ingest each batch appends a small
  * delta index (only the batch is tokenized), readers pay an N-way
  * posting-list union, and [[compact]] folds the chain into a new full
  * base so steady-state reads return to one table scan. Complements
  * [[InvertedIndex.retract]] (q149) on the additive side.
  *
  * Commit protocol: [[GenChain]] generations. Each `v<N>/` holds one
  * segment named by its delta ordinal — `base/<j>/` (a full base
  * holding batches 1..j; `init` writes `base/0`) or `delta/<i>/`
  * (batch i). Ordinals stay monotone across compactions and survive a
  * vacuum, so [[readAsOf]] addresses a chain state by its batch count.
  * A crashed mutation leaves only an unpublished `.gen-tmp-*` dir that
  * readers never see.
  *
  * Stored row shape: (word, file_ids sorted distinct array) — exactly
  * [[InvertedIndex.index]]'s first two columns; doc_freq/letter are
  * derivable and recomputed on read.
  */
object IndexStore {

  private val indexSchema = StructType(Seq(
    StructField("word", StringType),
    StructField("file_ids", ArrayType(LongType))))

  private def write(df: DataFrame, dest: String): Unit =
    df.select(col("word"), col("file_ids")).write.parquet(dest)

  private def head(store: String): Int = {
    val g = GenChain.currentGeneration(store)
    require(g >= 0, s"$store has no generation 0 — call init first")
    g
  }

  private def baseGen(store: String, gen: Int): Int = GenChain.baseGenOf(store, gen, "base")

  /** Generation `gen`'s segment dir, `base/<j>` or `delta/<i>`. */
  private def segment(store: String, gen: Int): java.io.File = {
    val g = new java.io.File(GenChain.genDir(store, gen))
    val kind = Seq("base", "delta").map(new java.io.File(g, _)).find(_.isDirectory)
      .getOrElse(throw new IllegalStateException(s"generation $gen of $store holds no segment"))
    kind.listFiles().filter(_.isDirectory).head
  }

  private def ordinal(store: String, gen: Int): Int = segment(store, gen).getName.toInt

  /** Create the store with `df` as its base `v0` (no-op if it exists). */
  def init(df: DataFrame, store: String): Unit =
    if (GenChain.currentGeneration(store) < 0) {
      val tmp = GenChain.freshTmp(store, 0)
      write(df, s"$tmp/base/0")
      try GenChain.publish(store, 0, -1L, tmp)
      catch { case _: Cas.LostException => () } // another writer's v0
    }

  /** Append one ingest batch's index as the next generation; a lost
    * publish race rebases onto the winner's head.
    */
  def appendDelta(df: DataFrame, store: String): String = Cas.withRetry() {
    val gen = head(store)
    val tmp = GenChain.freshTmp(store, gen + 1)
    val seg = s"delta/${ordinal(store, gen) + 1}"
    write(df, s"$tmp/$seg")
    GenChain.publish(store, gen + 1, -1L, tmp)
    s"${GenChain.genDir(store, gen + 1)}/$seg"
  }

  /** N-way index merge at index grain: posting lists unioned (inputs
    * already sorted+distinct), nothing re-tokenized. One groupBy over
    * index rows; a single input passes through untouched.
    */
  private def mergeAll(sides: Seq[DataFrame]): DataFrame = sides match {
    case Seq(one) => one.select(col("word"), col("file_ids"))
    case many => many.map(_.select(col("word"), col("file_ids")))
      .reduce(_ unionByName _)
      .groupBy(col("word"))
      .agg(array_sort(array_distinct(flatten(collect_list(col("file_ids")))))
        .as("file_ids"))
  }

  /** The index generation `gen` serves: its base merged with the deltas after it. */
  private def readGen(s: SparkSession, store: String, gen: Int): DataFrame =
    mergeAll((baseGen(store, gen) to gen).map(g => SnapshotCache.parquet(s,
      SnapshotCache.genStamp(store, g), None, Seq(segment(store, g).getPath), Some(indexSchema))))

  /** The head index — the reader contract. */
  def read(s: SparkSession, store: String): DataFrame = readGen(s, store, head(store))

  /** Fold the head's deltas into a new full-base generation. Returns the
    * number of deltas folded; 0 (nothing written) when the head is a base.
    */
  def compact(s: SparkSession, store: String): Int = {
    val gen = head(store)
    val folded = gen - baseGen(store, gen)
    if (folded > 0) {
      val tmp = GenChain.freshTmp(store, gen + 1)
      write(readGen(s, store, gen), s"$tmp/base/${ordinal(store, gen)}")
      GenChain.publish(store, gen + 1, -1L, tmp)
    }
    folded
  }

  /** The index AS OF batch `upToDelta` (0 = the original base alone) —
    * TIME TRAVEL for the chain: the newest generation whose ordinal is at
    * most `upToDelta`, read through its own base. Vacuumed history fails
    * EXPLICITLY.
    */
  def readAsOf(s: SparkSession, store: String, upToDelta: Int): DataFrame = {
    val gen = head(store)
    require(upToDelta <= ordinal(store, gen),
      s"delta $upToDelta of $store is not addressable (never appended)")
    val at = (gen to 0 by -1).iterator
      .takeWhile(g => new java.io.File(GenChain.genDir(store, g)).isDirectory)
      .find(g => ordinal(store, g) <= upToDelta)
      .getOrElse(throw new IllegalArgumentException(
        s"delta $upToDelta of $store is not addressable (vacuumed)"))
    readGen(s, store, at)
  }

  /** Drop every generation below the head's base — the index chain's
    * vacuum: states older than that base stop being addressable.
    */
  def vacuumArchives(store: String): Unit =
    GenChain.vacuumGenerations(store, baseGen(store, head(store)))

  /** Chain-health audit: (segment count, rows a chain read scans =
    * base + all deltas, rows the folded base would hold). The
    * merge-read overhead is read_rows/folded_rows — what every reader
    * pays until a compact folds the chain. Bounded metadata compute:
    * counts only, never the corpus.
    */
  def chainAudit(s: SparkSession, store: String): (Int, Long, Long) = {
    val gen = head(store)
    val b = baseGen(store, gen)
    val readRows = (b to gen)
      .map(g => s.read.schema(indexSchema).parquet(segment(store, g).getPath).count()).sum
    (gen - b, readRows, readGen(s, store, gen).count())
  }

  /** The maintenance trigger the audit recommends: compact when the
    * measured overhead or segment count crosses the threshold — the
    * missing WHEN to [[compact]]'s HOW. Returns whether it fired.
    * Integer-exact crossing test (no float boundary).
    */
  def compactIfNeeded(s: SparkSession, store: String,
      maxOverheadMilli: Long = GenChain.recommendOverheadMilli,
      maxSegments: Int = GenChain.recommendMaxSegments): Boolean =
    GenChain.compactWhenNeeded(chainAudit(s, store),
      compact(s, store), maxOverheadMilli, maxSegments)
}
