package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{ScratchRoot, Tables}
import graft.functions.{text, textstats}
import graft.operators.InvertedIndex

/** The reference engine's query surface re-hosted on the parquet
  * `documents` table (doc_id plays the manifest file id; FIXTURES.md §B).
  * Posting lists are emitted as space-joined strings, not arrays — the
  * driver hash-compares column values, and a string round-trips
  * identically through Spark parquet and DuckDB.
  */
object TextCorpus {

  /** DuckDB expression producing the same normalized token list as
    * [[graft.functions.text.normalizedTokens]]: whitespace-run split,
    * ASCII-letters-only lowercase, empties dropped.
    */
  val tokensSql: String =
    "list_filter(list_transform(regexp_split_to_array(text, '\\s+')," +
      " t -> lower(regexp_replace(t, '[^A-Za-z]', '', 'g'))), t -> len(t) > 0)"

  private def words(s: SparkSession, d: String): DataFrame =
    InvertedIndex.words(Tables.documents(s, d), "doc_id", "text")

  /** Per-document token count (tokenize + normalize + filter as in
    * reference main.cpp:66-96, counted).
    */
  private def q16(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(
        col("doc_id"),
        size(text.normalizedTokens(col("text"))).cast("long").as("n_tokens"))
      .orderBy(col("doc_id"))

  /** The inverted index itself (reference main.cpp:121-135): word ->
    * sorted distinct doc ids + doc frequency, ranked (main.cpp:137-148).
    */
  private def q17(s: SparkSession, d: String): DataFrame =
    words(s, d)
      .groupBy(col("word"))
      .agg(array_sort(collect_set(col("file_id"))).as("ids"))
      .select(
        col("word"),
        concat_ws(" ", col("ids")).as("doc_ids"),
        size(col("ids")).cast("long").as("doc_freq"),
      )
      .orderBy(col("doc_freq").desc, col("word"))

  /** Incremental inverted-index maintenance: the corpus splits into a
    * BASE (doc_id % 10 != 0) and a DELTA ingest batch (doc_id % 10 == 0);
    * each side builds its own index independently, and the two indexes
    * MERGE at the index grain — posting lists unioned (both already
    * sorted + distinct), doc_freq recomputed from the merged list —
    * producing exactly q17's output. The oracle is q17's own
    * full-corpus rebuild, so the driver gate itself proves the index is
    * ALGEBRAICALLY MERGEABLE: under continuous ingest only the delta
    * needs tokenizing, and the base index is a table read (here both
    * sides are built in-query because the test harness has no persisted
    * index, but the merge never looks at base documents — only at base
    * index rows).
    */
  private def q146(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    def side(pred: Column) = InvertedIndex
      .index(InvertedIndex.words(docs.where(pred), "doc_id", "text"))
      .select(col("word"), col("file_ids"))
    side(col("doc_id") % 10 =!= 0)
      .unionByName(side(col("doc_id") % 10 === 0))
      .groupBy(col("word"))
      .agg(flatten(collect_list(col("file_ids"))).as("merged"))
      .select(
        col("word"),
        concat_ws(" ", array_sort(array_distinct(col("merged")))).as("doc_ids"),
        size(array_distinct(col("merged"))).cast("long").as("doc_freq"))
      .orderBy(col("doc_freq").desc, col("word"))
  }

  /** Incremental-index DELETION path — the retract q146's additive merge
    * lacks: tombstone a deterministic slice of the corpus
    * (doc_id % 10 == 3, the synthetic right-to-be-forgotten batch) and
    * subtract it AT INDEX GRAIN via [[graft.operators.InvertedIndex
    * .retract]] — broadcast tombstone set, one map-only `array_except`
    * pass over posting lists, doc_freq recomputed from the survivor
    * lists, emptied words dropped. No deleted document is ever re-read
    * or re-tokenized (the row-grain GDPR audit q140 has no such
    * index-grain counterpart until now). Oracle = q17's own SQL over
    * the tombstone-filtered corpus, so the gate itself proves
    * retract(index(all), D) == rebuild(all − D) — the algebraic
    * property a maintainable index needs alongside q146's
    * merge(base, delta) == rebuild(all).
    */
  private def q149(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val full = InvertedIndex.index(InvertedIndex.words(docs, "doc_id", "text"))
    val tombstones = docs.where(col("doc_id") % 10 === 3).select(col("doc_id"))
    InvertedIndex.retract(full, tombstones, "doc_id")
      .select(
        col("word"),
        concat_ws(" ", col("file_ids")).as("doc_ids"),
        col("doc_freq").cast("long").as("doc_freq"))
      .orderBy(col("doc_freq").desc, col("word"))
  }

  /** The retrieval chain q152, q161 and q169 build: a persisted base
    * index over doc_id % 10 ∉ {0, 7}, then two delta batches (== 0, then
    * == 7) — two synthetic ingest batches, only each batch tokenized.
    */
  private[queries] def buildRetrievalChain(s: SparkSession, d: String, store: String): Unit = {
    import graft.operators.IndexStore
    val docs = Tables.documents(s, d)
    def side(pred: Column) = InvertedIndex
      .index(InvertedIndex.words(docs.where(pred), "doc_id", "text"))
    IndexStore.init(side(col("doc_id") % 10 =!= 0 && col("doc_id") % 10 =!= 7), store)
    IndexStore.appendDelta(side(col("doc_id") % 10 === 0), store)
    IndexStore.appendDelta(side(col("doc_id") % 10 === 7), store)
  }

  /** q152/q161's shared store: the retrieval chain, compacted, at a
    * stable root ([[ScratchRoot.stable]]), so a builder change never
    * adopts a previous spelling's on-disk state. The chain is built AND
    * compacted in a writer-private tmp, then published with one atomic
    * rename ([[ScratchRoot.publishOnce]]): no session ever mutates the
    * published store, and a killed first session can never leave a
    * partial chain for later ones.
    */
  private def compactedIndexStore(s: SparkSession, d: String): String =
    ScratchRoot.publishOnce(ScratchRoot.stable("index_store", d, TextCorpus.getClass,
      graft.operators.IndexStore.getClass, graft.operators.GenChain.getClass,
      graft.operators.MetaJson.getClass, InvertedIndex.getClass,
      graft.functions.text.getClass))(_.isDirectory) { tmp =>
      buildRetrievalChain(s, d, tmp.getPath)
      graft.operators.IndexStore.compact(s, tmp.getPath)
    }

  /** Index-chain COMPACTION — the maintenance step q146 (merge) and
    * q149 (retract) imply but never materialize: the corpus lands as
    * the persisted retrieval chain (base + two delta indexes),
    * `compact()` folds it into a single base, and the answer is read
    * from the compacted store. Oracle = q17's full-corpus rebuild, so
    * the gate proves compact(base ∪ δ1 ∪ δ2) == rebuild(all), read as
    * one table scan with no merge in the plan. Chain/crash invariants in
    * RetrievalSpec; protocol in [[graft.operators.IndexStore]].
    */
  private def q152(s: SparkSession, d: String): DataFrame =
    graft.operators.IndexStore.read(s, compactedIndexStore(s, d))
      .select(
        col("word"),
        concat_ws(" ", col("file_ids")).as("doc_ids"),
        size(col("file_ids")).cast("long").as("doc_freq"))
      .orderBy(col("doc_freq").desc, col("word"))

  /** Document-frequency ranking with the reference's letter partition key
    * (main.cpp:41-46): scalable count-distinct form, no posting list.
    */
  private def q18(s: SparkSession, d: String): DataFrame =
    words(s, d)
      .groupBy(col("word"))
      .agg(countDistinct(col("file_id")).as("doc_freq"))
      .select(col("word"), col("doc_freq"), text.firstLetter(col("word")).as("letter"))
      .orderBy(col("doc_freq").desc, col("word"))

  /** TF-IDF top terms per document. idf is floor'd to integer milli-units
    * before ranking: raw double tf*ln(N/df) scores can be mathematically
    * equal across different (tf, df) pairs (2*ln4 == 4*ln2) yet differ by
    * an ulp between engines, flipping ranks; integer scores rank
    * identically everywhere (ln itself matches — both engines use the
    * platform natural log and the floor sits ulp-safely inside the
    * interval for non-boundary values).
    */
  private def q40(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val nDocs = docs.count() // corpus size: one tiny driver-side scalar
    val tf = words(s, d)
      .groupBy(col("file_id").as("doc_id"), col("word"))
      .agg(count(lit(1)).as("tf"))
    val df = tf.groupBy(col("word")).agg(count(lit(1)).as("df"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("score_milli").desc, col("word"))
    tf.join(df, "word")
      .withColumn("idf_milli", floor(lit(1000) * log(lit(nDocs.toDouble) / col("df"))))
      .withColumn("score_milli", col("tf") * col("idf_milli"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .where(col("rank") <= 3)
      .select(col("doc_id"), col("rank"), col("word"), col("tf"), col("df"),
        (col("score_milli") / lit(1000.0)).as("tfidf"))
      .orderBy(col("doc_id"), col("rank"))
  }

  /** Stopword prune for sparse retrieval: drop terms present in more than
    * `dfCapPct`% of documents BEFORE the query-postings join. A corpus-wide
    * stopword ("the") otherwise multiplies every query containing it by the
    * whole corpus — O(queries x corpus). Pruned terms contribute ~0 to
    * linear-idf scores anyway (their weight is floor(1000N/df) < 1000/0.9).
    */
  val dfCapPct = 90

  /** Impact-ordered posting cap: each surviving term keeps only its
    * `postingCap` highest-weight postings (weight desc, doc_id asc). This
    * bounds the per-query-term candidate count even for terms just under
    * the df cap — the second half of the standard sparse-retrieval prune
    * (WAND-style impact ordering, truncated).
    */
  val postingCap = 256

  /** Sparse top-k text retrieval: score query documents against the
    * corpus through the inverted index (postings join on shared terms),
    * never materializing any dense vector or all-pairs product — the
    * scale path for text similarity, complementing dense q29/q30. Terms
    * are weighted tf * linear-idf in exact integer milli-units
    * (floor(1000*N/df), no log, no float), the corpus total rides along
    * as a broadcast 1-row table.
    *
    * Hot-term safety, in order: (1) df comes from a groupBy — map-side
    * partial combine, never a count-over-window that lands a hot word's
    * every posting on one task; (2) terms with df > [[dfCapPct]]%·N are
    * dropped on BOTH the query and posting sides; (3) surviving posting
    * lists are truncated to their [[postingCap]] highest-impact entries
    * by the salted two-level ranking in [[cappedPostings]] (no per-word
    * single-task sort), so the join fans out at most `postingCap`
    * candidates per query term. Queries keep their own full (pruned)
    * term weights — the cap is a corpus-side index-build decision.
    */
  /** Stopword-pruned tf-weighted postings over a documents table
    * (doc_id, text): terms with df > capPct%·N are dropped BEFORE any
    * join can fan them out. Exposed for the adversarial-skew spec.
    */
  private[graft] def weightedPostings(docs: DataFrame, capPct: Int): DataFrame = {
    val tf = InvertedIndex.words(docs, "doc_id", "text")
      .groupBy(col("file_id").as("doc_id"), col("word"))
      .agg(count(lit(1)).as("tf"))
    val nDocs = docs.agg(count(lit(1)).as("N"))
    val dfTab = tf.groupBy(col("word")).agg(count(lit(1)).as("df"))
    tf.join(dfTab, "word")
      .crossJoin(broadcast(nDocs))
      .where(col("df") * lit(100) <= col("N") * lit(capPct))
      .select(col("doc_id"), col("word"),
        expr("tf * ((1000 * N) div df)").as("w_milli"))
  }

  /** Salt slices for the two-level posting cap: a hot term's postings
    * sort in `postingSalt` parallel slices instead of one task. Raise
    * with posting-list size (per-slice sort is df/salt rows; the window
    * sorter additionally spills, so the bound is parallelism, not
    * memory).
    */
  val postingSalt = 16

  /** Impact-ordered truncation: keep each term's `cap` highest-weight
    * postings (w_milli desc, doc_id asc) via a salted TWO-LEVEL ranking —
    * rank within (word, doc_id%salt) slices and keep <= cap per slice
    * (every global top-cap posting survives its own slice's cap), then
    * rank the <= salt*cap survivors per word. Exactly the plain per-word
    * top-cap, but no single task ever sorts a hot term's full posting
    * list, and both passes stay in whole-stage codegen — measured ~4x
    * cheaper on first execution than a typed TopKAggregator formulation
    * (the typed boundary pays a per-row encode/decode plus a heavy JIT
    * warm-up). Exposed for the adversarial-skew spec.
    */
  private[graft] def cappedPostings(weighted: DataFrame, cap: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val slice = Window
      .partitionBy(col("word"), pmod(col("doc_id"), lit(postingSalt)))
      .orderBy(col("w_milli").desc, col("doc_id"))
    val global = Window.partitionBy(col("word"))
      .orderBy(col("w_milli").desc, col("doc_id"))
    weighted
      .select(col("word"), col("doc_id"), col("w_milli"))
      .withColumn("r1", row_number().over(slice)).where(col("r1") <= cap)
      .withColumn("r2", row_number().over(global)).where(col("r2") <= cap)
      .select(col("word"), col("doc_id"), col("w_milli"))
  }

  /** The corpus's weighted sparse postings ([[weightedPostings]] at
    * [[dfCapPct]]), MATERIALIZED once per (JVM, sf) as parquet — the
    * corpus-scale tokenize + tf + df work behind q60 and q106's sparse
    * tower, paid once instead of per retrieval query (the
    * verifiedPairs discipline applied to retrieval; in a deployment
    * this table IS the maintained inverted index, q146/q152).
    * Per-JVM root so bench and verify JVMs cannot clobber.
    */
  private[graft] def postingsTable(s: SparkSession, d: String): DataFrame = {
    val path = ScratchRoot.jvm("postings", d)
    ScratchRoot.once(path) {
      weightedPostings(graft.Tables.documents(s, d), dfCapPct)
        .write.mode("overwrite").parquet(path)
    }
    s.read.parquet(path)
  }

  /** [[sparseTopK]] over an already-built weighted-postings frame. */
  private[graft] def sparseTopKFrom(weighted: DataFrame, cap: Int,
      queryPred: Column): DataFrame = {
    val capped = cappedPostings(weighted, cap)
    val queries = weighted
      .where(queryPred)
      .select(col("doc_id").as("q_id"), col("word"), col("w_milli").as("wq"))
    val rankW = org.apache.spark.sql.expressions.Window
      .partitionBy(col("q_id")).orderBy(col("dot").desc, col("doc_id"))
    queries.join(capped, "word")
      .where(col("doc_id") =!= col("q_id"))
      .groupBy(col("q_id"), col("doc_id"))
      .agg(sum(col("wq") * col("w_milli")).as("dot"))
      .withColumn("rank", row_number().over(rankW).cast("long"))
      .where(col("rank") <= 5)
      .select(col("q_id"), col("rank"), col("doc_id"), col("dot"))
      .orderBy(col("q_id"), col("rank"))
  }

  private[graft] def sparseTopK(docs: DataFrame, capPct: Int, cap: Int,
      queryPred: Column = col("doc_id") % 100 === 7): DataFrame =
    sparseTopKFrom(weightedPostings(docs, capPct)
      .localCheckpoint(), // feeds the query side, and the cap + join sides
      cap, queryPred)

  private def q60(s: SparkSession, d: String): DataFrame =
    sparseTopKFrom(postingsTable(s, d), postingCap, col("doc_id") % 100 === 7)

  /** The q60 oracle's CTE chain (toks..r), parameterized by the query
    * predicate so q60 and the RRF fusion (q106) share one spelling of
    * the sparse ranking and cannot drift. `r` holds (q_id, doc_id, dot,
    * rank) for queries matching `qFilter`.
    */
  private[graft] def sparseSql(qFilter: String): String =
    s"""toks AS (SELECT doc_id, unnest($tokensSql) AS word FROM documents),
       |tf AS (SELECT doc_id, word, count(*) AS tf FROM toks GROUP BY doc_id, word),
       |df AS (SELECT word, count(*) AS df FROM tf GROUP BY word),
       |n AS (SELECT count(*) AS N FROM documents),
       |wt AS (SELECT doc_id, word, tf * ((1000 * N) // df) AS w_milli
       |       FROM tf JOIN df USING (word) CROSS JOIN n
       |       WHERE df * 100 <= N * $dfCapPct),
       |cap AS (SELECT doc_id, word, w_milli FROM (
       |         SELECT *, row_number() OVER (PARTITION BY word
       |           ORDER BY w_milli DESC, doc_id) AS ir FROM wt)
       |        WHERE ir <= $postingCap),
       |q AS (SELECT doc_id AS q_id, word, w_milli AS wq FROM wt WHERE $qFilter),
       |dots AS (SELECT q.q_id, cap.doc_id, CAST(sum(q.wq * cap.w_milli) AS BIGINT) AS dot
       |         FROM q JOIN cap USING (word) WHERE cap.doc_id <> q.q_id
       |         GROUP BY q.q_id, cap.doc_id),
       |r AS (SELECT *, row_number() OVER (PARTITION BY q_id
       |        ORDER BY dot DESC, doc_id) AS rank FROM dots)""".stripMargin

  /** BM25 posting weight in integer micro-units, as ONE expression
    * string `expr`-parsed by Spark and pasted verbatim into the DuckDB
    * oracle, so both engines evaluate the identical IEEE-double op tree
    * (the q54/q104 recipe): every input (tf, df, dl, N, total_tokens)
    * is an exactly-representable integer, every arithmetic op is
    * correctly-rounded IEEE, and the single `ln` matches between
    * engines at far better than the micro floor granularity (q40
    * precedent at milli). k1=1.2, b=0.75 appear pre-folded as the exact
    * decimal literals 2.2 (= k1+1), 1.2, 0.25 (= 1-b), 0.75.
    */
  private val bm25WeightSql: String =
    "CAST(floor(1000000 * ln((CAST(N AS DOUBLE) - df + 0.5) / (df + 0.5) + 1.0)" +
      " * ((tf * 2.2) / (tf + 1.2 * (0.25 + 0.75 *" +
      " (dl * (CAST(N AS DOUBLE) / total_tokens)))))) AS BIGINT)"

  /** BM25-ranked sparse retrieval — the production scoring function on
    * the q60 scale skeleton: same df stopword prune, same salted
    * two-level impact-ordered posting cap ([[cappedPostings]]), but
    * postings carry the full BM25 doc-side weight
    * idf·tf·(k1+1)/(tf + k1·(1−b+b·dl/avgdl)) quantized to integer
    * micro ([[bm25WeightSql]]); a query contributes its raw term
    * frequency (BM25 does not length-normalize the query side). Corpus
    * passes: one tokenize+tf aggregation (checkpointed — it feeds dl,
    * df, postings, and queries), then the bounded postings join. The
    * per-doc length dl joins back on doc_id — one co-partitioned
    * shuffle, no window.
    */
  /** The corpus term-frequency table ((doc_id, word, tf) — the
    * tokenize + count pass every retrieval weighting starts from),
    * MATERIALIZED once per (JVM, sf) as parquet for q115's BM25 tower;
    * the vocabulary-scale derivations (df, dl, totals) recompute from
    * it per query, which is the cheap part. Same discipline as
    * [[postingsTable]].
    */
  private[graft] def tfTable(s: SparkSession, d: String): DataFrame = {
    val path = ScratchRoot.jvm("tf", d)
    ScratchRoot.once(path) {
      InvertedIndex.words(graft.Tables.documents(s, d), "doc_id", "text")
        .groupBy(col("file_id").as("doc_id"), col("word"))
        .agg(count(lit(1)).as("tf"))
        .write.mode("overwrite").parquet(path)
    }
    s.read.parquet(path)
  }

  /** [[bm25TopK]] over an already-built tf frame. */
  private[graft] def bm25TopKFrom(tf: DataFrame, docs: DataFrame,
      capPct: Int, cap: Int, queryPred: Column): DataFrame = {
    val dl = tf.groupBy(col("doc_id")).agg(sum(col("tf")).as("dl"))
    val dfTab = tf.groupBy(col("word")).agg(count(lit(1)).as("df"))
    val totals = docs.agg(count(lit(1)).as("N"))
      .crossJoin(tf.agg(sum(col("tf")).as("total_tokens")))
    val pruned = tf.join(dfTab, "word")
      .crossJoin(broadcast(totals))
      .where(col("df") * lit(100) <= col("N") * lit(capPct))
    val weighted = pruned
      .join(dl, "doc_id")
      .select(col("doc_id"), col("word"), expr(bm25WeightSql).as("w_milli"))
    val capped = cappedPostings(weighted, cap)
    val queries = pruned
      .where(queryPred)
      .select(col("doc_id").as("q_id"), col("word"), col("tf").as("qtf"))
    val rankW = org.apache.spark.sql.expressions.Window
      .partitionBy(col("q_id")).orderBy(col("score").desc, col("doc_id"))
    queries.join(capped, "word")
      .where(col("doc_id") =!= col("q_id"))
      .groupBy(col("q_id"), col("doc_id"))
      .agg(sum(col("qtf") * col("w_milli")).as("score"))
      .withColumn("rank", row_number().over(rankW).cast("long"))
      .where(col("rank") <= 5)
      .select(col("q_id"), col("rank"), col("doc_id"), col("score"))
      .orderBy(col("q_id"), col("rank"))
  }

  private[graft] def bm25TopK(docs: DataFrame, capPct: Int, cap: Int,
      queryPred: Column = col("doc_id") % 100 === 7): DataFrame =
    bm25TopKFrom(
      InvertedIndex.words(docs, "doc_id", "text")
        .groupBy(col("file_id").as("doc_id"), col("word"))
        .agg(count(lit(1)).as("tf"))
        .localCheckpoint(), // feeds dl, df, the postings, and the query side
      docs, capPct, cap, queryPred)

  private def q115(s: SparkSession, d: String): DataFrame =
    bm25TopKFrom(tfTable(s, d), Tables.documents(s, d), dfCapPct, postingCap,
      col("doc_id") % 100 === 7)

  /** BPE-style pair statistics — the merge-candidate table a
    * byte-pair-encoding tokenizer trainer computes each round: adjacent
    * character pairs inside each vocabulary word, weighted by the word's
    * corpus frequency, ranked by total corpus occurrences. The only
    * corpus-scale work is the word-count aggregation (map-side combine,
    * one shuffle on the word); the character-pair explode then runs over
    * the VOCABULARY table — orders of magnitude smaller than the corpus —
    * so the interpreted transform lambda is off the data path (same
    * rationale as the Lloyd centroid assembly in Similarity).
    */
  private def q82(s: SparkSession, d: String): DataFrame =
    words(s, d)
      .groupBy(col("word")).agg(count(lit(1)).as("n"))
      .where(length(col("word")) >= 2)
      .select(col("word"), col("n"),
        explode(expr(
          "transform(sequence(1, length(word)-1), i -> substring(word, i, 2))")).as("pair"))
      .groupBy(col("pair"))
      .agg(countDistinct(col("word")).as("n_words"), sum(col("n")).as("total"))
      .orderBy(col("total").desc, col("pair"))
      .limit(40)

  /** Misra-Gries counter budget for q105. 29 counters -> threshold
    * n/30: sits INSIDE this corpus's near-uniform 31-word frequency
    * spread at every scale factor, so the output is a nontrivial subset
    * (neither empty nor the whole vocabulary) — the boundary the sketch
    * has to actually decide.
    */
  val mgK = 29

  /** Corpus heavy hitters through the Misra-Gries sketch: pass 1 is the
    * bounded-state sketch aggregation ([[graft.operators
    * .MisraGriesAggregator]] — at most [[mgK]] counters per task,
    * NO vocabulary-wide shuffle, stream length rides in the same
    * buffer); its <= mgK survivors — a guaranteed SUPERSET of every
    * item above n/(k+1) — then scope pass 2, an exact count restricted
    * to the survivor list, so the expensive exactness is paid for k
    * items instead of the vocabulary. Driver-side state: one sketch
    * (<= k counters), the Bloom-sketch precedent. Output: the exact
    * heavy hitters with exact counts — which is why a plain-SQL oracle
    * can check a sketch-driven plan. FrequentItemsSpec proves the
    * survival guarantee adversarially (10k-item tail, merge path).
    */
  private def q105(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val w = words(s, d).select(col("word"))
    val sketch = w.as[String]
      .select(new graft.operators.MisraGriesAggregator(mgK).toColumn).head()
    val survivors = sketch.counts.keys.toSeq.sorted
    w.where(col("word").isin(survivors: _*))
      .groupBy(col("word")).agg(count(lit(1)).as("n"))
      .where(col("n") * (mgK + 1) > lit(sketch.n))
      .withColumn("share_milli",
        floor(lit(1000) * col("n") / lit(sketch.n)).cast("long"))
      .orderBy(col("n").desc, col("word"))
  }

  /** Vocabulary growth curve: new distinct word-shingles contributed by
    * each corpus decile (arrival order = doc_id), cumulated — the
    * Heaps'-law measurement behind "how much more data until the
    * tokenizer's vocabulary saturates". Measured over the
    * `Dedup.shingleSize`-gram space rather than unigrams (this corpus's
    * unigram vocabulary saturates in decile 0; n-gram growth is the
    * curve a tokenizer trainer actually watches). First-seen is a
    * min-aggregate on the shingle's 64-bit rolling-hash FINGERPRINT, so
    * the shuffle carries 8-byte keys instead of shingle strings (both
    * engines hash with the same polynomial — collisions, ~n²/2⁶¹,
    * vanishing, fold identically on both sides and the match stays
    * exact). The token array is PRE-PROJECTED before the explode: an
    * inline `explode(shingles(normalizedTokens(text)))` generator
    * re-evaluates the tokenization once per reference inside the
    * shingle expression — measured 12.6 s warm vs 1.2 s with the
    * two-step projection at sf0.1 (the q93 span-explode discipline).
    * The decile bucketing and both aggregations run over vocab- then
    * 10-row tables. The only partition-less window is the final
    * cumulation over the TEN decile rows.
    */
  private def q121(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.documents(s, d)
    val nd = docs.agg((max(col("doc_id")) + 1).as("nd"))
    val fs = docs
      .select(col("doc_id"), text.normalizedTokens(col("text")).as("toks"))
      .select(col("doc_id"), explode(graft.operators.Dedup.shingles(col("toks"))).as("sh"))
      .select(col("doc_id"), textstats.rollingHash(col("sh")).as("h"))
      .groupBy(col("h")).agg(min(col("doc_id")).as("first_doc"))
    val w = Window.orderBy(col("decile")).rowsBetween(Window.unboundedPreceding, 0)
    fs.crossJoin(broadcast(nd))
      .groupBy(expr("(first_doc * 10) div nd").as("decile"))
      .agg(count(lit(1)).as("n_new_shingles"))
      .withColumn("cum_vocab", sum(col("n_new_shingles")).over(w))
      .orderBy(col("decile"))
  }

  /** TIME TRAVEL for the index chain — the AS-OF story q159/q160 built
    * for the row layouts, applied to q152's compacted store: compaction
    * publishes a new base generation and keeps the generations it folds,
    * so the index any PAST training run read — base alone, base+δ1,
    * base+δ1+δ2 — stays reconstructible after the chain has been folded
    * to a single base. Reports per-version index statistics AS OF each
    * delta count. Oracle derives each version's vocabulary/posting mass
    * from the documents table with the same batch predicates.
    */
  private def q161(s: SparkSession, d: String): DataFrame = {
    val store = compactedIndexStore(s, d)
    (0 to 2).map { ver =>
      graft.operators.IndexStore.readAsOf(s, store, ver)
        .select(size(col("file_ids")).cast("long").as("df"))
        .agg(count(lit(1)).as("n_words"), sum(col("df")).as("n_postings"),
          max(col("df")).as("max_df"))
        .select(lit(ver.toLong).as("version"),
          col("n_words"), col("n_postings"), col("max_df"))
    }.reduce(_ unionByName _).orderBy(col("version"))
  }

  val defs: Seq[QueryDef] = Seq(
    QueryDef("q161_index_time_travel", q161, Some(
      s"""WITH w AS (
         |  SELECT DISTINCT doc_id, unnest($tokensSql) AS word FROM documents),
         |ver AS (SELECT unnest([0, 1, 2]) AS version),
         |ww AS (
         |  SELECT ver.version, w.word, count(*) AS df
         |  FROM ver JOIN w
         |    ON (CASE WHEN ver.version = 0 THEN w.doc_id % 10 NOT IN (0, 7)
         |             WHEN ver.version = 1 THEN w.doc_id % 10 <> 7
         |             ELSE TRUE END)
         |  GROUP BY 1, 2)
         |SELECT CAST(version AS BIGINT) AS version,
         |  CAST(count(*) AS BIGINT) AS n_words,
         |  CAST(sum(df) AS BIGINT) AS n_postings,
         |  CAST(max(df) AS BIGINT) AS max_df
         |FROM ww GROUP BY 1 ORDER BY 1""".stripMargin)),
    // DedupQueries.rollSql is a def reading only operators.Dedup constants,
    // so this cross-queries-object reference is init-order-safe in both
    // directions (same pattern as Similarity -> TextCorpus.sparseSql).
    QueryDef("q121_vocab_growth", q121, Some(
      s"""WITH t AS (SELECT doc_id, $tokensSql AS toks FROM documents),
         |w AS (SELECT doc_id, unnest(list_transform(range(1, len(toks) - 1),
         |        i -> array_to_string(list_slice(toks, i, i + 2), ' '))) AS sh
         |      FROM t WHERE len(toks) >= 3),
         |hs AS (SELECT doc_id, ${DedupQueries.rollSql("sh")} AS h FROM w),
         |fs AS (SELECT h, min(doc_id) AS first_doc FROM hs GROUP BY h),
         |mx AS (SELECT max(doc_id) + 1 AS nd FROM documents),
         |d AS (SELECT (first_doc * 10) // nd AS decile, count(*) AS n_new_shingles
         |      FROM fs CROSS JOIN mx GROUP BY decile)
         |SELECT decile, CAST(n_new_shingles AS BIGINT) AS n_new_shingles,
         |  CAST(sum(n_new_shingles) OVER (ORDER BY decile
         |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_vocab
         |FROM d ORDER BY decile""".stripMargin)),
    QueryDef("q115_bm25_topk", q115, Some(
      s"""WITH toks AS (SELECT doc_id, unnest($tokensSql) AS word FROM documents),
         |tf AS (SELECT doc_id, word, count(*) AS tf FROM toks GROUP BY doc_id, word),
         |dlt AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl FROM tf GROUP BY doc_id),
         |n AS (SELECT (SELECT count(*) FROM documents) AS N,
         |             (SELECT CAST(sum(tf) AS BIGINT) FROM tf) AS total_tokens),
         |dft AS (SELECT word, count(*) AS df FROM tf GROUP BY word),
         |pr AS (SELECT doc_id, word, tf, df FROM tf JOIN dft USING (word)
         |       CROSS JOIN n WHERE df * 100 <= N * $dfCapPct),
         |wt AS (SELECT doc_id, word, $bm25WeightSql AS w_milli
         |       FROM pr JOIN dlt USING (doc_id) CROSS JOIN n),
         |cap AS (SELECT doc_id, word, w_milli FROM (
         |         SELECT *, row_number() OVER (PARTITION BY word
         |           ORDER BY w_milli DESC, doc_id) AS ir FROM wt)
         |        WHERE ir <= $postingCap),
         |q AS (SELECT doc_id AS q_id, word, tf AS qtf FROM pr
         |      WHERE doc_id % 100 = 7),
         |dots AS (SELECT q.q_id, cap.doc_id,
         |          CAST(sum(q.qtf * cap.w_milli) AS BIGINT) AS score
         |         FROM q JOIN cap USING (word) WHERE cap.doc_id <> q.q_id
         |         GROUP BY q.q_id, cap.doc_id),
         |r AS (SELECT *, row_number() OVER (PARTITION BY q_id
         |        ORDER BY score DESC, doc_id) AS rank FROM dots)
         |SELECT q_id, rank, doc_id, score FROM r WHERE rank <= 5
         |ORDER BY q_id, rank""".stripMargin)),
    QueryDef("q105_heavy_hitters", q105, Some(
      s"""WITH toks AS (SELECT unnest($tokensSql) AS word FROM documents),
         |t AS (SELECT count(*) AS total FROM toks),
         |c AS (SELECT word, count(*) AS n FROM toks GROUP BY word)
         |SELECT word, CAST(n AS BIGINT) AS n,
         |  CAST(floor(1000 * n / total) AS BIGINT) AS share_milli
         |FROM c, t WHERE n * ${mgK + 1} > total
         |ORDER BY n DESC, word""".stripMargin)),
    QueryDef("q16_doc_token_counts", q16,
      Some(s"""SELECT doc_id, len($tokensSql) AS n_tokens
              |FROM documents ORDER BY doc_id""".stripMargin)),
    QueryDef("q146_incremental_index", q146,
      // Oracle = q17's FULL-CORPUS rebuild: the driver gate itself
      // enforces merged(base, delta) == rebuilt(all).
      Some(s"""WITH w AS (
              |  SELECT DISTINCT doc_id, unnest($tokensSql) AS word FROM documents)
              |SELECT word, string_agg(CAST(doc_id AS VARCHAR), ' ' ORDER BY doc_id) AS doc_ids,
              |count(*) AS doc_freq
              |FROM w GROUP BY word ORDER BY doc_freq DESC, word""".stripMargin)),
    QueryDef("q149_index_retract", q149,
      // Oracle = q17's SQL over the corpus MINUS the tombstones: the
      // driver gate enforces retract(index(all), D) == rebuild(all − D).
      Some(s"""WITH w AS (
              |  SELECT DISTINCT doc_id, unnest($tokensSql) AS word
              |  FROM documents WHERE doc_id % 10 <> 3)
              |SELECT word, string_agg(CAST(doc_id AS VARCHAR), ' ' ORDER BY doc_id) AS doc_ids,
              |count(*) AS doc_freq
              |FROM w GROUP BY word ORDER BY doc_freq DESC, word""".stripMargin)),
    QueryDef("q152_index_compact", q152,
      // Oracle = q17's full rebuild: the gate enforces
      // compact(base ∪ δ1 ∪ δ2) == rebuild(all).
      Some(s"""WITH w AS (
              |  SELECT DISTINCT doc_id, unnest($tokensSql) AS word FROM documents)
              |SELECT word, string_agg(CAST(doc_id AS VARCHAR), ' ' ORDER BY doc_id) AS doc_ids,
              |count(*) AS doc_freq
              |FROM w GROUP BY word ORDER BY doc_freq DESC, word""".stripMargin)),
    QueryDef("q17_inverted_index", q17,
      Some(s"""WITH w AS (
              |  SELECT DISTINCT doc_id, unnest($tokensSql) AS word FROM documents)
              |SELECT word, string_agg(CAST(doc_id AS VARCHAR), ' ' ORDER BY doc_id) AS doc_ids,
              |count(*) AS doc_freq
              |FROM w GROUP BY word ORDER BY doc_freq DESC, word""".stripMargin)),
    QueryDef("q18_word_doc_freq", q18,
      Some(s"""WITH w AS (
              |  SELECT DISTINCT doc_id, unnest($tokensSql) AS word FROM documents)
              |SELECT word, count(*) AS doc_freq, substr(word,1,1) AS letter
              |FROM w GROUP BY word ORDER BY doc_freq DESC, word""".stripMargin)),
    QueryDef("q82_bpe_pairs", q82, Some(
      s"""WITH wds AS (SELECT unnest($tokensSql) AS word FROM documents),
         |c AS (SELECT word, count(*) AS n FROM wds GROUP BY word),
         |p AS (SELECT word, n,
         |        unnest(list_transform(range(1, length(word)), i -> word[i:i+1])) AS pair
         |      FROM c WHERE length(word) >= 2)
         |SELECT pair, count(DISTINCT word) AS n_words, CAST(sum(n) AS BIGINT) AS total
         |FROM p GROUP BY pair ORDER BY total DESC, pair LIMIT 40""".stripMargin)),
    QueryDef("q60_sparse_topk", q60, Some(
      s"""WITH ${sparseSql("doc_id % 100 = 7")}
         |SELECT q_id, rank, doc_id, dot FROM r WHERE rank <= 5
         |ORDER BY q_id, rank""".stripMargin)),
    QueryDef("q40_tfidf_top_terms", q40, Some(
      s"""WITH toks AS (SELECT doc_id, unnest($tokensSql) AS word FROM documents),
         |tf AS (SELECT doc_id, word, count(*) AS tf FROM toks GROUP BY doc_id, word),
         |df AS (SELECT word, count(*) AS df FROM tf GROUP BY word),
         |n AS (SELECT count(*) AS n_docs FROM documents),
         |s AS (SELECT tf.doc_id, tf.word, tf.tf, df.df,
         |        tf.tf * floor(1000 * ln(CAST(n.n_docs AS DOUBLE) / df.df)) AS score_milli
         |      FROM tf JOIN df USING (word) CROSS JOIN n),
         |r AS (SELECT *, row_number() OVER (PARTITION BY doc_id
         |        ORDER BY score_milli DESC, word) AS rank FROM s)
         |SELECT doc_id, rank, word, tf, df, score_milli / 1000.0 AS tfidf
         |FROM r WHERE rank <= 3 ORDER BY doc_id, rank""".stripMargin)),
  )
}
