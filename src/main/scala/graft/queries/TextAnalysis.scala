package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{ScratchRoot, Tables}
import graft.functions.{text, textstats}

/** Text-analysis pipeline queries over `documents`: language ID, quality
  * scoring, token statistics, fingerprinting. Every scalar is a narrow
  * per-row map over the scan — embarrassingly parallel, no shuffle except
  * final ordering, so these hold at any scale.
  */
object TextAnalysis {

  import TextCorpus.tokensSql

  /** DuckDB CASE replicating [[textstats.predictLang]] (alphabetical
    * language order = tie-break order).
    */
  private val langs = textstats.stopwords.keys.toSeq.sorted

  private def hitsSql(lang: String): String = {
    val list = textstats.stopwords(lang).map(w => s"'$w'").mkString("[", ", ", "]")
    s"len(list_distinct(list_intersect($tokensSql, $list)))"
  }

  private def q19(s: SparkSession, d: String): DataFrame = {
    val toks = text.normalizedTokens(col("text"))
    Tables.documents(s, d)
      .select(
        col("doc_id"),
        col("lang").as("labeled_lang"),
        textstats.predictLang(toks).as("pred_lang"),
        textstats.stopwordHits(toks, "en").as("hits_en"),
        textstats.stopwordHits(toks, "de").as("hits_de"),
      )
      .withColumn("agrees", (col("pred_lang") === col("labeled_lang")).cast("int").cast("long"))
      .orderBy(col("doc_id"))
  }

  /** Ratios are computed in integer centi/milli units via floor, not
    * round(x, n): Spark's round() rounds the shortest decimal repr
    * (BigDecimal.valueOf) while DuckDB rounds the raw double, so exact
    * halves like 189/40 = 4.725 diverge (4.73 vs 4.72). floor of an
    * integer-ratio double is stable in both engines: the quotient is
    * either an exactly-representable integer or at least 1/den away from
    * one.
    */
  private def q20(s: SparkSession, d: String): DataFrame = {
    val toks = text.normalizedTokens(col("text"))
    Tables.documents(s, d)
      .select(
        col("doc_id"),
        length(col("text")).cast("long").as("n_chars_text"),
        size(toks).cast("long").as("n_tokens"),
        textstats.punctCount(col("text")).as("n_punct"),
        textstats.stopwordOccurrences(toks).as("n_stopwords"),
        textstats.totalTokenChars(toks).as("token_chars"),
      )
      .withColumn("stopword_milli",
        floor(lit(1000) * col("n_stopwords") / greatest(col("n_tokens"), lit(1L))))
      .withColumn("punct_milli",
        floor(lit(1000) * col("n_punct") / greatest(col("n_chars_text"), lit(1L))))
      .withColumn("avg_token_len",
        floor(lit(100) * col("token_chars") / greatest(col("n_tokens"), lit(1L))) / lit(100.0))
      .withColumn("stopword_ratio", col("stopword_milli") / lit(1000.0))
      .withColumn("quality",
        (lit(1000) - least(col("stopword_milli") * 2, lit(500L))
          - least(col("punct_milli"), lit(500L))) / lit(1000.0))
      .drop("stopword_milli", "punct_milli")
      .orderBy(col("doc_id"))
  }

  /** Self-contained quality score (same expression tree as q20's
    * stopword/punct milli formulation — q46's oracle composes q20's SQL,
    * so any drift between the two fails the correctness gate).
    */
  private[queries] def qualityCol(textCol: Column, toks: Column): Column = {
    val sm = floor(lit(1000) * textstats.stopwordOccurrences(toks)
      / greatest(size(toks).cast("long"), lit(1L)))
    val pm = floor(lit(1000) * textstats.punctCount(textCol)
      / greatest(length(textCol).cast("long"), lit(1L)))
    (lit(1000) - least(sm * 2, lit(500L)) - least(pm, lit(500L))) / lit(1000.0)
  }

  private def q21(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(
        col("doc_id"),
        size(text.whitespaceTokens(col("text"))).cast("long").as("ws_tokens"),
        textstats.wordShapeCount(col("text")).as("shape_tokens"),
        length(col("text")).cast("long").as("n_chars_text"),
        col("n_chars"),
      )
      .orderBy(col("doc_id"))

  private def q22(s: SparkSession, d: String): DataFrame = {
    val norm = concat_ws(" ", text.normalizedTokens(col("text")))
    Tables.documents(s, d)
      .select(
        col("doc_id"),
        md5(col("text").cast("binary")).as("md5_raw"),
        md5(norm.cast("binary")).as("md5_norm"),
        textstats.rollingHash(norm).as("roll_hash"),
      )
      .orderBy(col("doc_id"))
  }

  /** Vocabulary Zipf coverage: rank words by corpus frequency and report
    * the cumulative share of all tokens the top-k cover (integer
    * milli-units) — the curve that sizes stopword lists and BPE vocab
    * budgets.
    *
    * Both the rank and the cumulative sum run through the
    * [[graft.operators.PrefixSum]] two-level decomposition, bucketed by
    * frequency band `-floor(log2(n))` (order-aligned with `n desc, word`:
    * the band is a function of n alone and non-decreasing as n falls), so
    * no single reducer ever sorts the whole vocabulary — at 100 TB with
    * noisy tokens the vocabulary is billions of rows, and the band split
    * keeps each local pass parallel while the only partition-less window
    * runs over the ~64-row band-totals table. rank == running count of 1
    * over the same order. The vocabulary pass is localCheckpoint'd: the
    * corpus total and the ranked output both consume it, and without the
    * checkpoint the tokenize/explode pipeline would re-run in each branch.
    */
  private def q69(s: SparkSession, d: String): DataFrame = {
    import graft.operators.PrefixSum
    val counts = graft.operators.InvertedIndex
      .words(Tables.documents(s, d), "doc_id", "text")
      .groupBy(col("word")).agg(count(lit(1)).as("n"))
      .localCheckpoint()
    val tot = counts.agg(sum(col("n")).as("n_total"))
    val base = counts
      .withColumn("neg_n", -col("n"))
      .withColumn("bkt", -floor(log2(col("n"))).cast("long"))
      .withColumn("one", lit(1L))
    val ranked = PrefixSum.withRunningTotals(
      base, Seq.empty, "bkt", Seq("neg_n", "word"),
      Seq("n" -> "cum", "one" -> "rank"))
    ranked.crossJoin(broadcast(tot))
      .select(col("rank").cast("long").as("rank"), col("word"), col("n"),
        expr("(1000 * cum) div n_total").as("cum_milli"))
      .orderBy(col("rank"))
  }

  /** Intra-document repetition (the Gopher-style repetition quality
    * signal): the fraction of repeated tokens and repeated bigrams within
    * each document, in exact integer milli-units — high repetition is the
    * classic boilerplate/spam marker a pretraining filter cuts on. Pure
    * per-row map over the scan (each document's arrays live inside its own
    * row — no shuffle, no join), so the signal costs one corpus pass at
    * any scale. The bigram branch is CASE-guarded for 1-token documents
    * (both engines evaluate CASE lazily, so the guarded transform never
    * sees a negative sequence bound).
    */
  private def q81(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id"), text.normalizedTokens(col("text")).as("toks"))
      .withColumn("n_tok", size(col("toks")).cast("long"))
      .where(col("n_tok") >= 1)
      .withColumn("n_dtok", size(array_distinct(col("toks"))).cast("long"))
      .withColumn("n_dbg",
        when(col("n_tok") >= 2,
          size(array_distinct(expr(
            "transform(sequence(1, size(toks)-1), i -> concat(toks[i-1], ' ', toks[i]))")))
            .cast("long"))
          .otherwise(lit(0L)))
      .withColumn("n_bg", greatest(col("n_tok") - 1, lit(0L)))
      .select(col("doc_id"), col("n_tok"),
        expr("(1000 * (n_tok - n_dtok)) div n_tok").as("tok_rep_milli"),
        col("n_bg"),
        expr("CASE WHEN n_bg = 0 THEN CAST(0 AS BIGINT)" +
          " ELSE (1000 * (n_bg - n_dbg)) div n_bg END").as("bigram_rep_milli"))
      .orderBy(col("doc_id"))

  /** Fixed TextRank iteration count — the oracle unrolls exactly this
    * many power steps (PageRank has no finite fixed point to early-stop
    * on, so both engines run the same count).
    */
  val textrankIters = 3

  /** TextRank keyword extraction: PageRank power iteration (damping
    * 0.85) over the word co-occurrence graph (adjacent-token pairs,
    * symmetrized, count-weighted). Every arithmetic step is exact
    * integer: ranks live in micro-units and each edge's contribution is
    * the integer quotient (850·w·r) div (1000·d) — order-independent
    * summands, so shuffle order cannot perturb the result, and the
    * numerator is promoted to decimal(38,0)/HUGEINT so corpus-scale edge
    * weights cannot wrap. Per iteration: one vocab-sized join + one
    * partial-aggregating shuffle — the graph tables are vocabulary-sized,
    * never corpus-sized. The top-20 selection is a distributed
    * TakeOrdered (orderBy + limit), NOT a partition-less ranking window;
    * the row_number that labels the final ranks runs over 20 rows.
    */
  private def q80(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val pairs = Tables.documents(s, d)
      .select(text.normalizedTokens(col("text")).as("t"))
      .where(size(col("t")) >= 2)
      .select(explode(expr(
        "transform(sequence(1, size(t)-1), i -> struct(t[i-1] AS w1, t[i] AS w2))")).as("bg"))
      .select(col("bg.w1").as("w1"), col("bg.w2").as("w2"))
    val und = pairs.select(col("w1").as("u"), col("w2").as("v"))
      .unionAll(pairs.select(col("w2").as("u"), col("w1").as("v")))
    val e = und.groupBy(col("u"), col("v")).agg(count(lit(1)).as("w"))
    val deg = e.groupBy(col("u")).agg(sum(col("w")).as("d"))
      .withColumnRenamed("u", "v")
    val ed = e.join(deg, "v").localCheckpoint() // feeds every iteration
    // Per-round checkpoint-and-free (the canonicalLabels discipline):
    // each round's rank table truncates the previous round's lineage and
    // frees its blocks, so raising textrankIters grows neither the plan
    // nor executor storage. The tables are vocabulary-sized, so the
    // checkpoint itself is cheap.
    import org.apache.spark.sql.graftbridge.DatasetBridge
    var r = ed.select(col("u")).distinct()
      .withColumn("r", lit(1000000L)).localCheckpoint()
    (1 to textrankIters).foreach { _ =>
      val next = ed.join(r.withColumnRenamed("u", "v"), "v")
        .select(col("u"), expr(
          "(CAST(850 AS DECIMAL(38,0)) * w * r) div (CAST(1000 AS DECIMAL(38,0)) * d)").as("term"))
        .groupBy(col("u"))
        .agg((lit(150000L) + sum(col("term"))).as("r"))
        .localCheckpoint()
      DatasetBridge.unpersistCheckpoint(r)
      r = next
    }
    r.orderBy(col("r").desc, col("u")).limit(20)
      .withColumn("rank",
        row_number().over(Window.orderBy(col("r").desc, col("u"))).cast("long"))
      .select(col("rank"), col("u").as("word"), col("r").as("rank_micro"))
      .orderBy(col("rank"))
  }

  /** Corpus-relative rarity threshold (q94): a word is "in-vocab" when it
    * appears in at least this many distinct documents.
    */
  val vocabMinDf = 5

  /** Corpus-relative token quality (q94): per document, the fraction of
    * token occurrences that are corpus hapaxes (document frequency 1 —
    * the word exists nowhere else; OCR noise, mangled encodings and
    * gibberish score high) and the fraction covered by the stable
    * vocabulary (df >= [[vocabMinDf]]). Complements q20, whose signals
    * are all doc-local: this one needs the corpus, which is exactly why
    * it earns its two shuffles — one vocabulary aggregation (partial-agg
    * friendly) and one words-to-vocab equi-join. The join key is
    * Zipf-skewed ("the" is most of one partition), the shape AQE's
    * skew-join split handles; the build side is one row per word.
    */
  private def q94(s: SparkSession, d: String): DataFrame = {
    val w = Tables.documents(s, d)
      .select(col("doc_id"), explode(text.normalizedTokens(col("text"))).as("word"))
    val dfTab = w.groupBy(col("word")).agg(countDistinct(col("doc_id")).as("df"))
    // shuffle_hash: at test scale AQE would happily broadcast the token
    // stream; at corpus scale neither side fits a broadcast and the real
    // plan is a shuffled join on word with the vocab as build side —
    // hint it so the plan we test IS the plan that runs at 100 TB (the
    // q74 merge-hint discipline).
    w.join(dfTab.hint("shuffle_hash"), "word")
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_tokens"),
        sum(when(col("df") === 1, lit(1L)).otherwise(lit(0L))).as("n_hapax"),
        sum(when(col("df") >= vocabMinDf, lit(1L)).otherwise(lit(0L))).as("n_vocab"))
      .select(col("doc_id"), col("n_tokens"), col("n_hapax"), col("n_vocab"),
        floor(lit(1000) * col("n_hapax") / col("n_tokens")).cast("long").as("hapax_milli"),
        floor(lit(1000) * col("n_vocab") / col("n_tokens")).cast("long").as("vocab_milli"))
      .orderBy(col("doc_id"))
  }

  /** Oracle for [[q80]]: the same power iteration unrolled. */
  private def textrankSql: String = {
    val rounds = (1 to textrankIters).map { k =>
      s"""r$k AS (SELECT e.u, 150000 + CAST(sum(
         |          (CAST(850 AS HUGEINT) * e.w * p.r) // (CAST(1000 AS HUGEINT) * d.dv)
         |        ) AS BIGINT) AS r
         |        FROM e JOIN r${k - 1} p ON p.u = e.v JOIN d ON d.v = e.v
         |        GROUP BY e.u)""".stripMargin
    }
    s"""WITH toks AS (SELECT $tokensSql AS t FROM documents),
       |pairs AS (SELECT unnest(t[1:len(t)-1]) AS w1, unnest(t[2:len(t)]) AS w2
       |          FROM toks WHERE len(t) >= 2),
       |und AS (SELECT w1 AS u, w2 AS v FROM pairs UNION ALL SELECT w2, w1 FROM pairs),
       |e AS (SELECT u, v, count(*) AS w FROM und GROUP BY u, v),
       |d AS (SELECT u AS v, CAST(sum(w) AS BIGINT) AS dv FROM e GROUP BY u),
       |r0 AS (SELECT DISTINCT u, CAST(1000000 AS BIGINT) AS r FROM e),
       |${rounds.mkString(",\n")}
       |SELECT row_number() OVER (ORDER BY r DESC, u) AS rank, u AS word, r AS rank_micro
       |FROM r$textrankIters ORDER BY rank LIMIT 20""".stripMargin
  }

  /** Exact TOKEN-WEIGHTED length percentiles per language (p25/p50/p75):
    * "the document length below which half the language's TOKENS live" —
    * the curriculum/budgeting statistic where the doc-count percentile
    * (q61) misleads because long documents carry most of the mass. The
    * running weight rides the [[graft.operators.PrefixSum]] two-level
    * decomposition bucketed by `n_chars div 100` (a function of the
    * leading order column, so bucket order extends row order) — no
    * single reducer ever sorts a language's whole corpus; the crossing
    * row is then picked by the pure predicate cum >= T > cum - w (w > 0
    * makes it unique: zero-weight rows can never cross). Thresholds
    * T = ceil(p*W/1000) in exact integer space; the per-language totals
    * are a 4-row broadcast.
    */
  private def q108(s: SparkSession, d: String): DataFrame = {
    import graft.operators.PrefixSum
    val t = Tables.documents(s, d)
      .select(col("doc_id"), col("lang"), col("n_chars"),
        size(text.normalizedTokens(col("text"))).cast("long").as("w"))
    val cum = PrefixSum.withRunningTotal(
      t.withColumn("bkt", expr("n_chars div 100")),
      Seq("lang"), "bkt", Seq("n_chars", "doc_id"), "w", "cum")
      .where(col("w") > 0)
    val tot = t.groupBy(col("lang")).agg(sum(col("w")).as("wtot"))
    val ps = s.range(1)
      .select(explode(array(lit(250L), lit(500L), lit(750L))).as("p_milli"))
    cum.join(broadcast(tot), "lang")
      .crossJoin(broadcast(ps))
      .withColumn("thr", expr("(p_milli * wtot + 999) div 1000"))
      .where(col("cum") >= col("thr") && col("cum") - col("w") < col("thr"))
      .select(col("lang"), col("p_milli"), col("n_chars"), col("wtot"))
      .orderBy(col("lang"), col("p_milli"))
  }

  /** Corpus-trained bigram language-model fluency score per document:
    * train P(w2|w1) = c(w1,w2) / c(w1,·) on the corpus itself (both
    * counts from ONE adjacent-pair explode — c(w1,·) sums only pairs,
    * so the denominator is "tokens with a successor", the exact LM
    * normalizer), then score each document by the mean of its pairs'
    * floored milli conditional probabilities. The statistical shape of
    * perplexity-based quality filtering with every step in exact
    * integer space (mean-of-floored-milli rather than a float geometric
    * mean — monotone in the same signal, engine-portable). Cost: the
    * pair explode (the mass a tokenize pass already handles), two
    * vocabulary-scale count aggregations, and two equi-joins of the
    * pair stream against those count tables; numerators promote to
    * decimal/HUGEINT before the x1000 so corpus-scale counts cannot
    * wrap.
    */
  /** The corpus doc-level bigram table ((doc_id, w1, w2), one row per
    * adjacent token pair), MATERIALIZED once per (JVM, sf): q109's
    * plan read its pairs subtree THREE times (the n2/n1 count branches
    * plus the probe side — three corpus tokenize+explode passes inlined
    * by Catalyst), and q57's bigram branch is the same explode. Both
    * now read the parquet table; q57's unigram branch keeps its own
    * single tokenize (unigram counts include one-token docs the bigram
    * table by construction cannot carry).
    */
  private[graft] def docBigramsTable(s: SparkSession, d: String): DataFrame = {
    val path = ScratchRoot.jvm("bigrams", d)
    ScratchRoot.once(path) {
      Tables.documents(s, d)
        .select(col("doc_id"), text.normalizedTokens(col("text")).as("toks"))
        .where(size(col("toks")) >= 2)
        .select(col("doc_id"), explode(expr(
          "transform(sequence(0, size(toks)-2), i -> struct(toks[i] AS w1, toks[i+1] AS w2))")).as("p"))
        .select(col("doc_id"), col("p.w1").as("w1"), col("p.w2").as("w2"))
        .write.mode("overwrite").parquet(path)
    }
    s.read.parquet(path)
  }

  private def q109(s: SparkSession, d: String): DataFrame = {
    val pairs = docBigramsTable(s, d)
    val c2 = pairs.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("n2"))
    val c1 = pairs.groupBy(col("w1")).agg(count(lit(1)).as("n1"))
    pairs.join(c2, Seq("w1", "w2")).join(c1, Seq("w1"))
      .select(col("doc_id"),
        expr("(CAST(1000 AS DECIMAL(38,0)) * n2) div n1").as("p_milli"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_pairs"),
        expr("sum(p_milli) div count(1)").as("fluency_milli"))
      .orderBy(col("doc_id"))
  }

  /** Per-document token-distribution entropy in integer milli-nats —
    * the lexical-diversity quality signal (low entropy = repetitive/
    * templated text; complements q81's repetition ratios with the
    * information-theoretic form). Exact-portable spelling: H = ln(n) -
    * (1/n)*sum(c*ln(c)) is quantized PER TERM as floor(1000*ln(k)) on
    * integer k (deterministic on both engines — the q40 idf precedent),
    * so the aggregation sums exact integers in any order; no float ever
    * crosses the shuffle. Cost: the token-count aggregation the text
    * family already pays, then a per-doc integer fold.
    */
  private def q112(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id"), explode(text.normalizedTokens(col("text"))).as("word"))
      .groupBy(col("doc_id"), col("word"))
      .agg(count(lit(1)).as("c"))
      .groupBy(col("doc_id"))
      .agg(sum(col("c")).as("n"),
        sum(col("c") * floor(lit(1000) * log(col("c"))).cast("long")).as("s"))
      .select(col("doc_id"), col("n"),
        (floor(lit(1000) * log(col("n"))).cast("long")
          - expr("s div n")).as("entropy_milli"))
      .orderBy(col("doc_id"))

  /** Chi-square contingency cells for lang x source independence — the
    * categorical drift test a multi-source ingest runs to catch a
    * source's language mix shifting. All counts (observed, marginals,
    * total) are exact integers; each cell emits its expected count in
    * exact integer milli and its chi-square contribution through the
    * identical IEEE-double spelling on both engines (the q54 recipe —
    * (o*N - r*c)^2 / (r*c*N), operands decimal/HUGEINT-promoted before
    * multiplying). Contributions are PER CELL — no cross-cell float sum
    * ever happens in-engine, so no accumulation-order drift; the
    * |langs|x|sources| cell table is what a drift monitor thresholds.
    */
  private def q114(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val o = docs.groupBy(col("lang"), col("source")).agg(count(lit(1)).as("o"))
    val r = docs.groupBy(col("lang")).agg(count(lit(1)).as("rl"))
    val c = docs.groupBy(col("source")).agg(count(lit(1)).as("cs"))
    val n = docs.agg(count(lit(1)).as("N"))
    o.join(broadcast(r), "lang").join(broadcast(c), "source")
      .crossJoin(broadcast(n))
      .withColumn("e_milli",
        expr("(CAST(1000 AS DECIMAL(38,0)) * rl * cs) div N"))
      .withColumn("chi_cell", expr(
        "CAST(CAST(o AS DECIMAL(38,0)) * N - CAST(rl AS DECIMAL(38,0)) * cs AS DOUBLE)" +
          " * CAST(CAST(o AS DECIMAL(38,0)) * N - CAST(rl AS DECIMAL(38,0)) * cs AS DOUBLE)" +
          " / (CAST(CAST(rl AS DECIMAL(38,0)) * cs AS DOUBLE) * CAST(N AS DOUBLE))"))
      .select(col("lang"), col("source"), col("o"), col("e_milli"), col("chi_cell"))
      .orderBy(col("lang"), col("source"))
  }

  /** Robust per-language dispersion — exact median and MAD (median
    * absolute deviation) of document length — the outlier-resistant
    * spread statistic behind robust z-score filtering (q62's mean/std
    * breaks under the heavy document-length tail; median/MAD does not).
    * Exactness WITHOUT a per-group sort: lengths first collapse to the
    * VALUE-GRAIN table (lang, n_chars, count) — one map-side-combinable
    * shuffle, after which everything runs over the compressed domain —
    * then each median is the unique crossing row (cum >= T > cum - cnt,
    * T = (n+1) div 2) of a running count riding the [[graft.operators
    * .PrefixSum]] banded decomposition, so no single reducer ever sees a
    * language's whole value list. The deviation table reuses the SAME
    * value-grain counts re-keyed by |n_chars - median| — the second
    * median costs a vocabulary-scale regroup, not a corpus pass.
    */
  private def q120(s: SparkSession, d: String): DataFrame = {
    import graft.operators.PrefixSum
    val vc = Tables.documents(s, d)
      .groupBy(col("lang"), col("n_chars")).agg(count(lit(1)).as("cnt"))
      .localCheckpoint() // feeds the median pass and the deviation regroup
    val tot = vc.groupBy(col("lang")).agg(sum(col("cnt")).as("n"))
    def crossing(cum: DataFrame, valueCol: String, out: String): DataFrame =
      cum.join(broadcast(tot), "lang")
        .withColumn("thr", expr("(n + 1) div 2"))
        .where(col("cum") >= col("thr") && col("cum") - col("cnt") < col("thr"))
        .select(col("lang"), col(valueCol).as(out))
    val med = crossing(
      PrefixSum.withRunningTotal(vc.withColumn("bkt", expr("n_chars div 100")),
        Seq("lang"), "bkt", Seq("n_chars"), "cnt", "cum"),
      "n_chars", "median_chars")
    val dc = vc.join(broadcast(med), "lang")
      .select(col("lang"), abs(col("n_chars") - col("median_chars")).as("dev"), col("cnt"))
      .groupBy(col("lang"), col("dev")).agg(sum(col("cnt")).as("cnt"))
    val mad = crossing(
      PrefixSum.withRunningTotal(dc.withColumn("bkt", expr("dev div 100")),
        Seq("lang"), "bkt", Seq("dev"), "cnt", "cum"),
      "dev", "mad_chars")
    med.join(mad, "lang").join(tot, "lang")
      .select(col("lang"), col("n").as("n_docs"), col("median_chars"), col("mad_chars"))
      .orderBy(col("lang"))
  }

  /** Bin width (chars) for q136's length histogram: value grain, so the
    * binned CDF tables are bounded by max(n_chars)/width, never by the
    * corpus.
    */
  val driftBinChars = 50L

  /** Per-source distribution drift — a Kolmogorov–Smirnov-style maximum
    * CDF gap between each source's document-length distribution and the
    * corpus's, in exact integer milli (both CDFs are floor(1000·cum/n),
    * so the statistic hashes identically across engines). The ingest
    * health monitor: a crawler that started truncating pages or a
    * source that switched formats shows up as a drift spike long before
    * any downstream metric moves. All cumulative sums run over the
    * binned histogram grid (sources × length-bins — value grain,
    * bounded), never over document rows; the only corpus-sized work is
    * one map-side-combinable (source, bin) count.
    */
  private def q136(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val perSrc = Tables.documents(s, d)
      .select(col("source"), expr(s"n_chars div $driftBinChars").as("bin"))
      .groupBy(col("source"), col("bin")).agg(count(lit(1)).as("c"))
    val srcTot = perSrc.groupBy(col("source")).agg(sum(col("c")).as("n_docs"))
    val binTot = perSrc.groupBy(col("bin")).agg(sum(col("c")).as("cb"))
    val nAll = binTot.agg(sum(col("cb")).as("n_all"))
    val grid = srcTot.crossJoin(broadcast(binTot)).crossJoin(broadcast(nAll))
      .join(perSrc, Seq("source", "bin"), "left")
      .withColumn("c", coalesce(col("c"), lit(0L)))
    val w = Window.partitionBy(col("source")).orderBy(col("bin"))
    grid
      .withColumn("cum_src", sum(col("c")).over(w))
      .withColumn("cum_all", sum(col("cb")).over(w))
      .withColumn("gap", abs(
        expr("(1000 * cum_src) div n_docs") - expr("(1000 * cum_all) div n_all")))
      .groupBy(col("source"), col("n_docs"))
      .agg(max(col("gap")).as("ks_milli"))
      .select(col("source"), col("n_docs"), col("ks_milli"))
      .orderBy(col("source"))
  }

  val defs: Seq[QueryDef] = Seq(
    QueryDef("q136_source_drift", q136, Some(
      s"""WITH ps AS (SELECT source, n_chars // $driftBinChars AS bin, count(*) AS c
         |            FROM documents GROUP BY 1, 2),
         |st AS (SELECT source, CAST(sum(c) AS BIGINT) AS n_docs FROM ps GROUP BY 1),
         |bt AS (SELECT bin, CAST(sum(c) AS BIGINT) AS cb FROM ps GROUP BY 1),
         |na AS (SELECT CAST(sum(cb) AS BIGINT) AS n_all FROM bt),
         |grid AS (SELECT st.source, st.n_docs, bt.bin, bt.cb, na.n_all,
         |           coalesce(ps.c, 0) AS c
         |         FROM st CROSS JOIN bt CROSS JOIN na
         |         LEFT JOIN ps ON ps.source = st.source AND ps.bin = bt.bin),
         |cum AS (SELECT source, n_docs,
         |          abs((1000 * sum(c) OVER (PARTITION BY source ORDER BY bin)) // n_docs
         |            - (1000 * sum(cb) OVER (PARTITION BY source ORDER BY bin)) // n_all) AS gap
         |        FROM grid)
         |SELECT source, n_docs, CAST(max(gap) AS BIGINT) AS ks_milli
         |FROM cum GROUP BY 1, 2 ORDER BY source""".stripMargin)),
    QueryDef("q120_robust_dispersion", q120, Some(
      """WITH vc AS (SELECT lang, n_chars, count(*) AS cnt FROM documents GROUP BY lang, n_chars),
        |tot AS (SELECT lang, CAST(sum(cnt) AS BIGINT) AS n FROM vc GROUP BY lang),
        |c1 AS (SELECT *, sum(cnt) OVER (PARTITION BY lang ORDER BY n_chars
        |         ROWS UNBOUNDED PRECEDING) AS cum FROM vc),
        |med AS (SELECT c1.lang, c1.n_chars AS median_chars
        |        FROM c1 JOIN tot USING (lang)
        |        WHERE cum >= (n + 1) // 2 AND cum - cnt < (n + 1) // 2),
        |dc AS (SELECT vc.lang, abs(vc.n_chars - m.median_chars) AS dev,
        |         CAST(sum(cnt) AS BIGINT) AS cnt
        |       FROM vc JOIN med m ON vc.lang = m.lang GROUP BY vc.lang, dev),
        |c2 AS (SELECT *, sum(cnt) OVER (PARTITION BY lang ORDER BY dev
        |         ROWS UNBOUNDED PRECEDING) AS cum FROM dc),
        |mad AS (SELECT c2.lang, c2.dev AS mad_chars FROM c2 JOIN tot USING (lang)
        |        WHERE cum >= (n + 1) // 2 AND cum - cnt < (n + 1) // 2)
        |SELECT m.lang, tot.n AS n_docs, m.median_chars, mad.mad_chars
        |FROM med m JOIN mad USING (lang) JOIN tot USING (lang)
        |ORDER BY lang""".stripMargin)),
    QueryDef("q114_chi2_contingency", q114, Some(
      """WITH o AS (SELECT lang, source, count(*) AS o FROM documents GROUP BY lang, source),
        |r AS (SELECT lang, count(*) AS rl FROM documents GROUP BY lang),
        |c AS (SELECT source, count(*) AS cs FROM documents GROUP BY source),
        |n AS (SELECT count(*) AS N FROM documents)
        |SELECT o.lang, o.source, CAST(o.o AS BIGINT) AS o,
        |  CAST((CAST(1000 AS HUGEINT) * rl * cs) // N AS BIGINT) AS e_milli,
        |  CAST(CAST(o.o AS HUGEINT) * N - CAST(rl AS HUGEINT) * cs AS DOUBLE)
        |    * CAST(CAST(o.o AS HUGEINT) * N - CAST(rl AS HUGEINT) * cs AS DOUBLE)
        |    / (CAST(CAST(rl AS HUGEINT) * cs AS DOUBLE) * CAST(N AS DOUBLE)) AS chi_cell
        |FROM o JOIN r USING (lang) JOIN c USING (source) CROSS JOIN n
        |ORDER BY lang, source""".stripMargin)),
    QueryDef("q112_token_entropy", q112, Some(
      s"""WITH toks AS (SELECT doc_id, unnest($tokensSql) AS word FROM documents),
         |c AS (SELECT doc_id, word, count(*) AS c FROM toks GROUP BY doc_id, word),
         |a AS (SELECT doc_id, sum(c) AS n,
         |        sum(c * CAST(floor(1000 * ln(c)) AS BIGINT)) AS s
         |      FROM c GROUP BY doc_id)
         |SELECT doc_id, CAST(n AS BIGINT) AS n,
         |  CAST(CAST(floor(1000 * ln(n)) AS BIGINT) - s // n AS BIGINT) AS entropy_milli
         |FROM a ORDER BY doc_id""".stripMargin)),
    QueryDef("q109_bigram_fluency", q109, Some(
      s"""WITH t AS (SELECT doc_id, $tokensSql AS toks FROM documents),
         |pr AS (SELECT doc_id, unnest(list_transform(range(1, len(toks)),
         |         i -> {'w1': toks[i], 'w2': toks[i+1]})) AS p
         |       FROM t WHERE len(toks) >= 2),
         |p2 AS (SELECT doc_id, p.w1 AS w1, p.w2 AS w2 FROM pr),
         |c2 AS (SELECT w1, w2, count(*) AS n2 FROM p2 GROUP BY w1, w2),
         |c1 AS (SELECT w1, count(*) AS n1 FROM p2 GROUP BY w1),
         |sc AS (SELECT doc_id,
         |         CAST((CAST(1000 AS HUGEINT) * n2) // n1 AS BIGINT) AS p_milli
         |       FROM p2 JOIN c2 USING (w1, w2) JOIN c1 USING (w1))
         |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_pairs,
         |  CAST(sum(p_milli) // count(*) AS BIGINT) AS fluency_milli
         |FROM sc GROUP BY doc_id ORDER BY doc_id""".stripMargin)),
    QueryDef("q108_weighted_percentiles", q108, Some(
      s"""WITH t AS (SELECT doc_id, lang, n_chars, len($tokensSql) AS w FROM documents),
         |c AS (SELECT *, sum(w) OVER (PARTITION BY lang ORDER BY n_chars, doc_id
         |        ROWS UNBOUNDED PRECEDING) AS cum FROM t),
         |tot AS (SELECT lang, sum(w) AS wtot FROM t GROUP BY lang),
         |p AS (SELECT unnest([250, 500, 750]) AS p_milli),
         |x AS (SELECT c.lang, p.p_milli, c.n_chars, c.w, c.cum, tot.wtot,
         |        (p.p_milli * tot.wtot + 999) // 1000 AS thr
         |      FROM c JOIN tot ON c.lang = tot.lang CROSS JOIN p
         |      WHERE c.w > 0)
         |SELECT lang, CAST(p_milli AS BIGINT) AS p_milli, n_chars,
         |  CAST(wtot AS BIGINT) AS wtot
         |FROM x WHERE cum >= thr AND cum - w < thr
         |ORDER BY lang, p_milli""".stripMargin)),
    QueryDef("q94_rare_token_ratio", q94, Some(
      s"""WITH w AS (SELECT doc_id, unnest($tokensSql) AS word FROM documents),
         |df AS (SELECT word, count(DISTINCT doc_id) AS df FROM w GROUP BY word),
         |j AS (SELECT w.doc_id, df.df FROM w JOIN df USING (word)),
         |a AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
         |        CAST(coalesce(sum(CASE WHEN df = 1 THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_hapax,
         |        CAST(coalesce(sum(CASE WHEN df >= $vocabMinDf THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_vocab
         |      FROM j GROUP BY doc_id)
         |SELECT doc_id, n_tokens, n_hapax, n_vocab,
         |  CAST(floor(1000 * n_hapax / n_tokens) AS BIGINT) AS hapax_milli,
         |  CAST(floor(1000 * n_vocab / n_tokens) AS BIGINT) AS vocab_milli
         |FROM a ORDER BY doc_id""".stripMargin)),
    QueryDef("q81_repetition", q81, Some(
      s"""WITH t AS (SELECT doc_id, $tokensSql AS toks FROM documents),
         |b AS (SELECT doc_id, len(toks) AS n_tok, len(list_distinct(toks)) AS n_dtok,
         |        CASE WHEN len(toks) >= 2 THEN len(list_distinct(
         |          list_transform(range(1, len(toks)), i -> toks[i] || ' ' || toks[i+1])))
         |        ELSE 0 END AS n_dbg
         |      FROM t WHERE len(toks) >= 1)
         |SELECT doc_id, n_tok,
         |(1000 * (n_tok - n_dtok)) // n_tok AS tok_rep_milli,
         |greatest(n_tok - 1, 0) AS n_bg,
         |CASE WHEN n_tok - 1 <= 0 THEN CAST(0 AS BIGINT)
         |     ELSE (1000 * ((n_tok - 1) - n_dbg)) // (n_tok - 1) END AS bigram_rep_milli
         |FROM b ORDER BY doc_id""".stripMargin)),
    QueryDef("q80_textrank", q80, Some(textrankSql)),
    QueryDef("q69_zipf_coverage", q69, Some(
      s"""WITH wds AS (SELECT doc_id, unnest($tokensSql) AS word FROM documents),
         |c AS (SELECT word, count(*) AS n FROM wds GROUP BY word),
         |t AS (SELECT CAST(sum(n) AS BIGINT) AS n_total FROM c),
         |r AS (SELECT word, n, row_number() OVER (ORDER BY n DESC, word) AS rank,
         |        CAST(sum(n) OVER (ORDER BY n DESC, word ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
         |      FROM c)
         |SELECT rank, word, n, CAST((1000 * cum) // n_total AS BIGINT) AS cum_milli
         |FROM r CROSS JOIN t ORDER BY rank""".stripMargin)),
    QueryDef("q19_lang_id", q19, Some {
      val hits = langs.map(l => s"${hitsSql(l)} AS hits_$l").mkString(", ")
      val m = langs.map(l => s"hits_$l").mkString("greatest(", ", ", ")")
      val cases = langs.map(l => s"WHEN hits_$l = m AND m > 0 THEN '$l'").mkString(" ")
      s"""WITH scored AS (SELECT doc_id, lang AS labeled_lang, $hits FROM documents),
         |p AS (SELECT *, $m AS m FROM scored)
         |SELECT doc_id, labeled_lang, CASE $cases ELSE 'und' END AS pred_lang,
         |hits_en, hits_de,
         |CAST(CASE $cases ELSE 'und' END = labeled_lang AS BIGINT) AS agrees
         |FROM p ORDER BY doc_id""".stripMargin
    }),
    QueryDef("q20_quality_score", q20, Some {
      val en = textstats.stopwords("en").map(w => s"'$w'").mkString("[", ", ", "]")
      s"""WITH base AS (SELECT doc_id, length(text) AS n_chars_text,
         |  len($tokensSql) AS n_tokens,
         |  length(regexp_replace(text, '[A-Za-z0-9 ]', '', 'g')) AS n_punct,
         |  len(list_filter($tokensSql, t -> list_contains($en, t))) AS n_stopwords,
         |  length(array_to_string($tokensSql, '')) AS token_chars
         |  FROM documents),
         |r AS (SELECT *,
         |  floor(1000 * n_stopwords / greatest(n_tokens, 1)) AS stopword_milli,
         |  floor(1000 * n_punct / greatest(n_chars_text, 1)) AS punct_milli
         |  FROM base)
         |SELECT doc_id, n_chars_text, n_tokens, n_punct, n_stopwords, token_chars,
         |  floor(100 * token_chars / greatest(n_tokens, 1)) / 100.0 AS avg_token_len,
         |  stopword_milli / 1000.0 AS stopword_ratio,
         |  (1000 - least(stopword_milli * 2, 500) - least(punct_milli, 500)) / 1000.0 AS quality
         |FROM r ORDER BY doc_id""".stripMargin
    }),
    QueryDef("q21_token_stats", q21, Some(
      s"""SELECT doc_id,
         |len(list_filter(regexp_split_to_array(text, '\\s+'), t -> len(t) > 0)) AS ws_tokens,
         |len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+')) AS shape_tokens,
         |length(text) AS n_chars_text, n_chars
         |FROM documents ORDER BY doc_id""".stripMargin)),
    QueryDef("q22_fingerprint", q22, Some(
      s"""WITH n AS (SELECT doc_id, text, array_to_string($tokensSql, ' ') AS norm FROM documents)
         |SELECT doc_id, md5(text) AS md5_raw, md5(norm) AS md5_norm,
         |CASE WHEN length(norm) = 0 THEN 0 ELSE
         |  list_reduce(list_transform(string_split(norm, ''), c -> CAST(ascii(c) AS BIGINT)),
         |              (a, b) -> (a * 31 + b) % 1000000007) END AS roll_hash
         |FROM n ORDER BY doc_id""".stripMargin)),
  )
}
