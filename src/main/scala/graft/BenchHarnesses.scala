package graft

/** Slope harnesses (not part of the query/library surface, but
  * product-adjacent tooling: their output is the committed, build-gated
  * SLOPES.json). Each `object ... { def main }` below is one instrument:
  * [[ScaleSlope]] and the per-store *Slope mains feed SlopesSpec's
  * asserted bounds. They time `count()`, as SLOPES.json was measured.
  * A/B comparisons and per-layer breakdowns live in `perfbench/`.
  *
  * CLOSED (round 5): q79 (bucketed as-of) under VERIFY's exact
  * conditions — local[4], shufflePartitions=4, coalesce(1) parquet
  * write — after the r4 Verify run jumped to ~10 minutes when q79 was
  * added. Measured 2026-08-12: q35_count 4.71s, q79_count 4.53s,
  * q35_verify 2.11s, q79_verify_1 2.14s, q79_verify_2 1.26s — q79 costs
  * the SAME as the plain q35 under Verify's config; neither the
  * localCheckpoint nor the null-safe joins add anything material. The
  * r4 wall-time jump was machine-level load (the same fleet-wide
  * 1.6-1.9x multiplier the r4 verdict documented on untouched queries),
  * not q79.
  *
  * CLOSED (round 5): q110 profiler fused-vs-split A/B at sf0.1,
  * local[32] — fused single-aggregation spelling (countDistinct +
  * min/max together -> keyed SortAggregate over the expanded stream)
  * benched 7.52 s; the split two-pass spelling measured 5.38 s cold /
  * 1.20 s warm on the same corpus (cold pays this JVM's first-codegen;
  * the bench, which warms up first, sees the warm number). The split
  * is the shipped shape.
  */
/** CLOSED (round 5): q101's 10.6 s bench / 15-16 s Scratch readings at
  * sf0.1 are machine load, not plan cost — a quiet-machine stage profile
  * (same JVM, local[32]) measured shingleSets 0.65 s (5000 docs),
  * prefixCandidates 4.45 s cold / 1.98 s warm (309,803 candidates), and
  * the FULL query 4.23 s including the exact array_intersect verify of
  * all 310k candidates. The loaded-run multiplier (~2.5x) matches the
  * bench's own calibration drift (0.33 -> 0.68 s on the q01 probe in the
  * same run). No structural fix needed; the candidate count is the real
  * cost driver and is already 144x below all-pairs (DedupSpec).
  */
/** Scaling-slope harness: measures the 1x -> Nx wall-time ratio of
  * document-corpus queries in ONE JVM (the only comparison the machine-
  * load swings allow). No sf1 fixture exists in /root/testdata, so the
  * Nx corpus is synthesized once per run: N copies of documents.parquet
  * unioned with doc_ids offset by copy and text passed through a
  * per-copy alphabet rotation (`translate` — a letter bijection, so
  * token-count/length distributions are preserved while every token,
  * shingle, and hash differs across copies: genuinely 10x the data and
  * 10x the vocabulary, NOT ten near-duplicate copies that would
  * adversarially quadratic-ize the dedup families).
  *
  * Run: SPARK_GRAFT_CPUS=32 runMain graft.ScaleSlope <baseSfDir> <query...>
  * Prints one `SLOPE <query> <t1x> <tNx> <ratio>` line per query (warm
  * timings; cold runs discarded). Interpretation: the banded/salted/
  * equi-join paths should land near the data ratio adjusted for fixed
  * overheads (ratio <= ~N); anything clearly superlinear is a finding.
  *
  * MEASURED (round 6, sf0.1 base = 5,000 docs -> 50,000 docs = 10x
  * data AND 10x vocabulary, local[32], one JVM, warm timings,
  * calibration-free by construction):
  * {{{
  * query                     t(1x)   t(10x)  slope
  * q101_prefix_filter_join   3.67 s  13.87 s  3.78
  * q122_sorted_neighborhood  1.95 s   6.18 s  3.17
  * q93_span_dedup            2.20 s   5.16 s  2.34
  * q130_triangle_count       3.09 s   6.26 s  2.02
  * q115_bm25_topk            2.65 s   4.27 s  1.61
  * q116_dedup_keep_best      5.54 s   8.63 s  1.56
  * q51_dedup_components      5.62 s   7.68 s  1.37
  * q133_source_dup_matrix    3.41 s   4.14 s  1.22
  * q69_zipf_coverage         0.75 s   0.89 s  1.18
  * q64_corpus_sample         0.38 s   0.36 s  0.93
  * }}}
  * Every slope is SUBLINEAR in the 10x data ratio — at this scale the
  * heaviest queries are still dominated by fixed per-stage overheads
  * (scheduling, codegen'd stage launch, the 32-way shuffle floor), and
  * the data-proportional parts (explode/groupBy/equi-join mass) grow
  * linearly, never quadratically. Notably q101 (the exact PPJoin, the
  * registry's most expensive query) lands at 3.78 — its candidate
  * equi-join grows with corpus size, not with the pair space, exactly
  * the claim the prefix filter makes. q93's new partial-agg+join shape
  * (this round's rewrite) slopes at 2.34. Nothing superlinear: no
  * finding.
  *
  * MEASURED (round 7, events table: sf0.1 base = 100,000 events ->
  * 1,000,000 = 10x events AND 10x users, timestamps jittered so the
  * global timeline is 10x denser; orders scaled alongside for the
  * as-of probe; same one-JVM warm-timing discipline):
  * {{{
  * query                     t(1x)   t(10x)  slope
  * q145_peak_concurrency     2.19 s   3.70 s  1.69
  * q141_conversion_latency   1.39 s   1.87 s  1.35
  * q79_asof_bucketed         1.54 s   2.09 s  1.35
  * q103_markov_transitions   0.57 s   0.76 s  1.33
  * q144_top_paths            0.72 s   0.78 s  1.09
  * q32_session_windows       0.74 s   0.63 s  0.85
  * }}}
  * All sublinear. The global sweep-line q145 is the steepest (its
  * single ordered timeline is 10x denser — the banded PrefixSum absorbs
  * it at 1.69); the per-user windows (q32/q144) barely move because 10x
  * USERS at constant per-user history adds partitions, not partition
  * depth — exactly the partitioning story a 1000-executor cluster
  * needs. Nothing superlinear: no finding.
  *
  * MEASURED (round 7, curation/semantic/ANN families — the end-to-end
  * curation capstone and the embedding-side queries had no slope
  * evidence; embeddings twin added to the synthesis for this run,
  * vec_ids offset in lockstep with doc_ids):
  * {{{
  * query                     t(1x)   t(10x)  slope
  * q60_sparse_topk           1.78 s   4.82 s  2.71
  * q25_lsh_candidates        1.55 s   2.09 s  1.35
  * q84_semantic_dedup        1.84 s   2.12 s  1.15
  * q46_curation              3.10 s   3.47 s  1.12
  * q143_curation_attribution 1.28 s   1.36 s  1.06
  * q29_ann_bruteforce        0.41 s   0.41 s  0.98
  * }}}
  * All sublinear. q60 is the steepest (2.71): its df-pruned,
  * impact-capped posting lists grow with the corpus while the per-query
  * candidate budget stays fixed — still well under the 10x data ratio.
  * The fused curation capstone q46 (two corpus passes over 10x the
  * documents) and its attribution twin q143 land near-flat — per-doc
  * feature work parallelizes into more partitions, not deeper ones. q29
  * is overhead-dominated at this vector count (50k x 128 dims is far
  * below the stage-launch floor). Nothing superlinear: no finding.
  *
  * MEASURED (round 7, retrieval family — the reference workload itself
  * at 10x corpus and 10x vocabulary):
  * {{{
  * query                     t(1x)   t(10x)  slope
  * q40_tfidf_top_terms       2.10 s   3.81 s  1.81
  * q115_bm25_topk            2.67 s   3.13 s  1.17
  * q18_word_doc_freq         0.50 s   0.55 s  1.09
  * q17_inverted_index        0.59 s   0.58 s  0.99
  * }}}
  * The flagship inverted index is FLAT at 10x the corpus: its cost is
  * dominated by the per-word aggregate grain, and 10x the vocabulary
  * spreads over 10x the parallelism. TF-IDF's 1.81 carries the extra
  * per-document join; BM25 rides q60's candidate caps. Nothing
  * superlinear: no finding.
  *
  * MEASURED (round 9, storage-layout family — lineitem twin added to
  * the synthesis: orderkeys shift with the scaled orders, all other
  * columns carried, so each copy's boundary plan / delete band /
  * bucket spread is preserved at 10x rows, 600k -> 6M):
  * {{{
  * query                     t(1x)   t(10x)  slope
  * q159_layout_time_travel   1.00 s   2.24 s  2.24
  * q157_bucketed_delete      1.60 s   2.79 s  1.74
  * q165_major_compact        1.50 s   2.42 s  1.61
  * q151_layout_delete        3.85 s   5.36 s  1.39
  * q158_compaction_audit     1.58 s   1.93 s  1.22
  * q150_range_layout_scan    0.25 s   0.30 s  1.21
  * }}}
  * All sublinear (warm steady state — the cold pass pays each layout
  * write). q159 is the steepest at 2.24: AS-OF reads four versions,
  * each over 10x the bytes, and still lands at a quarter of the data
  * ratio; the pruned band scan (q150) and the audit (q158, bounded
  * pid-grain compute) barely move. Nothing superlinear: no finding.
  */
object ScaleSlope {
  def main(args: Array[String]): Unit = {
    val baseDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val copies = sys.env.getOrElse("SPARK_GRAFT_SCALE_COPIES", "10").toInt
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = GraftSession
      .builder(appName = "graft-scale-slope", master = Some(s"local[$cpus]"),
        shufflePartitions = cpus.toInt)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import org.apache.spark.sql.functions._

    val scaledDir = ScratchRoot.jvm(s"scale${copies}x")
    val docs = spark.read.parquet(s"$baseDir/documents.parquet")
    val maxId = docs.agg(max(col("doc_id"))).first().getLong(0) + 1
    val alpha = "abcdefghijklmnopqrstuvwxyz"
    (0 until copies)
      .map { k =>
        val rot = alpha.drop(k % 26) + alpha.take(k % 26)
        docs
          .withColumn("doc_id", col("doc_id") + lit(k * maxId))
          .withColumn("text", translate(col("text"), alpha, rot))
      }
      .reduce(_ unionByName _)
      .write.mode("overwrite").parquet(s"$scaledDir/documents.parquet")
    println(s"SCALED corpus: ${spark.read.parquet(s"$scaledDir/documents.parquet").count()}" +
      s" docs at $scaledDir (base ${docs.count()})")

    // Embeddings twin: doc_ids offset in lockstep with the documents
    // copies, vectors carried as-is — cross-copy docs then have identical
    // embeddings but disjoint text/shingles, so the semantic-dedup and
    // ANN families see 10x corpus mass with the base's geometry.
    val emb = spark.read.parquet(s"$baseDir/embeddings.parquet")
    (0 until copies)
      .map(k => emb.withColumn("vec_id", col("vec_id") + lit(k * maxId)))
      .reduce(_ unionByName _)
      .write.mode("overwrite").parquet(s"$scaledDir/embeddings.parquet")

    // Events-table twin (+ orders, which the as-of queries probe against):
    // per copy, user_ids/custkeys shift by ONE shared offset (copy-k users
    // are new users whose per-user timelines mirror the base), event/order
    // ids shift by their own maxes, and copy-k>0 timestamps jitter by a
    // deterministic 0-60 s hash so the Nx global timeline is Nx DENSER
    // (sweep-line/sessionization stress), not N interleaved exact-tie
    // replicas. Copy 0 is the base itself, so the 1x leg measures real
    // base data. `ts` is nanos-as-LONG on the Spark side (Tables.events
    // normalizes the parquet timestamp), so the jitter is plain addition.
    val events = Tables.events(spark, baseDir)
    val orders = spark.read.parquet(s"$baseDir/orders.parquet")
    val maxEv = events.agg(max(col("event_id"))).first().getLong(0) + 1
    val maxU = math.max(
      events.agg(max(col("user_id"))).first().getLong(0),
      orders.agg(max(col("o_custkey"))).first().getLong(0)) + 1
    val maxOk = orders.agg(max(col("o_orderkey"))).first().getLong(0) + 1
    (0 until copies).map { k =>
      events
        .withColumn("event_id", col("event_id") + lit(k * maxEv))
        .withColumn("user_id", col("user_id") + lit(k * maxU))
        .withColumn("ts", col("ts") +
          (if (k == 0) lit(0L) else pmod(xxhash64(col("event_id")), lit(60000000000L))))
    }.reduce(_ unionByName _)
      .write.mode("overwrite").parquet(s"$scaledDir/events.parquet")
    (0 until copies).map { k =>
      orders
        .withColumn("o_orderkey", col("o_orderkey") + lit(k * maxOk))
        .withColumn("o_custkey", col("o_custkey") + lit(k * maxU))
    }.reduce(_ unionByName _)
      .write.mode("overwrite").parquet(s"$scaledDir/orders.parquet")
    println(s"SCALED events: ${spark.read.parquet(s"$scaledDir/events.parquet").count()}" +
      s" rows (base ${events.count()}); orders scaled alongside")

    // Lineitem twin (the storage-layout family's fact table): orderkeys
    // shift in lockstep with the scaled orders (FK-consistent), every
    // other column carried as-is — so the value distribution (and with
    // it each copy's range-boundary plan, delete band, and bucketed
    // key spread) is preserved while the layouts hold 10x the rows.
    val li = spark.read.parquet(s"$baseDir/lineitem.parquet")
    (0 until copies).map(k =>
      li.withColumn("l_orderkey", col("l_orderkey") + lit(k * maxOk)))
      .reduce(_ unionByName _)
      .write.mode("overwrite").parquet(s"$scaledDir/lineitem.parquet")
    println(s"SCALED lineitem: ${spark.read.parquet(s"$scaledDir/lineitem.parquet").count()}" +
      s" rows (base ${li.count()})")

    def warmSec(q: String, dir: String): Double = {
      SparkEntry.queries(q)(spark, dir).count() // cold: codegen/JIT, discarded
      spark.catalog.clearCache(); System.gc()
      val t0 = System.nanoTime()
      SparkEntry.queries(q)(spark, dir).count()
      val sec = (System.nanoTime() - t0) / 1e9
      spark.catalog.clearCache(); System.gc()
      sec
    }
    args.drop(1).foreach { q =>
      val t1 = warmSec(q, baseDir)
      val tN = warmSec(q, scaledDir)
      println(f"SLOPE $q $t1%.2f $tN%.2f ${tN / t1}%.2f")
      // Bound = the data ratio: a whole-query slope above it is
      // superlinear — the committed ledger makes that a build failure.
      Slopes.record("scale", q, t1, tN, bound = copies.toDouble)
    }
    spark.stop()
  }
}

/** Fixed-delta LSH mutation cost vs base-corpus size — the measurement
  * behind LshIndexStore's O(delta) claim: a FIXED 500-doc admit, a
  * FIXED 500-doc retract, and a compact are timed against a 1x and a
  * 10x base index (10x via ScaleSlope's alphabet-rotation copies, so
  * vocabulary scales with the corpus), with the head pair-table mass
  * as the explicit axis, against the ground-up rebuild a store-less
  * pipeline would pay per batch. Expectation: rebuild grows with the
  * corpus; admit/retract grow only with the delta and touched buckets
  * (round 9 segmented the pair table, so neither rewrites the
  * candidate-sized product); compact alone is live-state-proportional.
  *
  * MEASURED (sf0.1, local[32], warm pass 2, 2026-08-14, final round-9
  * layout: segmented pair table + bkt-partitioned base band state):
  * 1x = 5,000 docs / 73,214 pairs, 10x = 50,000 docs / 761,526 pairs
  * (10.4x the candidate mass):
  * {{{
  *           1x      10x     growth (vs 10x data+pairs)
  * admit     2.16 s  2.27 s  1.05x  (flat: delta+touched only)
  * retract   2.56 s  2.67 s  1.04x  (flat: removed+touched only)
  * compact   2.73 s  3.43 s  1.26x  (the fold — state-proportional op)
  * rebuild   1.84 s  2.97 s  1.61x  (per-batch corpus re-signature)
  * }}}
  * Mutations no longer track the index's product (1.04-1.05x across a
  * 10x corpus); the rebuild gap widens with every decade. The ~0.5 s
  * absolute admit floor vs the pre-partitioned layout is the 32-grain
  * state layout's partition-discovery overhead — the price of the
  * pruning mechanism, which at this grain count a 500-doc batch
  * (4,000 band keys hashing into all 32 grains) cannot yet exploit;
  * at deployment grain counts (thousands of state partitions, micro-
  * batch deltas touching a small fraction) the same mechanism prunes
  * the corpus-proportional base read to the touched grains.
  */
object LshAdmitSlope {
  def main(args: Array[String]): Unit = {
    val baseDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = GraftSession
      .builder(appName = "graft-lsh-admit-slope", master = Some(s"local[$cpus]"),
        shufflePartitions = cpus.toInt)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import org.apache.spark.sql.functions._
    import graft.operators.{Dedup, LshIndexStore}

    val docs = spark.read.parquet(s"$baseDir/documents.parquet")
    val maxId = docs.agg(max(col("doc_id"))).first().getLong(0) + 1
    val alpha = "abcdefghijklmnopqrstuvwxyz"
    def rotated(k: Int) = {
      val rot = alpha.drop(k % 26) + alpha.take(k % 26)
      docs.withColumn("doc_id", col("doc_id") + lit(k * maxId))
        .withColumn("text", translate(col("text"), alpha, rot))
    }
    // Fixed 500-doc delta, novel ids and a rotation no base copy uses.
    val delta = rotated(13).where(col("doc_id") % maxId < 500)
      .withColumn("doc_id", col("doc_id") + lit(100L * maxId))
      .localCheckpoint()
    def bands(df: org.apache.spark.sql.DataFrame) =
      Dedup.bandRows(Dedup.minhashSignatures(df, "doc_id", "text"), 1)
    def timed(body: => Unit): Double = {
      spark.catalog.clearCache(); System.gc()
      val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9
    }
    // Two passes per scale: pass 1 is JIT/codegen warmup (fresh state
    // dir each pass — admits mutate), pass 2 is the reported number.
    // Per scale the full mutation surface is timed — admit, retract
    // (fixed 500 base docs), compact (folding the 2-mutation chain) —
    // with the head pair-table mass reported as the explicit axis the
    // round-9 segmentation flattens admits against: through round 8 an
    // admit rewrote the candidate-sized pair table, so its cost grew
    // with pairs=; segmented, it writes O(delta + touched) regardless.
    val retractIds = docs.orderBy(col("doc_id")).limit(500).select(col("doc_id"))
      .localCheckpoint()
    val results = scala.collection.mutable.Map.empty[(Int, String), Double]
    Seq(1, 10).foreach { copies =>
      val corpus = (0 until copies).map(rotated).reduce(_ unionByName _).localCheckpoint()
      (1 to 2).foreach { pass =>
        val dir = java.nio.file.Files
          .createTempDirectory(s"graft-admit-$copies-$pass").toString + "/idx"
        val tInit = timed(LshIndexStore.init(spark, dir, bands(corpus)))
        val pairMass = LshIndexStore.pairs(spark, dir).count()
        val tAdmit = timed(LshIndexStore.admit(spark, dir, bands(delta)))
        val tRetract = timed(LshIndexStore.retract(spark, dir, retractIds))
        val tCompact = timed(LshIndexStore.compact(spark, dir))
        val tRebuild = timed {
          Dedup.lshCandidates(
            Dedup.minhashSignatures(corpus.unionByName(delta), "doc_id", "text")
              .localCheckpoint()).count()
          ()
        }
        if (pass == 2) {
          println(f"LSHADMIT ${copies}x docs=${corpus.count()} pairs=$pairMass " +
            f"init=$tInit%.2f admit=$tAdmit%.2f retract=$tRetract%.2f " +
            f"compact=$tCompact%.2f rebuild=$tRebuild%.2f ratio=${tRebuild / tAdmit}%.2f")
          results((copies, "admit")) = tAdmit
          results((copies, "retract")) = tRetract
          results((copies, "compact")) = tCompact
          results((copies, "rebuild")) = tRebuild
        }
      }
    }
    // The O(delta) claims, committed: a fixed-size mutation must stay
    // near-flat across a 10x corpus (bound 3.0 = generous headroom over
    // the measured ~1.05x); compact is state-proportional (bound = the
    // data ratio); rebuild is the unbounded baseline the store avoids.
    Slopes.record("lsh_admit", "admit", results((1, "admit")), results((10, "admit")), 3.0)
    Slopes.record("lsh_admit", "retract", results((1, "retract")), results((10, "retract")), 3.0)
    Slopes.record("lsh_admit", "compact", results((1, "compact")), results((10, "compact")), 10.0)
    Slopes.record("lsh_admit", "rebuild", results((1, "rebuild")), results((10, "rebuild")), 0.0)
    spark.stop()
  }
}

/** Metadata-scale evidence for the commit-log CHECKPOINT (q170): the
  * claim is that a long-lived table's log read goes from O(total
  * versions) file opens to O(1) checkpoint + O(commits since). This
  * harness drives METADATA-ONLY commits (the log layer is pure
  * metadata — no Spark session needed) to a given version count,
  * times `log()` before and after `checkpoint()`, and reports the
  * parse amortization directly.
  * Run: runMain graft.CkptSlope [versions] [reps]
  *
  * MEASURED (1,000 versions, 200 warm reps, local ext4, 2026-08-14):
  * per-version scan 10.9 ms/read vs checkpointed 5.4 ms/read — 2.0x.
  * The honest reading: on a LOCAL filesystem tiny-file opens are
  * cheap, so entry PARSING (identical either way) dominates and the
  * local ratio understates the win. The structural change is
  * 1,000 file opens + a directory listing per read collapsing to ONE
  * open + the post-checkpoint tail — on the object stores a 100 TB
  * deployment actually uses, each open is a metadata RPC
  * (listing + GET per commit file is exactly why real table formats
  * checkpoint), so the read cost goes from O(table age) RPCs, growing
  * without bound at any steady commit cadence (~2.9k versions/day at a
  * 30 s streaming ingest), to O(1) + commits-since-checkpoint.
  */
object CkptSlope {
  def main(args: Array[String]): Unit = {
    val versions = args.headOption.map(_.toInt).getOrElse(1000)
    val reps = args.drop(1).headOption.map(_.toInt).getOrElse(200)
    import graft.operators.VersionedLayout
    def build(n: Int): String = {
      val dir = java.nio.file.Files.createTempDirectory("graft-ckpt-slope").toString + "/t"
      (0 until n).foreach { v =>
        VersionedLayout.commit(dir, VersionedLayout.LogEntry(v, "noop", Nil, 0))
      }
      dir
    }
    def timeReads(dir: String, n: Int, label: String): Double = {
      (1 to 20).foreach(_ => VersionedLayout.log(dir)) // warm
      val t0 = System.nanoTime()
      (1 to reps).foreach(_ => require(VersionedLayout.log(dir).size == n))
      val ms = (System.nanoTime() - t0) / 1e6 / reps
      println(f"CKPTSLOPE $label versions=$n ms_per_read=$ms%.2f")
      ms
    }
    val dir = build(versions)
    val before = timeReads(dir, versions, "per-version-files")
    require(VersionedLayout.checkpoint(dir) == versions - 1)
    val after = timeReads(dir, versions, "checkpointed")
    println(f"CKPTSLOPE ratio=${before / after}%.1f x")
    // Committed claim 1: a checkpointed log read is never SLOWER than
    // the per-version scan it replaces (t1x = checkpointed, t10x =
    // per-version ms/read; ratio >= 1 is the win). bound = 0 EXEMPTS
    // this entry from SlopesSpec's generic ratio<=bound superlinearity
    // test (that gate is smaller-is-better-shaped; this row is a
    // bigger-is-better win ratio) — its teeth are SlopesSpec's
    // dedicated test: win ratio >= 10x AND checkpointed read <= 2 ms
    // absolute, over the recorded legs.
    Slopes.record("ckpt", "log_read_ms", after, before, bound = 0.0)
    // Committed claim 2 (round-10 verdict: the bound-0 rows left a
    // log-read regression free to hide): the CHECKPOINTED read's own
    // scaling across 10x the version count is BOUNDED — the immutable
    // checkpoint parses once into the process cache, so a read is a
    // directory listing + cache hit + zero tail, independent of how
    // many versions the checkpoint covers. Measured ~1.0x; bound 3.0
    // is machine-noise headroom — a regression that re-parses the
    // checkpoint per read (~10x here) fails the build.
    val dir10 = build(versions * 10)
    require(VersionedLayout.checkpoint(dir10) == versions * 10 - 1)
    val after10 = timeReads(dir10, versions * 10, "checkpointed-10x")
    println(f"CKPTSLOPE scale_ratio=${after10 / after}%.2f x at 10x versions")
    Slopes.record("ckpt", "log_read_scale", after, after10, bound = 3.0)
  }
}

/** Bloom-probe PLANNING cost vs table age (round 15): before the
  * checkpoint folds Bloom sidecars, planning a point probe on an
  * N-commit table reads N per-version sidecar files (plus the N-file
  * log scan); after it, ONE immutable consolidated file (cached like
  * the entry checkpoint) + the post-checkpoint tail. On the object
  * stores a 100 TB deployment uses each sidecar open is a metadata
  * RPC, so this is the same O(table age) -> O(1)+tail collapse the
  * log checkpoint already bought for entries, now for the skipping
  * metadata too. Probes a value present ONLY in the base write, so
  * every insert segment is Bloom-pruned and the measured cost is pure
  * planning (log + sidecar reads + plan assembly), not data.
  * Run: runMain graft.BloomProbeSlope [nCommits] [reps]
  *
  * MEASURED (local, 2026-08-16, n=30/300): pre-ckpt 300 commits
  * 155.7 ms/plan vs post-ckpt 96.4 ms — 1.6x win; post-ckpt scale
  * 30->300 commits 0.83x (FLAT). The residual ~96 ms is age-INDEPENDENT
  * plan assembly (parquet schema resolution of the surviving base
  * sources); the age-DEPENDENT term the consolidation removes is
  * ~0.2 ms/version of sidecar+entry file reads, which is exactly the
  * per-version metadata-RPC term that dominates on an object store.
  * The strong committed claim is therefore the SCALE row (post-ckpt
  * planning flat across 10x table age); the win row asserts direction.
  */
object BloomProbeSlope {
  def main(args: Array[String]): Unit = {
    val n = args.headOption.map(_.toInt).getOrElse(30)
    val reps = args.drop(1).headOption.map(_.toInt).getOrElse(40)
    val spark = GraftSession.local("graft-bloom-probe-slope")
    import org.apache.spark.sql.functions._
    import graft.operators.VersionedLayout
    val s0 = spark
    import s0.implicits._
    def shaped(ids: Seq[Long]) = ids.map(i => (i, i * 3)).toDF("row_id", "n")
      .select(pmod(col("row_id"), lit(4)).cast("int").as("pid"),
        col("row_id"), col("n"))
    def build(versions: Int): String = {
      val dir = java.nio.file.Files
        .createTempDirectory("graft-bloomslope").toString + "/t"
      VersionedLayout.writeBaseTable(spark, shaped(1L to 64L), dir,
        Seq("row_id"), bloomCols = Seq("n"))
      (1 to versions).foreach(v =>
        VersionedLayout.appendInsert(spark, dir, shaped(Seq(100000L + v))))
      dir
    }
    def planMs(dir: String, label: String): Double = {
      val head = VersionedLayout.currentVersion(dir)
      def plan() = VersionedLayout
        .readAsOfPoint(spark, dir, head, "n", 9L).queryExecution.logical
      (1 to 5).foreach(_ => plan())
      val t0 = System.nanoTime()
      (1 to reps).foreach(_ => plan())
      val ms = (System.nanoTime() - t0) / 1e6 / reps
      println(f"BLOOMPROBESLOPE $label ms_per_plan=$ms%.2f")
      ms
    }
    val d1 = build(n)
    planMs(d1, s"pre-ckpt-${n}")
    VersionedLayout.checkpoint(d1)
    val post1 = planMs(d1, s"post-ckpt-$n")
    val d10 = build(n * 10)
    val pre10 = planMs(d10, s"pre-ckpt-${n * 10}")
    VersionedLayout.checkpoint(d10)
    val post10 = planMs(d10, s"post-ckpt-${n * 10}")
    println(f"BLOOMPROBESLOPE win=${pre10 / post10}%.1fx scale=${post10 / post1}%.2fx")
    // Win row (bigger-is-better, bound 0 exempts it from the generic
    // gate; SlopesSpec's dedicated test asserts the direction): at 10x
    // table age the consolidated planning beats per-version sidecars.
    Slopes.record("ckpt", "bloom_probe_plan_ms", post10, pre10, bound = 0.0)
    // Scale row: the POST-checkpoint planning is ~flat across 10x the
    // covered versions (one cached parse, zero tail).
    Slopes.record("ckpt", "bloom_probe_plan_scale", post1, post10, bound = 3.0)
    spark.stop()
  }
}

/** Admit-slope harness for the IVF index store (the LshAdmitSlope
  * analog): against a 1x vs 10x embedding corpus, time init (train
  * write + full base assignment), a FIXED 500-vector admit, a fixed
  * 500-vector retract, compact, and the non-incremental alternative (a
  * ground-up re-assign + full snapshot write of corpus + delta). The
  * claim under test: admit/retract cost tracks the BATCH, never the
  * corpus, while the rebuild side grows with the corpus.
  * Run: SPARK_GRAFT_CPUS=32 runMain graft.IvfAdmitSlope <sfDir>
  *
  * MEASURED (sf0.1, local[32], warm pass of 2, 2026-08-14): 1x corpus
  * (2,000 vecs) init=0.53 s admit=0.20 retract=0.13 compact=0.85
  * rebuild=0.52 (2.7x the admit); 10x corpus (20,000 vecs) init=0.52
  * admit=0.18 retract=0.11 compact=0.81 rebuild=0.59 (3.3x the admit).
  * Admit and retract are FLAT across 10x corpus (O(delta) as designed)
  * while the rebuild side grows; at this scale every op is floor-
  * dominated (the 16-row broadcast + a sub-second scan), so the
  * separating evidence is the ratio trend — 2.7x -> 3.3x and widening
  * with corpus size. At 100 TB the rebuild column is a full-corpus
  * broadcast-assign + snapshot rewrite per batch; the admit column is
  * not.
  */
object IvfAdmitSlope {
  def main(args: Array[String]): Unit = {
    val baseDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = GraftSession
      .builder(appName = "graft-ivf-admit-slope", master = Some(s"local[$cpus]"),
        shufflePartitions = cpus.toInt)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import org.apache.spark.sql.functions._
    import graft.operators.IvfIndexStore
    import graft.functions.vectors

    val e0 = spark.read.parquet(s"$baseDir/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    val maxId = e0.agg(max(col("vec_id"))).first().getLong(0) + 1
    def proj(df: org.apache.spark.sql.DataFrame) =
      df.select(col("vec_id"), col("embedding"), vectors.norm(col("embedding")).as("nrm"))
    def assign(df: org.apache.spark.sql.DataFrame, cent: org.apache.spark.sql.DataFrame) =
      IvfIndexStore.assignAgainst(df, cent, "vec_id", "embedding", "nrm")
    // Fixed 500-vector delta with novel ids; fixed 500-base-id retract.
    val delta = proj(e0.where(col("vec_id") < 500)
      .withColumn("vec_id", col("vec_id") + lit(100L * maxId))).localCheckpoint()
    val retractIds = e0.where(col("vec_id") < 500).select(col("vec_id")).localCheckpoint()
    def timed(body: => Unit): Double = {
      spark.catalog.clearCache(); System.gc()
      val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9
    }
    val results = scala.collection.mutable.Map.empty[(Int, String), Double]
    Seq(1, 10).foreach { copies =>
      val corpus = proj((0 until copies)
        .map(k => e0.withColumn("vec_id", col("vec_id") + lit(k * maxId)))
        .reduce(_ unionByName _)).localCheckpoint()
      val cent = corpus.where(col("vec_id") < 16)
        .select(col("vec_id").as("cid"), col("embedding").as("ce"), col("nrm").as("cn"))
        .localCheckpoint()
      (1 to 2).foreach { pass =>
        val dir = java.nio.file.Files
          .createTempDirectory(s"graft-ivfslope-$copies-$pass").toString + "/idx"
        val tInit = timed(IvfIndexStore.init(spark, dir, cent, assign(corpus, cent)))
        val tAdmit = timed(IvfIndexStore.admit(spark, dir, assign(delta, cent)))
        val tRetract = timed(IvfIndexStore.retract(spark, dir, retractIds))
        val tCompact = timed(IvfIndexStore.compact(spark, dir))
        val tRebuild = timed {
          val dir2 = java.nio.file.Files
            .createTempDirectory(s"graft-ivfslope-rb-$copies-$pass").toString + "/idx"
          IvfIndexStore.init(spark, dir2, cent, assign(corpus.unionByName(delta), cent))
          ()
        }
        if (pass == 2) {
          println(f"IVFADMIT ${copies}x vecs=${corpus.count()} " +
            f"init=$tInit%.2f admit=$tAdmit%.2f retract=$tRetract%.2f " +
            f"compact=$tCompact%.2f rebuild=$tRebuild%.2f ratio=${tRebuild / tAdmit}%.2f")
          results((copies, "admit")) = tAdmit
          results((copies, "retract")) = tRetract
          results((copies, "compact")) = tCompact
          results((copies, "rebuild")) = tRebuild
        }
      }
    }
    // Same committed claims as the LSH chain: O(delta) mutations flat
    // across 10x corpus (bound 3.0), compact state-proportional,
    // rebuild the unbounded baseline.
    Slopes.record("ivf_admit", "admit", results((1, "admit")), results((10, "admit")), 3.0)
    Slopes.record("ivf_admit", "retract", results((1, "retract")), results((10, "retract")), 3.0)
    Slopes.record("ivf_admit", "compact", results((1, "compact")), results((10, "compact")), 10.0)
    Slopes.record("ivf_admit", "rebuild", results((1, "rebuild")), results((10, "rebuild")), 0.0)
    spark.stop()
  }
}

/** Fixed-batch COORDINATED PIPELINE TRANSACTION cost vs corpus size —
  * the measurement behind PipelineTxn's scale claims: a FIXED
  * 500-doc + 500-vec ingest and a FIXED 250-key erase, timed against a
  * 1x and a 10x four-store pipeline (docs layout + LSH index +
  * embeddings layout + IVF index; 10x via the alphabet-rotation copies
  * so the LSH vocabulary scales with the corpus). Claims:
  *
  *  - INGEST is FLAT (bound 3.0): every arm is its store's O(batch)
  *    path — two segment inserts, one O(delta + touched buckets) LSH
  *    admit, one broadcast-argmax IVF admit. The coordination layer
  *    adds only log/manifest reads.
  *  - ERASE is at worst CORPUS-LINEAR (bound = the data ratio): the
  *    intent evaluation scans the table head once per layout
  *    (predicate over the corpus — irreducible for a predicate-driven
  *    erase), and the id-driven LSH retract pays its documented
  *    locating scan; the remaining arms are O(matched + touched). A
  *    CDC-shaped deployment that already knows the erased band rows
  *    rides `retractBandsOnce` and drops the locating scan.
  */
object PipelineSlope {
  def main(args: Array[String]): Unit = {
    val baseDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val copies = sys.env.getOrElse("SPARK_GRAFT_SCALE_COPIES", "10").toInt
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = GraftSession
      .builder(appName = "graft-pipeline-slope", master = Some(s"local[$cpus]"),
        shufflePartitions = cpus.toInt)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import org.apache.spark.sql.functions._
    import graft.operators.{Dedup, IvfIndexStore, LshIndexStore, PipelineStores, PipelineTxn, VersionedLayout}
    import graft.functions.vectors

    val docs0 = spark.read.parquet(s"$baseDir/documents.parquet")
    val emb0 = spark.read.parquet(s"$baseDir/embeddings.parquet")
    val maxDoc = docs0.agg(max(col("doc_id"))).first().getLong(0) + 1
    val maxVec = emb0.agg(max(col("vec_id"))).first().getLong(0) + 1
    val alpha = "abcdefghijklmnopqrstuvwxyz"
    def docShape(df: org.apache.spark.sql.DataFrame) =
      df.select((pmod(col("doc_id"), lit(8)) + 1).cast("int").as("pid"),
        col("doc_id"), col("text"))
    def embShape(df: org.apache.spark.sql.DataFrame) =
      df.select((pmod(col("vec_id"), lit(8)) + 1).cast("int").as("pid"),
        col("vec_id"), col("embedding"))
    // Fixed batches with NOVEL ids (inside the base pid domain).
    val dIns = docShape(docs0.where(col("doc_id") < 500)
      .withColumn("doc_id", col("doc_id") + lit(1000L * maxDoc))).localCheckpoint()
    val eIns = embShape(emb0.where(col("vec_id") < 500)
      .withColumn("vec_id", col("vec_id") + lit(1000L * maxVec))).localCheckpoint()
    def timed(body: => Unit): Double = {
      spark.catalog.clearCache(); System.gc()
      val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9
    }
    val results = scala.collection.mutable.Map.empty[(Int, String), Double]
    Seq(1, copies).foreach { n =>
      val docs = docShape((0 until n).map { k =>
        val rot = alpha.drop(k % 26) + alpha.take(k % 26)
        docs0.withColumn("doc_id", col("doc_id") + lit(k * maxDoc))
          .withColumn("text", translate(col("text"), alpha, rot))
      }.reduce(_ unionByName _)).localCheckpoint()
      val emb = embShape((0 until n)
        .map(k => emb0.withColumn("vec_id", col("vec_id") + lit(k * maxVec)))
        .reduce(_ unionByName _)).localCheckpoint()
      (1 to 2).foreach { pass =>
        val root = java.nio.file.Files
          .createTempDirectory(s"graft-pipeslope-$n-$pass").toString
        val p = PipelineStores(s"$root/docs", s"$root/lsh", s"$root/emb",
          s"$root/ivf", s"$root/meta")
        // Init (untimed here — corpus-proportional by design, the
        // layouts' own write path).
        VersionedLayout.writeBaseTable(spark, docs, p.docs, Seq("doc_id"))
        LshIndexStore.init(spark, p.lsh, Dedup.bandRows(
          Dedup.minhashSignatures(docs, "doc_id", "text"), rowsPerBand = 1))
        VersionedLayout.writeBaseTable(spark, emb, p.emb, Seq("vec_id"))
        val nrm = emb.select(col("vec_id"), col("embedding"),
          vectors.norm(col("embedding")).as("nrm"))
        val cent = nrm.where(col("vec_id") < 16)
          .select(col("vec_id").as("cid"), col("embedding").as("ce"), col("nrm").as("cn"))
          .localCheckpoint()
        IvfIndexStore.init(spark, p.ivf, cent,
          IvfIndexStore.assignAgainst(nrm, cent, "vec_id", "embedding", "nrm"))
        val tIngest = timed(PipelineTxn.ingest(spark, p, dIns, eIns, txn = 1L))
        val tErase = timed(PipelineTxn.erase(spark, p,
          col("doc_id") < 250, col("vec_id") < 250, txn = 2L))
        // Undo the erase: the restored delta is the FIXED erased set,
        // so the coordinated restore must stay flat across the 10x
        // corpus like the mutation it reverses.
        val tRestore = timed(PipelineTxn.restore(spark, p, 1, 1, txn = 3L))
        if (pass == 2) {
          println(f"PIPESLOPE ${n}x docs=${docs.count()} " +
            f"ingest=$tIngest%.2f erase=$tErase%.2f restore=$tRestore%.2f")
          results((n, "ingest")) = tIngest
          results((n, "erase")) = tErase
          results((n, "restore")) = tRestore
        }
      }
    }
    Slopes.record("pipeline", "ingest",
      results((1, "ingest")), results((copies, "ingest")), 3.0)
    Slopes.record("pipeline", "erase",
      results((1, "erase")), results((copies, "erase")), copies.toDouble)
    Slopes.record("pipeline", "restore",
      results((1, "restore")), results((copies, "restore")), copies.toDouble)
    spark.stop()
  }
}
