package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.Dedup

/** Semantics of the MinHash/LSH dedup operators beyond the DuckDB oracle:
  * the shingles short-input guard, (b, r) banding precision/recall vs
  * exact Jaccard, and the degenerate-bucket cap that keeps a hot band key
  * from turning candidate generation quadratic.
  */
class DedupSpec extends SparkSpec {

  private def docsDF(rows: Seq[(Long, String)]): DataFrame = {
    val spark0 = spark
    import spark0.implicits._
    rows.toDF("doc_id", "text").localCheckpoint()
  }

  private def candidatePairs(df: DataFrame): Set[(Long, Long)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  /** Exact word-shingle Jaccard for every pair of the fixture (test-side
    * all-pairs: fine on a fixture, never the engine path).
    */
  private def exactJaccard(rows: Seq[(Long, String)]): Map[(Long, Long), Double] = {
    def sh(t: String): Set[String] =
      t.toLowerCase.split("\\s+").toSeq.sliding(Dedup.shingleSize).map(_.mkString(" ")).toSet
    val sets = rows.map { case (id, t) => id -> sh(t) }
    (for {
      (a, sa) <- sets; (b, sb) <- sets if a < b
    } yield (a, b) ->
      (if ((sa | sb).isEmpty) 0.0 else (sa & sb).size.toDouble / (sa | sb).size)).toMap
  }

  test("shingles yields an empty array for token arrays shorter than shingleSize") {
    val spark0 = spark
    import spark0.implicits._
    val got = Seq(Seq("a"), Seq("a", "b"), Seq.empty[String], Seq("a", "b", "c"))
      .toDF("toks")
      .select(Dedup.shingles(col("toks")).as("sh"))
      .collect().map(_.getSeq[String](0).toSeq).toSeq
    assert(got == Seq(Seq(), Seq(), Seq(), Seq("a b c")))
  }

  // Fixture: an identical pair (J = 1), a near pair (high J), a moderate
  // pair (low J), and unrelated filler docs.
  private val base = "the quick brown fox jumps over the lazy dog while rain falls on the quiet town"
  private val fixture: Seq[(Long, String)] = Seq(
    1L -> base,
    2L -> base, // identical to 1
    3L -> (base + " at dusk"), // near-duplicate of 1/2
    4L -> "the quick brown fox sleeps under a warm sun in a distant meadow far away from here",
    5L -> "completely different words populate this document about spark catalyst optimizer rules",
    6L -> "another unrelated text mentions parquet shuffles broadcast joins and watermarks only",
  )

  test("(b, r) banding: r=2 candidates are a subset of r=1; identical pairs survive; precision does not drop") {
    val sigs = Dedup.minhashSignatures(docsDF(fixture), "doc_id", "text").localCheckpoint()
    val r1 = candidatePairs(Dedup.lshCandidates(sigs))
    val r2 = candidatePairs(Dedup.lshCandidatesBanded(sigs, rowsPerBand = 2))
    assert(r2.subsetOf(r1), s"r2=$r2 not a subset of r1=$r1")

    val jac = exactJaccard(fixture)
    // Recall at J >= 0.8: identical/near-identical pairs must survive both
    // bandings (all/most minhashes agree).
    val similar = jac.filter(_._2 >= 0.8).keySet
    assert(similar.nonEmpty, "fixture lost its similar pairs")
    assert(similar.subsetOf(r1), s"r1 missed a similar pair: ${similar -- r1}")
    assert(similar.subsetOf(r2), s"r2 missed a similar pair: ${similar -- r2}")
    // Unrelated docs (no shared shingles) can never be candidates: a shared
    // minhash requires a shared shingle (injective up to hash collision).
    val disjoint = jac.filter(_._2 == 0.0).keySet
    assert((r1 & disjoint).isEmpty, s"r1 paired disjoint docs: ${r1 & disjoint}")
    // Precision (mean exact Jaccard of emitted candidates) must not drop
    // when bands demand agreement on 2 hashes at once.
    def meanJ(c: Set[(Long, Long)]): Double =
      if (c.isEmpty) 1.0 else c.toSeq.map(jac).sum / c.size
    assert(meanJ(r2) >= meanJ(r1), s"precision dropped: r2=${meanJ(r2)} < r1=${meanJ(r1)}")
  }

  test("(b, r) x width sweep: candidate curves measured over a graded-Jaccard corpus") {
    // One pair per k: docs (2k, 2k+1) share their first k of 21 words, so
    // exact shingle Jaccard (k-2)/(38-(k-2)) sweeps ~0.03 .. 1.0 in 19
    // steps; all cross-pair vocabulary is disjoint (J = 0). Indices are
    // letter-encoded (tokenization strips digits).
    def let(n: Int): String = n.toString.map(c => ('a' + (c - '0')).toChar)
    val W = 21
    val rows: Seq[(Long, String)] = (3 to W).flatMap { k =>
      val a = (0 until W).map(j => s"p${let(k)}w${let(j)}")
      val b = (0 until W).map(j => if (j < k) a(j) else s"q${let(k)}w${let(j)}")
      Seq((2L * k) -> a.mkString(" "), (2L * k + 1) -> b.mkString(" "))
    }
    val jac = exactJaccard(rows)
    val docs = docsDF(rows)
    val sig8 = Dedup.minhashSignatures(docs, "doc_id", "text").localCheckpoint()
    val sig16 = Dedup.minhashSignatures(docs, "doc_id", "text", k = 16).localCheckpoint()
    val c81 = candidatePairs(Dedup.lshCandidates(sig8))
    val c42 = candidatePairs(Dedup.lshCandidatesBanded(sig8, rowsPerBand = 2))
    val c161 = candidatePairs(Dedup.lshCandidates(sig16))
    val c82 = candidatePairs(Dedup.lshCandidatesBanded(sig16, rowsPerBand = 2))
    // Structural dominance: an agreeing r=2 band implies both of its r=1
    // bands agree, and the first 8 of 16 permutations ARE the 8-wide
    // signature — so each tightening is a subset, each widening a superset.
    assert(c42.subsetOf(c81), s"(4,2) not within (8,1): ${c42 -- c81}")
    assert(c81.subsetOf(c161), s"(8,1) not within (16,1): ${c81 -- c161}")
    assert(c82.subsetOf(c161), s"(8,2) not within (16,1): ${c82 -- c161}")
    assert(c42.subsetOf(c82), s"(4,2) not within (8,2): ${c42 -- c82}")
    val pairs = (3 to W).map(k => ((2L * k, 2L * k + 1), jac((2L * k, 2L * k + 1))))
    pairs.foreach { case (p, j) =>
      info(f"J=$j%.3f  (8,1)=${c81(p)}  (4,2)=${c42(p)}  (16,1)=${c161(p)}  (8,2)=${c82(p)}")
    }
    // Measured thresholds must bracket the analytic 50% points
    // (s50 = 0.083 for (8,1), 0.399 for (4,2)): everything at J >= 0.8
    // is caught by every config, and sharpening r to 2 must actually
    // DROP some low-J pair that r=1 caught (the precision the knob buys).
    pairs.filter(_._2 >= 0.8).foreach { case (p, j) =>
      assert(c81(p) && c42(p) && c161(p) && c82(p), s"missed high-J pair $p (J=$j)")
    }
    val lowJ = pairs.filter(_._2 < 0.3).map(_._1)
    assert(lowJ.exists(p => c81(p) && !c42(p)),
      "r=2 banding dropped no low-J candidate — the precision knob is inert on this corpus")
  }

  test("simhash band-width curve: candidate volume vs signature width, measured (16/32/64 bits)") {
    // The q85 scale note claims widening the signature is what keeps the
    // pigeonhole band join sub-quadratic (band key space = 2^(bits/b)).
    // Measure it: same real corpus, same band count, three widths, RAW
    // candidate volume (cap disabled — the cap is the backstop, not the
    // plan; measuring through it would hide the curve it bounds).
    val docs = Tables.documents(spark, sf0001)
    val nDocs = docs.count()
    val counts = Seq(16, 32, 64).map { bits =>
      val sh = Dedup.simhash(docs, "doc_id", "text", bits).localCheckpoint()
      bits -> Dedup.hammingCandidates(sh, bits = bits,
        numBands = graft.queries.DedupQueries.hammingBands,
        maxBucket = Int.MaxValue).count()
    }.toMap
    val allPairs = nDocs * (nDocs - 1) / 2
    info(s"docs=$nDocs allPairs=$allPairs; candidates: 16b=${counts(16)} 32b=${counts(32)} 64b=${counts(64)}")
    // The curve must be monotone: every widening strictly grows the band
    // key space, so random collisions can only fall.
    assert(counts(32) <= counts(16), counts.toString)
    assert(counts(64) <= counts(32), counts.toString)
    // Width is the effective lever on this corpus: 16 -> 64 bits must cut
    // candidate volume by >= 10x (else the scale note is empty words).
    assert(counts(16) >= 10 * math.max(counts(64), 1), counts.toString)
    // And the widest setting is genuinely sub-quadratic.
    assert(counts(64) * 10 < allPairs, s"64-bit candidates not sub-quadratic: $counts vs $allPairs")
  }

  test("canonicalLabels propagates the component minimum across chains (beyond 1-hop)") {
    val spark0 = spark
    import spark0.implicits._
    // Chain 1-2-3 (1 and 3 never paired directly), pair 4-5, singleton 6.
    val docs = (1L to 6L).map(Tuple1(_)).toDF("doc_id")
    val pairs = Seq((1L, 2L), (2L, 3L), (4L, 5L)).toDF("doc_a", "doc_b")
    val got = graft.operators.Dedup.canonicalLabels(docs, pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 4L, 5L -> 4L, 6L -> 6L), got.toString)
  }

  test("degenerate band buckets above maxBucket are dropped (bounded candidates under adversarial corpus)") {
    // 30 identical docs: every band key is shared by all 30 -> uncapped
    // candidate generation is C(30,2) pairs from EVERY band.
    val rows = (0L until 30L).map(i => i -> base)
    val sigs = Dedup.minhashSignatures(docsDF(rows), "doc_id", "text").localCheckpoint()
    val uncapped = Dedup.lshCandidates(sigs)
    assert(uncapped.count() == 30L * 29 / 2, "uncapped should emit all pairs")
    // Cap 10: every bucket is degenerate (30 members), so zero candidates
    // — the hot key cannot explode the join.
    val capped = Dedup.lshCandidates(sigs, maxBucket = 10)
    assert(capped.count() == 0, "capped degenerate buckets must emit no pairs")
  }

  test("incremental LSH index equals the full rebuild, including cap retraction when a delta crosses maxBucket") {
    val cap = 4
    val textA = "orange apple mango banana cherry lemon papaya grape kiwi plum"
    val textB = "winter summer autumn spring morning evening midnight noon dusk dawn"
    val textC = "copper silver golden bronze marble granite basalt quartz slate flint"
    // Crossing family: 4 identical base docs sit exactly AT the cap (base
    // index pairs them); one identical delta doc pushes every shared
    // bucket to 5 > cap, so ALL their pairs must retract. Untouched
    // family: 3 identical docs the delta never touches (pairs reused
    // verbatim). New-pair family: one base + one delta doc share textC.
    val baseRows = (1L to 4L).map(_ -> textA) ++ (11L to 13L).map(_ -> textB) ++ Seq(21L -> textC)
    val deltaRows = Seq(100L -> textA, 121L -> textC)
    val baseBands = Dedup.bandRows(
      Dedup.minhashSignatures(docsDF(baseRows), "doc_id", "text"), 1).localCheckpoint()
    val inc = Dedup.incrementalPairs(
      baseBands,
      Dedup.bucketCounts(baseBands),
      Dedup.indexPairBands(baseBands, cap),
      Dedup.bandRows(Dedup.minhashSignatures(docsDF(deltaRows), "doc_id", "text"), 1),
      cap)
    val rebuilt = Dedup.lshCandidates(
      Dedup.minhashSignatures(docsDF(baseRows ++ deltaRows), "doc_id", "text")
        .localCheckpoint(), cap)
    val incSet = candidatePairs(inc.select(col("doc_a"), col("doc_b")))
    assert(incSet == candidatePairs(rebuilt.select(col("doc_a"), col("doc_b"))),
      s"incremental admit diverged from rebuild: $incSet")
    // The retraction was actually exercised: the base index DID pair the
    // crossing family, and after the delta no pair of it survives.
    val basePairs = candidatePairs(Dedup.lshCandidates(
      Dedup.minhashSignatures(docsDF(baseRows), "doc_id", "text").localCheckpoint(), cap)
      .select(col("doc_a"), col("doc_b")))
    assert(basePairs.contains((1L, 2L)), "fixture broken: base index never paired the crossing family")
    val crossing = Set(1L, 2L, 3L, 4L, 100L)
    assert(!incSet.exists(p => crossing(p._1) && crossing(p._2)),
      s"over-cap bucket pairs were not retracted: $incSet")
    // Untouched pairs reused; the delta's genuinely new pair appears.
    assert(incSet((11L, 12L)) && incSet((11L, 13L)) && incSet((12L, 13L)))
    assert(incSet((21L, 121L)), "new base-delta pair missing")
  }

  test("LshIndexStore: chained admits equal the full rebuild across generations; replayed txn commits exactly once") {
    import graft.operators.LshIndexStore
    val cap = 4
    val textA = "orange apple mango banana cherry lemon papaya grape kiwi plum"
    val textB = "winter summer autumn spring morning evening midnight noon dusk dawn"
    val textC = "copper silver golden bronze marble granite basalt quartz slate flint"
    // Batch 0 leaves the textA bucket UNDER cap (3 members); batch 1
    // reaches the cap exactly (4 — still paired); batch 2 crosses it
    // (5 — retraction two generations after the bucket first paired).
    val b0 = (1L to 3L).map(_ -> textA) ++ (11L to 12L).map(_ -> textB)
    val b1 = Seq(4L -> textA, 13L -> textB, 21L -> textC)
    val b2 = Seq(100L -> textA, 121L -> textC)
    def bands(rows: Seq[(Long, String)]) = Dedup.bandRows(
      Dedup.minhashSignatures(docsDF(rows), "doc_id", "text"), 1)
    val dir = tempDir("graft-lshstore").toString + "/index"

    assert(LshIndexStore.init(spark, dir, bands(b0), cap, txn = 100L) == 0)
    val afterB0 = candidatePairs(LshIndexStore.pairs(spark, dir).select(col("doc_a"), col("doc_b")))
    assert(afterB0((1L, 2L)), "generation 0 should pair the under-cap textA family")
    assert(LshIndexStore.admitOnce(spark, dir, bands(b1), txn = 101L, cap) == 1)
    val afterB1 = candidatePairs(LshIndexStore.pairs(spark, dir).select(col("doc_a"), col("doc_b")))
    assert(afterB1((1L, 4L)), "generation 1 should still pair the at-cap textA family")
    assert(LshIndexStore.admitOnce(spark, dir, bands(b2), txn = 102L, cap) == 2)

    // Every generation equals the rebuild over its cumulative corpus.
    def rebuild(rows: Seq[(Long, String)]) = candidatePairs(Dedup.lshCandidates(
      Dedup.minhashSignatures(docsDF(rows), "doc_id", "text").localCheckpoint(), cap)
      .select(col("doc_a"), col("doc_b")))
    val finalPairs = candidatePairs(
      LshIndexStore.pairs(spark, dir).select(col("doc_a"), col("doc_b")))
    assert(finalPairs == rebuild(b0 ++ b1 ++ b2),
      s"chained admits diverged from rebuild: $finalPairs")
    // The cap retraction happened across generations: textA pairs gone.
    val aFamily = Set(1L, 2L, 3L, 4L, 100L)
    assert(!finalPairs.exists(p => aFamily(p._1) && aFamily(p._2)),
      "cross-generation cap crossing did not retract")
    assert(finalPairs((21L, 121L)) && finalPairs((11L, 12L)))

    // Replayed micro-batch: same txn stamp is a no-op — the restarted
    // stream's re-delivery commits exactly once.
    assert(LshIndexStore.admitOnce(spark, dir, bands(b2), txn = 102L, cap) == 2)
    assert(LshIndexStore.currentGeneration(dir) == 2)
    assert(candidatePairs(LshIndexStore.pairs(spark, dir)
      .select(col("doc_a"), col("doc_b"))) == finalPairs)

    // Admits write SEGMENTS (O(delta)), never a corpus rewrite: the
    // admitted generations carry bands-delta, not a full bands table —
    // and pairbands-delta (touched buckets only), not the full
    // candidate-sized pair table.
    assert(new java.io.File(s"$dir/v1/bands-delta").isDirectory
      && !new java.io.File(s"$dir/v1/bands").isDirectory,
      "admit rewrote the full bands table")
    assert(new java.io.File(s"$dir/v1/pairbands-delta").isDirectory
      && !new java.io.File(s"$dir/v1/pairbands").isDirectory,
      "admit rewrote the candidate-sized pair table")

    // Compaction folds the chain to one full snapshot: pairs unchanged,
    // the new generation is single-source, and admits keep chaining.
    assert(LshIndexStore.compact(spark, dir) == 3)
    assert(new java.io.File(s"$dir/v3/bands").isDirectory)
    assert(candidatePairs(LshIndexStore.pairs(spark, dir)
      .select(col("doc_a"), col("doc_b"))) == finalPairs, "compact changed the answer")
    assert(LshIndexStore.bandsOf(spark, dir, 3).inputFiles.forall(_.contains("/v3/")),
      "post-compact band read still unions segments")
    // Band state is (band, key)-hash-partitioned: a touched-bucket fetch
    // (the admit path's base read) prunes to the named bkt partitions at
    // DIRECTORY grain instead of scanning the corpus band table.
    val bktDirs = new java.io.File(s"$dir/v3/bands").listFiles()
      .filter(_.getName.startsWith("bkt=")).map(_.getName.stripPrefix("bkt=").toInt)
    assert(bktDirs.length > 1, s"band state not hash-partitioned: ${bktDirs.toSeq}")
    val probeBkt = bktDirs.min
    val pruned = LshIndexStore.prunedBands(spark, dir, 3, Some(Seq(probeBkt)))
    assert(pruned.inputFiles.nonEmpty
      && pruned.inputFiles.forall(_.contains(s"bkt=$probeBkt/")),
      s"touched-bucket fetch did not partition-prune: ${pruned.inputFiles.toSeq}")
    val b3 = Seq(200L -> textB, 201L -> textB) // textB: 3 -> 5 members, over cap
    assert(LshIndexStore.admitOnce(spark, dir, bands(b3), txn = 103L, cap) == 4)
    val afterB3 = candidatePairs(LshIndexStore.pairs(spark, dir)
      .select(col("doc_a"), col("doc_b")))
    assert(afterB3 == rebuild(b0 ++ b1 ++ b2 ++ b3),
      s"post-compact admit diverged from rebuild: $afterB3")
    assert(!afterB3((11L, 12L)), "post-compact cap crossing did not retract")
  }

  test("LshIndexStore retract: erased docs leave; a bucket crossing back under the cap REVIVES surviving pairs; admits chain on") {
    import graft.operators.LshIndexStore
    val cap = 4
    val textA = "orange apple mango banana cherry lemon papaya grape kiwi plum"
    val textB = "winter summer autumn spring morning evening midnight noon dusk dawn"
    // textA: FIVE identical docs — over cap at init, so no pairs.
    // textB: three docs — paired normally.
    val corpus = (1L to 5L).map(_ -> textA) ++ (11L to 13L).map(_ -> textB)
    def bands(rows: Seq[(Long, String)]) = Dedup.bandRows(
      Dedup.minhashSignatures(docsDF(rows), "doc_id", "text"), 1)
    def rebuild(rows: Seq[(Long, String)]) = candidatePairs(Dedup.lshCandidates(
      Dedup.minhashSignatures(docsDF(rows), "doc_id", "text").localCheckpoint(), cap)
      .select(col("doc_a"), col("doc_b")))
    val dir = tempDir("graft-lshretract").toString + "/index"
    LshIndexStore.init(spark, dir, bands(corpus), cap)
    def pairSet = candidatePairs(
      LshIndexStore.pairs(spark, dir).select(col("doc_a"), col("doc_b")))
    val aFam = Set(1L, 2L, 3L, 4L, 5L)
    assert(!pairSet.exists(p => aFam(p._1) && aFam(p._2)),
      "fixture broken: textA should start over-cap, pairless")
    assert(pairSet((11L, 12L)))

    // Retract doc 5 (textA: 5 -> 4, back UNDER the cap — pairs among the
    // survivors must REVIVE) and doc 12 (textB: 3 -> 2, pairs shrink).
    val spark0 = spark
    import spark0.implicits._
    LshIndexStore.retract(spark, dir, Seq(5L, 12L).toDF("doc_id"), cap, txn = 50L)
    val afterRetract = pairSet
    val surviving = corpus.filterNot(r => r._1 == 5L || r._1 == 12L)
    assert(afterRetract == rebuild(surviving),
      s"retract diverged from rebuild over survivors: $afterRetract")
    assert(afterRetract((1L, 2L)) && afterRetract((3L, 4L)),
      "crossing back under the cap did not revive the surviving pairs")
    assert(!afterRetract.exists(p => p._1 == 5L || p._2 == 5L || p._1 == 12L || p._2 == 12L),
      "retracted docs still appear in pairs")
    assert(afterRetract((11L, 13L)) && !afterRetract((11L, 12L)))

    // Admits chain across the tombstones: a new textA doc pushes the
    // bucket back OVER the cap — retraction again, rebuild-equal.
    LshIndexStore.admit(spark, dir, bands(Seq(300L -> textA)), cap, txn = 51L)
    val afterAdmit = pairSet
    assert(afterAdmit == rebuild(surviving ++ Seq(300L -> textA)),
      s"post-retract admit diverged: $afterAdmit")
    assert(!afterAdmit.exists(p => (aFam + 300L)(p._1) && (aFam + 300L)(p._2)))
    // Compact absorbs the tombstones; the answer is unchanged.
    val folded = LshIndexStore.compact(spark, dir)
    assert(pairSet == afterAdmit, "compact changed the post-retract answer")
    assert(!new java.io.File(s"$dir/v$folded/retract-ids").isDirectory)

    // Serving reads ONLY the maintained pair table — no band scan, no
    // signature recompute (the at-scale serving contract).
    assert(LshIndexStore.pairs(spark, dir).inputFiles.forall(_.contains("/pairbands/")),
      "pairs() read beyond the maintained pair table")

    // Time travel: every retained generation still serves its pairs.
    assert(candidatePairs(LshIndexStore.pairsOf(spark, dir, 1)
      .select(col("doc_a"), col("doc_b"))) == afterRetract)
    // Vacuum to the fold: below-horizon generations fail loudly, the
    // head keeps answering; a non-snapshot keepFrom is refused.
    val bad = intercept[IllegalArgumentException](
      LshIndexStore.vacuumGenerations(dir, keepFrom = 1))
    assert(bad.getMessage.contains("full-snapshot"), bad.getMessage)
    LshIndexStore.vacuumGenerations(dir, keepFrom = folded)
    assert(pairSet == afterAdmit, "vacuum broke the head read")
    val gone = intercept[IllegalArgumentException](
      LshIndexStore.pairsOf(spark, dir, 1).count())
    assert(gone.getMessage.contains("not addressable"), gone.getMessage)

    // Writer race on a generation: the loser's publish fails loudly
    // (the committed generation is never clobbered).
    val loserTmp = s"$dir/.gen-tmp-race"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(loserTmp))
    val race = intercept[IllegalStateException](
      LshIndexStore.publish(dir, folded, 999L, loserTmp))
    assert(race.getMessage.contains("another writer"), race.getMessage)
    assert(pairSet == afterAdmit, "lost race corrupted the committed generation")
  }

  test("LshIndexStore: a doc retracted then RE-ADMITTED is live again (generation-scoped tombstones); admitOnce survives a retention vacuum", SlowTest) {
    import graft.operators.LshIndexStore
    val cap = 4
    val textA = "orange apple mango banana cherry lemon papaya grape kiwi plum"
    val textB = "winter summer autumn spring morning evening midnight noon dusk dawn"
    val corpus = (1L to 2L).map(_ -> textA) ++ (11L to 12L).map(_ -> textB)
    def bands(rows: Seq[(Long, String)]) = Dedup.bandRows(
      Dedup.minhashSignatures(docsDF(rows), "doc_id", "text"), 1)
    def rebuild(rows: Seq[(Long, String)]) = candidatePairs(Dedup.lshCandidates(
      Dedup.minhashSignatures(docsDF(rows), "doc_id", "text").localCheckpoint(), cap)
      .select(col("doc_a"), col("doc_b")))
    val dir = tempDir("graft-lshreadmit").toString + "/index"
    val spark0 = spark
    import spark0.implicits._
    def pairSet = candidatePairs(
      LshIndexStore.pairs(spark, dir).select(col("doc_a"), col("doc_b")))

    LshIndexStore.init(spark, dir, bands(corpus), cap, txn = 10L)
    assert(pairSet((1L, 2L)) && pairSet((11L, 12L)))

    // Retract doc 2, then RE-ADMIT it before any compact: the tombstone
    // at generation 1 must scope only to rows below it — the re-admit's
    // delta rows (generation 2) are live, the pair revives, and the
    // store still equals the ground-up rebuild.
    LshIndexStore.retract(spark, dir, Seq(2L).toDF("doc_id"), cap, txn = 11L)
    assert(!pairSet.exists(p => p._1 == 2L || p._2 == 2L), "retract left doc 2 paired")
    LshIndexStore.admit(spark, dir, bands(Seq(2L -> textA)), cap, txn = 12L)
    assert(LshIndexStore.bandsOf(spark, dir, 2).where(col("doc_id") === 2L).count() > 0,
      "re-admitted doc invisible in bandsOf — tombstone applied above its generation")
    assert(pairSet == rebuild(corpus), s"retract+re-admit diverged from rebuild: $pairSet")
    assert(pairSet((1L, 2L)), "re-admitted doc's pair did not revive")

    // The NEXT maintenance op touching its buckets must keep it: admit a
    // third textA doc (bucket 2 -> 3, still under cap) — the recompute
    // reads bandsOf, which now includes the re-admitted doc 2.
    LshIndexStore.admit(spark, dir, bands(Seq(3L -> textA)), cap, txn = 13L)
    assert(pairSet == rebuild(corpus ++ Seq(3L -> textA)),
      s"post-re-admit maintenance dropped the revived doc's pairs: $pairSet")
    assert(pairSet((1L, 2L)) && pairSet((2L, 3L)))

    // Retention vacuum, then the exactly-once paths: committedGen must
    // skip vacuumed generations (missing manifests), not crash — and
    // still dedupe a txn recorded in a SURVIVING generation.
    val folded = LshIndexStore.compact(spark, dir)
    LshIndexStore.admit(spark, dir, bands(Seq(13L -> textB)), cap, txn = 14L)
    LshIndexStore.vacuumGenerations(dir, keepFrom = folded)
    val before = pairSet
    assert(LshIndexStore.admitOnce(spark, dir, bands(Seq(13L -> textB)), txn = 14L, cap)
      == folded + 1, "replayed txn in a surviving generation was not deduped post-vacuum")
    val g = LshIndexStore.admitOnce(spark, dir, bands(Seq(21L -> "copper silver golden bronze marble granite basalt quartz slate flint")), txn = 15L, cap)
    assert(g == folded + 2, "admitOnce after vacuumGenerations failed")
    assert(LshIndexStore.retractOnce(spark, dir, Seq(21L).toDF("doc_id"), txn = 16L, cap)
      == folded + 3, "retractOnce after vacuumGenerations failed")
    assert(pairSet == before, "post-vacuum admit/retract cycle changed unrelated pairs")
  }

  test("LshIndexStore chainAudit/compactIfNeeded: folded prediction equals the physical fold; the trigger fires exactly at the policy crossing", SlowTest) {
    import graft.operators.LshIndexStore
    val cap = 4
    val textA = "orange apple mango banana cherry lemon papaya grape kiwi plum"
    val textB = "winter summer autumn spring morning evening midnight noon dusk dawn"
    def bands(rows: Seq[(Long, String)]) = Dedup.bandRows(
      Dedup.minhashSignatures(docsDF(rows), "doc_id", "text"), 1)
    val dir = tempDir("graft-lshaudit").toString + "/index"
    LshIndexStore.init(spark, dir, bands((1L to 3L).map(_ -> textA)), cap)
    LshIndexStore.admit(spark, dir, bands(Seq(11L -> textB, 12L -> textB)), cap)
    LshIndexStore.admit(spark, dir, bands(Seq(13L -> textB)), cap)
    def pairSet = candidatePairs(
      LshIndexStore.pairs(spark, dir).select(col("doc_a"), col("doc_b")))
    val before = pairSet

    val (nSeg, readRows, foldedRows) = LshIndexStore.chainAudit(spark, dir)
    assert(nSeg == 2, s"chain should carry 2 segments, got $nSeg")
    // The textB bucket was touched twice (last-touch-wins): the chain
    // read scans both recomputes, the fold keeps only the newest — so
    // read mass strictly exceeds folded mass.
    assert(readRows > foldedRows, s"audit fixture carries no overhead: $readRows vs $foldedRows")

    // Below the crossing: audit says hold, nothing fires, no new gen.
    val overheadMilli = readRows * 1000L / foldedRows
    val gen0 = LshIndexStore.currentGeneration(dir)
    assert(!LshIndexStore.compactIfNeeded(spark, dir,
      maxOverheadMilli = overheadMilli + 1, maxSegments = 99))
    assert(LshIndexStore.currentGeneration(dir) == gen0, "a held trigger mutated the chain")

    // At the crossing (>=): fires, the folded snapshot holds EXACTLY the
    // predicted rows, the answer is unchanged, and the chain is
    // single-source (a fresh audit reports zero segments).
    assert(LshIndexStore.compactIfNeeded(spark, dir,
      maxOverheadMilli = overheadMilli, maxSegments = 99))
    val folded = LshIndexStore.currentGeneration(dir)
    assert(spark.read.parquet(s"$dir/v$folded/pairbands").count() == foldedRows,
      "audit's folded_rows prediction != the physical fold")
    assert(pairSet == before, "policy-triggered compact changed the answer")
    val (nSeg2, readRows2, foldedRows2) = LshIndexStore.chainAudit(spark, dir)
    assert(nSeg2 == 0 && readRows2 == foldedRows2, "post-fold chain is not single-source")

    // Segment-count arm: two more admits, threshold 2 segments fires
    // even with a generous overhead budget.
    LshIndexStore.admit(spark, dir, bands(Seq(21L -> textA)), cap)
    LshIndexStore.admit(spark, dir, bands(Seq(22L -> textB)), cap)
    assert(LshIndexStore.compactIfNeeded(spark, dir,
      maxOverheadMilli = Long.MaxValue, maxSegments = 2))
    assert(LshIndexStore.chainAudit(spark, dir)._1 == 0)
  }

  test("spanDupStats counts duplicated span positions, not whole-doc similarity") {
    // doc 1: 10 tokens (3 span positions at width 8); doc 2 shares doc 1's
    // FIRST 8 tokens then diverges (boilerplate prefix); doc 3 disjoint;
    // doc 4 too short for any span.
    val shared = "alpha beta gamma delta epsilon zeta eta theta" // 8 tokens
    val rows = Seq(
      1L -> (shared + " iota kappa"),
      2L -> (shared + " lambda mu nu"),
      3L -> "one two three four five six seven eight nine ten eleven",
      4L -> "too short here",
    )
    val got = queries.DedupQueries.spanDupStats(docsDF(rows))
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    // Only the exact shared 8-token window is duplicated: position 1 of
    // docs 1 and 2. Doc 4 (< width tokens) contributes no rows.
    assert(got == Map(
      1L -> ((3L, 1L, 333L)),
      2L -> ((4L, 1L, 250L)),
      3L -> ((4L, 0L, 0L)),
    ), got.toString)
  }

  test("prefixFilterPairs: exact vs brute force on the real corpus; candidate pruning measured") {
    // Exactness claim: the prefix filter has NO false negatives (and the
    // verify stage kills every false positive), so its output must equal
    // the brute-force all-pairs answer — checked on the real sf0.001
    // corpus, not a toy fixture.
    val sets = queries.DedupQueries.shingleSets(spark, sf0001)
    val got = Dedup.prefixFilterPairs(sets, "doc_id", "sh", tauMilli = 500)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val all = sets.collect().map(r => r.getLong(0) -> r.getSeq[String](1).toSet)
    val want = (for {
      (a, sa) <- all; (b, sb) <- all if a < b
      inter = (sa & sb).size if 3 * inter >= sa.size + sb.size
    } yield (a, b)).toSet
    assert(got == want, s"missing=${want -- got} extra=${got -- want}")
    // Pruning claim: the candidate equi-join explores a small corner of
    // the n*(n-1)/2 pair space (rare-first prefixes keep high-df
    // elements out of the probe set).
    val nCand = Dedup.prefixCandidates(sets, "doc_id", "sh", tauMilli = 500).count()
    val allPairs = all.length.toLong * (all.length - 1) / 2
    info(s"docs=${all.length} allPairs=$allPairs candidates=$nCand matches=${want.size}")
    assert(want.map { case (a, b) => (a, b) }.subsetOf(got))
    assert(nCand * 10 < allPairs, s"prefix filter not pruning: $nCand of $allPairs")
  }

  test("prefixFilterPairs: threshold boundary is exact in integer space") {
    // Sets engineered to land exactly ON and just BELOW J = 1/2.
    // J(1,2) = 3/6 = 0.5 (keep: >= tau). J(3,4) = 4/9 < 0.5 (drop).
    val spark0 = spark
    import spark0.implicits._
    val sets = Seq(
      1L -> Seq("a", "b", "c", "d"), // |A|=4
      2L -> Seq("a", "b", "c", "e", "f"), // inter=3, union=6 -> exactly 0.5
      3L -> Seq("p", "q", "r", "s", "t", "u"), // |A|=6
      4L -> Seq("p", "q", "r", "s", "x", "y", "z"), // inter=4, union=9 -> 0.444
    ).toDF("doc_id", "sh").localCheckpoint()
    val got = Dedup.prefixFilterPairs(sets, "doc_id", "sh", tauMilli = 500)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == Set((1L, 2L)), got.toString)
  }

  test("LshIndexStore.retractBands (pruned path) equals retract by ids across the cap-revival edge; unknown docs contribute nothing") {
    import graft.operators.LshIndexStore
    val cap = 4
    val textA = "orange apple mango banana cherry lemon papaya grape kiwi plum"
    val textB = "winter summer autumn spring morning evening midnight noon dusk dawn"
    val corpus = (1L to 5L).map(_ -> textA) ++ (11L to 13L).map(_ -> textB)
    def bands(rows: Seq[(Long, String)]) = Dedup.bandRows(
      Dedup.minhashSignatures(docsDF(rows), "doc_id", "text"), 1)
    val root = tempDir("graft-retractbands").toString
    val (byIds, byBands) = (s"$root/a", s"$root/b")
    LshIndexStore.init(spark, byIds, bands(corpus), cap)
    LshIndexStore.init(spark, byBands, bands(corpus), cap)
    def pairSet(dir: String) = candidatePairs(
      LshIndexStore.pairs(spark, dir).select(col("doc_a"), col("doc_b")))

    val spark0 = spark
    import spark0.implicits._
    // Same retraction (5: textA back under the cap — revival; 12: textB
    // pair shrink), once located by a state scan, once SUPPLIED as the
    // docs' recomputed band rows (deterministic signatures) — plus a
    // doc that was never admitted, which must contribute nothing.
    LshIndexStore.retract(spark, byIds, Seq(5L, 12L).toDF("doc_id"), cap)
    LshIndexStore.retractBands(spark, byBands,
      bands(Seq(5L -> textA, 12L -> textB, 999L -> "never admitted words here")), cap)
    assert(pairSet(byIds) == pairSet(byBands),
      s"pruned retract diverged: ${pairSet(byBands)} vs ${pairSet(byIds)}")
    assert(LshIndexStore.currentGeneration(byBands) == 1)
    // Both paths keep chaining identically.
    LshIndexStore.admit(spark, byIds, bands(Seq(300L -> textA)), cap)
    LshIndexStore.admit(spark, byBands, bands(Seq(300L -> textA)), cap)
    assert(pairSet(byIds) == pairSet(byBands), "post-retract admits diverged")
  }

  test("LshIndexStore: a compact after a TOTAL retract stays readable and accepts new admits") {
    import graft.operators.LshIndexStore
    val cap = 4
    val textB = "winter summer autumn spring morning evening midnight noon dusk dawn"
    def bands(rows: Seq[(Long, String)]) = Dedup.bandRows(
      Dedup.minhashSignatures(docsDF(rows), "doc_id", "text"), 1)
    val dir = tempDir("graft-lshempty").toString + "/index"
    LshIndexStore.init(spark, dir, bands((11L to 13L).map(_ -> textB)), cap)
    val spark0 = spark
    import spark0.implicits._
    LshIndexStore.retract(spark, dir, (11L to 13L).toDF("doc_id"), cap)
    // The fold's base snapshots are EMPTY — they must still carry a
    // readable schema (a zero-row partitioned write would not).
    val folded = LshIndexStore.compact(spark, dir)
    assert(LshIndexStore.bandsOf(spark, dir, folded).count() == 0)
    assert(LshIndexStore.pairs(spark, dir).count() == 0)
    assert(LshIndexStore.countsOf(spark, dir, folded).count() == 0)
    // Life goes on: a fresh admit onto the empty base pairs normally.
    LshIndexStore.admit(spark, dir, bands(Seq(21L -> textB, 22L -> textB)), cap)
    assert(candidatePairs(LshIndexStore.pairs(spark, dir)
      .select(col("doc_a"), col("doc_b"))) == Set((21L, 22L)))
  }

  test("spanDupStats: a span shared by every doc stays bounded by doc count and within-doc repeats combine") {
    // The adversarial ubiquitous-boilerplate case: every doc repeats the
    // SAME 8 tokens 4 times -> 32 tokens, 25 span positions, every span
    // duplicated corpus-wide (100% of documents — beyond the >= 50%
    // threshold where a count window would serialize the corpus onto one
    // task). The (span_h, doc_id) pre-aggregation collapses within-doc
    // repeats map-side and the doc-frequency is a second partial-agg
    // groupBy joined back — no window group exists at all (pinned in
    // QueryPlanSpec).
    val loop = "alpha beta gamma delta epsilon zeta eta theta"
    val rows = (1L to 5L).map(i => i -> Seq.fill(4)(loop).mkString(" "))
    val got = queries.DedupQueries.spanDupStats(docsDF(rows))
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(got.size == 5 && got.values.forall(_ == ((25L, 25L, 1000L))), got.toString)
  }

  test("sorted-neighborhood banded rank equals the single-partition row_number on the real corpus") {
    val toks = graft.functions.text.normalizedTokens(col("text"))
    val keys = Tables.documents(spark, sf0001)
      .select(col("doc_id"), toks.as("toks"))
      .where(size(col("toks")) >= Dedup.shingleSize)
      .select(col("doc_id"),
        concat_ws(" ", slice(array_sort(array_distinct(col("toks"))), 1, 5)).as("k"))
      .localCheckpoint()
    val banded = queries.DedupQueries.snmRanked(keys)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val w = org.apache.spark.sql.expressions.Window.orderBy(col("k"), col("doc_id"))
    val plain = keys.select(col("doc_id"), row_number().over(w).cast("long").as("rank"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(banded == plain)
  }

  test("sorted-neighborhood pairs a mid-edit near-duplicate within window 2 among decoys") {
    // Doc 2 is doc 1 with one mid-document token changed: the sorted-token
    // key prefix is identical, so the two sort adjacent regardless of how
    // far apart their ids are, and the shingle verify passes (15 of 18
    // shingles shared). The decoys keep the window honest: window 2 means
    // only rank-adjacent docs ever become candidates.
    val base = "alpha bravo charlie delta echo foxtrot golf hotel india juliett" +
      " kilo lima mike november oscar papa quebec romeo sierra tango"
    val rows = Seq(
      1L -> base,
      5L -> base.replace("kilo", "zulu"),
      2L -> "uniform victor whiskey xray yankee zulu aardvark badger camel dingo",
      3L -> "quokka rabbit snake tiger unau vole wombat xerus yak zebra",
      4L -> "echo golf india kilo mike oscar quebec sierra uniform whiskey",
    )
    val pairs = queries.DedupQueries.sortedNeighborhoodPairs(docsDF(rows), window = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((1L, 5L)), pairs.toString)
  }

  test("q116 keep-best: exactly one representative per cluster, carrying its maximum content") {
    val docs = Tables.documents(spark, sf0001)
      .collect().map(r => r.getLong(0) -> r.getLong(4)).toMap // doc_id -> n_chars
    val out = SparkEntry.queries("q116_dedup_keep_best")(spark, sf0001)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(out.length == docs.size)
    out.groupBy(_._2).foreach { case (canon, members) =>
      val reps = members.map(_._3).distinct
      assert(reps.length == 1, s"cluster $canon has ${reps.length} representatives")
      val rep = reps.head
      assert(members.map(m => docs(m._1)).max == docs(rep),
        s"cluster $canon representative $rep lacks the max n_chars")
      assert(members.count(_._4 == 1L) == 1 &&
        members.find(_._4 == 1L).get._1 == rep)
    }
  }

  test("fuzzy name matching skips a degenerate block instead of going quadratic") {
    val spark0 = spark
    import spark0.implicits._
    // 10 distinct names share the 'gear' block key (> maxBlock = 5) — the
    // block stopped discriminating, so it is dropped whole; the 2-name
    // 'bolt' block survives and its 1-edit pair is found.
    val hot = Seq("alpha", "bravo", "carol", "delta", "erica",
      "frank", "grace", "henry", "irene", "julia").map(a => s"$a gear")
    val rows = (hot.flatMap(n => Seq(n, n)) ++ Seq("cold bolt", "bold bolt"))
      .toDF("p_name")
    val got = queries.Curation.fuzzyNameMatches(rows, maxBlock = 5)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    assert(got.toSeq == Seq(("bold bolt", "cold bolt", 1L)), got.mkString(","))
  }

  test("q133/q134 source matrix and yield curve agree with the verified q27 pair table") {
    val verified = SparkEntry.queries("q27_ngram_jaccard")(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    def survivors(tau: Long) = verified.filter { case (_, _, c, a, b) =>
      c * 1000 >= tau * (a + b - c)
    }
    // q133: per-source-pair counts sum to the thresholded pair count,
    // and every row is orientation-normalized.
    val matrix = SparkEntry.queries("q133_source_dup_matrix")(spark, sf0001).collect()
    assert(matrix.map(_.getLong(2)).sum ==
      survivors(queries.DedupQueries.dupMatrixTau.toLong).length)
    matrix.foreach(r => assert(r.getString(0) <= r.getString(1), "matrix not orientation-normalized"))
    // q134: each threshold's counts equal the brute-forced survivors,
    // and the curve is non-increasing (it must exhibit its knee).
    val curve = SparkEntry.queries("q134_dedup_yield_curve")(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(_._1)
    curve.foreach { case (tau, nPairs, nDocs) =>
      val sv = survivors(tau)
      assert(nPairs == sv.length, s"tau=$tau pairs $nPairs != ${sv.length}")
      assert(nDocs == sv.flatMap(p => Seq(p._1, p._2)).distinct.length, s"tau=$tau docs")
    }
    assert(curve.sliding(2).forall { case Array(a, b) => a._2 >= b._2; case _ => true },
      s"yield curve not monotone: $curve")
    assert(curve.head._2 > curve.last._2,
      s"yield curve is flat — thresholds carry no tuning information: $curve")
  }

  test("q143 rule attribution conserves documents and ties out with q46's survivors") {
    val r = SparkEntry.queries("q143_curation_attribution")(spark, sf0001).collect().head
    val (total, lang, qual, dup) = (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
    val (onlyLang, onlyQual, onlyDup, multi, kept) =
      (r.getLong(4), r.getLong(5), r.getLong(6), r.getLong(7), r.getLong(8))
    assert(total == Tables.documents(spark, sf0001).count(), "n_total")
    // Conservation: every document is kept, fails exactly one rule, or
    // fails several.
    assert(kept + onlyLang + onlyQual + onlyDup + multi == total, "attribution leaks docs")
    assert(onlyLang <= lang && onlyQual <= qual && onlyDup <= dup, "marginal > total")
    // The survivor count IS q46's output size — same rules, same pass.
    assert(kept == SparkEntry.queries("q46_curation")(spark, sf0001).count(),
      "attribution disagrees with the curation pipeline")
  }

  test("q130 per-vertex triangle counts equal a driver-side brute force over the candidate graph") {
    val sigs = Dedup.minhashSignatures(
      Tables.documents(spark, sf0001), "doc_id", "text").localCheckpoint()
    val edges = Dedup.lshCandidates(sigs)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val adj = edges.toSeq.flatMap { case (a, b) => Seq(a -> b, b -> a) }
      .groupMap(_._1)(_._2).map { case (k, vs) => k -> vs.toSet }
    // Brute force: for each edge (a,b) with a<b, common neighbors c > b
    // close a triangle counted once.
    val want = scala.collection.mutable.Map.empty[Long, Long].withDefaultValue(0L)
    edges.foreach { case (a, b) =>
      (adj(a) intersect adj(b)).filter(_ > b).foreach { c =>
        Seq(a, b, c).foreach(v => want(v) += 1)
      }
    }
    val got = SparkEntry.queries("q130_triangle_count")(spark, sf0001)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.values.sum % 3 == 0, "vertex incidences not a multiple of 3")
    assert(got.values.sum > 0, "candidate graph has no triangles at sf0.001")
    assert(got == want.toMap, s"per-vertex counts differ: got ${got.size} want ${want.size}")
  }

  test("every materialized shared table equals its inline derivation") {
    // The per-JVM parquet artifacts (verified pairs, minhash/simhash
    // signatures) must stay row-identical to the expressions that
    // define them — a drift here would silently serve stale semantics
    // to every rider while the riders' own specs keep passing.
    import graft.queries.{DedupQueries, TextAnalysis, TextCorpus}
    def rows(df: org.apache.spark.sql.DataFrame): Set[String] =
      df.collect().map(_.toString).toSet
    assert(rows(DedupQueries.verifiedPairs(spark, sf0001)) ==
      rows(DedupQueries.jaccardPairs(DedupQueries.shingleSets(spark, sf0001))),
      "verifiedPairs drifted from jaccardPairs(shingleSets)")
    assert(rows(DedupQueries.sigTable(spark, sf0001)) ==
      rows(Dedup.minhashSignatures(Tables.documents(spark, sf0001), "doc_id", "text")),
      "sigTable drifted from minhashSignatures")
    assert(rows(DedupQueries.simhashTable(spark, sf0001)) ==
      rows(Dedup.simhash(Tables.documents(spark, sf0001), "doc_id", "text")),
      "simhashTable drifted from simhash")
    assert(rows(TextCorpus.postingsTable(spark, sf0001)) ==
      rows(TextCorpus.weightedPostings(
        Tables.documents(spark, sf0001), TextCorpus.dfCapPct)),
      "postingsTable drifted from weightedPostings")
    assert(rows(TextCorpus.tfTable(spark, sf0001)) ==
      rows(graft.operators.InvertedIndex.words(
          Tables.documents(spark, sf0001), "doc_id", "text")
        .groupBy(org.apache.spark.sql.functions.col("file_id").as("doc_id"),
          org.apache.spark.sql.functions.col("word"))
        .agg(org.apache.spark.sql.functions.count(
          org.apache.spark.sql.functions.lit(1)).as("tf"))),
      "tfTable drifted from the tokenize+count derivation")
    // Bigram rows repeat by design (a doc can contain a pair twice):
    // compare as grouped counts, which is the multiset identity.
    def bigramCounts(df: org.apache.spark.sql.DataFrame): Set[String] =
      rows(df.groupBy("doc_id", "w1", "w2").count())
    val inlineBigrams = Tables.documents(spark, sf0001)
      .select(org.apache.spark.sql.functions.col("doc_id"),
        graft.functions.text.normalizedTokens(
          org.apache.spark.sql.functions.col("text")).as("toks"))
      .where(org.apache.spark.sql.functions.expr("size(toks) >= 2"))
      .selectExpr("doc_id",
        "explode(transform(sequence(0, size(toks)-2), i -> struct(toks[i] AS w1, toks[i+1] AS w2))) AS p")
      .selectExpr("doc_id", "p.w1 AS w1", "p.w2 AS w2")
    assert(bigramCounts(TextAnalysis.docBigramsTable(spark, sf0001)) ==
      bigramCounts(inlineBigrams),
      "docBigramsTable drifted from the tokenize+explode derivation")
  }
}
