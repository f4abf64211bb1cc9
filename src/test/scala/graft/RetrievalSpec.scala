package graft

import org.apache.spark.sql.functions._

/** Behavior of the sparse-retrieval scoring family beyond the DuckDB
  * oracle: BM25 (q115) shares q60's df-prune + capped-postings skeleton
  * but must act like BM25 — dense rank lists, and document-length
  * normalization that actually re-ranks relative to the linear-idf
  * scorer on the same corpus.
  */
class RetrievalSpec extends SparkSpec {

  private def topLists(name: String): Map[Long, Seq[Long]] =
    SparkEntry.queries(name)(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .groupBy(_._1).map { case (q, rs) => q -> rs.sortBy(_._2).map(_._3).toSeq }

  test("BM25 rank lists are dense top-5 per query and length normalization re-ranks vs linear-idf") {
    val bm = SparkEntry.queries("q115_bm25_topk")(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    bm.groupBy(_._1).foreach { case (q, rs0) =>
      val rs = rs0.sortBy(_._2)
      assert(rs.map(_._2).toSeq == (1L to rs.length).toSeq, s"query $q ranks not dense")
      assert(rs.length == 5, s"query $q returned ${rs.length} results")
      // Scores non-increasing down the rank list (ties broken by doc_id).
      assert(rs.map(_._4).toSeq == rs.map(_._4).sortBy(-_).toSeq, s"query $q score order")
    }
    val bmTop = topLists("q115_bm25_topk")
    val linTop = topLists("q60_sparse_topk")
    assert(bmTop.keySet == linTop.keySet)
    // Same corpus, same candidate skeleton — if no query re-ranks, the
    // length normalization is dead code. (At sf0.001 every query
    // re-ranks; >= 1 keeps the pin robust to data regeneration.)
    assert(bmTop.count { case (q, l) => linTop(q) != l } >= 1,
      "BM25 produced identical rankings to linear-idf everywhere")
  }

  test("q146 merged base+delta index is row-identical to q17's full rebuild") {
    val merged = SparkEntry.queries("q146_incremental_index")(spark, sf0001).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    val full = SparkEntry.queries("q17_inverted_index")(spark, sf0001).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    assert(merged.toSeq == full.toSeq, "incremental merge diverged from rebuild")
    // The split must be non-trivial: the delta batch carries real docs.
    val nDelta = Tables.documents(spark, sf0001)
      .where(col("doc_id") % 10 === 0).count()
    assert(nDelta > 0 && nDelta < Tables.documents(spark, sf0001).count())
  }

  test("index store: 2-delta chain read == compacted read; compact drops deltas; re-folding a folded delta is a no-op (crash idempotence)") {
    import graft.operators.{IndexStore, InvertedIndex}
    val docs = Tables.documents(spark, sf0001)
    def side(pred: org.apache.spark.sql.Column) = InvertedIndex
      .index(InvertedIndex.words(docs.where(pred), "doc_id", "text"))
    val store = tempDir("graft-index-store").toString + "/store"
    IndexStore.init(side(col("doc_id") % 10 =!= 0 && col("doc_id") % 10 =!= 7), store)
    IndexStore.appendDelta(side(col("doc_id") % 10 === 0), store)
    IndexStore.appendDelta(side(col("doc_id") % 10 === 7), store)
    def snap(): Set[(String, String)] = IndexStore.read(spark, store)
      .select(col("word"), concat_ws(",", col("file_ids")).as("ids"))
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    val full = side(lit(true))
      .select(col("word"), concat_ws(",", col("file_ids")).as("ids"))
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    val chain = snap()
    assert(chain == full, "chain read diverged from full rebuild")
    assert(IndexStore.compact(spark, store) == 2)
    assert(snap() == full, "compacted read diverged from chain read")
    assert(IndexStore.chainAudit(spark, store)._1 == 0, "compact left deltas in the head chain")
    // Compact on an already-compact chain is a no-op...
    assert(IndexStore.compact(spark, store) == 0)
    // ...and the post-compact read plan is a single scan: no merge
    // aggregate survives in the one-table fast path.
    import org.apache.spark.sql.catalyst.plans.logical.Aggregate
    assert(IndexStore.read(spark, store).queryExecution.optimizedPlan
      .collect { case a: Aggregate => a }.isEmpty,
      "single-base read still pays a merge aggregate")
    // Crash between base publish and delta drop == a delta whose
    // postings the base already contains. Union idempotence makes the
    // re-merge (and a retried compact) answer-preserving.
    IndexStore.appendDelta(side(col("doc_id") % 10 === 7), store)
    assert(snap() == full, "re-merged already-folded delta changed the index")
    assert(IndexStore.compact(spark, store) == 1)
    assert(snap() == full, "retried compact changed the index")
  }

  test("IndexStore chainAudit/compactIfNeeded: folded prediction equals the physical fold; the trigger fires exactly at the policy crossing") {
    import graft.operators.{IndexStore, InvertedIndex}
    val docs = Tables.documents(spark, sf0001)
    def side(pred: org.apache.spark.sql.Column) = InvertedIndex
      .index(InvertedIndex.words(docs.where(pred), "doc_id", "text"))
    val store = tempDir("graft-index-audit").toString + "/store"
    IndexStore.init(side(col("doc_id") % 10 =!= 0 && col("doc_id") % 10 =!= 7), store)
    IndexStore.appendDelta(side(col("doc_id") % 10 === 0), store)
    IndexStore.appendDelta(side(col("doc_id") % 10 === 7), store)
    def snap(): Set[(String, String)] = IndexStore.read(spark, store)
      .collect().map(r => r.getString(0) -> r.getSeq[Long](1).mkString(" ")).toSet
    val before = snap()

    val (nSeg, readRows, foldedRows) = IndexStore.chainAudit(spark, store)
    assert(nSeg == 2)
    // Vocabulary overlaps across the parts, so the chain read scans
    // strictly more index rows than the folded base would hold.
    assert(readRows > foldedRows, s"audit fixture carries no overhead: $readRows vs $foldedRows")

    // Below the crossing: hold; deltas stay.
    val overheadMilli = readRows * 1000L / foldedRows
    assert(!IndexStore.compactIfNeeded(spark, store,
      maxOverheadMilli = overheadMilli + 1, maxSegments = 99))
    assert(IndexStore.chainAudit(spark, store)._1 == 2, "a held trigger mutated the chain")

    // At the crossing: fires, the folded base holds EXACTLY the
    // predicted rows, the answer is unchanged, the chain is compact.
    assert(IndexStore.compactIfNeeded(spark, store,
      maxOverheadMilli = overheadMilli, maxSegments = 99))
    val (nSeg2, readRows2, foldedRows2) = IndexStore.chainAudit(spark, store)
    assert(nSeg2 == 0 && readRows2 == foldedRows && foldedRows2 == foldedRows,
      s"post-fold base != predicted folded_rows: $readRows2 vs $foldedRows")
    assert(snap() == before, "policy-triggered compact changed the answer")

    // Segment-count arm fires regardless of overhead budget.
    IndexStore.appendDelta(side(col("doc_id") % 10 === 0), store)
    assert(IndexStore.compactIfNeeded(spark, store,
      maxOverheadMilli = Long.MaxValue, maxSegments = 1))
    assert(IndexStore.chainAudit(spark, store)._1 == 0)
  }

  test("index time travel (q161): AS-OF reconstructs every pre-compact chain state through the archive; vacuum fails old reads loudly") {
    import graft.operators.{IndexStore, InvertedIndex}
    val docs = Tables.documents(spark, sf0001)
    def side(pred: org.apache.spark.sql.Column) = InvertedIndex
      .index(InvertedIndex.words(docs.where(pred), "doc_id", "text"))
    val store = tempDir("graft-index-tt").toString + "/store"
    IndexStore.init(side(col("doc_id") % 10 =!= 0 && col("doc_id") % 10 =!= 7), store)
    IndexStore.appendDelta(side(col("doc_id") % 10 === 0), store)
    IndexStore.appendDelta(side(col("doc_id") % 10 === 7), store)
    def toSet(df: org.apache.spark.sql.DataFrame): Set[(String, String)] = df
      .select(col("word"), concat_ws(",", col("file_ids")).as("ids"))
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    // Snapshot all three versions BEFORE compaction (live-chain reads).
    val pre = (0 to 2).map(v => toSet(IndexStore.readAsOf(spark, store, v)))
    assert(pre(0) != pre(1) && pre(1) != pre(2), "fixture batches are not distinguishable")
    assert(IndexStore.compact(spark, store) == 2)
    // The SAME versions AFTER compaction: read through the folded generations.
    (0 to 2).foreach { v =>
      assert(toSet(IndexStore.readAsOf(spark, store, v)) == pre(v),
        s"AS-OF $v diverged across compaction")
    }
    // The head read and the full AS-OF agree (union associativity).
    assert(toSet(IndexStore.read(spark, store)) == pre(2))
    // Post-compact appends continue the monotone numbering: delta 3
    // extends history without colliding with the folded deltas 1/2.
    IndexStore.appendDelta(side(col("doc_id") % 10 === 7), store)
    assert(toSet(IndexStore.readAsOf(spark, store, 3)) == pre(2), "idempotent re-append changed v3")
    assert(toSet(IndexStore.readAsOf(spark, store, 2)) == pre(2))
    // Vacuum: history dies explicitly, the head keeps answering.
    IndexStore.vacuumArchives(store)
    val e = intercept[IllegalArgumentException](IndexStore.readAsOf(spark, store, 1))
    assert(e.getMessage.contains("addressable"), e.getMessage)
    assert(toSet(IndexStore.read(spark, store)) == pre(2))
  }

  test("index compact crash window: a dead writer's unpublished generation is invisible; a retried compact folds and keeps history") {
    import graft.operators.{GenChain, IndexStore, InvertedIndex}
    val docs = Tables.documents(spark, sf0001)
    def side(pred: org.apache.spark.sql.Column) = InvertedIndex
      .index(InvertedIndex.words(docs.where(pred), "doc_id", "text"))
    val store = tempDir("graft-index-crash").toString + "/store"
    IndexStore.init(side(col("doc_id") % 10 =!= 0 && col("doc_id") % 10 =!= 7), store)
    IndexStore.appendDelta(side(col("doc_id") % 10 === 0), store)
    IndexStore.appendDelta(side(col("doc_id") % 10 === 7), store)
    def toSet(df: org.apache.spark.sql.DataFrame): Set[(String, String)] = df
      .select(col("word"), concat_ws(",", col("file_ids")).as("ids"))
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    val pre = (0 to 2).map(v => toSet(IndexStore.readAsOf(spark, store, v)))

    // A compact that died after writing its complete generation tmp,
    // manifest included, but before the publishing rename.
    val dead = new java.io.File(store, ".gen-tmp-v3-pdeadt1")
    IndexStore.read(spark, store).write.parquet(s"$dead/base/2")
    java.nio.file.Files.write(new java.io.File(dead, "_graft_manifest.json").toPath,
      """{"generation":3,"txn":-1}""".getBytes("UTF-8"))
    assert(GenChain.currentGeneration(store) == 2, "an unpublished tmp became the head")
    assert(IndexStore.chainAudit(spark, store)._1 == 2)
    (0 to 2).foreach { v =>
      assert(toSet(IndexStore.readAsOf(spark, store, v)) == pre(v),
        s"AS-OF $v changed by the dead tmp")
    }

    // Retry: folds both deltas into v3; every state stays addressable.
    assert(IndexStore.compact(spark, store) == 2)
    assert(GenChain.currentGeneration(store) == 3)
    assert(IndexStore.chainAudit(spark, store)._1 == 0)
    assert(toSet(IndexStore.read(spark, store)) == pre(2), "retry changed the head index")
    (0 to 2).foreach { v =>
      assert(toSet(IndexStore.readAsOf(spark, store, v)) == pre(v), s"retry lost AS-OF $v")
    }
  }

  test("index store: two threads appending to one store land as distinct generations; the read is their union") {
    import java.util.concurrent.{Callable, CountDownLatch, Executors, TimeUnit}
    import graft.operators.{GenChain, IndexStore, InvertedIndex}
    val docs = Tables.documents(spark, sf0001)
    def side(pred: org.apache.spark.sql.Column) = InvertedIndex
      .index(InvertedIndex.words(docs.where(pred), "doc_id", "text"))
    val store = tempDir("graft-index-race").toString + "/store"
    IndexStore.init(side(col("doc_id") % 10 =!= 0 && col("doc_id") % 10 =!= 7), store)
    val pool = Executors.newFixedThreadPool(2)
    val gate = new CountDownLatch(1)
    val appends = Seq(col("doc_id") % 10 === 0, col("doc_id") % 10 === 7).map { pred =>
      pool.submit(new Callable[String] {
        def call(): String = { gate.await(); IndexStore.appendDelta(side(pred), store) }
      })
    }
    gate.countDown()
    pool.shutdown()
    assert(pool.awaitTermination(300, TimeUnit.SECONDS))
    val published = appends.map(_.get())
    assert(published.distinct.size == 2, s"both appends claimed one generation: $published")
    assert(GenChain.currentGeneration(store) == 2)
    assert(IndexStore.chainAudit(spark, store)._1 == 2)
    def toSet(df: org.apache.spark.sql.DataFrame): Set[(String, String)] = df
      .select(col("word"), concat_ws(",", col("file_ids")).as("ids"))
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(toSet(IndexStore.read(spark, store)) == toSet(side(lit(true))),
      "the head read is not the union of the base and both batches")
  }

  test("q149 index-grain retract is row-identical to a rebuild over the surviving corpus") {
    val docs = Tables.documents(spark, sf0001)
    val retracted = SparkEntry.queries("q149_index_retract")(spark, sf0001).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    // Ground truth: rebuild from scratch over the tombstone-filtered docs.
    val rebuilt = graft.operators.InvertedIndex
      .fromLines(docs.where(col("doc_id") % 10 =!= 3), "doc_id", "text")
      .select(col("word"), concat_ws(" ", col("file_ids")).as("doc_ids"),
        col("doc_freq").cast("long").as("doc_freq"))
      .orderBy(col("doc_freq").desc, col("word")).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    assert(retracted.toSeq == rebuilt.toSeq, "retract diverged from rebuild")
    // The tombstone batch must be non-trivial, and retraction must have
    // actually shrunk something (some posting list lost a doc).
    val nDel = docs.where(col("doc_id") % 10 === 3).count()
    assert(nDel > 0 && nDel < docs.count())
    val full = SparkEntry.queries("q17_inverted_index")(spark, sf0001).collect()
      .map(r => (r.getString(0), r.getLong(2))).toMap
    val shrunk = retracted.count { case (w, _, df) => full.getOrElse(w, 0L) > df }
    assert(shrunk > 0, "no posting list shrank — tombstones touched nothing")
  }
}
