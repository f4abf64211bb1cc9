package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.{Dedup, IvfIndexStore, LshIndexStore, PipelineStores, PipelineTxn, VersionedLayout}

/** Coordinated exactly-once pipeline transactions across the full
  * training-data footprint (docs layout + LSH index + embeddings layout
  * + IVF index): every crash window between store commits resumes to
  * the clean-run state, index mutations derive from the layout's
  * committed segments (not re-evaluated inputs), and the alignment
  * audit reads the exact hole a mid-crash reader would see.
  */
class PipelineTxnSpec extends SparkSpec {

  // Ten-word texts: every doc clears the shingle minimum; wording varies
  // per id so signatures differ.
  private def docText(id: Long) =
    s"alpha bravo charlie delta echo foxtrot golf hotel item$id tail$id"

  private def docsDF(ids: Seq[Long]): DataFrame = {
    val s0 = spark
    import s0.implicits._
    ids.map(i => (((i % 2) + 1).toInt, i, docText(i))).toDF("pid", "doc_id", "text")
  }

  // Clearly-separated 2-d embeddings: even ids hug (1,0) -> cid 0, odd
  // ids hug (0,1) -> cid 1 — the frozen-centroid argmax is unambiguous.
  private def embDF(ids: Seq[Long]): DataFrame = {
    val s0 = spark
    import s0.implicits._
    ids.map { i =>
      val e = if (i % 2 == 0) Array(1.0, 0.001 * i) else Array(0.001 * i, 1.0)
      (((i % 2) + 1).toInt, i, e)
    }.toDF("pid", "vec_id", "embedding")
  }

  private val baseIds = (1L to 8L)
  private val deltaIds = (9L to 12L)

  /** A fresh four-store pipeline with the base corpus committed: docs
    * layout v0, LSH index g0, embeddings layout v0, IVF index g0.
    */
  private def freshPipeline(tag: String): PipelineStores = {
    val root = tempDir(s"graft-pipetxn-$tag").toString
    val p = PipelineStores(s"$root/docs", s"$root/lsh", s"$root/emb", s"$root/ivf",
      s"$root/meta")
    val s0 = spark
    import s0.implicits._
    VersionedLayout.writeBaseTable(spark, docsDF(baseIds), p.docs, Seq("doc_id"))
    LshIndexStore.init(spark, p.lsh,
      Dedup.bandRows(
        Dedup.minhashSignatures(docsDF(baseIds), "doc_id", "text"), rowsPerBand = 1))
    VersionedLayout.writeBaseTable(spark, embDF(baseIds), p.emb, Seq("vec_id"))
    val cent = Seq((0L, Array(1.0, 0.0), 1.0), (1L, Array(0.0, 1.0), 1.0))
      .toDF("cid", "ce", "cn")
    IvfIndexStore.init(spark, p.ivf,
      cent, baseIds.map(i => (i, i % 2)).toDF("vec_id", "cid"))
    p
  }

  /** Full observable state of a pipeline, as comparable sets. */
  private def stateOf(p: PipelineStores): (Set[Long], Set[Long], Set[(Long, Long)], Set[Long], Set[(Long, Long)]) = {
    val docs = VersionedLayout.readAsOf(spark, p.docs, VersionedLayout.currentVersion(p.docs))
      .select(col("doc_id")).collect().map(_.getLong(0)).toSet
    val lshDocs = LshIndexStore.bandsOf(spark, p.lsh, LshIndexStore.currentGeneration(p.lsh))
      .select(col("doc_id")).distinct().collect().map(_.getLong(0)).toSet
    val lshPairs = LshIndexStore.pairs(spark, p.lsh)
      .select(col("doc_a"), col("doc_b")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val emb = VersionedLayout.readAsOf(spark, p.emb, VersionedLayout.currentVersion(p.emb))
      .select(col("vec_id")).collect().map(_.getLong(0)).toSet
    val asg = IvfIndexStore.assignmentsOf(spark, p.ivf, IvfIndexStore.currentGeneration(p.ivf))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    (docs, lshDocs, lshPairs, emb, asg)
  }

  private def auditMap(p: PipelineStores): Map[String, (Long, Long, Long, Long)] =
    PipelineTxn.alignmentAudit(spark, p).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .toMap

  test("every ingest crash window resumes to the clean-run state, exactly-once", SlowTest) {
    val clean = freshPipeline("clean")
    PipelineTxn.ingest(spark, clean, docsDF(deltaIds), embDF(deltaIds), txn = 1L)
    val want = stateOf(clean)

    (0 to 3).foreach { w =>
      val p = freshPipeline(s"crash$w")
      intercept[PipelineTxn.InjectedCrash] {
        PipelineTxn.ingest(spark, p, docsDF(deltaIds), embDF(deltaIds), txn = 1L, failAfter = w)
      }
      // Resume: the SAME transaction re-runs; committed steps skip.
      val vs = PipelineTxn.ingest(spark, p, docsDF(deltaIds), embDF(deltaIds), txn = 1L)
      assert(stateOf(p) == want, s"crash window $w did not resume to the clean-run state")
      // Replay of the completed transaction is a no-op everywhere.
      assert(PipelineTxn.ingest(spark, p, docsDF(deltaIds), embDF(deltaIds), txn = 1L) == vs,
        s"crash window $w: replay after completion moved a store")
      assert(stateOf(p) == want)
      val a = auditMap(p)
      assert(a("documents~lsh") == ((12L, 12L, 0L, 0L)), s"window $w docs~lsh audit: $a")
      assert(a("embeddings~ivf") == ((12L, 12L, 0L, 0L)), s"window $w emb~ivf audit: $a")
    }
  }

  test("the alignment audit reads the exact hole of a mid-crash state, live and as-of") {
    val p = freshPipeline("audit")
    // Crash between the docs-table commit and the LSH admit: the classic
    // index-lags-table window.
    intercept[PipelineTxn.InjectedCrash] {
      PipelineTxn.ingest(spark, p, docsDF(deltaIds), embDF(deltaIds), txn = 1L, failAfter = 1)
    }
    val crashed = auditMap(p)
    assert(crashed("documents~lsh") == ((12L, 8L, 4L, 0L)),
      s"docs~lsh should show the 4-doc ingest lag: $crashed")
    assert(crashed("embeddings~ivf") == ((8L, 8L, 0L, 0L)),
      s"emb~ivf never advanced and should read aligned: $crashed")
    // Resume, then reconstruct the same hole AS OF the crash-time vector
    // — the layouts and chains keep history, so the audit time-travels.
    PipelineTxn.ingest(spark, p, docsDF(deltaIds), embDF(deltaIds), txn = 1L)
    assert(auditMap(p)("documents~lsh") == ((12L, 12L, 0L, 0L)))
    val asOf = PipelineTxn.alignmentAuditAsOf(spark, p,
      docsVer = 1, lshGen = 0, embVer = 0, ivfGen = 0).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .toMap
    assert(asOf("documents~lsh") == ((12L, 8L, 4L, 0L)) &&
      asOf("embeddings~ivf") == ((8L, 8L, 0L, 0L)),
      s"as-of audit did not reconstruct the crash-time hole: $asOf")
  }

  test("erase applies its durable intent even when the head moved between crash and resume", SlowTest) {
    val p = freshPipeline("erase")
    PipelineTxn.ingest(spark, p, docsDF(deltaIds), embDF(deltaIds), txn = 1L)
    // Erase every multiple-of-4 id; crash after the intent record and
    // the docs-table delete committed — the LSH retract and the whole
    // embeddings arm are still pending.
    intercept[PipelineTxn.InjectedCrash] {
      PipelineTxn.erase(spark, p, col("doc_id") % 4 === 0, col("vec_id") % 4 === 0,
        txn = 2L, failAfter = 2)
    }
    assert(auditMap(p)("documents~lsh") == ((9L, 12L, 0L, 3L)),
      "the un-retracted index should read 3 stale docs (4, 8, 12)")
    // The world moves on before recovery: doc 16 — which MATCHES the
    // erase predicate — is ingested by a later transaction.
    PipelineTxn.ingest(spark, p, docsDF(Seq(16L)), embDF(Seq(16L)), txn = 3L)
    // Resume the erase: every arm must apply the txn's RECORDED intent
    // ({4, 8, 12}) — never the predicate re-evaluated at the new head.
    // Doc 16 survives in ALL FOUR stores, including the embeddings arm
    // that had not committed before the crash (without the durable
    // intent, its re-evaluation would wrongly erase 16 — cross-table
    // divergence inside one transaction).
    PipelineTxn.erase(spark, p, col("doc_id") % 4 === 0, col("vec_id") % 4 === 0, txn = 2L)
    val (docs, lshDocs, _, emb, asg) = stateOf(p)
    val want = (baseIds ++ deltaIds).filterNot(_ % 4 == 0).toSet + 16L
    assert(docs == want, s"docs table: $docs")
    assert(lshDocs == want, s"LSH index erased the wrong set: $lshDocs")
    assert(emb == want, s"embeddings arm diverged from the intent: $emb")
    assert(asg.map(_._1) == want, s"IVF: $asg")
    val a = auditMap(p)
    assert(a("documents~lsh") == ((10L, 10L, 0L, 0L)) &&
      a("embeddings~ivf") == ((10L, 10L, 0L, 0L)), s"final audit not aligned: $a")
  }

  test("streaming coordinated ingest: one pipeline txn per micro-batch across all four stores, restart + mid-batch crash replay exactly once", SlowTest) {
    val s0 = spark
    import s0.implicits._
    val p = freshPipeline("stream")
    val clean = freshPipeline("streamclean")
    PipelineTxn.ingest(spark, clean, docsDF(Seq(9L, 10L)), embDF(Seq(9L, 10L)), txn = 0L)
    PipelineTxn.ingest(spark, clean, docsDF(Seq(11L, 12L)), embDF(Seq(11L, 12L)), txn = 1L)
    val want = stateOf(clean)

    def jointRows(ids: Seq[Long]): DataFrame =
      ids.map { i =>
        val e = if (i % 2 == 0) Array(1.0, 0.001 * i) else Array(0.001 * i, 1.0)
        (((i % 2) + 1).toInt, i, docText(i), e)
      }.toDF("pid", "id", "text", "embedding")

    val in = tempDir("graft-pipe-in")
    val chk = tempDir("graft-pipe-chk")
    val sink: (DataFrame, Long) => Unit = (b, id) => {
      // The micro-batch id IS the pipeline transaction id — ONE
      // coordinated exactly-once commit across all four stores per
      // micro-batch, the multi-sink shape a single-store foreachBatch
      // ingest cannot give.
      PipelineTxn.ingest(spark, p,
        b.select(col("pid"), col("id").as("doc_id"), col("text")),
        b.select(col("pid"), col("id").as("vec_id"), col("embedding")),
        txn = id)
      ()
    }
    def run(): Unit = {
      val q = spark.readStream
        .schema(jointRows(Seq(0L)).schema).parquet(in.toString)
        .writeStream.foreachBatch(sink)
        .option("checkpointLocation", chk.toString).start()
      try q.processAllAvailable() finally q.stop()
    }
    def stage(name: String, ids: Seq[Long]): Unit = {
      val tmp = tempDir("graft-pipe-stage")
      jointRows(ids).repartition(1).write.mode("overwrite").parquet(tmp.toString)
      val part = java.nio.file.Files.list(tmp).filter(_.toString.endsWith(".parquet"))
        .findFirst().get()
      java.nio.file.Files.copy(part, in.resolve(name))
    }

    stage("b0.parquet", Seq(9L, 10L))
    run()
    assert(VersionedLayout.currentVersion(p.docs) == 1
      && IvfIndexStore.currentGeneration(p.ivf) == 1)
    // Batch 1 crashes MID-PIPELINE before the stream delivers it: the
    // docs and LSH arms commit, the embeddings arm never runs — then
    // the restarted stream redelivers the batch and the sink's re-run
    // completes it.
    intercept[PipelineTxn.InjectedCrash] {
      PipelineTxn.ingest(spark, p, docsDF(Seq(11L, 12L)), embDF(Seq(11L, 12L)),
        txn = 1L, failAfter = 2)
    }
    stage("b1.parquet", Seq(11L, 12L))
    run() // restart from checkpoint; redelivers batch 1 only
    assert(stateOf(p) == want,
      "streamed pipeline diverged from the clean batch pipeline")
    val heads = (VersionedLayout.currentVersion(p.docs), LshIndexStore.currentGeneration(p.lsh),
      VersionedLayout.currentVersion(p.emb), IvfIndexStore.currentGeneration(p.ivf))
    assert(heads == ((2, 2, 2, 2)), s"a store saw a batch twice: $heads")
    // A further restart with no new input replays nothing.
    run()
    assert(stateOf(p) == want && VersionedLayout.currentVersion(p.docs) == 2)
    val a = auditMap(p)
    assert(a("documents~lsh") == ((12L, 12L, 0L, 0L)) &&
      a("embeddings~ivf") == ((12L, 12L, 0L, 0L)), s"audit not aligned: $a")
  }

  test("erase crash windows all resume to the clean-run state", SlowTest) {
    val clean = freshPipeline("eclean")
    PipelineTxn.ingest(spark, clean, docsDF(deltaIds), embDF(deltaIds), txn = 1L)
    PipelineTxn.erase(spark, clean, col("doc_id") % 3 === 0, col("vec_id") % 3 === 0, txn = 2L)
    val want = stateOf(clean)
    // Five windows: before the intent record, then between each of the
    // four store commits.
    (0 to 4).foreach { w =>
      val p = freshPipeline(s"ecrash$w")
      PipelineTxn.ingest(spark, p, docsDF(deltaIds), embDF(deltaIds), txn = 1L)
      intercept[PipelineTxn.InjectedCrash] {
        PipelineTxn.erase(spark, p, col("doc_id") % 3 === 0, col("vec_id") % 3 === 0,
          txn = 2L, failAfter = w)
      }
      val vs = PipelineTxn.erase(spark, p, col("doc_id") % 3 === 0, col("vec_id") % 3 === 0, txn = 2L)
      assert(stateOf(p) == want, s"erase crash window $w did not resume to the clean-run state")
      assert(PipelineTxn.erase(spark, p, col("doc_id") % 3 === 0, col("vec_id") % 3 === 0,
        txn = 2L) == vs, s"erase window $w: replay after completion moved a store")
      assert(stateOf(p) == want)
    }
  }

  test("two concurrent pipeline transactions both commit, sequential-equivalent state across all four stores", SlowTest) {
    val p = freshPipeline("race")
    val clean = freshPipeline("raceclean")
    PipelineTxn.ingest(spark, clean, docsDF(Seq(9L, 10L)), embDF(Seq(9L, 10L)), txn = 1L)
    PipelineTxn.ingest(spark, clean, docsDF(Seq(11L, 12L)), embDF(Seq(11L, 12L)), txn = 2L)
    val want = stateOf(clean)

    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val barrier = new java.util.concurrent.CyclicBarrier(2)
    def writer(ids: Seq[Long], txn: Long) = new Thread(() => {
      try {
        barrier.await()
        PipelineTxn.ingest(spark, p, docsDF(ids), embDF(ids), txn)
      } catch { case t: Throwable => errs.add(t) }
    })
    val ts = Seq(writer(Seq(9L, 10L), 1L), writer(Seq(11L, 12L), 2L))
    ts.foreach(_.start()); ts.foreach(_.join())
    assert(errs.isEmpty, s"concurrent pipeline txn failed: ${Option(errs.peek()).map(_.toString)}")
    assert(stateOf(p) == want,
      "concurrent pipelines did not converge to the sequential state")
    val heads = (VersionedLayout.currentVersion(p.docs), LshIndexStore.currentGeneration(p.lsh),
      VersionedLayout.currentVersion(p.emb), IvfIndexStore.currentGeneration(p.ivf))
    assert(heads == ((2, 2, 2, 2)), s"a store committed a batch twice or lost one: $heads")
    // Replays of both transactions are no-ops everywhere.
    PipelineTxn.ingest(spark, p, docsDF(Seq(9L, 10L)), embDF(Seq(9L, 10L)), txn = 1L)
    PipelineTxn.ingest(spark, p, docsDF(Seq(11L, 12L)), embDF(Seq(11L, 12L)), txn = 2L)
    assert(stateOf(p) == want && VersionedLayout.currentVersion(p.docs) == 2)
  }

  test("maintain defers history vacuum while an erase is pending; a post-vacuum resume falls back to the id retract; post-vacuum replay is a no-op", SlowTest) {
    val p = freshPipeline("vac")
    PipelineTxn.ingest(spark, p, docsDF(deltaIds), embDF(deltaIds), txn = 1L)
    // Erase crashes after intent + docs delete (v2); LSH/emb/IVF pending.
    intercept[PipelineTxn.InjectedCrash] {
      PipelineTxn.erase(spark, p, col("doc_id") % 4 === 0, col("vec_id") % 4 === 0,
        txn = 2L, failAfter = 2)
    }
    // Maintenance with aggressive retention must NOT vacuum while the
    // erase is in flight, and must NOT reclaim its intent.
    val rep = PipelineTxn.maintain(spark, p, keepLast = 0, minReclaimRows = 1L,
      reclaimIntentsBelowTxn = 100L).collect()
      .map(r => r.getString(0) -> (r.getBoolean(4), r.getLong(5))).toMap
    assert(!rep("docs")._1 && !rep("emb")._1,
      "maintain vacuumed layout history out from under a pending erase")
    assert(rep("meta")._2 == 0L, "maintain reclaimed a pending erase's intent")
    assert(new java.io.File(s"${p.meta}/_intents/txn2").isDirectory)
    // An operator forces the vacuum anyway (horizon above the delete's
    // pre-state): the resumed LSH arm cannot recompute bands from
    // readAsOf(dv - 1) and must fall back to the id-driven retract —
    // the erase still completes to the same state.
    VersionedLayout.vacuum(spark, p.docs, keepFrom = 2)
    assert(VersionedLayout.horizon(p.docs) == 2)
    PipelineTxn.erase(spark, p, col("doc_id") % 4 === 0, col("vec_id") % 4 === 0, txn = 2L)
    val (docs, lshDocs, _, emb, asg) = stateOf(p)
    val want = (baseIds ++ deltaIds).filterNot(_ % 4 == 0).toSet
    assert(docs == want && lshDocs == want && emb == want && asg.map(_._1) == want,
      s"post-vacuum resume diverged: $docs / $lshDocs / $emb")
    // A replay of the now-applied erase skips on its stamps WITHOUT
    // touching the vacuumed as-of read.
    val after = stateOf(p)
    PipelineTxn.erase(spark, p, col("doc_id") % 4 === 0, col("vec_id") % 4 === 0, txn = 2L)
    assert(stateOf(p) == after, "post-vacuum replay moved a store")
    // The scheduled no-op health check skips the per-store deep counts.
    val shallow = PipelineTxn.maintain(spark, p, keepLast = 0, minReclaimRows = 1L,
      reclaimIntentsBelowTxn = 0L, deepCounts = false).collect()
    assert(shallow.filter(_.getString(0) != "meta").forall(_.getLong(2) == -1L),
      "deepCounts = false still ran the per-store key scans")
    assert(stateOf(p) == after, "a shallow maintain pass moved a store")
  }

  test("maintain's RETAIN-window arm: the time policy vacuums both layouts at the cutoff, refuses below-horizon reads after, and still defers while an erase is pending", SlowTest) {
    import graft.operators.VersionedLayout
    val p = freshPipeline("vacts")
    PipelineTxn.ingest(spark, p, docsDF(deltaIds), embDF(deltaIds), txn = 1L)
    // A completed erase + a compaction give both layouts archive mass
    // a retention vacuum can reclaim.
    PipelineTxn.erase(spark, p, col("doc_id") % 4 === 0, col("vec_id") % 4 === 0, txn = 2L)
    VersionedLayout.appendCompact(spark, p.docs, 0.01)
    VersionedLayout.appendCompact(spark, p.emb, 0.01)
    val window = 1000L
    val cutoffNow = math.max(
      VersionedLayout.commitTimes(p.docs).last._2,
      VersionedLayout.commitTimes(p.emb).last._2) + window
    // The time arm fires on both layouts (cutoff at each head's own
    // effective time), raises both horizons, and the report says so.
    val rep = PipelineTxn.maintain(spark, p, keepLast = 99, minReclaimRows = 0L,
      reclaimIntentsBelowTxn = 100L, retainWindow = Some((window, cutoffNow)))
      .collect().map(r => r.getString(0) -> r.getBoolean(4)).toMap
    assert(rep("docs") && rep("emb"),
      s"RETAIN-window arm did not vacuum both layouts: $rep")
    assert(VersionedLayout.horizon(p.docs) == VersionedLayout.currentVersion(p.docs) - 1,
      "docs horizon not at the cutoff version") // -1: the vacuum entry itself
    intercept[IllegalArgumentException](VersionedLayout.readAsOf(spark, p.docs, 0))
    // The state is untouched by retention: live reads keep answering.
    val (docs, lshDocs, _, emb, _) = stateOf(p)
    val want = (baseIds ++ deltaIds).filterNot(_ % 4 == 0).toSet
    assert(docs == want && lshDocs == want && emb == want,
      "time-based retention changed live state")
    // Deferral is policy-independent: a pending erase blocks the time
    // arm exactly like the count arm.
    intercept[PipelineTxn.InjectedCrash] {
      PipelineTxn.erase(spark, p, col("doc_id") % 8 === 2, col("vec_id") % 8 === 2,
        txn = 3L, failAfter = 2)
    }
    val rep2 = PipelineTxn.maintain(spark, p, keepLast = 99, minReclaimRows = 0L,
      reclaimIntentsBelowTxn = 100L,
      retainWindow = Some((window, System.currentTimeMillis() + 3600000L)))
      .collect().map(r => r.getString(0) -> r.getBoolean(4)).toMap
    assert(!rep2("docs") && !rep2("emb"),
      "RETAIN-window arm vacuumed out from under a pending erase")
    // The resumed erase completes to the same state it would have.
    PipelineTxn.erase(spark, p, col("doc_id") % 8 === 2, col("vec_id") % 8 === 2, txn = 3L)
    val want2 = want.filterNot(_ % 8 == 2)
    val (d2, l2, _, e2, _) = stateOf(p)
    assert(d2 == want2 && l2 == want2 && e2 == want2,
      "erase resumed after a deferred time-maintenance pass diverged")
  }

  test("erase-vs-reingest conflict: Fail surfaces it loudly; RetractAndReadmit restores index == table for the recorded keys", SlowTest) {
    val p = freshPipeline("conflict")
    PipelineTxn.ingest(spark, p, docsDF(deltaIds), embDF(deltaIds), txn = 1L)
    // Erase {4, 8, 12}; crash after intent + docs delete — the LSH
    // retract and the whole embeddings arm are pending.
    intercept[PipelineTxn.InjectedCrash] {
      PipelineTxn.erase(spark, p, col("doc_id") % 4 === 0, col("vec_id") % 4 === 0,
        txn = 2L, failAfter = 2)
    }
    // Inside the crash window, upstream re-ingests doc 4 with REVISED
    // wording (its embedding job lags — an empty vector batch, the
    // realistic shape of a corrected-document hotfix).
    val redoc = docsDF(Seq(4L)).withColumn("text",
      concat(col("text"), lit(" revised wording after the erasure request")))
    PipelineTxn.ingest(spark, p, redoc, embDF(Seq.empty[Long]), txn = 3L)
    // Default policy: the resumed erase REFUSES loudly — no store moved
    // by the refused arm, the operator decides.
    intercept[PipelineTxn.EraseConflictException] {
      PipelineTxn.erase(spark, p, col("doc_id") % 4 === 0, col("vec_id") % 4 === 0, txn = 2L)
    }
    // Resolution WITHOUT manual surgery: retract both incarnations,
    // re-admit the live one from the table's committed state.
    PipelineTxn.erase(spark, p, col("doc_id") % 4 === 0, col("vec_id") % 4 === 0,
      txn = 2L, onConflict = PipelineTxn.EraseConflict.RetractAndReadmit)
    val (docs, lshDocs, _, emb, asg) = stateOf(p)
    val wantDocs = (baseIds ++ deltaIds).filterNot(_ % 4 == 0).toSet + 4L
    val wantVecs = (baseIds ++ deltaIds).filterNot(_ % 4 == 0).toSet
    assert(docs == wantDocs, s"docs table: $docs")
    assert(lshDocs == wantDocs, s"LSH did not re-admit the re-ingested key: $lshDocs")
    assert(emb == wantVecs && asg.map(_._1) == wantVecs,
      s"embedding arms diverged from the recorded intent: $emb / $asg")
    // The re-admitted rows are the REVISED text's bands — re-derived
    // from the table, never the erase's stale recompute.
    val stored = LshIndexStore.bandsOf(spark, p.lsh,
        LshIndexStore.currentGeneration(p.lsh))
      .where(col("doc_id") === 4L)
      .select(col("band"), col("key")).collect().map(r => (r.getInt(0), r.getLong(1))).toSet
    val expected = Dedup.bandRows(
        Dedup.minhashSignatures(redoc, "doc_id", "text"), rowsPerBand = 1)
      .select(col("band"), col("key")).collect().map(r => (r.getInt(0), r.getLong(1))).toSet
    assert(stored == expected, "re-admitted bands are not the revised text's")
    val a = auditMap(p)
    assert(a("documents~lsh") == ((10L, 10L, 0L, 0L)) &&
      a("embeddings~ivf") == ((9L, 9L, 0L, 0L)), s"post-resolution audit: $a")
    // Replay of the resolved erase is a no-op under either policy; the
    // intent (pinned until the repair committed) is now reclaimable.
    val after = stateOf(p)
    PipelineTxn.erase(spark, p, col("doc_id") % 4 === 0, col("vec_id") % 4 === 0, txn = 2L)
    assert(stateOf(p) == after, "replay of the resolved erase moved a store")
    assert(PipelineTxn.vacuumIntents(p, keepFromTxn = 10L) == 1)
  }

  test("maintain's scheduled IVF retrain equals the explicit epoch flip, and a second pass fires nothing") {
    import graft.functions.vectors
    val s0 = spark
    import s0.implicits._
    val p = freshPipeline("schedretrain")
    val twin = freshPipeline("explretrain")
    Seq(p, twin).foreach(x =>
      PipelineTxn.ingest(spark, x, docsDF(deltaIds), embDF(deltaIds), txn = 1L))
    def liveProj(x: PipelineStores) =
      VersionedLayout.readAsOf(spark, x.emb, VersionedLayout.currentVersion(x.emb))
        .select(col("vec_id"), col("embedding"), vectors.norm(col("embedding")).as("nrm"))
    def flip(x: PipelineStores): Int = {
      val e = liveProj(x).localCheckpoint()
      val live = IvfIndexStore.assignmentsOf(spark, x.ivf,
        IvfIndexStore.currentGeneration(x.ivf))
      val cent2 = graft.queries.Similarity.centroids(e, live).localCheckpoint()
      IvfIndexStore.retrain(spark, x.ivf, cent2,
        graft.queries.Similarity.nearest(e, cent2, "vec_id", "embedding", "nrm"))
    }
    flip(twin) // the explicit q177 recipe
    def policy = PipelineTxn.IvfRetrainPolicy(
      audit = () => Seq((0L,
        IvfIndexStore.epochOf(p.ivf, IvfIndexStore.currentGeneration(p.ivf)) == 0))
        .toDF("generation", "retrain_recommended"),
      retrain = () => flip(p))
    def pass() = PipelineTxn.maintain(spark, p, keepLast = 0,
      minReclaimRows = Long.MaxValue, reclaimIntentsBelowTxn = 0L,
      ivfRetrain = Some(policy)).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getBoolean(3), r.getBoolean(6))).toMap
    val rep1 = pass()
    assert(rep1("ivf")._3, "the recommended retrain did not fire through maintain")
    assert(!rep1("ivf")._2, "the fold consult fired on a freshly retrained chain")
    def ivfState(x: PipelineStores) = {
      val g = IvfIndexStore.currentGeneration(x.ivf)
      (IvfIndexStore.epochOf(x.ivf, g),
        IvfIndexStore.centroidsOf(spark, x.ivf, g).collect()
          .map(r => (r.getLong(0), r.getSeq[Double](1).toVector, r.getDouble(2))).toSet,
        IvfIndexStore.assignmentsOf(spark, x.ivf, g).collect()
          .map(r => (r.getLong(0), r.getLong(1))).toSet)
    }
    assert(ivfState(p) == ivfState(twin),
      "the scheduled retrain diverged from the explicit epoch flip")
    // Second scheduled pass: the re-audit reads healthy (epoch 1) and
    // nothing fires.
    val head = IvfIndexStore.currentGeneration(p.ivf)
    val rep2 = pass()
    assert(!rep2("ivf")._3 && !rep2("ivf")._2,
      "an already-retrained chain re-fired on the second pass")
    assert(IvfIndexStore.currentGeneration(p.ivf) == head
      && rep2("ivf")._1 == head.toLong, "the idle pass moved the IVF head")
  }

  test("intent GC reclaims only fully-applied transactions; retained intents keep late resumes convergent") {
    val p = freshPipeline("gc")
    PipelineTxn.erase(spark, p, col("doc_id") % 4 === 0, col("vec_id") % 4 === 0, txn = 1L)
    // A second erase crashes with its intent recorded but the LSH,
    // embeddings, and IVF arms uncommitted.
    intercept[PipelineTxn.InjectedCrash] {
      PipelineTxn.erase(spark, p, col("doc_id") % 3 === 0, col("vec_id") % 3 === 0,
        txn = 2L, failAfter = 2)
    }
    def intentExists(txn: Long) =
      new java.io.File(s"${p.meta}/_intents/txn$txn").isDirectory
    assert(intentExists(1L) && intentExists(2L))
    // GC below txn 10: txn 1 (fully applied) goes; txn 2 (pending arms)
    // MUST stay, whatever its age.
    assert(PipelineTxn.vacuumIntents(p, keepFromTxn = 10L) == 1)
    assert(!intentExists(1L), "fully-applied intent not reclaimed")
    assert(intentExists(2L), "pending intent reclaimed — a late resume would diverge")
    // Replay of the reclaimed txn is still a no-op (arms skip on their
    // stamps before ever reading the record).
    val before = stateOf(p)
    PipelineTxn.erase(spark, p, col("doc_id") % 4 === 0, col("vec_id") % 4 === 0, txn = 1L)
    assert(stateOf(p) == before, "replay after intent GC moved a store")
    // The retained intent completes the pending transaction on resume,
    // and only then becomes reclaimable.
    PipelineTxn.erase(spark, p, col("doc_id") % 3 === 0, col("vec_id") % 3 === 0, txn = 2L)
    val (docs, lshDocs, _, emb, asg) = stateOf(p)
    val want = baseIds.filterNot(i => i % 4 == 0 || i % 3 == 0).toSet
    assert(docs == want && lshDocs == want && emb == want && asg.map(_._1) == want,
      s"resumed erase diverged: $docs / $lshDocs / $emb")
    assert(PipelineTxn.vacuumIntents(p, keepFromTxn = 10L) == 1)
    assert(!intentExists(2L))
  }

  test("intent tmp lease reads the newest mtime in the tree: an aged root over a fresh docids/ part is in flight") {
    val p = freshPipeline("tmplease")
    val intents = new java.io.File(s"${p.meta}/_intents")
    val aged = System.currentTimeMillis() - 120000L
    // A writer still inside its intent write: the predicate output just
    // landed under docids/, which leaves the tmp root's mtime as it was.
    val inFlight = new java.io.File(intents, "txn99.tmp-pdeadt9")
    val part = new java.io.File(inFlight, "docids/part-00000.parquet")
    java.nio.file.Files.createDirectories(part.toPath.getParent)
    java.nio.file.Files.write(part.toPath, "bytes".getBytes)
    inFlight.setLastModified(aged)
    // An abandoned one: every file in its tree is past the lease.
    val abandoned = new java.io.File(intents, "txn98.tmp-pbeeft9")
    val oldPart = new java.io.File(abandoned, "docids/part-00000.parquet")
    java.nio.file.Files.createDirectories(oldPart.toPath.getParent)
    java.nio.file.Files.write(oldPart.toPath, "bytes".getBytes)
    Seq(oldPart, oldPart.getParentFile, abandoned).foreach(_.setLastModified(aged))
    assert(PipelineTxn.vacuumIntents(p, keepFromTxn = 10L, orphanLeaseMs = 60000L) == 0)
    assert(part.isFile, "intent vacuum swept an in-flight tmp on its root mtime alone")
    assert(!abandoned.exists(), "an all-aged intent tmp survived the lease")
  }

  test("pipeline restore: every crash window resumes to the pre-incident state, replay moves nothing, a no-op restore skips the index arms", SlowTest) {
    // Pre-incident reference: base + ingest(9..12) + erase(3,4,9,10)
    // -> heads docs v2 / lsh g2 / emb v2 / ivf g2.
    val clean = freshPipeline("rst-clean")
    PipelineTxn.ingest(spark, clean, docsDF(deltaIds), embDF(deltaIds), txn = 1L)
    PipelineTxn.erase(spark, clean, col("doc_id").isin(3L, 4L, 9L, 10L),
      col("vec_id").isin(3L, 4L, 9L, 10L), txn = 2L)
    val want = stateOf(clean)

    // The incident on top: a bad batch (13,14) AND an accidental erase
    // (5,11); ONE restore to (v2, v2) must undo both — retract the bad
    // rows, re-admit the wrongly-erased ones — from every crash window
    // (0..5 = before docs / after docs / after LSH retract / after LSH
    // admit / after emb / after IVF retract).
    (0 to 5).foreach { w =>
      val p = freshPipeline(s"rst$w")
      PipelineTxn.ingest(spark, p, docsDF(deltaIds), embDF(deltaIds), txn = 1L)
      PipelineTxn.erase(spark, p, col("doc_id").isin(3L, 4L, 9L, 10L),
        col("vec_id").isin(3L, 4L, 9L, 10L), txn = 2L)
      PipelineTxn.ingest(spark, p, docsDF(Seq(13L, 14L)), embDF(Seq(13L, 14L)), txn = 3L)
      PipelineTxn.erase(spark, p, col("doc_id").isin(5L, 11L),
        col("vec_id").isin(5L, 11L), txn = 4L)
      intercept[PipelineTxn.InjectedCrash] {
        PipelineTxn.restore(spark, p, 2, 2, txn = 5L, failAfter = w)
      }
      val vs = PipelineTxn.restore(spark, p, 2, 2, txn = 5L)
      assert(stateOf(p) == want,
        s"restore crash window $w did not resume to the pre-incident state")
      assert(PipelineTxn.restore(spark, p, 2, 2, txn = 5L) == vs,
        s"window $w: replaying the completed restore moved a store")
      assert(stateOf(p) == want)
      val a = auditMap(p)
      assert(a("documents~lsh") == ((8L, 8L, 0L, 0L))
        && a("embeddings~ivf") == ((8L, 8L, 0L, 0L)), s"window $w audit: $a")
    }

    // No-op restore: the heads already equal the target — nothing
    // commits and the index arms skip.
    val p2 = freshPipeline("rst-noop")
    PipelineTxn.ingest(spark, p2, docsDF(deltaIds), embDF(deltaIds), txn = 1L)
    def heads(p: PipelineStores) =
      (VersionedLayout.currentVersion(p.docs), LshIndexStore.currentGeneration(p.lsh),
        VersionedLayout.currentVersion(p.emb), IvfIndexStore.currentGeneration(p.ivf))
    val before = heads(p2)
    PipelineTxn.restore(spark, p2, 1, 1, txn = 9L)
    assert(heads(p2) == before, "a no-op restore moved a store")

    // Restore undoing ONLY an erase: every changed key is absent at the
    // pre-restore head, so the retract arm is EMPTY and the admit
    // re-inserts the erased rows — the clean pipeline returns to its
    // post-ingest corpus.
    PipelineTxn.restore(spark, clean, 1, 1, txn = 6L)
    assert(stateOf(clean)._1 == (baseIds ++ deltaIds).toSet,
      "erase-undo restore did not re-insert the erased docs")
    val a2 = auditMap(clean)
    assert(a2("documents~lsh") == ((12L, 12L, 0L, 0L))
      && a2("embeddings~ivf") == ((12L, 12L, 0L, 0L)), s"erase-undo audit: $a2")
  }

  test("multi-batch streaming soak: 24 coordinated micro-batches with interleaved erases, a mid-batch crash and a mid-stream maintenance pass converge to the ground-up rebuild", SlowTest) {
    val s0 = spark
    import s0.implicits._
    val p = freshPipeline("soak")

    // 24-op schedule, txn = micro-batch id: ingest batches add two new
    // docs each; every sixth batch erases the two ids a five-batches-
    // earlier ingest added (every erase targets committed state).
    // Ids 9..48 ingested; 9,10 / 19,20 / 29,30 / 39,40 erased.
    val ops: Seq[(String, Seq[Long])] = {
      var next = 9L
      (0 until 24).map { k =>
        if (k % 6 == 5) ("erase", Seq(9L + (k / 6) * 10, 10L + (k / 6) * 10))
        else { val ids = Seq(next, next + 1); next += 2; ("ingest", ids) }
      }
    }
    val erased = ops.filter(_._1 == "erase").flatMap(_._2).toSet
    val survivors = ((1L to 48L).toSet -- erased).toSeq.sorted

    val in = tempDir("graft-soak-in")
    val chk = tempDir("graft-soak-chk")
    def rows(op: String, ids: Seq[Long]): DataFrame = ids.map { i =>
      val e = if (i % 2 == 0) Array(1.0, 0.001 * i) else Array(0.001 * i, 1.0)
      (((i % 2) + 1).toInt, i, docText(i), e, op)
    }.toDF("pid", "id", "text", "embedding", "op")
    def stage(k: Int): Unit = {
      val (op, ids) = ops(k)
      val tmp = tempDir("graft-soak-stage")
      rows(op, ids).repartition(1).write.mode("overwrite").parquet(tmp.toString)
      val part = java.nio.file.Files.list(tmp).filter(_.toString.endsWith(".parquet"))
        .findFirst().get()
      val dst = in.resolve(f"b$k%03d.parquet")
      java.nio.file.Files.copy(part, dst)
      // FileStreamSource orders by modification time: force strictly
      // increasing mtimes so file k is always delivered as txn k.
      java.nio.file.Files.setLastModifiedTime(dst,
        java.nio.file.attribute.FileTime.fromMillis(1000000000000L + k * 10000L))
    }
    val sink: (DataFrame, Long) => Unit = (b, id) => {
      val eraseIds = b.filter(col("op") === "erase")
        .select(col("id")).collect().map(_.getLong(0)).toSeq // bounded: <= 2 ids
      if (eraseIds.nonEmpty)
        PipelineTxn.erase(spark, p, col("doc_id").isin(eraseIds: _*),
          col("vec_id").isin(eraseIds: _*), txn = id)
      else
        PipelineTxn.ingest(spark, p,
          b.select(col("pid"), col("id").as("doc_id"), col("text")),
          b.select(col("pid"), col("id").as("vec_id"), col("embedding")),
          txn = id)
      ()
    }
    def run(): Unit = {
      val q = spark.readStream
        .schema(rows("ingest", Seq(0L)).schema)
        .option("maxFilesPerTrigger", 1) // one file = one micro-batch = one txn
        .parquet(in.toString)
        .writeStream.foreachBatch(sink)
        .option("checkpointLocation", chk.toString).start()
      try q.processAllAvailable() finally q.stop()
    }

    // Phase 1: twelve micro-batches (ten ingests, two erases).
    (0 until 12).foreach(stage)
    run()
    val heads1 = (VersionedLayout.currentVersion(p.docs), LshIndexStore.currentGeneration(p.lsh),
      VersionedLayout.currentVersion(p.emb), IvfIndexStore.currentGeneration(p.ivf))
    assert(heads1 == ((12, 12, 12, 12)), s"phase-1 heads drifted: $heads1")

    // Batch 12 crashes MID-PIPELINE before the stream delivers it (docs
    // + LSH commit, embeddings arm never runs), then a maintenance pass
    // runs IN the crash window — checkpoints, vacuums (keepLast keeps
    // the half-applied txn's segment), folds chains, and reclaims the
    // txn-5 erase intent while retaining txn-11's.
    intercept[PipelineTxn.InjectedCrash] {
      PipelineTxn.ingest(spark, p, docsDF(Seq(29L, 30L)), embDF(Seq(29L, 30L)),
        txn = 12L, failAfter = 2)
    }
    PipelineTxn.maintain(spark, p, keepLast = 3, minReclaimRows = 0,
      reclaimIntentsBelowTxn = 6L).collect()

    // Phase 2: the restarted stream delivers batch 12 (the sink's
    // re-run completes the half-applied transaction on its stamps)
    // and the remaining eleven batches.
    (12 until 24).foreach(stage)
    run()

    val (docs, lshDocs, lshPairs, emb, asg) = stateOf(p)
    assert(docs == survivors.toSet && lshDocs == survivors.toSet
      && emb == survivors.toSet, s"soak survivors diverged: $docs")
    assert(asg == survivors.map(i => (i, i % 2)).toSet, s"soaked IVF diverged: $asg")
    val rebuilt = Dedup.lshCandidates(
      Dedup.minhashSignatures(docsDF(survivors), "doc_id", "text"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(lshPairs == rebuilt, "soaked LSH index diverged from the ground-up rebuild")
    val a = auditMap(p)
    assert(a("documents~lsh") == ((40L, 40L, 0L, 0L))
      && a("embeddings~ivf") == ((40L, 40L, 0L, 0L)), s"soak audit not aligned: $a")

    // Stamp-space integrity: a no-input restart replays nothing, and
    // replaying a mid-soak ingest plus BOTH erase flavors — the
    // reclaimed-intent one (txn 5, vacuumed mid-stream) and the
    // retained one (txn 11) — moves no store. The lit(true) predicates
    // make the assertion sharp: a stamp miss would erase everything.
    val headsBefore = (VersionedLayout.currentVersion(p.docs), LshIndexStore.currentGeneration(p.lsh),
      VersionedLayout.currentVersion(p.emb), IvfIndexStore.currentGeneration(p.ivf))
    run()
    PipelineTxn.ingest(spark, p, docsDF(Seq(13L, 14L)), embDF(Seq(13L, 14L)), txn = 2L)
    PipelineTxn.erase(spark, p, lit(true), lit(true), txn = 5L)
    PipelineTxn.erase(spark, p, lit(true), lit(true), txn = 11L)
    val headsAfter = (VersionedLayout.currentVersion(p.docs), LshIndexStore.currentGeneration(p.lsh),
      VersionedLayout.currentVersion(p.emb), IvfIndexStore.currentGeneration(p.ivf))
    assert(headsAfter == headsBefore, s"a replayed txn moved a store: $headsBefore -> $headsAfter")

    // A closing maintenance pass reclaims the remaining intents and
    // leaves the logical state untouched.
    PipelineTxn.maintain(spark, p, keepLast = 3, minReclaimRows = 0,
      reclaimIntentsBelowTxn = 24L).collect()
    assert(stateOf(p) == ((survivors.toSet, survivors.toSet, rebuilt,
      survivors.toSet, survivors.map(i => (i, i % 2)).toSet)))
  }

  test("decodeStamp inverts every stamp-space constructor, including the restore pair and the sentinel") {
    // The constructors are private by design; their published formulas
    // (ingest 4k, erase 4k+1, repair 4k+2, restore 16k+3 / 16k+7 — see
    // the stamp-space scaladoc) are the contract the ledger (q194)
    // decodes. Pin the inverse over the id range the spaces admit.
    for (t <- Seq(0L, 1L, 2L, 7L, 1000L, 1L << 40)) {
      assert(PipelineTxn.decodeStamp(4 * t) == ((t, "ingest")))
      assert(PipelineTxn.decodeStamp(4 * t + 1) == ((t, "erase")))
      assert(PipelineTxn.decodeStamp(4 * t + 2) == ((t, "erase-repair")))
      assert(PipelineTxn.decodeStamp(16 * t + 3) == ((t, "restore-table")))
      assert(PipelineTxn.decodeStamp(16 * t + 7) == ((t, "restore-index")))
    }
    // The two reserved ≡3 (mod 4) residues decode loudly as reserved,
    // never as a known action.
    assert(PipelineTxn.decodeStamp(11) == ((0L, "reserved")))
    assert(PipelineTxn.decodeStamp(15) == ((0L, "reserved")))
    // Non-transactional sentinel (base writes, batch maintenance).
    assert(PipelineTxn.decodeStamp(-1L) == ((-1L, "none")))
    // No two distinct (txn, action) pairs share a stamp: the spaces are
    // disjoint by residue, restore split from the 4k families by mod 4.
    val all = for {
      t <- 0L to 64L
      s <- Seq(4 * t, 4 * t + 1, 4 * t + 2, 16 * t + 3, 16 * t + 7)
    } yield s -> PipelineTxn.decodeStamp(s)
    all.groupBy(_._1).foreach { case (stamp, hits) =>
      assert(hits.map(_._2).distinct.size == 1,
        s"stamp $stamp decodes ambiguously: ${hits.map(_._2).distinct}")
    }
  }
}
