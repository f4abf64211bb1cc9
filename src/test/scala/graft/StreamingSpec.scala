package graft

import org.apache.spark.sql.DataFrame

import graft.streaming.EventStreams

/** Structured Streaming equivalence: each EventStreams transform run as a
  * file stream + memory sink must equal the same transform run in batch
  * mode (the unified-API contract the engine relies on).
  */
class StreamingSpec extends SparkSpec {

  private def batchEvents = Tables.events(spark, sf0001)

  /** The file stream source requires a DIRECTORY; stage the events
    * table into one THROUGH Tables.events so the staged files carry the
    * normalized nanos-as-long `ts` the batch schema declares.
    */
  private lazy val streamDir: String = {
    val dir = tempDir("graft-stream-events")
    batchEvents.write.mode("overwrite").parquet(dir.toString)
    dir.toString
  }

  private def runStream(name: String, transform: DataFrame => DataFrame,
      mode: String): DataFrame = {
    val stream = spark.readStream
      .schema(batchEvents.schema)
      .parquet(streamDir)
    val q = transform(stream).writeStream
      .format("memory").queryName(name).outputMode(mode).start()
    try q.processAllAvailable()
    finally q.stop()
    spark.table(name)
  }

  private def asSet(df: DataFrame): Set[String] =
    df.collect().map(_.toString).toSet

  test("windowed aggregates: streaming == batch") {
    val streamed = runStream("w_counts", EventStreams.windowedAggregates, "complete")
    val batch = EventStreams.windowedAggregates(batchEvents)
    assert(streamed.count() > 0)
    assert(asSet(streamed) == asSet(batch))
  }

  test("sliding windows: streaming == batch; every event lands in exactly 2 hops") {
    val streamed = runStream("w_sliding", EventStreams.slidingAggregates, "complete")
    val batch = EventStreams.slidingAggregates(batchEvents)
    assert(streamed.count() > 0)
    assert(asSet(streamed) == asSet(batch))
    // size/slide = 2: the sliding row mass is exactly twice the corpus.
    val total = batch.agg(org.apache.spark.sql.functions.sum("n")).first().getLong(0)
    assert(total == 2 * batchEvents.count(), s"hop duplication factor off: $total")
  }

  test("session windows: streaming == batch") {
    val streamed = runStream("w_sessions", EventStreams.sessionWindows(_), "complete")
    val batch = EventStreams.sessionWindows(batchEvents)
    assert(streamed.count() > 0)
    assert(asSet(streamed) == asSet(batch))
  }

  test("streaming index retract: arrivals + CDC tombstones converge to batch q149 (order-independent)") {
    import graft.streaming.IndexMaintenance
    import org.apache.spark.sql.functions.{col, lit}
    val docs = Tables.documents(spark, sf0001)
    // Stage the change stream as TWO files the source picks up as
    // separate micro-batches: all docs as arrivals (op=+1), then the
    // q149 tombstone slice (doc_id % 10 == 3) as erasures carrying
    // their before-image text (op=-1).
    val dir = tempDir("graft-index-cdc").toString
    val arrivals = docs.select(col("doc_id"), col("text"), lit(1L).as("op"))
    arrivals.coalesce(1).write.mode("append").parquet(dir)
    docs.where(col("doc_id") % 10 === 3)
      .select(col("doc_id"), col("text"), lit(-1L).as("op"))
      .coalesce(1).write.mode("append").parquet(dir)
    val stream = spark.readStream.schema(arrivals.schema).parquet(dir)
    val q = IndexMaintenance.postingNetWeights(stream).writeStream
      .format("memory").queryName("idx_net").outputMode("complete").start()
    try q.processAllAvailable()
    finally q.stop()
    val streamed = IndexMaintenance.materialize(spark.table("idx_net"))
    val batch = SparkEntry.queries("q149_index_retract")(spark, sf0001)
    assert(streamed.count() > 0)
    assert(asSet(streamed) == asSet(batch),
      "streaming retract diverged from batch q149")
    // The retraction is load-bearing: without tombstones the converged
    // index would be q17's full corpus, which must differ.
    val fullIdx = SparkEntry.queries("q17_inverted_index")(spark, sf0001)
    assert(asSet(streamed) != asSet(fullIdx),
      "tombstone batch retracted nothing — test is vacuous")
  }

  test("watermark drops late data in append mode") {
    import org.apache.spark.sql.functions._
    val spark0 = spark
    import spark0.implicits._
    val dir = tempDir("graft-late-events")
    val t0 = 1700000000L * 1000000000L // nanos, aligned far from corpus times
    def stageEvents(rows: Seq[(Long, Long)], name: String): Unit = {
      val tmp = tempDir("graft-late-stage")
      rows.map { case (id, tsNs) => (id, tsNs, 1L, "click", 1.0, "{}") }
        .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
        .repartition(1).write.mode("overwrite").parquet(tmp.toString)
      val part = java.nio.file.Files.list(tmp).filter(_.toString.endsWith(".parquet"))
        .findFirst().get()
      java.nio.file.Files.copy(part, dir.resolve(name))
    }
    val stream = spark.readStream.schema(batchEvents.schema).parquet(dir.toString)
    val q = EventStreams.windowedAggregates(stream).writeStream
      .format("memory").queryName("w_late").outputMode("append").start()
    try {
      // Batch 1: events spanning 0..20min -> watermark advances to +10min.
      stageEvents(Seq((1L, t0), (2L, t0 + 20L * 60 * 1000000000L)), "000.parquet")
      q.processAllAvailable()
      // Batch 2: one event 60min BEFORE t0 (far past the watermark -> must
      // be dropped) plus one at +40min to advance watermark and flush.
      stageEvents(
        Seq((3L, t0 - 60L * 60 * 1000000000L), (4L, t0 + 40L * 60 * 1000000000L)),
        "001.parquet")
      q.processAllAvailable()
    } finally q.stop()
    val emitted = spark.table("w_late")
      .select(col("window_start")).as[Long].collect().toSet
    val lateWindow = (t0 / 1000000000L - 3600) / 300 * 300
    val firstWindow = t0 / 1000000000L / 300 * 300
    assert(emitted.contains(firstWindow), s"on-time window missing from $emitted")
    assert(!emitted.contains(lateWindow), s"late event's window was emitted: $emitted")
  }

  /** Stage a mini event batch file into a streaming source directory. */
  private def stageBatch(dir: java.nio.file.Path, name: String,
      rows: Seq[(Long, Long, Long, Double)]): Unit = {
    val spark0 = spark
    import spark0.implicits._
    val tmp = tempDir("graft-stage")
    rows.map { case (id, tsNs, uid, v) => (id, tsNs, uid, "click", v, "{}") }
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .repartition(1).write.mode("overwrite").parquet(tmp.toString)
    val part = java.nio.file.Files.list(tmp).filter(_.toString.endsWith(".parquet"))
      .findFirst().get()
    java.nio.file.Files.copy(part, dir.resolve(name))
  }

  private val minNs = 60L * 1000000000L

  test("dropDuplicatesWithinWatermark: duplicates collapse within the horizon, state evicts after it") {
    import org.apache.spark.sql.functions._
    val spark0 = spark
    import spark0.implicits._
    val dir = tempDir("graft-dedup-events")
    val t0 = 1800000000L * 1000000000L
    val stream = spark.readStream.schema(batchEvents.schema).parquet(dir.toString)
    val q = EventStreams.dedupedEvents(stream).writeStream
      .format("memory").queryName("w_dedup").outputMode("append").start()
    try {
      // Batch 1: id 1 twice (in-batch dup) + id 2 -> emits ids 1, 2 once.
      stageBatch(dir, "000.parquet",
        Seq((1L, t0, 1L, 1.0), (1L, t0 + minNs, 1L, 1.0), (2L, t0, 2L, 1.0)))
      q.processAllAvailable()
      // Batch 2: id 1 again within the horizon -> dropped; id 9 at +60min
      // advances the watermark to +50min, past id 1's state horizon.
      stageBatch(dir, "001.parquet",
        Seq((1L, t0 + 2 * minNs, 1L, 1.0), (9L, t0 + 60 * minNs, 9L, 1.0)))
      q.processAllAvailable()
      // Batch 3: id 1 re-appears ABOVE the watermark after its dedup state
      // was evicted -> emitted again (bounded state, not eternal dedup).
      stageBatch(dir, "002.parquet", Seq((1L, t0 + 55 * minNs, 1L, 1.0)))
      q.processAllAvailable()
    } finally q.stop()
    val counts = spark.table("w_dedup").groupBy(col("event_id"))
      .count().as[(Long, Long)].collect().toMap
    assert(counts == Map(1L -> 2L, 2L -> 1L, 9L -> 1L), counts.toString)
  }

  test("flatMapGroupsWithState closes sessions by gap and event-time timeout; closed set matches batch session_window") {
    import org.apache.spark.sql.functions._
    val spark0 = spark
    import spark0.implicits._
    val dir = tempDir("graft-session-events")
    val t0 = 1900000000L * 1000000000L
    val stream = spark.readStream.schema(batchEvents.schema).parquet(dir.toString)
    val q = EventStreams.closedSessions(stream).toDF().writeStream
      .format("memory").queryName("w_closed").outputMode("append").start()
    try {
      // user 1: two events 5 min apart (one session); user 2: one event.
      stageBatch(dir, "000.parquet",
        Seq((1L, t0, 1L, 2.0), (2L, t0 + 5 * minNs, 1L, 3.0), (3L, t0 + 2 * minNs, 2L, 7.0)))
      q.processAllAvailable()
      // user 1 again 3h later: closes their first session by gap, and the
      // watermark jump times out user 2's session. The 3h session stays open.
      stageBatch(dir, "001.parquet", Seq((4L, t0 + 180 * minNs, 1L, 1.0)))
      q.processAllAvailable()
    } finally q.stop()
    val closed = spark.table("w_closed")
      .select(col("user_id"), col("session_start"), col("n_events"), col("session_value"))
      .as[(Long, Long, Long, Double)].collect().toSet
    val t0s = t0 / 1000000000L
    assert(closed == Set(
      (1L, t0s, 2L, 5.0),
      (2L, t0s + 2 * 60, 1L, 7.0),
    ), closed.toString)
    // The closed sessions must agree with the batch session_window result
    // over the same data (unified-API cross-check; the open 3h session
    // appears only in batch).
    val batchRows = Seq(
      (1L, t0, 1L, "click", 2.0, "{}"), (2L, t0 + 5 * minNs, 1L, "click", 3.0, "{}"),
      (3L, t0 + 2 * minNs, 2L, "click", 7.0, "{}"), (4L, t0 + 180 * minNs, 1L, "click", 1.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val batchSessions = EventStreams.sessionWindows(batchRows, "30 minutes")
      .select(col("user_id"), col("session_start"), col("n_events"), col("session_value"))
      .as[(Long, Long, Long, Double)].collect().toSet
    assert(closed.subsetOf(batchSessions),
      s"closed $closed not within batch sessions $batchSessions")
  }

  test("stream-static enrichment join: streaming == batch") {
    import org.apache.spark.sql.functions._
    val spark0 = spark
    import spark0.implicits._
    val dim = batchEvents.select(col("user_id")).distinct()
      .withColumn("segment", concat(lit("seg_"), pmod(col("user_id"), lit(4))))
      .localCheckpoint()
    val streamed = runStream("w_enriched", EventStreams.enriched(_, dim), "append")
    val batch = EventStreams.enriched(batchEvents, dim)
    assert(streamed.count() == batch.count())
    assert(asSet(streamed) == asSet(batch))
  }

  test("streaming ingest into the versioned layout: one commit per micro-batch, replayed batches commit exactly once, AS-OF per batch") {
    import org.apache.spark.sql.functions._
    import graft.operators.VersionedLayout
    import graft.queries.ScalePatterns
    val uppers = ScalePatterns.rangeUppers(spark, sf0001)
    val dir = tempDir("graft-ingest-layout").toString + "/layout"
    VersionedLayout.writeBase(spark, sf0001, dir, uppers)
    val base = spark.read.parquet(dir).count()
    val upLit = array(uppers.map(lit).toSeq: _*)

    // Shaped batches derived from the layout itself (fresh keys).
    def mkRows(offset: Long, n: Int) = spark.read.parquet(dir)
      .orderBy(col("l_orderkey"), col("l_linenumber"), col("v")).limit(n)
      .select(col("v"), (col("l_orderkey") + offset).as("l_orderkey"),
        col("l_linenumber"), col("l_quantity"))
      .localCheckpoint()
    val in = tempDir("graft-ingest-in")
    val chk = tempDir("graft-ingest-chk")
    def withPid(b: org.apache.spark.sql.DataFrame) =
      b.withColumn("pid", (size(filter(upLit, u => u < col("v"))) + 1).cast("int"))
    val sink: (org.apache.spark.sql.DataFrame, Long) => Unit =
      (b, id) => { VersionedLayout.appendInsertOnce(spark, dir, withPid(b), id); () }
    def run(): Unit = {
      val q = spark.readStream.schema(mkRows(0L, 1).schema).parquet(in.toString)
        .writeStream.foreachBatch(sink)
        .option("checkpointLocation", chk.toString).start()
      try q.processAllAvailable() finally q.stop()
    }

    def stageDf(df: org.apache.spark.sql.DataFrame, name: String): Unit = {
      val tmp = tempDir("graft-ingest-stage")
      df.repartition(1).write.mode("overwrite").parquet(tmp.toString)
      val part = java.nio.file.Files.list(tmp).filter(_.toString.endsWith(".parquet"))
        .findFirst().get()
      java.nio.file.Files.copy(part, in.resolve(name))
    }
    stageDf(mkRows(800000000L, 5), "b0.parquet")
    run() // micro-batch 0 -> commit v1
    val v1 = VersionedLayout.currentVersion(dir)
    assert(v1 == 1 && VersionedLayout.readAsOf(spark, dir, v1).count() == base + 5)
    stageDf(mkRows(810000000L, 3), "b1.parquet")
    run() // restart from checkpoint; batch 1 only -> commit v2
    assert(VersionedLayout.currentVersion(dir) == 2)
    assert(VersionedLayout.readAsOf(spark, dir, 2).count() == base + 8)

    // A replayed micro-batch (what a crashed-after-commit restart
    // re-delivers) must be a no-op: same txn stamp, same version back.
    val replayed = VersionedLayout.appendInsertOnce(
      spark, dir, withPid(mkRows(810000000L, 3)), txn = 1L)
    assert(replayed == 2, s"replay created version $replayed")
    assert(VersionedLayout.currentVersion(dir) == 2, "replay appended a new commit")
    assert(VersionedLayout.readAsOf(spark, dir, 2).count() == base + 8)
    // Batch-0's view is still addressable: per-micro-batch time travel.
    assert(VersionedLayout.readAsOf(spark, dir, 1).count() == base + 5)
    // Streamed segments carry DATA-SKIPPING stats like any other commit
    // (appendInsertOnce rides appendInsert; the layout records per-pid
    // [min,max] of `v`): both micro-batch entries have bounds, and a
    // range read outside them drops the segments at PLAN time — the
    // continuous-ingest story and the zone-map story compose.
    val segEntries = VersionedLayout.log(dir).filter(_.action == "insert")
    assert(segEntries.size == 2 && segEntries.forall(_.statsM.contains("v")),
      "streamed micro-batch commits recorded no skip stats")
    val segMax = segEntries.flatMap(_.statsM("v").map(_._3)).max
    val pruned = VersionedLayout.readAsOfRange(spark, dir, 2, segMax + 1, segMax + 1000)
    assert(!pruned.inputFiles.exists(_.contains("_inserts")),
      "a band outside the streamed segments' bounds still scanned them")
  }

  test("graft-layout SINK (round 16): creates on first batch, commits exactly-once across restarts AND across a checkpoint reset with the same txnAppId") {
    import org.apache.spark.sql.functions._
    import graft.operators.VersionedLayout
    val spark0 = spark
    import spark0.implicits._
    val dir = tempDir("graft-sink").toString + "/layout"
    val in = tempDir("graft-sink-in")
    val chk = tempDir("graft-sink-chk")
    def stage(name: String, rows: Seq[(Long, Long)]): Unit = {
      val tmp = tempDir("graft-sink-stage")
      rows.toDF("k", "w").repartition(1)
        .write.mode("overwrite").parquet(tmp.toString)
      val part = java.nio.file.Files.list(tmp).filter(_.toString.endsWith(".parquet"))
        .findFirst().get()
      java.nio.file.Files.copy(part, in.resolve(name))
    }
    def run(checkpoint: String): Unit = {
      val q = spark.readStream
        .schema(Seq((0L, 0L)).toDF("k", "w").schema)
        .parquet(in.toString)
        .select(pmod(col("k"), lit(4)).cast("int").as("pid"), col("k"), col("w"))
        .writeStream.format("graft-layout")
        .option("path", dir).option("keyCols", "k")
        .option("txnAppId", "sink-spec")
        .option("checkpointLocation", checkpoint)
        .start()
      try q.processAllAvailable() finally q.stop()
    }
    def rows() = VersionedLayout
      .readAsOf(spark, dir, VersionedLayout.currentVersion(dir))
      .select(col("k"), col("w")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // Batch 0 CREATES the layout (empty v0) and commits as v1.
    stage("b0.parquet", (1L to 10L).map(i => (i, i * 2)))
    run(chk.toString)
    assert(VersionedLayout.currentVersion(dir) == 1)
    assert(rows() == (1L to 10L).map(i => (i, i * 2)).toSet)
    // Restart from the SAME checkpoint with one more staged file: only
    // the new batch commits.
    stage("b1.parquet", (11L to 15L).map(i => (i, i * 2)))
    run(chk.toString)
    assert(VersionedLayout.currentVersion(dir) == 2, "restart re-committed an old batch")
    assert(rows() == (1L to 15L).map(i => (i, i * 2)).toSet)
    // Checkpoint RESET (fresh dir, same txnAppId): every batch replays,
    // every commit's stamp matches, nothing doubles.
    val chk2 = tempDir("graft-sink-chk2")
    run(chk2.toString)
    assert(VersionedLayout.currentVersion(dir) == 2, "checkpoint reset double-committed")
    assert(rows() == (1L to 15L).map(i => (i, i * 2)).toSet)
    // The empty v0 is the CREATION commit — batch data never rode it.
    assert(VersionedLayout.readAsOf(spark, dir, 0).count() == 0)
    // Readers see the streamed commits as ordinary versions.
    assert(VersionedLayout.readAsOf(spark, dir, 1).count() == 10)
  }

  test("graft-layout SINK Update mode (round 17): streamed upserts == batch merges, restart-safe, checkpoint-reset replays skip on stamps") {
    import org.apache.spark.sql.functions._
    import graft.operators.VersionedLayout
    val spark0 = spark
    import spark0.implicits._
    val dir = tempDir("graft-upsink").toString + "/layout"
    val twin = tempDir("graft-upsink-twin").toString + "/layout"
    val in = tempDir("graft-upsink-in")
    val chk = tempDir("graft-upsink-chk")
    def stage(name: String, rows: Seq[(Long, Long)]): Unit = {
      val tmp = tempDir("graft-upsink-stage")
      rows.toDF("k", "w").repartition(1)
        .write.mode("overwrite").parquet(tmp.toString)
      val part = java.nio.file.Files.list(tmp).filter(_.toString.endsWith(".parquet"))
        .findFirst().get()
      java.nio.file.Files.copy(part, in.resolve(name))
    }
    def run(checkpoint: String): Unit = {
      val q = spark.readStream
        .schema(Seq((0L, 0L)).toDF("k", "w").schema)
        .parquet(in.toString)
        .select(pmod(col("k"), lit(4)).cast("int").as("pid"), col("k"), col("w"))
        .writeStream.format("graft-layout")
        .outputMode("update")
        .option("path", dir).option("keyCols", "k")
        .option("txnAppId", "upsink-spec")
        .option("checkpointLocation", checkpoint)
        .start()
      try q.processAllAvailable() finally q.stop()
    }
    def rows(d: String) = VersionedLayout
      .readAsOf(spark, d, VersionedLayout.currentVersion(d))
      .select(col("k"), col("w")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    def df(rs: Seq[(Long, Long)]) = rs.toDF("k", "w")
      .select(pmod(col("k"), lit(4)).cast("int").as("pid"), col("k"), col("w"))
    val b0 = (1L to 10L).map(i => (i, i * 2))
    val b1 = (6L to 12L).map(i => (i, i * 100))
    // Batch 0: creation (empty v0) + one upsert commit.
    stage("b0.parquet", b0)
    run(chk.toString)
    assert(VersionedLayout.currentVersion(dir) == 1)
    assert(VersionedLayout.log(dir).last.action == "upsert")
    assert(rows(dir) == b0.toSet)
    // Restart, batch 1 OVERWRITES keys 6..10 and inserts 11..12.
    stage("b1.parquet", b1)
    run(chk.toString)
    assert(VersionedLayout.currentVersion(dir) == 2, "restart re-committed an old batch")
    val expect = ((1L to 5L).map(i => (i, i * 2)) ++ b1).toSet
    assert(rows(dir) == expect)
    // Checkpoint RESET with the same txnAppId: replayed batchIds skip
    // on their stamps (the documented contract), nothing doubles.
    val chk2 = tempDir("graft-upsink-chk2")
    run(chk2.toString)
    assert(VersionedLayout.currentVersion(dir) == 2, "checkpoint reset double-committed")
    assert(rows(dir) == expect)
    // ARTIFACT EQUALITY vs batch merges: the same two deliveries applied
    // through appendMerge on a twin give identical answers AND the same
    // action sequence.
    VersionedLayout.writeBaseTable(spark, df(Nil), twin, Seq("k"))
    VersionedLayout.appendMerge(spark, twin, df(b0),
      updateSet = Map("w" -> col("s_w")))
    VersionedLayout.appendMerge(spark, twin, df(b1),
      updateSet = Map("w" -> col("s_w")))
    assert(rows(twin) == rows(dir))
    (0 to 2).foreach { v =>
      assert(VersionedLayout.readAsOf(spark, dir, v)
        .select(col("k"), col("w")).collect().map(r => (r.getLong(0), r.getLong(1))).toSet ==
        VersionedLayout.readAsOf(spark, twin, v)
          .select(col("k"), col("w")).collect().map(r => (r.getLong(0), r.getLong(1))).toSet,
        s"streamed-upsert and batch-merge histories diverge at v$v")
    }
    assert(VersionedLayout.log(dir).map(_.action) == VersionedLayout.log(twin).map(_.action))
  }

  test("streaming ingest into a GENERIC (events-keyed) layout: exactly-once commits, per-batch time travel, and a change feed that sums to the head") {
    import org.apache.spark.sql.functions._
    import graft.operators.VersionedLayout
    val spark0 = spark
    import spark0.implicits._
    val dir = tempDir("graft-gen-ingest").toString + "/layout"
    // A second-table layout: single-column identity, user-hash pids —
    // nothing lineitem-shaped (the q176 construction, now under a
    // stream).
    def shaped(rows: Seq[(Long, Long, Long)]) = rows
      .toDF("event_id", "user_id", "value_centi")
      .select(pmod(col("user_id"), lit(4)).cast("int").as("pid"),
        col("event_id"), col("user_id"), col("value_centi"))
    VersionedLayout.writeBaseTable(spark,
      shaped((1L to 20L).map(i => (i, i % 7, i * 100))), dir, Seq("event_id"))

    val in = tempDir("graft-gen-in")
    val chk = tempDir("graft-gen-chk")
    val sink: (org.apache.spark.sql.DataFrame, Long) => Unit = (b, id) => {
      VersionedLayout.appendInsertOnce(spark, dir,
        b.select(pmod(col("user_id"), lit(4)).cast("int").as("pid"),
          col("event_id"), col("user_id"), col("value_centi")), id)
      ()
    }
    def run(): Unit = {
      val q = spark.readStream
        .schema(Seq((0L, 0L, 0L)).toDF("event_id", "user_id", "value_centi").schema)
        .parquet(in.toString)
        .writeStream.foreachBatch(sink)
        .option("checkpointLocation", chk.toString).start()
      try q.processAllAvailable() finally q.stop()
    }
    def stage(name: String, rows: Seq[(Long, Long, Long)]): Unit = {
      val tmp = tempDir("graft-gen-stage")
      rows.toDF("event_id", "user_id", "value_centi").repartition(1)
        .write.mode("overwrite").parquet(tmp.toString)
      val part = java.nio.file.Files.list(tmp).filter(_.toString.endsWith(".parquet"))
        .findFirst().get()
      java.nio.file.Files.copy(part, in.resolve(name))
    }

    stage("b0.parquet", Seq((101L, 1L, 5L), (102L, 2L, 7L)))
    run()
    assert(VersionedLayout.currentVersion(dir) == 1)
    assert(VersionedLayout.readAsOf(spark, dir, 1).count() == 22)
    stage("b1.parquet", Seq((103L, 3L, 9L)))
    run() // restart from checkpoint; batch 1 only
    assert(VersionedLayout.currentVersion(dir) == 2)
    assert(VersionedLayout.readAsOf(spark, dir, 2).count() == 23)
    // Replay dedupes by txn on the generic layout too.
    VersionedLayout.appendInsertOnce(spark, dir,
      shaped(Seq((103L, 3L, 9L))), txn = 1L)
    assert(VersionedLayout.currentVersion(dir) == 2, "replay appended a commit")
    // Per-batch time travel on the generic key.
    assert(VersionedLayout.readAsOf(spark, dir, 0).count() == 20)
    // The change feed (keyed by the layout's OWN identity column) sums
    // to the head: base + inserts − deletes == readAsOf(head).
    val feed = VersionedLayout.changeFeed(spark, dir, 0, 2)
    assert(feed.where(col("change_type") === "insert").count() == 3)
    assert(feed.select(col("event_id")).distinct().count() == 3)
  }

  test("graft-layout streaming source: streaming == batch over a CRUD history; checkpoint restart resumes exactly where it left off") {
    import org.apache.spark.sql.functions._
    import graft.operators.VersionedLayout
    val spark0 = spark
    import spark0.implicits._
    val dir = tempDir("graft-stream-src").toString + "/t"
    def shaped(rows: Seq[(Long, Long)]) = rows.toDF("event_id", "value_centi")
      .select(pmod(col("event_id"), lit(4)).cast("int").as("pid"),
        col("event_id"), col("value_centi"))
    VersionedLayout.writeBaseTable(spark,
      shaped((1L to 20L).map(i => (i, i * 10))), dir, Seq("event_id"))
    VersionedLayout.appendInsert(spark, dir,
      shaped(Seq((101L, 1010L), (102L, 1020L))))                 // v1
    VersionedLayout.appendDelete(spark, dir, col("event_id") <= 5L) // v2

    val chk = tempDir("graft-stream-chk").toString
    val buf = scala.collection.mutable.ArrayBuffer.empty[(Int, String, Long)]
    val sink: (org.apache.spark.sql.DataFrame, Long) => Unit = (b, _) => {
      b.groupBy(col("change_version"), col("change_type"))
        .agg(count(lit(1)).as("n")).collect()
        .foreach(r => buf.synchronized {
          buf += ((r.getInt(0), r.getString(1), r.getLong(2))); () })
      ()
    }
    def run(): Unit = {
      val q = spark.readStream.format("graft-layout").option("path", dir).load()
        .writeStream.foreachBatch(sink)
        .option("checkpointLocation", chk).start()
      try q.processAllAvailable() finally q.stop()
    }
    run()
    val first = buf.toSet
    assert(first == Set((1, "insert", 2L), (2, "delete", 5L)), s"first run: $first")
    // Advance the table; a RESTART from the same checkpoint serves
    // ONLY the new version window (exactly-once across restarts).
    VersionedLayout.appendUpsert(spark, dir, col("event_id") === 10L,
      m => m.withColumn("value_centi", col("value_centi") + 1))  // v3
    buf.clear()
    run()
    val second = buf.toSet
    assert(second == Set((3, "insert", 1L), (3, "delete", 1L)), s"second run: $second")
    // STREAMING == BATCH: the two runs together are exactly the batch
    // feed's masses over the full history.
    val batch = VersionedLayout.changeFeed(spark, dir, 0, 3)
      .groupBy(col("change_version"), col("change_type")).agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getInt(0), r.getString(1), r.getLong(2))).toSet
    assert(first ++ second == batch, s"stream != batch: ${first ++ second} vs $batch")
    // A fresh subscriber with its own checkpoint replays everything.
    val chk2 = tempDir("graft-stream-chk2").toString
    buf.clear()
    val q2 = spark.readStream.format("graft-layout").option("path", dir).load()
      .writeStream.foreachBatch(sink)
      .option("checkpointLocation", chk2).start()
    try q2.processAllAvailable() finally q2.stop()
    assert(buf.toSet == batch, s"fresh replay != batch: ${buf.toSet} vs $batch")
  }

  test("graft-layout maxVersionsPerTrigger: a catching-up subscription drains the backlog one version per trigger; union == batch feed; restart stays bounded and exactly-once") {
    import org.apache.spark.sql.functions._
    import graft.operators.VersionedLayout
    val spark0 = spark
    import spark0.implicits._
    val dir = tempDir("graft-ratelim-src").toString + "/t"
    def shaped(rows: Seq[(Long, Long)]) = rows.toDF("event_id", "value_centi")
      .select(pmod(col("event_id"), lit(4)).cast("int").as("pid"),
        col("event_id"), col("value_centi"))
    VersionedLayout.writeBaseTable(spark,
      shaped((1L to 20L).map(i => (i, i * 10))), dir, Seq("event_id"))
    VersionedLayout.appendInsert(spark, dir,
      shaped(Seq((101L, 1010L), (102L, 1020L))))                    // v1
    VersionedLayout.appendDelete(spark, dir, col("event_id") <= 5L) // v2
    VersionedLayout.appendUpsert(spark, dir, col("event_id") === 10L,
      m => m.withColumn("value_centi", col("value_centi") + 1))     // v3

    val chk = tempDir("graft-ratelim-chk").toString
    // Per micro-batch: the distinct change versions it carried.
    val batches = scala.collection.mutable.ArrayBuffer.empty[Set[Int]]
    val rows = scala.collection.mutable.ArrayBuffer.empty[(Int, String, Long)]
    val sink: (org.apache.spark.sql.DataFrame, Long) => Unit = (b, _) => {
      val agg = b.groupBy(col("change_version"), col("change_type"))
        .agg(count(lit(1)).as("n")).collect()
      batches.synchronized {
        batches += agg.map(_.getInt(0)).toSet
        agg.foreach(r => rows += ((r.getInt(0), r.getString(1), r.getLong(2))))
        ()
      }
      ()
    }
    def run(): Unit = {
      val q = spark.readStream.format("graft-layout").option("path", dir)
        .option("maxVersionsPerTrigger", "1").load()
        .writeStream.foreachBatch(sink)
        .option("checkpointLocation", chk).start()
      try q.processAllAvailable() finally q.stop()
    }
    run()
    // The backlog (v1..v3) drains in BOUNDED bites: every micro-batch
    // spans at most one commit version, and it takes >1 batch.
    assert(batches.size >= 3, s"expected >=3 rate-limited batches, got ${batches.size}")
    assert(batches.forall(_.size <= 1), s"a batch spanned multiple versions: $batches")
    val batchFeed = VersionedLayout.changeFeed(spark, dir, 0, 3)
      .groupBy(col("change_version"), col("change_type")).agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getInt(0), r.getString(1), r.getLong(2))).toSet
    assert(rows.toSet == batchFeed, s"rate-limited union != batch: ${rows.toSet} vs $batchFeed")
    // Advance by TWO more versions; a restart from the same checkpoint
    // (fresh source instance — the persisted tracker must survive)
    // serves exactly the new window, still one version per batch.
    VersionedLayout.appendInsert(spark, dir, shaped(Seq((103L, 1030L)))) // v4
    VersionedLayout.appendDelete(spark, dir, col("event_id") === 6L)     // v5
    batches.clear(); rows.clear()
    run()
    assert(batches.size >= 2 && batches.forall(_.size <= 1),
      s"restarted catch-up not rate-limited: $batches")
    val tail = VersionedLayout.changeFeed(spark, dir, 3, 5)
      .groupBy(col("change_version"), col("change_type")).agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getInt(0), r.getString(1), r.getLong(2))).toSet
    assert(rows.toSet == tail,
      s"restart re-served or lost a window: ${rows.toSet} vs $tail")
  }

  test("LSH index maintained by a LAYOUT SUBSCRIPTION: feed inserts admit, feed deletes retract via before-images; converged pairs == rebuild of the head corpus", SlowTest) {
    import org.apache.spark.sql.functions._
    import graft.operators.{Dedup, LshIndexStore, VersionedLayout}
    val spark0 = spark
    import spark0.implicits._
    val cap = 4
    val textA = "orange apple mango banana cherry lemon papaya grape kiwi plum"
    val textB = "winter summer autumn spring morning evening midnight noon dusk dawn"
    def shaped(rows: Seq[(Long, String)]) = rows.toDF("doc_id", "text")
      .select(pmod(col("doc_id"), lit(4)).cast("int").as("pid"),
        col("doc_id"), col("text"))
    def bands(df: org.apache.spark.sql.DataFrame) = Dedup.bandRows(
      Dedup.minhashSignatures(
        df.select(col("doc_id"), col("text")).localCheckpoint(), "doc_id", "text"), 1)
    // The CURATED TABLE: a documents layout the index subscribes to —
    // the downstream never re-reads it after the v0 bootstrap.
    val dir = tempDir("graft-lsh-sub").toString + "/docs"
    // Base covers all four pids (doc 8 -> pid 0), so later segment
    // rows stay inside the v0 pid domain.
    VersionedLayout.writeBaseTable(spark,
      shaped(Seq(1L -> textA, 2L -> textA, 3L -> textA, 8L -> textA, 11L -> textB)),
      dir, Seq("doc_id"))
    val idx = tempDir("graft-lsh-sub-idx").toString + "/index"
    LshIndexStore.init(spark, idx, bands(VersionedLayout.readAsOf(spark, dir, 0)), cap)
    // Subscription: inserts ADMIT, deletes RETRACT — the feed's
    // before-image rows mean retraction never re-reads the corpus.
    // Distinct txn stamps per action keep replays exactly-once.
    val sink: (org.apache.spark.sql.DataFrame, Long) => Unit = (b, id) => {
      val ins = b.where(col("change_type") === "insert")
        .select(col("doc_id"), col("text")).localCheckpoint()
      val del = b.where(col("change_type") === "delete")
        .select(col("doc_id")).localCheckpoint()
      if (ins.count() > 0) LshIndexStore.admitOnce(spark, idx, bands(ins), id * 2, cap)
      if (del.count() > 0) LshIndexStore.retractOnce(spark, idx, del, id * 2 + 1)
      ()
    }
    val chk = tempDir("graft-lsh-sub-chk").toString
    def run(): Unit = {
      val q = spark.readStream.format("graft-layout").option("path", dir).load()
        .writeStream.foreachBatch(sink)
        .option("checkpointLocation", chk).start()
      try q.processAllAvailable() finally q.stop()
    }
    VersionedLayout.appendInsert(spark, dir, shaped(Seq(4L -> textA, 12L -> textB))) // v1
    VersionedLayout.appendDelete(spark, dir, col("doc_id") <= 2L)                    // v2
    run()
    VersionedLayout.appendInsert(spark, dir, shaped(Seq(100L -> textA)))             // v3
    run() // restart from checkpoint: only v3's window
    // Converged index == LSH built fresh from the table's HEAD.
    val got = LshIndexStore.pairs(spark, idx)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val rebuilt = Dedup.lshCandidates(
      Dedup.minhashSignatures(VersionedLayout.readAsOf(spark, dir, 3)
        .select(col("doc_id"), col("text")).localCheckpoint(), "doc_id", "text"),
      cap).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == rebuilt, s"subscribed index diverged from rebuild: $got vs $rebuilt")
    assert(!got.exists(p => p._1 <= 2L || p._2 <= 2L), "retracted docs still paired")
  }

  test("graft-layout streaming source over a typed re-add: a subscription crossing the flip serves both incarnations as per-type columns") {
    import org.apache.spark.sql.functions._
    import graft.operators.VersionedLayout
    val spark0 = spark
    import spark0.implicits._
    val dir = tempDir("graft-stream-flip").toString + "/t"
    def shaped(ids: Seq[Long]) = ids.map(i => (i, i * 10)).toDF("event_id", "value_centi")
      .select(pmod(col("event_id"), lit(4)).cast("int").as("pid"),
        col("event_id"), col("value_centi"))
    VersionedLayout.writeBaseTable(spark, shaped(1L to 8L), dir, Seq("event_id")) // v0
    VersionedLayout.addColumn(spark, dir, "tag", "bigint")                        // v1
    VersionedLayout.appendInsert(spark, dir,                                       // v2
      shaped(Seq(101L, 102L)).withColumn("tag", col("event_id") * 7))
    VersionedLayout.dropColumn(spark, dir, "tag")                                  // v3
    VersionedLayout.addColumn(spark, dir, "tag", "string")                         // v4 — the flip
    VersionedLayout.appendInsert(spark, dir,                                       // v5
      shaped(Seq(201L, 202L)).withColumn("tag", concat(lit("s"), col("event_id"))))
    val collected = scala.collection.mutable.ArrayBuffer.empty[(Long, Option[Long], Option[String])]
    val sink: (org.apache.spark.sql.DataFrame, Long) => Unit = (b, _) => {
      assert(b.columns.contains("tag__as_bigint")
        && b.columns.contains("tag__as_string") && !b.columns.contains("tag"),
        s"crossing subscription batch lacks per-type columns: ${b.columns.mkString(",")}")
      b.where(col("change_type") === "insert")
        .select(col("event_id"), col("tag__as_bigint"), col("tag__as_string"))
        .collect().foreach { r =>
          collected.synchronized {
            collected += ((r.getLong(0),
              if (r.isNullAt(1)) None else Some(r.getLong(1)),
              if (r.isNullAt(2)) None else Some(r.getString(2)))); () }
        }
      ()
    }
    val chk = tempDir("graft-stream-flip-chk").toString
    val q = spark.readStream.format("graft-layout").option("path", dir).load()
      .writeStream.foreachBatch(sink)
      .option("checkpointLocation", chk).start()
    try q.processAllAvailable() finally q.stop()
    // Both incarnations arrive, each in its own typed column.
    assert(collected.toSet == Set(
      (101L, Some(707L), None), (102L, Some(714L), None),
      (201L, None, Some("s201")), (202L, None, Some("s202"))),
      s"crossing subscription lost an incarnation: ${collected.toSet}")
    // A LATER commit inside the head window keeps the tagged schema
    // (pinned at start): the restart serves its rows under the
    // string-incarnation column.
    VersionedLayout.appendInsert(spark, dir,                                       // v6
      shaped(Seq(301L)).withColumn("tag", concat(lit("s"), col("event_id"))))
    collected.clear()
    val q2 = spark.readStream.format("graft-layout").option("path", dir).load()
      .writeStream.foreachBatch(sink)
      .option("checkpointLocation", chk).start()
    try q2.processAllAvailable() finally q2.stop()
    assert(collected.toSet == Set((301L, None, Some("s301"))),
      s"post-flip restart window: ${collected.toSet}")
  }

  test("streaming ingest into the LSH index store: one generation per micro-batch, replayed batches admit exactly once") {
    import org.apache.spark.sql.functions._
    import graft.operators.{Dedup, LshIndexStore}
    val spark0 = spark
    import spark0.implicits._
    val cap = 4
    val textA = "orange apple mango banana cherry lemon papaya grape kiwi plum"
    val textB = "winter summer autumn spring morning evening midnight noon dusk dawn"
    def bands(rows: Seq[(Long, String)]) = Dedup.bandRows(
      Dedup.minhashSignatures(
        rows.toDF("doc_id", "text").localCheckpoint(), "doc_id", "text"), 1)
    val dir = tempDir("graft-lsh-ingest").toString + "/index"
    LshIndexStore.init(spark, dir, bands((1L to 3L).map(_ -> textA)), cap)

    val in = tempDir("graft-lsh-in")
    val chk = tempDir("graft-lsh-chk")
    val sink: (org.apache.spark.sql.DataFrame, Long) => Unit = (b, id) => {
      // The micro-batch id IS the txn stamp — the same contract as the
      // versioned-layout ingest; signatures are computed on the batch
      // only, the index state advances one generation per batch.
      LshIndexStore.admitOnce(spark,
        dir, Dedup.bandRows(Dedup.minhashSignatures(b, "doc_id", "text"), 1), id, cap)
      ()
    }
    def run(): Unit = {
      val q = spark.readStream
        .schema(Seq((0L, "x")).toDF("doc_id", "text").schema).parquet(in.toString)
        .writeStream.foreachBatch(sink)
        .option("checkpointLocation", chk.toString).start()
      try q.processAllAvailable() finally q.stop()
    }
    def stage(name: String, rows: Seq[(Long, String)]): Unit = {
      val tmp = tempDir("graft-lsh-stage")
      rows.toDF("doc_id", "text").repartition(1)
        .write.mode("overwrite").parquet(tmp.toString)
      val part = java.nio.file.Files.list(tmp).filter(_.toString.endsWith(".parquet"))
        .findFirst().get()
      java.nio.file.Files.copy(part, in.resolve(name))
    }

    stage("b0.parquet", Seq(4L -> textA, 11L -> textB)) // reaches the cap: still paired
    run()
    assert(LshIndexStore.currentGeneration(dir) == 1)
    stage("b1.parquet", Seq(100L -> textA, 12L -> textB)) // crosses the cap: retracts A
    run() // restart from checkpoint; batch 1 only
    assert(LshIndexStore.currentGeneration(dir) == 2)

    def pairSet = LshIndexStore.pairs(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val got = pairSet
    val all = (1L to 4L).map(_ -> textA) ++ Seq(100L -> textA, 11L -> textB, 12L -> textB)
    val rebuilt = Dedup.lshCandidates(
      Dedup.minhashSignatures(all.toDF("doc_id", "text").localCheckpoint(), "doc_id", "text"),
      cap).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == rebuilt, s"streamed index diverged from rebuild: $got")
    assert(got((11L, 12L)) && !got.exists(p => p._1 <= 100L && Set(1L, 2L, 3L, 4L, 100L)(p._2)
      && Set(1L, 2L, 3L, 4L, 100L)(p._1)), s"cap retraction missing: $got")

    // Replayed micro-batch: same txn, no new generation, same pairs.
    LshIndexStore.admitOnce(spark, dir, bands(Seq(100L -> textA, 12L -> textB)), 1L, cap)
    assert(LshIndexStore.currentGeneration(dir) == 2, "replay created a generation")
    assert(pairSet == rebuilt)
  }

  test("streaming ingest into the IVF index store: one generation per micro-batch, replayed batches admit exactly once") {
    import org.apache.spark.sql.functions._
    import graft.operators.IvfIndexStore
    import graft.functions.vectors
    val spark0 = spark
    import spark0.implicits._
    val dir = tempDir("graft-ivf-ingest").toString + "/index"
    def vecs(rows: Seq[(Long, Seq[Double])]) = rows.toDF("vec_id", "embedding")
      .select(col("vec_id"), col("embedding"), vectors.norm(col("embedding")).as("nrm"))
    val cent = vecs(Seq(0L -> Seq(1.0, 0.0), 1L -> Seq(0.0, 1.0)))
      .select(col("vec_id").as("cid"), col("embedding").as("ce"), col("nrm").as("cn"))
      .localCheckpoint()
    def assignWith(c: org.apache.spark.sql.DataFrame, df: org.apache.spark.sql.DataFrame) =
      df.join(broadcast(c))
        .select(col("vec_id"), col("cid"),
          (vectors.dot(col("embedding"), col("ce")) / (col("nrm") * col("cn"))).as("cos"))
        .groupBy(col("vec_id"))
        .agg(max(struct(col("cos"), (-col("cid")).as("neg"))).as("m"))
        .select(col("vec_id"), (-col("m.neg")).as("cid"))
    def assign(df: org.apache.spark.sql.DataFrame) = assignWith(cent, df)
    IvfIndexStore.init(spark, dir, cent,
      assign(vecs(Seq(10L -> Seq(0.9, 0.1), 11L -> Seq(0.2, 0.8)))))

    val in = tempDir("graft-ivf-in")
    val chk = tempDir("graft-ivf-chk")
    val sink: (org.apache.spark.sql.DataFrame, Long) => Unit = (b, id) => {
      // The micro-batch id IS the txn stamp; the batch is assigned
      // against the store's FROZEN centroids and lands as one O(delta)
      // segment generation — the admit path under continuous ingest.
      IvfIndexStore.admitOnce(spark, dir,
        assign(b.select(col("vec_id"), col("embedding"),
          vectors.norm(col("embedding")).as("nrm"))), id)
      ()
    }
    def run(): Unit = {
      val q = spark.readStream
        .schema(Seq((0L, Seq(0.0))).toDF("vec_id", "embedding").schema)
        .parquet(in.toString)
        .writeStream.foreachBatch(sink)
        .option("checkpointLocation", chk.toString).start()
      try q.processAllAvailable() finally q.stop()
    }
    def stage(name: String, rows: Seq[(Long, Seq[Double])]): Unit = {
      val tmp = tempDir("graft-ivf-stage")
      rows.toDF("vec_id", "embedding").repartition(1)
        .write.mode("overwrite").parquet(tmp.toString)
      val part = java.nio.file.Files.list(tmp).filter(_.toString.endsWith(".parquet"))
        .findFirst().get()
      java.nio.file.Files.copy(part, in.resolve(name))
    }

    stage("b0.parquet", Seq(20L -> Seq(0.8, 0.3), 21L -> Seq(0.1, 0.9)))
    run()
    assert(IvfIndexStore.currentGeneration(dir) == 1)
    stage("b1.parquet", Seq(22L -> Seq(0.7, 0.7))) // tie -> lowest cid
    run() // restart from checkpoint; batch 1 only
    assert(IvfIndexStore.currentGeneration(dir) == 2)

    def asgSet = IvfIndexStore
      .assignmentsOf(spark, dir, IvfIndexStore.currentGeneration(dir))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val expected = Set(10L -> 0L, 11L -> 1L, 20L -> 0L, 21L -> 1L, 22L -> 0L)
    assert(asgSet == expected, s"streamed IVF index diverged: $asgSet")

    // Replayed micro-batch: same txn, no new generation, same rows.
    IvfIndexStore.admitOnce(spark, dir, assign(vecs(Seq(22L -> Seq(0.7, 0.7)))), 1L)
    assert(IvfIndexStore.currentGeneration(dir) == 2, "replay created a generation")
    assert(asgSet == expected)

    // EPOCH FLIP mid-stream: retrain with SWAPPED centroids (the live
    // set re-assigned inside the chain), then keep ingesting — the
    // stream's exactly-once discipline must hold on both sides of the
    // flip, with the sink reading the centroid table PER BATCH (the
    // admit contract that makes flips transparent to the ingest loop).
    val liveRows = Seq(10L -> Seq(0.9, 0.1), 11L -> Seq(0.2, 0.8),
      20L -> Seq(0.8, 0.3), 21L -> Seq(0.1, 0.9), 22L -> Seq(0.7, 0.7))
    val cent2 = vecs(Seq(0L -> Seq(0.0, 1.0), 1L -> Seq(1.0, 0.0)))
      .select(col("vec_id").as("cid"), col("embedding").as("ce"), col("nrm").as("cn"))
      .localCheckpoint()
    IvfIndexStore.retrain(spark, dir, cent2, assignWith(cent2, vecs(liveRows)))
    val flipGen = IvfIndexStore.currentGeneration(dir)
    assert(flipGen == 3 && IvfIndexStore.epochOf(dir, flipGen) == 1)
    // A PRE-flip txn replayed AFTER the flip is still deduped — the
    // stamps survived because nothing was erased.
    IvfIndexStore.admitOnce(spark, dir, assignWith(cent2, vecs(Seq(22L -> Seq(0.7, 0.7)))), 1L)
    assert(IvfIndexStore.currentGeneration(dir) == flipGen,
      "pre-flip txn replay created a generation after the flip")
    // Next micro-batch: assigned against the store's HEAD centroids
    // (epoch 1), continuing from the same checkpoint (batch id 2).
    val sink2: (org.apache.spark.sql.DataFrame, Long) => Unit = (b, id) => {
      val headCent = IvfIndexStore.centroidsOf(
        spark, dir, IvfIndexStore.currentGeneration(dir))
      IvfIndexStore.admitOnce(spark, dir,
        assignWith(headCent, b.select(col("vec_id"), col("embedding"),
          vectors.norm(col("embedding")).as("nrm"))), id)
      ()
    }
    def run2(): Unit = {
      val q = spark.readStream
        .schema(Seq((0L, Seq(0.0))).toDF("vec_id", "embedding").schema)
        .parquet(in.toString)
        .writeStream.foreachBatch(sink2)
        .option("checkpointLocation", chk.toString).start()
      try q.processAllAvailable() finally q.stop()
    }
    stage("b2.parquet", Seq(30L -> Seq(0.9, 0.2)))
    run2()
    assert(IvfIndexStore.currentGeneration(dir) == flipGen + 1)
    // Under the swapped epoch-1 centroids every live vector flips
    // cluster (ties to the lowest cid), and the new arrival lands in
    // cid 1 — the post-flip index is exactly the epoch-1 assignment.
    val expected2 = Set(10L -> 1L, 11L -> 0L, 20L -> 1L, 21L -> 0L,
      22L -> 0L, 30L -> 1L)
    assert(asgSet == expected2, s"post-flip streamed index diverged: $asgSet")
    // Restart-replay across the flip: re-running from the checkpoint
    // re-delivers nothing new and commits nothing.
    run2()
    assert(IvfIndexStore.currentGeneration(dir) == flipGen + 1,
      "checkpoint restart across the flip re-committed a batch")
    assert(asgSet == expected2)
    // Pre-flip generations still serve their epoch-0 assignments.
    assert(IvfIndexStore.assignmentsOf(spark, dir, 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet == expected,
      "epoch flip rewrote pre-flip history")
  }

  test("streaming retract from the LSH index store: tombstone stream drives one generation per micro-batch, replays retract exactly once, end state equals the batch retract", SlowTest) {
    import org.apache.spark.sql.functions._
    import graft.operators.{Dedup, LshIndexStore}
    val spark0 = spark
    import spark0.implicits._
    val cap = 4
    val textA = "orange apple mango banana cherry lemon papaya grape kiwi plum"
    val textB = "winter summer autumn spring morning evening midnight noon dusk dawn"
    // textA: five identical docs — OVER cap at init, pairless; retracting
    // one crosses the bucket back under the cap mid-stream (the revival
    // path exercised through the streaming sink, not just batch).
    val corpus = (1L to 5L).map(_ -> textA) ++ (11L to 13L).map(_ -> textB)
    def bands(rows: Seq[(Long, String)]) = Dedup.bandRows(
      Dedup.minhashSignatures(
        rows.toDF("doc_id", "text").localCheckpoint(), "doc_id", "text"), 1)
    val dir = tempDir("graft-lsh-rstream").toString + "/index"
    val twin = tempDir("graft-lsh-rtwin").toString + "/index"
    LshIndexStore.init(spark, dir, bands(corpus), cap)
    LshIndexStore.init(spark, twin, bands(corpus), cap)

    val in = tempDir("graft-lsh-rin")
    val chk = tempDir("graft-lsh-rchk")
    val sink: (org.apache.spark.sql.DataFrame, Long) => Unit = (b, id) => {
      // The micro-batch id IS the txn stamp (the admit-ingest contract,
      // now for the tombstone side).
      LshIndexStore.retractOnce(spark, dir, b, id, cap)
      ()
    }
    def run(): Unit = {
      val q = spark.readStream
        .schema(Seq(0L).toDF("doc_id").schema).parquet(in.toString)
        .writeStream.foreachBatch(sink)
        .option("checkpointLocation", chk.toString).start()
      try q.processAllAvailable() finally q.stop()
    }
    def stage(name: String, ids: Seq[Long]): Unit = {
      val tmp = tempDir("graft-lsh-rstage")
      ids.toDF("doc_id").repartition(1).write.mode("overwrite").parquet(tmp.toString)
      val part = java.nio.file.Files.list(tmp).filter(_.toString.endsWith(".parquet"))
        .findFirst().get()
      java.nio.file.Files.copy(part, in.resolve(name))
    }

    stage("b0.parquet", Seq(5L)) // textA 5 -> 4: back under cap, pairs revive
    run()
    assert(LshIndexStore.currentGeneration(dir) == 1)
    stage("b1.parquet", Seq(12L)) // textB 3 -> 2: pairs shrink
    run() // restart from checkpoint; processes batch 1 only
    assert(LshIndexStore.currentGeneration(dir) == 2)

    def pairSetOf(d: String) = LshIndexStore.pairs(spark, d)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val got = pairSetOf(dir)
    // End state == ONE batch retract of the same tombstone set on a twin
    // store, == the ground-up rebuild over the survivors.
    LshIndexStore.retract(spark, twin, Seq(5L, 12L).toDF("doc_id"), cap)
    assert(got == pairSetOf(twin), s"streamed retract diverged from batch retract: $got")
    val survivors = corpus.filterNot(r => r._1 == 5L || r._1 == 12L)
    val rebuilt = Dedup.lshCandidates(
      Dedup.minhashSignatures(
        survivors.toDF("doc_id", "text").localCheckpoint(), "doc_id", "text"),
      cap).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == rebuilt, s"streamed retract diverged from rebuild: $got")
    assert(got((1L, 2L)) && got((3L, 4L)), "mid-stream cap crossing did not revive pairs")
    assert(got((11L, 13L)) && !got.exists(p => p._1 == 12L || p._2 == 12L))

    // Replayed micro-batch: same txn stamp, no new generation, same pairs
    // (the restarted-stream re-delivery).
    LshIndexStore.retractOnce(spark, dir, Seq(12L).toDF("doc_id"), 1L, cap)
    assert(LshIndexStore.currentGeneration(dir) == 2, "replay created a generation")
    assert(pairSetOf(dir) == rebuilt)

    // The fully PRUNED CDC-erasure shape: the same two retractions
    // applied through retractBandsOnce (tombstones carrying the docs'
    // recomputed band rows + txn stamps) converge to the same state,
    // and a replayed stamp commits nothing.
    val twinB = tempDir("graft-lsh-rtwinb").toString + "/index"
    LshIndexStore.init(spark, twinB, bands(corpus), cap)
    LshIndexStore.retractBandsOnce(spark, twinB, bands(Seq(5L -> textA)), 10L, cap)
    LshIndexStore.retractBandsOnce(spark, twinB, bands(Seq(12L -> textB)), 11L, cap)
    LshIndexStore.retractBandsOnce(spark, twinB, bands(Seq(12L -> textB)), 11L, cap)
    assert(LshIndexStore.currentGeneration(twinB) == 2, "replayed bands-retract committed")
    assert(pairSetOf(twinB) == rebuilt, "pruned bands-retract diverged from rebuild")
  }

  test("file sink + checkpoint: restart resumes exactly-once (no duplicates, no loss)") {
    import org.apache.spark.sql.functions._
    val spark0 = spark
    import spark0.implicits._
    val in = tempDir("graft-restart-in")
    val out = tempDir("graft-restart-out")
    val chk = tempDir("graft-restart-chk")
    val t0 = 2000000000L * 1000000000L
    def run(): Unit = {
      val q = spark.readStream.schema(batchEvents.schema).parquet(in.toString)
        .select(col("event_id"), col("user_id"), col("value"))
        .writeStream.format("parquet")
        .option("path", out.toString)
        .option("checkpointLocation", chk.toString)
        .outputMode("append")
        .start()
      try q.processAllAvailable() finally q.stop()
    }
    stageBatch(in, "000.parquet", Seq((1L, t0, 1L, 1.0), (2L, t0, 1L, 2.0)))
    run()
    // New data lands while the query is DOWN; the restarted query must
    // pick it up from the checkpoint without re-emitting batch 0.
    stageBatch(in, "001.parquet", Seq((3L, t0, 2L, 3.0)))
    run()
    val ids = spark.read.parquet(out.toString)
      .select(col("event_id")).as[Long].collect().toSeq.sorted
    assert(ids == Seq(1L, 2L, 3L), s"exactly-once violated: $ids")
  }

  test("stream-stream interval join (view->click self-join): streaming == batch") {
    val streamed = runStream("w_ssjoin", EventStreams.viewClickPairs(_), "append")
    val batch = EventStreams.viewClickPairs(batchEvents)
    assert(streamed.count() > 0)
    assert(asSet(streamed) == asSet(batch))
  }

  test("stream-stream LEFT OUTER interval join: unmatched views emit at watermark expiry; == batch") {
    import org.apache.spark.sql.functions._
    val spark0 = spark
    import spark0.implicits._
    val dir = tempDir("graft-outer-events")
    val t0 = 1900000000L * 1000000000L
    def stage(name: String, rows: Seq[(Long, Long, Long, String)]): Unit = {
      val tmp = tempDir("graft-outer-stage")
      rows.map { case (id, tsNs, uid, typ) => (id, tsNs, uid, typ, 1.0, "{}") }
        .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
        .repartition(1).write.mode("overwrite").parquet(tmp.toString)
      val part = java.nio.file.Files.list(tmp).filter(_.toString.endsWith(".parquet"))
        .findFirst().get()
      java.nio.file.Files.copy(part, dir.resolve(name))
    }
    val batch1 = Seq(
      (1L, t0, 1L, "view"),              // matched by click 2
      (2L, t0 + 5 * minNs, 1L, "click"),
      (3L, t0, 2L, "view"),              // never clicked -> outer row
      (4L, t0 + 2 * minNs, 3L, "click")) // click without view -> NOT emitted
    val stream = spark.readStream.schema(batchEvents.schema).parquet(dir.toString)
    val q = EventStreams.viewClickPairsOuter(stream).writeStream
      .format("memory").queryName("w_outer").outputMode("append").start()
    try {
      stage("000.parquet", batch1)
      q.processAllAvailable()
      // Watermark is only max(event_ts) - 10min = t0 - 5min: view 3 COULD
      // still be clicked (gap is 30min), so only the inner match may emit.
      val afterB1 = spark.table("w_outer").select(col("view_id")).as[Long].collect().toSet
      assert(afterB1 == Set(1L), s"outer row emitted before watermark expiry: $afterB1")
      // Batch 2 drives BOTH sides' watermarks to t0 + 110min (the global
      // watermark is the MIN across the two watermark operators — a
      // view-only batch would leave the click side at t0 - 5min and the
      // outer row could never expire), far past view 3's join window
      // (t0 + 30min): the null-extended row must now emit. The flush
      // click belongs to user 8, who has no view, so it adds no row.
      stage("001.parquet", Seq(
        (9L, t0 + 120 * minNs, 9L, "view"),
        (10L, t0 + 120 * minNs, 8L, "click")))
      q.processAllAvailable()
    } finally q.stop()
    val streamed = spark.table("w_outer")
    val got = streamed.collect()
      .map(r => (r.getLong(1), if (r.isNullAt(2)) -1L else r.getLong(2))).toSet
    assert(got == Set((1L, 2L), (3L, -1L)), s"got $got")
    // Batch equivalence: the batch left join additionally emits view 9
    // (null-extended) — in the stream its state is still open because the
    // watermark never passed t0 + 120min + gap. Everything the stream
    // emitted must match the batch result minus that held row.
    val batchDf = EventStreams.viewClickPairsOuter(
      batch1.union(Seq(
          (9L, t0 + 120 * minNs, 9L, "view"),
          (10L, t0 + 120 * minNs, 8L, "click")))
        .map { case (id, tsNs, uid, typ) => (id, tsNs, uid, typ, 1.0, "{}") }
        .toDF("event_id", "ts", "user_id", "event_type", "value", "props"))
    assert(asSet(streamed) == asSet(batchDf.where(col("view_id") =!= 9)))
  }

  test("transformWithState (RocksDB ValueState): streaming == batch groupBy") {
    import org.apache.spark.sql.functions._
    val conf = spark.conf
    val key = "spark.sql.streaming.stateStore.providerClass"
    val saved = conf.getOption(key)
    // transformWithState requires the RocksDB state store provider.
    conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val streamed = runStream(
        "w_tws", df => EventStreams.statefulUserTotalsTws(df).toDF(), "update")
      val batch = batchEvents.groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_events"), sum(col("value")).as("total_value"))
      assert(streamed.count() == batch.count())
      val s = streamed.collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
      val b = batch.collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
      assert(s.keySet == b.keySet)
      s.foreach { case (k, (n, tot)) =>
        assert(n == b(k)._1, s"user $k count")
        assert(math.abs(tot - b(k)._2) < 1e-6, s"user $k total")
      }
    } finally saved.fold(conf.unset(key))(conf.set(key, _))
  }

  test("stateful user totals (mapGroupsWithState): streaming == batch groupBy") {
    import org.apache.spark.sql.functions._
    val streamed = runStream(
      "w_totals", df => EventStreams.statefulUserTotals(df).toDF(), "update")
    val batch = batchEvents.groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_events"), sum(col("value")).as("total_value"))
    assert(streamed.count() == batch.count())
    // One trigger -> one update per key; compare counts per user exactly,
    // totals to 1e-6 (sum order differs between the two plans).
    val s = streamed.collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    val b = batch.collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    assert(s.keySet == b.keySet)
    s.foreach { case (k, (n, tot)) =>
      assert(n == b(k)._1, s"user $k count")
      assert(math.abs(tot - b(k)._2) < 1e-6, s"user $k total")
    }
  }

  test("streaming ingest continues across a MID-STREAM schema evolution: old batches under the old schema, new under the new, exactly-once throughout") {
    import org.apache.spark.sql.functions._
    import graft.operators.VersionedLayout
    val spark0 = spark
    import spark0.implicits._
    val dir = tempDir("graft-evo-ingest").toString + "/layout"
    def shapedOld(rows: Seq[(Long, Long, Long)]) = rows
      .toDF("event_id", "user_id", "value_centi")
      .select(pmod(col("user_id"), lit(4)).cast("int").as("pid"),
        col("event_id"), col("user_id"), col("value_centi"))
    VersionedLayout.writeBaseTable(spark,
      shapedOld(Seq((1L, 0L, 10L), (2L, 1L, 20L), (3L, 2L, 30L), (4L, 3L, 40L))),
      dir, Seq("event_id"))
    def stage(df: org.apache.spark.sql.DataFrame, in: java.nio.file.Path, name: String): Unit = {
      val tmp = tempDir("graft-evo-stage")
      df.repartition(1).write.mode("overwrite").parquet(tmp.toString)
      val part = java.nio.file.Files.list(tmp).filter(_.toString.endsWith(".parquet"))
        .findFirst().get()
      java.nio.file.Files.copy(part, in.resolve(name))
    }
    def run(in: java.nio.file.Path, chk: java.nio.file.Path,
        schema: org.apache.spark.sql.types.StructType, txnBase: Long): Unit = {
      val sink: (org.apache.spark.sql.DataFrame, Long) => Unit =
        (b, id) => { VersionedLayout.appendInsertOnce(spark, dir, b, txnBase + id); () }
      val q = spark.readStream.schema(schema).parquet(in.toString)
        .writeStream.foreachBatch(sink)
        .option("checkpointLocation", chk.toString).start()
      try q.processAllAvailable() finally q.stop()
    }
    // Phase 1: a micro-batch under the ORIGINAL schema -> v1.
    val in1 = tempDir("graft-evo-in1")
    val chk1 = tempDir("graft-evo-chk1")
    val b0 = shapedOld(Seq((101L, 0L, 7L), (102L, 1L, 9L))).localCheckpoint()
    stage(b0, in1, "b0.parquet")
    run(in1, chk1, b0.schema, txnBase = 0L)
    assert(VersionedLayout.currentVersion(dir) == 1)
    // MID-STREAM EVOLUTION while ingest is stopped (a deploy window):
    // v2 adds a feature column, v3 renames the value column.
    VersionedLayout.addColumn(spark, dir, "score_centi", "bigint")
    VersionedLayout.renameColumn(spark, dir, "value_centi", "amount_centi")
    // Phase 2: a NEW stream (new source schema, disjoint txn range —
    // a schema change is a new ingest epoch) carrying the HEAD era's
    // columns -> v4.
    val in2 = tempDir("graft-evo-in2")
    val chk2 = tempDir("graft-evo-chk2")
    val b1 = Seq((201L, 2L, 11L, 5L), (202L, 3L, 13L, 6L))
      .toDF("event_id", "user_id", "amount_centi", "score_centi")
      .select(pmod(col("user_id"), lit(4)).cast("int").as("pid"),
        col("event_id"), col("user_id"), col("amount_centi"), col("score_centi"))
      .localCheckpoint()
    stage(b1, in2, "b1.parquet")
    run(in2, chk2, b1.schema, txnBase = 100L)
    assert(VersionedLayout.currentVersion(dir) == 4)
    // The head serves ONE unified schema: old-batch rows fold their
    // value under the new name with a NULL feature column; new-batch
    // rows carry both.
    val head = VersionedLayout.readAsOf(spark, dir, 4)
    assert(head.columns.sorted.toSeq
      == Seq("amount_centi", "event_id", "pid", "score_centi", "user_id"))
    assert(head.count() == 8)
    assert(head.where(col("amount_centi").isNotNull).count() == 8,
      "pre-evolution rows lost their value under the renamed column")
    assert(head.where(col("score_centi").isNotNull).count() == 2,
      "the feature column must be non-null exactly on the new-era rows")
    assert(head.agg(sum("amount_centi")).collect()(0).getLong(0)
      == 10 + 20 + 30 + 40 + 7 + 9 + 11 + 13)
    // Per-batch time travel below the evolution serves the OLD schema.
    val v1 = VersionedLayout.readAsOf(spark, dir, 1)
    assert(v1.columns.contains("value_centi") && !v1.columns.contains("amount_centi")
      && v1.count() == 6)
    // Exactly-once across the evolution: replaying the new-era batch
    // with its txn stamp is a no-op.
    assert(VersionedLayout.appendInsertOnce(spark, dir, b1, 100L) == 4)
    assert(VersionedLayout.currentVersion(dir) == 4, "replay appended a commit")
  }

  test("graft-layout startingTimestamp: a subscriber started as-of T serves exactly changeFeedByTimestamp(T, head]") {
    import org.apache.spark.sql.functions._
    import graft.operators.VersionedLayout
    val spark0 = spark
    import spark0.implicits._
    val dir = tempDir("graft-stream-ts").toString + "/t"
    def shaped(rows: Seq[(Long, Long)]) = rows.toDF("event_id", "value_centi")
      .select(pmod(col("event_id"), lit(4)).cast("int").as("pid"),
        col("event_id"), col("value_centi"))
    VersionedLayout.writeBaseTable(spark,
      shaped((1L to 20L).map(i => (i, i * 10))), dir, Seq("event_id"))
    VersionedLayout.appendInsert(spark, dir, shaped(Seq((101L, 1010L))))  // v1
    VersionedLayout.appendDelete(spark, dir, col("event_id") <= 3L)       // v2
    VersionedLayout.appendInsert(spark, dir, shaped(Seq((102L, 1020L))))  // v3
    val times = VersionedLayout.commitTimes(dir).toMap
    // Subscribe "as of v1's effective time": serves exactly (v1, head].
    val buf = scala.collection.mutable.ArrayBuffer.empty[(Int, String, Long)]
    val chk = tempDir("graft-stream-ts-chk").toString
    val q = spark.readStream.format("graft-layout").option("path", dir)
      .option("startingTimestamp", times(1)).load()
      .writeStream.foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        b.groupBy(col("change_version"), col("change_type"))
          .agg(count(lit(1)).as("n")).collect()
          .foreach(r => buf.synchronized {
            buf += ((r.getInt(0), r.getString(1), r.getLong(2))); () })
        ()
      }
      .option("checkpointLocation", chk).start()
    try q.processAllAvailable() finally q.stop()
    val batch = VersionedLayout
      .changeFeedByTimestamp(spark, dir, times(1), times(3))
      .groupBy(col("change_version"), col("change_type")).agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getInt(0), r.getString(1), r.getLong(2))).toSet
    assert(buf.toSet == batch && batch ==
      Set((2, "delete", 3L), (3, "insert", 1L)),
      s"ts-subscription ${buf.toSet} != batch feed $batch")
    // startingVersion and startingTimestamp are mutually exclusive.
    val ex = intercept[Exception](
      spark.readStream.format("graft-layout").option("path", dir)
        .option("startingVersion", 1).option("startingTimestamp", times(1))
        .load())
    assert(ex.getMessage.contains("mutually exclusive"), ex.getMessage)
  }
}
