package graft

import org.apache.spark.sql.functions._

import graft.operators.{GenChain, IvfIndexStore}

/** The generation-chain commit protocol's round-10 hardening: the
  * consolidated txn checkpoint (replay detection O(1) + tail instead of
  * O(generations), and exactly-once SURVIVING vacuumed middles), the
  * non-transactional-sentinel guard, and optimistic concurrency for the
  * admit family (two real threads, sequential-equivalent state).
  */
class GenChainSpec extends SparkSpec {

  /** A tiny IVF store: 2 centroids, base of 4 vectors. The store's data
    * content is irrelevant to the protocol under test — assignments are
    * plain (vec_id, cid) rows.
    */
  private def freshStore(tag: String): String = {
    val dir = tempDir(s"graft-genchain-$tag")
      .toString + "/store"
    val s0 = spark
    import s0.implicits._
    val cent = Seq((0L, Array(1.0, 0.0), 1.0), (1L, Array(0.0, 1.0), 1.0))
      .toDF("cid", "ce", "cn")
    val base = Seq((100L, 0L), (101L, 0L), (102L, 1L), (103L, 1L)).toDF("vec_id", "cid")
    IvfIndexStore.init(spark, dir, cent, base)
    dir
  }

  private def asgRow(id: Long) = {
    val s0 = spark
    import s0.implicits._
    Seq((id, id % 2)).toDF("vec_id", "cid")
  }

  test("committedGen never matches the non-transactional sentinel: admitOnce(txn = -1) performs the mutation instead of skipping it") {
    val dir = freshStore("sentinel")
    // v0 was published with the default txn = -1; a sentinel lookup must
    // not find it.
    assert(GenChain.committedGen(dir, -1L).isEmpty)
    val g = IvfIndexStore.admitOnce(spark, dir, asgRow(200L), txn = -1L)
    assert(g == 1, s"admitOnce(txn = -1) matched the v0 sentinel and skipped the admit (got $g)")
    assert(IvfIndexStore.assignmentsOf(spark, dir, g)
      .where(col("vec_id") === 200L).count() == 1L)
  }

  test("txn checkpoint: 100-generation chain, replay detection bounded and surviving vacuumed middles", SlowTest) {
    val dir = freshStore("ckpt")
    // 100 transactional admits.
    (1 to 100).foreach(i => IvfIndexStore.admitOnce(spark, dir, asgRow(1000L + i), txn = i.toLong))
    assert(GenChain.currentGeneration(dir) == 100)
    // Compact consolidates the txn index; the checkpoint covers the head.
    val folded = IvfIndexStore.compact(spark, dir)
    assert(GenChain.checkpointCoverage(dir) == folded)
    val idx = GenChain.txnIndex(dir)
    assert((1 to 100).forall(i => idx.get(i.toLong).contains(i)),
      "checkpoint lost txn stamps")
    // Vacuum the middles: every pre-fold generation directory — and its
    // manifest, the only other place the stamps lived — is gone.
    IvfIndexStore.vacuumGenerations(dir, keepFrom = folded)
    assert(!GenChain.manifest(dir, 50).isFile, "vacuum left middle manifests")
    // Replay of a VACUUMED batch is still detected: the checkpoint is
    // the proof the stamps outlive the generations that carried them.
    val before = IvfIndexStore.assignmentsOf(spark, dir, GenChain.currentGeneration(dir)).count()
    assert(IvfIndexStore.admitOnce(spark, dir, asgRow(1050L), txn = 50L) == 50,
      "replayed vacuumed txn was re-committed — exactly-once broke across vacuum")
    assert(IvfIndexStore.assignmentsOf(spark, dir, GenChain.currentGeneration(dir)).count() == before)
    // Bounded reads: detection of a checkpointed txn must not require
    // ANY manifest file below the checkpoint — they are physically gone,
    // so the assertion above already proves it; additionally, a fresh
    // transactional admit scans only the post-checkpoint tail (here:
    // empty) plus the O(1) checkpoint.
    val g = IvfIndexStore.admitOnce(spark, dir, asgRow(2000L), txn = 999L)
    assert(g == folded + 1)
    // The tail entry is found without a new checkpoint.
    assert(IvfIndexStore.admitOnce(spark, dir, asgRow(2000L), txn = 999L) == g)
  }

  test("vacuumGenerations reclaims a killed checkpoint publish's tmp past the lease and keeps a fresh one") {
    val dir = freshStore("ckpttmp")
    assert(IvfIndexStore.admitOnce(spark, dir, asgRow(200L), txn = 1L) == 1)
    val old = new java.io.File(dir, "._txn-ckpt-v1.tmp-pdeadt9")
    val fresh = new java.io.File(dir, "._txn-ckpt-v1.tmp-pcafet9")
    java.nio.file.Files.write(old.toPath, "1,1".getBytes)
    java.nio.file.Files.write(fresh.toPath, "1,1".getBytes)
    old.setLastModified(System.currentTimeMillis() - 120000L)
    GenChain.vacuumGenerations(dir, keepFrom = 0, orphanLeaseMs = 60000L)
    assert(!old.exists(), "aged txn-checkpoint publish tmp was not reclaimed")
    assert(fresh.exists(), "fresh txn-checkpoint publish tmp must survive the lease")
    assert(GenChain.checkpointCoverage(dir) == 1 && GenChain.committedGen(dir, 1L).contains(1))
  }

  test("IVF centroid epochs: retrain flips the epoch in place; history, retract, and compact all work across the flip; the policy arm fires on the audit flag") {
    val dir = freshStore("epoch")
    val s0 = spark
    import s0.implicits._
    IvfIndexStore.admit(spark, dir, asgRow(200L)) // gen 1 (epoch 0)
    val preSet = Set(100L -> 0L, 101L -> 0L, 102L -> 1L, 103L -> 1L, 200L -> 0L)
    def asgSetAt(g: Int) = IvfIndexStore.assignmentsOf(spark, dir, g)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(asgSetAt(1) == preSet)

    // RETRAIN: swapped centroids, every live vector re-assigned to the
    // other cluster — published inside the chain as epoch 1.
    val cent2 = Seq((0L, Array(0.0, 1.0), 1.0), (1L, Array(1.0, 0.0), 1.0))
      .toDF("cid", "ce", "cn")
    val flipped = preSet.toSeq.map { case (v, c) => (v, 1L - c) }.toDF("vec_id", "cid")
    val flipGen = IvfIndexStore.retrain(spark, dir, cent2, flipped, txn = 40L)
    assert(flipGen == 2)
    // A replayed TRANSACTIONAL retrain is exactly-once: no duplicate
    // epoch flip.
    assert(IvfIndexStore.retrain(spark, dir, cent2, flipped, txn = 40L) == flipGen)
    assert(IvfIndexStore.currentGeneration(dir) == flipGen,
      "replayed retrain published a duplicate epoch flip")
    assert(IvfIndexStore.epochOf(dir, 0) == 0 && IvfIndexStore.epochOf(dir, 1) == 0
      && IvfIndexStore.epochOf(dir, flipGen) == 1)
    assert(asgSetAt(flipGen) == preSet.map { case (v, c) => (v, 1L - c) },
      "retrain did not serve the migrated assignments")
    assert(asgSetAt(1) == preSet, "retrain rewrote pre-flip history")
    // The head centroid table IS the new epoch's.
    val ce0 = IvfIndexStore.centroidsOf(spark, dir, flipGen)
      .where(col("cid") === 0L).select(col("ce")).collect()(0).getSeq[Double](0)
    assert(ce0 == Seq(0.0, 1.0), s"head centroids are not the retrained table: $ce0")

    // Retract and compact chain on across the flip; compact CARRIES the epoch.
    IvfIndexStore.retract(spark, dir, Seq(100L).toDF("vec_id"))
    val folded = IvfIndexStore.compact(spark, dir)
    assert(IvfIndexStore.epochOf(dir, folded) == 1, "compact dropped the epoch marker")
    assert(asgSetAt(folded) == preSet.map { case (v, c) => (v, 1L - c) }
      .filterNot(_._1 == 100L))
    assert(asgSetAt(flipGen) == preSet.map { case (v, c) => (v, 1L - c) },
      "compact broke as-of reads below it")

    // The policy arm: fires exactly on a flagged audit.
    var fired = 0
    assert(!IvfIndexStore.retrainWhenRecommended(
      Seq((0L, false), (1L, false)).toDF("generation", "retrain_recommended")) { fired += 1; 0 })
    assert(fired == 0)
    assert(IvfIndexStore.retrainWhenRecommended(
      Seq((0L, false), (1L, true)).toDF("generation", "retrain_recommended")) { fired += 1; 0 })
    assert(fired == 1)
  }

  test("optimistic concurrency: two real threads admitting concurrently both commit, sequential-equivalent state") {
    val dir = freshStore("race")
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val barrier = new java.util.concurrent.CyclicBarrier(2)
    def writer(id: Long, txn: Long) = new Thread(() => {
      try {
        barrier.await()
        IvfIndexStore.admitOnce(spark, dir, asgRow(id), txn)
      } catch { case t: Throwable => errs.add(t) }
    })
    val ts = Seq(writer(300L, 70L), writer(301L, 71L))
    ts.foreach(_.start()); ts.foreach(_.join())
    assert(errs.isEmpty, s"concurrent admit failed: ${Option(errs.peek()).map(_.toString)}")
    val head = GenChain.currentGeneration(dir)
    assert(head == 2, s"expected both admits committed (head 2), got $head")
    val live = IvfIndexStore.assignmentsOf(spark, dir, head)
      .select(col("vec_id")).collect().map(_.getLong(0)).toSet
    assert(live == Set(100L, 101L, 102L, 103L, 300L, 301L),
      s"state not sequential-equivalent: $live")
    // The txn stamps landed once each, on distinct generations.
    assert(GenChain.committedGen(dir, 70L).isDefined && GenChain.committedGen(dir, 71L).isDefined)
    assert(GenChain.committedGen(dir, 70L) != GenChain.committedGen(dir, 71L))
    // Replays of both are skipped.
    assert(IvfIndexStore.admitOnce(spark, dir, asgRow(300L), txn = 70L) ==
      GenChain.committedGen(dir, 70L).get)
  }
}
