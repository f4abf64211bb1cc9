package graft

/** IVF probe (q42) quality vs the brute-force oracle (q29): the probe
  * searches one cluster only, so its results must be exact WITHIN that
  * cluster (identical cosines where the two overlap, never beating the
  * true best) and its recall against brute-force top-5 is measured —
  * the number a production tuning loop would watch when trading probes
  * for latency.
  */
class SimilaritySpec extends SparkSpec {

  test("q42 probe is exact within its cluster; recall vs q29 brute force is measured and sane") {
    val probe = SparkEntry.queries("q42_ivf_probe")(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(3)))
    val brute = SparkEntry.queries("q29_ann_bruteforce")(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(3)))
    val queries = brute.map(_._1).distinct.sorted
    assert(probe.map(_._1).distinct.sorted.sameElements(queries), "query sets differ")

    val bruteCos = brute.map { case (q, n, c) => (q, n) -> c }.toMap
    val bruteBest = brute.groupBy(_._1).map { case (q, rs) => q -> rs.map(_._3).max }
    probe.foreach { case (q, n, c) =>
      // Exactness: a probe cosine for a pair the brute-force top-5 also
      // ranked must be the identical (round-6) value...
      bruteCos.get((q, n)).foreach(bc => assert(bc == c, s"cos mismatch for ($q,$n)"))
      // ...and no probe result can beat the true best neighbor.
      assert(c <= bruteBest(q) + 1e-12, s"probe ($q,$n,$c) beats brute best ${bruteBest(q)}")
    }

    val bruteTop = brute.groupBy(_._1).map { case (q, rs) => q -> rs.map(_._2).toSet }
    val probeTop = probe.groupBy(_._1).map { case (q, rs) => q -> rs.map(_._2).toSet }
    val recalls = queries.map(q => (bruteTop(q) & probeTop.getOrElse(q, Set.empty)).size / 5.0)
    val mean = recalls.sum / recalls.size
    info(f"IVF 1-probe recall@5 vs brute force: mean $mean%.2f (per-query ${recalls.mkString(", ")})")
    // With 16 clusters and a single probe, recall is corpus-dependent;
    // the structural guarantee is that each query finds SOMETHING in its
    // cluster and overall recall is non-degenerate.
    assert(probeTop.values.forall(_.nonEmpty), "a query's probe came back empty")
    assert(mean > 0.0, "probe recall is zero — clustering is broken")

    // Multi-probe (q71, nprobe=2) must dominate: a wider probe searches a
    // superset of clusters, so per-query recall can only stay or rise.
    val probe2 = SparkEntry.queries("q71_ivf_multiprobe")(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val probe2Top = probe2.groupBy(_._1).map { case (q, rs) => q -> rs.map(_._2).toSet }
    val recalls2 = queries.map(q => (bruteTop(q) & probe2Top.getOrElse(q, Set.empty)).size / 5.0)
    val mean2 = recalls2.sum / recalls2.size
    info(f"IVF 2-probe recall@5 vs brute force: mean $mean2%.2f (per-query ${recalls2.mkString(", ")})")
    queries.zipWithIndex.foreach { case (q, i) =>
      assert(recalls2(i) >= recalls(i) - 1e-12, s"2-probe recall dropped for query $q")
    }
  }

  test("q73 Lloyd-trained probe: exact within its cluster; recall measured vs seeded q42") {
    val brute = SparkEntry.queries("q29_ann_bruteforce")(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(3)))
    val lloyd = SparkEntry.queries("q73_lloyd_probe")(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(3)))
    val queries = brute.map(_._1).distinct.sorted
    assert(lloyd.map(_._1).distinct.sorted.sameElements(queries), "query sets differ")
    val bruteCos = brute.map { case (q, n, c) => (q, n) -> c }.toMap
    val bruteBest = brute.groupBy(_._1).map { case (q, rs) => q -> rs.map(_._3).max }
    lloyd.foreach { case (q, n, c) =>
      bruteCos.get((q, n)).foreach(bc => assert(bc == c, s"cos mismatch for ($q,$n)"))
      assert(c <= bruteBest(q) + 1e-12, s"lloyd probe ($q,$n,$c) beats brute best")
    }
    val bruteTop = brute.groupBy(_._1).map { case (q, rs) => q -> rs.map(_._2).toSet }
    val lloydTop = lloyd.groupBy(_._1).map { case (q, rs) => q -> rs.map(_._2).toSet }
    val seeded = SparkEntry.queries("q42_ivf_probe")(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val seededTop = seeded.groupBy(_._1).map { case (q, rs) => q -> rs.map(_._2).toSet }
    val rL = queries.map(q => (bruteTop(q) & lloydTop.getOrElse(q, Set.empty)).size / 5.0)
    val rS = queries.map(q => (bruteTop(q) & seededTop.getOrElse(q, Set.empty)).size / 5.0)
    info(f"Lloyd-trained 1-probe recall@5: mean ${rL.sum / rL.size}%.2f vs seeded ${rS.sum / rS.size}%.2f")
    // Measured on this corpus (sf0.001 AND sf0.01): trained 0.72 vs
    // seeded 0.80 at nprobe=1. The synthetic embeddings are near-uniform
    // random — there is no latent cluster structure for Lloyd to find, so
    // training equalizes distortion and recall at a fixed probe width is
    // corpus-dependent (it recovers under multi-probe: 0.84 at nprobe=2).
    // The structural guarantees asserted here are within-cluster
    // exactness (above), non-degeneracy, and that training cannot
    // collapse recall; convergence correctness itself is pinned by the
    // oracle gate (engine early-stop == 3 unrolled oracle steps).
    assert(lloydTop.values.forall(_.nonEmpty), "a query's probe came back empty")
    assert(rL.sum / rL.size >= 0.5, s"trained-centroid recall collapsed: $rL")
  }

  test("q75 int8 quantization: components integral in [-127, 127]; recall vs float brute force") {
    import org.apache.spark.sql.functions._
    val spark0 = spark
    import spark0.implicits._
    val comps = graft.queries.Similarity.quantized(spark, sf0001)
      .select(explode(col("qv"))).as[Double].collect()
    assert(comps.nonEmpty)
    comps.foreach { v =>
      assert(v == math.floor(v) && v >= -127 && v <= 127,
        s"non-int8 quantized component $v")
    }
    val brute = SparkEntry.queries("q29_ann_bruteforce")(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val int8 = SparkEntry.queries("q75_int8_ann")(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val bTop = brute.groupBy(_._1).map { case (q, rs) => q -> rs.map(_._2).toSet }
    val qTop = int8.groupBy(_._1).map { case (q, rs) => q -> rs.map(_._2).toSet }
    val recalls = bTop.keys.toSeq.sorted.map(q => (bTop(q) & qTop.getOrElse(q, Set.empty)).size / 5.0)
    info(f"int8 recall@5 vs float brute force: mean ${recalls.sum / recalls.size}%.2f")
    // Measured 0.96 at sf0.001 and sf0.01; floor leaves noise headroom.
    assert(recalls.sum / recalls.size >= 0.9, s"int8 recall collapsed: $recalls")
  }

  test("q89 binary ANN: packed signs match the raw embedding signs; recall vs brute force measured") {
    val packed = graft.queries.Similarity.signPacked(spark, sf0001)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    val raw = Tables.embeddings(spark, sf0001).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1)).toMap
    raw.foreach { case (id, e) =>
      val (lo, hi) = packed(id)
      (0 until 64).foreach { j =>
        val bit = if (j < 32) (lo >> j) & 1L else (hi >> (j - 32)) & 1L
        assert((bit == 1L) == (e(j) > 0f), s"vec $id dim $j sign mismatch")
      }
    }
    val brute = SparkEntry.queries("q29_ann_bruteforce")(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val bin = SparkEntry.queries("q89_binary_ann")(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val bTop = brute.groupBy(_._1).map { case (q, rs) => q -> rs.map(_._2).toSet }
    val hTop = bin.groupBy(_._1).map { case (q, rs) => q -> rs.map(_._2).toSet }
    val recalls = bTop.keys.toSeq.sorted.map(q => (bTop(q) & hTop.getOrElse(q, Set.empty)).size / 5.0)
    info(f"1-bit recall@5 vs float brute force: mean ${recalls.sum / recalls.size}%.2f")
    // 1 bit/dim on near-uniform random embeddings keeps only coarse
    // angular structure — the candidate-generation tier, not the
    // re-ranker. Measured 0.20 on this corpus; the floor pins it well
    // above chance (random 5-of-500 ~ 0.01) with headroom below the
    // measured point.
    assert(recalls.sum / recalls.size >= 0.15, s"binary recall collapsed: $recalls")
  }

  test("q88 persisted-index probe: same answer as q42, NO training stage in the probe plan") {
    val probe = SparkEntry.queries("q88_ivf_persisted_probe")(spark, sf0001)
    val got = probe.collect().toSeq
    val q42 = SparkEntry.queries("q42_ivf_probe")(spark, sf0001).collect().toSeq
    assert(got == q42, "persisted index diverged from the in-line q42 construction")
    // The probe's own plan must serve purely from the persisted index:
    // centroid training is a posexplode (Generate) + collect_list
    // aggregate — neither may appear once the index exists.
    val p = probe.queryExecution.executedPlan.toString
    assert(!p.contains("collect_list"), "centroid-train aggregate leaked into the probe plan")
    assert(!p.contains("Generate"), "posexplode (centroid train) leaked into the probe plan")
    assert(p.contains("graft_ivf_"), s"probe does not scan the persisted index: ${p.take(400)}")
  }

  test("q171 store probe: NO training stage in the plan; base scan reads ONLY probed cid directories") {
    val probe = SparkEntry.queries("q171_incremental_ivf")(spark, sf0001)
    probe.collect()
    // Served purely from the maintained store: centroid training is a
    // posexplode (Generate) + collect_list aggregate — neither may
    // appear in the probe's own plan.
    val p = probe.queryExecution.executedPlan.toString
    assert(!p.contains("collect_list"), "centroid-train aggregate leaked into the probe plan")
    assert(!p.contains("Generate"), "posexplode (centroid train) leaked into the probe plan")
    assert(p.contains("graft_ivfstore_"), s"probe does not scan the store: ${p.take(400)}")
    // File-set pruning end to end: every base-snapshot file the probe
    // reads sits under a probed cid= directory (deltas are O(delta)).
    val baseFiles = probe.inputFiles.filter(_.contains("/asg/"))
    assert(baseFiles.nonEmpty, "probe read no base snapshot files")
    val scannedCids = baseFiles.map(_.split("/asg/")(1).split("/")(0)).distinct.sorted
    assert(scannedCids.forall(_.startsWith("cid=")),
      s"unpruned base read: ${baseFiles.take(3).mkString(", ")}")
    // 5 queries x 1 probe => at most 5 of the 16 cluster dirs scanned.
    assert(scannedCids.length <= 5,
      s"probe scanned ${scannedCids.length} cluster dirs (expected <= 5): " +
        scannedCids.mkString(", "))
    info(s"probe base scan: ${scannedCids.mkString(", ")}")
  }

  test("IvfIndexStore.compactIfNeeded fires exactly at the shared chain policy") {
    import graft.operators.{GenChain, IvfIndexStore}
    import graft.functions.vectors
    import org.apache.spark.sql.functions._
    val dir = tempDir("graft-ivfpolicy").toString + "/store"
    val e = Tables.embeddings(spark, sf0001)
      .select(col("vec_id"), col("embedding"), vectors.norm(col("embedding")).as("nrm"))
      .localCheckpoint()
    val cent = e.where(col("vec_id") < 16)
      .select(col("vec_id").as("cid"), col("embedding").as("ce"), col("nrm").as("cn"))
    def asg(cond: org.apache.spark.sql.Column) =
      e.where(cond).join(broadcast(cent))
        .select(col("vec_id"), col("cid"),
          (vectors.dot(col("embedding"), col("ce")) / (col("nrm") * col("cn"))).as("cos"))
        .groupBy(col("vec_id"))
        .agg(max(struct(col("cos"), (-col("cid")).as("neg"))).as("m"))
        .select(col("vec_id"), (-col("m.neg")).as("cid"))
    IvfIndexStore.init(spark, dir, cent, asg(col("vec_id") % 16 === 0))
    // Segment count below the policy, overhead below the ratio: no fire.
    IvfIndexStore.admit(spark, dir, asg(col("vec_id") % 16 === 1))
    // read = base + delta == folded (disjoint, no retract) -> 1000 milli.
    assert(!IvfIndexStore.compactIfNeeded(spark, dir), "fired below both thresholds")
    assert(IvfIndexStore.currentGeneration(dir) == 1)
    // Drive the chain to the segment-count threshold: must fire ONCE.
    (2 until GenChain.recommendMaxSegments + 1).foreach { k =>
      IvfIndexStore.admit(spark, dir, asg(col("vec_id") % 16 === k))
    }
    val before = IvfIndexStore
      .assignmentsOf(spark, dir, IvfIndexStore.currentGeneration(dir))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(IvfIndexStore.compactIfNeeded(spark, dir), "did not fire at maxSegments")
    val gen = IvfIndexStore.currentGeneration(dir)
    assert(!IvfIndexStore.compactIfNeeded(spark, dir), "re-fired on a folded chain")
    assert(IvfIndexStore.currentGeneration(dir) == gen)
    val after = IvfIndexStore.assignmentsOf(spark, dir, gen)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(after == before, "policy-triggered compact changed the assignment")
  }

  test("IvfIndexStore: a compact after a TOTAL retract stays readable and accepts new admits") {
    import graft.operators.IvfIndexStore
    import graft.functions.vectors
    import org.apache.spark.sql.functions._
    val spark0 = spark
    import spark0.implicits._
    val dir = tempDir("graft-ivfempty").toString + "/store"
    def vecs(rows: Seq[(Long, Seq[Double])]) = rows.toDF("vec_id", "embedding")
      .select(col("vec_id"), col("embedding"), vectors.norm(col("embedding")).as("nrm"))
    val cent = vecs(Seq(0L -> Seq(1.0, 0.0), 1L -> Seq(0.0, 1.0)))
      .select(col("vec_id").as("cid"), col("embedding").as("ce"), col("nrm").as("cn"))
      .localCheckpoint()
    def assign(df: org.apache.spark.sql.DataFrame) = df.join(broadcast(cent))
      .select(col("vec_id"), col("cid"),
        (vectors.dot(col("embedding"), col("ce")) / (col("nrm") * col("cn"))).as("cos"))
      .groupBy(col("vec_id"))
      .agg(max(struct(col("cos"), (-col("cid")).as("neg"))).as("m"))
      .select(col("vec_id"), (-col("m.neg")).as("cid"))
    IvfIndexStore.init(spark, dir, cent, assign(vecs(Seq(10L -> Seq(0.9, 0.1)))))
    IvfIndexStore.retract(spark, dir, Seq(10L).toDF("vec_id"))
    val folded = IvfIndexStore.compact(spark, dir)
    assert(IvfIndexStore.assignmentsOf(spark, dir, folded).count() == 0)
    IvfIndexStore.admit(spark, dir, assign(vecs(Seq(20L -> Seq(0.2, 0.9)))))
    assert(IvfIndexStore
      .assignmentsOf(spark, dir, IvfIndexStore.currentGeneration(dir))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet == Set(20L -> 1L))
  }

  test("q135 cluster health: members partition the corpus and agree with the q37 assignment") {
    val health = SparkEntry.queries("q135_ivf_cluster_health")(spark, sf0001).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    val q37 = SparkEntry.queries("q37_ivf_assign")(spark, sf0001).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val n = Tables.embeddings(spark, sf0001).count()
    assert(health.values.map(_._1).sum == n, "members do not partition the corpus")
    assert(health.keySet == q37.keySet, "cluster sets differ from q37")
    health.foreach { case (c, (members, cohesion, separation)) =>
      assert(members == q37(c), s"cluster $c size disagrees with q37")
      assert(cohesion >= 0 && separation > 0, s"cluster $c degenerate stats")
    }
  }

  test("q131 PQ-ADC recall vs exact L2 brute force is measured and non-degenerate") {
    val vecs = Tables.embeddings(spark, sf0001).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    def l2(a: Array[Float], b: Array[Float]): Double =
      a.indices.foldLeft(0.0) { (acc, i) =>
        val d = a(i).toDouble - b(i).toDouble; acc + d * d
      }
    val queryIds = (0L until 5L).filter(vecs.contains)
    val bTop = queryIds.map { q =>
      q -> vecs.keys.filter(_ != q).toSeq
        .sortBy(v => (l2(vecs(q), vecs(v)), v)).take(5).toSet
    }.toMap
    val pq = SparkEntry.queries("q131_pq_adc_ann")(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val pTop = pq.groupBy(_._1).map { case (q, rs) => q -> rs.map(_._2).toSet }
    assert(pTop.keySet == queryIds.toSet)
    pTop.values.foreach(s => assert(s.size == 5, "PQ top-k not 5 distinct neighbors"))
    // The final stage re-ranks by EXACT L2, so the reported micro
    // distance must equal the driver-side value on every row.
    pq.foreach { case (q, n, _, micro) =>
      val want = math.floor(1e6 * l2(vecs(q), vecs(n)) + 0.5).toLong
      assert(micro == want, s"($q,$n) l2_micro $micro != exact $want")
    }
    val recalls = queryIds.map(q => (bTop(q) & pTop(q)).size / 5.0)
    info(f"PQ shortlist+re-rank recall@5 vs exact L2: mean ${recalls.sum / recalls.size}%.2f " +
      s"(per-query ${recalls.mkString(", ")})")
    // Raw ADC top-5 measures ~0.3 on this corpus — the two-stage shape
    // exists precisely to recover that; the 10%-deep shortlist must
    // carry most of the true top-5 through the exact re-rank.
    assert(recalls.sum / recalls.size >= 0.7, s"PQ two-stage recall collapsed: $recalls")
  }

  test("IvfIndexStore: chained admits equal flat assignment; probe scan file-set pruned; retract->re-admit revives; txns replay once; compact single-sources; vacuum keeps ingest alive") {
    import graft.operators.IvfIndexStore
    import graft.functions.vectors
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.DataFrame
    val dir = tempDir("graft-ivfstore").toString + "/store"
    val e = Tables.embeddings(spark, sf0001)
      .select(col("vec_id"), col("embedding"), vectors.norm(col("embedding")).as("nrm"))
      .localCheckpoint()
    val cent = e.where(col("vec_id") < 16)
      .select(col("vec_id").as("cid"), col("embedding").as("ce"), col("nrm").as("cn"))
      .localCheckpoint()
    def assign(df: DataFrame): DataFrame =
      df.join(broadcast(cent))
        .select(col("vec_id"), col("cid"),
          (vectors.dot(col("embedding"), col("ce")) / (col("nrm") * col("cn"))).as("cos"))
        .groupBy(col("vec_id"))
        .agg(max(struct(col("cos"), (-col("cid")).as("neg"))).as("m"))
        .select(col("vec_id"), (-col("m.neg")).as("cid"))
    def asgSet(df: DataFrame): Set[(Long, Long)] =
      df.select(col("vec_id"), col("cid")).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val base = e.where(col("vec_id") % 4 =!= 0)
    val d1 = e.where(col("vec_id") % 8 === 0)
    val d2 = e.where(col("vec_id") % 8 === 4)
    val flat = asgSet(assign(e)) // the ground-up rebuild every state must equal

    assert(IvfIndexStore.init(spark, dir, cent, assign(base), txn = 10L) == 0)
    assert(IvfIndexStore.admitOnce(spark, dir, assign(d1), txn = 11L) == 1)
    // Replayed micro-batch: same txn commits nothing new.
    assert(IvfIndexStore.admitOnce(spark, dir, assign(d1), txn = 11L) == 1,
      "replayed txn was admitted twice")
    assert(IvfIndexStore.currentGeneration(dir) == 1)
    assert(IvfIndexStore.admitOnce(spark, dir, assign(d2), txn = 12L) == 2)
    assert(asgSet(IvfIndexStore.assignmentsOf(spark, dir, 2)) == flat,
      "chained admits diverged from the flat assignment")

    // File-set pruning: with probed cids, the BASE snapshot contributes
    // only the probed cid= directories (deltas are O(delta), read whole).
    val pruned = IvfIndexStore.assignmentsOf(spark, dir, 2, Some(Seq(3L, 5L)))
    val baseFiles = pruned.inputFiles.filter(_.contains("/asg/"))
    assert(baseFiles.nonEmpty)
    assert(baseFiles.forall(f => f.contains("cid=3") || f.contains("cid=5")),
      s"unpruned base file in probe scan: ${baseFiles.mkString(", ")}")
    assert(asgSet(pruned) == flat.filter { case (_, c) => c == 3L || c == 5L },
      "pruned read diverged on the probed clusters")

    // Retract the d1 members, then RE-ADMIT them: tombstones are
    // generation-scoped, so the re-admitted rows are live again.
    val d1Ids = d1.select(col("vec_id"))
    val d1Set = d1Ids.collect().map(_.getLong(0)).toSet
    assert(IvfIndexStore.retractOnce(spark, dir, d1Ids, txn = 13L) == 3)
    assert(IvfIndexStore.retractOnce(spark, dir, d1Ids, txn = 13L) == 3,
      "replayed retract committed twice")
    assert(asgSet(IvfIndexStore.assignmentsOf(spark, dir, 3))
      == flat.filterNot { case (v, _) => d1Set(v) }, "retract left wrong rows")
    assert(IvfIndexStore.admitOnce(spark, dir, assign(d1), txn = 14L) == 4)
    assert(asgSet(IvfIndexStore.assignmentsOf(spark, dir, 4)) == flat,
      "re-admitted vectors are not live (tombstone not generation-scoped)")

    // Compact folds the chain: same answer, single-source read.
    val cGen = IvfIndexStore.compact(spark, dir)
    assert(cGen == 5)
    val folded = IvfIndexStore.assignmentsOf(spark, dir, cGen)
    assert(asgSet(folded) == flat, "compaction changed the assignment")
    assert(folded.inputFiles.forall(_.contains(s"/v$cGen/asg/")),
      "post-compact read still touches the segment chain")

    // Crash leftovers are invisible: a stray gen tmp changes nothing.
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(s"$dir/.gen-tmp-v99-p0"))
    assert(IvfIndexStore.currentGeneration(dir) == cGen)

    // Retention: drop below the fold, ingest (txn scan skips vacuumed
    // generations) and reads keep working.
    IvfIndexStore.vacuumGenerations(dir, cGen)
    assert(IvfIndexStore.admitOnce(spark, dir,
      assign(d1).select(col("vec_id"), col("cid")).where(lit(false)), txn = 15L) == cGen + 1,
      "admitOnce after vacuumGenerations failed")
    assert(asgSet(IvfIndexStore.assignmentsOf(spark, dir, cGen + 1)) == flat)
    val gone = intercept[IllegalStateException](
      IvfIndexStore.assignmentsOf(spark, dir, 2).count())
    assert(gone.getMessage.contains("no full-snapshot"), gone.getMessage)
  }
}
