package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{ScratchRoot, Tables}
import graft.functions.vectors

/** Similarity search over `embeddings` (ArrayType(FloatType), 64-dim):
  * embedding-cosine near-dup pairs, brute-force ANN top-k (the exactness
  * baseline), and the LSH-bucketed scale path.
  *
  * Scale notes: brute-force is O(n*q) — correct as the small-q baseline
  * or re-rank stage; the production path is the random-hyperplane LSH
  * bucketing (q30): signature is a per-row map, bucketing is one shuffle
  * on the signature, and candidate generation joins within buckets only.
  */
object Similarity {

  /** Deterministic pseudo-random integer hyperplanes (engine-portable:
    * same literals appear in the SQL oracle).
    */
  val dims = 64
  val numPlanes = 8
  val planes: Seq[Seq[Int]] =
    (0 until numPlanes).map(j => (0 until dims).map(k => ((j * 131 + k * 37) % 17) - 8))

  val neardupThreshold = 0.3

  /** DuckDB replicas of the double-precision sequential folds in
    * [[graft.functions.vectors]] (bit-identical op order).
    */
  private def dotSql(a: String, b: String): String =
    s"list_reduce(list_prepend(CAST(0 AS DOUBLE), " +
      s"list_transform(list_zip($a, $b), z -> CAST(z[1] AS DOUBLE) * CAST(z[2] AS DOUBLE))), " +
      s"(x, y) -> x + y)"

  private def ssSql(a: String): String =
    s"list_reduce(list_prepend(CAST(0 AS DOUBLE), " +
      s"list_transform($a, v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE))), (x, y) -> x + y)"

  def cosSql(a: String, b: String): String =
    s"(${dotSql(a, b)} / (sqrt(${ssSql(a)}) * sqrt(${ssSql(b)})))"

  /** DuckDB replica of vectors.lshSignature over `v`. */
  def sigSql(v: String): String =
    planes.zipWithIndex.map { case (p, j) =>
      val lits = p.mkString("[", ", ", "]")
      s"CASE WHEN ${dotSql(v, lits)} > 0 THEN ${1L << j} ELSE 0 END"
    }.mkString("(", " + ", ")")

  /** Blocks for triangle-partitioned all-pairs generation (q28): P blocks
    * give P*(P+1)/2 shuffle keys and a replication factor of P+1 per row.
    * Scale knob: raise with the cluster so each block-pair's (n/P)^2
    * comparisons fit one task.
    */
  val pairBlocks = 8

  /** All-pairs embedding-cosine near-duplicates above the threshold, via
    * block-partitioned ("triangle") pair generation: each vector lands in
    * one of [[pairBlocks]] blocks and is replicated to every block-pair it
    * participates in — side A carries (pi = blk, pj >= blk), side B
    * (pi <= blk, pj = blk) — so the pair space becomes an EQUI-join on the
    * block-pair key. Each unordered cross-block pair meets under exactly
    * one key; same-block pairs are deduped by `vec_a < vec_b`. Nothing is
    * broadcast and no nested-loop/cartesian appears in the plan
    * (plan-asserted in QueryPlanSpec): the n^2/2 comparisons distribute
    * over the shuffle, which is what survives when the table is far past
    * broadcast size. Norms are hoisted (once per vector, not per pair);
    * dot and norm-product are term-commutative, so the unnormalized pair
    * orientation reproduces the ordered-pair cosine bit-for-bit.
    */
  private def q28(s: SparkSession, d: String): DataFrame = {
    val e = Tables.embeddings(s, d)
      .select(col("vec_id"), col("embedding"), vectors.norm(col("embedding")).as("nrm"),
        pmod(col("vec_id"), lit(pairBlocks)).cast("int").as("blk"))
      .localCheckpoint() // feeds both sides of the block-pair self-join
    val a = e.select(col("vec_id").as("vec_a"), col("embedding").as("ea"), col("nrm").as("na"),
      col("blk").as("pi"), explode(sequence(col("blk"), lit(pairBlocks - 1))).as("pj"))
    val b = e.select(col("vec_id").as("vec_b"), col("embedding").as("eb"), col("nrm").as("nb"),
      explode(sequence(lit(0), col("blk"))).as("qi"), col("blk").as("qj"))
    a.hint("shuffle_hash")
      .join(b, col("pi") === col("qi") && col("pj") === col("qj")
        && (col("pi") =!= col("pj") || col("vec_a") < col("vec_b")))
      .select(least(col("vec_a"), col("vec_b")).as("va"),
        greatest(col("vec_a"), col("vec_b")).as("vb"),
        (vectors.dot(col("ea"), col("eb")) / (col("na") * col("nb"))).as("c"))
      .where(col("c") >= neardupThreshold)
      .select(col("va").as("vec_a"), col("vb").as("vec_b"), round(col("c"), 6).as("cos"))
      .orderBy(col("vec_a"), col("vec_b"))
  }

  /** Brute-force cosine top-k: 5 query vectors against the full corpus.
    * Per-group top-k via ranking window with full tie-break.
    */
  private def q29(s: SparkSession, d: String): DataFrame = {
    val e = Tables.embeddings(s, d)
      .select(col("vec_id"), col("embedding"), vectors.norm(col("embedding")).as("nrm"))
    val q = e.where(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("embedding").as("qe"), col("nrm").as("nq"))
    val c = e.select(col("vec_id").as("neighbor_id"), col("embedding").as("ne"), col("nrm").as("nn"))
      .repartition(col("neighbor_id"))
    val w = Window.partitionBy(col("query_id")).orderBy(col("c").desc, col("neighbor_id"))
    broadcast(q).join(c, col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        (vectors.dot(col("qe"), col("ne")) / (col("nq") * col("nn"))).as("c"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .where(col("rank") <= 5)
      .select(col("query_id"), col("neighbor_id"), col("rank"), round(col("c"), 6).as("cos"))
      .orderBy(col("query_id"), col("rank"))
  }

  /** LSH bucket inventory: random-hyperplane signature per vector, bucket
    * stats (the candidate-generation structure for ANN at scale).
    */
  private def q30(s: SparkSession, d: String): DataFrame =
    Tables.embeddings(s, d)
      .select(col("vec_id"), vectors.lshSignature(col("embedding"), planes).as("sig"))
      .groupBy(col("sig"))
      .agg(count(lit(1)).as("n_vecs"), min(col("vec_id")).as("min_vec"))
      .orderBy(col("sig"))

  /** The full scalable near-dup pipeline: LSH signature -> bucket
    * equi-join (candidates only, one shuffle on the signature) -> exact
    * cosine verification. Contrast with q28's all-pairs baseline: same
    * verification math, O(collisions) instead of O(n^2) candidates.
    */
  private def q36(s: SparkSession, d: String): DataFrame = {
    val e = Tables.embeddings(s, d)
      .select(
        col("vec_id"), col("embedding"),
        vectors.lshSignature(col("embedding"), planes).as("sig"),
        vectors.norm(col("embedding")).as("nrm"))
      .localCheckpoint() // feeds both sides of the bucket self-join
    val a = e.select(col("vec_id").as("vec_a"), col("embedding").as("ea"),
      col("sig").as("sig_a"), col("nrm").as("na"))
    val b = e.select(col("vec_id").as("vec_b"), col("embedding").as("eb"),
      col("sig").as("sig_b"), col("nrm").as("nb"))
    a.join(b, col("sig_a") === col("sig_b") && col("vec_a") < col("vec_b"))
      .select(col("vec_a"), col("vec_b"), col("sig_a").as("sig"),
        (vectors.dot(col("ea"), col("eb")) / (col("na") * col("nb"))).as("c"))
      .where(col("c") >= neardupThreshold)
      .select(col("vec_a"), col("vec_b"), col("sig"), round(col("c"), 6).as("cos"))
      .orderBy(col("vec_a"), col("vec_b"))
  }

  /** Argmax by AGGREGATION, not a ranking window: max(struct(cos, -cid))
    * picks the highest cosine with ties to the LOWEST cid (same answer as
    * row_number over (cos desc, cid)), but a groupBy partial-aggregates
    * map-side — each task sends one candidate row per vector into the
    * exchange — where a window must shuffle and sort all n*k rows first.
    * One spelling for every path: delegates to
    * [[graft.operators.IvfIndexStore.assignAgainst]], which the
    * pipeline's frozen-centroid admits also use.
    */
  private[graft] def nearest(df: DataFrame, cents: DataFrame, id: String, vec: String, nrm: String): DataFrame =
    graft.operators.IvfIndexStore.assignAgainst(df, cents, id, vec, nrm)

  /** IVF coarse quantization: assign every vector to its nearest of 16
    * "centroids" (deterministically: the first 16 vectors — a real IVF
    * would Lloyd-iterate, which only moves the centroid table, not the
    * assignment shape). The centroid table broadcasts; assignment is one
    * pass over the corpus via [[nearest]]'s map-side argmax aggregation;
    * probing then searches only the query's cluster — the third ANN
    * regime next to brute force (q29) and LSH (q30/q36).
    */
  private def q37(s: SparkSession, d: String): DataFrame = {
    val e = Tables.embeddings(s, d)
      .select(col("vec_id"), col("embedding"), vectors.norm(col("embedding")).as("nrm"))
    val cents = e.where(col("vec_id") < 16)
      .select(col("vec_id").as("cid"), col("embedding").as("ce"), col("nrm").as("cn"))
    nearest(e, cents, "vec_id", "embedding", "nrm")
      .groupBy(col("cid").as("cluster"))
      .agg(count(lit(1)).as("n_vecs"), min(col("vec_id")).as("min_vec"))
      .orderBy(col("cluster"))
  }

  /** Quantization scale for the Lloyd centroid mean: components become
    * floor(v*1000) BIGINTs whose sums are exact and order-independent —
    * the property that makes the centroid bit-identical across engines
    * and across shuffle orders (a raw double sum is neither).
    */
  val quantScale = 1000

  /** One Lloyd iteration + cluster-probe ANN: (1) assign every vector to
    * its nearest seed centroid (the first 16 vectors, as q37); (2) Lloyd
    * step — recompute each centroid as the element-wise mean of its
    * members in quantized integer space; (3) reassign the corpus to the
    * new centroids; (4) probe — each query searches ONLY its nearest
    * cluster's members and re-ranks them exactly. That is the IVF trade
    * at scale: a 16-row broadcast centroid pass plus one cluster's
    * members instead of the whole corpus (recall vs q29 brute force is
    * measured in SimilaritySpec). The centroid table is 16 rows at any
    * corpus size; the only corpus-wide work is two narrow assignment
    * passes and the final per-cluster re-rank.
    */
  private def q42(s: SparkSession, d: String): DataFrame = ivfProbe(s, d, nprobe = 1)

  /** Bound on Lloyd rounds for q73 — fixed so the DuckDB oracle can
    * unroll exactly this many centroid updates; the engine may stop
    * earlier at the assignment fixed point (provably the same result).
    */
  val lloydSteps = 3

  /** IVF probe after Lloyd iteration to convergence (<= [[lloydSteps]]
    * rounds): the production IVF build, where the centroid table is
    * trained rather than seeded once. SimilaritySpec measures recall vs
    * q29's brute force across iteration depths.
    */
  private def q73(s: SparkSession, d: String): DataFrame = lloydProbe(s, d, nprobe = 1)

  /** Multi-probe variant: each query searches its `nprobe` nearest
    * clusters (disjoint member sets — every vector lives in exactly one
    * cluster), trading a proportionally larger re-rank for recall; the
    * spec asserts 2-probe recall >= 1-probe recall against q29's brute
    * force. Cost remains centroid-table-broadcast + probed clusters only.
    */
  private def q71(s: SparkSession, d: String): DataFrame = ivfProbe(s, d, nprobe = 2)

  /** Build the persisted IVF index once per session: train (one Lloyd
    * step over the seed centroids — q42's construction) and materialize
    * BOTH index tables as parquet: `centroids` (16 rows) and
    * `assignments` (corpus-sized (vec_id, cid) — the inverted file).
    * Returns (centroidsDir, assignmentsDir). Per-JVM root, so
    * concurrent sessions (bench + verify) never clobber each other's
    * live index files; later calls in the same session are no-ops and
    * probes serve purely from the persisted tables (the write-once /
    * probe-many amortization a production ANN index lives by).
    */
  private[graft] def ensureIvfIndex(s: SparkSession, d: String): (String, String) = {
    import org.apache.spark.sql.graftbridge.DatasetBridge
    val base = ScratchRoot.jvm("ivf", d)
    val centDir = s"$base/centroids"
    val asgDir = s"$base/assignments"
    ScratchRoot.once(base) {
      val e = Tables.embeddings(s, d)
        .select(col("vec_id"), col("embedding"), vectors.norm(col("embedding")).as("nrm"))
        .localCheckpoint() // feeds both assignment passes + the centroid train
      val c0 = e.where(col("vec_id") < 16)
        .select(col("vec_id").as("cid"), col("embedding").as("ce"), col("nrm").as("cn"))
      val cent = centroids(e, nearest(e, c0, "vec_id", "embedding", "nrm"))
        .localCheckpoint() // feeds the write AND the assignment pass
      cent.write.mode("overwrite").parquet(centDir)
      nearest(e, cent, "vec_id", "embedding", "nrm")
        .write.mode("overwrite").parquet(asgDir)
      DatasetBridge.unpersistCheckpoint(cent)
      DatasetBridge.unpersistCheckpoint(e)
    }
    (centDir, asgDir)
  }

  /** Probe-only ANN against the PERSISTED IVF index: [[ensureIvfIndex]]
    * amortizes training + corpus assignment into one write, and this
    * query's own plan contains NO training stages — just scans of the
    * two index tables, the broadcast centroid ranking, and the probed
    * cluster's exact re-rank (plan-asserted in SimilaritySpec). Same
    * result as q42 (the index persists exactly q42's construction, and
    * parquet round-trips doubles losslessly), so it shares q42's oracle
    * — what changes is the serving cost: at 100 TB the corpus is
    * assigned once, then every query pays only centroid-broadcast +
    * one cluster.
    */
  private def q88(s: SparkSession, d: String): DataFrame = {
    val (centDir, asgDir) = ensureIvfIndex(s, d)
    val e = Tables.embeddings(s, d)
      .select(col("vec_id"), col("embedding"), vectors.norm(col("embedding")).as("nrm"))
    probeTail(e, s.read.parquet(centDir), s.read.parquet(asgDir), nprobe = 1)
  }

  /** The Lloyd centroid update: each centroid becomes the element-wise
    * mean of its members, computed in quantized integer space —
    * floor(v*1000) BIGINT component sums are exact and order-independent,
    * which is what makes the new centroid table bit-identical across
    * engines and shuffle orders.
    */
  private[graft] def centroids(e: DataFrame, asg: DataFrame): DataFrame =
    asg.join(e, "vec_id")
      .select(col("cid"), posexplode(col("embedding")))
      .select(col("cid"), col("pos"),
        floor(col("col").cast("double") * quantScale).cast("long").as("qv"))
      .groupBy(col("cid"), col("pos"))
      .agg(sum(col("qv")).as("sq"), count(lit(1)).as("cnt"))
      .groupBy(col("cid"))
      .agg(collect_list(
        struct(col("pos"), (col("sq").cast("double") / col("cnt")).as("comp"))).as("lst"))
      // 16 tiny arrays: the interpreted transform/array_sort is off the
      // data path (never per-corpus-row).
      .select(col("cid"), transform(array_sort(col("lst")), x => x.getField("comp")).as("ce"))
      .select(col("cid"), col("ce"), sqrt(vectors.dot(col("ce"), col("ce"))).as("cn"))

  /** Lloyd iteration to (bounded) convergence: up to `maxSteps` centroid
    * updates with an exact early-stop — the round's reassignment is
    * compared to the previous one and the loop ends when NO vector
    * changed cluster (a fixed point: identical assignment => identical
    * means => every further step is a no-op, which is what lets the
    * oracle unroll a FIXED step count while the engine stops early).
    * Same checkpoint discipline as [[graft.operators.Dedup.canonicalLabels]]:
    * each round's tables are localCheckpoint'd (truncating the iterative
    * lineage) and the superseded round's blocks are freed immediately, so
    * executor storage stays flat however many rounds run; the only
    * driver-side value is the per-round changed-count scalar.
    */
  private def lloydConverged(
      e: DataFrame, c0: DataFrame, maxSteps: Int): (DataFrame, DataFrame) = {
    import org.apache.spark.sql.graftbridge.DatasetBridge
    var asg = nearest(e, c0, "vec_id", "embedding", "nrm").localCheckpoint()
    var cent: DataFrame = null
    var step = 0
    var converged = false
    while (step < maxSteps && !converged) {
      val newCent = centroids(e, asg).localCheckpoint() // feeds asg + probe joins
      val newAsg = nearest(e, newCent, "vec_id", "embedding", "nrm").localCheckpoint()
      val changed = newAsg.withColumnRenamed("cid", "cid_new")
        .join(asg, "vec_id")
        .where(col("cid_new") =!= col("cid")).count()
      DatasetBridge.unpersistCheckpoint(asg)
      if (cent != null) DatasetBridge.unpersistCheckpoint(cent)
      asg = newAsg
      cent = newCent
      converged = changed == 0
      step += 1
    }
    (cent, asg)
  }

  private def ivfProbe(s: SparkSession, d: String, nprobe: Int): DataFrame = {
    val e = Tables.embeddings(s, d)
      .select(col("vec_id"), col("embedding"), vectors.norm(col("embedding")).as("nrm"))
      .localCheckpoint() // corpus projection feeds four consumers
    val c0 = e.where(col("vec_id") < 16)
      .select(col("vec_id").as("cid"), col("embedding").as("ce"), col("nrm").as("cn"))

    val asg0 = nearest(e, c0, "vec_id", "embedding", "nrm")
    val cent = centroids(e, asg0)
      .localCheckpoint() // feeds two broadcast joins
    val asg1 = nearest(e, cent, "vec_id", "embedding", "nrm")
    probeTail(e, cent, asg1, nprobe)
  }

  /** Multi-step variant backing q73: Lloyd to convergence (bounded by
    * [[lloydSteps]]), then the same cluster probe.
    */
  private def lloydProbe(s: SparkSession, d: String, nprobe: Int): DataFrame = {
    val e = Tables.embeddings(s, d)
      .select(col("vec_id"), col("embedding"), vectors.norm(col("embedding")).as("nrm"))
      .localCheckpoint()
    val c0 = e.where(col("vec_id") < 16)
      .select(col("vec_id").as("cid"), col("embedding").as("ce"), col("nrm").as("cn"))
    val (cent, asg) = lloydConverged(e, c0, lloydSteps)
    probeTail(e, cent, asg, nprobe)
  }

  private def probeTail(
      e: DataFrame, cent: DataFrame, asg: DataFrame, nprobe: Int): DataFrame = {
    val qs = e.where(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("embedding").as("qe"), col("nrm").as("nq"))
    // Query-side probe list: ranking window instead of the argmax
    // aggregate so nprobe > 1 keeps the next-nearest clusters (the window
    // runs over 5 * 16 rows — off the data path).
    val qw = Window.partitionBy(col("query_id")).orderBy(col("cos").desc, col("cid"))
    val qc = qs.join(broadcast(cent))
      .select(col("query_id"), col("cid"),
        (vectors.dot(col("qe"), col("ce")) / (col("nq") * col("cn"))).as("cos"))
      .withColumn("rn", row_number().over(qw))
      .where(col("rn") <= nprobe)
      .select(col("query_id"), col("cid"))
    val w = Window.partitionBy(col("query_id")).orderBy(col("c").desc, col("neighbor_id"))
    qc.join(asg.select(col("cid"), col("vec_id").as("neighbor_id")), "cid")
      .where(col("neighbor_id") =!= col("query_id"))
      .join(broadcast(qs), "query_id")
      .join(e.select(col("vec_id").as("neighbor_id"), col("embedding").as("ne"),
        col("nrm").as("nn")), "neighbor_id")
      .select(col("query_id"), col("neighbor_id"),
        (vectors.dot(col("qe"), col("ne")) / (col("nq") * col("nn"))).as("c"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .where(col("rank") <= 5)
      .select(col("query_id"), col("neighbor_id"), col("rank"), round(col("c"), 6).as("cos"))
      .orderBy(col("query_id"), col("rank"))
  }

  /** Int8 embedding quantization + brute-force ANN over the quantized
    * vectors — the 4x storage/bandwidth cut a 100 TB embedding corpus
    * takes before anything else touches it. Per-vector symmetric scheme:
    * scale = max|v_i| (so q_i = floor(v_i/scale*127 + 0.5) lands in
    * [-127, 127] with NO clamp — the max element divides itself to
    * exactly 1.0, and floor(x+0.5) is round-half-up spelled in IEEE ops
    * both engines share). The scale cancels in cosine, so ranking needs
    * no dequantization, and the quantized dot/norms are EXACT small
    * integers (<= 64·127²) — the only floats are the final sqrt/divide,
    * bit-identical cross-engine. Recall@5 vs the float brute force (q29)
    * measures 0.96 on this corpus (SimilaritySpec).
    */
  private def q75(s: SparkSession, d: String): DataFrame = {
    val q = quantized(s, d)
    val qs = q.where(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("qv").as("qq"), col("qn").as("nq"))
    val c = q.select(col("vec_id").as("neighbor_id"), col("qv").as("nv"), col("qn").as("nn"))
    val w = Window.partitionBy(col("query_id")).orderBy(col("c").desc, col("neighbor_id"))
    broadcast(qs).join(c, col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        (vectors.dot(col("qq"), col("nv")) / (col("nq") * col("nn"))).as("c"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .where(col("rank") <= 5)
      .select(col("query_id"), col("neighbor_id"), col("rank"), round(col("c"), 6).as("qcos"))
      .orderBy(col("query_id"), col("rank"))
  }

  /** 1-bit (sign) binary quantization ANN — the extreme point of the
    * quantization family (float q29 -> int8 q75 -> 1-bit here): each
    * 64-dim float vector becomes its 64 sign bits, a 256x storage /
    * bandwidth cut, and similarity ranking becomes integer Hamming
    * distance (xor + popcount — exact, engine-portable, no floats
    * anywhere). The bits pack into TWO BIGINT halves (lo = dims 0..31,
    * hi = 32..63) rather than one: bit 63 would be the sign bit, whose
    * portable construction (1 << 63) overflows DuckDB's BIGINT
    * arithmetic — two halves keep both engines in plain positive-integer
    * space. Ranking: 5-query broadcast against the corpus (q75's
    * shape); recall@5 vs the float brute force is measured in
    * SimilaritySpec. At 100 TB this is the candidate-generation tier
    * that reads 16 bytes/vector instead of 4 KB.
    */
  private def q89(s: SparkSession, d: String): DataFrame = {
    val p = signPacked(s, d)
    val qs = p.where(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("lo").as("qlo"), col("hi").as("qhi"))
    val w = Window.partitionBy(col("query_id")).orderBy(col("hamming"), col("neighbor_id"))
    broadcast(qs)
      .join(p.select(col("vec_id").as("neighbor_id"), col("lo"), col("hi")),
        col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        expr("CAST(bit_count(qlo ^ lo) + bit_count(qhi ^ hi) AS BIGINT)").as("hamming"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .where(col("rank") <= 5)
      .select(col("query_id"), col("neighbor_id"), col("rank"), col("hamming"))
      .orderBy(col("query_id"), col("rank"))
  }

  /** Product-quantization geometry (q131): the [[dims]]-dim space splits
    * into [[pqM]] contiguous subspaces of [[pqSubDim]] floats; each
    * subspace carries a [[pqK]]-codeword codebook (deterministically, the
    * subvectors of the first pqK corpus vectors — a production build
    * Lloyd-trains per subspace, which moves only the pqM*pqK-row codebook
    * table, never the shape). A code is pqM small ints per vector:
    * 8 bytes standing in for 256 float bytes — the 32x memory/bandwidth
    * compression that makes billion-vector ANN serveable at all.
    */
  val pqM = 8
  val pqSubDim: Int = dims / pqM
  val pqK = 16

  /** Exact-integer grain for q131's ADC lookup table entries. */
  val pqMicro = 1000000L

  /** ADC shortlist size for q131's re-rank stage. The quantizer is lossy
    * (8 bytes standing in for 256 — measured recall@5 of raw ADC top-5
    * is ~0.3 on this corpus), so production PQ never serves raw ADC
    * ranks: ADC GENERATES a bounded candidate list and an exact pass
    * re-ranks it. 50-of-500 keeps the exact stage at 10% of the corpus
    * per query; scale the ratio down as the corpus grows.
    */
  val pqShortlist = 50

  /** (id, j, s): one row per (vector, subspace) with the subvector. */
  private def pqSub(df: DataFrame, id: String): DataFrame =
    df.select(col(id), explode(sequence(lit(0), lit(pqM - 1))).as("j"), col("embedding"))
      .select(col(id), col("j"),
        expr(s"slice(embedding, j * $pqSubDim + 1, $pqSubDim)").as("s"))

  /** ||a - b||² as (Σa² - 2·Σab) + Σb² — three [[vectors.dot]] sequential
    * folds composed in a fixed order, so the double is bit-identical to
    * the oracle's same composition of list_reduce folds.
    */
  private def pqL2(a: Column, b: Column): Column =
    vectors.sumSquares(a) - lit(2.0) * vectors.dot(a, b) + vectors.sumSquares(b)

  /** Product-quantization ANN, the production two-stage shape:
    * (1) ENCODE — every vector's pqM subvectors map to their nearest
    * codeword (broadcast 128-row codebook, map-side argmin aggregation —
    * the q37 pattern per subspace); the corpus then lives as the codes
    * table, pqM small ints per vector. (2) ADC SHORTLIST — each query
    * precomputes its distance to every codeword once (the lookup table:
    * pqM*pqK entries per query, micro-integer grain), and a vector's
    * approximate distance is the SUM of table lookups selected by its
    * codes — a broadcast equi-join on (j, code) plus a partial
    * aggregation; no float vector is touched while scanning the corpus.
    * (3) EXACT RE-RANK — the [[pqShortlist]]-deep ADC candidates (and
    * only they) are joined back to their float vectors and re-ranked by
    * exact L2. Integer micro distances make both rankings
    * hash-deterministic across engines and shuffle orders. Shortlist and
    * end-to-end recall vs exact brute force are measured in
    * SimilaritySpec. At scale this is the PQ bargain: the corpus-wide
    * scan reads 8 bytes per vector instead of 256, and the 32x-bigger
    * float rows are fetched for only shortlist*queries candidates.
    */
  private def q131(s: SparkSession, d: String): DataFrame = {
    val e = Tables.embeddings(s, d).select(col("vec_id"), col("embedding"))
    val cb = pqSub(e.where(col("vec_id") < pqK), "vec_id")
      .select(col("j"), col("vec_id").as("code"), col("s").as("cw"))
      .localCheckpoint() // feeds encode AND the LUT; 128 rows
    val codes = pqSub(e, "vec_id").join(broadcast(cb), "j")
      .select(col("vec_id"), col("j"), col("code"), pqL2(col("s"), col("cw")).as("dist"))
      .groupBy(col("vec_id"), col("j"))
      .agg(min(struct(col("dist"), col("code"))).as("m"))
      .select(col("vec_id"), col("j"), col("m.code").as("code"))
    val q = e.where(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("embedding").as("qe"))
      .localCheckpoint() // 5 rows: feeds the LUT and the re-rank
    val lut = pqSub(q.select(col("query_id"), col("qe").as("embedding")), "query_id")
      .join(broadcast(cb), "j")
      .select(col("query_id"), col("j"), col("code"),
        floor(lit(pqMicro) * pqL2(col("s"), col("cw")) + lit(0.5)).as("dmicro"))
    val wAdc = Window.partitionBy(col("query_id")).orderBy(col("adc_micro"), col("neighbor_id"))
    val shortlist = codes.join(broadcast(lut), Seq("j", "code"))
      .where(col("vec_id") =!= col("query_id"))
      .groupBy(col("query_id"), col("vec_id"))
      .agg(sum(col("dmicro")).as("adc_micro"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"), col("adc_micro"))
      .withColumn("adc_rank", row_number().over(wAdc))
      .where(col("adc_rank") <= pqShortlist)
    val wExact = Window.partitionBy(col("query_id")).orderBy(col("l2_micro"), col("neighbor_id"))
    shortlist
      .join(e.select(col("vec_id").as("neighbor_id"), col("embedding").as("ne")), "neighbor_id")
      .join(broadcast(q), "query_id")
      .select(col("query_id"), col("neighbor_id"),
        floor(lit(pqMicro) * pqL2(col("qe"), col("ne")) + lit(0.5)).as("l2_micro"))
      .withColumn("rank", row_number().over(wExact).cast("long"))
      .where(col("rank") <= 5)
      .select(col("query_id"), col("neighbor_id"), col("rank"), col("l2_micro"))
      .orderBy(col("query_id"), col("rank"))
  }

  /** Oracle for [[q131]]: identical subspace slicing, codebook, fold
    * composition, micro quantization, and tie-breaks in DuckDB.
    */
  private def pqSql: String = {
    def l2(a: String, b: String): String =
      s"(${ssSql(a)} - 2 * ${dotSql(a, b)} + ${ssSql(b)})"
    s"""WITH sub AS (SELECT vec_id, j,
       |        list_slice(embedding, j * $pqSubDim + 1, j * $pqSubDim + $pqSubDim) AS s
       |      FROM embeddings CROSS JOIN (SELECT unnest(range(0, $pqM)) AS j) jj),
       |cb AS (SELECT j, vec_id AS code, s AS cw FROM sub WHERE vec_id < $pqK),
       |enc AS (SELECT vec_id, j, code FROM (
       |          SELECT sub.vec_id, sub.j, cb.code,
       |            row_number() OVER (PARTITION BY sub.vec_id, sub.j
       |              ORDER BY ${l2("sub.s", "cb.cw")}, cb.code) AS rn
       |          FROM sub JOIN cb ON sub.j = cb.j) WHERE rn = 1),
       |lut AS (SELECT sub.vec_id AS query_id, cb.j, cb.code,
       |          CAST(floor($pqMicro * ${l2("sub.s", "cb.cw")} + 0.5) AS BIGINT) AS dmicro
       |        FROM sub JOIN cb ON sub.j = cb.j WHERE sub.vec_id < 5),
       |adc AS (SELECT lut.query_id, enc.vec_id AS neighbor_id,
       |          CAST(sum(dmicro) AS BIGINT) AS adc_micro
       |        FROM enc JOIN lut ON enc.j = lut.j AND enc.code = lut.code
       |        WHERE enc.vec_id <> lut.query_id GROUP BY 1, 2),
       |sl AS (SELECT query_id, neighbor_id FROM (
       |         SELECT query_id, neighbor_id,
       |           row_number() OVER (PARTITION BY query_id
       |             ORDER BY adc_micro, neighbor_id) AS adc_rank
       |         FROM adc) WHERE adc_rank <= $pqShortlist),
       |ex AS (SELECT sl.query_id, sl.neighbor_id,
       |         CAST(floor($pqMicro * ${l2("eq.embedding", "en.embedding")} + 0.5) AS BIGINT)
       |           AS l2_micro
       |       FROM sl JOIN embeddings eq ON eq.vec_id = sl.query_id
       |               JOIN embeddings en ON en.vec_id = sl.neighbor_id),
       |r AS (SELECT query_id, neighbor_id, l2_micro,
       |        row_number() OVER (PARTITION BY query_id
       |          ORDER BY l2_micro, neighbor_id) AS rank
       |      FROM ex)
       |SELECT query_id, neighbor_id, rank, l2_micro
       |FROM r WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin
  }

  /** IVF index-health report: per cluster of the q37 seeded assignment,
    * the member count, COHESION (exact integer mean of per-member
    * micro-quantized cosine distance to the centroid — each member's
    * 1−cos is floored to micros first, so the mean is a deterministic
    * integer div, never a float sum), and SEPARATION (micro cosine
    * distance from the centroid to its nearest OTHER centroid, off the
    * 16×16 centroid table). Separation ≫ cohesion is what makes 1-probe
    * recall viable — this is the report that says whether an IVF index
    * needs re-training or more probes BEFORE recall is paid for at
    * query time. One broadcast-centroid corpus pass (the q37 argmax,
    * keeping the winning cosine alongside the winning id) plus a
    * 16-row self-join; nothing corpus-sized is ever ranked or re-read.
    */
  private def q135(s: SparkSession, d: String): DataFrame = {
    val e = Tables.embeddings(s, d)
      .select(col("vec_id"), col("embedding"), vectors.norm(col("embedding")).as("nrm"))
    val cents = e.where(col("vec_id") < 16)
      .select(col("vec_id").as("cid"), col("embedding").as("ce"), col("nrm").as("cn"))
      .localCheckpoint() // feeds the corpus pass AND the 16x16 self-join
    val assigned = e.join(broadcast(cents))
      .select(col("vec_id"), col("cid"),
        (vectors.dot(col("embedding"), col("ce")) / (col("nrm") * col("cn"))).as("cos"))
      .groupBy(col("vec_id"))
      .agg(max(struct(col("cos"), (-col("cid")).as("neg"))).as("m"))
      .select(col("vec_id"), (-col("m.neg")).as("cluster"),
        floor(lit(1000000L) * (lit(1.0) - col("m.cos")) + lit(0.5)).as("scatter"))
    val cohesion = assigned.groupBy(col("cluster"))
      .agg(count(lit(1)).as("n_members"),
        expr("sum(scatter) div count(1)").as("cohesion_micro"))
    val separation = cents.select(col("cid").as("cluster"), col("ce").as("ca"), col("cn").as("na"))
      .join(cents.select(col("cid").as("other"), col("ce").as("cb"), col("cn").as("nb")),
        col("cluster") =!= col("other"))
      .select(col("cluster"),
        floor(lit(1000000L) *
          (lit(1.0) - vectors.dot(col("ca"), col("cb")) / (col("na") * col("nb"))) +
          lit(0.5)).as("dist"))
      .groupBy(col("cluster")).agg(min(col("dist")).as("separation_micro"))
    cohesion.join(broadcast(separation), "cluster")
      .select(col("cluster"), col("n_members"), col("cohesion_micro"), col("separation_micro"))
      .orderBy(col("cluster"))
  }

  /** Oracle for [[q135]]: same argmax tie-break, micro flooring, and
    * integer mean in DuckDB.
    */
  private def clusterHealthSql: String =
    s"""WITH e AS (SELECT vec_id, embedding, sqrt(${ssSql("embedding")}) AS nrm
       |           FROM embeddings),
       |ct AS (SELECT vec_id AS cid, embedding AS ce, nrm AS cn FROM e WHERE vec_id < 16),
       |cc AS (SELECT e.vec_id, ct.cid,
       |         ${dotSql("e.embedding", "ct.ce")} / (e.nrm * ct.cn) AS c
       |       FROM e CROSS JOIN ct),
       |asg AS (SELECT vec_id, cid AS cluster,
       |          CAST(floor(1000000 * (1.0 - c) + 0.5) AS BIGINT) AS scatter
       |        FROM (SELECT *, row_number() OVER (PARTITION BY vec_id
       |                ORDER BY c DESC, cid) AS rn FROM cc) WHERE rn = 1),
       |coh AS (SELECT cluster, count(*) AS n_members,
       |          CAST(sum(scatter) AS BIGINT) // count(*) AS cohesion_micro
       |        FROM asg GROUP BY cluster),
       |sep AS (SELECT a.cid AS cluster,
       |          min(CAST(floor(1000000 * (1.0 - ${dotSql("a.ce", "b.ce")} / (a.cn * b.cn)) + 0.5)
       |            AS BIGINT)) AS separation_micro
       |        FROM ct a JOIN ct b ON a.cid <> b.cid GROUP BY a.cid)
       |SELECT cluster, n_members, cohesion_micro, separation_micro
       |FROM coh JOIN sep USING (cluster) ORDER BY cluster""".stripMargin

  /** (vec_id, lo, hi): sign bits of the 64 components packed into two
    * BIGINT halves — one narrow map, constant per-row work.
    */
  private[graft] def signPacked(s: SparkSession, d: String): DataFrame =
    Tables.embeddings(s, d).select(
      col("vec_id"),
      (0 until 32)
        .map(j => when(element_at(col("embedding"), j + 1) > lit(0f), lit(1L << j)).otherwise(lit(0L)))
        .reduce(_ + _).as("lo"),
      (32 until 64)
        .map(j => when(element_at(col("embedding"), j + 1) > lit(0f), lit(1L << (j - 32))).otherwise(lit(0L)))
        .reduce(_ + _).as("hi"))

  /** (vec_id, qv = int8-representable components as doubles, qn = exact
    * integer norm) — one narrow map over the corpus; the 64-element
    * interpreted transforms are per-row constant work, not data-scale
    * lambdas over strings.
    */
  private[graft] def quantized(s: SparkSession, d: String): DataFrame =
    Tables.embeddings(s, d)
      .select(col("vec_id"), col("embedding"),
        greatest(
          array_max(transform(col("embedding"), x => abs(x.cast("double")))),
          lit(1e-30)).as("scale"))
      .select(col("vec_id"),
        // Spark floor returns BIGINT (DuckDB's returns DOUBLE) — cast
        // back so the arrays type-match vector_dot on both engines.
        transform(col("embedding"),
          x => floor(x.cast("double") / col("scale") * lit(127) + lit(0.5)).cast("double")).as("qv"))
      .select(col("vec_id"), col("qv"), sqrt(vectors.dot(col("qv"), col("qv"))).as("qn"))

  /** Hybrid retrieval: reciprocal-rank fusion of the SPARSE ranking
    * (q60's inverted-index impact dots) and the DENSE ranking (embedding
    * cosine) for the same bounded query set — the standard two-tower
    * fusion a retrieval stack runs when neither lexical nor semantic
    * alone suffices. RRF needs only the two rank lists: contribution
    * 1000000 div (60 + rank) in exact integer micro (the k=60 of
    * Cormack et al. SIGIR'09), full-outer-joined on (q_id, doc_id) so a
    * doc ranked by either tower scores. All corpus-scale work lives in
    * the two tower pipelines (each already scale-shaped); the fusion
    * itself joins two <= 5-row-per-query lists and ranks within a
    * bounded window. The query set is FIXED (ids < 500 with the q60
    * residue), so the dense tower's broadcast side is O(1) at any
    * corpus size, and the sparse tower's query filter sits on the
    * window partition key where Catalyst pushes it below the dot join.
    */
  private def q106(s: SparkSession, d: String): DataFrame = {
    val sparse = TextCorpus.sparseTopKFrom(TextCorpus.postingsTable(s, d),
      TextCorpus.postingCap,
      queryPred = col("doc_id") % 100 === 7 && col("doc_id") < 500)
      .select(col("q_id"), col("doc_id"), col("rank").as("sparse_rank"))
    val e = Tables.embeddings(s, d)
      .select(col("vec_id"), col("embedding"), vectors.norm(col("embedding")).as("nrm"))
    val q = e.where(col("vec_id") % 100 === 7 && col("vec_id") < 500)
      .select(col("vec_id").as("q_id"), col("embedding").as("qe"), col("nrm").as("nq"))
    val denseW = Window.partitionBy(col("q_id")).orderBy(col("c").desc, col("doc_id"))
    val dense = broadcast(q)
      .join(e.select(col("vec_id").as("doc_id"), col("embedding").as("ne"),
        col("nrm").as("nn")), col("q_id") =!= col("doc_id"))
      .select(col("q_id"), col("doc_id"),
        (vectors.dot(col("qe"), col("ne")) / (col("nq") * col("nn"))).as("c"))
      .withColumn("dense_rank", row_number().over(denseW).cast("long"))
      .where(col("dense_rank") <= 5)
      .select(col("q_id"), col("doc_id"), col("dense_rank"))
    val fusedW = Window.partitionBy(col("q_id"))
      .orderBy(col("rrf_micro").desc, col("doc_id"))
    sparse.join(dense, Seq("q_id", "doc_id"), "full_outer")
      .select(col("q_id"), col("doc_id"),
        coalesce(col("sparse_rank"), lit(0L)).as("sparse_rank"),
        coalesce(col("dense_rank"), lit(0L)).as("dense_rank"))
      .withColumn("rrf_micro",
        when(col("sparse_rank") > 0, expr("1000000 div (60 + sparse_rank)"))
          .otherwise(lit(0L))
          + when(col("dense_rank") > 0, expr("1000000 div (60 + dense_rank)"))
          .otherwise(lit(0L)))
      .withColumn("fused_rank", row_number().over(fusedW).cast("long"))
      .where(col("fused_rank") <= 5)
      .select(col("q_id"), col("fused_rank"), col("doc_id"), col("rrf_micro"),
        col("sparse_rank"), col("dense_rank"))
      .orderBy(col("q_id"), col("fused_rank"))
  }

  /** Drift threshold for [[q173]]'s retrain recommendation: a
    * generation whose mean assignment cosine sits more than this many
    * MICRO (1e-6) units below generation 0's is flagged.
    */
  val ivfDriftMicro = 20000L

  private def corpusProj(s: SparkSession, d: String): DataFrame =
    Tables.embeddings(s, d)
      .select(col("vec_id"), col("embedding"), vectors.norm(col("embedding")).as("nrm"))

  /** Build the incrementally-maintained IVF chain into `dir`: TRAIN on
    * the 75% base split only (seeds = its 16 lowest ids, one Lloyd step
    * — the q88 construction restricted to the base), [[graft.operators.IvfIndexStore.init]]
    * with the base assignment snapshot, then ADMIT the two delta
    * batches (12.5% each), each assigned against the store's FROZEN
    * centroid table read back from disk — the O(delta) maintenance path
    * a growing 100 TB embedding corpus takes instead of re-clustering
    * per batch.
    */
  private def buildIvfChain(s: SparkSession, d: String, dir: String): Unit = {
    import graft.operators.IvfIndexStore
    import org.apache.spark.sql.graftbridge.DatasetBridge
    val e = corpusProj(s, d).localCheckpoint() // feeds train + three assignment passes
    val base = e.where(col("vec_id") % 4 =!= 0)
    val c0 = base.where(col("vec_id") < 22) // exactly the 16 lowest base ids
      .select(col("vec_id").as("cid"), col("embedding").as("ce"), col("nrm").as("cn"))
    val cent = centroids(base, nearest(base, c0, "vec_id", "embedding", "nrm"))
      .localCheckpoint() // feeds the init write + the base assignment
    IvfIndexStore.init(s, dir, cent,
      nearest(base, cent, "vec_id", "embedding", "nrm"))
    // Admits assign against the STORE's centroids (frozen, from disk —
    // parquet round-trips doubles losslessly, so this is the trained
    // table bit-for-bit).
    val storeCent = IvfIndexStore.centroidsOf(s, dir, 0)
    IvfIndexStore.admit(s, dir,
      nearest(e.where(col("vec_id") % 8 === 0), storeCent, "vec_id", "embedding", "nrm"))
    IvfIndexStore.admit(s, dir,
      nearest(e.where(col("vec_id") % 8 === 4), storeCent, "vec_id", "embedding", "nrm"))
    DatasetBridge.unpersistCheckpoint(cent)
    DatasetBridge.unpersistCheckpoint(e)
  }

  private[graft] def ensureIvfStore(s: SparkSession, d: String): String = {
    val dir = ScratchRoot.jvm("ivfstore", d)
    ScratchRoot.once(dir)(buildIvfChain(s, d, dir))
  }

  /** q172's store: the q171 chain continued with a RETRACT (the base
    * members `vec_id % 16 == 1`) and a COMPACT folding the whole chain
    * back to a single snapshot generation.
    */
  private[graft] def ensureIvfCrudStore(s: SparkSession, d: String): String = {
    import graft.operators.IvfIndexStore
    val dir = ScratchRoot.jvm("ivfcrud", d)
    ScratchRoot.once(dir) {
      buildIvfChain(s, d, dir)
      IvfIndexStore.retract(s, dir,
        corpusProj(s, d).where(col("vec_id") % 16 === 1).select(col("vec_id")))
      IvfIndexStore.compact(s, dir)
    }
  }

  /** q177-q179's store: the q171 chain continued with a RETRAIN —
    * centroid EPOCH 1 trains one further quantized Lloyd step over ALL
    * live vectors (exactly the corpus the drift audit watches), the
    * live set is re-assigned against the new table in one O(live)
    * broadcast-argmax pass, and both publish INSIDE the chain as a
    * full-snapshot generation. Nothing is erased: txn stamps, the
    * segment history, and every pre-retrain generation's epoch-0
    * serving all survive (the properties q179 and the specs pin).
    * The fixture retrains unconditionally — this corpus has no real
    * drift (q173 reads healthy by construction), so the TRIGGER is
    * exercised by [[graft.operators.IvfIndexStore.retrainWhenRecommended]]'s
    * spec and the MECHANISM is gated here.
    */
  private[graft] def ensureIvfRetrainStore(s: SparkSession, d: String): String = {
    import graft.operators.IvfIndexStore
    import org.apache.spark.sql.graftbridge.DatasetBridge
    val dir = ScratchRoot.jvm("ivfretrain", d)
    ScratchRoot.once(dir) {
      buildIvfChain(s, d, dir)
      val e = corpusProj(s, d).localCheckpoint()
      val live = IvfIndexStore.assignmentsOf(
        s, dir, IvfIndexStore.currentGeneration(dir))
      val cent2 = centroids(e, live).localCheckpoint()
      IvfIndexStore.retrain(s, dir, cent2,
        nearest(e, cent2, "vec_id", "embedding", "nrm"))
      DatasetBridge.unpersistCheckpoint(cent2)
      DatasetBridge.unpersistCheckpoint(e)
    }
  }

  /** The probed cluster ids for the 5 standard queries, collected
    * DRIVER-SIDE (bounded: 5 x nprobe rows) — shared by every
    * store-probe path so the base snapshot scan is FILE-SET pruned to
    * the probed `cid=` directories; the ranking (cos desc, cid) is the
    * single spelling the SQL oracles' `pq` CTE mirrors.
    */
  private def probedCids(e: DataFrame, cent: DataFrame, nprobe: Int): Seq[Long] = {
    val qs = e.where(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("embedding").as("qe"), col("nrm").as("nq"))
    val qw = Window.partitionBy(col("query_id")).orderBy(col("cos").desc, col("cid"))
    qs.join(broadcast(cent))
      .select(col("query_id"), col("cid"),
        (vectors.dot(col("qe"), col("ce")) / (col("nq") * col("cn"))).as("cos"))
      .withColumn("rn", row_number().over(qw))
      .where(col("rn") <= nprobe)
      .select(col("cid")).distinct().collect().map(_.getLong(0)).toSeq
  }

  /** Probe the store: probed clusters from [[probedCids]], the base
    * snapshot scan pruned to their `cid=` directories, and
    * [[probeTail]] re-ranking exactly as q88 does.
    */
  private def storeProbe(s: SparkSession, d: String, dir: String): DataFrame = {
    import graft.operators.IvfIndexStore
    val gen = IvfIndexStore.currentGeneration(dir)
    val e = corpusProj(s, d)
    val cent = IvfIndexStore.centroidsOf(s, dir, gen)
    val probed = probedCids(e, cent, nprobe = 1)
    probeTail(e, cent, IvfIndexStore.assignmentsOf(s, dir, gen, Some(probed)), nprobe = 1)
  }

  /** INCREMENTAL IVF maintenance (the ANN analog of q167's LSH chain):
    * the index is trained ONCE on the 75% base corpus, the two delta
    * batches are admitted as O(delta) assignment segments against the
    * frozen centroids, and the probe — served from the chained store,
    * base scan pruned to the probed `cid=` directories — must equal the
    * oracle's flat derivation (train on base, assign ALL, probe), so
    * the gate proves chained admits == rebuild. At 100 TB: admit cost
    * tracks the batch, never the corpus; re-clustering per batch would
    * be a full-corpus shuffle.
    */
  private def q171(s: SparkSession, d: String): DataFrame =
    storeProbe(s, d, ensureIvfStore(s, d))

  /** Full CRUD on the IVF index store: q171's chain + RETRACT (the
    * `vec_id % 16 == 1` base members leave via a generation-scoped
    * tombstone segment — no base rewrite) + COMPACT (the chain folds to
    * one snapshot generation; answer-preserving by the gate). The probe
    * after both must equal the oracle's derivation with the retracted
    * vectors excluded from candidacy — proving retract semantics AND
    * compaction's answer preservation in one query.
    */
  private def q172(s: SparkSession, d: String): DataFrame =
    storeProbe(s, d, ensureIvfCrudStore(s, d))

  /** DRIFT AUDIT over the IVF chain — the retrain trigger a frozen-
    * centroid index needs: per generation (0 = the trained base, 1/2 =
    * the admitted deltas), the member count and the mean
    * member-to-centroid cosine in exact MICRO units (per-row cosines
    * fold to floor(cos*1e6) BIGINTs, so the sum is order-independent
    * and the reported mean is one identical IEEE divide+floor in both
    * engines); `retrain_recommended` fires when a generation's mean
    * sits more than [[ivfDriftMicro]] below the base's. On this corpus
    * the deltas are drawn from the same distribution, so the audit
    * reads healthy — the oracle derives the same integers, proving the
    * instrument exact either way.
    */
  private def q173(s: SparkSession, d: String): DataFrame = {
    import graft.operators.IvfIndexStore
    val dir = ensureIvfStore(s, d)
    val e = corpusProj(s, d)
    val cent = IvfIndexStore.centroidsOf(s, dir, 0)
    val segs = (0 to IvfIndexStore.currentGeneration(dir)).map { g =>
      IvfIndexStore.segmentOf(s, dir, g).withColumn("generation", lit(g.toLong))
    }.reduce(_ unionByName _)
    val agg = segs.join(e, "vec_id").join(broadcast(cent), "cid")
      .select(col("generation"),
        floor((vectors.dot(col("embedding"), col("ce")) / (col("nrm") * col("cn")))
          * lit(1000000.0)).cast("long").as("micro"))
      .groupBy(col("generation"))
      .agg(count(lit(1)).as("n_vecs"), sum(col("micro")).as("sm"))
      .withColumn("mean_cos_micro",
        floor(col("sm").cast("double") / col("n_vecs")).cast("long"))
    val baseMean = agg.where(col("generation") === 0)
      .select(col("mean_cos_micro").as("base_mean"))
    agg.crossJoin(broadcast(baseMean))
      .select(col("generation"), col("n_vecs"), col("mean_cos_micro"),
        (col("mean_cos_micro") < col("base_mean") - ivfDriftMicro)
          .as("retrain_recommended"))
      .orderBy(col("generation"))
  }

  /** TIME TRAVEL over the IVF chain — the q161 analog for the ANN
    * index: the SAME probe served AS OF each generation of q171's
    * init -> admit -> admit history (generation 0 sees only the trained
    * base, 1 adds the first delta, 2 the second), every answer against
    * one oracle deriving each generation's candidate membership from
    * the split predicates. The probed clusters are identical across
    * generations (centroids are frozen — the property that makes the
    * chain time-travelable at all: only MEMBERSHIP changes), and each
    * generation's scan is still file-set pruned. This is how a 100 TB
    * deployment reproduces the exact retrieval any past pipeline run
    * saw.
    */
  private def q175(s: SparkSession, d: String): DataFrame = {
    import graft.operators.IvfIndexStore
    val dir = ensureIvfStore(s, d)
    val e = corpusProj(s, d)
    val cent = IvfIndexStore.centroidsOf(s, dir, 0)
    val probed = probedCids(e, cent, nprobe = 1)
    (0 to IvfIndexStore.currentGeneration(dir)).map { g =>
      probeTail(e, cent, IvfIndexStore.assignmentsOf(s, dir, g, Some(probed)), nprobe = 1)
        .withColumn("generation", lit(g.toLong))
        .select(col("generation"), col("query_id"), col("neighbor_id"),
          col("rank"), col("cos"))
    }.reduce(_ unionByName _)
      .orderBy(col("generation"), col("query_id"), col("rank"))
  }

  /** RETRAIN-AND-MIGRATE on the IVF store (the action q173's drift
    * signal calls for): the q171 chain flips to centroid EPOCH 1 — new
    * centroids trained on all live vectors, live set re-assigned, both
    * published INSIDE the chain — and the post-retrain probe must equal
    * the oracle's flat derivation (train on base, assign all, ONE MORE
    * Lloyd step over everything, re-assign, probe). That proves the
    * migrated store == a from-scratch rebuild under the new centroids,
    * with none of the rebuild's costs: txn stamps, history, and
    * exactly-once ingest all survive the flip (q179 + the specs pin
    * those). At 100 TB: a retrain costs one assignment pass over the
    * live corpus — the same O(corpus) a rebuild pays for assignment —
    * but skips re-erasing/re-writing history and never breaks the
    * ingest loop's replay detection.
    */
  private def q177(s: SparkSession, d: String): DataFrame =
    storeProbe(s, d, ensureIvfRetrainStore(s, d))

  /** RECALL ACROSS THE EPOCH FLIP — the acceptance check a production
    * retrain gates on: for the 5 standard queries, recall@5 of the
    * nprobe=1 probe against exact brute-force top-5, measured under the
    * FROZEN epoch-0 centroids (the pre-retrain head) and under the
    * retrained epoch-1 table, in exact integer micro. One bounded
    * brute-force pass (5 queries broadcast against the corpus — the q29
    * shape) plus two store probes; the oracle derives the identical
    * integers, so the instrument itself is proven exact.
    */
  private def q178(s: SparkSession, d: String): DataFrame = {
    import graft.operators.IvfIndexStore
    val dir = ensureIvfRetrainStore(s, d)
    // NOT checkpointed: a query body's checkpoint can never be
    // unpersisted (the returned frame references it) — the projection
    // is cheap to recompute per consumer, the storeProbe discipline.
    val e = corpusProj(s, d)
    val head = IvfIndexStore.currentGeneration(dir)
    val qs = e.where(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("embedding").as("qe"), col("nrm").as("nq"))
    val bw = Window.partitionBy(col("query_id")).orderBy(col("c").desc, col("neighbor_id"))
    val brute = broadcast(qs)
      .join(e.select(col("vec_id").as("neighbor_id"), col("embedding").as("ne"),
        col("nrm").as("nn")), col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        (vectors.dot(col("qe"), col("ne")) / (col("nq") * col("nn"))).as("c"))
      .withColumn("rn", row_number().over(bw)).where(col("rn") <= 5)
      .select(col("query_id"), col("neighbor_id"), lit(1).as("_hit"))
    def probeAt(g: Int) = {
      val cent = IvfIndexStore.centroidsOf(s, dir, g)
      val probed = probedCids(e, cent, nprobe = 1)
      probeTail(e, cent, IvfIndexStore.assignmentsOf(s, dir, g, Some(probed)), nprobe = 1)
        .withColumn("epoch", lit(IvfIndexStore.epochOf(dir, g).toLong))
    }
    probeAt(head - 1).unionByName(probeAt(head))
      .join(broadcast(brute), Seq("query_id", "neighbor_id"), "left")
      .groupBy(col("epoch"))
      .agg(count(lit(1)).as("n_returned"), count(col("_hit")).as("n_hits"))
      .withColumn("recall_micro", expr("(1000000 * n_hits) div n_returned"))
      .orderBy(col("epoch"))
  }

  /** TIME TRAVEL ACROSS THE EPOCH FLIP — q175's property extended to a
    * retrained chain: the probe AS OF each generation is served under
    * that generation's OWN epoch's centroid table (generations 0-2
    * under the frozen epoch-0 training, the retrain generation under
    * epoch 1), with each epoch's own probed-cluster routing. This is
    * what the epoch mechanism buys over re-init: a deployment can
    * reproduce the exact retrieval any past pipeline run saw, on either
    * side of any number of retrains, from one store.
    */
  private def q179(s: SparkSession, d: String): DataFrame = {
    import graft.operators.IvfIndexStore
    val dir = ensureIvfRetrainStore(s, d)
    val e = corpusProj(s, d) // uncheckpointed: see q178
    (0 to IvfIndexStore.currentGeneration(dir)).map { g =>
      val cent = IvfIndexStore.centroidsOf(s, dir, g)
      val probed = probedCids(e, cent, nprobe = 1)
      probeTail(e, cent, IvfIndexStore.assignmentsOf(s, dir, g, Some(probed)), nprobe = 1)
        .withColumn("generation", lit(g.toLong))
        .withColumn("epoch", lit(IvfIndexStore.epochOf(dir, g).toLong))
        .select(col("generation"), col("epoch"), col("query_id"),
          col("neighbor_id"), col("rank"), col("cos"))
    }.reduce(_ unionByName _)
      .orderBy(col("generation"), col("query_id"), col("rank"))
  }

  /** The retrain's derivation in oracle terms: ONE more quantized Lloyd
    * step over the whole live corpus (comp2/cent2 from asg1), then a
    * full re-assignment (asg2) — exactly what [[ensureIvfRetrainStore]]
    * publishes as epoch 1.
    */
  private def ivfRetrainSql: String =
    s"""comp2 AS (SELECT a.cid, unnest(range(1, ${dims + 1})) AS pos,
       |           CAST(floor(CAST(unnest(e.embedding) AS DOUBLE) * $quantScale) AS BIGINT) AS qv
       |         FROM asg1 a JOIN e ON e.vec_id = a.vec_id),
       |cs2 AS (SELECT cid, pos, sum(qv) AS sq, count(*) AS cnt FROM comp2 GROUP BY cid, pos),
       |cent2 AS (SELECT cid, list(CAST(sq AS DOUBLE) / cnt ORDER BY pos) AS ce FROM cs2 GROUP BY cid),
       |cn2 AS (SELECT cid, ce, sqrt(${ssSql("ce")}) AS cn FROM cent2),
       |a2 AS (SELECT e.vec_id, c.cid, ${dotSql("e.embedding", "c.ce")} / (e.nrm * c.cn) AS cos
       |       FROM e CROSS JOIN cn2 c),
       |g2 AS (SELECT vec_id, cid,
       |         row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, cid) AS rn FROM a2),
       |asg2 AS (SELECT vec_id, cid FROM g2 WHERE rn = 1)""".stripMargin

  private def ivfRetrainProbeSql: String =
    ivfStoreHeadSql + ",\n" + ivfRetrainSql + ",\n" + ivfProbeTailSql("cn2", "asg2")

  /** A probe-routing CTE (query_id -> nprobe nearest cluster ids of
    * centroid table `cn`) named `pq$sfx` — q178/q179 route each epoch
    * through its own table.
    */
  private def ivfPqSql(sfx: String, cn: String): String =
    s"""pq$sfx AS (SELECT query_id, cid FROM (
       |         SELECT q.query_id, c.cid,
       |           row_number() OVER (PARTITION BY q.query_id
       |             ORDER BY ${dotSql("q.qe", "c.ce")} / (q.nq * c.cn) DESC, c.cid) AS rn
       |         FROM q CROSS JOIN $cn c) WHERE rn <= 1)""".stripMargin

  private def ivfEpochRecallSql: String =
    ivfStoreHeadSql + ",\n" + ivfRetrainSql + ",\n" +
      s"""q AS (SELECT vec_id AS query_id, embedding AS qe, nrm AS nq FROM e WHERE vec_id < 5),
         |brute AS (SELECT query_id, neighbor_id FROM (
         |            SELECT q.query_id, e2.vec_id AS neighbor_id,
         |              row_number() OVER (PARTITION BY q.query_id
         |                ORDER BY ${dotSql("q.qe", "e2.embedding")} / (q.nq * e2.nrm) DESC,
         |                  e2.vec_id) AS rn
         |            FROM q JOIN e e2 ON e2.vec_id <> q.query_id) WHERE rn <= 5),
         |${ivfPqSql("1", "cn1")},
         |${ivfPqSql("2", "cn2")},
         |pr1 AS (SELECT query_id, neighbor_id FROM (
         |          SELECT pq.query_id, m.vec_id AS neighbor_id,
         |            row_number() OVER (PARTITION BY pq.query_id
         |              ORDER BY ${dotSql("qq.qe", "e2.embedding")} / (qq.nq * e2.nrm) DESC,
         |                m.vec_id) AS rank
         |          FROM pq1 pq JOIN asg1 m ON m.cid = pq.cid
         |          JOIN q qq ON qq.query_id = pq.query_id
         |          JOIN e e2 ON e2.vec_id = m.vec_id
         |          WHERE m.vec_id <> pq.query_id) WHERE rank <= 5),
         |pr2 AS (SELECT query_id, neighbor_id FROM (
         |          SELECT pq.query_id, m.vec_id AS neighbor_id,
         |            row_number() OVER (PARTITION BY pq.query_id
         |              ORDER BY ${dotSql("qq.qe", "e2.embedding")} / (qq.nq * e2.nrm) DESC,
         |                m.vec_id) AS rank
         |          FROM pq2 pq JOIN asg2 m ON m.cid = pq.cid
         |          JOIN q qq ON qq.query_id = pq.query_id
         |          JOIN e e2 ON e2.vec_id = m.vec_id
         |          WHERE m.vec_id <> pq.query_id) WHERE rank <= 5),
         |u AS (SELECT 0 AS epoch, query_id, neighbor_id FROM pr1
         |      UNION ALL SELECT 1 AS epoch, query_id, neighbor_id FROM pr2),
         |hit AS (SELECT query_id, neighbor_id, 1 AS h FROM brute)
         |SELECT CAST(u.epoch AS BIGINT) AS epoch,
         |  CAST(count(*) AS BIGINT) AS n_returned,
         |  CAST(count(hit.h) AS BIGINT) AS n_hits,
         |  (1000000 * count(hit.h)) // count(*) AS recall_micro
         |FROM u LEFT JOIN hit ON hit.query_id = u.query_id
         |  AND hit.neighbor_id = u.neighbor_id
         |GROUP BY u.epoch ORDER BY epoch""".stripMargin

  private def ivfEpochTimeTravelSql: String =
    ivfStoreHeadSql + ",\n" + ivfRetrainSql + ",\n" +
      s"""q AS (SELECT vec_id AS query_id, embedding AS qe, nrm AS nq FROM e WHERE vec_id < 5),
         |${ivfPqSql("1", "cn1")},
         |${ivfPqSql("2", "cn2")},
         |ver AS (SELECT unnest([0, 1, 2]) AS generation),
         |mem1 AS (SELECT ver.generation, m.vec_id, m.cid FROM ver JOIN asg1 m
         |         ON (m.vec_id % 4 <> 0)
         |         OR (ver.generation >= 1 AND m.vec_id % 8 = 0)
         |         OR (ver.generation >= 2 AND m.vec_id % 8 = 4)),
         |cand1 AS (SELECT m.generation, 0 AS epoch, pq.query_id, m.vec_id AS neighbor_id,
         |            ${dotSql("qq.qe", "e2.embedding")} / (qq.nq * e2.nrm) AS c
         |          FROM pq1 pq JOIN mem1 m ON m.cid = pq.cid
         |          JOIN q qq ON qq.query_id = pq.query_id
         |          JOIN e e2 ON e2.vec_id = m.vec_id
         |          WHERE m.vec_id <> pq.query_id),
         |cand2 AS (SELECT 3 AS generation, 1 AS epoch, pq.query_id, m.vec_id AS neighbor_id,
         |            ${dotSql("qq.qe", "e2.embedding")} / (qq.nq * e2.nrm) AS c
         |          FROM pq2 pq JOIN asg2 m ON m.cid = pq.cid
         |          JOIN q qq ON qq.query_id = pq.query_id
         |          JOIN e e2 ON e2.vec_id = m.vec_id
         |          WHERE m.vec_id <> pq.query_id),
         |cand AS (SELECT * FROM cand1 UNION ALL SELECT * FROM cand2)
         |SELECT CAST(generation AS BIGINT) AS generation, CAST(epoch AS BIGINT) AS epoch,
         |  query_id, neighbor_id, rank, round(c, 6) AS cos FROM (
         |  SELECT generation, epoch, query_id, neighbor_id, c,
         |    row_number() OVER (PARTITION BY generation, query_id
         |      ORDER BY c DESC, neighbor_id) AS rank
         |  FROM cand)
         |WHERE rank <= 5 ORDER BY generation, query_id, rank""".stripMargin

  private def ivfTimeTravelSql: String =
    ivfStoreHeadSql + ",\n" +
      s"""ver AS (SELECT unnest([0, 1, 2]) AS generation),
         |mem AS (SELECT ver.generation, m.vec_id, m.cid FROM ver JOIN asg1 m
         |        ON (m.vec_id % 4 <> 0)
         |        OR (ver.generation >= 1 AND m.vec_id % 8 = 0)
         |        OR (ver.generation >= 2 AND m.vec_id % 8 = 4)),
         |q AS (SELECT vec_id AS query_id, embedding AS qe, nrm AS nq FROM e WHERE vec_id < 5),
         |pq AS (SELECT query_id, cid FROM (
         |         SELECT q.query_id, c.cid,
         |           row_number() OVER (PARTITION BY q.query_id
         |             ORDER BY ${dotSql("q.qe", "c.ce")} / (q.nq * c.cn) DESC, c.cid) AS rn
         |         FROM q CROSS JOIN cn1 c) WHERE rn <= 1),
         |cand AS (SELECT m.generation, pq.query_id, m.vec_id AS neighbor_id,
         |           ${dotSql("qq.qe", "e2.embedding")} / (qq.nq * e2.nrm) AS c
         |         FROM pq JOIN mem m ON m.cid = pq.cid
         |         JOIN q qq ON qq.query_id = pq.query_id
         |         JOIN e e2 ON e2.vec_id = m.vec_id
         |         WHERE m.vec_id <> pq.query_id)
         |SELECT CAST(generation AS BIGINT) AS generation, query_id, neighbor_id, rank,
         |  round(c, 6) AS cos FROM (
         |  SELECT generation, query_id, neighbor_id, c,
         |    row_number() OVER (PARTITION BY generation, query_id
         |      ORDER BY c DESC, neighbor_id) AS rank
         |  FROM cand)
         |WHERE rank <= 5 ORDER BY generation, query_id, rank""".stripMargin

  /** Shared derivation head for the IVF-store oracles: train on the
    * base split (seed = 16 lowest base ids, one quantized Lloyd step —
    * the ivfProbeSql construction restricted to `vec_id % 4 <> 0`),
    * then assign the WHOLE corpus against the trained centroids
    * (assignment is per-vector independent, so base-at-init plus
    * deltas-at-admit equals one formula over all vectors).
    */
  private def ivfStoreHeadSql: String =
    s"""WITH e AS (SELECT vec_id, embedding, sqrt(${ssSql("embedding")}) AS nrm FROM embeddings),
       |b AS (SELECT * FROM e WHERE vec_id % 4 <> 0),
       |c0 AS (SELECT vec_id AS cid, embedding AS ce, nrm AS cn FROM b WHERE vec_id < 22),
       |a0 AS (SELECT b.vec_id, c.cid, ${dotSql("b.embedding", "c.ce")} / (b.nrm * c.cn) AS cos
       |       FROM b CROSS JOIN c0 c),
       |g0 AS (SELECT vec_id, cid,
       |         row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, cid) AS rn FROM a0),
       |asg0 AS (SELECT vec_id, cid FROM g0 WHERE rn = 1),
       |comp1 AS (SELECT a.cid, unnest(range(1, ${dims + 1})) AS pos,
       |           CAST(floor(CAST(unnest(b.embedding) AS DOUBLE) * $quantScale) AS BIGINT) AS qv
       |         FROM asg0 a JOIN b ON b.vec_id = a.vec_id),
       |cs1 AS (SELECT cid, pos, sum(qv) AS sq, count(*) AS cnt FROM comp1 GROUP BY cid, pos),
       |cent1 AS (SELECT cid, list(CAST(sq AS DOUBLE) / cnt ORDER BY pos) AS ce FROM cs1 GROUP BY cid),
       |cn1 AS (SELECT cid, ce, sqrt(${ssSql("ce")}) AS cn FROM cent1),
       |a1 AS (SELECT e.vec_id, c.cid, ${dotSql("e.embedding", "c.ce")} / (e.nrm * c.cn) AS cos
       |       FROM e CROSS JOIN cn1 c),
       |g1 AS (SELECT vec_id, cid,
       |         row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, cid) AS rn FROM a1),
       |asg1 AS (SELECT vec_id, cid FROM g1 WHERE rn = 1)""".stripMargin

  /** The q88-shaped probe tail over a (centroid table, assignment
    * table) pair — q171/q172 bind the epoch-0 derivation (cn1/asg1),
    * q177 the retrained epoch 1 (cn2/asg2); `candFilter` excludes
    * retracted vectors from candidacy (q172).
    */
  private def ivfProbeTailSql(cn: String, asg: String, candFilter: String = ""): String =
    s"""q AS (SELECT vec_id AS query_id, embedding AS qe, nrm AS nq FROM e WHERE vec_id < 5),
       |pq AS (SELECT query_id, cid FROM (
       |         SELECT q.query_id, c.cid,
       |           row_number() OVER (PARTITION BY q.query_id
       |             ORDER BY ${dotSql("q.qe", "c.ce")} / (q.nq * c.cn) DESC, c.cid) AS rn
       |         FROM q CROSS JOIN $cn c) WHERE rn <= 1),
       |cand AS (SELECT pq.query_id, m.vec_id AS neighbor_id,
       |           ${dotSql("qq.qe", "e2.embedding")} / (qq.nq * e2.nrm) AS c
       |         FROM pq JOIN $asg m ON m.cid = pq.cid
       |         JOIN q qq ON qq.query_id = pq.query_id
       |         JOIN e e2 ON e2.vec_id = m.vec_id
       |         WHERE m.vec_id <> pq.query_id$candFilter)
       |SELECT query_id, neighbor_id, rank, round(c, 6) AS cos FROM (
       |  SELECT query_id, neighbor_id, c,
       |    row_number() OVER (PARTITION BY query_id ORDER BY c DESC, neighbor_id) AS rank
       |  FROM cand)
       |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin

  private def ivfStoreProbeSql(candFilter: String = ""): String =
    ivfStoreHeadSql + ",\n" + ivfProbeTailSql("cn1", "asg1", candFilter)

  private def ivfDriftSql: String =
    ivfStoreHeadSql + ",\n" +
      s"""seg AS (SELECT vec_id, cid,
         |          CASE WHEN vec_id % 4 <> 0 THEN 0
         |               WHEN vec_id % 8 = 0 THEN 1 ELSE 2 END AS generation
         |        FROM asg1),
         |sc AS (SELECT s.generation,
         |         CAST(floor((${dotSql("e.embedding", "c.ce")} / (e.nrm * c.cn)) * 1000000) AS BIGINT) AS micro
         |       FROM seg s JOIN e ON e.vec_id = s.vec_id JOIN cn1 c ON c.cid = s.cid),
         |ag AS (SELECT generation, CAST(count(*) AS BIGINT) AS n_vecs, sum(micro) AS sm
         |       FROM sc GROUP BY 1),
         |m AS (SELECT generation, n_vecs,
         |        CAST(floor(CAST(sm AS DOUBLE) / n_vecs) AS BIGINT) AS mean_cos_micro FROM ag),
         |b0 AS (SELECT mean_cos_micro AS base_mean FROM m WHERE generation = 0)
         |SELECT CAST(m.generation AS BIGINT) AS generation, m.n_vecs, m.mean_cos_micro,
         |  m.mean_cos_micro < (b0.base_mean - $ivfDriftMicro) AS retrain_recommended
         |FROM m CROSS JOIN b0 ORDER BY generation""".stripMargin

  val defs: Seq[QueryDef] = Seq(
    QueryDef("q171_incremental_ivf", q171, Some(ivfStoreProbeSql())),
    QueryDef("q172_ivf_index_crud", q172, Some(ivfStoreProbeSql(" AND m.vec_id % 16 <> 1"))),
    QueryDef("q173_ivf_drift_audit", q173, Some(ivfDriftSql)),
    QueryDef("q175_ivf_time_travel", q175, Some(ivfTimeTravelSql)),
    QueryDef("q177_ivf_retrain", q177, Some(ivfRetrainProbeSql)),
    QueryDef("q178_ivf_epoch_recall", q178, Some(ivfEpochRecallSql)),
    QueryDef("q179_ivf_epoch_time_travel", q179, Some(ivfEpochTimeTravelSql)),
    QueryDef("q135_ivf_cluster_health", q135, Some(clusterHealthSql)),
    QueryDef("q131_pq_adc_ann", q131, Some(pqSql)),
    QueryDef("q106_hybrid_rrf", q106, Some(
      s"""WITH ${TextCorpus.sparseSql("doc_id % 100 = 7 AND doc_id < 500")},
         |sr AS (SELECT q_id, doc_id, rank AS sparse_rank FROM r WHERE rank <= 5),
         |eq AS (SELECT vec_id AS q_id, embedding AS qe FROM embeddings
         |       WHERE vec_id % 100 = 7 AND vec_id < 500),
         |dc AS (SELECT eq.q_id, e.vec_id AS doc_id, ${cosSql("eq.qe", "e.embedding")} AS c
         |       FROM eq JOIN embeddings e ON eq.q_id <> e.vec_id),
         |dr AS (SELECT q_id, doc_id, row_number() OVER (PARTITION BY q_id
         |         ORDER BY c DESC, doc_id) AS dense_rank FROM dc),
         |dd AS (SELECT q_id, doc_id, dense_rank FROM dr WHERE dense_rank <= 5),
         |f AS (SELECT coalesce(sr.q_id, dd.q_id) AS q_id,
         |        coalesce(sr.doc_id, dd.doc_id) AS doc_id,
         |        CAST(coalesce(sr.sparse_rank, 0) AS BIGINT) AS sparse_rank,
         |        CAST(coalesce(dd.dense_rank, 0) AS BIGINT) AS dense_rank
         |      FROM sr FULL OUTER JOIN dd
         |        ON sr.q_id = dd.q_id AND sr.doc_id = dd.doc_id),
         |sc AS (SELECT *,
         |        CAST((CASE WHEN sparse_rank > 0 THEN 1000000 // (60 + sparse_rank) ELSE 0 END)
         |          + (CASE WHEN dense_rank > 0 THEN 1000000 // (60 + dense_rank) ELSE 0 END) AS BIGINT) AS rrf_micro
         |       FROM f),
         |fr AS (SELECT *, row_number() OVER (PARTITION BY q_id
         |         ORDER BY rrf_micro DESC, doc_id) AS fused_rank FROM sc)
         |SELECT q_id, fused_rank, doc_id, rrf_micro, sparse_rank, dense_rank
         |FROM fr WHERE fused_rank <= 5 ORDER BY q_id, fused_rank""".stripMargin)),
    QueryDef("q75_int8_ann", q75, Some(
      s"""WITH sc AS (SELECT vec_id,
         |        greatest(list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))), 1e-30) AS scale,
         |        embedding FROM embeddings),
         |qv AS (SELECT vec_id,
         |        list_transform(embedding, x -> floor(CAST(x AS DOUBLE) / scale * 127 + 0.5)) AS qv
         |       FROM sc),
         |n AS (SELECT vec_id, qv, sqrt(${ssSql("qv")}) AS qn FROM qv),
         |q AS (SELECT vec_id AS query_id, qv AS qq, qn AS nq FROM n WHERE vec_id < 5),
         |c AS (SELECT q.query_id, e2.vec_id AS neighbor_id,
         |        ${dotSql("q.qq", "e2.qv")} / (q.nq * e2.qn) AS c
         |      FROM q JOIN n e2 ON q.query_id <> e2.vec_id),
         |r AS (SELECT query_id, neighbor_id, c,
         |        row_number() OVER (PARTITION BY query_id ORDER BY c DESC, neighbor_id) AS rank
         |      FROM c)
         |SELECT query_id, neighbor_id, rank, round(c, 6) AS qcos
         |FROM r WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin)),
    QueryDef("q28_embedding_neardup", q28, Some(
      s"""WITH e AS (SELECT vec_id, embedding FROM embeddings),
         |p AS (SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
         |        ${cosSql("a.embedding", "b.embedding")} AS c
         |      FROM e a JOIN e b ON a.vec_id < b.vec_id)
         |SELECT vec_a, vec_b, round(c, 6) AS cos FROM p
         |WHERE c >= $neardupThreshold ORDER BY vec_a, vec_b""".stripMargin)),
    QueryDef("q29_ann_bruteforce", q29, Some(
      s"""WITH q AS (SELECT vec_id AS query_id, embedding AS qe FROM embeddings WHERE vec_id < 5),
         |c AS (SELECT q.query_id, e.vec_id AS neighbor_id,
         |        ${cosSql("q.qe", "e.embedding")} AS c
         |      FROM q JOIN embeddings e ON q.query_id <> e.vec_id),
         |r AS (SELECT query_id, neighbor_id, c,
         |        row_number() OVER (PARTITION BY query_id ORDER BY c DESC, neighbor_id) AS rank
         |      FROM c)
         |SELECT query_id, neighbor_id, rank, round(c, 6) AS cos
         |FROM r WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin)),
    QueryDef("q30_ann_lsh_buckets", q30, Some(
      s"""WITH s AS (SELECT vec_id, CAST(${sigSql("embedding")} AS BIGINT) AS sig FROM embeddings)
         |SELECT sig, count(*) AS n_vecs, min(vec_id) AS min_vec
         |FROM s GROUP BY sig ORDER BY sig""".stripMargin)),
    QueryDef("q36_lsh_neardup", q36, Some(
      s"""WITH s AS (SELECT vec_id, embedding, CAST(${sigSql("embedding")} AS BIGINT) AS sig,
         |             sqrt(${ssSql("embedding")}) AS nrm FROM embeddings),
         |p AS (SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, a.sig,
         |        ${dotSql("a.embedding", "b.embedding")} / (a.nrm * b.nrm) AS c
         |      FROM s a JOIN s b ON a.sig = b.sig AND a.vec_id < b.vec_id)
         |SELECT vec_a, vec_b, sig, round(c, 6) AS cos FROM p
         |WHERE c >= $neardupThreshold ORDER BY vec_a, vec_b""".stripMargin)),
    QueryDef("q37_ivf_assign", q37, Some(
      s"""WITH e AS (SELECT vec_id, embedding, sqrt(${ssSql("embedding")}) AS nrm FROM embeddings),
         |c AS (SELECT vec_id AS cid, embedding AS ce, nrm AS cn FROM e WHERE vec_id < 16),
         |a AS (SELECT e.vec_id, c.cid,
         |        ${dotSql("e.embedding", "c.ce")} / (e.nrm * c.cn) AS cos
         |      FROM e CROSS JOIN c),
         |r AS (SELECT vec_id, cid,
         |        row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, cid) AS rn
         |      FROM a)
         |SELECT cid AS cluster, count(*) AS n_vecs, min(vec_id) AS min_vec
         |FROM r WHERE rn = 1 GROUP BY cluster ORDER BY cluster""".stripMargin)),
    QueryDef("q42_ivf_probe", q42, Some(ivfProbeSql(1))),
    QueryDef("q71_ivf_multiprobe", q71, Some(ivfProbeSql(2))),
    QueryDef("q73_lloyd_probe", q73, Some(ivfProbeSql(1, lloydSteps))),
    QueryDef("q88_ivf_persisted_probe", q88, Some(ivfProbeSql(1))),
    QueryDef("q89_binary_ann", q89, Some(
      """WITH p AS (SELECT vec_id,
        |  CAST(list_sum(list_transform(range(0, 32),
        |    j -> CASE WHEN embedding[j+1] > 0 THEN (1::BIGINT << j) ELSE 0 END)) AS BIGINT) AS lo,
        |  CAST(list_sum(list_transform(range(32, 64),
        |    j -> CASE WHEN embedding[j+1] > 0 THEN (1::BIGINT << (j-32)) ELSE 0 END)) AS BIGINT) AS hi
        |  FROM embeddings),
        |q AS (SELECT vec_id AS query_id, lo AS qlo, hi AS qhi FROM p WHERE vec_id < 5),
        |c AS (SELECT q.query_id, p.vec_id AS neighbor_id,
        |        CAST(bit_count(xor(q.qlo, p.lo)) + bit_count(xor(q.qhi, p.hi)) AS BIGINT) AS hamming
        |      FROM q CROSS JOIN p WHERE p.vec_id <> q.query_id),
        |r AS (SELECT query_id, neighbor_id, hamming,
        |        row_number() OVER (PARTITION BY query_id ORDER BY hamming, neighbor_id) AS rank
        |      FROM c)
        |SELECT query_id, neighbor_id, CAST(rank AS BIGINT) AS rank, hamming
        |FROM r WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin)),
  )

  /** Oracle for [[ivfProbe]]/[[lloydProbe]], parameterized by probe width
    * and UNROLLED Lloyd step count (the engine's early convergence stop is
    * a fixed point, so extra unrolled steps are no-ops — see
    * [[lloydConverged]]).
    */
  private def ivfProbeSql(nprobe: Int, steps: Int = 1): String = {
    val head =
      s"""WITH e AS (SELECT vec_id, embedding, sqrt(${ssSql("embedding")}) AS nrm FROM embeddings),
         |c0 AS (SELECT vec_id AS cid, embedding AS ce, nrm AS cn FROM e WHERE vec_id < 16),
         |a0 AS (SELECT e.vec_id, c.cid, ${dotSql("e.embedding", "c.ce")} / (e.nrm * c.cn) AS cos
         |       FROM e CROSS JOIN c0 c),
         |g0 AS (SELECT vec_id, cid,
         |         row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, cid) AS rn FROM a0),
         |asg0 AS (SELECT vec_id, cid FROM g0 WHERE rn = 1)""".stripMargin
    val rounds = (1 to steps).map { k =>
      s"""comp$k AS (SELECT a.cid, unnest(range(1, ${dims + 1})) AS pos,
         |           CAST(floor(CAST(unnest(e.embedding) AS DOUBLE) * $quantScale) AS BIGINT) AS qv
         |         FROM asg${k - 1} a JOIN e ON e.vec_id = a.vec_id),
         |cs$k AS (SELECT cid, pos, sum(qv) AS sq, count(*) AS cnt FROM comp$k GROUP BY cid, pos),
         |cent$k AS (SELECT cid, list(CAST(sq AS DOUBLE) / cnt ORDER BY pos) AS ce FROM cs$k GROUP BY cid),
         |cn$k AS (SELECT cid, ce, sqrt(${ssSql("ce")}) AS cn FROM cent$k),
         |a$k AS (SELECT e.vec_id, c.cid, ${dotSql("e.embedding", "c.ce")} / (e.nrm * c.cn) AS cos
         |       FROM e CROSS JOIN cn$k c),
         |g$k AS (SELECT vec_id, cid,
         |         row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, cid) AS rn FROM a$k),
         |asg$k AS (SELECT vec_id, cid FROM g$k WHERE rn = 1)""".stripMargin
    }
    val tail =
      s"""q AS (SELECT vec_id AS query_id, embedding AS qe, nrm AS nq FROM e WHERE vec_id < 5),
         |pq AS (SELECT query_id, cid FROM (
         |         SELECT q.query_id, c.cid,
         |           row_number() OVER (PARTITION BY q.query_id
         |             ORDER BY ${dotSql("q.qe", "c.ce")} / (q.nq * c.cn) DESC, c.cid) AS rn
         |         FROM q CROSS JOIN cn$steps c) WHERE rn <= $nprobe),
         |cand AS (SELECT pq.query_id, m.vec_id AS neighbor_id,
         |           ${dotSql("qq.qe", "e2.embedding")} / (qq.nq * e2.nrm) AS c
         |         FROM pq JOIN asg$steps m ON m.cid = pq.cid
         |         JOIN q qq ON qq.query_id = pq.query_id
         |         JOIN e e2 ON e2.vec_id = m.vec_id
         |         WHERE m.vec_id <> pq.query_id)
         |SELECT query_id, neighbor_id, rank, round(c, 6) AS cos FROM (
         |  SELECT query_id, neighbor_id, c,
         |    row_number() OVER (PARTITION BY query_id ORDER BY c DESC, neighbor_id) AS rank
         |  FROM cand)
         |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin
    (Seq(head) ++ rounds :+ tail).mkString(",\n")
  }
}
