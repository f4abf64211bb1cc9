package perfbench

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.operators.VersionedLayout

/** `layout_rw`: writes beside reads on one `VersionedLayout` table built
  * from a seeded lineitem (key `(l_orderkey, l_linenumber)`, stats column
  * `v`, 16 range pids). The base write is set-up. Each cycle runs four
  * writes (insert, delete, upsert, merge) and five reads (head scan,
  * range read, point read, change feed, stream catch-up) in a
  * seed-shuffled order; every `MaintainEvery` commits a compaction and a
  * log checkpoint follow. After every write the live row count is checked
  * against the benchmark's own model of the op stream, and every point
  * read against the model's live lines of that order.
  */
final class LayoutRwWorkload extends Workload {
  import LayoutRwWorkload._

  val opKind = "op"
  val opKindPrefix = "op:"
  val passKind = "cycle"
  private val writeVerbs = Seq("insert", "delete", "upsert", "merge")
  private val readVerbs = Seq("scan", "range", "point", "feed", "catchup")
  private val commitVerbs = writeVerbs ++ Seq("compact", "checkpoint")

  private var dir: String = _
  private var chk: String = _
  private var rng: java.util.SplittableRandom = _
  private var order: Iterator[Seq[String]] = _
  private var uppers: Array[Long] = _
  private var maxV = 0L
  private var baseBytesPerRow = 0.0
  /** The model: one bit per live (l_orderkey, l_linenumber), and each
    * key's `v`, indexed by [[bit]].
    */
  private val live = new java.util.BitSet()
  private val vOf = new Array[Long](4 * Rows.toInt)
  private var keyCount = 0
  private var nextOrderKey = 0L
  private var commits = 0
  private var sinceCompact = 0
  private var bytesWritten = 0.0
  private var userRowsWritten = 0L
  private val verbFiles = scala.collection.mutable.Map.empty[String, (Int, Double, Int)]
  private val pruning = scala.collection.mutable.ArrayBuffer.empty[Double]
  private val versionsAtRead = scala.collection.mutable.ArrayBuffer.empty[Double]

  private def bit(orderKey: Long, line: Int): Int = ((orderKey - 1) * 4 + (line - 1)).toInt

  private def withPid(df: DataFrame): DataFrame =
    withPidOf(df.withColumn("v", expr("CAST(round(l_extendedprice * 100) AS BIGINT)")))

  /** The layout's row shape: `pid` is the range partition of `v`. */
  private def withPidOf(df: DataFrame): DataFrame = {
    val up = array(uppers.toSeq.map(lit): _*)
    df.select(col("v"), col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
      (size(filter(up, u => u < col("v"))) + 1).as("pid"))
  }

  /** Lineitem rows for orders [lo, hi], generated like the base rows. */
  private def orders(ctx: Ctx, lo: Long, hi: Long, salt: Long): DataFrame =
    withPid(DataGen.lineitem(ctx.spark, (hi - lo + 1) * 4, ctx.seed ^ salt)
      .withColumn("l_orderkey", col("l_orderkey") + (lo - 1)))

  private def head(ctx: Ctx): Int =
    ctx.tracer.span("layout.log_read")(VersionedLayout.currentVersion(dir))

  private def files(): Map[String, Long] = {
    val walk = Files.walk(java.nio.file.Paths.get(dir))
    try walk.iterator().asScala.filter(Files.isRegularFile(_))
      .map(p => p.toString -> Files.size(p)).toMap
    finally walk.close()
  }

  def setup(ctx: Ctx): Unit = {
    dir = ctx.work.resolve("layout").toString
    chk = ctx.work.resolve("subscriber").toString
    rng = new java.util.SplittableRandom(ctx.seed)
    order = OpStream.passes(ctx.seed, writeVerbs ++ readVerbs)
    ctx.setupPhase("base_write") {
      val base = DataGen.lineitem(ctx.spark, Rows, ctx.seed)
        .select(col("l_orderkey"), col("l_linenumber"),
          expr("CAST(round(l_extendedprice * 100) AS BIGINT)").as("v"))
      remember(base)
      val vs = vOf.take(keyCount).sorted
      uppers = (1 until Pids).map(i => vs(i * vs.length / Pids)).toArray
      maxV = vs.last
      VersionedLayout.writeBaseTable(ctx.spark, withPid(DataGen.lineitem(ctx.spark, Rows, ctx.seed)),
        dir, Seq("l_orderkey", "l_linenumber"), statsCol = Some("v"), bloomCols = Seq("l_orderkey"))
    }
    live.set(0, Rows.toInt)
    nextOrderKey = Rows / 4 + 1
    baseBytesPerRow = files().values.sum.toDouble / Rows
    // Warm-up: one full cycle, which also brings the subscriber to head.
    ctx.setupPhase("warmup")(cycle(ctx))
  }

  def step(ctx: Ctx): Unit = cycle(ctx)

  private def cycle(ctx: Ctx): Unit = {
    // A cycle's time is the sum of its op times: the untimed checks
    // between ops are left out.
    val done = ctx.samplesOf("op").length
    var ops = 0
    order.next().foreach { verb =>
      if (writeVerbs.contains(verb)) {
        write(ctx, verb)
        ops += 1
        if (sinceCompact >= MaintainEvery) {
          write(ctx, "compact")
          write(ctx, "checkpoint")
          ops += 2
        }
      } else { read(ctx, verb); ops += 1 }
    }
    val times = ctx.samplesOf("op").drop(done)
    if (times.length == ops) ctx.sample("cycle", times.sum)
  }

  /** A band of `v` covering `share` of one seed-chosen pid, so a write
    * touches few pids and compaction rewrites only those.
    */
  private def vBand(share: Double): (Long, Long) = {
    val p = rng.nextInt(Pids)
    val lo = if (p == 0) 0L else uppers(p - 1) + 1
    val hi = if (p == Pids - 1) maxV else uppers(p)
    val width = math.max(1L, ((hi - lo) * share).toLong)
    val start = lo + (rng.nextLong() & Long.MaxValue) % math.max(1L, hi - lo - width)
    (start, start + width)
  }

  /** Model keys (bits) whose `v` lies in [lo, hi], live or not. */
  private def keysIn(lo: Long, hi: Long): Seq[Int] =
    (0 until keyCount).filter(b => vOf(b) >= lo && vOf(b) <= hi)

  /** Records generated rows in the model (their `v`), returning them. */
  private def remember(df: DataFrame): DataFrame = {
    df.select("l_orderkey", "l_linenumber", "v").collect().foreach { r =>
      val b = bit(r.getLong(0), r.getInt(1))
      vOf(b) = r.getLong(2)
      keyCount = math.max(keyCount, b + 1)
    }
    df
  }

  /** One write verb, then its checks. */
  private def write(ctx: Ctx, verb: String): Unit = {
    val s = ctx.spark
    import s.implicits._
    val before = files()
    var userRows = 0L
    // Inputs are prepared before the clock starts; the model's change is
    // applied only if the op succeeds.
    var apply: () => Unit = () => ()
    val body: () => Unit = verb match {
      case "insert" =>
        val (lo, hi) = (nextOrderKey, nextOrderKey + Rows / 400 - 1)
        val rows = remember(orders(ctx, lo, hi, 1L)).localCheckpoint()
        userRows = (hi - lo + 1) * 4
        apply = () => { live.set(bit(lo, 1), bit(hi + 1, 1)); nextOrderKey = hi + 1 }
        () => VersionedLayout.appendInsert(s, dir, rows)
      case "delete" =>
        val (lo, hi) = vBand(0.3)
        val keys = keysIn(lo, hi)
        apply = () => keys.foreach(live.clear)
        () => VersionedLayout.appendDelete(s, dir, col("v").between(lo, hi))
      case "upsert" =>
        val (lo, hi) = vBand(0.15)
        userRows = keysIn(lo, hi).count(live.get)
        () => VersionedLayout.appendUpsert(s, dir, col("v").between(lo, hi),
          m => m.withColumn("l_quantity", col("l_quantity") + 1))
      case "merge" =>
        // Every key of a v band: live ones are updated, deleted ones
        // come back as inserts.
        val (lo, hi) = vBand(0.15)
        val keys = keysIn(lo, hi)
        val src = withPidOf(keys.map(b => (vOf(b), b / 4L + 1, b % 4 + 1, (b % 50 + 1).toDouble))
          .toDF("v", "l_orderkey", "l_linenumber", "l_quantity")).localCheckpoint()
        userRows = keys.length
        apply = () => keys.foreach(live.set)
        () => VersionedLayout.appendMerge(s, dir, src, Map("l_quantity" -> col("s_l_quantity")))
      case "compact" =>
        () => { VersionedLayout.appendCompact(s, dir, 0.01); sinceCompact = 0 }
      case "checkpoint" =>
        () => VersionedLayout.checkpoint(dir)
    }
    val r = ctx.op(Seq("op", s"op:$verb", "commit", s"commit:$verb"), s"layout.$verb")(body()) { _ =>
      apply()
      val after = files()
      val written = after.filter { case (p, n) => !before.get(p).contains(n) }
      val (nf, nb, nc) = verbFiles.getOrElse(verb, (0, 0.0, 0))
      verbFiles(verb) = (nf + written.size, nb + written.values.sum, nc + 1)
      bytesWritten += written.values.sum
      userRowsWritten += userRows
      val got = VersionedLayout.readAsOf(s, dir, VersionedLayout.currentVersion(dir)).count()
      if (got == live.cardinality()) None
      else Some(s"live rows $got != model ${live.cardinality()}")
    }
    if (verb != "checkpoint" && verb != "compact") { commits += 1; sinceCompact += 1 }
    if (r.isDefined && ctx.tracer.isOn) {
      // The same head read built twice: the first build after a commit
      // pays listing and schema resolution, the second hits the cache.
      val v = VersionedLayout.currentVersion(dir)
      ctx.tracer.span("layout.plan_build_cold")(VersionedLayout.readAsOf(s, dir, v))
      ctx.tracer.span("layout.plan_build_warm")(VersionedLayout.readAsOf(s, dir, v))
    }
  }

  /** One read verb, then its check. */
  private def read(ctx: Ctx, verb: String): Unit = {
    val s = ctx.spark
    versionsAtRead += sinceCompact
    // A pruned read, kept to measure its pruning after the clock stops.
    var pruned: Option[(DataFrame, Int)] = None
    // A point read returns (order key, rows) for its check.
    ctx.op(Seq("op", s"op:$verb", if (verb == "catchup") "catchup" else "read", s"read:$verb"),
        s"layout.$verb") {
      val v = head(ctx)
      verb match {
        case "scan" =>
          ctx.materialize(VersionedLayout.readAsOf(s, dir, v)); None
        case "range" =>
          val lo = (rng.nextLong() & Long.MaxValue) % maxV
          val df = VersionedLayout.readAsOfRange(s, dir, v, lo, lo + maxV / 20)
          ctx.materialize(df)
          pruned = Some((df, v))
          None
        case "point" =>
          val k = 1 + (rng.nextLong() & Long.MaxValue) % (nextOrderKey - 1)
          val df = VersionedLayout.readAsOfPoint(s, dir, v, "l_orderkey", k)
          val n = df.collect().length
          pruned = Some((df, v))
          Some((k, n))
        case "feed" =>
          ctx.materialize(VersionedLayout.changeFeed(s, dir, math.max(1, v - 2), v)); None
        case "catchup" =>
          val q = s.readStream.format("graft-layout").option("path", dir).load()
            .writeStream.format("noop").trigger(Trigger.AvailableNow())
            .option("checkpointLocation", chk).start()
          try q.awaitTermination() finally q.stop()
          None
      }
    } {
      case Some((k, n)) =>
        val want = (1 to 4).count(l => live.get(bit(k, l)))
        if (n == want) None else Some(s"point read of order $k returned $n rows, model has $want")
      case None => None
    }
    if (ctx.tracer.isOn) pruned.foreach { case (df, v) => pruneRatio(ctx, df, v) }
  }

  private def pruneRatio(ctx: Ctx, df: DataFrame, v: Int): Unit = {
    val all = VersionedLayout.readAsOf(ctx.spark, dir, v).inputFiles.length
    if (all > 0) pruning += df.inputFiles.length.toDouble / all
  }

  def report(ctx: Ctx): Seq[Metric] = {
    val commitsMs = ctx.samplesOf("commit")
    val readsMs = ctx.samplesOf("read")
    val ct = Stats.tail(commitsMs)
    val rt = Stats.tail(readsMs)
    val snapshot = ctx.work.resolve("head-snapshot").toString
    VersionedLayout.readAsOf(ctx.spark, dir, VersionedLayout.currentVersion(dir))
      .write.parquet(snapshot)
    val snapBytes = dirBytes(ctx.work.resolve("head-snapshot"))
    def med(xs: Seq[Double]) = if (xs.isEmpty) Double.NaN else Stats.median(xs)
    Seq(
      Metric("commit_p50_ms", med(commitsMs), "ms"),
      Metric("commit_tail_ms", ct.map(_._2).getOrElse(Double.NaN), "ms"),
      Metric("commit_tail_percentile", ct.map(_._1).getOrElse(Double.NaN), "%"),
      Metric("layout_read_p50_ms", med(readsMs), "ms"),
      Metric("layout_read_tail_ms", rt.map(_._2).getOrElse(Double.NaN), "ms"),
      Metric("layout_read_tail_percentile", rt.map(_._1).getOrElse(Double.NaN), "%"),
      Metric("feed_catchup_ms", med(ctx.samplesOf("catchup")), "ms"),
      Metric("write_amp", bytesWritten / math.max(1.0, userRowsWritten * baseBytesPerRow), "ratio"),
      Metric("space_amp", files().values.sum.toDouble / snapBytes, "ratio"),
      Metric("layout.commits", commits, "count")) ++
      commitVerbs.map(v => Metric(s"commit.$v.p50_ms", med(ctx.samplesOf(s"commit:$v")), "ms")) ++
      readVerbs.map(v => Metric(s"read.$v.p50_ms", med(ctx.samplesOf(s"read:$v")), "ms"))
  }

  private def dirBytes(p: Path): Double = {
    val walk = Files.walk(p)
    try walk.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum.toDouble
    finally walk.close()
  }

  def layers(ctx: Ctx): Seq[Metric] = {
    val t = ctx.tracer
    val progress = t.progress.asScala.toSeq
    val phases = progress.flatMap(_._2.keys).distinct.sorted
    def mean(xs: Seq[Double]) = if (xs.isEmpty) Double.NaN else xs.sum / xs.length
    commitVerbs.flatMap { v =>
      val (nf, nb, n) = verbFiles.getOrElse(v, (0, 0.0, 0))
      Seq(
        Metric(s"layout.${v}_ms", t.meanWall(s"layout.$v"), "ms"),
        Metric(s"layout.${v}_files_written", if (n == 0) Double.NaN else nf.toDouble / n, "count"),
        Metric(s"layout.${v}_bytes_written", if (n == 0) Double.NaN else nb / n, "bytes"))
    } ++ Seq(
      Metric("layout.log_read_ms", t.meanWall("layout.log_read"), "ms"),
      Metric("layout.plan_build_ms_cold", t.meanWall("layout.plan_build_cold"), "ms"),
      Metric("layout.plan_build_ms_warm", t.meanWall("layout.plan_build_warm"), "ms"),
      Metric("layout.read_files_scanned_ratio", mean(pruning.toSeq), "ratio"),
      Metric("layout.versions_since_compact", mean(versionsAtRead.toSeq), "count"),
      Metric("stream.rows_per_batch", mean(progress.map(_._3.toDouble)), "count")) ++
      phases.map(p => Metric(s"stream.batch_ms.$p",
        mean(progress.flatMap(_._2.get(p)).map(_.toDouble)), "ms"))
  }
}

object LayoutRwWorkload {
  val Rows = 60000L
  val Pids = 16
  /** Data commits between compaction + checkpoint. */
  val MaintainEvery = 4
}
