package graft

import org.apache.spark.sql.SparkSession

/** Standard session factory for the graft engine.
  *
  * Local-mode defaults use every core (`local[nproc]`) and 32 shuffle
  * partitions; on a real cluster the same builder is used with `master`
  * unset and `shufflePartitions` sized to ~2-3x total executor cores.
  * AQE stays on in both: it coalesces small shuffle partitions and
  * splits skewed ones at runtime, which is the scale story for the
  * skewed keys this engine deals with (first-letter partitioning of
  * English words, hot join keys).
  */
object GraftSession {

  /** Entries in Spark's JVM-wide cache of compiled codegen classes
    * (`spark.sql.codegen.cache.maxEntries`, default 100). Spark reads it
    * once per JVM, when `CodeGenerator` first initializes, so it is set
    * here, on the only session factory. A cold pass over perfbench's
    * seven-query `query_mix` compiles ~310 classes, so at 100 entries
    * every warm pass recompiles ~160-210 of them. 4000 holds the working
    * set of many such mixes, though not the whole registry: a
    * registry-wide `Verify` at sf0.01 compiles ~6000 classes with it
    * (~12000 at 100) and ends with ~32 MB more Metaspace committed
    * (200 -> 232 MB).
    */
  private val CodegenCacheEntries = 4000

  def builder(
      appName: String = "graft",
      master: Option[String] = Some(s"local[${Runtime.getRuntime.availableProcessors()}]"),
      shufflePartitions: Int = 32,
  ): SparkSession.Builder = {
    val b = SparkSession
      .builder()
      .appName(appName)
      .withExtensions(new GraftExtensions)
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // Round 17 (optimization guide §5/§6): the layout's multi-path
      // parquet reads pass one path per pid — at 32 pids that hits the
      // default parallelPartitionDiscovery.threshold (32) and Spark
      // launches a whole DISTRIBUTED JOB just to list a handful of
      // local directories, pure scheduling overhead on every plan
      // build. Driver-side listing is the right call up to thousands
      // of paths on any filesystem with cheap metadata ops; deployments
      // scanning object-store tables with very wide partitioning can
      // lower it back at submit time (it is an ordinary Spark conf).
      .config("spark.sql.sources.parallelPartitionDiscovery.threshold", "4096")
      .config("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries.toString)
      // Spark keys its codegen cache by the task's classloader too. With
      // artifact isolation on (Spark's default) every session, including
      // the clone each streaming query runs on, gets its own classloader,
      // so a stream recompiles its micro-batch classes on every start. The
      // engine adds no session artifacts (jars, files), so one shared
      // classloader loses nothing.
      .config("spark.sql.artifact.isolation.enabled", "false")
      // The `graft` DSv2 catalog (round 16): named layout tables —
      // CREATE TABLE / SHOW TABLES / DESCRIBE / INSERT INTO /
      // ALTER TABLE / VERSION AS OF — over the commit log. The
      // path-backquote spelling (graft.`/dir`) resolves through the
      // same catalog as the escape hatch. See graft.plans.GraftCatalog.
      .config("spark.sql.catalog.graft", "graft.plans.GraftCatalog")
      // Older driver testdata stored events.ts as timestamp[ns]; this
      // flag maps INT64(TIMESTAMP_NANOS) to LongType instead of failing.
      // Newer data ships timestamp[us], normalized to the same
      // nanos-since-epoch Long contract in Tables.events.
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    master.foreach(b.master)
    b
  }

  def local(appName: String = "graft"): SparkSession = {
    val s = builder(appName).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
