package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Session-scoped SNAPSHOT-METADATA cache shared by the engine's
  * stores (round 17, optimization guide §5/§6).
  *
  * Measured warm, driver side: one `spark.read.parquet` call against
  * an already-written source costs 314-427 ms of pure driver time
  * (path resolution + file listing + footer schema inference) before
  * a single row is read — and the engine's
  * multi-version readers rebuild the same relations dozens of times
  * per query, so plan construction dominated the layout family's
  * bench time (q220: 6.6 s of 7.5 s was DataFrame building).
  *
  * This is the cache every table format ships (Delta's snapshot
  * cache, Iceberg's metadata cache, Spark's own
  * filesourcePartitionFileCacheSize for catalog tables — path-based
  * reads bypass that built-in one). NOTHING HERE CACHES DATA: every
  * execution still scans parquet bytes from disk; what is reused is
  * the resolved relation (file list + schema) and composed logical
  * plans.
  *
  * Soundness: keys carry (a) the owning SparkSession (plans are
  * session-bound), and (b) a caller-supplied STAMP naming the
  * snapshot's identity — the layout uses its log head
  * (version + commit ts + writer tag), the generation chains use the
  * owning generation's manifest (mtime + length). Both change on any
  * commit AND on a same-path scenario rebuild; within one stamp the
  * underlying directories are immutable by construction (generation
  * dirs publish by atomic rename; layout artifacts only ever change
  * across commits). Bounded: LRU past [[maxEntries]] (round 18 — the
  * round-17 clear-all-at-512 made a long-lived session over many
  * tables×versions cyclically wipe and rebuild everything; access-order
  * eviction keeps the hot stamps and drops superseded ones first).
  */
private[graft] object SnapshotCache {

  private[graft] val maxEntries = 512

  // Access-ordered LinkedHashMap = LRU; all access under the monitor
  // (gets reorder the ring, so even reads mutate). Plan BUILDS stay
  // outside the lock — two threads missing the same key may both build
  // (benign duplicate work, last put wins), but a slow build can never
  // block every other store's cache hit.
  private val cache =
    new java.util.LinkedHashMap[(SparkSession, String), DataFrame](64, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[(SparkSession, String), DataFrame]): Boolean =
        size() > maxEntries
    }

  private[graft] def size: Int = cache.synchronized(cache.size())

  def plan(s: SparkSession, key: String)(build: => DataFrame): DataFrame = {
    val k = (s, key)
    val hit = cache.synchronized(cache.get(k))
    if (hit != null) hit
    else {
      val df = build
      cache.synchronized { cache.put(k, df); () }
      df
    }
  }

  /** One resolved parquet relation per (session, stamp, source paths):
    * file listing and footer schema inference happen once per snapshot
    * instead of once per plan build.
    */
  def parquet(s: SparkSession, stamp: String,
      basePath: Option[String], paths: Seq[String],
      schema: Option[org.apache.spark.sql.types.StructType] = None): DataFrame =
    plan(s, s"pq|$stamp|${basePath.getOrElse("")}|${paths.mkString(",")}") {
      val rd0 = basePath.map(b => s.read.option("basePath", b)).getOrElse(s.read)
      val rd = schema.map(rd0.schema).getOrElse(rd0)
      rd.parquet(paths: _*)
    }

  /** A generation-chain snapshot stamp: the owning generation's
    * manifest identity (a published generation is immutable; a
    * same-path rebuild rewrites the manifest, changing its mtime).
    */
  def genStamp(dir: String, gen: Int): String = {
    val m = GenChain.manifest(dir, gen)
    s"g$gen:${m.lastModified()}:${m.length()}"
  }
}
