package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Parquet table loaders for the driver testdata layout
  * (`$sfDir/<table>.parquet`, see TESTDATA.md). Thin wrappers so every query
  * reads through one place; Catalyst handles column pruning + filter
  * pushdown into these scans.
  */
object Tables {
  /** Round 17: resolved through the engine's snapshot-metadata cache —
    * one `spark.read.parquet` call costs ~300 ms of driver time (path
    * resolution + listing + footer schema inference, measured warm on
    * the driver) and every query build re-resolved its base tables from
    * scratch. The testdata files are immutable; the mtime stamp
    * invalidates if a file is ever swapped. Data is still scanned from
    * parquet on every execution.
    */
  def apply(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    val p = s"$sfDir/$name.parquet"
    graft.operators.SnapshotCache.parquet(
      spark, s"t${new java.io.File(p).lastModified()}", None, Seq(p))
  }

  def region(s: SparkSession, d: String) = apply(s, d, "region")
  def nation(s: SparkSession, d: String) = apply(s, d, "nation")
  def customer(s: SparkSession, d: String) = apply(s, d, "customer")
  def supplier(s: SparkSession, d: String) = apply(s, d, "supplier")
  def part(s: SparkSession, d: String) = apply(s, d, "part")
  def orders(s: SparkSession, d: String) = apply(s, d, "orders")
  def lineitem(s: SparkSession, d: String) = apply(s, d, "lineitem")
  /** The events table with the engine-wide `ts` contract: int64
    * nanoseconds since epoch. Driver data has shipped `ts` both as
    * timestamp[ns] (read as Long under `nanosAsLong`) and as
    * timestamp[us]; the microsecond form is normalized here — the NTZ
    * wall clock interpreted as UTC (the pinned session timezone),
    * matching DuckDB's `epoch_ns(ts)` on the same file, so every
    * downstream query and oracle keeps exact-integer time arithmetic.
    */
  def events(s: SparkSession, d: String): DataFrame = {
    val raw = apply(s, d, "events")
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType => raw
      case _ => raw.withColumn(
        "ts", org.apache.spark.sql.functions.expr("unix_micros(CAST(ts AS TIMESTAMP)) * 1000L"))
    }
  }
  def documents(s: SparkSession, d: String) = apply(s, d, "documents")
  def embeddings(s: SparkSession, d: String) = apply(s, d, "embeddings")
}
