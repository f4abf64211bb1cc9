package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

/** Source/sink format coverage beyond parquet: CSV and JSON round-trips
  * preserve values, and the partitioned parquet writer (the generalized
  * form of the reference's per-letter sink) lays files out by key.
  */
class SourcesSinksSpec extends SparkSpec {

  private def nation = Tables.nation(spark, sf0001)

  test("CSV round-trip preserves rows (header + explicit schema)") {
    val dir = tempDir("graft-csv").toString
    nation.write.mode("overwrite").option("header", "true").csv(dir)
    val back = spark.read.option("header", "true").schema(nation.schema).csv(dir)
    assert(back.collect().map(_.toString).sorted.toSeq ==
      nation.collect().map(_.toString).sorted.toSeq)
  }

  test("JSON round-trip preserves rows") {
    val dir = tempDir("graft-json").toString
    nation.write.mode("overwrite").json(dir)
    val back = spark.read.schema(nation.schema).json(dir)
    assert(back.collect().map(_.toString).sorted.toSeq ==
      nation.collect().map(_.toString).sorted.toSeq)
  }

  test("ORC round-trip preserves rows") {
    val dir = tempDir("graft-orc").toString
    nation.write.mode("overwrite").orc(dir)
    val back = spark.read.orc(dir)
    assert(back.collect().map(_.toString).sorted.toSeq ==
      nation.collect().map(_.toString).sorted.toSeq)
  }

  test("partitioned parquet write lays out one directory per key (letter-sink generalization)") {
    val dir = tempDir("graft-partwrite")
    val idx = graft.operators.InvertedIndex.fromLines(
      Tables.documents(spark, sf0001), "doc_id", "text")
    idx.write.mode("overwrite").partitionBy("letter").parquet(dir.toString)
    val letterDirs = Files.list(dir).filter(p => p.getFileName.toString.startsWith("letter="))
      .toArray.map(_.toString)
    assert(letterDirs.nonEmpty)
    val back = spark.read.parquet(dir.toString)
    assert(back.count() == idx.count())
    // Partition pruning works on the layout.
    val one = back.where(col("letter") === "s")
    one.collect()
    assert(one.queryExecution.executedPlan.toString.contains("PartitionFilters"), "pruning")
  }
}
