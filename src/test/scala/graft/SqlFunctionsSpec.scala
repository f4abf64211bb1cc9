package graft

/** The custom expressions are registered as SQL functions through
  * GraftExtensions (SparkSessionExtensions), usable from spark.sql.
  */
class SqlFunctionsSpec extends SparkSpec {

  test("string_poly_hash callable from SQL") {
    val v = spark.sql("SELECT string_poly_hash('abc') AS h").head().getLong(0)
    assert(v == 96354L)
  }

  test("vector_dot callable from SQL") {
    val v = spark.sql(
      """SELECT vector_dot(CAST(array(1.0, 2.0, 3.0) AS array<float>),
        |                  CAST(array(4.0, 5.0, 6.0) AS array<float>)) AS d""".stripMargin)
      .head().getDouble(0)
    assert(v == 32.0)
  }

  test("layout time travel callable from SQL: asof / asof_ts / asof_range table functions") {
    import org.apache.spark.sql.functions._
    import graft.operators.VersionedLayout
    val spark0 = spark
    import spark0.implicits._
    val dir = tempDir("graft-sql-tvf").toString + "/t"
    def shaped(ids: Seq[Long]) = ids.map(i => (i, i)).toDF("event_id", "value_centi")
      .select((col("value_centi") / 10).cast("int").as("pid"),
        col("event_id"), col("value_centi"))
    VersionedLayout.writeBaseTable(spark, shaped(1L to 40L), dir,
      Seq("event_id"), statsCol = Some("value_centi"))
    VersionedLayout.appendInsert(spark, dir, shaped(Seq(41L, 42L)))
    val ts1 = VersionedLayout.commitTimes(dir).toMap.apply(1)
    assert(spark.sql(s"SELECT count(*) FROM graft_layout_asof('$dir', 0)")
      .head().getLong(0) == 40)
    assert(spark.sql(s"SELECT count(*) FROM graft_layout_asof_ts('$dir', $ts1)")
      .head().getLong(0) == 42)
    assert(spark.sql(
      s"SELECT count(*) FROM graft_layout_asof_range('$dir', 1, 40, 50)")
      .head().getLong(0) == 3)
    // Non-literal arguments refuse loudly (plan-time resolution).
    val e = intercept[Exception](
      spark.sql(s"SELECT * FROM graft_layout_asof('$dir', CAST(rand() AS INT))").collect())
    assert(e.getMessage.contains("literal"), e.getMessage)
    // DESCRIBE HISTORY from SQL: one metadata row per committed version,
    // strictly increasing effective times, the insert carrying stats.
    val hist = spark.sql(
      s"""SELECT version, action, eff_commit_ts, has_stats
         |FROM graft_layout_history('$dir') ORDER BY version""".stripMargin).collect()
    assert(hist.map(_.getLong(0)).toSeq == Seq(0L, 1L))
    assert(hist.map(_.getString(1)).toSeq == Seq("write", "insert"))
    assert(hist(1).getLong(2) > hist(0).getLong(2), "effective times not strict")
    assert(hist.forall(_.getBoolean(3)), "stats missing from history rows")
    // Round 14: per-commit row masses ride the history (recorded at
    // write time), and the frame stays METADATA-ONLY: its physical
    // plan is a LocalTableScan off the parsed log — collect() on that
    // launches zero Spark jobs, the property that makes a dashboard
    // polling it free.
    val histDf = graft.operators.VersionedLayout.describeHistory(spark, dir)
      .select(col("version"), col("rows_written"), col("rows_deleted"))
    val masses = histDf.collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(masses == Map(0L -> ((40L, 0L)), 1L -> ((2L, 0L))), s"masses: $masses")
    assert(histDf.queryExecution.executedPlan.collectLeaves().forall(
        _.isInstanceOf[org.apache.spark.sql.execution.LocalTableScanExec]),
      s"history frame is not a local scan:\n${histDf.queryExecution.executedPlan}")
    // DESCRIBE DETAIL (q215): the one-row table summary, from SQL and
    // Scala, also metadata-only (LocalTableScan, zero jobs).
    val det = spark.sql(
      s"""SELECT head_version, n_commits, key_cols, stats_cols,
         |  n_live_pids, n_live_segments, rows_written_total
         |FROM graft_layout_detail('$dir')""".stripMargin).collect()
    assert(det.length == 1)
    assert(det(0).getLong(0) == 1L && det(0).getLong(1) == 2L, det(0).toString)
    assert(det(0).getString(2) == "event_id" && det(0).getString(3) == "value_centi")
    assert(det(0).getLong(4) > 0 && det(0).getLong(5) == 1L
      && det(0).getLong(6) == 42L, det(0).toString)
    val detDf = graft.operators.VersionedLayout.describeDetail(spark, dir)
    assert(detDf.queryExecution.executedPlan.collectLeaves().forall(
        _.isInstanceOf[org.apache.spark.sql.execution.LocalTableScanExec]),
      s"detail frame is not a local scan:\n${detDf.queryExecution.executedPlan}")
  }
}
