package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.VersionedLayout

/** SQL DML over the versioned layout ([[graft.plans.GraftDmlRule]]):
  * the statements must produce EXACTLY the commits the Scala API
  * produces — same head state, same log-entry masses, same change
  * feed — plus the spelling contracts refuse loudly.
  */
class SqlDmlSpec extends SparkSpec {

  private def freshDir(tag: String): String =
    tempDir(s"graft-sqldml-$tag").resolve("t").toString

  private def baseDf: DataFrame =
    spark.range(0, 100).select(col("id").as("k"), (col("id") % 10).as("v"),
      (col("id") * lit(1.0)).as("q"), (col("id") % 4).cast("int").as("pid"))

  private def writeTwin(tag: String): (String, String) = {
    val (a, b) = (freshDir(s"$tag-sql"), freshDir(s"$tag-api"))
    VersionedLayout.writeBaseTable(spark, baseDf, a, Seq("k"))
    VersionedLayout.writeBaseTable(spark, baseDf, b, Seq("k"))
    (a, b)
  }

  private def assertTwinsEqual(a: String, b: String): Unit = {
    val (ha, hb) = (VersionedLayout.currentVersion(a), VersionedLayout.currentVersion(b))
    assert(ha == hb, s"twin heads differ: $ha vs $hb")
    val (ra, rb) = (VersionedLayout.readAsOf(spark, a, ha),
      VersionedLayout.readAsOf(spark, b, hb))
    assert(ra.exceptAll(rb).isEmpty && rb.exceptAll(ra).isEmpty,
      "SQL-path head state differs from API-path head state")
    val masses = (d: String) => VersionedLayout.log(d)
      .map(e => (e.version, e.action, e.rowsW, e.rowsD))
    assert(masses(a) == masses(b),
      s"log masses differ:\n sql=${masses(a)}\n api=${masses(b)}")
    if (ha >= 1) {
      val (fa, fb) = (VersionedLayout.changeFeed(spark, a, 0, ha),
        VersionedLayout.changeFeed(spark, b, 0, hb))
      assert(fa.exceptAll(fb).isEmpty && fb.exceptAll(fa).isEmpty,
        "SQL-path change feed differs from API-path change feed")
    }
  }

  test("SQL MERGE (three-arm, INSERT *) commits exactly the API merge") {
    val (a, b) = writeTwin("merge")
    val base = VersionedLayout.readAsOf(spark, a, 0)
    val source = base.where(col("k") < 10).withColumn("action", lit("d"))
      .unionByName(base.where(col("k").between(10, 19)).withColumn("action", lit("u")))
      .unionByName(base.where(col("k").between(20, 29)).withColumn("action", lit("n")))
      .unionByName(base.where(col("k").between(30, 39))
        .withColumn("k", col("k") + 1000).withColumn("action", lit("i")))
      .withColumn("qdelta", lit(5.0))
    source.createOrReplaceTempView("sqldml_spec_src")
    val res = spark.sql(
      s"""MERGE INTO graft.`$a` AS t USING sqldml_spec_src AS s2
         |ON t.k = s2.k
         |WHEN MATCHED AND s2.action = 'd' THEN DELETE
         |WHEN MATCHED AND s2.action = 'u' THEN UPDATE SET q = t.q + s2.qdelta
         |WHEN NOT MATCHED THEN INSERT *""".stripMargin).collect()
    VersionedLayout.appendMerge(spark, b, source,
      updateSet = Map("q" -> (col("q") + col("s_qdelta"))),
      deleteCond = Some(col("s_action") === "d"),
      updateCond = Some(col("s_action") === "u"))
    assertTwinsEqual(a, b)
    val e = VersionedLayout.log(a).last
    assert(res.length == 1 && res(0).getLong(0) == 1L
      && res(0).getLong(1) == e.rowsW && res(0).getLong(2) == e.rowsD,
      s"MERGE result row ${res.toSeq} vs log (${e.rowsW}, ${e.rowsD})")
    // Mass sanity: 10 updated + 10 inserted written, 10+10 pre-images.
    assert(e.rowsW == 20 && e.rowsD == 20, s"(${e.rowsW}, ${e.rowsD})")
  }

  test("SQL MERGE explicit INSERT (cols) VALUES projects the source; unassigned non-keys null-fill") {
    val dir = freshDir("insproj")
    VersionedLayout.writeBaseTable(spark, baseDf, dir, Seq("k"))
    spark.range(500, 505)
      .select(col("id").as("k"), lit(3).cast("int").as("p"), lit(9L).as("w"))
      .createOrReplaceTempView("sqldml_spec_ins")
    spark.sql(
      s"""MERGE INTO graft.`$dir` AS t USING sqldml_spec_ins AS s2
         |ON t.k = s2.k
         |WHEN NOT MATCHED AND s2.w > 0 THEN INSERT (k, v, pid) VALUES (s2.k, s2.w, s2.p)""".stripMargin)
    val head = VersionedLayout.readAsOf(spark, dir, 1)
    val added = head.where(col("k") >= 500).collect()
    assert(added.length == 5)
    assert(added.forall(r => r.getLong(1) == 9L && r.isNullAt(2)),
      added.mkString(";"))
  }

  test("SQL DELETE commits exactly the API delete") {
    val (a, b) = writeTwin("delete")
    val res = spark.sql(s"DELETE FROM graft.`$a` WHERE v < 3").collect()
    VersionedLayout.appendDelete(spark, b, col("v") < 3)
    assertTwinsEqual(a, b)
    assert(res(0).getLong(2) == 30L, res.toSeq.toString)
  }

  test("SQL UPDATE commits exactly the API upsert") {
    val (a, b) = writeTwin("update")
    spark.sql(s"UPDATE graft.`$a` SET q = q * 2.0 WHERE v = 7")
    VersionedLayout.appendUpsert(spark, b, col("v") === 7,
      df => df.select(col("k"), col("v"), (col("q") * 2.0).as("q"), col("pid")))
    assertTwinsEqual(a, b)
  }

  test("SQL MERGE honors first-match-wins arm order (UPDATE before DELETE)") {
    val dir = freshDir("order")
    VersionedLayout.writeBaseTable(spark, baseDf, dir, Seq("k"))
    VersionedLayout.readAsOf(spark, dir, 0).where(col("k") < 20)
      .createOrReplaceTempView("sqldml_spec_order")
    spark.sql(
      s"""MERGE INTO graft.`$dir` AS t USING sqldml_spec_order AS s2
         |ON t.k = s2.k
         |WHEN MATCHED AND s2.v < 5 THEN UPDATE SET q = 0.0
         |WHEN MATCHED THEN DELETE""".stripMargin)
    val head = VersionedLayout.readAsOf(spark, dir, 1)
    // k<20 & v<5: updated (survive with q=0); k<20 & v>=5: deleted.
    assert(head.where(col("k") < 20).count() == 10)
    assert(head.where(col("k") < 20 && col("q") =!= 0.0).count() == 0)
    assert(head.count() == 90)
  }

  test("MERGE: a NULL-evaluating earlier arm condition falls through to the later arm (three-valued logic, advisor)") {
    // ANSI MERGE first-match-wins under SQL three-valued logic: WHEN
    // MATCHED AND <cond> with <cond> = NULL did NOT match — the row
    // must fall to the NEXT arm, not silently drop out of both (the
    // pre-fix `!NULL` narrowing was NULL, leaving the row untouched).
    val dir = freshDir("nullarm")
    VersionedLayout.writeBaseTable(spark, baseDf, dir, Seq("k"))
    // op: 'u' for k<5, NULL for 5<=k<10 — the NULL rows must DELETE.
    VersionedLayout.readAsOf(spark, dir, 0).where(col("k") < 10)
      .withColumn("op", when(col("k") < 5, lit("u")))
      .createOrReplaceTempView("sqldml_spec_nullarm")
    spark.sql(
      s"""MERGE INTO graft.`$dir` AS t USING sqldml_spec_nullarm AS s2
         |ON t.k = s2.k
         |WHEN MATCHED AND s2.op = 'u' THEN UPDATE SET q = -1.0
         |WHEN MATCHED THEN DELETE""".stripMargin)
    val head = VersionedLayout.readAsOf(spark, dir, 1)
    assert(head.where(col("k") < 5 && col("q") === -1.0).count() == 5,
      "op='u' rows were not updated")
    assert(head.where(col("k").between(5, 9)).count() == 0,
      "NULL-condition rows did not fall through to the DELETE arm")
    assert(head.count() == 95)
    // Engine-side twin: DELETE listed first with a NULL-evaluating
    // condition — NULL must behave as false and the row must still be
    // ELIGIBLE for the update arm (appendMerge's updateCond && !deleteCond
    // narrowing had the same `!NULL` gap).
    val dir2 = freshDir("nullarm-api")
    VersionedLayout.writeBaseTable(spark, baseDf, dir2, Seq("k"))
    val src2 = VersionedLayout.readAsOf(spark, dir2, 0).where(col("k") < 10)
      .withColumn("op", when(col("k") < 5, lit("d")))
    VersionedLayout.appendMerge(spark, dir2, src2,
      updateSet = Map("q" -> lit(-2.0)),
      deleteCond = Some(col("s_op") === "d"),
      updateCond = None) // default: every remaining match updates
    val head2 = VersionedLayout.readAsOf(spark, dir2, 1)
    assert(head2.where(col("k") < 5).count() == 0, "op='d' rows not deleted")
    assert(head2.where(col("k").between(5, 9) && col("q") === -2.0).count() == 5,
      "NULL-deleteCond rows fell out of the update arm")
  }

  test("MERGE UPDATE SET * requires the source to carry every non-key target column (advisor)") {
    val dir = freshDir("star")
    VersionedLayout.writeBaseTable(spark, baseDf, dir, Seq("k"))
    // Full-width source: star expansion assigns v and q from s_*.
    VersionedLayout.readAsOf(spark, dir, 0).where(col("k") < 5)
      .withColumn("v", col("v") + 100).withColumn("q", col("q") + 0.5)
      .createOrReplaceTempView("sqldml_spec_star")
    spark.sql(
      s"""MERGE INTO graft.`$dir` AS t USING sqldml_spec_star AS s2
         |ON t.k = s2.k WHEN MATCHED THEN UPDATE SET *""".stripMargin)
    val head = VersionedLayout.readAsOf(spark, dir, 1)
    assert(head.where(col("k") < 5 && col("v") >= 100).count() == 5)
    // Narrow source (misspelled/missing column): ANSI star expansion
    // ERRORS instead of silently leaving the column unchanged —
    // either the analyzer's own expansion fails to resolve `s2.q`
    // (when resolution runs before the DML rewrite), or the engine's
    // explicit star check names the gap.
    VersionedLayout.readAsOf(spark, dir, 1).where(col("k") < 5)
      .drop("q").createOrReplaceTempView("sqldml_spec_star_narrow")
    val ex = intercept[Exception](spark.sql(
      s"""MERGE INTO graft.`$dir` AS t USING sqldml_spec_star_narrow AS s2
         |ON t.k = s2.k WHEN MATCHED THEN UPDATE SET *""".stripMargin).collect())
    assert(ex.getMessage.contains("star expansion")
      || ex.getMessage.toUpperCase.contains("UNRESOLVED")
      || ex.getMessage.contains("cannot resolve")
      || ex.getMessage.contains("resolve"), ex.getMessage)
  }

  test("point probes on a Bloom field with no recorded base type stay usable") {
    val dir = freshDir("untyped")
    // `a b` is not identifier-shaped, so the meta's recorded DDL for `m`
    // does not parse and neither Bloom field has a declared type.
    val df = spark.range(0, 50).select(col("id").as("k"),
      struct(concat(lit("doc-"), col("id")).as("ck"), col("id").as("n"),
        lit(1).as("a b")).as("m"),
      (col("id") % 2).cast("int").as("pid"))
    VersionedLayout.writeBaseTable(spark, df, dir, Seq("k"),
      bloomCols = Seq("m.ck", "m.n"))
    // Neither overload can be proven wrong, so BOTH must serve.
    assert(VersionedLayout.readAsOfPoint(spark, dir, 0, "m.ck", "doc-7").count() == 1)
    assert(VersionedLayout.readAsOfPoint(spark, dir, 0, "m.n", 7L).count() == 1)
  }

  test("SQL DML contracts refuse loudly") {
    val dir = freshDir("refuse")
    VersionedLayout.writeBaseTable(spark, baseDf, dir, Seq("k"))
    VersionedLayout.readAsOf(spark, dir, 0).limit(5)
      .createOrReplaceTempView("sqldml_spec_refuse")
    def msg(sql: String): String =
      intercept[Exception](spark.sql(sql).collect()).getMessage
    // ON clause must equate exactly the key columns.
    assert(msg(
      s"""MERGE INTO graft.`$dir` AS t USING sqldml_spec_refuse AS s2
         |ON t.v = s2.v WHEN MATCHED THEN DELETE""".stripMargin)
      .contains("key columns"))
    assert(msg(
      s"""MERGE INTO graft.`$dir` AS t USING sqldml_spec_refuse AS s2
         |ON t.k > s2.k WHEN MATCHED THEN DELETE""".stripMargin)
      .contains("conjunction"))
    // Key/placement assignment is immutable row identity.
    assert(msg(s"UPDATE graft.`$dir` SET k = k + 1 WHERE v = 1")
      .contains("key/placement"))
    assert(msg(
      s"""MERGE INTO graft.`$dir` AS t USING sqldml_spec_refuse AS s2
         |ON t.k = s2.k WHEN MATCHED THEN UPDATE SET pid = 0""".stripMargin)
      .contains("key/placement"))
  }

  test("merge internal s_ renaming collision refuses with the cause") {
    val dir = freshDir("clash")
    val df = spark.range(0, 10).select(col("id").as("k"), col("id").as("s_v"),
      lit(0).cast("int").as("pid"))
    VersionedLayout.writeBaseTable(spark, df, dir, Seq("k"))
    val src = spark.range(0, 5).select(col("id").as("k"), col("id").as("v"),
      lit(0).cast("int").as("pid"))
    val ex = intercept[IllegalArgumentException](
      VersionedLayout.appendMerge(spark, dir, src, Map.empty,
        deleteCond = Some(lit(true))))
    assert(ex.getMessage.contains("s_<source-column>"), ex.getMessage)
  }

  test("appendMergeOnce refuses the -1 non-transactional sentinel") {
    val dir = freshDir("txn")
    VersionedLayout.writeBaseTable(spark, baseDf, dir, Seq("k"))
    val ex = intercept[IllegalArgumentException](
      VersionedLayout.appendMergeOnce(spark, dir,
        VersionedLayout.readAsOf(spark, dir, 0).limit(1), Map.empty,
        deleteCond = Some(lit(true)), txn = -1L))
    assert(ex.getMessage.contains("txn"), ex.getMessage)
  }

  test("mis-typed point probe refuses instead of silently pruning (advisor)") {
    val dir = freshDir("probetype")
    val df = spark.range(0, 50).select(col("id").as("k"),
      concat(lit("doc-"), col("id")).as("ck"), col("id").as("n"),
      (col("id") % 2).cast("int").as("pid"))
    VersionedLayout.writeBaseTable(spark, df, dir, Seq("k"),
      bloomCols = Seq("ck", "n"))
    // Correct-typed probes work.
    assert(VersionedLayout.readAsOfPoint(spark, dir, 0, "ck", "doc-7").count() == 1)
    assert(VersionedLayout.readAsOfPoint(spark, dir, 0, "n", 7L).count() == 1)
    // Cross-typed probes refuse loudly.
    val e1 = intercept[IllegalArgumentException](
      VersionedLayout.readAsOfPoint(spark, dir, 0, "ck", 7L))
    assert(e1.getMessage.contains("overload"), e1.getMessage)
    val e2 = intercept[IllegalArgumentException](
      VersionedLayout.readAsOfPoint(spark, dir, 0, "n", "7"))
    assert(e2.getMessage.contains("overload"), e2.getMessage)
    val e3 = intercept[IllegalArgumentException](
      VersionedLayout.readAsOfPoints(spark, dir, 0, "ck", Seq(1L, 2L)))
    assert(e3.getMessage.contains("overload"), e3.getMessage)
  }

  test("format(graft-layout) batch read equals readAsOf — result, plan, pushdown") {
    val dir = freshDir("batch")
    VersionedLayout.writeBaseTable(spark, baseDf, dir, Seq("k"))
    VersionedLayout.appendDelete(spark, dir, col("v") < 2)
    val api = VersionedLayout.readAsOf(spark, dir, 1)
    val fmt = spark.read.format("graft-layout").option("versionAsOf", 1).load(dir)
    assert(fmt.exceptAll(api).isEmpty && api.exceptAll(fmt).isEmpty)
    // The swapped relation IS the as-of plan (optimizer collapses the
    // id-preserving Project away).
    assert(fmt.queryExecution.optimizedPlan
      .sameResult(api.queryExecution.optimizedPlan),
      s"format plan != api plan:\n${fmt.queryExecution.optimizedPlan}\n--\n${api.queryExecution.optimizedPlan}")
    // Default = head; timestampAsOf resolves on the monotonicized axis.
    assert(spark.read.format("graft-layout").load(dir).count() == api.count())
    val ts0 = VersionedLayout.commitTimes(dir).toMap.apply(0)
    assert(spark.read.format("graft-layout").option("timestampAsOf", ts0)
      .load(dir).count() == 100)
    // Filters on a format read push into the underlying parquet scans.
    val filtered = fmt.where(col("v") === 5L)
    filtered.collect()
    val plan = filtered.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") && plan.contains("EqualTo(v,5)"), plan)
    // versionAsOf and timestampAsOf are mutually exclusive.
    val ex = intercept[Exception](spark.read.format("graft-layout")
      .option("versionAsOf", 0).option("timestampAsOf", ts0).load(dir))
    assert(ex.getMessage.contains("mutually exclusive"), ex.getMessage)
    // The DSv2 table addition must not break the DSv1 streaming path.
    assert(spark.readStream.format("graft-layout").option("path", dir)
      .load().isStreaming)
  }

  test("MERGE WHEN NOT MATCHED BY SOURCE: SQL commits exactly the API merge, one version, one feed batch") {
    val (a, b) = writeTwin("bysrc")
    // Source carries k<20; target-only rows: delete 80..89, update 90..99.
    VersionedLayout.readAsOf(spark, a, 0).where(col("k") < 20)
      .withColumn("qdelta", lit(2.0))
      .createOrReplaceTempView("sqldml_spec_bysrc")
    val res = spark.sql(
      s"""MERGE INTO graft.`$a` AS t USING sqldml_spec_bysrc AS s2
         |ON t.k = s2.k
         |WHEN MATCHED THEN UPDATE SET q = t.q + s2.qdelta
         |WHEN NOT MATCHED BY SOURCE AND t.k >= 80 AND t.k < 90 THEN DELETE
         |WHEN NOT MATCHED BY SOURCE AND t.k >= 90 THEN UPDATE SET q = -5.0""".stripMargin)
      .collect()
    VersionedLayout.appendMerge(spark, b,
      VersionedLayout.readAsOf(spark, b, 0).where(col("k") < 20)
        .withColumn("qdelta", lit(2.0)),
      updateSet = Map("q" -> (col("q") + col("s_qdelta"))),
      insertNotMatched = false,
      bySourceDeleteCond = Some(col("k") >= 80 && col("k") < 90),
      bySourceUpdateCond = Some(col("k") >= 90),
      bySourceUpdateSet = Map("q" -> lit(-5.0)))
    assertTwinsEqual(a, b)
    // ONE version, one statement: 20 matched updates + 10 by-source
    // updates written; 20 + 10 + 10 pre-images tombstoned.
    assert(res.length == 1 && res(0).getLong(0) == 1L, res.toSeq.toString)
    assert(res(0).getLong(1) == 30 && res(0).getLong(2) == 40, res.toSeq.toString)
    val head = VersionedLayout.readAsOf(spark, a, 1)
    assert(head.count() == 90)
    assert(head.where(col("k") >= 90 && col("q") =!= -5.0).count() == 0)
    // A by-source arm referencing the SOURCE refuses with the scope.
    val ex = intercept[Exception](spark.sql(
      s"""MERGE INTO graft.`$a` AS t USING sqldml_spec_bysrc AS s2
         |ON t.k = s2.k
         |WHEN NOT MATCHED BY SOURCE AND s2.v > 0 THEN DELETE""".stripMargin).collect())
    assert(ex.getMessage.contains("target columns are in scope"), ex.getMessage)
  }

  test("df.write.format(graft-layout): create, append, txn-idempotent append, overwrite, schema refusals") {
    val dir = freshDir("dfwrite")
    def slice(lo: Long, hi: Long) = spark.range(lo, hi)
      .select(col("id").as("k"), (col("id") % 10).as("v"),
        (col("id") * lit(1.0)).as("q"), (col("id") % 4).cast("int").as("pid"))
    // Create on an empty path needs keyCols.
    val noKeys = intercept[Exception](slice(0, 10).write.format("graft-layout")
      .option("path", dir).mode("append").save())
    assert(noKeys.getMessage.contains("keyCols"), noKeys.getMessage)
    slice(0, 100).write.format("graft-layout").option("path", dir)
      .option("keyCols", "k").mode("append").save()
    assert(VersionedLayout.currentVersion(dir) == 0)
    assert(VersionedLayout.readAsOf(spark, dir, 0).count() == 100)
    // Plain append, then a txn-stamped append replayed twice = once.
    slice(100, 150).write.format("graft-layout").option("path", dir)
      .mode("append").save()
    slice(150, 170).write.format("graft-layout").option("path", dir)
      .option("txn", "42").mode("append").save()
    slice(150, 170).write.format("graft-layout").option("path", dir)
      .option("txn", "42").mode("append").save()
    assert(VersionedLayout.currentVersion(dir) == 2, "txn replay double-committed")
    assert(VersionedLayout.readAsOf(spark, dir, 2).count() == 170)
    // Overwrite = logged replace; history below stays addressable.
    slice(0, 30).write.format("graft-layout").option("path", dir)
      .mode("overwrite").save()
    assert(VersionedLayout.currentVersion(dir) == 3)
    assert(VersionedLayout.readAsOf(spark, dir, 3).count() == 30)
    assert(VersionedLayout.readAsOf(spark, dir, 2).count() == 170)
    // The SQL spellings of both verbs land the same commits.
    slice(200, 210).createOrReplaceTempView("sqldml_dfw_ins")
    spark.sql(s"INSERT INTO graft.`$dir` SELECT k, v, q, pid FROM sqldml_dfw_ins")
    assert(VersionedLayout.readAsOf(spark, dir, 4).count() == 40)
    spark.sql(s"INSERT OVERWRITE graft.`$dir` SELECT k, v, q, pid FROM sqldml_dfw_ins")
    assert(VersionedLayout.currentVersion(dir) == 5)
    assert(VersionedLayout.readAsOf(spark, dir, 5).count() == 10)
    assert(VersionedLayout.readAsOf(spark, dir, 4).count() == 40,
      "INSERT OVERWRITE must be a logged replace, not a history rewrite")
    // Schema mismatches refuse loudly (missing and unknown columns).
    val missing = intercept[Exception](slice(0, 5).drop("q")
      .write.format("graft-layout").option("path", dir).mode("append").save())
    assert(missing.getMessage.contains("missing column"), missing.getMessage)
    val extra = intercept[Exception](slice(0, 5).withColumn("zz", lit(1))
      .write.format("graft-layout").option("path", dir).mode("append").save())
    assert(extra.getMessage.contains("unknown column"), extra.getMessage)
  }

  test("graft catalog: named tables — create over existing layout, DML by name, time travel, rename, drop keeps data") {
    val dir = freshDir("catalog")
    VersionedLayout.writeBaseTable(spark, baseDf, dir, Seq("k"))
    spark.sql(s"CREATE TABLE graft.sqldml_cat_t USING `graft-layout` LOCATION '$dir'")
    assert(spark.sql("SHOW TABLES IN graft").collect()
      .exists(_.getString(1) == "sqldml_cat_t"))
    // Reads, by name, through the engine plan.
    assert(spark.sql("SELECT count(*) AS n FROM graft.sqldml_cat_t").collect()(0).getLong(0) == 100)
    // DML by NAME (the GraftDmlRule named-target hook).
    spark.sql("DELETE FROM graft.sqldml_cat_t WHERE v < 2")
    assert(VersionedLayout.currentVersion(dir) == 1)
    assert(spark.sql("SELECT count(*) AS n FROM graft.sqldml_cat_t").collect()(0).getLong(0) == 80)
    // SQL time travel through the catalog.
    assert(spark.sql("SELECT count(*) AS n FROM graft.sqldml_cat_t VERSION AS OF 0")
      .collect()(0).getLong(0) == 100)
    // The layout TVFs accept the registered NAME too (same registry).
    assert(spark.sql("SELECT count(*) AS n FROM graft_layout_history('sqldml_cat_t')")
      .collect()(0).getLong(0) == 2)
    assert(spark.sql("SELECT count(*) AS n FROM graft_layout_asof('sqldml_cat_t', 0)")
      .collect()(0).getLong(0) == 100)
    // INSERT INTO by name.
    spark.range(500, 510).select(col("id").as("k"), lit(1L).as("v"),
      lit(0.5).as("q"), lit(0).cast("int").as("pid"))
      .createOrReplaceTempView("sqldml_cat_ins")
    spark.sql("INSERT INTO graft.sqldml_cat_t SELECT k, v, q, pid FROM sqldml_cat_ins")
    assert(spark.sql("SELECT count(*) AS n FROM graft.sqldml_cat_t").collect()(0).getLong(0) == 90)
    // TRUNCATE is a LOGGED full delete: head empties, history and the
    // feed keep every row, restore can undo it.
    spark.sql("TRUNCATE TABLE graft.sqldml_cat_t")
    assert(spark.sql("SELECT count(*) AS n FROM graft.sqldml_cat_t").collect()(0).getLong(0) == 0)
    assert(VersionedLayout.readAsOf(spark, dir, 2).count() == 90,
      "TRUNCATE physically wiped history")
    VersionedLayout.restore(spark, dir, 2)
    assert(spark.sql("SELECT count(*) AS n FROM graft.sqldml_cat_t").collect()(0).getLong(0) == 90)
    // Rename the NAME (registry only), then drop: data survives both.
    spark.sql("ALTER TABLE graft.sqldml_cat_t RENAME TO graft.sqldml_cat_t2")
    assert(spark.sql("SELECT count(*) AS n FROM graft.sqldml_cat_t2").collect()(0).getLong(0) == 90)
    spark.sql("DROP TABLE graft.sqldml_cat_t2")
    assert(!spark.sql("SHOW TABLES IN graft").collect()
      .exists(_.getString(1) == "sqldml_cat_t2"))
    assert(VersionedLayout.readAsOf(spark, dir, 2).count() == 90, "DROP TABLE touched data")
  }

  test("CREATE TABLE AS SELECT through the graft catalog: one statement creates, registers, and loads the layout") {
    val dir = freshDir("ctas")
    spark.range(0, 60).select(col("id").as("k"), (col("id") % 5).as("v"),
      (col("id") % 4).cast("int").as("pid"))
      .createOrReplaceTempView("sqldml_ctas_src")
    spark.sql(
      s"""CREATE TABLE graft.sqldml_ctas_t USING `graft-layout` LOCATION '$dir'
         |TBLPROPERTIES ('keyCols' = 'k')
         |AS SELECT k, v, pid FROM sqldml_ctas_src""".stripMargin)
    // One registered name, layout created, rows landed — as ONE commit
    // (round 17, staged CTAS: the data IS the v0 base; the old
    // non-staged composition left create + append as two versions).
    assert(spark.sql("SELECT count(*) AS n FROM graft.sqldml_ctas_t")
      .collect()(0).getLong(0) == 60)
    assert(VersionedLayout.currentVersion(dir) == 0,
      "staged CTAS must land the SELECT as the single v0 base commit")
    assert(VersionedLayout.readAsOf(spark, dir, 0).count() == 60)
    // The created table is immediately mutable through every door.
    spark.sql("DELETE FROM graft.sqldml_ctas_t WHERE v = 0")
    assert(spark.sql("SELECT count(*) AS n FROM graft.sqldml_ctas_t")
      .collect()(0).getLong(0) == 48)
    spark.sql("DROP TABLE graft.sqldml_ctas_t")
  }

  test("staged CTAS crash window: a crash between the data write and the registration CAS leaves NO visible table; a retry succeeds; abort cleans the location") {
    import org.apache.spark.sql.connector.catalog.{Identifier, StagingTableCatalog, SupportsWrite}
    val dir = freshDir("ctas_crash")
    val cat = spark.sessionState.catalogManager.catalog("graft")
      .asInstanceOf[StagingTableCatalog]
    val props = new java.util.HashMap[String, String]()
    props.put("location", dir)
    props.put("keyCols", "k")
    val src = spark.range(0, 40).select(col("id").as("k"), (col("id") % 3).as("v"),
      (col("id") % 4).cast("int").as("pid"))
    def stageAndWrite(): org.apache.spark.sql.connector.catalog.StagedTable = {
      val staged = cat.stageCreate(Identifier.of(Array.empty, "sqldml_ctas_crash"),
        src.schema, Array.empty, props)
      // Drive the staged write exactly as AtomicCreateTableAsSelectExec
      // would: the V1 fallback receives the SELECT's rows.
      val info = new org.apache.spark.sql.connector.write.LogicalWriteInfo {
        override def queryId(): String = "ctas-crash-spec"
        override def schema() = src.schema
        override def options() = new org.apache.spark.sql.util.CaseInsensitiveStringMap(
          java.util.Collections.emptyMap())
      }
      staged.asInstanceOf[SupportsWrite].newWriteBuilder(info).build()
        .asInstanceOf[org.apache.spark.sql.connector.write.V1Write]
        .toInsertableRelation.insert(src, overwrite = false)
      staged
    }
    // CRASH INJECTION: write lands, commitStagedChanges never runs.
    stageAndWrite()
    assert(VersionedLayout.currentVersion(dir) == 0,
      "the staged write should have landed the v0 base at the location")
    assert(!spark.sql("SHOW TABLES IN graft").collect()
      .exists(_.getString(1) == "sqldml_ctas_crash"),
      "a crashed CTAS must not leave a visible (registered) table")
    val e = intercept[Exception](spark.table("graft.sqldml_ctas_crash").collect())
    assert(e.getMessage.toLowerCase.contains("table") || e.getMessage.contains("not"))
    // RETRY over the orphan: the full SQL CTAS stages over the
    // unregistered leftovers and commits atomically.
    src.createOrReplaceTempView("sqldml_ctas_crash_src")
    spark.sql(
      s"""CREATE TABLE graft.sqldml_ctas_crash USING `graft-layout` LOCATION '$dir'
         |TBLPROPERTIES ('keyCols' = 'k')
         |AS SELECT k, v, pid FROM sqldml_ctas_crash_src""".stripMargin)
    assert(spark.sql("SELECT count(*) AS n FROM graft.sqldml_ctas_crash")
      .collect()(0).getLong(0) == 40)
    assert(VersionedLayout.currentVersion(dir) == 0, "the retry must re-stage, not append")
    spark.sql("DROP TABLE graft.sqldml_ctas_crash")
    // ABORT cleans the location back to pre-stage emptiness.
    val dir2 = freshDir("ctas_abort")
    props.put("location", dir2)
    val staged2 = cat.stageCreate(Identifier.of(Array.empty, "sqldml_ctas_abort"),
      src.schema, Array.empty, props)
    staged2.abortStagedChanges()
    assert(!new java.io.File(dir2).exists() || VersionedLayout.currentVersion(dir2) < 0)
    // A failing SELECT inside a real SQL CTAS aborts the same way: no
    // table, no registration.
    val boom = intercept[Exception] {
      spark.sql(
        s"""CREATE TABLE graft.sqldml_ctas_boom USING `graft-layout` LOCATION '$dir2'
           |TBLPROPERTIES ('keyCols' = 'k')
           |AS SELECT k, v, pid, CAST(raise_error('boom') AS STRING) AS z
           |FROM sqldml_ctas_crash_src""".stripMargin).collect()
    }
    assert(boom != null)
    assert(!spark.sql("SHOW TABLES IN graft").collect()
      .exists(_.getString(1) == "sqldml_ctas_boom"),
      "a failed CTAS SELECT must abort the staged table, not register it")
    // UNMARKED committed data at the location (user bytes addressed by
    // path, or any layout not written by a stage) refuses — CTAS may
    // only swallow bytes it can prove it wrote itself.
    val dirUser = freshDir("ctas_user")
    VersionedLayout.writeBaseTable(spark, src, dirUser, Seq("k"))
    val refuse = intercept[Exception] {
      spark.sql(
        s"""CREATE TABLE graft.sqldml_ctas_user USING `graft-layout` LOCATION '$dirUser'
           |TBLPROPERTIES ('keyCols' = 'k')
           |AS SELECT k, v, pid FROM sqldml_ctas_crash_src""".stripMargin)
    }
    assert(refuse.getMessage.contains("already holds"), refuse.getMessage)
    assert(VersionedLayout.readAsOf(spark, dirUser, 0).count() == 40,
      "a refused CTAS must not touch the existing layout")
  }

  test("describeDetail refuses an uncommitted layout explicitly") {
    val ex = intercept[IllegalArgumentException](
      VersionedLayout.describeDetail(spark, freshDir("empty")))
    assert(ex.getMessage.contains("no committed layout"), ex.getMessage)
  }
}
