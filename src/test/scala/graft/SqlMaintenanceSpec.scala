package graft

import java.nio.file.Files

import org.apache.commons.io.FileUtils
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll

import graft.operators.VersionedLayout

/** Round-17: SQL maintenance verbs (`CALL graft.compact / vacuum /
  * restore / repartition / checkpoint`, [[graft.plans.GraftProcedures]])
  * prove ARTIFACT EQUALITY against the Scala verbs they front — the
  * q219/q224 discipline: a table maintained from SQL text must be
  * indistinguishable from one maintained through the API.
  */
class SqlMaintenanceSpec extends SparkSpec with BeforeAndAfterAll {

  private val root = Files.createTempDirectory("graft_sqlmaint_")

  override def afterAll(): Unit = FileUtils.deleteDirectory(root.toFile)

  private def freshDir(tag: String): String =
    Files.createTempDirectory(root, tag).toString + "/layout"

  /** Identical 3-version history on a fresh layout: base, insert,
    * delete — enough outstanding state for a fold to matter.
    */
  private def seed(dir: String): Unit = {
    val base = spark.range(100).select(
      (col("id") % 4).cast("int").as("pid"), col("id").as("k"),
      (col("id") * 3).as("v"))
    VersionedLayout.writeBaseTable(spark, base, dir, Seq("k"), statsCols = Seq("v"))
    val ins = spark.range(100, 130).select(
      (col("id") % 4).cast("int").as("pid"), col("id").as("k"),
      (col("id") * 3).as("v"))
    VersionedLayout.appendInsert(spark, dir, ins)
    VersionedLayout.appendDelete(spark, dir, col("k").between(20, 40))
  }

  private def snap(dir: String, v: Int): Seq[(Long, Long)] =
    VersionedLayout.readAsOf(spark, dir, v)
      .select(col("k").cast("long"), col("v").cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted

  private def hist(dir: String): Seq[(Int, String)] =
    VersionedLayout.describeHistory(spark, dir)
      .select(col("version").cast("int"), col("action"))
      .collect().map(r => (r.getInt(0), r.getString(1))).toSeq.sortBy(_._1)

  private def register(name: String, dir: String): Unit = {
    spark.sql(s"DROP TABLE IF EXISTS graft.$name")
    spark.sql(
      s"""CREATE TABLE graft.$name (pid INT, k BIGINT, v BIGINT)
         |USING `graft-layout` LOCATION '$dir'""".stripMargin)
  }

  test("CALL compact/restore/vacuum/checkpoint == the Scala verbs (artifact equality)") {
    val sqlDir = freshDir("sql"); val apiDir = freshDir("api")
    seed(sqlDir); seed(apiDir)
    register("maint_sql_twin", sqlDir)

    // v3: re-clustered fold.
    val c = spark.sql("CALL graft.compact('maint_sql_twin', cluster_by => 'v')").collect()
    assert(c.head.getInt(0) == 3 && c.head.getInt(1) > 0)
    val (cv, cp) = VersionedLayout.majorCompact(spark, apiDir, clusterBy = Seq(col("v")))
    assert(cv == 3 && c.head.getInt(1) == cp.size)
    // v4: delete to give restore something to undo.
    VersionedLayout.appendDelete(spark, sqlDir, col("k") >= 110)
    VersionedLayout.appendDelete(spark, apiDir, col("k") >= 110)
    // v5: restore to v3.
    val r = spark.sql("CALL graft.restore('maint_sql_twin', version => 3)").collect()
    assert(r.head.getInt(0) == 5)
    assert(VersionedLayout.restore(spark, apiDir, 3) == 5)
    // checkpoint + firing vacuum.
    val k = spark.sql("CALL graft.checkpoint('maint_sql_twin')").collect()
    assert(k.head.getInt(0) == 5)
    assert(VersionedLayout.checkpoint(apiDir) == 5)
    val vc = spark.sql("CALL graft.vacuum('maint_sql_twin', keep_last => 2)").collect()
    assert(vc.head.getBoolean(0) && vc.head.getInt(1) == 3)
    assert(VersionedLayout.vacuumIfNeeded(spark, apiDir, keepLast = 2, minReclaimRows = 0L))
    assert(VersionedLayout.horizon(apiDir) == 3)

    // Artifact equality: per-version answers above the horizon, the
    // history's action sequence, and the horizon itself.
    (3 to 5).foreach(v => assert(snap(sqlDir, v) == snap(apiDir, v),
      s"CALL-maintained and API-maintained answers diverge at v$v"))
    assert(hist(sqlDir) == hist(apiDir))
    assert(VersionedLayout.horizon(sqlDir) == VersionedLayout.horizon(apiDir))
    // Restore really undid the v4 delete.
    assert(snap(sqlDir, 5) == snap(sqlDir, 3))
    spark.sql("DROP TABLE graft.maint_sql_twin")
  }

  test("CALL repartition == Scala repartitionScheme; out-of-domain refuses before moving") {
    val sqlDir = freshDir("repsql"); val apiDir = freshDir("repapi")
    seed(sqlDir); seed(apiDir)
    register("maint_rep_twin", sqlDir)

    // Out-of-domain placement expression refuses loudly, nothing moves.
    val before = hist(sqlDir)
    val bad = intercept[Exception] {
      spark.sql("CALL graft.repartition('maint_rep_twin', " +
        "new_pid => 'cast(k % 16 as int)', domain => '0,1,2,3')").collect()
    }
    assert(bad.getMessage != null)
    assert(hist(sqlDir) == before, "a refused repartition must commit nothing")

    val r = spark.sql("CALL graft.repartition('maint_rep_twin', " +
      "new_pid => 'cast(pmod(k, 8) as int)', domain => '0,1,2,3,4,5,6,7')").collect()
    assert(r.head.getInt(0) == 3)
    val (rv, _) = VersionedLayout.repartitionScheme(spark, apiDir,
      pmod(col("k"), lit(8)).cast("int"), 0 until 8)
    assert(rv == 3)
    (0 to 3).foreach(v => assert(snap(sqlDir, v) == snap(apiDir, v)))
    // The new scheme's domain governs later inserts on both twins: an
    // insert outside 0..7 refuses identically.
    val oob = spark.range(500, 502).select(lit(9).cast("int").as("pid"),
      col("id").as("k"), (col("id") * 3).as("v"))
    val e1 = intercept[Exception] { VersionedLayout.appendInsert(spark, sqlDir, oob) }
    val e2 = intercept[Exception] { VersionedLayout.appendInsert(spark, apiDir, oob) }
    assert(e1.getMessage.contains("pid") && e2.getMessage.contains("pid"))
    spark.sql("DROP TABLE graft.maint_rep_twin")
  }

  test("procedures are discoverable and unknown names fail with the list") {
    val cat = spark.sessionState.catalogManager.catalog("graft")
      .asInstanceOf[org.apache.spark.sql.connector.catalog.ProcedureCatalog]
    val names = cat.listProcedures(Array.empty).map(_.name()).toSet
    assert(names == Set("compact", "vacuum", "restore", "repartition", "checkpoint"))
    val e = intercept[Exception] {
      spark.sql("CALL graft.no_such_proc('x')").collect()
    }
    assert(e.getMessage.contains("no procedure") || e.getMessage.contains("no_such_proc"))
  }

  test("CALL resolves a '/'-shaped path argument exactly like every other SQL surface") {
    val dir = freshDir("path")
    seed(dir)
    val c = spark.sql(s"CALL graft.compact('$dir')").collect()
    assert(c.head.getInt(0) == 3)
    assert(VersionedLayout.log(dir).last.action == "majorcompact")
  }
}
