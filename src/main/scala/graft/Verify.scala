package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // Optional 3rd+ args: query names — restrict the dump to those (the
    // fast local loop while iterating on one query; the driver passes 2).
    val (sfDir, outDir, only) = (args(0), args(1), args.drop(2).toSet)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = GraftSession
      .builder(appName = "graft-verify", master = Some(s"local[$cpus]"),
        shufflePartitions = cpus.toInt)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries
      .filter { case (name, _) => only.isEmpty || only(name) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        e.printStackTrace()
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .filter { case (k, _) => only.isEmpty || only(k) }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // GATE SELF-CHECK (round 13): for the watched queries, replay the
    // driver's DuckDB compare LOCALLY against the gate parquet just
    // written, and append the verdict + both sides' full row digests
    // to the JvmId.diag ledger. This closes the q186 forensics gap: a later
    // driver-red row beside a same-timestamp local-green line proves
    // the divergence is in the driver's harness; a local-red names the
    // exact cells. Best-effort — duckdb is a driver-side tool, so ad
    // hoc environments without it just skip (never fail the gate).
    // q46 rides along because q186b's oracle embeds q46's survivor SQL
    // verbatim — a joint verdict pair splits "manifest aggregation
    // diverged" from "survivor derivation diverged" at a glance.
    val selfCheck = Set("q186b_snapshot_manifest", "q46_curation")
    selfCheck.filter(n => only.isEmpty || only(n))
      .filter(n => new java.io.File(s"$outDir/$n").isDirectory)
      .filter(_ => new java.io.File("tools/gate_selfcheck.py").isFile)
      .foreach { n =>
        try {
          // Bounded: a hung duckdb (import deadlock, etc.) must never
          // stall the gate — read stdout on a side thread and give the
          // whole check 120 s before force-killing and logging a
          // timeout verdict (round-13 advisor).
          val out = new ProcessBuilder(
              "python3", "tools/gate_selfcheck.py", outDir, sfDir, n)
            .redirectErrorStream(true).start()
          val buf = new java.util.concurrent.atomic.AtomicReference[String]("")
          val rd = new Thread(() =>
            try buf.set(new String(out.getInputStream.readAllBytes(), "UTF-8").trim)
            catch { case _: Throwable => () })
          rd.setDaemon(true); rd.start()
          val done = out.waitFor(120, java.util.concurrent.TimeUnit.SECONDS)
          if (!done) out.destroyForcibly()
          rd.join(5000)
          val line = if (done) buf.get else s"timeout after 120s; partial: ${buf.get.take(500)}"
          JvmId.diag("gate_selfcheck", "query" -> n, "result" -> line)
        } catch { case e: Throwable =>
          JvmId.diag("gate_selfcheck", "query" -> n,
            "result" -> s"spawn failed: ${e.getMessage}")
        }
      }
    spark.stop()
  }
}
