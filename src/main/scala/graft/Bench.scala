package graft

import org.apache.spark.sql.DataFrame

/** Benchmark main: runs every registered query on SPARK_GRAFT_SF_DIR and
  * prints ONE JSON line {"metric":...,"queries":{name:sec,...}} on stdout.
  * It writes no file into the checkout.
  *
  * Each timing is a full materialization through Spark's noop sink
  * ([[materialize]]): the whole physical plan runs and the rows are
  * discarded, so Catalyst cannot prune the work the caller would get the
  * way it can for `count()`. JVM/session startup is off the clock — per
  * BASELINE.md the baseline comparison is query time. A warmup action
  * first touches every table so one-time scan setup (parquet footer
  * reads, codegen of common scans) is off the clock too.
  *
  *  - CALIBRATION: a fixed probe (q01, the pricing summary — one scan +
  *    one aggregate) is re-timed at the start, middle, and end of the run
  *    and reported under "calibration". Dividing per-query times by the
  *    calibration median cancels machine load; spread between the three
  *    samples exposes within-run contention.
  *
  *  - STEADY-STATE LAYOUT QUERIES: layout/index queries amortize a
  *    one-time write into many reads. Each such write is paid once before
  *    the timed loop and reported under "layout_write_sec"; the loop then
  *    measures what the layout buys per query.
  *
  * For A/B comparisons and a per-layer breakdown use `perfbench/`
  * (alternating parent/change runs, `--trace 1`).
  */
object Bench {

  /** Run the full physical plan and discard the rows. */
  private def materialize(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors().toString).toInt
    val spark = GraftSession
      .builder(appName = "graft-bench", master = Some(s"local[$cpus]"),
        shufflePartitions = cpus)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // Warmup: touch each table once (footer reads + scan codegen).
    Seq("region", "nation", "customer", "supplier", "part", "orders",
      "lineitem", "events", "documents", "embeddings")
      .foreach(t => Tables(spark, sfDir, t).count())

    def timed(body: => Unit): Double = {
      val t0 = System.nanoTime()
      body
      (System.nanoTime() - t0) / 1e9
    }
    def cooldown(): Unit = {
      // Off the clock: drop leftover cached blocks/broadcasts so one
      // query's garbage doesn't tax the next one's measurement.
      spark.catalog.clearCache()
      System.gc()
    }

    // One-time layout/index writes (bucketed tables, partitioned copy,
    // persisted IVF index), paid here so the timed loop sees each
    // query's write-once/read-many steady state.
    val layoutWrites = Seq(
      "q74_bucketed_join", "q76_partitioned_prune", "q88_ivf_persisted_probe",
      "q95_format_roundtrip", "q96_zorder_box", "q127_schema_evolution",
      "q150_range_layout_scan", "q151_layout_delete", "q157_bucketed_delete",
      "q159_layout_time_travel", "q160_layout_crud_history",
      "q161_index_time_travel", "q162_incremental_view", "q164_change_data_feed",
      "q165_major_compact", "q166_layout_clone", "q167_incremental_lsh_index",
      "q168_lsh_index_crud", "q169_chain_compaction_audit",
      "q170_layout_checkpointed_log", "q171_incremental_ivf", "q172_ivf_index_crud",
      "q176_generic_layout", "q177_ivf_retrain", "q180_layout_schema_evolution",
      "q181_layout_retention_audit", "q182_clustered_fold", "q183_pipeline_txn",
      "q185_pipeline_maintenance", "q187_scheduled_retrain",
      "q188_layout_drop_column", "q189_layout_rename_column",
      "q190_layout_restore", "q191_pipeline_restore", "q192_layout_widen_column",
      "q197_layout_rename_readd", "q198_layout_restore_evolution",
      "q199_layout_rename_revive", "q200_layout_time_travel_ts",
      "q201_layout_retention_by_time", "q203_layout_asof_skipping",
      "q204_layout_typed_readd", "q206_layout_stats_identity",
      "q207_layout_feed_windows", "q208_layout_stream_feed",
      "q209_layout_array_embeddings", "q212_layout_merge",
      "q214_layout_bloom_point", "q216_layout_struct_metadata",
      "q218_layout_bloom_string", "q219_layout_sql_dml",
      "q220_layout_batch_read", "q221_layout_restore_flip",
      "q222_layout_field_evolution", "q223_layout_write_path",
      "q224_layout_catalog_ddl", "q225_layout_repartition",
      "q226_sql_maintenance", "q227_stream_upsert",
      "q27_ngram_jaccard", "q196_orc_roundtrip", "q60_sparse_topk",
      "q115_bm25_topk", "q24_minhash_signatures", "q26_simhash",
      "q109_bigram_fluency",
    ).map { name =>
      val sec = timed(materialize(SparkEntry.queries(name)(spark, sfDir)))
      cooldown()
      name -> sec
    }

    val probe = SparkEntry.allDefs.find(_.name == "q01_pricing_summary").get
    def calibrate(): Double = {
      val sec = timed(materialize(probe.fn(spark, sfDir)))
      cooldown()
      sec
    }
    // Untimed probe warmup: the start sample must measure the MACHINE,
    // not the probe's own first-execution codegen/JIT (measured 1.23s
    // first vs 0.3s warm for the same query on an idle box).
    calibrate()

    val calStart = calibrate()
    val defs = SparkEntry.allDefs
    var calMid = -1.0
    val results = defs.zipWithIndex.map { case (q, i) =>
      if (i == defs.size / 2) calMid = calibrate()
      val t0 = System.nanoTime()
      // NonFatal only: an OOM/JVM-corrupting error must abort the bench
      // rather than distort every subsequent measurement.
      val ok = try { materialize(q.fn(spark, sfDir)); true }
      catch { case scala.util.control.NonFatal(_) => false }
      val sec = (System.nanoTime() - t0) / 1e9
      cooldown()
      q.name -> (if (ok) sec else -1.0)
    }
    val calEnd = calibrate()

    def obj(xs: Seq[(String, Double)]): String =
      xs.map { case (k, v) => "\"" + k + "\":" + f"$v%.3f" }.mkString("{", ",", "}")
    val cal = f"""{"start":$calStart%.3f,"mid":$calMid%.3f,"end":$calEnd%.3f}"""
    val total = results.map(_._2).filter(_ >= 0).sum
    println(s"""{"metric":"total","value":${f"$total%.3f"},"unit":"sec","queries":${obj(results)},""" +
      s""""calibration":$cal,"layout_write_sec":${obj(layoutWrites)},"sf":"$sfDir"}""")
    System.out.flush()
    spark.stop()
  }
}
