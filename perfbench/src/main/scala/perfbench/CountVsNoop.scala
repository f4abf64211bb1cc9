package perfbench

import java.nio.file.{Files, Paths}

import graft.SparkEntry

/** One-time comparison of the two ways to time a registry query on the
  * `query_mix` tables: `count()` (which Catalyst may prune) and the `noop`
  * sink (which runs the whole plan). Prints a markdown table; each cell is
  * the minimum of three warm runs.
  *
  * Usage: CountVsNoop <work dir> <query> ...
  */
object CountVsNoop {
  def main(args: Array[String]): Unit = {
    val work = Files.createDirectories(Paths.get(args.head))
    val spark = graft.GraftSession.builder("perfbench-count-vs-noop", Some("local[4]"), 4)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    try {
      val dir = work.resolve("tables").toString
      DataGen.writeTables(spark, dir, QueryMixWorkload.Docs, QueryMixWorkload.Lineitems,
        QueryMixWorkload.DataSeed)
      def best(run: => Unit): Double = {
        run
        (1 to 3).map { _ =>
          val t0 = System.nanoTime(); run; (System.nanoTime() - t0) / 1e9
        }.min
      }
      println("| query | count() s | noop s | noop / count |")
      println("|---|---:|---:|---:|")
      args.tail.foreach { q =>
        val fn = SparkEntry.queries(q)
        val c = best(fn(spark, dir).count())
        val n = best(fn(spark, dir).write.format("noop").mode("overwrite").save())
        println(f"| $q | $c%.3f | $n%.3f | ${n / c}%.2f |")
      }
    } finally spark.stop()
  }
}
