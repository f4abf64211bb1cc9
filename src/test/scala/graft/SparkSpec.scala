package graft

import java.nio.file.{Files, Path}

import org.apache.commons.io.FileUtils
import org.apache.spark.sql.SparkSession
import org.scalatest.{Args, Status}
import org.scalatest.funsuite.AnyFunSuite

/** One shared local session for the whole test JVM (suites run in it
  * sequentially under `Test / fork := true`).
  */
object TestSpark {
  lazy val spark: SparkSession = {
    val tmp = java.nio.file.Files.createTempDirectory("graft-test-derby")
    Runtime.getRuntime.addShutdownHook(new Thread(() => FileUtils.deleteQuietly(tmp.toFile)))
    System.setProperty("derby.system.home", tmp.toString)
    // The warehouse is GraftSession's default, a per-JVM scratch root.
    val s = GraftSession
      .builder(appName = "graft-test", master = Some("local[4]"), shufflePartitions = 4)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark
  lazy val sf0001 = "/root/testdata/sf0.001"
  lazy val sf001 = "/root/testdata/sf0.01"

  private val tempDirs = new java.util.concurrent.ConcurrentLinkedQueue[Path]()

  /** A fresh directory under the JVM's temp dir, deleted with everything in
    * it once the suite has run.
    */
  def tempDir(prefix: String): Path = {
    val dir = Files.createTempDirectory(prefix)
    tempDirs.add(dir)
    dir
  }

  override def run(testName: Option[String], args: Args): Status = {
    val status = super.run(testName, args)
    status.whenCompleted(_ => tempDirs.forEach(d => FileUtils.deleteQuietly(d.toFile)))
    status
  }
}
