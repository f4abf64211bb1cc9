package graft

import java.io.RandomAccessFile
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.array.ByteArrayMethods
import org.scalatest.BeforeAndAfterAll

import graft.sources.ManifestSource

/** `ManifestSource`: driver-side checks of manifest entries, the line split
  * against Spark's text scan, and task input metrics for the files it reads.
  */
class ManifestSourceSpec extends SparkSpec with BeforeAndAfterAll {

  private val root = Files.createTempDirectory("graft-manifest")

  override def afterAll(): Unit = {
    val walk = Files.walk(root)
    try walk.iterator().asScala.toSeq.reverse.foreach(Files.delete) finally walk.close()
  }

  private def manifest(name: String, entries: Seq[String]): Path =
    Files.write(root.resolve(name),
      (entries.length.toString +: entries).mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))

  private def file(name: String, bytes: Array[Byte]): String =
    Files.write(root.resolve(name), bytes).getFileName.toString

  private def readError(m: Path): String =
    intercept[IllegalArgumentException](ManifestSource.read(m.toString)).getMessage

  test("a missing path fails on the driver with its manifest line") {
    val m = manifest("missing.txt", Seq(file("ok.txt", Array[Byte]('a')), "gone.txt"))
    val msg = readError(m)
    assert(msg.contains(s"$m line 3") && msg.contains("'gone.txt'") && msg.contains("does not exist"), msg)
  }

  test("a directory fails on the driver with its manifest line") {
    Files.createDirectories(root.resolve("dir"))
    val m = manifest("dir-manifest.txt", Seq("dir"))
    val msg = readError(m)
    assert(msg.contains(s"$m line 2") && msg.contains("'dir'") && msg.contains("not a regular file"), msg)
  }

  test("a file too large for one row fails on the driver with its manifest line") {
    // Sparse: the length is set without writing any data.
    val big = root.resolve("big.bin")
    val raf = new RandomAccessFile(big.toFile, "rw")
    try raf.setLength(ByteArrayMethods.MAX_ROUNDED_ARRAY_LENGTH) finally raf.close()
    try {
      val m = manifest("big-manifest.txt", Seq(file("small.txt", Array[Byte]('a')), "small.txt", "big.bin"))
      val msg = readError(m)
      assert(msg.contains(s"$m line 4") && msg.contains("'big.bin'") && msg.contains("one row"), msg)
    } finally Files.delete(big)
  }

  test("lines splits files exactly as Spark's text scan does, bytes unchanged") {
    val names = Seq(
      file("lf.txt", "one\ntwo\n\nthree".getBytes(StandardCharsets.UTF_8)),
      file("crlf.txt", "a\r\nb\r\n\r\n".getBytes(StandardCharsets.UTF_8)),
      file("cr.txt", "x\ry\r\r\nz\n\r".getBytes(StandardCharsets.UTF_8)),
      file("empty.txt", Array.emptyByteArray),
      file("newline.txt", Array[Byte]('\n')),
      file("bytes.txt", Array[Byte]('q', 0xff.toByte, '\n', 0xc3.toByte, '\r', 0x80.toByte)))
    val m = ManifestSource.read(manifest("lines.txt", names :+ names.head).toString)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select(col("file_id"), col("line").cast("binary")).collect()
        .map(r => (r.getInt(0), r.getAs[Array[Byte]](1).toSeq)).toSeq.sortBy(_._1)
    val viaScan = m.flatMap { case (id, path) =>
      rows(spark.read.text(path).select(lit(id).as("file_id"), col("value").as("line")))
    }
    assert(viaScan.size == 20)
    // The stable sort by id keeps each file's lines in order on both sides.
    assert(rows(ManifestSource.lines(spark, m)) == viaScan)
  }

  test("files reports the bytes and files it reads as task input metrics") {
    val names = (1 to 5).map(i => file(s"m$i.txt", Array.fill[Byte](100 * i)('w')))
    val m = ManifestSource.read(manifest("metrics.txt", names).toString)
    val group = "manifest-source-metrics"
    val stages = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val bytes, records = new AtomicLong
    val done = new CountDownLatch(1)
    val listener = new SparkListener {
      private val jobs = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == group)) {
          jobs.add(e.jobId); e.stageIds.foreach(stages.add(_))
        }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        if (stages.contains(e.stageId) && e.taskMetrics != null) {
          bytes.addAndGet(e.taskMetrics.inputMetrics.bytesRead)
          records.addAndGet(e.taskMetrics.inputMetrics.recordsRead)
        }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = if (jobs.contains(e.jobId)) done.countDown()
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      spark.sparkContext.setJobGroup(group, group)
      try ManifestSource.files(spark, m).select(length(col("text"))).collect()
      finally spark.sparkContext.clearJobGroup()
      assert(done.await(60, TimeUnit.SECONDS), "job end event not delivered")
    } finally spark.sparkContext.removeSparkListener(listener)
    assert(bytes.get == (1 to 5).map(_ * 100).sum)
    assert(records.get == 5)
  }
}
