package graft.sources

import java.io.IOException
import java.nio.file.{Files, InvalidPathException, NoSuchFileException, Path, Paths}
import java.nio.file.attribute.BasicFileAttributes
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.TaskMetricsBridge
import org.apache.spark.sql.types.{BinaryType, IntegerType, StructField, StructType}
import org.apache.spark.unsafe.array.ByteArrayMethods

/** The reference engine's input source: a manifest file whose first line is a
  * count N followed by N file paths (reference: tema1a/src/main.cpp:188-200).
  * File IDs are the 1-BASED POSITION IN THE MANIFEST (main.cpp:103), so ids
  * are assigned on the driver from manifest order and travel with their
  * paths into the tasks.
  *
  * Scale notes: the manifest itself is metadata (one line per file), so
  * reading it driver-side is correct at any scale; the DATA is read inside
  * tasks, one whole file per row, as the reference's mappers read whole
  * files (main.cpp:97-103). No data-scale bytes pass through the driver.
  * The unit of parallelism is the file, which suits the reference's
  * many-small-files corpora; a single file must fit in one row, so
  * [[read]] rejects any file of ~2 GB or more.
  */
object ManifestSource {

  /** Parse the manifest into (fileId, absolutePath), ids 1-based in manifest
    * order. Relative paths resolve against the manifest's directory. Each
    * entry must name an existing regular file small enough for one row
    * (one attribute read per entry); otherwise this fails with the
    * manifest line and the path.
    */
  def read(manifestPath: String): Seq[(Int, String)] = {
    val p = Paths.get(manifestPath)
    val lines = Files.readAllLines(p).asScala.toSeq
    val n = lines.head.trim.toInt
    val dir: Path = Option(p.getParent).getOrElse(Paths.get("."))
    lines.slice(1, 1 + n).zipWithIndex.map { case (rel, i) =>
      def where = s"$manifestPath line ${i + 2}: '${rel.trim}'"
      val f =
        try dir.resolve(rel.trim).normalize()
        catch {
          case e: InvalidPathException => throw new IllegalArgumentException(s"$where is not a valid path", e)
        }
      val attrs =
        try Files.readAttributes(f, classOf[BasicFileAttributes])
        catch {
          case e: NoSuchFileException => throw new IllegalArgumentException(s"$where does not exist", e)
          case e: IOException => throw new IllegalArgumentException(s"$where cannot be read: $e", e)
        }
      require(attrs.isRegularFile, s"$where is not a regular file")
      val size = attrs.size
      require(size < ByteArrayMethods.MAX_ROUNDED_ARRAY_LENGTH,
        s"$where is $size bytes; a file must be under " +
          s"${ByteArrayMethods.MAX_ROUNDED_ARRAY_LENGTH} bytes to fit in one row")
      (i + 1, f.toAbsolutePath.toString)
    }
  }

  /** DataFrame of (file_id: Int, text: String), one row per manifest entry
    * holding the file's whole content. Each task reads its files' bytes;
    * the string is those bytes unchanged (no decoding), as a Spark text
    * scan would pass them.
    */
  def files(spark: SparkSession, manifest: Seq[(Int, String)]): DataFrame = {
    val rows = spark.sparkContext
      .parallelize(manifest, spark.sparkContext.defaultParallelism)
      .map { case (id, path) =>
        val bytes = Files.readAllBytes(Paths.get(path))
        TaskMetricsBridge.recordRead(bytes.length, 1)
        Row(id, bytes)
      }
    spark.createDataFrame(rows, fileSchema)
      .select(col("file_id"), col("bytes").cast("string").as("text"))
  }

  private val fileSchema = StructType(Seq(
    StructField("file_id", IntegerType, nullable = false),
    StructField("bytes", BinaryType, nullable = false)))

  /** DataFrame of (file_id: Int, line: String): each file of [[files]] split
    * into lines on `\r\n`, `\r` or `\n` as a Spark text scan splits them (no
    * trailing empty line, no line at all for an empty file), bytes unchanged.
    */
  def lines(spark: SparkSession, manifest: Seq[(Int, String)]): DataFrame = {
    import spark.implicits._
    files(spark, manifest)
      .select(col("file_id"), col("text").cast("binary"))
      .as[(Int, Array[Byte])]
      .flatMap { case (id, bytes) => splitLines(bytes).map((id, _)) }
      .toDF("file_id", "line")
      .select(col("file_id"), col("line").cast("string"))
  }

  private def splitLines(b: Array[Byte]): Iterator[Array[Byte]] = new Iterator[Array[Byte]] {
    private var start = 0
    def hasNext: Boolean = start < b.length
    def next(): Array[Byte] = {
      var end = start
      while (end < b.length && b(end) != '\n' && b(end) != '\r') end += 1
      val line = java.util.Arrays.copyOfRange(b, start, end)
      start = end + (if (end + 1 < b.length && b(end) == '\r' && b(end + 1) == '\n') 2 else 1)
      line
    }
  }
}
