package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import graft.functions.text

/** Plain-Scala model of the reference `main.cpp` job, used to check
  * `ReferenceJob` output byte for byte:
  *   - the manifest's first line is a count N, then N paths relative to
  *     the manifest's directory; file ids are 1-based manifest positions,
  *     so a path listed twice gets two ids;
  *   - tokens are `operator>>` words: maximal runs of non-whitespace,
  *     whitespace being the C locale's space, \t, \n, \v, \f and \r;
  *   - each token is normalized by `text.normalizeWordScala` and dropped
  *     if nothing survives;
  *   - a word's posting list is the set union of the ids it occurs in;
  *   - each letter file lists its words by doc_freq desc, then word asc,
  *     one `word:[id id ...]` line each; absent letters give empty files.
  */
object RefModel {

  private def isSpace(c: Char): Boolean =
    c == ' ' || c == '\t' || c == '\n' || c == '\u000b' || c == '\f' || c == '\r'

  def tokens(s: String): Iterator[String] = new Iterator[String] {
    private var i = 0
    private def skip(): Unit = while (i < s.length && isSpace(s.charAt(i))) i += 1
    skip()
    def hasNext: Boolean = i < s.length
    def next(): String = {
      val start = i
      while (i < s.length && !isSpace(s.charAt(i))) i += 1
      val t = s.substring(start, i)
      skip()
      t
    }
  }

  /** Posting lists for documents given in ascending id order. */
  def index(docs: Iterator[(Int, String)]): Map[String, Seq[Int]] = {
    val postings = mutable.HashMap.empty[String, mutable.ArrayBuffer[Int]]
    var last = Int.MinValue
    docs.foreach { case (id, body) =>
      require(id >= last, "documents must arrive in ascending id order")
      last = id
      tokens(body).map(text.normalizeWordScala).filter(_.nonEmpty).foreach { w =>
        val ids = postings.getOrElseUpdate(w, mutable.ArrayBuffer.empty[Int])
        if (ids.isEmpty || ids.last != id) ids += id
      }
    }
    postings.view.mapValues(_.toSeq).toMap
  }

  /** The 26 letter files, `a.txt` first. */
  def render(index: Map[String, Seq[Int]]): IndexedSeq[Array[Byte]] = {
    val byLetter = index.toSeq.groupBy(_._1.charAt(0))
    ('a' to 'z').map { c =>
      val sb = new StringBuilder
      byLetter.getOrElse(c, Nil)
        .sortBy { case (w, ids) => (-ids.length, w) }
        .foreach { case (w, ids) => sb.append(w).append(":[").append(ids.mkString(" ")).append("]\n") }
      sb.toString.getBytes(StandardCharsets.UTF_8)
    }
  }

  /** Manifest entries as (1-based id, resolved path). */
  def manifest(manifestPath: Path): Seq[(Int, Path)] = {
    val lines = Files.readAllLines(manifestPath, StandardCharsets.UTF_8).asScala.toSeq
    val n = lines.head.trim.toInt
    val dir = Option(manifestPath.getParent).getOrElse(manifestPath.getFileSystem.getPath("."))
    lines.slice(1, 1 + n).zipWithIndex.map { case (p, i) => (i + 1, dir.resolve(p.trim)) }
  }

  def run(manifestPath: Path): IndexedSeq[Array[Byte]] =
    render(index(manifest(manifestPath).iterator.map { case (id, p) =>
      (id, new String(Files.readAllBytes(p), StandardCharsets.UTF_8))
    }))

  /** Names of the letter files in `outDir` whose bytes differ from
    * `expected`, plus any file that is not one of the 26.
    */
  def mismatches(outDir: Path, expected: IndexedSeq[Array[Byte]]): Seq[String] = {
    val names = ('a' to 'z').map(c => s"$c.txt")
    val listing = Files.list(outDir)
    val extra = try listing.iterator().asScala.map(_.getFileName.toString)
      .filterNot(names.toSet).toSeq finally listing.close()
    val wrong = names.zip(expected).collect {
      case (n, bytes) if !Files.isRegularFile(outDir.resolve(n)) ||
          !java.util.Arrays.equals(Files.readAllBytes(outDir.resolve(n)), bytes) => n
    }
    wrong ++ extra
  }
}
