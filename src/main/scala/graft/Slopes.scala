package graft

import java.nio.charset.StandardCharsets
import java.nio.file.Files

/** The committed scaling-slope ledger (`SLOPES.json`): every slope
  * harness ([[ScaleSlope]], [[LshAdmitSlope]], [[IvfAdmitSlope]],
  * [[CkptSlope]]) records (1x time, 10x time, ratio, bound) per
  * measurement here, MERGING by (harness, name) so re-runs refresh in
  * place — and SlopesSpec asserts `ratio <= bound` for every committed
  * entry, so a superlinear regression FAILS THE BUILD instead of hiding
  * in scaladoc prose. The bound is the harness's scaling claim: the 10x
  * data ratio for whole-query slopes (anything above it is
  * superlinear), a tight constant for the O(delta) index-mutation
  * claims. Baseline rows a harness records for contrast (e.g. the
  * per-batch rebuild an index store exists to avoid) carry bound = 0 =
  * unbounded.
  *
  * Format: a JSON array, ONE entry object per line (line-oriented so
  * the merge and the spec's parse stay dependency-free).
  */
object Slopes {

  final case class Entry(harness: String, name: String,
      t1x: Double, t10x: Double, ratio: Double, bound: Double)

  private def file = new java.io.File(
    sys.env.getOrElse("SPARK_GRAFT_SLOPES", "SLOPES.json"))

  private def render(e: Entry): String =
    f"""{"harness":"${e.harness}","name":"${e.name}","t1x":${e.t1x}%.3f,""" +
      f""""t10x":${e.t10x}%.3f,"ratio":${e.ratio}%.3f,"bound":${e.bound}%.1f}"""

  def parseLine(l: String): Option[Entry] = {
    val t = l.trim.stripSuffix(",")
    if (!t.startsWith("{") || !t.contains("\"harness\":")) return None
    def f(k: String) = t.split(s""""$k":""")(1).split("[,}]")(0).trim
    Some(Entry(f("harness").replaceAll("\"", ""), f("name").replaceAll("\"", ""),
      f("t1x").toDouble, f("t10x").toDouble, f("ratio").toDouble, f("bound").toDouble))
  }

  def readAll(f: java.io.File): Seq[Entry] =
    if (!f.isFile) Nil
    else new String(Files.readAllBytes(f.toPath), StandardCharsets.UTF_8)
      .linesIterator.flatMap(parseLine).toSeq

  /** Record one measurement, replacing any previous entry with the same
    * (harness, name). `bound = 0` marks an unbounded baseline row.
    */
  def record(harness: String, name: String,
      t1x: Double, t10x: Double, bound: Double): Unit = synchronized {
    val e = Entry(harness, name, t1x, t10x, if (t1x > 0) t10x / t1x else 0.0, bound)
    val kept = readAll(file).filterNot(x => x.harness == harness && x.name == name)
    val all = (kept :+ e).sortBy(x => (x.harness, x.name))
    Files.write(file.toPath,
      all.map(render).mkString("[\n", ",\n", "\n]\n").getBytes(StandardCharsets.UTF_8))
    println(s"SLOPES.json <- $harness/$name ratio=${f"${e.ratio}%.2f"} bound=$bound")
  }
}
