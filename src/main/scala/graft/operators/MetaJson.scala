package graft.operators

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.ObjectNode
import scala.jdk.CollectionConverters._

import graft.operators.VersionedLayout.{LogEntry, Meta}
import graft.plans.GraftCatalog.RegEntry

/** The one JSON codec of the storage layer's metadata files:
  *
  *  - [[VersionedLayout]]'s log entries (`_log/v<N>.json`, one entry
  *    per line in `_log/ckpt-v<N>.json`) and its table meta
  *    (`_log/meta.json`);
  *  - [[GenChain]]'s generation manifests (`v<N>/_graft_manifest.json`);
  *  - [[graft.plans.GraftCatalog]]'s registry entries
  *    (`<warehouse>/tables/<name>.json`).
  *
  * Jackson's tree model, mapped field by field (reflective binding
  * erases the `Long`s of a `Seq[(Int, Long, Long)]` to `Object`, and a
  * small one comes back as an `Integer`). Every render is
  * deterministic — fixed field order, map keys sorted — because two
  * racing checkpoint writers must publish identical bytes and
  * [[VersionedLayout.commit]]'s re-check compares rendered entries.
  * Every field a record declares is required on read: a file that
  * lacks one fails loudly by name.
  */
private[graft] object MetaJson {

  private val mapper = new ObjectMapper()

  private def obj(): ObjectNode = mapper.createObjectNode()

  private def field(n: JsonNode, k: String): JsonNode = {
    val v = n.get(k)
    require(v != null, s"metadata field '$k' is missing in $n")
    v
  }

  private def int(v: JsonNode): Int = {
    require(v.isIntegralNumber && v.canConvertToInt, s"metadata value $v is not an int")
    v.intValue
  }

  private def long(v: JsonNode): Long = {
    require(v.isIntegralNumber && v.canConvertToLong, s"metadata value $v is not a long")
    v.longValue
  }

  private def text(v: JsonNode): String = {
    require(v.isTextual, s"metadata value $v is not a string")
    v.textValue
  }

  private def elems(v: JsonNode): Seq[JsonNode] = {
    require(v.isArray, s"metadata value $v is not an array")
    v.asScala.toSeq
  }

  private def strings(n: ObjectNode, k: String, xs: Seq[String]): Unit = {
    val a = n.putArray(k)
    xs.foreach(x => a.add(x))
  }

  def renderEntry(e: LogEntry): String = {
    val n = obj().put("version", e.version).put("action", e.action)
    val pids = n.putArray("pids")
    e.pids.foreach(pids.add(_))
    val tpids = n.putArray("tpids")
    e.tpids.foreach(tpids.add(_))
    n.put("horizon", e.horizon).put("tag", e.tag).put("txn", e.txn)
      .put("colName", e.colName).put("colType", e.colType).put("ts", e.ts)
      .put("rowsW", e.rowsW).put("rowsD", e.rowsD).put("restoreOf", e.restoreOf)
    val statsM = n.putObject("statsm")
    e.statsM.toSeq.sortBy(_._1).foreach { case (c, ts) =>
      val a = statsM.putArray(c)
      ts.foreach { case (p, mn, mx) => a.addArray().add(p).add(mn).add(mx) }
    }
    mapper.writeValueAsString(n)
  }

  def parseEntry(body: String): LogEntry = {
    val n = mapper.readTree(body)
    LogEntry(
      version = int(field(n, "version")), action = text(field(n, "action")),
      pids = elems(field(n, "pids")).map(int), horizon = int(field(n, "horizon")),
      txn = long(field(n, "txn")), tag = text(field(n, "tag")),
      colName = text(field(n, "colName")), colType = text(field(n, "colType")),
      ts = long(field(n, "ts")), rowsW = long(field(n, "rowsW")),
      rowsD = long(field(n, "rowsD")), restoreOf = int(field(n, "restoreOf")),
      statsM = field(n, "statsm").properties.asScala.map { f =>
        f.getKey -> elems(f.getValue).map { t =>
          val Seq(p, mn, mx) = elems(t)
          (int(p), long(mn), long(mx))
        }
      }.toMap,
      tpids = elems(field(n, "tpids")).map(int))
  }

  /** `types` renders as `[name, type]` pairs: the declaration order is
    * part of the record (an empty base's schema is rebuilt from it).
    */
  def renderMeta(m: Meta): String = {
    val n = obj()
    strings(n, "keyCols", m.keyCols)
    strings(n, "statsCols", m.statsCols)
    strings(n, "bloomCols", m.bloomCols)
    val types = n.putArray("types")
    m.types.foreach { case (c, t) => types.addArray().add(c).add(t) }
    mapper.writeValueAsString(n)
  }

  def parseMeta(body: String): Meta = {
    val n = mapper.readTree(body)
    Meta(elems(field(n, "keyCols")).map(text), elems(field(n, "statsCols")).map(text),
      elems(field(n, "bloomCols")).map(text),
      elems(field(n, "types")).map { p =>
        val Seq(c, t) = elems(p)
        text(c) -> text(t)
      })
  }

  def renderManifest(gen: Int, txn: Long): String =
    mapper.writeValueAsString(obj().put("generation", gen).put("txn", txn))

  /** A manifest's (generation, txn). */
  def parseManifest(body: String): (Int, Long) = {
    val n = mapper.readTree(body)
    (int(field(n, "generation")), long(field(n, "txn")))
  }

  /** The rename markers are written only while a rename is in flight. */
  def renderReg(e: RegEntry): String = {
    val n = obj().put("dir", e.dir)
    e.renamedFrom.foreach(n.put("renamedFrom", _))
    e.renamingTo.foreach(n.put("renamingTo", _))
    mapper.writeValueAsString(n)
  }

  def parseReg(body: String): RegEntry = {
    val n = mapper.readTree(body)
    RegEntry(text(field(n, "dir")), Option(n.get("renamedFrom")).map(text),
      Option(n.get("renamingTo")).map(text))
  }
}
