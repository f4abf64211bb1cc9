package graft

import scala.collection.immutable.ListMap

import org.scalacheck.{Gen, Prop, Test}
import org.scalacheck.Prop.propBoolean
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.MetaJson
import graft.operators.VersionedLayout.{LogEntry, Meta}
import graft.plans.GraftCatalog.RegEntry

/** The storage layer's JSON codec: every record it writes reads back
  * as itself, and renders to the same bytes every time.
  */
class MetaJsonSpec extends AnyFunSuite {

  private val anyLong = Gen.choose(Long.MinValue, Long.MaxValue)
  private val anyInt = Gen.choose(Int.MinValue, Int.MaxValue)
  private val ident = for {
    h <- Gen.alphaChar
    t <- Gen.listOfN(6, Gen.alphaNumChar)
  } yield (h +: t).mkString
  private val text = Gen.oneOf(ident, Gen.asciiPrintableStr, Gen.const("decimal(10,2)"),
    Gen.const("struct<a:int,b:decimal(10,2)>"), Gen.const("päth.ünïcode"))
  private val triples = Gen.listOf(Gen.zip(anyInt, anyLong, anyLong))
  private val statsM = for {
    n <- Gen.choose(0, 5)
    cols <- Gen.listOfN(n, ident)
    ts <- Gen.listOfN(n, Gen.nonEmptyListOf(Gen.zip(anyInt, anyLong, anyLong)))
  } yield cols.zip(ts).toMap

  private val entry: Gen[LogEntry] = for {
    version <- anyInt
    action <- Gen.oneOf("write", "insert", "delete", "upsert", "compact",
      "majorcompact", "vacuum", "addcolumn", "renamecolumn", "widenfield")
    pids <- Gen.oneOf(Gen.const(Nil), Gen.nonEmptyListOf(anyInt))
    tpids <- Gen.oneOf(Gen.const(Nil), Gen.nonEmptyListOf(anyInt))
    horizon <- anyInt
    txn <- anyLong
    tag <- text
    colName <- text
    colType <- text
    ts <- anyLong
    rowsW <- anyLong
    rowsD <- anyLong
    restoreOf <- anyInt
    sm <- statsM
  } yield LogEntry(version, action, pids, horizon, txn, tag, colName, colType, ts,
    rowsW, rowsD, restoreOf, sm, tpids)

  test("log entries: render then parse is the identity, and renders are byte-equal (ScalaCheck, fixed seed)") {
    val params = Test.Parameters.default
      .withMinSuccessfulTests(500).withWorkers(1).withInitialSeed(Seed(20261020L))
    val result = Test.check(params, Prop.forAllNoShrink(entry) { e =>
      val body = MetaJson.renderEntry(e)
      val reordered = e.copy(statsM = ListMap(e.statsM.toSeq.reverse: _*))
      (MetaJson.parseEntry(body) == e) :| s"round trip of $body" &&
        (MetaJson.renderEntry(reordered) == body) :| s"second render of $body" &&
        !body.contains("\n") :| s"a checkpoint line holds one entry: $body"
    })
    assert(result.passed, result.status)
    // The property exercised the edges it names.
    val e = LogEntry(7, "addcolumn", Nil, 0, colName = "price", colType = "decimal(10,2)",
      statsM = Map("v" -> Seq((0, Long.MinValue, Long.MaxValue), (1, -5L, 3L))))
    assert(MetaJson.parseEntry(MetaJson.renderEntry(e)) == e)
  }

  test("an entry missing a field fails by the field's name") {
    val e = intercept[IllegalArgumentException](MetaJson.parseEntry(
      """{"version":2,"action":"compact","pids":[],"horizon":0,"txn":-1}"""))
    assert(e.getMessage.contains("field 'tag' is missing"), e.getMessage)
  }

  test("meta, manifest and registry entries round-trip") {
    val m = Meta(Seq("doc_id", "v"), Seq("v", "n"), Seq("ck", "meta.a.b"),
      Seq("doc_id" -> "bigint", "price" -> "decimal(10,2)",
        "meta" -> "struct<a:struct<b:bigint>,lang:string>", "pid" -> "int"))
    val body = MetaJson.renderMeta(m)
    assert(MetaJson.parseMeta(body) == m)
    assert(MetaJson.parseMeta(body).types.map(_._1) == Seq("doc_id", "price", "meta", "pid"),
      "declaration order lost")
    assert(MetaJson.parseManifest(MetaJson.renderManifest(12, Long.MinValue)) == ((12, Long.MinValue)))
    Seq(RegEntry("/tables/corpus", renamedFrom = Some("old_name"), renamingTo = Some("new_name")),
      RegEntry("/tables/plain")).foreach { r =>
      assert(MetaJson.parseReg(MetaJson.renderReg(r)) == r)
    }
  }
}
