package graft

import org.apache.spark.sql.functions._
import org.scalacheck.Gen

import graft.functions.{textstats, vectors}

/** The custom codegen expressions must be value-identical to the
  * declarative higher-order-function folds they replaced (which in turn
  * mirror the DuckDB oracle formulations).
  */
class ExpressionsSpec extends SparkSpec {

  test("StringPolyHash == declarative aggregate(split) fold") {
    val spark0 = spark
    import spark0.implicits._
    val gen = Gen.listOf(Gen.frequency(
      8 -> Gen.alphaNumChar, 2 -> Gen.oneOf(' ', '\'', '.', 'ü', 'é'))).map(_.mkString)
    val inputs = Gen.listOfN(200, gen).sample.get :+ "" :+ "abc"
    val df = inputs.toDF("s")
    val got = df.select(
      textstats.rollingHash(col("s")).as("fast"),
      when(length(col("s")) === 0, lit(0L)).otherwise(
        aggregate(split(col("s"), ""), lit(0L),
          (acc, c) => (acc * 31 + ascii(c)) % 1000000007L)).as("slow"),
    ).collect()
    got.foreach(r => assert(r.getLong(0) == r.getLong(1), r.toString))
  }

  test("StringPolyHash known value") {
    val spark0 = spark
    import spark0.implicits._
    // ((0*31+97)*31+98)*31+99 = 96354 — same value DuckDB's fold yields.
    val v = Seq("abc").toDF("s").select(textstats.rollingHash(col("s"))).head().getLong(0)
    assert(v == 96354L)
  }

  test("StringPolyHash folds supplementary-plane CODE POINTS (DuckDB semantics, not surrogate halves)") {
    val spark0 = spark
    import spark0.implicits._
    // U+1D11E MUSICAL SYMBOL G CLEF (non-BMP: a UTF-16 surrogate pair).
    // The intended semantics — and what DuckDB's string_split('')+ascii()
    // oracle computes — fold the single code point 0x1D11E, NOT the two
    // surrogate halves that Spark's split(s, "") would produce.
    val s = "a𝄞b"
    val expected = Seq(0x61L, 0x1D11EL, 0x62L)
      .foldLeft(0L)((acc, cp) => (acc * 31 + cp) % 1000000007L)
    val surrogateFold = Seq(0x61L, 0xD834L, 0xDD1EL, 0x62L)
      .foldLeft(0L)((acc, cp) => (acc * 31 + cp) % 1000000007L)
    val v = Seq(s).toDF("s").select(textstats.rollingHash(col("s"))).head().getLong(0)
    assert(v == expected, s"expected code-point fold $expected, got $v")
    assert(v != surrogateFold, "must not match the UTF-16 surrogate-half fold")
  }

  test("ArrayIntersectSize counts exactly what size(array_intersect) would (dups, empties, disjoint)") {
    val spark0 = spark
    import spark0.implicits._
    val alphabet = Seq("a", "b", "c", "d", "e")
    val gen = Gen.listOf(Gen.oneOf(alphabet))
    val rows = Gen.listOfN(200, Gen.zip(gen, gen)).sample.get :+
      ((Nil, Nil)) :+ ((List("a", "a", "b"), List("a"))) :+ ((List("x"), List("y")))
    val df = rows.map { case (a, b) => (a, b) }.toDF("a", "b")
    // The optimizer rewrites the composed spelling below into
    // ArrayIntersectSize, so assert against a driver-side model instead
    // of comparing the expression to itself.
    val got = df.select(size(array_intersect(col("a"), col("b")))).as[Int].collect()
    rows.map { case (a, b) => a.distinct.count(b.contains) }
      .zip(got).zipWithIndex.foreach { case ((want, g), i) =>
        assert(want == g, s"row $i: want $want got $g (${rows(i)})")
      }
  }

  test("VectorDotProduct == declarative zip_with/aggregate fold") {
    val spark0 = spark
    import spark0.implicits._
    val gen = Gen.listOfN(64, Gen.chooseNum(-10.0f, 10.0f))
    val rows = Gen.listOfN(50, Gen.zip(gen, gen)).sample.get
    val df = rows.map { case (a, b) => (a.toArray, b.toArray) }.toDF("a", "b")
    val got = df.select(
      vectors.dot(col("a"), col("b")).as("fast"),
      aggregate(zip_with(col("a"), col("b"), (x, y) => x.cast("double") * y.cast("double")),
        lit(0.0), (acc, v) => acc + v).as("slow"),
    ).collect()
    got.foreach(r => assert(r.getDouble(0) == r.getDouble(1), r.toString))
  }

  /** Tokenizer inputs: letters, digits, every separator, punctuation and
    * non-ASCII characters, plus hand-picked edge cases.
    */
  private def tokenizerInputs(): Seq[String] = {
    val gen = Gen.listOf(Gen.frequency(
      6 -> Gen.alphaChar, 2 -> Gen.numChar,
      3 -> Gen.oneOf(' ', '\t', '\n', '\u000B', '\f', '\r'),
      2 -> Gen.oneOf('\'', '.', '-', '\u00FC', '\u00E9', '\u00A0'))).map(_.mkString)
    Gen.listOfN(300, gen).sample.get ++ Seq(
      "", " ", "  a  B  ", "don't STOP", "a-b c", "123", "..", "𝄞x𝄞 y",
      "tab\tsep", "nl\nsep", "\u000B\f\r mixed\u00A0nbsp", "Ab" * 40)
  }

  test("NormalizedTokens == declarative split/normalize pipeline and the reference Scala port") {
    val spark0 = spark
    import spark0.implicits._
    val inputs = tokenizerInputs()
    val df = inputs.toDF("s")
    val got = df.select(
      graft.functions.text.normalizedTokens(col("s")).as("fast"),
      graft.functions.text.normalizedTokensDeclarative(col("s")).as("slow"),
    ).as[(Seq[String], Seq[String])].collect()
    got.zip(inputs).foreach { case ((fast, slow), in) =>
      assert(fast == slow, s"input ${in.map(_.toInt.toHexString)}") }
    // And against the reference port: tokens = whitespace-run split,
    // normalize_word each, drop empties.
    got.zip(inputs).foreach { case ((fast, _), in) =>
      val want = in.split("\\s+").toSeq
        .map(graft.functions.text.normalizeWordScala).filter(_.nonEmpty)
      assert(fast == want, s"vs Scala port, input ${in.map(_.toInt.toHexString)}")
    }
  }

  test("NormalizedTokens null propagates and token growth past the 32-byte buffer is exact") {
    val spark0 = spark
    import spark0.implicits._
    val long = "Ab" * 100 // 200 letters, forces repeated buffer growth
    val rows = Seq(Some(s"$long $long"), None).toDF("s")
    val got = rows.select(graft.functions.text.normalizedTokens(col("s")))
      .collect()
    assert(got(0).getSeq[String](0) == Seq("ab" * 100, "ab" * 100))
    assert(got(1).isNullAt(0))
  }

  test("NormalizedTokens.scan hands out the tokens of the normalized_tokens array") {
    val spark0 = spark
    import spark0.implicits._
    val inputs = tokenizerInputs()
    val arrays = inputs.toDF("s").select(graft.functions.text.normalizedTokens(col("s"))).as[Seq[String]].collect()
    inputs.zip(arrays).foreach { case (in, array) =>
      val scanned = Seq.newBuilder[String]
      graft.expressions.NormalizedTokens.scan(in.getBytes(java.nio.charset.StandardCharsets.UTF_8),
        (buf, len) => scanned += new String(buf, 0, len, java.nio.charset.StandardCharsets.US_ASCII))
      assert(scanned.result() == array, s"input ${in.map(_.toInt.toHexString)}")
    }
  }
}
