package graft.expressions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Fused tokenize+normalize: value-identical to
  * `filter(transform(filter(split(text, "\\s+"), t -> length(t) > 0),
  * t -> lower(regexp_replace(t, "[^A-Za-z]", ""))), t -> length(t) > 0)`
  * — the [[graft.functions.text.normalizedTokens]] contract (C++
  * `operator>>` word splitting + reference normalize_word) — in ONE
  * byte scan with no regex engine and no intermediate arrays.
  *
  * Why (optimization guide §4, round 18): the declarative spelling runs
  * a regex split (one pattern walk + per-token String allocations) and
  * TWO higher-order functions whose lambda bodies evaluate INTERPRETED
  * per element (HigherOrderFunction is CodegenFallback), with
  * `regexp_replace` paying matcher setup per token. Tokenization feeds
  * every text query (inverted index, shingles, minhash, spans, TF-IDF,
  * language id, quality), so this was the single largest per-task cost
  * in the text family.
  *
  * Correctness by construction, byte-level: Java regex `\s` matches
  * exactly the six ASCII chars {space, \t, \n, \x0B, \f, \r}; the kept
  * alphabet A-Za-z is ASCII; and in UTF-8 every byte of a multi-byte
  * code point has the high bit set, so neither test can fire inside
  * one. A single byte walk therefore reproduces the regex pipeline for
  * ALL input: whitespace bytes close the current token (emitted iff any
  * letter survived normalization), letter bytes append lowercased,
  * every other byte — punctuation, digits, any non-ASCII code point —
  * is dropped WITHOUT closing the token (exactly what the normalize
  * step's character filter does). Property-tested against the
  * reference-port Scala oracle and the old expression in
  * ExpressionsSpec.
  */
case class NormalizedTokens(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a string argument, got ${child.dataType.catalogString}")

  // containsNull = false: every emitted element is a freshly built
  // non-null token (the old spelling's filter(length > 0) established
  // the same invariant, just without declaring it).
  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  override def nullSafeEval(input: Any): Any =
    NormalizedTokens.tokens(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, s =>
      s"${ev.value} = graft.expressions.NormalizedTokens.tokens($s);")

  override protected def withNewChildInternal(newChild: Expression): NormalizedTokens =
    copy(child = newChild)

  override def prettyName: String = "normalized_tokens"
}

object NormalizedTokens {
  /** Receives each token of a [[scan]]: its lowercased ASCII letters are
    * `buf(0 until len)`. The buffer belongs to the scan and the next token
    * overwrites it, so a receiver that keeps a token copies it.
    */
  trait Receiver { def token(buf: Array[Byte], len: Int): Unit }

  /** The byte kernel (see the class doc): one walk over `bytes`, each
    * token handed to `out` as it closes. The Catalyst expression and the
    * reference job's map-side combiner both tokenize through it.
    */
  def scan(bytes: Array[Byte], out: Receiver): Unit = {
    val n = bytes.length
    var buf = new Array[Byte](32)
    var len = 0
    var i = 0
    while (i < n) {
      val b = bytes(i)
      if (b == ' ' || (b >= '\t' && b <= '\r')) { // \t \n \x0B \f \r
        if (len > 0) {
          out.token(buf, len)
          len = 0
        }
      } else {
        val lower =
          if (b >= 'a' && b <= 'z') b
          else if (b >= 'A' && b <= 'Z') (b + 32).toByte
          else 0
        if (lower != 0) {
          if (len == buf.length) buf = java.util.Arrays.copyOf(buf, len * 2)
          buf(len) = lower.toByte
          len += 1
        }
      }
      i += 1
    }
    if (len > 0) out.token(buf, len)
  }

  /** Static entry point shared by eval and generated code. */
  def tokens(s: UTF8String): ArrayData = {
    val out = new java.util.ArrayList[UTF8String]()
    scan(s.getBytes, (buf, len) => out.add(UTF8String.fromBytes(java.util.Arrays.copyOf(buf, len))))
    new GenericArrayData(out.toArray(new Array[AnyRef](out.size())))
  }
}
