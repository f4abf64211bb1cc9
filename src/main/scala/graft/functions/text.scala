package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text scalar functions, all built on codegen'd Catalyst built-ins (no UDFs).
  *
  * Normalization semantics follow the reference engine's `normalize_word`
  * (reference: tema1a/src/main.cpp:31-39): keep ASCII letters only —
  * `isalpha` in the default C locale, so the class is `[A-Za-z]`, NOT the
  * Unicode `\p{L}` — and lowercase what is kept. `"Don't,"` -> `"dont"`,
  * `"x123y"` -> `"xy"`.
  */
object text {

  /** Keep ASCII letters only, lowercased. Empty string if nothing survives. */
  def normalizeWord(c: Column): Column =
    lower(regexp_replace(c, "[^A-Za-z]", ""))

  /** Whitespace tokenization with C++ `operator>>` semantics
    * (reference: tema1a/src/main.cpp:67-76): any run of whitespace
    * separates tokens; leading/trailing whitespace produces no token.
    */
  def whitespaceTokens(c: Column): Column =
    filter(split(c, "\\s+"), t => length(t) > lit(0))

  /** Tokenize then normalize, dropping tokens that normalize to "".
    *
    * Round 18 (optimization guide §4): one fused codegen expression —
    * see [[graft.expressions.NormalizedTokens]] for the equivalence
    * argument — instead of a regex split plus two interpreted
    * higher-order functions with a per-token `regexp_replace`. Same
    * values for all input; the declarative spelling below is kept (as
    * [[normalizedTokensDeclarative]]) as the property-test oracle.
    */
  def normalizedTokens(c: Column): Column = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    ColumnBridge.column(
      graft.expressions.NormalizedTokens(ColumnBridge.expression(c)))
  }

  /** Test oracle only: the declarative spelling of [[normalizedTokens]]
    * (regex split plus two higher-order functions), which ExpressionsSpec
    * checks the fused expression against. No query path calls it.
    */
  def normalizedTokensDeclarative(c: Column): Column =
    filter(transform(whitespaceTokens(c), t => normalizeWord(t)), t => length(t) > lit(0))

  /** First character of a (non-empty, normalized) word — the partition key
    * of the reference's per-letter sink (tema1a/src/main.cpp:41-46).
    */
  def firstLetter(c: Column): Column = substring(c, 1, 1)

  /** Direct Scala port of the reference normalize_word, used only as the
    * test oracle for ScalaCheck properties (never in the Spark plan).
    */
  def normalizeWordScala(s: String): String = {
    val sb = new StringBuilder
    var i = 0
    while (i < s.length) {
      val ch = s.charAt(i)
      if ((ch >= 'a' && ch <= 'z') || (ch >= 'A' && ch <= 'Z'))
        sb.append(Character.toLowerCase(ch))
      i += 1
    }
    sb.toString
  }
}
