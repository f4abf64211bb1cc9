package perfbench

import java.util.SplittableRandom

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded generators for the parquet tables the registry queries read
  * (`documents`, `lineitem`), in the column layout of the repository's
  * parquet testdata (TESTDATA.md). Every value is a pure function of
  * (seed, row id), so the same seed writes identical tables in any session.
  */
object DataGen {

  private def u(seed: Long, k: Int): Column =
    xxhash64(col("id"), lit(seed), lit(k))

  /** `n` lineitem rows; `(l_orderkey, l_linenumber)` is unique, with up to
    * four lines per order.
    */
  def lineitem(spark: SparkSession, n: Long, seed: Long): DataFrame =
    spark.range(n).select(
      (col("id").divide(4).cast("long") + 1).as("l_orderkey"),
      (pmod(u(seed, 1), lit(2000L)) + 1).as("l_partkey"),
      (pmod(u(seed, 2), lit(100L)) + 1).as("l_suppkey"),
      (pmod(col("id"), lit(4L)) + 1).cast("int").as("l_linenumber"),
      (pmod(u(seed, 3), lit(50L)) + 1).cast("double").as("l_quantity"),
      round((pmod(u(seed, 3), lit(50L)) + 1) * (lit(900.0) + pmod(u(seed, 4), lit(100000L)) / 100.0), 2)
        .as("l_extendedprice"),
      (pmod(u(seed, 5), lit(11L)) / 100.0).as("l_discount"),
      (pmod(u(seed, 6), lit(9L)) / 100.0).as("l_tax"),
      element_at(array(lit("A"), lit("N"), lit("R")), (pmod(u(seed, 7), lit(3L)) + 1).cast("int"))
        .as("l_returnflag"),
      element_at(array(lit("F"), lit("O")), (pmod(u(seed, 8), lit(2L)) + 1).cast("int"))
        .as("l_linestatus"),
      date_add(lit("1992-01-02").cast("date"), pmod(u(seed, 9), lit(2526L)).cast("int"))
        .cast("timestamp_ntz").as("l_shipdate"))

  private val langs = Array("en", "en", "en", "de", "fr", "es", "it")

  /** `n` documents of 20..120 tokens from a Zipf vocabulary; about one in
    * seven is a near-duplicate of an earlier document (a few tokens
    * replaced), so the dedup and similarity queries find real pairs.
    */
  def documents(spark: SparkSession, n: Int, seed: Long): DataFrame = {
    val rng = new SplittableRandom(seed)
    val vocab = Corpus.vocabulary(rng.split(), 6000)
    val zipf = Corpus.zipfCdf(vocab.length, 1.05)
    val texts = new Array[String](n)
    (0 until n).foreach { i =>
      texts(i) =
        if (i > 10 && rng.nextDouble() < 0.15) {
          val toks = RefModel.tokens(texts(rng.nextInt(i))).toArray
          (1 to 1 + rng.nextInt(3)).foreach { _ =>
            toks(rng.nextInt(toks.length)) = vocab(rng.nextInt(vocab.length))
          }
          toks.mkString(" ")
        } else Corpus.text(rng, vocab, zipf, 20 + rng.nextInt(101)).replace('\n', ' ').trim
    }
    import spark.implicits._
    texts.toSeq.zipWithIndex.map { case (t, i) =>
      (i.toLong, t, langs(i % langs.length), s"src${i % 20}", t.length.toLong)
    }.toDF("doc_id", "text", "lang", "source", "n_chars")
  }

  /** Writes `<dir>/documents.parquet` and `<dir>/lineitem.parquet`. */
  def writeTables(spark: SparkSession, dir: String, docs: Int, lineitems: Long, seed: Long): Unit = {
    documents(spark, docs, seed).coalesce(1).write.parquet(s"$dir/documents.parquet")
    lineitem(spark, lineitems, seed).coalesce(2).write.parquet(s"$dir/lineitem.parquet")
  }
}
