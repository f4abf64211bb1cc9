package perfbench

import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

class DigestSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = graft.GraftSession
    .builder("perfbench-test", Some("local[2]"), shufflePartitions = 2).getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private def rows = {
    val s = spark
    import s.implicits._
    (1 to 200).map(i => (i.toLong, s"w$i", i * 0.1, Seq(i, i + 1))).toDF("id", "word", "x", "ids")
  }

  test("the digest ignores row order and partitioning") {
    val d = Digest.of(rows)
    assert(Digest.of(rows.orderBy(org.apache.spark.sql.functions.col("id").desc)) == d)
    assert(Digest.of(rows.repartition(7)) == d)
  }

  test("a changed, missing or duplicated row changes the digest") {
    import org.apache.spark.sql.functions._
    val d = Digest.of(rows)
    assert(Digest.of(rows.withColumn("word", when(col("id") === 5, lit("v")).otherwise(col("word")))) != d)
    assert(Digest.of(rows.where(col("id") =!= 9)) != d)
    assert(Digest.of(rows.union(rows.where(col("id") === 9))) != d)
  }

  test("floating-point last-bit noise does not change the digest") {
    import org.apache.spark.sql.functions._
    val d = Digest.of(rows)
    assert(Digest.of(rows.withColumn("x", col("x") * (lit(1.0) + lit(1e-15)))) == d)
  }
}
