package graft

import java.nio.charset.StandardCharsets

import scala.collection.mutable
import scala.util.Random

import org.scalatest.funsuite.AnyFunSuite

import graft.expressions.NormalizedTokens
import graft.operators.ReferenceJob.WordTable

/** The reference job's byte-keyed combiner table against a
  * `HashMap[String, ...]` model: each distinct word once, with the ids of
  * the files it occurs in, in file order.
  */
class WordTableSpec extends AnyFunSuite {

  /** Folds `files` (id, text), in order, through the tokenizer kernel into
    * a table and into the model, and checks the two agree.
    */
  private def check(files: Seq[(Int, String)], initialCapacity: Int = 1024): Map[String, Seq[Int]] = {
    val table = new WordTable(initialCapacity)
    val model = mutable.HashMap.empty[String, mutable.ArrayBuffer[Int]]
    files.foreach { case (id, text) =>
      NormalizedTokens.scan(text.getBytes(StandardCharsets.US_ASCII), (buf, len) => table.add(buf, len, id))
      text.split(" ").filter(_.nonEmpty).foreach { w =>
        val ids = model.getOrElseUpdate(w, mutable.ArrayBuffer.empty)
        if (!ids.contains(id)) ids += id
      }
    }
    val rows = table.rows.map { case (w, ids) => w -> ids.toSeq }.toSeq
    assert(rows.map(_._1).distinct.size == rows.size, "a word emitted twice")
    val got = rows.toMap
    assert(got == model.view.mapValues(_.toSeq).toMap)
    got
  }

  test("many distinct words force several grows") {
    val rnd = new Random(5L)
    val vocab = IndexedSeq.fill(6000)(Seq.fill(1 + rnd.nextInt(9))(('a' + rnd.nextInt(26)).toChar).mkString)
    val files = (1 to 8).map(id => id -> Seq.fill(3000)(vocab(rnd.nextInt(vocab.length))).mkString(" "))
    val got = check(files, initialCapacity = 4)
    assert(got.size > 4000)
    assert(check(files).size == got.size)
  }

  test("words sharing a prefix and differing only in length stay apart") {
    val words = (1 to 40).map("a" * _) ++ (1 to 40).map("ab" * _) ++ Seq("b", "ba", "bab", "babb")
    val odd = words.indices.filter(_ % 2 == 1).map(words)
    val got = check(Seq(1 -> words.mkString(" "), 2 -> odd.reverse.mkString(" ")), initialCapacity = 4)
    assert(got("a") == Seq(1) && got("aa") == Seq(1, 2) && got("a" * 40) == Seq(1, 2))
    assert(got("ab") == Seq(1) && got("abab") == Seq(1, 2))
  }

  test("words longer than the tokenizer's first 32-byte buffer") {
    val long = Seq(33, 64, 65, 300).map(n => Seq.tabulate(n)(i => ('a' + i % 26).toChar).mkString)
    val got = check(Seq(1 -> long.mkString(" "), 2 -> s"${long(3)} x ${long(0)}"))
    assert(got(long(3)) == Seq(1, 2) && got(long(1)) == Seq(1))
  }

  test("a path listed twice in one slice keeps both ids") {
    val x = "apple apple banana apple"
    val got = check(Seq(1 -> x, 2 -> "apple cherry apple", 3 -> x))
    assert(got("apple") == Seq(1, 2, 3) && got("banana") == Seq(1, 3) && got("cherry") == Seq(2))
  }
}
