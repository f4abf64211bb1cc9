package perfbench

import org.scalatest.funsuite.AnyFunSuite

class GeneratorSpec extends AnyFunSuite {

  private val small = Corpus.Shape(files = 12, tokens = 6000, vocabulary = 800, zipfS = 1.05)

  test("the same seed gives a byte-identical corpus; another seed a different one") {
    val a = Corpus.generate(7L, small)
    val b = Corpus.generate(7L, small)
    val c = Corpus.generate(8L, small)
    assert(a.map(_.getBytes("UTF-8").toSeq) == b.map(_.getBytes("UTF-8").toSeq))
    assert(a != c)
  }

  test("the paper-shaped corpus has the paper's file and token counts") {
    val files = Corpus.generate(1L)
    assert(files.length == 355)
    assert(files.map(RefModel.tokens(_).size).sum == 1040000)
  }

  test("the op stream is a function of the seed") {
    val items = Seq("a", "b", "c", "d", "e", "f", "g")
    def take(seed: Long) = OpStream.passes(seed, items).take(5).toList
    assert(take(3L) == take(3L))
    assert(take(3L) != take(4L))
    assert(take(3L).forall(_.sorted == items))
  }
}
