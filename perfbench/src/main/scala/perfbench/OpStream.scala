package perfbench

import java.util.SplittableRandom

import scala.collection.mutable.ArrayBuffer

/** The seed-driven op order: an endless sequence of passes, each a
  * Fisher-Yates shuffle of the same items. The same seed gives the same
  * passes.
  */
object OpStream {
  def passes[T](seed: Long, items: Seq[T]): Iterator[Seq[T]] = {
    val rng = new SplittableRandom(seed ^ 0x5DEECE66DL)
    Iterator.continually {
      val a = ArrayBuffer.from(items)
      (a.length - 1 to 1 by -1).foreach { i =>
        val j = rng.nextInt(i + 1)
        val t = a(i); a(i) = a(j); a(j) = t
      }
      a.toSeq
    }
  }
}
