package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.util.SplittableRandom

/** Seeded generator of a corpus shaped like the paper's input: 355 text
  * files with log-normal sizes, ~1.04 M whitespace tokens, word
  * frequencies Zipf(s = 1.05) over a vocabulary whose first letters follow
  * English first-letter frequencies. Token surface forms carry the noise
  * the reference normalizer has to strip: capitals, punctuation, `'s`,
  * and non-ASCII characters. The same seed gives byte-identical files.
  */
object Corpus {

  final case class Shape(files: Int, tokens: Int, vocabulary: Int, zipfS: Double)

  /** The paper's corpus size (BASELINE.md: 355 files, ~1.04 M tokens). */
  val Paper = Shape(files = 355, tokens = 1040000, vocabulary = 33000, zipfS = 1.05)

  /** The lexicon and the file-size distribution are fixed, like a
    * language's: the seed draws the text and the file order, so corpora of
    * different seeds have the same size statistics and differ only in which
    * words land where.
    */
  val LexiconSeed = 1843L

  private val letters = ('a' to 'z').toArray
  // Share of English words starting with each letter a..z.
  private val firstLetterWeights = Array(11.7, 4.4, 5.2, 3.2, 2.8, 4.0, 1.6, 4.2, 7.3, 0.51,
    0.86, 2.4, 3.8, 2.3, 7.6, 4.3, 0.22, 2.8, 6.7, 16.0, 1.2, 0.82, 5.5, 0.045, 0.76, 0.045)
  // Share of each letter a..z in English text.
  private val letterWeights = Array(8.2, 1.5, 2.8, 4.3, 12.7, 2.2, 2.0, 6.1, 7.0, 0.15,
    0.77, 4.0, 2.4, 6.7, 7.5, 1.9, 0.095, 6.0, 6.3, 9.1, 2.8, 0.98, 2.4, 0.15, 2.0, 0.074)
  private val punctuation = Array(",", ".", ";", ":", "!", "?")
  private val nonAscii = Array("é", "ü", "ñ", "ç", "’", "—")

  private def cdf(weights: Array[Double]): Array[Double] = {
    val c = weights.scanLeft(0.0)(_ + _).tail
    c.map(_ / c.last)
  }

  private def pick(cdf: Array[Double], u: Double): Int = {
    val i = java.util.Arrays.binarySearch(cdf, u)
    math.min(if (i >= 0) i else -i - 1, cdf.length - 1)
  }

  /** Distinct lowercase words, rank 0 first. */
  def vocabulary(rng: SplittableRandom, n: Int): Array[String] = {
    val first = cdf(firstLetterWeights)
    val rest = cdf(letterWeights)
    val seen = new java.util.HashSet[String](n * 2)
    val out = new Array[String](n)
    var i = 0
    while (i < n) {
      // Lengths 1..14, mode around 5, longer words at the rare end.
      val len = 1 + math.min(13, (rng.nextDouble() * 4).toInt + (rng.nextDouble() * 4).toInt +
        (if (i > 0.3 * n) (rng.nextDouble() * 5).toInt else 0))
      val sb = new StringBuilder
      sb.append(letters(pick(first, rng.nextDouble())))
      while (sb.length < len) sb.append(letters(pick(rest, rng.nextDouble())))
      val w = sb.toString
      if (seen.add(w)) { out(i) = w; i += 1 }
    }
    out
  }

  def zipfCdf(n: Int, s: Double): Array[Double] =
    cdf(Array.tabulate(n)(r => math.pow(r + 1, -s)))

  /** One token's surface form: the vocabulary word with the noise a real
    * text carries, all of which the reference normalizer removes or keeps
    * in well-defined ways.
    */
  def decorate(rng: SplittableRandom, word: String): String = {
    var t = word
    val u = rng.nextDouble()
    if (u < 0.08) t = t.capitalize
    else if (u < 0.10) t = t.toUpperCase
    if (rng.nextDouble() < 0.006) t = t + "'s"
    if (rng.nextDouble() < 0.01) {
      val at = rng.nextInt(t.length + 1)
      t = t.substring(0, at) + nonAscii(rng.nextInt(nonAscii.length)) + t.substring(at)
    }
    val p = rng.nextDouble()
    if (p < 0.07) t = t + punctuation(rng.nextInt(punctuation.length))
    else if (p < 0.08) t = "\"" + t + "\""
    t
  }

  /** Token counts per file: log-normal weights scaled to `total`, drawn
    * from the fixed lexicon seed; `rng` only decides which file gets which
    * size, so every seed has the same size skew.
    */
  def fileSizes(rng: SplittableRandom, files: Int, total: Int): Array[Int] = {
    val shape = new SplittableRandom(LexiconSeed)
    val w = Array.fill(files)(math.exp(0.9 * gaussian(shape)))
    (files - 1 to 1 by -1).foreach { i =>
      val j = rng.nextInt(i + 1)
      val t = w(i); w(i) = w(j); w(j) = t
    }
    val sum = w.sum
    val sizes = w.map(x => math.max(1, (total * x / sum).toInt))
    var rest = total - sizes.sum
    var i = 0
    while (rest != 0) {
      val step = if (rest > 0) 1 else -1
      if (sizes(i) + step >= 1) { sizes(i) += step; rest -= step }
      i = (i + 1) % files
    }
    sizes
  }

  private def gaussian(rng: SplittableRandom): Double = {
    // Box-Muller; SplittableRandom has no nextGaussian.
    val u1 = math.max(rng.nextDouble(), 1e-300)
    val u2 = rng.nextDouble()
    math.sqrt(-2 * math.log(u1)) * math.cos(2 * math.Pi * u2)
  }

  /** Renders `n` tokens drawn from `vocab` as lines of 6..18 tokens with
    * mostly single-space separators, some doubled spaces and tabs, and the
    * occasional blank line.
    */
  def text(rng: SplittableRandom, vocab: Array[String], zipf: Array[Double], n: Int): String = {
    val sb = new StringBuilder(n * 8)
    var left = n
    while (left > 0) {
      if (rng.nextDouble() < 0.02) sb.append('\n')
      val k = math.min(left, 6 + rng.nextInt(13))
      var j = 0
      while (j < k) {
        if (j > 0) {
          val sep = rng.nextDouble()
          sb.append(if (sep < 0.03) "  " else if (sep < 0.05) "\t" else " ")
        }
        sb.append(decorate(rng, vocab(pick(zipf, rng.nextDouble()))))
        j += 1
      }
      sb.append('\n')
      left -= k
    }
    sb.toString
  }


  /** The corpus for `seed`: one string per file, in manifest order. */
  def generate(seed: Long, shape: Shape = Paper): IndexedSeq[String] = {
    val rng = new SplittableRandom(seed)
    val vocab = vocabulary(new SplittableRandom(LexiconSeed), shape.vocabulary)
    val zipf = zipfCdf(shape.vocabulary, shape.zipfS)
    val sizes = fileSizes(rng.split(), shape.files, shape.tokens)
    val textRng = rng.split()
    sizes.toIndexedSeq.map(n => text(textRng, vocab, zipf, n))
  }

  /** Writes the files under `dir/docs/` and a reference-format manifest
    * (count line, then one relative path per line); returns the manifest.
    */
  def write(dir: Path, files: IndexedSeq[String]): Path = {
    Files.createDirectories(dir.resolve("docs"))
    val names = files.indices.map(i => f"docs/f$i%03d.txt")
    files.zip(names).foreach { case (body, name) =>
      Files.write(dir.resolve(name), body.getBytes(StandardCharsets.UTF_8))
    }
    val manifest = dir.resolve("manifest.txt")
    Files.write(manifest, (files.length.toString +: names).mkString("", "\n", "\n")
      .getBytes(StandardCharsets.UTF_8))
    manifest
  }
}
