package perfbench

import java.util.SplittableRandom

/** Seeded synthetic corpus: a Zipf(s = 1) vocabulary of [[VocabSize]]
  * made-up lowercase words, documents of 40-100 words. Everything the
  * engine sees is derived from the run seed, so one seed gives one input.
  */
final class Gen(seed: Long) {
  import Gen._

  /** A fresh random stream for one purpose; `salt` keeps the streams of
    * different purposes (corpus, op mix, queries) independent.
    */
  def rng(salt: Long): SplittableRandom = new SplittableRandom(seed * 1000003L + salt)

  val vocab: Array[String] = {
    val r = rng(1)
    val seen = scala.collection.mutable.HashSet.empty[String]
    val out = new Array[String](VocabSize)
    var i = 0
    while (i < VocabSize) {
      val len = 3 + r.nextInt(7)
      val w = new String(Array.fill(len)(('a' + r.nextInt(26)).toChar))
      if (seen.add(w)) { out(i) = w; i += 1 }
    }
    out
  }

  private val cdf: Array[Double] = {
    val w = Array.tabulate(VocabSize)(i => 1.0 / (i + 1))
    val total = w.sum
    var acc = 0.0
    w.map { x => acc += x / total; acc }
  }

  def word(r: SplittableRandom): String = {
    val u = r.nextDouble()
    val i = java.util.Arrays.binarySearch(cdf, u)
    vocab(math.min(VocabSize - 1, if (i >= 0) i else -i - 1))
  }

  def words(r: SplittableRandom, n: Int): Array[String] = Array.fill(n)(word(r))

  def doc(r: SplittableRandom): String =
    words(r, MinWords + r.nextInt(MaxWords - MinWords + 1)).mkString(" ")

  /** A 2-6 word query text. */
  def query(r: SplittableRandom): String = words(r, 2 + r.nextInt(5)).mkString(" ")

  /** `text` with one token replaced by a different vocabulary word. */
  def oneTokenEdit(r: SplittableRandom, text: String): String = {
    val toks = text.split(" ")
    val i = r.nextInt(toks.length)
    var w = word(r)
    while (w == toks(i)) w = word(r)
    toks(i) = w
    toks.mkString(" ")
  }
}

object Gen {
  val VocabSize = 20000
  val MinWords = 40
  val MaxWords = 100
}
