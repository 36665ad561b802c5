package perfbench

import scala.util.Random

/** Seeded synthetic text: a vocabulary of random lower-case words
  * drawn Zipf(0.7), documents of 40-79 tokens, and near copies that
  * replace two tokens. At these sizes two unrelated documents share
  * almost no word bigrams, while a near copy keeps a word-bigram
  * Jaccard of at least 0.87 to its source (0.76 to a sibling copy), so
  * the planted pairs sit far from a 0.5 threshold on both sides. */
final class Corpus(rnd: Random, vocabSize: Int) {
  val words: Array[String] = {
    val seen = scala.collection.mutable.LinkedHashSet.empty[String]
    while (seen.size < vocabSize)
      seen += Iterator.continually(('a' + rnd.nextInt(26)).toChar)
        .take(3 + rnd.nextInt(7)).mkString
    seen.toArray
  }

  private val cumulative: Array[Double] =
    words.indices.map(r => 1.0 / math.pow(r + 1, 0.7)).scanLeft(0.0)(_ + _)
      .tail.toArray

  def word(): String = {
    val x = rnd.nextDouble() * cumulative.last
    val i = java.util.Arrays.binarySearch(cumulative, x)
    words(if (i >= 0) i else -i - 1)
  }

  def fresh(): String = Seq.fill(40 + rnd.nextInt(40))(word()).mkString(" ")

  def nearCopy(text: String): String = {
    val toks = text.split(" ")
    (0 until 2).foreach(_ => toks(rnd.nextInt(toks.length)) = word())
    toks.mkString(" ")
  }
}

object Corpus {
  /** Distinct word bigrams, the engine's shingle unit at n = 2. */
  def shingles(text: String): Set[String] =
    text.split(" ").sliding(2).map(_.mkString(" ")).toSet

  def jaccard(a: Set[String], b: Set[String]): Double =
    (a & b).size.toDouble / (a | b).size
}
