package graft.bench

import java.util.SplittableRandom

/** A corpus document, in the shape of the sf0.1 `documents` table. */
final case class Doc(id: Long, text: String, lang: String, source: String) {
  lazy val tokens: IndexedSeq[String] = text.split(" ").toIndexedSeq
}

/** The benchmark's inputs. The base corpus is fixed (its own seed, like the
  * sf0.1 tables); everything a run sends to the program — request
  * streams, query texts, phrases, attack targets — comes from `seed`, so the
  * same seed gives the same inputs and another seed gives other ones. */
object Inputs {
  /** The sf0.1 documents vocabulary: 30 engine words, drawn uniformly. */
  val Vocab: IndexedSeq[String] = IndexedSeq(
    "spark", "window", "merge", "table", "column", "vector", "stream", "value",
    "data", "small", "join", "filter", "big", "group", "hash", "customer",
    "sort", "order", "slow", "line", "part", "fast", "row", "the", "agg",
    "key", "query", "a", "scan", "batch")
  private val Langs = IndexedSeq("en" -> 41, "zh" -> 15, "es" -> 15, "fr" -> 15, "de" -> 14)
  val LangNames: IndexedSeq[String] = Langs.map(_._1)
  val QueryWords = 5

  /** 5000 documents of 10 to 100 words (mean 55), 5 languages, 20 sources —
    * the row count, length spread, vocabulary and language mix of sf0.1. */
  val CorpusSize = 5000
  lazy val corpus: IndexedSeq[Doc] = {
    val r = new SplittableRandom(42L)
    (0 until CorpusSize).map { i =>
      val n = 10 + r.nextInt(91)
      val text = Iterator.fill(n)(Vocab(r.nextInt(Vocab.length))).mkString(" ")
      Doc(i.toLong, text, pick(r, Langs), s"src${i % 20}")
    }
  }

  private def pick(r: SplittableRandom, weighted: IndexedSeq[(String, Int)]): String = {
    var x = r.nextInt(weighted.map(_._2).sum)
    weighted.find { case (_, w) => x -= w; x < 0 }.get._1
  }
}

/** The seeded generator of one run. Each consumer takes its own stream, so
  * adding draws to one stream never shifts another. */
final class Inputs(val seed: Long) {
  import Inputs._

  def stream(id: Long): SplittableRandom =
    new SplittableRandom(seed * 0x9E3779B97F4A7C15L + id * 0xBF58476D1CE4E5B9L)

  /** Query text: a seeded window of QueryWords consecutive words of a
    * seeded corpus document, so every query resembles real content and
    * every run asks queries of one shape. */
  def queryText(r: SplittableRandom): String = {
    val d = corpus(r.nextInt(corpus.length))
    val n = QueryWords
    val at = r.nextInt(d.tokens.length - n + 1)
    d.tokens.slice(at, at + n).mkString(" ")
  }

  /** A boolean query string with one MUST term and one quoted two-word
    * phrase, both taken from one seeded document, so it always matches. */
  def booleanQuery(r: SplittableRandom): String = {
    val d = corpus(r.nextInt(corpus.length))
    val at = r.nextInt(d.tokens.length - 1)
    val must = d.tokens(r.nextInt(d.tokens.length))
    s"""+$must "${d.tokens(at)} ${d.tokens(at + 1)}""""
  }


  /** Attack targets: distinct seeded ids of mid-length documents (50 to 60
    * words, around the corpus median), in visiting order. How well a text
    * inverts depends on its length, so one length band keeps the mean
    * inversion score a property of the attack, not of the draw. */
  def attackTargets(n: Int): IndexedSeq[Long] = {
    val band = corpus.filter(d => d.tokens.length >= 50 && d.tokens.length <= 60).map(_.id)
    val r = stream(900L)
    val seen = scala.collection.mutable.LinkedHashSet.empty[Long]
    while (seen.size < math.min(n, band.length)) seen += band(r.nextInt(band.length))
    seen.toIndexedSeq
  }
}
