package graft.attack

import graft.functions.{Embedder, HashEmbedder}
import org.apache.spark.sql.{DataFrame, SparkSession}

/**
 * Embedding-inversion attack as a dataflow — Spark-native rebuild of the
 * reference's search-based inversion (/root/reference/src/app.py):
 * evolutionary search (app.py:100-171) and greedy hill-climb
 * (app.py:174-202), merged + dedup-keep-max + global top-k (app.py:234-255).
 *
 * Determinism contract: ALL randomness is a pure function of
 * (seed, generation/iteration, candidate index) via SplitMix64 — task
 * retries and re-execution cannot change results (the reference's
 * `random.random()` calls, app.py:62-97, are deliberately NOT reproduced:
 * nondeterministic UDFs are a correctness bug under Spark's execution
 * model, SURVEY.md §4.3.2).
 *
 * Scale shape: one Spark job per [[invert]]. A generation is O(pop_size)
 * small work (the reference's pop=60 operating point), so the evolutionary
 * loop runs in the driver JVM and launches no job: each candidate is
 * embedded with [[graft.functions.Embedder.embedOne]] and scored with
 * [[cosine]] (for the hash embedder, the kernels the codegen `HashEmbed`
 * and `cosine_sim` expressions run), the elites are cut by [[dedupMax]]'s
 * key, and each offspring is bred from a keyed plan ([[breedPlan]]).
 * Greedy restarts are embarrassingly parallel: one executor-local
 * hill-climb per restart in a single shuffle-free job.
 */
object Inversion {

  /** Attack hyperparameters — defaults mirror the reference's operating
    * point (app.py:102-104, 175-176, 163, 145-147, 254). */
  case class Params(
      popSize: Int = 60,
      generations: Int = 120,
      eliteFrac: Double = 0.2,
      crossoverP: Double = 0.12,
      earlyStop: Double = 0.995,
      restarts: Int = 12,
      iters: Int = 200,
      jumpP: Double = 0.01,
      topK: Int = 30,
      dim: Int = 64,
      seed: Long = 42L)

  /** Result row: candidate text and its cosine similarity to the target. */
  case class Candidate(text: String, score: Double)

  // ---- deterministic RNG ----------------------------------------------

  /** SplitMix64 — stateless, splittable: one draw per (key) mix. */
  private[attack] def mix(z0: Long): Long = {
    var z = z0 + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d4ecb9aef74ed5L
    z ^ (z >>> 31)
  }

  private[attack] final class Rng(seed: Long) {
    private var state = mix(seed)
    def nextLong(): Long = { state = mix(state); state }
    def nextDouble(): Double = (nextLong() >>> 11).toDouble / (1L << 53).toDouble
    def nextInt(n: Int): Int = (nextDouble() * n).toInt min (n - 1)
  }

  // ---- pure text ops (reference app.py:62-97, seeded) ------------------

  /** 67-char alphabet: lowercase + digits + space (app.py:62). */
  private val Alphabet = "abcdefghijklmnopqrstuvwxyz0123456789 "

  /** Seed lexicon for word mutations — the engine vocabulary of the test
    * corpus (reference uses a 14-word lexicon, app.py:63). */
  val Lexicon: IndexedSeq[String] = IndexedSeq(
    "spark", "query", "vector", "table", "join", "filter", "scan", "agg",
    "window", "stream", "batch", "hash", "sort", "merge")

  /** Character-level mutation: insert p=.12 / delete p=.08 / substitute
    * p=.18 per position (app.py:65-79). */
  def mutateChar(text: String, seed: Long): String = {
    val rng = new Rng(seed)
    val sb = new StringBuilder
    var i = 0
    while (i < text.length) {
      val r = rng.nextDouble()
      if (r < 0.12) { // insert before
        sb.append(Alphabet(rng.nextInt(Alphabet.length)))
        sb.append(text(i))
      } else if (r < 0.20) {
        // delete
      } else if (r < 0.38) { // substitute
        sb.append(Alphabet(rng.nextInt(Alphabet.length)))
      } else sb.append(text(i))
      i += 1
    }
    if (sb.isEmpty) text else sb.toString
  }

  /** Word-level mutation: replace / insert / delete one word with equal
    * probability; capped at 40 words (app.py:81-97). */
  def mutateWord(text: String, seed: Long): String = {
    val rng = new Rng(seed)
    val words = text.split("\\s+").filter(_.nonEmpty).toBuffer
    if (words.isEmpty) return Lexicon(rng.nextInt(Lexicon.length))
    rng.nextInt(3) match {
      case 0 => words(rng.nextInt(words.length)) = Lexicon(rng.nextInt(Lexicon.length))
      case 1 => if (words.length < 40)
        words.insert(rng.nextInt(words.length + 1), Lexicon(rng.nextInt(Lexicon.length)))
      case _ => if (words.length > 1) words.remove(rng.nextInt(words.length)): Unit
    }
    words.mkString(" ")
  }

  /** One-point string crossover (app.py:163-166). */
  def crossover(a: String, b: String, seed: Long): String = {
    val rng = new Rng(seed)
    if (a.isEmpty || b.isEmpty) a
    else a.substring(0, rng.nextInt(a.length) + 1) +
      b.substring((rng.nextInt(b.length) + 1) min b.length)
  }

  /** Mutation pipeline for one offspring: word-level then char-level with
    * independent sub-seeds (app.py:150-168 applies both families). */
  def mutate(text: String, seed: Long): String =
    mutateChar(mutateWord(text, mix(seed)), mix(seed + 1))

  // ---- plain-Scala embed/score (identical math to the Spark columns) ---

  /** The hash embedding of one text: [[HashEmbedder.embedOne]], which runs
    * the same tokenize/hash kernels as the codegen `Tokenize`/`HashEmbed`. */
  def embedText(s: String, dim: Int): Array[Float] = HashEmbedder(dim).embedOne(s)

  /** `cosine_sim`'s width refusal and loop, in the same order, so a JVM
    * score equals the codegen kernel's bit for bit. */
  def cosine(a: Array[Float], b: Array[Float]): Double = {
    if (a.length != b.length)
      throw new IllegalArgumentException(
        s"cosine_sim: vector dims differ (${a.length} vs ${b.length})")
    var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    while (i < a.length) {
      val x = a(i).toDouble; val y = b(i).toDouble
      dot += x * y; na += x * x; nb += y * y; i += 1
    }
    if (na == 0.0 || nb == 0.0) -1.0 else dot / (math.sqrt(na) * math.sqrt(nb))
  }

  // ---- evolutionary search (app.py:100-171) ----------------------------

  /** Member `i` of the seed population — a PURE function of (params, i)
    * (app.py:106-128's lexicon phrases with 1-4 mutations each). */
  private[attack] def seedOne(p: Params, i: Int): String = {
    val seeds = (0 until 8).map { s =>
      (0 until 4).map(j => Lexicon((s * 3 + j * 5) % Lexicon.length)).mkString(" ")
    }
    var t = seeds(i % seeds.length)
    val nMut = 1 + (i % 4)
    (0 until nMut).foreach(m => t = mutate(t, mix(p.seed * 7919 + i * 31 + m)))
    t
  }

  /** Offspring `i`'s breeding plan in generation `gen` — parent elite
    * index, crossover partner index (−1 for none), and the crossover /
    * mutation sub-seeds — as a PURE function of (seed, gen, i) on
    * independent SplitMix64 streams. The pre-r14 driver loop drew these
    * from ONE sequential per-generation RNG whose consumed-draw count
    * depended on each crossover branch, so offspring `i`'s draws depended
    * on every earlier offspring's branch; keyed streams make each
    * offspring's plan independent of the others while keeping the
    * determinism pin (same seeds → same attack, bit for bit). */
  private[attack] def breedPlan(seed: Long, gen: Int, i: Int, nElite: Int,
                                crossoverP: Double): (Int, Int, Long, Long) = {
    def draw(stream: Long): Double =
      (mix(mix(seed + stream) + gen.toLong * 1000003L + i.toLong) >>> 11).toDouble /
        (1L << 53).toDouble
    val aIdx = math.min((draw(101L) * nElite).toInt, nElite - 1)
    val bIdx =
      if (draw(102L) < crossoverP) math.min((draw(103L) * nElite).toInt, nElite - 1)
      else -1
    (aIdx, bIdx, mix(seed + gen * 131L + i), mix(seed * 13L + gen * 1031L + i))
  }

  /** Breed one offspring from its plan (crossover when a partner was
    * drawn, then the mutation pipeline). */
  private[attack] def breedOne(a: String, b: Option[String],
                               crossSeed: Long, mutSeed: Long): String =
    mutate(b.fold(a)(bb => crossover(a, bb, crossSeed)), mutSeed)

  /** One generation's elites: each candidate embedded through the
    * [[graft.functions.Embedder]] seam and scored against the target, then
    * ranked by [[dedupMax]]'s key (score descending, text ascending) and
    * cut to `nElite`. Duplicate texts stay, as in the population. */
  private[graft] def elitesOf(population: Seq[String], target: Array[Float],
                              emb: Embedder, nElite: Int): Seq[Candidate] =
    population.map(t => Candidate(t, cosine(emb.embedOne(t), target)))
      .sortBy(c => (-c.score, c.text))
      .take(nElite)

  /** Refuses Params no loop can run, naming the parameter and its value. */
  private def checkParams(p: Params): Unit = {
    require(p.popSize >= 1, s"popSize must be >= 1, got ${p.popSize}")
    require(p.eliteFrac > 0 && p.eliteFrac <= 1, s"eliteFrac must be in (0, 1], got ${p.eliteFrac}")
    require(p.generations >= 0, s"generations must be >= 0, got ${p.generations}")
    require(p.restarts >= 1, s"restarts must be >= 1, got ${p.restarts}")
    require(p.iters >= 0, s"iters must be >= 0, got ${p.iters}")
    require(p.topK >= 1, s"topK must be >= 1, got ${p.topK}")
  }

  /** Evolutionary attack loop. Returns (deduped per-generation bests,
    * best-score trajectory). Elitism makes the trajectory monotone
    * non-decreasing — the property the reference only eyeballs in its
    * progress prints (app.py:140-141). */
  def evolutionarySearch(target: Array[Float], p: Params,
                         embedder: Option[Embedder] = None): (Seq[Candidate], Seq[Double]) = {
    checkParams(p)
    val emb = embedder.getOrElse(HashEmbedder(p.dim))
    val nElite = math.ceil(p.popSize * p.eliteFrac).toInt
    var population: Seq[String] = (0 until p.popSize).map(seedOne(p, _))
    val bests = scala.collection.mutable.ArrayBuffer.empty[Candidate]
    var gen = 0
    var stop = false
    while (gen < p.generations && !stop) {
      val elites = elitesOf(population, target, emb, nElite)
      bests += elites.head
      if (elites.head.score > p.earlyStop) stop = true
      else {
        // offspring: crossover pairs of elites (p=.12) then mutate, until
        // pop is refilled (app.py:150-168), each offspring from its KEYED
        // [[breedPlan]].
        population = elites.map(_.text) ++ (nElite until p.popSize).map { i =>
          val (ai, bi, cs, ms) = breedPlan(p.seed, gen, i, nElite, p.crossoverP)
          breedOne(elites(ai).text,
            if (bi >= 0) Some(elites(bi).text) else None, cs, ms)
        }
      }
      gen += 1
    }
    (dedupMax(bests.toSeq), bests.map(_.score).toSeq)
  }

  // ---- greedy hill-climb (app.py:174-202) ------------------------------

  /** Greedy restarts in ONE shuffle-free Spark job: the restarts are
    * sliced over min(restarts, defaultParallelism) partitions and each runs
    * its hill-climb executor-locally (no job per step — the reference's
    * one-embed-per-iteration shape, app.py:192, is pure compute). The
    * answer does not depend on the slicing: [[dedupMax]] sorts. */
  def greedySearch(spark: SparkSession, target: Array[Float], p: Params,
                   embedder: Option[Embedder] = None): Seq[Candidate] = {
    checkParams(p)
    val emb = embedder.getOrElse(HashEmbedder(p.dim))
    val bcTarget = spark.sparkContext.broadcast(target)
    val iters = p.iters; val jumpP = p.jumpP; val seed = p.seed
    val lex = Lexicon
    val out = spark.sparkContext
      .parallelize(0 until p.restarts, math.min(p.restarts, spark.sparkContext.defaultParallelism))
      .mapPartitions { it =>
        val tgt = bcTarget.value
        it.map { restart =>
          val rng = new Rng(mix(seed + 5000 + restart))
          var cur = (0 until 4).map(_ => lex(rng.nextInt(lex.length))).mkString(" ")
          var curScore = cosine(emb.embedOne(cur), tgt)
          var iter = 0
          while (iter < iters) {
            val cand =
              if (rng.nextDouble() < jumpP)
                (0 until 4).map(_ => lex(rng.nextInt(lex.length))).mkString(" ")
              else mutate(cur, mix(seed + restart * 100003 + iter))
            val s = cosine(emb.embedOne(cand), tgt)
            if (s > curScore) { cur = cand; curScore = s }
            iter += 1
          }
          (cur, curScore)
        }
      }.collect().map { case (t, s) => Candidate(t, s) }.toSeq
    dedupMax(out)
  }

  // ---- merge + dedup (app.py:234-255) ----------------------------------

  def dedupMax(cs: Seq[Candidate]): Seq[Candidate] =
    cs.groupBy(_.text).map { case (_, g) => g.maxBy(_.score) }.toSeq
      .sortBy(c => (-c.score, c.text))

  /** Full attack: evolutionary + greedy, union, dedup-keep-max, top-k.
    * Returns a DataFrame (rank, score, text) for the driver contract.
    * `embedder` defaults to the hermetic hash kernel; a model-backed
    * [[graft.functions.BatchedModelEmbedder]] drops in unchanged. */
  def invert(spark: SparkSession, target: Array[Float], p: Params = Params(),
             embedder: Option[Embedder] = None): DataFrame = {
    import spark.implicits._
    checkParams(p)
    val merged = dedupMax(
      evolutionarySearch(target, p, embedder)._1 ++
        greedySearch(spark, target, p, embedder))
      .take(p.topK)
    merged.zipWithIndex
      .map { case (c, i) => (i + 1, BigDecimal(c.score).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble, c.text) }
      .toDF("rank", "score", "text")
  }
}
