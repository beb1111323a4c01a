package graft.bench

import java.util.SplittableRandom
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import graft.functions.{VectorFunctions => VF}
import graft.store.{EncryptedStore, IvfIndex, TextIndex, VectorStore}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, Row}

import scala.jdk.CollectionConverters._

/** `serve`: read-only closed loop, 2 clients, over an IVF-attached
  * collection, a graph-attached collection, a text index and an indexed
  * encrypted store built in set-up from the embedded corpus. Every request
  * embeds its query text (`functions.embedder.embed_one`) and makes one
  * serving call. */
object Serve {
  val Clients = 2
  val SetupReps = 2
  val K = 10
  val NProbe = 4
  val Key = "0123456789abcdef"
  val TwinSample = 1
  /** answer_quality covers the vector answers of each client's first
    * QualitySlots requests, which every run completes, so it is fixed for
    * a seed however many requests a run reaches. */
  val QualitySlots = 60
  /** The graph-attached collection holds the first GraphDocs documents:
    * its build joins LSH buckets pairwise, and over the whole corpus it
    * alone would take longer than every other index together. */
  val GraphDocs = 1000

  /** Serving call -> span name (layer.op). */
  val Span: Map[String, String] = Map(
    "query_ivf" -> "store.collection.query_ivf",
    "query_where" -> "store.collection.query_where",
    "query_graph" -> "store.collection.query_graph",
    "query_ranked" -> "store.text.query_ranked",
    "boolean_query" -> "store.text.boolean_query",
    "hybrid_serve" -> "queries.hybrid_serve",
    "query_indexed" -> "store.encrypted.query_indexed")

  /** Wall time per call of each family, ms: medians of a traced run on a
    * 4-core box (2 clients). No traffic trace of this engine exists to
    * take a mix from, so the mix follows from these costs (see Weights). */
  val CallMs: Seq[(String, Double)] = Seq(
    "query_ivf" -> 30, "query_graph" -> 27, "query_where" -> 247,
    "query_indexed" -> 503, "query_ranked" -> 1157, "hybrid_serve" -> 1945,
    "boolean_query" -> 2112)

  /** Slots per schedule cycle: each family's weight is inverse to its cost,
    * the costliest at 1, so every family takes about the same share of the
    * loop's time (1/7). A 2x slowdown of any one family then moves the CPU
    * spent per request at this mix by about the same amount, 1/7. */
  val Weights: Seq[(String, Int)] = {
    val top = CallMs.map(_._2).max
    CallMs.map { case (op, ms) => op -> math.max(1, math.round(top / ms).toInt) }
  }

  /** A fixed interleaved order of the mix (smooth weighted round robin):
    * any stretch of requests holds the ops close to their weights, so the
    * run's figures do not depend on where it happens to stop. The seed
    * varies what each request asks, not which call it makes. */
  val Schedule: IndexedSeq[String] = {
    val total = Weights.map(_._2).sum
    val credit = Array.fill(Weights.length)(0)
    (0 until total).map { _ =>
      Weights.indices.foreach(i => credit(i) += Weights(i)._2)
      val best = Weights.indices.maxBy(i => (credit(i), -i))
      credit(best) -= total
      Weights(best)._1
    }
  }

  /** Requests completed, counted at the schedule's mix: a call of a family
    * with weight w counts as (cycle length / families) / w requests, so a
    * run that stops part-way through a cycle (one costly call more or
    * less) still divides its CPU time by the work it did. */
  def mixCalls(ops: Seq[String]): Double = {
    val w = Weights.toMap
    val perFamily = Schedule.length.toDouble / Weights.length
    ops.map(op => perFamily / w(op)).sum
  }

  final class Stores(val dir: String, val ivf: VectorStore#Collection,
                     val ivfIndex: IvfIndex, val graph: VectorStore#Collection,
                     val text: TextIndex, val enc: EncryptedStore)

  private def lsh(off: Int)(e: Column): Column =
    VF.lshBucket(e, Array.tabulate(12)(p => graft.queries.AnnQueries.plane(off + p)))

  /** Embed the corpus, then build the indexes on three threads, the
    * way a user builds independent indexes (and the way the library's own
    * hybrid build overlaps its two arms): one lane's planning and commit
    * gaps backfill with the other lanes' tasks. The text index is keyed by
    * the collection index's ids (xxhash64 of the collection id), so the
    * hybrid pipeline fuses it with the IVF-attached collection's index
    * instead of a third copy of the vectors. */
  def setup(run: Run, dir: String): Stores = {
    val t = run.tracer
    val spark = run.spark
    val rows = run.embeddedCorpus()
    val store = new VectorStore(spark, s"$dir/collections")
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    def lane[A](body: => A): java.util.concurrent.Future[A] =
      pool.submit(new java.util.concurrent.Callable[A] { def call(): A = body })
    try {
      val graph = lane {
        val c = store.createOrGet("graph")
        t.span("store.collection.add")(c.add(rows.filter(col("id").cast("long") < GraphDocs)))
        t.span("store.collection.attach_graph")(
          c.attachGraphIndex(s"$dir/graph_index", k = 8, Seq(lsh(0) _, lsh(300) _),
            beamWidth = 16, hops = 3, refineRounds = 0))
        c
      }
      val textAndEnc = lane {
        val text = new TextIndex(spark, s"$dir/text_index", numBuckets = 8)
        t.span("store.text.build")(text.build(
          rows.select(xxhash64(col("id")).as("doc_id"), col("doc").as("text"))))
        val enc = new EncryptedStore(spark, s"$dir/encrypted", Key)
        t.span("store.encrypted.store_indexed")(enc.storeIndexed(rows, "docs", numCells = 16))
        (text, enc)
      }
      val ivf = store.createOrGet("ivf")
      t.span("store.collection.add")(ivf.add(rows))
      val ivfIndex = t.span("store.collection.attach_ivf")(
        ivf.attachIvfIndex(s"$dir/ivf_index", numCells = 16, nprobe = NProbe))._1
      val (text, enc) = textAndEnc.get()
      new Stores(dir, ivf, ivfIndex, graph.get(), text, enc)
    } finally pool.shutdown()
  }

  /** One served request and what the gate needs to check it. */
  final case class Answer(op: String, text: String, lang: String, slot: Int, rows: Seq[Row])

  /** One request; `slot` is the client's request counter, which fixes the
    * `where` language so every run filters the languages in equal turns. */
  def request(run: Run, st: Stores, op: String, r: SplittableRandom, slot: Int,
              id: Long): (Answer, Double) = {
    val in = run.inputs
    val text = if (op == "boolean_query") in.booleanQuery(r) else in.queryText(r)
    val lang = if (op == "query_where") Inputs.LangNames(slot % Inputs.LangNames.length) else null
    val terms = text.split(" ").distinct.toSeq
    val (rows, callMs) = run.tracer.span("request", id) {
      val qe = run.tracer.span("functions.embedder.embed_one")(run.embedder.embedOne(text))._1
      run.tracer.span(Span(op)) {
        (op match {
          case "query_ivf" => st.ivf.query(qe, K)
          case "query_where" =>
            st.ivf.query(qe, K, where = Some(element_at(col("meta"), "lang") === lang))
          case "query_graph" => st.graph.query(qe, K)
          case "query_ranked" => st.text.queryRanked(terms, K)
          case "boolean_query" => st.text.booleanQueryString(text, K)
          case "hybrid_serve" =>
            graft.queries.SearchQueries.hybridServeIndexed(run.spark, st.text, st.ivfIndex,
              qe, Map(0L -> NProbe), terms)
          case "query_indexed" => st.enc.queryIndexed("docs", qe, K, NProbe)
        }).collect().toSeq
      }._1
    }
    (Answer(op, text, lang, slot, rows), callMs)
  }

  def run(run: Run): Outcome = {
    val (st, setupMs) = run.setUp(SetupReps)(dir => setup(run, dir))

    // warm, untimed and all kinds at once: the first call of each kind
    // loads hot tiers and compiles plans
    run.phase("warmup")
    val warm = Weights.zipWithIndex.map { case ((op, _), i) =>
      val t = new Thread(() => request(run, st, op, run.inputs.stream(500L + i), i, -1L): Unit)
      t.start(); t
    }
    warm.foreach(_.join())

    run.phase("timed")
    val answers = new ConcurrentLinkedQueue[Answer]()
    val calls = new ConcurrentLinkedQueue[Double]()
    val ids = new AtomicLong
    val deadline = run.deadline()
    val t0 = System.nanoTime()
    val cpu0 = run.cpuMs()
    val clients = (0 until Clients).map { c =>
      new Thread(() => {
        val r = run.inputs.stream(100L + c)
        var i = c * Schedule.length / Clients
        var slot = 0
        while (System.nanoTime() < deadline) {
          val op = Schedule(i % Schedule.length)
          i += 1
          slot += 1
          run.attempted.incrementAndGet()
          val id = ids.getAndIncrement()
          try {
            val (a, callMs) = request(run, st, op, r, slot, id)
            answers.add(a); calls.add(callMs)
          } catch {
            case e: Throwable =>
              run.fail(Span(op), s"request $id", s"${e.getClass.getSimpleName}: ${e.getMessage}")
          }
        }
      }, s"serve-client-$c")
    }
    clients.foreach(_.start())
    clients.foreach(_.join())
    val wall = (System.nanoTime() - t0) / 1e9
    val cpu = run.cpuMs() - cpu0
    val heap = run.heapAfterGc()

    run.phase("gate")
    val recall = gate(run, st, answers.asScala.toSeq)
    val done = answers.asScala.toSeq
    Outcome(setupMs, calls.asScala.toSeq, mixCalls(done.map(_.op)), wall, cpu, heap, recall,
      st.dir, run.userBytes, Long.MaxValue)
  }

  // ------------------------------------------------------------- the gate

  /** Check every answer; returns the mean recall@10 of the vector answers
    * (IVF, IVF + where, graph, encrypted) of each client's first
    * QualitySlots requests against exact top-10s computed outside Spark
    * over the live corpus. */
  def gate(run: Run, st: Stores, answers: Seq[Answer]): Double = {
    // text and hybrid answers carry the index key, xxhash64 of the id
    val docs: Map[Long, Doc] = run.corpusFrame
      .select(col("doc_id"), xxhash64(col("doc_id").cast("string")))
      .collect().map(r => r.getLong(1) -> Inputs.corpus(r.getLong(0).toInt)).toMap
    // text answers are checked against their spec-pinned hot twins on a
    // sample: the first TwinSample answers of each kind
    val sampled = answers.filter(a => a.op == "query_ranked" || a.op == "boolean_query")
      .groupBy(_.op).values.flatMap(_.take(TwinSample)).toSet
    val recalls = answers.flatMap { a =>
      val span = Span(a.op)
      a.op match {
        case "query_ivf" | "query_where" | "query_graph" | "query_indexed" =>
          checkVector(run, span, a).filter(_ => a.slot <= QualitySlots)
        case "query_ranked" =>
          val got = a.rows.map(r => (r.getLong(0), r.getInt(1), r.getDouble(2)))
          if (sampled(a) && got != st.text.hotQuery(a.text.split(" ").distinct.toSeq, K))
            run.fail(span, a.text, "answer differs from hotQuery twin")
          None
        case "boolean_query" =>
          checkBoolean(run, st, span, a, docs, twin = sampled(a)); None
        case "hybrid_serve" =>
          checkHybrid(run, span, a, docs); None
      }
    }
    if (recalls.isEmpty) 0.0 else recalls.sum / recalls.length
  }

  private def checkVector(run: Run, span: String, a: Answer): Option[Double] = {
    val qe = run.embedder.embedOne(a.text)
    val live = a.op match {
      case "query_where" => Inputs.corpus.filter(_.lang == a.lang)
      case "query_graph" => Inputs.corpus.take(GraphDocs)
      case _ => Inputs.corpus
    }
    val liveIds = live.map(_.id).toSet
    // exact top-K by (distance, id string), the collection's order: a
    // primitive sort finds the K-th distance, ties at the cut sort by id
    val dist = live.map(d => Metrics.l2sq(qe, run.truth(d.id.toInt))).toArray
    val cut = { val c = dist.clone(); java.util.Arrays.sort(c); c(math.min(K, c.length) - 1) }
    val exact = live.indices.filter(i => dist(i) <= cut)
      .map(i => (dist(i), live(i).id.toString)).sorted.take(K).map(_._2)
    val got = a.rows.map(r => (r.getString(0), r.getDouble(2)))
    def bad(why: String): Option[Double] = { run.fail(span, a.text, why); None }
    if (got.length != exact.length) bad(s"${got.length} rows, expected ${exact.length}")
    else if (got.map(_._1).distinct.length != got.length) bad("duplicate ids")
    else if (got.exists { case (id, _) => !liveIds.contains(id.toLong) })
      bad("id outside the live (filtered) set")
    else if (got.map(_._2).sliding(2).exists(p => p.length == 2 && p(0) > p(1) + 1e-9))
      bad("distances not ascending")
    else if (got.exists { case (id, d) =>
      math.abs(d - Metrics.l2sq(qe, run.truth(id.toInt))) > 1e-4 * (1.0 + d) })
      bad("reported distance differs from the exact distance")
    else Some(got.count(g => exact.contains(g._1)).toDouble / exact.length)
  }

  private def checkBoolean(run: Run, st: Stores, span: String, a: Answer,
                           docs: Map[Long, Doc], twin: Boolean): Unit = {
    val must = a.text.split(" ").head.stripPrefix("+")
    val phrase = a.text.substring(a.text.indexOf('"') + 1, a.text.lastIndexOf('"')).split(" ").toSeq
    val got = a.rows.map(r => (r.getLong(0), r.getDouble(2)))
    if (got.isEmpty) run.fail(span, a.text, "no rows, but the source document matches")
    if (got.map(_._2).sliding(2).exists(p => p.length == 2 && p(0) < p(1)))
      run.fail(span, a.text, "scores not descending")
    got.foreach { case (id, _) =>
      val toks = docs(id).tokens
      if (!toks.contains(must) || !toks.sliding(phrase.length).contains(phrase))
        run.fail(span, a.text, s"doc $id lacks the MUST term or the phrase")
    }
    // the hot twin scores the same terms (MUST + the phrase's words); its
    // answer restricted to docs holding the phrase is the phrase query's
    if (twin) {
      val hot = st.text.hotBooleanQuery(Seq(must), phrase, k = Inputs.CorpusSize)
        .filter { case (id, _, _) => docs(id).tokens.sliding(phrase.length).contains(phrase) }
        .take(K).map { case (id, _, score) => (id, score) }
      if (got != hot) run.fail(span, a.text, "answer differs from hotBooleanQuery twin")
    }
  }

  private def checkHybrid(run: Run, span: String, a: Answer, docs: Map[Long, Doc]): Unit = {
    val rows = a.rows.map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getDouble(3)))
    def rrf(rank: Int) = if (rank > 0) 1.0 / (graft.queries.SearchQueries.RrfK + rank) else 0.0
    if (rows.isEmpty || rows.length > K) run.fail(span, a.text, s"${rows.length} rows")
    if (rows.map(_._1).distinct.length != rows.length) run.fail(span, a.text, "duplicate docs")
    if (rows.exists(r => !docs.contains(r._1))) run.fail(span, a.text, "unknown doc key")
    if (rows.map(_._4).sliding(2).exists(p => p.length == 2 && p(0) < p(1)))
      run.fail(span, a.text, "rrf not descending")
    rows.foreach { case (id, kw, sem, score) =>
      if ((kw == 0 && sem == 0) || math.abs(rrf(kw) + rrf(sem) - score) > 1e-6)
        run.fail(span, a.text, s"doc $id rrf $score does not fuse ranks ($kw, $sem)")
    }
  }
}
