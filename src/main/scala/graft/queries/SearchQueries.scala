package graft.queries

import graft.functions.{TextFunctions => TF, VectorFunctions => VF}
import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * Retrieval-engine query surface beyond raw kNN: metadata-filtered ANN,
 * scalar-quantized (int8) ANN, BM25 keyword ranking, and hybrid
 * keyword+semantic fusion. These are the query shapes a vector-store user
 * (the reference's domain, /root/reference/src/cod.py:123-139) runs in
 * production even though the 516-line demo never got to them: Chroma's
 * `query(..., where=...)` filter surface exists but is unused
 * (SURVEY.md §2.2), and every hosted vector DB pairs ANN with keyword/BM25
 * hybrid ranking.
 *
 * Scale design (100 TB):
 *  - filtered ANN: the metadata predicate is pushed to the parquet scan
 *    (PushedFilters), so selective filters prune row groups before any
 *    vector math; the query stays a narrow scan + TakeOrdered.
 *  - SQ8: per-dimension min/max are INDEX METADATA (one map-reduce at build
 *    time, 2×64 doubles). The search scan then reads 1-byte codes instead of
 *    4-byte floats (4× less IO than raw, integer ALU instead of FP) and ends
 *    in TakeOrdered — zero shuffle.
 *  - BM25: corpus stats (N, Σdl, per-term df) are one tiny aggregate —
 *    index metadata refreshed at ingest, folded into the scoring expression
 *    as literals. Scoring is a narrow codegen scan; top-k is TakeOrdered.
 *  - hybrid RRF: each modality produces a bounded top-K shortlist via
 *    TakeOrderedAndProject (no global window over the corpus!); the fusion
 *    join touches ≤2K rows regardless of corpus size.
 */
object SearchQueries {
  import Registry.tbl

  val EmbDim = 64
  /** BM25 free parameters (Robertson et al. defaults). */
  val K1 = 1.2
  val B = 0.75
  /** RRF dampening constant (Cormack et al. 2009 use 60). */
  val RrfK = 60
  /** Fixed keyword query, also hash-embedded for the semantic leg. */
  val QueryTerms: Seq[String] = Seq("vector", "merge", "window", "stream")

  /** q_phrase's quoted phrase — a bigram the synthetic corpus actually
    * contains (~45 occurrences at sf0.01), so the ranked result is
    * non-trivial at every fixture scale. */
  val PhraseTerms: Seq[String] = Seq("table", "hash")

  /** q_near's term pair (both frequent corpus words, so windowed
    * co-occurrence is non-trivial at every fixture scale). */
  val NearTerms: (String, String) = ("table", "scan")

  /** q_phrase / q_near parameters, shared with the oracle SQL AND the
    * BenchSplits subtimings — one definition so the bench decomposition
    * can never silently measure a different query than the registered
    * one. */
  val PhraseK = 10
  val NearWindow = 3
  val NearK = 10
  val ShortlistK = 20

  /** q_boolean's clauses — all corpus-frequent tokens, so every clause
    * (MUST membership, SHOULD scoring, MUST_NOT exclusion) does real work
    * at every fixture scale. Shared with the oracle SQL. */
  val BoolMust: Seq[String] = Seq("table")
  val BoolShould: Seq[String] = Seq("vector", "stream")
  val BoolNot: Seq[String] = Seq("hash")
  val BoolK = 10

  /** q_prefix's query: 's' matches 6 corpus terms and MaxExpansions = 4
    * keeps two out, so the df-ranked expansion cap does real work at
    * every fixture scale. Shared with the oracle SQL. */
  val PrefixStr = "s"
  val PrefixMax = 4
  val PrefixK = 10

  /** q_snippet's highlight window (tokens). Shared with the oracle SQL. */
  val SnippetWindow = 16

  /** q_rag_retrieve: chunk geometry (q_chunk_overlap's), shortlist and
    * answer sizes, and the standing probe panel — corpus-frequent tokens
    * so every probe retrieves non-trivially at every fixture scale.
    * Shared with the oracle SQL. */
  val RagWindow = 64
  val RagStride = 48
  val RagChunkK = 30
  val RagDocK = 5
  val RagProbes: Seq[String] = Seq(
    "vector merge window stream", "table hash scan", "customer filter batch")

  /** q_percolate's standing profile registry — every clause shape
    * exercised (must-only, any-only, must+any, multi-must, with and
    * without negation), all over corpus-frequent tokens. Shared with the
    * oracle SQL and the streaming-twin spec. */
  val PercProfiles: Seq[(Long, Seq[String], Seq[String], Seq[String])] = Seq(
    (1L, Seq("table", "scan"), Nil, Seq("hash")),
    (2L, Nil, Seq("vector", "stream"), Seq("slow")),
    (3L, Seq("merge"), Seq("batch", "big"), Nil),
    (4L, Seq("the"), Nil, Nil),
    (5L, Seq("customer", "column", "filter"), Nil, Seq("fast")))

  def percProfilesDf(s: SparkSession): org.apache.spark.sql.DataFrame = {
    import s.implicits._
    PercProfiles.toDF("profile_id", "must", "any", "must_not")
  }

  /** q_percolate_phrase's registry — every clause SHAPE with phrases:
    * phrase+must, phrase+any+negation, pure-phrase multi-phrase (incl. a
    * single-term phrase), and a phrase-less profile in the same registry
    * (the term path must coexist). All phrases are corpus-frequent
    * bigrams, so matching is non-trivial at every fixture scale. Shared
    * with the oracle SQL and the streaming-twin spec. */
  val PercPhraseProfiles: Seq[(Long, Seq[String], Seq[String], Seq[String], Seq[Seq[String]])] = Seq(
    (1L, Seq("vector"), Nil, Nil, Seq(Seq("table", "hash"))),
    (2L, Nil, Seq("stream", "merge"), Seq("slow"), Seq(Seq("table", "scan"))),
    (3L, Nil, Nil, Nil, Seq(Seq("the", "table"), Seq("hash"))),
    (4L, Seq("batch"), Nil, Seq("fast"), Nil))

  def percPhraseProfilesDf(s: SparkSession): org.apache.spark.sql.DataFrame = {
    import s.implicits._
    PercPhraseProfiles.toDF("profile_id", "must", "any", "must_not", "phrases")
  }

  /** q_percolate_semantic's standing registry: (profile_id, text, θ) —
    * per-profile thresholds spanning the fixture corpora's chunk-cosine
    * range (tight near one probe's top scores, loose on another, plus a
    * near-unreachable θ that pins the quiet-subscription path). Shared
    * with the oracle SQL and the streaming-twin spec. */
  val SemPercProfiles: Seq[(Long, String, Double)] = Seq(
    (1L, "vector merge window stream", 0.66),
    (2L, "table hash scan", 0.60),
    (3L, "customer filter batch", 0.50),
    (4L, "vector merge window stream", 0.95))

  def semPercProfilesDf(s: SparkSession): org.apache.spark.sql.DataFrame = {
    import s.implicits._
    SemPercProfiles.toDF("profile_id", "ptext", "theta")
      .select(col("profile_id"),
        TF.hashEmbed(TF.tokens(col("ptext")), EmbDim).as("pe"), col("theta"))
  }

  /** The standing RAG probe panel as (qid, qtext, qe) — qid is 1-based
    * position in [[RagProbes]]. */
  private def ragProbesDf(s: SparkSession): org.apache.spark.sql.DataFrame = {
    import s.implicits._
    RagProbes.zipWithIndex
      .map { case (t, i) => ((i + 1).toLong, t) }.toDF("qid", "qtext")
      .select(col("qid"), col("qtext"),
        TF.hashEmbed(TF.tokens(col("qtext")), EmbDim).as("qe"))
  }

  /** The RAG chunk frame: [[RagWindow]]-token windows at stride
    * [[RagStride]] per document, hash-embedded — ONE narrow corpus pass
    * (chunking + embedding are per-row codegen). Shared by the exact
    * serving arm ([[ragRanked]]) and the persisted-index arm
    * ([[ragRankedIndexed]]). */
  private[graft] def ragChunks(s: SparkSession, dir: String): org.apache.spark.sql.DataFrame =
    graft.operators.Percolate.chunkEmbed(
      tbl(s, dir, "documents").select("doc_id", "text"),
      RagWindow, RagStride, EmbDim)

  /** The doc-pooling/ranking tail every RAG serving arm shares: `top` =
    * (qid, cos, doc_id, chunk_id) — the top-[[RagChunkK]] chunks per
    * probe, however they were retrieved. Max-pools chunk scores to parent
    * docs keeping the best chunk's offset, ranks docs per probe. Returns
    * (qid, rank ≤ [[RagDocK]], doc_id, chunk_id, n_chunks, score —
    * unrounded). Touches ≤ [[RagChunkK]] rows per probe. */
  private def ragPoolRank(top: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val pooled = top.groupBy("qid", "doc_id")
      .agg(max(struct(col("cos"), (-col("chunk_id")).as("nc"))).as("b"),
        count(lit(1)).as("n_chunks"))
      .select(col("qid"), col("doc_id"), col("b.cos").as("score"),
        (-col("b.nc")).as("chunk_id"), col("n_chunks"))
    val w = Window.partitionBy("qid")
      .orderBy(desc("score"), asc("doc_id"))
    pooled.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= RagDocK)
  }

  /** The shared chunk→doc ranking pipeline of q_rag_retrieve /
    * q_rag_answer: top-[[RagChunkK]] chunks per probe through ONE
    * GroupedTopK shuffle ((doc, chunk) packed into the aggregator id),
    * max-pooled to parent docs keeping the best chunk, ranked per probe
    * ([[ragPoolRank]]). This arm re-embeds and exact-scans the whole
    * chunk corpus per execution — the CORRECTNESS arm;
    * [[ragRankedIndexed]] is the serving shape that probes a persisted
    * chunk index instead. */
  private[graft] def ragRanked(s: SparkSession, dir: String): org.apache.spark.sql.DataFrame = {
    val top = ragChunks(s, dir)
      .crossJoin(broadcast(ragProbesDf(s).select("qid", "qe")))
      .select(col("qid"),
        (shiftleft(col("doc_id"), 20) + col("chunk_id")).as("cid"),
        VF.cosine(col("emb"), col("qe")).as("cos"))
      .groupBy("qid")
      .agg(graft.operators.GroupedTopK.topK(RagChunkK)(
        -col("cos"), col("cid")).as("tk"))
      .select(col("qid"), explode(col("tk")).as("sc"))
      .select(col("qid"), (-col("sc.score")).as("cos"),
        shiftright(col("sc.id"), 20).as("doc_id"),
        col("sc.id").bitwiseAND(lit((1L << 20) - 1)).as("chunk_id"))
    ragPoolRank(top)
  }

  /** L2→cosine shortlist slack of the indexed arm: the index serves by
    * squared L2 and the ranking contract is cosine; over UNIT vectors
    * cos = 1 − d²/2 exactly in real arithmetic, so the two orders can
    * disagree only within float-rounding ties (exactly-equal embeddings
    * give exactly-equal values under BOTH metrics and break to the same
    * cid). Eight extra shortlist slots make a boundary flip require nine
    * independent 1-ulp inversions — structurally impossible for count-
    * derived embeddings. */
  private[graft] val RagCosMargin = 8
  private[graft] val RagIndexCells = 16

  /** [[ragRanked]] served through a PERSISTED chunk index — the 100 TB
    * serving shape (the reference's own serving path is an index probe,
    * /root/reference/src/cod.py:123-129, not a corpus scan): the chunk
    * frame lands ONCE in an [[graft.store.IvfIndex]] keyed by the packed
    * (doc_id, chunk_id) long, EACH standing probe calibrates its own
    * provably-minimal exact depth ([[graft.store.IvfIndex.exactDepths]]
    * — max cell rank over that probe's exact top-kk members; a probe
    * with under kk candidates falls back to numCells, the full scan,
    * still exact), and serving is a cell-pruned batched probe at the
    * per-probe depths + bounded cosine re-rank — never a corpus
    * re-embed. Zero-norm chunks (token-less windows past a short
    * doc's end) stay OUT of the index: their cosine is the −1.0 sentinel,
    * so they can never enter a cosine top-k of any corpus with
    * ≥ [[RagChunkK]] real chunks, but a zero vector sits at unit L2
    * distance from every unit embedding and would pollute the L2
    * shortlist. Final frame ≡ [[ragRanked]] (spec-pinned; same oracle). */
  /** q_rag_indexed's BUILD phase: the chunk frame landed once in a
    * fresh IVF index keyed by the packed (doc_id, chunk_id) long. CELLS
    * SCALE WITH THE CORPUS (the engine-wide IVF discipline — constant
    * expected cell SIZE, so a fixed probe depth scans a fixed byte
    * volume at any corpus scale); the doc count is free parquet footer
    * metadata, ~1.6 chunks/doc on the fixtures, target ~2k chunks/cell.
    * The cell count never changes the ANSWER — exactness comes from the
    * calibration policy, whatever the layout. */
  private[graft] def ragBuildIndex(s: SparkSession, dir: String): graft.store.IvfIndex = {
    val base = graft.store.Scratch.dir("graft_rag_idx")
    // footer metadata, not a count() job — nDocs only sizes the cell count
    val nDocs = Registry.tblRows(s, dir, "documents")
    val cells = math.min(512L, math.max(RagIndexCells.toLong, nDocs / 1280L)).toInt
    val idx = new graft.store.IvfIndex(s, base, numCells = cells)
    // train on a ~512-rows-per-cell sample: k-means quality saturates
    // there (IvfIndex.DefaultTrainCap's rationale) while farthest-first
    // seeding is O(cells · trainRows) — at 795k chunks / 390 cells the
    // full-input build measured 708 s, almost all seeding+Lloyd. The
    // layout shifts with the centroids but the ANSWER never does: the
    // calibration policy re-measures exactness on whatever layout lands.
    idx.build(ragChunks(s, dir)
      .filter(VF.norm(col("emb")) > 0)
      .select((shiftleft(col("doc_id"), 20) + col("chunk_id")).as("id"),
        col("emb")),
      trainSampleCap = math.max(cells * 512L, 1L << 16))
    // the exclusion invariant's PRECONDITION, checked loudly at build
    // (the "≥ RagChunkK real chunks" clause above): with fewer indexed
    // chunks than the answer size, the exact arm's cosine top-k reaches
    // the −1.0 sentinel rows the index excludes. liveAtLeast
    // short-circuits after RagChunkK rows — the comparison is against a
    // small constant, so a stats() full count would be two corpus-scale
    // jobs for a 30-row question
    require(idx.liveAtLeast(RagChunkK),
      s"RAG chunk index holds fewer than RagChunkK=$RagChunkK nonzero-norm chunks — " +
        "the zero-norm exclusion invariant no longer guarantees indexed == exact on this corpus")
    idx
  }

  /** The standing probe panel as driver arrays (index-metadata scale). */
  private[graft] def ragProbePanel(s: SparkSession): Seq[(Long, Array[Float])] =
    ragProbesDf(s).select("qid", "qe").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray)).toSeq

  /** q_rag_indexed's CALIBRATE phase: PER-PROBE exact depths at the
    * margined shortlist size ([[graft.store.IvfIndex.exactDepths]] —
    * probe p's depth is the max cell rank over its exact top-kk members,
    * the smallest provably-exact probe for THAT probe; a global policy
    * would carry every probe to the worst probe's depth). Exactness is
    * unconditional: a probe with under kk candidates reports numCells
    * (the full scan). */
  private[graft] def ragCalibrate(idx: graft.store.IvfIndex,
      probes: Seq[(Long, Array[Float])]): Map[Long, Int] = {
    // calibrate AND persist, then read back through the fenced route
    // (PolicyFresh — a tiny sidecar read, no second calibration pass):
    // the in-query build exercises the same reopenable-artifact path a
    // serving process uses, so q_rag_indexed's oracle gates the
    // persist+readback roundtrip too
    idx.persistDepthPolicy(probes, RagChunkK + RagCosMargin)
    idx.depthPolicy(probes, RagChunkK + RagCosMargin)
  }

  /** RAG serving across REOPENS — the production surface the sidecar
    * exists for: a server process reopening the persisted chunk index
    * routes the standing panel through [[graft.store.IvfIndex.depthPolicy]]'s
    * committed depths (zero calibration jobs when fresh) and
    * self-heals LOUDLY when ingest appended past the calibration
    * ([[graft.store.IvfIndex.depthPolicyOrRecalibrate]]) — stale depths
    * must never serve silently. Same ranked frame as [[ragServeIndexed]]
    * at fresh depths (spec-pinned, RagIndexedSpec). */
  private[graft] def ragServePersisted(s: SparkSession,
      idx: graft.store.IvfIndex): org.apache.spark.sql.DataFrame = {
    val probes = ragProbePanel(s)
    ragServeIndexed(s, idx, probes,
      idx.depthPolicyOrRecalibrate(probes, RagChunkK + RagCosMargin))
  }

  // ------------------------------------------------ indexed hybrid (RRF)

  /** q_hybrid_indexed's PERSISTED arms: the postings TextIndex (quantized
    * BM25) and a DOC-level embedding IVF — the same two shortlists
    * q_hybrid_rrf derives from exact corpus scans, served from disk
    * artifacts instead. Zero-norm docs stay OUT of the embedding index
    * (the q_rag_indexed exclusion invariant: a zero vector's cosine is
    * the −1.0 sentinel — below any real doc — but its unit L2 distance
    * would pollute the L2 shortlist). Cells scale with the corpus
    * (~2k docs/cell, capped 512 — constant expected cell size). */
  private[graft] def hybridBuildIndexes(s: SparkSession, dir: String)
      : (graft.store.TextIndex, graft.store.IvfIndex) = {
    val tidx = new graft.store.TextIndex(s, graft.store.Scratch.dir("graft_hyb_tidx"),
      numBuckets = 8)
    // nDocs sizes the cell count only — footer metadata, not a count() job
    val nDocs = Registry.tblRows(s, dir, "documents")
    val cells = math.min(512L, math.max(16L, nDocs / 2048L)).toInt
    val vidx = new graft.store.IvfIndex(s, graft.store.Scratch.dir("graft_hyb_ivf"),
      numCells = cells)
    // the two persisted arms are INDEPENDENT job chains over different
    // scratch dirs — build them from two driver threads (guide §2.6:
    // actions are only sequential because the driver calls them
    // sequentially) so one arm's driver-side gaps (planning, sidecar
    // commits) backfill with the other arm's tasks. Each build owns its
    // own caches/lease; nothing is shared between the threads.
    val pool = java.util.concurrent.Executors.newFixedThreadPool(1)
    val tidxDone = pool.submit(new java.util.concurrent.Callable[Unit] {
      def call(): Unit =
        tidx.build(tbl(s, dir, "documents").select("doc_id", "text"))
    })
    try {
      vidx.build(tokenized(s, dir)
        .select(col("doc_id").as("id"), TF.hashEmbed(col("toks"), EmbDim).as("emb"))
        .filter(VF.norm(col("emb")) > 0),
        trainSampleCap = math.max(cells * 512L, 1L << 16))
      tidxDone.get()
    } finally pool.shutdown()
    // the exclusion invariant's PRECONDITION, checked loudly at build:
    // the exact arm ranks zero-norm docs too (at the −1.0 sentinel), so
    // routed ≡ exact only holds while the cosine top-ShortlistK cannot
    // reach the sentinel — i.e. ≥ ShortlistK indexed (nonzero-norm) docs.
    // liveAtLeast short-circuits after ShortlistK rows (the constant-
    // comparison guard must not cost two corpus-scale count jobs)
    require(vidx.liveAtLeast(ShortlistK),
      s"hybrid embedding index holds fewer than ShortlistK=$ShortlistK nonzero-norm docs — " +
        "the zero-norm exclusion invariant no longer guarantees routed == exact on this corpus")
    (tidx, vidx)
  }

  /** q_hybrid_indexed's serving pipeline over built arms — split out so
    * the bench can time build / calibrate / probe separately and specs
    * can force depths. kw ranks are INTEGER-exact
    * ([[graft.store.TextIndex.queryRanked]] — position in the quantized
    * (sq desc, doc_id) total order); sem ranks come from the per-probe
    * exact-depth L2 shortlist re-ranked by cosine (unit vectors:
    * cos = 1 − d²/2, the [[RagCosMargin]] slack argument), so both
    * fusion inputs are exactly the persisted arms' answers.
    *
    * Routing: when both arms fit the hot budget the answer comes from
    * their resident tiers ([[hybridServeHot]]) as a local relation BOUND
    * AT CALL TIME (like [[graft.operators.Percolate.matches]]'s eager
    * stage); otherwise it is the Spark plan below, evaluated when an
    * action runs. */
  private[graft] def hybridServeIndexed(s: SparkSession,
      tidx: graft.store.TextIndex, vidx: graft.store.IvfIndex,
      qe: Array[Float], depths: Map[Long, Int],
      terms: Seq[String] = QueryTerms): org.apache.spark.sql.DataFrame = {
    if (tidx.hotFits() && vidx.hotFits()) return hybridServeHot(s, tidx, vidx, qe, depths, terms)
    val kw = tidx.queryRanked(terms, ShortlistK)
      .select(col("doc_id"), col("rank").as("rank_kw"))
    val kk = ShortlistK + RagCosMargin
    val wS = Window.orderBy(desc("cos"), asc("doc_id"))
    val sem = vidx.queryBatch(Seq(0L -> qe), kk, nprobe = vidx.numCells,
        include = Seq("emb"), depthOf = depths)
      .select(col("id").as("doc_id"),
        VF.cosine(col("emb"), typedlit(qe.toSeq)).as("cos"))
      .orderBy(desc("cos"), asc("doc_id")).limit(ShortlistK)
      .withColumn("rank_sem", row_number().over(wS))
      .select(col("doc_id"), col("rank_sem"))
    kw.join(sem, Seq("doc_id"), "full_outer")
      .withColumn("rrf",
        coalesce(lit(1.0) / (lit(RrfK.toDouble) + col("rank_kw").cast("double")), lit(0.0)) +
          coalesce(lit(1.0) / (lit(RrfK.toDouble) + col("rank_sem").cast("double")), lit(0.0)))
      .orderBy(desc("rrf"), asc("doc_id"))
      .limit(10)
      .select(col("doc_id"),
        coalesce(col("rank_kw"), lit(0)).as("rank_kw"),
        coalesce(col("rank_sem"), lit(0)).as("rank_sem"),
        round(col("rrf"), 6).as("rrf"))
  }

  /** [[hybridServeIndexed]] from the resident tiers, step for step: the
    * keyword arm is the resident ranked top-[[ShortlistK]]
    * ([[graft.store.TextIndex.hotQuery]]) with its integer ranks; the
    * semantic arm is the IVF hot tier's top ShortlistK + [[RagCosMargin]]
    * at the probe's depth, re-ranked by [[graft.attack.Inversion.cosine]]
    * (the driver twin of `cosine_sim`) under Spark's double order; RRF
    * then sums the same doubles and rounds as Spark's `round(rrf, 6)`. */
  private def hybridServeHot(s: SparkSession,
      tidx: graft.store.TextIndex, vidx: graft.store.IvfIndex,
      qe: Array[Float], depths: Map[Long, Int],
      terms: Seq[String]): org.apache.spark.sql.DataFrame = {
    // Spark's double order: -0.0 equals 0.0, NaN is the largest value
    def cmp(x: Double, y: Double): Int = if (x == y) 0 else java.lang.Double.compare(x, y)
    val kw = tidx.hotQuery(terms, ShortlistK).zipWithIndex
      .map { case ((d, _, _), i) => d -> (i + 1) }.toMap
    val sem = vidx.hotQueryEmb(qe, ShortlistK + RagCosMargin, depths.getOrElse(0L, vidx.numCells))
      .map { case (d, e) => (d, graft.attack.Inversion.cosine(e, qe)) }
      .sortWith { case ((da, ca), (db, cb)) => val c = cmp(cb, ca); c < 0 || (c == 0 && da < db) }
      .take(ShortlistK).zipWithIndex.map { case ((d, _), i) => d -> (i + 1) }.toMap
    def rrf(rank: Option[Int]) = rank.fold(0.0)(r => 1.0 / (RrfK.toDouble + r.toDouble))
    val rows = (kw.keySet ++ sem.keySet).toSeq
      .map(d => (d, kw.get(d), sem.get(d), rrf(kw.get(d)) + rrf(sem.get(d))))
      .sortWith { case (a, b) => val c = cmp(b._4, a._4); c < 0 || (c == 0 && a._1 < b._1) }
      .take(10)
      .map { case (d, k, m, f) =>
        org.apache.spark.sql.Row(d, k.getOrElse(0), m.getOrElse(0),
          java.math.BigDecimal.valueOf(f).setScale(6, java.math.RoundingMode.HALF_UP).doubleValue())
      }
    import scala.jdk.CollectionConverters._
    s.createDataFrame(rows.asJava, org.apache.spark.sql.types.StructType.fromDDL(
      "doc_id BIGINT, rank_kw INT, rank_sem INT, rrf DOUBLE"))
  }

  /** The standing hybrid probe (the query string's hash embedding). */
  private[graft] def hybridProbe(s: SparkSession): Array[Float] =
    hybridProbeOf(s, QueryTerms.mkString(" "))

  private[graft] def hybridProbeOf(s: SparkSession, text: String): Array[Float] = {
    import s.implicits._
    Seq(text).toDF("text")
      .select(TF.hashEmbed(TF.tokens(col("text")), EmbDim).as("e"))
      .head().getSeq[Float](0).toArray
  }

  /** q_hybrid_batch's standing panel: three hybrid queries with DISTINCT
    * term sets (probe 1 is q_hybrid_indexed's own query, so the batch
    * surface provably reproduces the single-probe row inside a panel). */
  private[graft] val HybridPanelTerms: Seq[(Long, Seq[String])] = Seq(
    1L -> QueryTerms,
    2L -> Seq("stream", "shuffle", "encrypt"),
    3L -> Seq("merge", "partition", "query"))

  private[graft] def hybridCalibrate(vidx: graft.store.IvfIndex,
      qe: Array[Float]): Map[Long, Int] = {
    // persist + fenced read-back, the ragCalibrate discipline — the
    // in-query build exercises the reopenable-artifact path
    vidx.persistDepthPolicy(Seq(0L -> qe), ShortlistK + RagCosMargin)
    vidx.depthPolicy(Seq(0L -> qe), ShortlistK + RagCosMargin)
  }

  /** [[hybridCalibrate]] for a standing PANEL: per-probe exact depths
    * persisted as the `_depths` sidecar and read back through the fence
    * — one policy artifact serves the whole panel across reopens. */
  private[graft] def hybridCalibrateBatch(vidx: graft.store.IvfIndex,
      panel: Seq[(Long, Seq[String], Array[Float])]): Map[Long, Int] = {
    val probes = panel.map(p => (p._1, p._3))
    vidx.persistDepthPolicy(probes, ShortlistK + RagCosMargin)
    vidx.depthPolicy(probes, ShortlistK + RagCosMargin)
  }

  /** BATCHED hybrid serving — [[hybridServeIndexed]] for a PANEL of
    * standing hybrid queries (probe_id, terms, embedding), the serving
    * shape a fleet of standing alerts/routes runs: the keyword arm is ONE
    * bucket+term-pruned postings pass over the union of every probe's
    * terms ([[graft.store.TextIndex.queryRankedBatchBounded]] — per-probe
    * ranks cut map-side, integer-exact), the sem arm ONE cell-pruned
    * multi-probe batch at per-probe persisted depths
    * ([[graft.store.IvfIndex.queryBatch]] — the answers-not-candidates
    * tail) with the bounded cosine re-rank, and RRF fuses per probe.
    * Every probe-keyed window here runs over ALREADY-CUT answer rows
    * (≤ ShortlistK+RagCosMargin per probe per arm), never candidates.
    * Per-probe frames ≡ [[hybridServeIndexed]] at the same terms/depth
    * (spec-pinned, HybridIndexedSpec). Output
    * (probe_id, doc_id, rank_kw, rank_sem, rrf), top-10 per probe. */
  private[graft] def hybridServeIndexedBatch(s: SparkSession,
      tidx: graft.store.TextIndex, vidx: graft.store.IvfIndex,
      panel: Seq[(Long, Seq[String], Array[Float])],
      depths: Map[Long, Int]): org.apache.spark.sql.DataFrame = {
    // the kw arm serves through the MaxScore df-bound (r13): ranks are
    // spec-pinned identical to per-probe queryRanked, and a high-df standing
    // term no longer fans its full posting list out across the panel
    val kw = tidx.queryRankedBatchBounded(panel.map(p => (p._1, p._2)), ShortlistK)
      .select(col("probe_id"), col("doc_id"), col("rank").as("rank_kw"))
    val kk = ShortlistK + RagCosMargin
    val probeDf = broadcast(s.createDataFrame(
      panel.map(p => (p._1, p._3.toSeq))).toDF("probe_id", "hqe"))
    val wS = Window.partitionBy("probe_id").orderBy(desc("cos"), asc("doc_id"))
    val sem = vidx.queryBatch(panel.map(p => (p._1, p._3)), kk,
        nprobe = vidx.numCells, include = Seq("emb"), depthOf = depths)
      .join(probeDf, Seq("probe_id"))
      .select(col("probe_id"), col("id").as("doc_id"),
        VF.cosine(col("emb"), col("hqe")).as("cos"))
      .withColumn("rank_sem", row_number().over(wS))
      .filter(col("rank_sem") <= ShortlistK)
      .select(col("probe_id"), col("doc_id"), col("rank_sem"))
    rrfFusePerProbe(kw, sem)
  }

  /** The per-probe RRF fusion tail shared by [[hybridServeIndexedBatch]]
    * and [[hybridServeIndexedBatchDF]] — every window here runs over
    * ALREADY-CUT answer rows (≤ ShortlistK per probe per arm), never
    * candidates; one copy so the routes can never drift. */
  private def rrfFusePerProbe(kw: org.apache.spark.sql.DataFrame,
      sem: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val wF = Window.partitionBy("probe_id").orderBy(desc("rrf"), asc("doc_id"))
    kw.join(sem, Seq("probe_id", "doc_id"), "full_outer")
      .withColumn("rrf",
        coalesce(lit(1.0) / (lit(RrfK.toDouble) + col("rank_kw").cast("double")), lit(0.0)) +
          coalesce(lit(1.0) / (lit(RrfK.toDouble) + col("rank_sem").cast("double")), lit(0.0)))
      .withColumn("rn", row_number().over(wF))
      .filter(col("rn") <= 10)
      .select(col("probe_id"), col("doc_id"),
        coalesce(col("rank_kw"), lit(0)).as("rank_kw"),
        coalesce(col("rank_sem"), lit(0)).as("rank_sem"),
        round(col("rrf"), 6).as("rrf"))
      .orderBy(asc("probe_id"), desc("rrf"), asc("doc_id"))
  }

  /** [[hybridServeIndexedBatch]] with the PANEL as a DATAFRAME — the
    * hybrid lane for a standing-alert fleet BIGGER than a driver panel
    * (the r12 verdict's top missing surface): `panel` carries
    * (probe_id LONG, terms ARRAY<STRING>, qe ARRAY<FLOAT>[, depth INT])
    * and NOTHING probe-sized ever touches the driver. The kw arm is
    * [[graft.store.TextIndex.queryRankedBatchBoundedDF]] (bucket-pruned
    * union-term postings, per-probe integer-exact ranks cut map-side);
    * the sem arm is [[graft.store.IvfIndex.queryBatchDF]]
    * (map-side cell routing, broadcast-or-salted cell join, the
    * answers-not-candidates tail) with the persisted per-probe depth
    * policy routed through the frame's `depth` column (`useDepth` — the
    * explicit opt-in discipline of every DF serving route); the bounded
    * cosine re-rank and RRF fuse per probe over ANSWER rows only.
    * Per-probe frames ≡ [[hybridServeIndexedBatch]] at the same
    * terms/depths (spec-pinned, HybridIndexedSpec). */
  private[graft] def hybridServeIndexedBatchDF(s: SparkSession,
      tidx: graft.store.TextIndex, vidx: graft.store.IvfIndex,
      panel: org.apache.spark.sql.DataFrame,
      useDepth: Boolean = false): org.apache.spark.sql.DataFrame = {
    // the kw arm is the ADAPTIVE MaxScore-bounded frame route: on skewed
    // standing vocabularies the essential-only fanout collapses the
    // exchange; on uniform ones it falls back to the single unbounded
    // pass — ranks identical either way (spec-pinned)
    val kw = tidx.queryRankedBatchBoundedDF(panel.select("probe_id", "terms"), ShortlistK)
      .select(col("probe_id"), col("doc_id"), col("rank").as("rank_kw"))
    val kk = ShortlistK + RagCosMargin
    val semProbes =
      if (useDepth) panel.select("probe_id", "qe", "depth")
      else panel.select("probe_id", "qe")
    val wS = Window.partitionBy("probe_id").orderBy(desc("cos"), asc("doc_id"))
    val sem = vidx.queryBatchDF(semProbes, kk, nprobe = vidx.numCells,
        include = Seq("emb"), useDepth = useDepth)
      // answer rows (≤ kk × P) join the panel for the probe's embedding —
      // keyed on probe_id (high-cardinality: no parallelism collapse)
      .join(panel.select(col("probe_id"),
        col("qe").cast("array<float>").as("hqe")), Seq("probe_id"))
      .select(col("probe_id"), col("id").as("doc_id"),
        VF.cosine(col("emb"), col("hqe")).as("cos"))
      .withColumn("rank_sem", row_number().over(wS))
      .filter(col("rank_sem") <= ShortlistK)
      .select(col("probe_id"), col("doc_id"), col("rank_sem"))
    rrfFusePerProbe(kw, sem)
  }

  /** q_rag_indexed's PROBE phase: cell-pruned batched L2 shortlist
    * (exact at the per-probe calibrated depths), bounded cosine re-rank
    * (≤ [[RagChunkK]]+[[RagCosMargin]] rows per probe), then the shared
    * pooling tail. */
  private[graft] def ragServeIndexed(s: SparkSession, idx: graft.store.IvfIndex,
      probes: Seq[(Long, Array[Float])],
      depths: Map[Long, Int]): org.apache.spark.sql.DataFrame = {
    val kk = RagChunkK + RagCosMargin
    val w = Window.partitionBy("qid").orderBy(desc("cos"), asc("cid"))
    val top = idx.queryBatch(probes, kk, nprobe = idx.numCells,
      include = Seq("emb"), depthOf = depths)
      .withColumnRenamed("probe_id", "qid")
      .join(broadcast(ragProbesDf(s).select("qid", "qe")), Seq("qid"))
      .select(col("qid"), col("id").as("cid"),
        VF.cosine(col("emb"), col("qe")).as("cos"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= RagChunkK)
      .select(col("qid"), col("cos"),
        shiftright(col("cid"), 20).as("doc_id"),
        col("cid").bitwiseAND(lit((1L << 20) - 1)).as("chunk_id"))
    ragPoolRank(top)
  }

  private[graft] def ragRankedIndexed(s: SparkSession, dir: String,
      forceDepth: Option[Int] = None): org.apache.spark.sql.DataFrame = {
    val idx = ragBuildIndex(s, dir)
    val probes = ragProbePanel(s)
    val depths = forceDepth
      .map(d => probes.map { case (pid, _) => pid -> d }.toMap)
      .getOrElse(ragCalibrate(idx, probes))
    ragServeIndexed(s, idx, probes, depths)
  }

  /** The q_rag_retrieve output contract over either serving arm's ranked
    * frame: offsets derived, score rounded, total order. */
  private def ragRetrieveFrame(ranked: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    ranked
      .select(col("qid"), col("rank"), col("doc_id"), col("chunk_id"),
        (col("chunk_id") * RagStride).as("strt"), col("n_chunks"),
        round(col("score"), 6).as("score"))
      .orderBy("qid", "rank")

  /** ONE oracle for both RAG retrieval arms — the indexed arm's contract
    * IS q_rag_retrieve's (the index changes where the bytes come from,
    * never the answer). */
  private lazy val ragRetrieveOracle: String = {
    val th = OracleText.tokenHashes(
      s"list_slice(toks, strt + 1, strt + $RagWindow)")
    def cnt(h: String) = s"list_transform(range(0, $EmbDim), j -> " +
      s"CAST(len(list_filter($h, h -> h % $EmbDim = j)) AS DOUBLE))"
    val nsq = "list_reduce(list_prepend(CAST(0.0 AS DOUBLE), " +
      "list_transform(cnt, c -> c*c)), (x, y) -> x + y)"
    val emb = s"CASE WHEN $nsq = 0 THEN list_transform(cnt, c -> CAST(c AS FLOAT)) " +
      s"ELSE list_transform(cnt, c -> CAST(c / sqrt($nsq) AS FLOAT)) END"
    val qRows = RagProbes.zipWithIndex
      .map { case (t, i) => s"(CAST(${i + 1} AS BIGINT), '$t')" }.mkString(", ")
    s"""WITH t AS MATERIALIZED (
       |  SELECT doc_id, ${OracleText.tokens("text")} AS toks FROM documents),
       |s AS (SELECT doc_id, toks,
       |        unnest(range(0, greatest(len(toks), 1), $RagStride)) AS strt
       |      FROM t),
       |ch AS MATERIALIZED (
       |  SELECT doc_id, CAST(strt // $RagStride AS BIGINT) AS chunk_id,
       |         $th AS th
       |  FROM s),
       |chc AS (SELECT doc_id, chunk_id, ${cnt("th")} AS cnt FROM ch),
       |che AS MATERIALIZED (SELECT doc_id, chunk_id, $emb AS emb FROM chc),
       |q(qid, qtext) AS (VALUES $qRows),
       |qt AS (SELECT qid, ${OracleText.tokenHashes(OracleText.tokens("qtext"))} AS th FROM q),
       |qc AS (SELECT qid, ${cnt("th")} AS cnt FROM qt),
       |qe AS (SELECT qid, $emb AS qe FROM qc),
       |sc AS MATERIALIZED (
       |  SELECT qe.qid, c.doc_id, c.chunk_id,
       |         ${OracleSql.cosine("c.emb", "qe.qe")} AS cos
       |  FROM che c CROSS JOIN qe),
       |top AS (SELECT qid, doc_id, chunk_id, cos FROM (
       |          SELECT qid, doc_id, chunk_id, cos,
       |                 row_number() OVER (PARTITION BY qid
       |                   ORDER BY cos DESC, doc_id * 1048576 + chunk_id ASC) AS rn
       |          FROM sc) WHERE rn <= $RagChunkK),
       |pool AS (SELECT qid, doc_id, max(cos) AS score,
       |                CAST(count(*) AS BIGINT) AS n_chunks
       |         FROM top GROUP BY 1, 2),
       |best AS (SELECT qid, doc_id, chunk_id FROM (
       |           SELECT qid, doc_id, chunk_id,
       |                  row_number() OVER (PARTITION BY qid, doc_id
       |                    ORDER BY cos DESC, chunk_id ASC) AS brn
       |           FROM top) WHERE brn = 1),
       |r AS (SELECT p.qid, p.doc_id, b.chunk_id, p.n_chunks, p.score,
       |             row_number() OVER (PARTITION BY p.qid
       |               ORDER BY p.score DESC, p.doc_id ASC) AS rank
       |      FROM pool p JOIN best b ON b.qid = p.qid AND b.doc_id = p.doc_id)
       |SELECT qid, CAST(rank AS INT) AS rank, doc_id, chunk_id,
       |       chunk_id * $RagStride AS strt, n_chunks,
       |       round(score, 6) AS score
       |FROM r WHERE rank <= $RagDocK ORDER BY qid, rank""".stripMargin
  }

  /** Append a BM25 score column for QueryTerms, as a fixed left-to-right
    * sum so the oracle can add in the identical order. idf/avgdl arrive as
    * driver literals (index metadata); tf/dl are per-row. Each term's tf is
    * STAGED as a named column: the score formula references tf twice and
    * `filter` over an array is an interpreted (non-codegen) lambda, so the
    * single evaluation must be guaranteed structurally (plan-checked: one
    * filter per term in the staging Project) rather than left to codegen
    * subexpression elimination, which never sees interpreted projections. */
  private def withBm25(docs: org.apache.spark.sql.DataFrame, idf: Map[String, Double],
                       avgdl: Double, outCol: String): org.apache.spark.sql.DataFrame = {
    val staged = QueryTerms.zipWithIndex.foldLeft(docs) { case (df, (t, i)) =>
      df.withColumn(s"__tf_$i", TF.termFreq(col("toks"), t).cast("double"))
    }
    val score = QueryTerms.zipWithIndex.map { case (t, i) =>
      val tf = col(s"__tf_$i")
      lit(idf(t)) * ((tf * lit(K1 + 1.0)) /
        (tf + lit(K1) * (lit(1.0 - B) + lit(B) * col("dl").cast("double") / lit(avgdl))))
    }.reduce(_ + _)
    staged.withColumn(outCol, score)
      .drop(QueryTerms.indices.map(i => s"__tf_$i"): _*)
  }

  /** The same score in DuckDB SQL: stats come from scalar subqueries against
    * the `d` CTE (exact integers, so the derived doubles match the literals
    * the Spark side computes), terms added left-to-right like the fold. */
  private def bm25Sql(toks: String, dl: String): String = {
    val n = "(SELECT CAST(count(*) AS BIGINT) FROM d)"
    val avgdl = s"(SELECT CAST(CAST(sum(dl) AS BIGINT) AS DOUBLE) FROM d) / CAST($n AS DOUBLE)"
    QueryTerms.map { t =>
      val df = s"(SELECT CAST(count(*) AS BIGINT) FROM d WHERE list_contains(toks, '$t'))"
      val idf = s"ln((CAST($n AS DOUBLE) - CAST($df AS DOUBLE) + 0.5) / (CAST($df AS DOUBLE) + 0.5) + 1.0)"
      val tf = s"CAST(len(list_filter($toks, x -> x = '$t')) AS DOUBLE)"
      s"($idf * (($tf * ${K1 + 1.0}) / ($tf + $K1 * (${1.0 - B} + $B * CAST($dl AS DOUBLE) / ($avgdl)))))"
    }.mkString("(", " + ", ")")
  }

  /** Corpus stats for BM25: one aggregate job → (N, Σdl, df per term). At
    * scale this runs at index-build time, not per query. */
  private def bm25Stats(docs: org.apache.spark.sql.DataFrame): (Long, Double, Map[String, Double]) = {
    val aggs = count(lit(1)).as("n") +: sum(col("dl").cast("long")).as("sumdl") +:
      QueryTerms.map(t => sum(when(array_contains(col("toks"), t), 1L).otherwise(0L)).as(s"df_$t"))
    val r = docs.agg(aggs.head, aggs.tail: _*).head()
    val n = r.getLong(0)
    val avgdl = r.getLong(1).toDouble / n
    val idf = QueryTerms.zipWithIndex.map { case (t, i) =>
      val df = r.getLong(2 + i)
      t -> math.log((n - df + 0.5) / (df + 0.5) + 1.0)
    }.toMap
    (n, avgdl, idf)
  }


  /** q_hybrid_batch's oracle — shared VERBATIM with q_hybrid_batch_df
    * (hash equality across the Seq and frame routes is the lossless-route
    * proof, re-checked at sf0.01 every round). Replays the
    * q_hybrid_indexed recipe PER PROBE from plaintext alone. */
  private lazy val hybridBatchOracleSql: String = {
        val th = OracleText.tokenHashes(OracleText.tokens("text"))
        def cnt(h: String) = s"list_transform(range(0, $EmbDim), j -> " +
          s"CAST(len(list_filter($h, h -> h % $EmbDim = j)) AS DOUBLE))"
        val nsq = "list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list_transform(cnt, c -> c*c)), (x, y) -> x + y)"
        val emb = s"CASE WHEN $nsq = 0 THEN list_transform(cnt, c -> CAST(c AS FLOAT)) " +
          s"ELSE list_transform(cnt, c -> CAST(c / sqrt($nsq) AS FLOAT)) END"
        val n = "(SELECT CAST(count(*) AS BIGINT) FROM d)"
        val avgdl = s"(SELECT CAST(CAST(sum(dl) AS BIGINT) AS DOUBLE) FROM d) / CAST($n AS DOUBLE)"
        val perProbe = HybridPanelTerms.map { case (pid, terms) =>
          val qText = terms.mkString(" ")
          val idfCase = terms.map { t =>
            val df = s"(SELECT CAST(count(*) AS BIGINT) FROM d WHERE list_contains(toks, '$t'))"
            val idf = s"ln((CAST($n AS DOUBLE) - CAST($df AS DOUBLE) + 0.5) / (CAST($df AS DOUBLE) + 0.5) + 1.0)"
            s"WHEN term = '$t' THEN $idf"
          }.mkString("CASE ", " ", " END")
          val termList = terms.map(t => s"'$t'").mkString(", ")
          val cos = OracleSql.cosine("e.emb", s"q$pid.qe")
          s"""tfq$pid AS (SELECT term, doc_id, dl, CAST(count(*) AS BIGINT) AS tf
             |        FROM p WHERE term IN ($termList) GROUP BY 1, 2, 3),
             |cq$pid AS (SELECT doc_id, dl,
             |         CAST(round(($idfCase) *
             |           ((CAST(tf AS DOUBLE) * ${K1 + 1.0}) /
             |            (CAST(tf AS DOUBLE) + $K1 * (${1.0 - B} + $B * CAST(dl AS DOUBLE) / ($avgdl))))
             |           * 1048576.0) AS BIGINT) AS c
             |       FROM tfq$pid),
             |sq$pid AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS sq
             |       FROM cq$pid GROUP BY doc_id),
             |kw$pid AS (
             |  SELECT doc_id, row_number() OVER (ORDER BY sq DESC, doc_id) AS rank_kw
             |  FROM sq$pid ORDER BY sq DESC, doc_id LIMIT $ShortlistK),
             |qt$pid AS (SELECT ${OracleText.tokenHashes(OracleText.tokens(s"'$qText'"))} AS th),
             |qc$pid AS (SELECT ${cnt("th")} AS cnt FROM qt$pid),
             |q$pid AS (SELECT $emb AS qe FROM qc$pid),
             |sem$pid AS (
             |  SELECT e.doc_id, row_number() OVER (ORDER BY $cos DESC, e.doc_id) AS rank_sem
             |  FROM e CROSS JOIN q$pid ORDER BY $cos DESC, e.doc_id LIMIT $ShortlistK),
             |fused$pid AS (
             |  SELECT CAST($pid AS BIGINT) AS probe_id,
             |         coalesce(kw$pid.doc_id, sem$pid.doc_id) AS doc_id,
             |         coalesce(kw$pid.rank_kw, 0) AS rank_kw,
             |         coalesce(sem$pid.rank_sem, 0) AS rank_sem,
             |         coalesce(1.0 / ($RrfK.0 + CAST(kw$pid.rank_kw AS DOUBLE)), 0.0) +
             |         coalesce(1.0 / ($RrfK.0 + CAST(sem$pid.rank_sem AS DOUBLE)), 0.0) AS rrf
             |  FROM kw$pid FULL OUTER JOIN sem$pid ON kw$pid.doc_id = sem$pid.doc_id),
             |top$pid AS (
             |  SELECT probe_id, doc_id, rank_kw, rank_sem, round(rrf, 6) AS rrf
             |  FROM fused$pid ORDER BY rrf DESC, doc_id LIMIT 10)""".stripMargin
        }.mkString(",\n")
        val unions = HybridPanelTerms
          .map { case (pid, _) => s"SELECT * FROM top$pid" }
          .mkString(" UNION ALL ")
        s"""WITH d AS MATERIALIZED (
           |  SELECT doc_id, toks, len(toks) AS dl FROM (
           |    SELECT doc_id, ${OracleText.tokens("text")} AS toks FROM documents)),
           |p AS MATERIALIZED (SELECT doc_id, dl, unnest(toks) AS term FROM d),
           |dt AS MATERIALIZED (SELECT doc_id, $th AS th FROM documents),
           |dc AS MATERIALIZED (SELECT doc_id, ${cnt("th")} AS cnt FROM dt),
           |e AS MATERIALIZED (SELECT doc_id, $emb AS emb FROM dc),
           |$perProbe
           |$unions
           |ORDER BY probe_id, rrf DESC, doc_id""".stripMargin
  }

  private def tokenized(s: SparkSession, dir: String) =
    tbl(s, dir, "documents")
      .select(col("doc_id"), TF.tokens(col("text")).as("toks"))
      .withColumn("dl", size(col("toks")))

  /** Late-interaction token-vector dimensionality (q_maxsim family). */
  private val MaxSimDim = 16

  /** Deterministic hash-derived token vector (the LSH-plane recipe applied
    * per token): component d mixes polyHash(tok) with an integer formula
    * both engines replay exactly; magnitudes are irrelevant (cosine
    * normalizes), direction is token-determined. */
  private def tokVecCol(t: Column): Column = array((0 until MaxSimDim).map { d =>
    ((((TF.polyHash(t) + lit((d + 1) * 1000003L)) * lit(2654435761L))
      % lit(4294967296L) % lit(2001L) - lit(1000L)).cast("double") / lit(1000.0))
      .cast("float")
  }: _*)

  /** [[tokVecCol]] driver-side (bit-identical Long math). */
  private def tokVecLocal(t: String): Array[Float] = {
    val g = graft.functions.TextHashOps.polyHash(
      org.apache.spark.unsafe.types.UTF8String.fromString(t))
    Array.tabulate(MaxSimDim) { d =>
      val z = ((g + (d + 1) * 1000003L) * 2654435761L) % 4294967296L % 2001L - 1000L
      (z.toDouble / 1000.0).toFloat
    }
  }

  /** Stage-1 of q_maxsim_rerank — CANDIDATE GENERATION: the corpus-scale
    * pass (tokenize, pooled hash-embedding, cosine against the standing
    * query, TakeOrdered top-50). This is the phase that scales with the
    * corpus — a production late-interaction system precomputes it as an
    * index — so the bench split labels it `build` and [[maxsimRerank]]
    * `probe` (the number that must stay flat at any corpus size). */
  private[graft] def maxsimCandidates(s: SparkSession, dir: String): org.apache.spark.sql.DataFrame = {
    import s.implicits._
    val qe: Array[Float] = Seq(QueryTerms.mkString(" ")).toDF("t")
      .select(TF.hashEmbed(TF.tokens(col("t")), EmbDim).as("e"))
      .head().getSeq[Float](0).toArray
    tokenized(s, dir)
      .select(col("doc_id"), col("toks"), TF.hashEmbed(col("toks"), EmbDim).as("emb"))
      .withColumn("rel", VF.cosine(col("emb"), typedlit(qe)))
      .orderBy(desc("rel"), asc("doc_id")).limit(50)
      .select(col("doc_id"), col("rel"), col("toks"))
  }

  /** Stage-2 of q_maxsim_rerank — the per-token MaxSim rerank over the
    * candidate frame ONLY: cost bounded by shortlist × doc length at ANY
    * corpus size. */
  private[graft] def maxsimRerank(cand: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val toks50 = cand
      .select(col("doc_id"), col("rel"), explode(array_distinct(col("toks"))).as("tok"))
      .withColumn("dv", tokVecCol(col("tok")))
    val maxes = QueryTerms.zipWithIndex.map { case (t, i) =>
      max(VF.cosine(col("dv"), typedlit(tokVecLocal(t)))).as(s"m$i")
    }
    val score = QueryTerms.indices.map(i => col(s"m$i")).reduce(_ + _)
    toks50.groupBy("doc_id", "rel")
      .agg(maxes.head, maxes.tail: _*)
      .withColumn("score_raw", score)
      .orderBy(desc("score_raw"), asc("doc_id"))
      .limit(10)
      .select(col("doc_id"), round(col("rel"), 6).as("rel"),
        round(col("score_raw"), 6).as("maxsim"))
  }

  /** [[tokVecCol]] in DuckDB SQL over a hash expression `g`. */
  private def tokVecSql(g: String): String =
    s"list_transform(range(0, $MaxSimDim), d -> CAST(CAST(((($g + (d+1)*1000003) * 2654435761) " +
      s"% 4294967296) % 2001 - 1000 AS DOUBLE) / 1000.0 AS FLOAT))"

  /** int8 quantization code for one dimension, identical double math on the
    * Spark, oracle, and driver sides: floor((x-mn)*256/(mx-mn)) clamped. */
  private[graft] def quantize(x: Double, mn: Double, mx: Double): Long =
    if (mx <= mn) 0L else math.min(255L, math.floor((x - mn) * 256.0 / (mx - mn)).toLong)

  private def quantSql(x: String): String =
    s"CASE WHEN s.mx <= s.mn THEN 0 ELSE least(255, CAST(floor((CAST($x AS DOUBLE) - s.mn) * 256.0 / (s.mx - s.mn)) AS BIGINT)) END"

  val all: Seq[Q] = Seq(

    // Filtered ANN — the `where=` metadata predicate Chroma exposes but the
    // reference never exercises (/root/reference/src/cod.py:95 attaches
    // metadata, never filters). The label filter reaches the parquet scan as
    // PushedFilters: In(label, ...), so at 100 TB only matching row groups
    // are read before any vector math runs.
    Q(
      "q_ann_filtered",
      "metadata-filtered kNN: label IN (2,5,7) pushed to scan, cosine top-5",
      (s, dir) => {
        val e = tbl(s, dir, "embeddings")
        val qe: Array[Float] = e.filter(col("vec_id") === 0)
          .select(col("embedding")).head().getSeq[Float](0).toArray
        e.filter(col("label").isin(2, 5, 7) && col("vec_id") =!= 0)
          .withColumn("cos_raw", VF.cosine(col("embedding"), typedlit(qe)))
          .orderBy(desc("cos_raw"), asc("vec_id"))
          .limit(5)
          .select(col("vec_id"), col("label"), round(col("cos_raw"), 6).as("cos"))
      },
      Some {
        val cos = OracleSql.cosine("e.embedding", "probe.qe")
        s"""WITH probe AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0)
           |SELECT e.vec_id, e.label, round($cos, 6) AS cos
           |FROM embeddings e CROSS JOIN probe
           |WHERE e.label IN (2, 5, 7) AND e.vec_id <> 0
           |ORDER BY $cos DESC, e.vec_id LIMIT 5""".stripMargin
      }),

    // Document-text-filtered kNN — Chroma's `where_document={"$contains"}`
    // predicate (the API twin of q_ann_filtered's metadata `where=`): the
    // substring filter applies BEFORE the vector math, so the similarity
    // kernel scores only the surviving slice.
    Q(
      "q_ann_where_doc",
      "where_document contains-filtered kNN over hash-embedded docs, top-5",
      (s, dir) => {
        val docs = tbl(s, dir, "documents")
          .select(col("doc_id"), col("text"), TF.tokens(col("text")).as("toks"))
          .select(col("doc_id"), col("text"), TF.hashEmbed(col("toks"), EmbDim).as("emb"))
        val probe = docs.filter(col("doc_id") === 0).select(col("emb").as("qe"))
        docs.crossJoin(broadcast(probe))
          .filter(col("doc_id") =!= 0 && col("text").contains("stream"))
          .withColumn("cos_raw", VF.cosine(col("emb"), col("qe")))
          .orderBy(desc("cos_raw"), asc("doc_id"))
          .limit(5)
          .select(col("doc_id"), round(col("cos_raw"), 6).as("cos"))
      },
      Some {
        val th = OracleText.tokenHashes(OracleText.tokens("text"))
        val cnt = s"list_transform(range(0, $EmbDim), j -> " +
          s"CAST(len(list_filter(th, h -> h % $EmbDim = j)) AS DOUBLE))"
        val nsq = "list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list_transform(cnt, c -> c*c)), (x, y) -> x + y)"
        val emb = s"CASE WHEN $nsq = 0 THEN list_transform(cnt, c -> CAST(c AS FLOAT)) " +
          s"ELSE list_transform(cnt, c -> CAST(c / sqrt($nsq) AS FLOAT)) END"
        val cos = OracleSql.cosine("e.emb", "probe.qe")
        s"""WITH t AS MATERIALIZED (SELECT doc_id, $th AS th FROM documents),
           |c AS MATERIALIZED (SELECT doc_id, $cnt AS cnt FROM t),
           |e AS MATERIALIZED (SELECT doc_id, $emb AS emb FROM c),
           |probe AS (SELECT emb AS qe FROM e WHERE doc_id = 0)
           |SELECT e.doc_id, round($cos, 6) AS cos
           |FROM e JOIN documents d USING (doc_id) CROSS JOIN probe
           |WHERE e.doc_id <> 0 AND contains(d.text, 'stream')
           |ORDER BY $cos DESC, e.doc_id LIMIT 5""".stripMargin
      }),

    // Scalar-quantized ANN: per-dimension min/max (index metadata) map each
    // float to an int8 code; search is integer L2 over codes — EXACT integer
    // arithmetic, so Spark and DuckDB hash-match without rounding. The scan
    // is narrow (transform + zip_with + aggregate, all codegen HOFs) into
    // TakeOrdered.
    Q(
      "q_ann_sq8",
      "int8 scalar-quantized ANN: per-dim min/max codes, integer-L2 top-5",
      (s, dir) => {
        val e = tbl(s, dir, "embeddings")
        // Index-build pass: 64 (dim, min, max) rows — a map-reduce whose
        // output is driver-resident metadata at any corpus size.
        val stats = e.select(posexplode(col("embedding")).as(Seq("d", "x")))
          .groupBy("d").agg(min("x").as("mn"), max("x").as("mx"))
          .collect().map(r => (r.getInt(0), r.getFloat(1).toDouble, r.getFloat(2).toDouble))
          .sortBy(_._1)
        val mn = stats.map(_._2)
        val mx = stats.map(_._3)
        val qe: Array[Float] = e.filter(col("vec_id") === 0)
          .select(col("embedding")).head().getSeq[Float](0).toArray
        val qCodes: Array[Long] = Array.tabulate(EmbDim)(d => quantize(qe(d), mn(d), mx(d)))
        val mnLit = typedlit(mn)
        val mxLit = typedlit(mx)
        val codes = transform(col("embedding"), (x, i) => {
          val m = element_at(mnLit, i + 1)
          val hi = element_at(mxLit, i + 1)
          when(hi <= m, lit(0L)).otherwise(
            least(lit(255.0), floor((x.cast("double") - m) * lit(256.0) / (hi - m))).cast("long"))
        })
        e.filter(col("vec_id") =!= 0)
          .withColumn("qdist",
            aggregate(zip_with(codes, typedlit(qCodes), (a, b) => (a - b) * (a - b)),
              lit(0L), (acc, v) => acc + v))
          .orderBy(asc("qdist"), asc("vec_id"))
          .limit(5)
          .select(col("vec_id"), col("qdist"))
      },
      Some {
        s"""WITH dims AS (SELECT unnest(range(1, ${EmbDim + 1})) AS d),
           |stats AS MATERIALIZED (
           |  SELECT d, min(CAST(e.embedding[d] AS DOUBLE)) AS mn, max(CAST(e.embedding[d] AS DOUBLE)) AS mx
           |  FROM embeddings e CROSS JOIN dims GROUP BY d),
           |probe AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
           |qcodes AS MATERIALIZED (
           |  SELECT s.d, ${quantSql("probe.qe[s.d]")} AS qc
           |  FROM stats s CROSS JOIN probe),
           |codes AS (
           |  SELECT e.vec_id, s.d, ${quantSql("e.embedding[s.d]")} AS c
           |  FROM embeddings e CROSS JOIN stats s WHERE e.vec_id <> 0)
           |SELECT codes.vec_id, CAST(sum((c - qc) * (c - qc)) AS BIGINT) AS qdist
           |FROM codes JOIN qcodes ON codes.d = qcodes.d
           |GROUP BY codes.vec_id
           |ORDER BY qdist ASC, codes.vec_id LIMIT 5""".stripMargin
      }),

    // BM25 keyword ranking: corpus stats (N, avgdl, per-term df) fold into
    // the scoring expression as literals; per-doc scoring is then a narrow
    // codegen scan (tf via size∘filter over the token array) ending in
    // TakeOrdered. The per-term contributions sum left-to-right in the
    // QueryTerms order on both engines.
    Q(
      "q_bm25",
      "BM25 keyword top-10 for a 4-term query (k1=1.2, b=0.75)",
      (s, dir) => {
        val docs = tokenized(s, dir)
        val (_, avgdl, idf) = bm25Stats(docs)
        withBm25(docs, idf, avgdl, "score_raw")
          .orderBy(desc("score_raw"), asc("doc_id"))
          .limit(10)
          .select(col("doc_id"), col("dl"), round(col("score_raw"), 4).as("bm25"))
      },
      Some {
        s"""WITH d AS MATERIALIZED (
           |  SELECT doc_id, toks, len(toks) AS dl FROM (
           |    SELECT doc_id, ${OracleText.tokens("text")} AS toks FROM documents))
           |SELECT doc_id, dl, round(${bm25Sql("toks", "dl")}, 4) AS bm25
           |FROM d
           |ORDER BY ${bm25Sql("toks", "dl")} DESC, doc_id LIMIT 10""".stripMargin
      }),

    // MaxScore-pruned BM25 — the classic top-k IR optimization, proven
    // ANSWER-IDENTICAL to the full scan by reusing q_bm25's oracle
    // verbatim. Per-term MAX IMPACT (the largest contribution the term
    // makes in ANY document — what impact-ordered posting lists store) is
    // index metadata computed in one aggregate beside df/avgdl; a doc
    // whose SUM of present-term max impacts is below θ — the 10th-best
    // EXACT score among docs containing the rarest query term — can never
    // reach the top-10, so exact scoring runs only on survivors. The
    // pruning pass needs only `array_contains` per term (no tf counting,
    // no divisions): at 100 TB that is a cheap boolean scan vs full tf
    // scoring. (The naive tf→∞ bound idf·(k1+1) pruned only 25% here;
    // max impact prunes 53% on this topic-homogeneous synthetic corpus where every query term is common; sparser real queries prune far more — measured in SearchSpec, which re-derives
    // the bound independently.) Degenerate safety: fewer than 10
    // candidates → θ = -∞ → no pruning, still exact.
    Q(
      "q_bm25_maxscore",
      "MaxScore-pruned BM25 top-10 — impact-bound-pruned scan, identical answer to q_bm25",
      (s, dir) => {
        val docs = tokenized(s, dir)
        val (_, avgdl, idf) = bm25Stats(docs)
        // index metadata pass: per-term max impact over the corpus
        val staged = QueryTerms.zipWithIndex.foldLeft(docs) { case (df, (t, i)) =>
          df.withColumn(s"__tf_$i", TF.termFreq(col("toks"), t).cast("double"))
        }
        val mcAggs = QueryTerms.zipWithIndex.map { case (t, i) =>
          val tf = col(s"__tf_$i")
          max(when(tf > 0, lit(idf(t)) * ((tf * lit(K1 + 1.0)) /
            (tf + lit(K1) * (lit(1.0 - B) + lit(B) * col("dl").cast("double") / lit(avgdl)))))
            .otherwise(lit(0.0))).as(s"mc_$i")
        }
        val mcRow = staged.agg(mcAggs.head, mcAggs.tail: _*).head()
        val mc: Map[String, Double] =
          QueryTerms.zipWithIndex.map { case (t, i) => t -> mcRow.getDouble(i) }.toMap
        val rarest = QueryTerms.maxBy(idf)
        val thetaRows = withBm25(docs.filter(array_contains(col("toks"), rarest)),
          idf, avgdl, "score_raw")
          .orderBy(desc("score_raw")).limit(10)
          .select(col("score_raw")).collect().map(_.getDouble(0))
        val theta = if (thetaRows.length == 10) thetaRows.min else Double.NegativeInfinity
        val ub = QueryTerms.map(t =>
          when(array_contains(col("toks"), t), lit(mc(t))).otherwise(lit(0.0)))
          .reduce(_ + _)
        withBm25(docs.filter(ub >= theta), idf, avgdl, "score_raw")
          .orderBy(desc("score_raw"), asc("doc_id"))
          .limit(10)
          .select(col("doc_id"), col("dl"), round(col("score_raw"), 4).as("bm25"))
      },
      Some {
        // q_bm25's oracle verbatim: the optimized path must produce the
        // SAME rows, hash-equal — that equality IS the lossless-pruning
        // proof, re-checked every round
        s"""WITH d AS MATERIALIZED (
           |  SELECT doc_id, toks, len(toks) AS dl FROM (
           |    SELECT doc_id, ${OracleText.tokens("text")} AS toks FROM documents))
           |SELECT doc_id, dl, round(${bm25Sql("toks", "dl")}, 4) AS bm25
           |FROM d
           |ORDER BY ${bm25Sql("toks", "dl")} DESC, doc_id LIMIT 10""".stripMargin
      }),

    // Persistent inverted index (store.TextIndex): postings partitioned by
    // term-hash bucket so the query prunes to its terms' partition dirs —
    // the BM25 twin of the IVF cell probe. Per-posting contributions are
    // QUANTIZED to integers before the per-doc sum (commutative, so the
    // distributed aggregation is exact and the oracle replays it
    // bit-for-bit); ranking is on the integer sum, immune to 1-ulp libm
    // drift. The oracle rebuilds postings for the query terms from the raw
    // corpus and scores through the identical quantized pipeline.
    Q(
      "q_text_index",
      "disk inverted index: bucket-pruned postings scan, quantized BM25 top-10",
      (s, dir) => {
        val base = graft.store.Scratch.dir("graft_tidx")
        val idx = new graft.store.TextIndex(s, base, numBuckets = 8)
        idx.build(tbl(s, dir, "documents").select("doc_id", "text"))
        idx.query(QueryTerms, 10)
      },
      Some {
        val n = "(SELECT CAST(count(*) AS BIGINT) FROM d)"
        val avgdl = s"(SELECT CAST(CAST(sum(dl) AS BIGINT) AS DOUBLE) FROM d) / CAST($n AS DOUBLE)"
        val idfCase = QueryTerms.map { t =>
          val df = s"(SELECT CAST(count(*) AS BIGINT) FROM d WHERE list_contains(toks, '$t'))"
          val idf = s"ln((CAST($n AS DOUBLE) - CAST($df AS DOUBLE) + 0.5) / (CAST($df AS DOUBLE) + 0.5) + 1.0)"
          s"WHEN term = '$t' THEN $idf"
        }.mkString("CASE ", " ", " END")
        val termList = QueryTerms.map(t => s"'$t'").mkString(", ")
        s"""WITH d AS MATERIALIZED (
           |  SELECT doc_id, toks, len(toks) AS dl FROM (
           |    SELECT doc_id, ${OracleText.tokens("text")} AS toks FROM documents)),
           |p AS (SELECT doc_id, dl, unnest(toks) AS term FROM d),
           |tf AS (SELECT term, doc_id, dl, CAST(count(*) AS BIGINT) AS tf
           |       FROM p WHERE term IN ($termList) GROUP BY 1, 2, 3),
           |c AS (SELECT doc_id, dl,
           |        CAST(round(($idfCase) *
           |          ((CAST(tf AS DOUBLE) * ${K1 + 1.0}) /
           |           (CAST(tf AS DOUBLE) + $K1 * (${1.0 - B} + $B * CAST(dl AS DOUBLE) / ($avgdl))))
           |          * 1048576.0) AS BIGINT) AS cq
           |      FROM tf),
           |q AS (SELECT doc_id, dl, CAST(sum(cq) AS BIGINT) AS sq
           |      FROM c GROUP BY doc_id, dl)
           |SELECT doc_id, dl, round(CAST(sq AS DOUBLE) / 1048576.0, 4) AS bm25q
           |FROM q ORDER BY sq DESC, doc_id LIMIT 10""".stripMargin
      }),

    // Exact-phrase ranked search over the positional postings of the disk
    // inverted index — the most user-visible search surface ("quoted
    // phrase"). The index stores sorted position arrays per (term, doc);
    // a phrase occurrence at start s exists iff every slot j finds its
    // term at s + j, so the probe is: bucket-pruned postings of the
    // phrase's terms (PartitionFilters, same pruning as q_text_index),
    // positions shifted by slot offset, (doc, start) groups covering all
    // slots counted per doc. Exact integer occurrence counts — the oracle
    // replays positions relationally from the raw corpus.
    Q(
      "q_phrase",
      "exact-phrase ranked search from bucket-pruned positional postings",
      (s, dir) => {
        val base = graft.store.Scratch.dir("graft_tidx_ph")
        val idx = new graft.store.TextIndex(s, base, numBuckets = 8)
        idx.build(tbl(s, dir, "documents").select("doc_id", "text"))
        idx.phraseQuery(PhraseTerms, PhraseK)
      },
      Some {
        val slotRows = PhraseTerms.zipWithIndex
          .map { case (t, j) => s"('$t', $j)" }.mkString(", ")
        s"""WITH d AS MATERIALIZED (
           |  SELECT doc_id, ${OracleText.tokens("text")} AS toks FROM documents),
           |i AS (SELECT doc_id, unnest(range(1, len(toks) + 1)) AS i1, toks FROM d),
           |tok AS (SELECT doc_id, CAST(i1 AS INT) - 1 AS p,
           |               toks[CAST(i1 AS INT)] AS term FROM i),
           |s AS (SELECT t.doc_id, t.p - sl.j AS start, sl.j
           |      FROM tok t JOIN (VALUES $slotRows) AS sl(term, j) ON t.term = sl.term),
           |occ AS (SELECT doc_id, start FROM s
           |        GROUP BY doc_id, start HAVING count(DISTINCT j) = ${PhraseTerms.length})
           |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_occ
           |FROM occ GROUP BY doc_id ORDER BY n_occ DESC, doc_id LIMIT $PhraseK""".stripMargin
      }),

    // Proximity ranked search (NEAR/n) over the positional postings — the
    // second user-visible surface positions buy: docs where two terms
    // co-occur within a token window, ranked by the exact integer count
    // of qualifying position pairs. Same bucket-pruned serving shape as
    // q_phrase; the per-doc position join is tf(A)x tf(B)-bounded.
    Q(
      "q_near",
      "proximity (NEAR/3) ranked search from bucket-pruned positional postings",
      (s, dir) => {
        val base = graft.store.Scratch.dir("graft_tidx_nr")
        val idx = new graft.store.TextIndex(s, base, numBuckets = 8)
        idx.build(tbl(s, dir, "documents").select("doc_id", "text"))
        idx.nearQuery(NearTerms._1, NearTerms._2, window = NearWindow, k = NearK)
      },
      Some {
        s"""WITH d AS MATERIALIZED (
           |  SELECT doc_id, ${OracleText.tokens("text")} AS toks FROM documents),
           |i AS (SELECT doc_id, unnest(range(1, len(toks) + 1)) AS i1, toks FROM d),
           |tok AS (SELECT doc_id, CAST(i1 AS INT) - 1 AS p,
           |               toks[CAST(i1 AS INT)] AS term FROM i),
           |a AS (SELECT doc_id, p AS pa FROM tok WHERE term = '${NearTerms._1}'),
           |b AS (SELECT doc_id, p AS pb FROM tok WHERE term = '${NearTerms._2}'),
           |pairs AS (SELECT a.doc_id FROM a JOIN b ON a.doc_id = b.doc_id
           |          WHERE abs(a.pa - b.pb) <= $NearWindow)
           |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_pairs
           |FROM pairs GROUP BY doc_id ORDER BY n_pairs DESC, doc_id LIMIT $NearK""".stripMargin
      }),

    // Ranked BOOLEAN retrieval over the disk inverted index — Lucene's
    // MUST / SHOULD / MUST_NOT model, the filter layer every search box
    // composes with ranking: result docs contain every MUST term and no
    // MUST_NOT term, ranked by q_text_index's exact quantized BM25 over
    // the present scoring (MUST ++ SHOULD) terms. ONE bucket+term-pruned
    // scan over all three clauses' terms feeds the score sum, the MUST
    // membership count, and the MUST_NOT exclusion set; every frame is
    // df-bounded by the QUERIED terms, every join keyed on doc_id. The
    // oracle replays the same quantized pipeline and applies the clause
    // predicates on the token arrays.
    Q(
      "q_boolean",
      "boolean retrieval (MUST/SHOULD/MUST_NOT) with quantized BM25 ranking",
      (s, dir) => {
        val base = graft.store.Scratch.dir("graft_tidx_bq")
        val idx = new graft.store.TextIndex(s, base, numBuckets = 8)
        idx.build(tbl(s, dir, "documents").select("doc_id", "text"))
        idx.booleanQuery(BoolMust, BoolShould, BoolNot, BoolK)
      },
      Some {
        val scoreTerms = (BoolMust ++ BoolShould).distinct
        val n = "(SELECT CAST(count(*) AS BIGINT) FROM d)"
        val avgdl = s"(SELECT CAST(CAST(sum(dl) AS BIGINT) AS DOUBLE) FROM d) / CAST($n AS DOUBLE)"
        val idfCase = scoreTerms.map { t =>
          val df = s"(SELECT CAST(count(*) AS BIGINT) FROM d WHERE list_contains(toks, '$t'))"
          val idf = s"ln((CAST($n AS DOUBLE) - CAST($df AS DOUBLE) + 0.5) / (CAST($df AS DOUBLE) + 0.5) + 1.0)"
          s"WHEN term = '$t' THEN $idf"
        }.mkString("CASE ", " ", " END")
        val termList = scoreTerms.map(t => s"'$t'").mkString(", ")
        val mustPred = BoolMust.map(t => s"list_contains(d.toks, '$t')").mkString(" AND ")
        val notPred = BoolNot.map(t => s"NOT list_contains(d.toks, '$t')").mkString(" AND ")
        s"""WITH d AS MATERIALIZED (
           |  SELECT doc_id, toks, len(toks) AS dl FROM (
           |    SELECT doc_id, ${OracleText.tokens("text")} AS toks FROM documents)),
           |p AS (SELECT doc_id, dl, unnest(toks) AS term FROM d),
           |tf AS (SELECT term, doc_id, dl, CAST(count(*) AS BIGINT) AS tf
           |       FROM p WHERE term IN ($termList) GROUP BY 1, 2, 3),
           |c AS (SELECT doc_id, dl,
           |        CAST(round(($idfCase) *
           |          ((CAST(tf AS DOUBLE) * ${K1 + 1.0}) /
           |           (CAST(tf AS DOUBLE) + $K1 * (${1.0 - B} + $B * CAST(dl AS DOUBLE) / ($avgdl))))
           |          * 1048576.0) AS BIGINT) AS cq
           |      FROM tf),
           |q AS (SELECT doc_id, dl, CAST(sum(cq) AS BIGINT) AS sq
           |      FROM c GROUP BY doc_id, dl),
           |f AS (SELECT q.doc_id, q.dl, q.sq FROM q JOIN d ON q.doc_id = d.doc_id
           |      WHERE $mustPred AND $notPred)
           |SELECT doc_id, dl, round(CAST(sq AS DOUBLE) / 1048576.0, 4) AS bm25q
           |FROM f ORDER BY sq DESC, doc_id LIMIT $BoolK""".stripMargin
      }),

    // Ranked PREFIX search (the autocomplete box) — Lucene's MultiTermQuery
    // rewrite made deterministic: expand the prefix against the
    // VOCABULARY-bounded term dictionary (_termstats, never the postings),
    // cap at MaxExpansions by (df desc, term asc), then run q_text_index's
    // quantized BM25 over the expansion as a multi-term OR. The oracle
    // replays the expansion (including the cap's tie-break) and the scoring
    // pipeline relationally.
    Q(
      "q_prefix",
      "prefix (autocomplete) search: df-capped term expansion + quantized BM25",
      (s, dir) => {
        val base = graft.store.Scratch.dir("graft_tidx_px")
        val idx = new graft.store.TextIndex(s, base, numBuckets = 8)
        idx.build(tbl(s, dir, "documents").select("doc_id", "text"))
        idx.prefixQuery(PrefixStr, PrefixK, PrefixMax)
      },
      Some {
        val n = "(SELECT CAST(count(*) AS BIGINT) FROM d)"
        val avgdl = s"(SELECT CAST(CAST(sum(dl) AS BIGINT) AS DOUBLE) FROM d) / CAST($n AS DOUBLE)"
        val idf = s"ln((CAST($n AS DOUBLE) - CAST(e.df AS DOUBLE) + 0.5) / (CAST(e.df AS DOUBLE) + 0.5) + 1.0)"
        s"""WITH d AS MATERIALIZED (
           |  SELECT doc_id, toks, len(toks) AS dl FROM (
           |    SELECT doc_id, ${OracleText.tokens("text")} AS toks FROM documents)),
           |p AS (SELECT doc_id, dl, unnest(toks) AS term FROM d),
           |alltf AS (SELECT term, doc_id, dl, CAST(count(*) AS BIGINT) AS tf
           |          FROM p GROUP BY 1, 2, 3),
           |vocab AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM alltf GROUP BY term),
           |exp AS (SELECT term, df FROM vocab WHERE term LIKE '$PrefixStr%'
           |        ORDER BY df DESC, term ASC LIMIT $PrefixMax),
           |c AS (SELECT t.doc_id, t.dl,
           |        CAST(round(($idf) *
           |          ((CAST(t.tf AS DOUBLE) * ${K1 + 1.0}) /
           |           (CAST(t.tf AS DOUBLE) + $K1 * (${1.0 - B} + $B * CAST(t.dl AS DOUBLE) / ($avgdl))))
           |          * 1048576.0) AS BIGINT) AS cq
           |      FROM alltf t JOIN exp e ON t.term = e.term),
           |q AS (SELECT doc_id, dl, CAST(sum(cq) AS BIGINT) AS sq
           |      FROM c GROUP BY doc_id, dl)
           |SELECT doc_id, dl, round(CAST(sq AS DOUBLE) / 1048576.0, 4) AS bm25q
           |FROM q ORDER BY sq DESC, doc_id LIMIT $PrefixK""".stripMargin
      }),

    // The FULL search-box grammar in one query: a quoted MUST-phrase
    // filters on exact consecutive positions (and its terms join the
    // scoring), a bare SHOULD term broadens the ranking, a -term excludes.
    // The phrase constraint is a doc_id semi-join of q_phrase's
    // df-bounded occurrence frame onto q_boolean's one-scan aggregation.
    // The oracle composes the q_text_index scoring replay with q_phrase's
    // positional replay and the clause predicates.
    Q(
      "q_boolean_phrase",
      "search-box grammar: '\"table hash\" vector -slow' — phrase filter + BM25",
      (s, dir) => {
        val base = graft.store.Scratch.dir("graft_tidx_bp")
        val idx = new graft.store.TextIndex(s, base, numBuckets = 8)
        idx.build(tbl(s, dir, "documents").select("doc_id", "text"))
        idx.booleanQueryString(
          "\"" + PhraseTerms.mkString(" ") + "\" vector -slow", BoolK)
      },
      Some {
        val scoreTerms = (PhraseTerms :+ "vector").distinct
        val n = "(SELECT CAST(count(*) AS BIGINT) FROM d)"
        val avgdl = s"(SELECT CAST(CAST(sum(dl) AS BIGINT) AS DOUBLE) FROM d) / CAST($n AS DOUBLE)"
        val idfCase = scoreTerms.map { t =>
          val df = s"(SELECT CAST(count(*) AS BIGINT) FROM d WHERE list_contains(toks, '$t'))"
          val idf = s"ln((CAST($n AS DOUBLE) - CAST($df AS DOUBLE) + 0.5) / (CAST($df AS DOUBLE) + 0.5) + 1.0)"
          s"WHEN term = '$t' THEN $idf"
        }.mkString("CASE ", " ", " END")
        val termList = scoreTerms.map(t => s"'$t'").mkString(", ")
        val slotRows = PhraseTerms.zipWithIndex
          .map { case (t, j) => s"('$t', $j)" }.mkString(", ")
        s"""WITH d AS MATERIALIZED (
           |  SELECT doc_id, toks, len(toks) AS dl FROM (
           |    SELECT doc_id, ${OracleText.tokens("text")} AS toks FROM documents)),
           |p AS (SELECT doc_id, dl, unnest(toks) AS term FROM d),
           |tf AS (SELECT term, doc_id, dl, CAST(count(*) AS BIGINT) AS tf
           |       FROM p WHERE term IN ($termList) GROUP BY 1, 2, 3),
           |c AS (SELECT doc_id, dl,
           |        CAST(round(($idfCase) *
           |          ((CAST(tf AS DOUBLE) * ${K1 + 1.0}) /
           |           (CAST(tf AS DOUBLE) + $K1 * (${1.0 - B} + $B * CAST(dl AS DOUBLE) / ($avgdl))))
           |          * 1048576.0) AS BIGINT) AS cq
           |      FROM tf),
           |q AS (SELECT doc_id, dl, CAST(sum(cq) AS BIGINT) AS sq
           |      FROM c GROUP BY doc_id, dl),
           |i AS (SELECT doc_id, unnest(range(1, len(toks) + 1)) AS i1, toks FROM d),
           |tok AS (SELECT doc_id, CAST(i1 AS INT) - 1 AS pp,
           |               toks[CAST(i1 AS INT)] AS term FROM i),
           |sl AS (SELECT t.doc_id, t.pp - v.j AS start, v.j
           |       FROM tok t JOIN (VALUES $slotRows) AS v(term, j) ON t.term = v.term),
           |pdocs AS (SELECT DISTINCT doc_id FROM (
           |            SELECT doc_id, start FROM sl
           |            GROUP BY doc_id, start
           |            HAVING count(DISTINCT j) = ${PhraseTerms.length})),
           |f AS (SELECT q.doc_id, q.dl, q.sq FROM q
           |      JOIN d ON q.doc_id = d.doc_id
           |      WHERE q.doc_id IN (SELECT doc_id FROM pdocs)
           |        AND NOT list_contains(d.toks, 'slow'))
           |SELECT doc_id, dl, round(CAST(sq AS DOUBLE) / 1048576.0, 4) AS bm25q
           |FROM f ORDER BY sq DESC, doc_id LIMIT $BoolK""".stripMargin
      }),

    // Snippet/highlight OFFSETS over the disk index — the last stage of a
    // search UI: for each of the BM25 top-10 docs, the best 16-token
    // window (max DISTINCT query terms, ties to the earliest start),
    // computed from the positional postings pruned to the query terms'
    // buckets AND the 10 ranked ids — cost bounded by the ANSWER, never
    // the corpus. The oracle replays ranking, positions, window
    // expansion, and the (n desc, start asc) choice relationally.
    Q(
      "q_snippet",
      "highlight offsets: best window per ranked doc from positional postings",
      (s, dir) => {
        val base = graft.store.Scratch.dir("graft_tidx_sn")
        val idx = new graft.store.TextIndex(s, base, numBuckets = 8)
        idx.build(tbl(s, dir, "documents").select("doc_id", "text"))
        idx.highlight(QueryTerms, k = 10, window = SnippetWindow)
      },
      Some {
        val n = "(SELECT CAST(count(*) AS BIGINT) FROM d)"
        val avgdl = s"(SELECT CAST(CAST(sum(dl) AS BIGINT) AS DOUBLE) FROM d) / CAST($n AS DOUBLE)"
        val idfCase = QueryTerms.map { t =>
          val df = s"(SELECT CAST(count(*) AS BIGINT) FROM d WHERE list_contains(toks, '$t'))"
          val idf = s"ln((CAST($n AS DOUBLE) - CAST($df AS DOUBLE) + 0.5) / (CAST($df AS DOUBLE) + 0.5) + 1.0)"
          s"WHEN term = '$t' THEN $idf"
        }.mkString("CASE ", " ", " END")
        val termList = QueryTerms.map(t => s"'$t'").mkString(", ")
        s"""WITH d AS MATERIALIZED (
           |  SELECT doc_id, toks, len(toks) AS dl FROM (
           |    SELECT doc_id, ${OracleText.tokens("text")} AS toks FROM documents)),
           |p AS (SELECT doc_id, dl, unnest(toks) AS term FROM d),
           |tf AS (SELECT term, doc_id, dl, CAST(count(*) AS BIGINT) AS tf
           |       FROM p WHERE term IN ($termList) GROUP BY 1, 2, 3),
           |c AS (SELECT doc_id, dl,
           |        CAST(round(($idfCase) *
           |          ((CAST(tf AS DOUBLE) * ${K1 + 1.0}) /
           |           (CAST(tf AS DOUBLE) + $K1 * (${1.0 - B} + $B * CAST(dl AS DOUBLE) / ($avgdl))))
           |          * 1048576.0) AS BIGINT) AS cq
           |      FROM tf),
           |q AS (SELECT doc_id, dl, CAST(sum(cq) AS BIGINT) AS sq
           |      FROM c GROUP BY doc_id, dl),
           |top AS (SELECT doc_id, dl, sq FROM q ORDER BY sq DESC, doc_id LIMIT 10),
           |i AS (SELECT doc_id, unnest(range(1, len(toks) + 1)) AS i1, toks FROM d
           |      WHERE doc_id IN (SELECT doc_id FROM top)),
           |tok AS (SELECT doc_id, CAST(i1 AS INT) - 1 AS pp,
           |               toks[CAST(i1 AS INT)] AS term FROM i),
           |hit AS (SELECT DISTINCT doc_id, term, pp FROM tok WHERE term IN ($termList)),
           |win AS (SELECT doc_id, CAST(s AS BIGINT) AS s,
           |               CAST(count(DISTINCT term) AS BIGINT) AS n_terms
           |        FROM (SELECT doc_id, term,
           |                unnest(range(greatest(pp - ${SnippetWindow - 1}, 0), pp + 1)) AS s
           |              FROM hit)
           |        GROUP BY 1, 2),
           |best AS (SELECT doc_id, s AS start, n_terms FROM (
           |           SELECT doc_id, s, n_terms,
           |                  row_number() OVER (PARTITION BY doc_id
           |                    ORDER BY n_terms DESC, s ASC) AS rn
           |           FROM win) WHERE rn = 1)
           |SELECT t.doc_id, t.dl, round(CAST(t.sq AS DOUBLE) / 1048576.0, 4) AS bm25q,
           |       b.start, b.n_terms
           |FROM top t JOIN best b ON t.doc_id = b.doc_id
           |ORDER BY bm25q DESC, t.doc_id""".stripMargin
      }),

    // PERCOLATION — reverse search (Elasticsearch's percolator): a
    // registry of STANDING boolean profiles matched against every
    // document, the alerting/routing primitive of an ingest pipeline.
    // Never a doc x profile cross join: documents explode to DISTINCT
    // (doc, term) pairs, the join key is the TERM (so only tokens
    // appearing in some profile clause survive), one (doc, profile)
    // aggregation decides all-musts + any-match, negations anti-join.
    // The oracle replays the clause semantics on the token arrays.
    Q(
      "q_percolate",
      "reverse search: standing boolean profiles matched against every doc",
      (s, dir) => {
        graft.operators.Percolate.matches(
            tbl(s, dir, "documents").select("doc_id", "text"), percProfilesDf(s))
          .orderBy("doc_id", "profile_id")
      },
      Some {
        def arr(ts: Seq[String]) =
          if (ts.isEmpty) "[]::VARCHAR[]"
          else ts.map(t => s"'$t'").mkString("[", ", ", "]")
        val rows = PercProfiles.map { case (pid, m, a, x) =>
          s"(CAST($pid AS BIGINT), ${arr(m)}, ${arr(a)}, ${arr(x)})"
        }.mkString(",\n  ")
        s"""WITH d AS (SELECT doc_id, list_distinct(${OracleText.tokens("text")}) AS toks
           |           FROM documents),
           |pr(profile_id, m, a, x) AS (VALUES
           |  $rows)
           |SELECT d.doc_id, pr.profile_id FROM d CROSS JOIN pr
           |WHERE list_has_all(d.toks, pr.m)
           |  AND (len(pr.a) = 0 OR list_has_any(d.toks, pr.a))
           |  AND NOT list_has_any(d.toks, pr.x)
           |ORDER BY doc_id, profile_id""".stripMargin
      }),

    // PERCOLATION WITH PHRASE CLAUSES — standing profiles gain quoted
    // phrases (the q_boolean_phrase grammar, run in reverse): a profile
    // fires only when its term clauses pass AND every phrase occurs at
    // consecutive positions. Matching stays term-keyed — the positional
    // stage runs ONLY on (doc, profile) pairs that survived the term
    // stage, pruned to candidate docs and phrase terms, never a
    // doc x profile cross join. The oracle replays the clause semantics
    // on the token arrays and the occurrence model on slot-shifted
    // positions.
    Q(
      "q_percolate_phrase",
      "reverse search with quoted phrases: term stage + positional verify",
      (s, dir) => {
        graft.operators.Percolate.matches(
            tbl(s, dir, "documents").select("doc_id", "text"),
            percPhraseProfilesDf(s))
          .orderBy("doc_id", "profile_id")
      },
      Some {
        def arr(ts: Seq[String]) =
          if (ts.isEmpty) "[]::VARCHAR[]"
          else ts.map(t => s"'$t'").mkString("[", ", ", "]")
        val prRows = PercPhraseProfiles.map { case (pid, m, a, x, ph) =>
          s"(CAST($pid AS BIGINT), ${arr(m)}, ${arr(a)}, ${arr(x)}, ${ph.length})"
        }.mkString(",\n  ")
        val slotRows = PercPhraseProfiles.flatMap { case (pid, _, _, _, ph) =>
          ph.zipWithIndex.flatMap { case (terms, pi) =>
            terms.zipWithIndex.map { case (t, j) =>
              s"(CAST($pid AS BIGINT), $pi, ${terms.length}, $j, '$t')"
            }
          }
        }.mkString(",\n  ")
        s"""WITH d AS MATERIALIZED (
           |  SELECT doc_id, ${OracleText.tokens("text")} AS toks FROM documents),
           |dd AS (SELECT doc_id, list_distinct(toks) AS dt FROM d),
           |pr(profile_id, m, a, x, np) AS (VALUES
           |  $prRows),
           |term_ok AS (
           |  SELECT dd.doc_id, pr.profile_id, pr.np FROM dd CROSS JOIN pr
           |  WHERE list_has_all(dd.dt, pr.m)
           |    AND (len(pr.a) = 0 OR list_has_any(dd.dt, pr.a))
           |    AND NOT list_has_any(dd.dt, pr.x)),
           |tok AS (SELECT doc_id, CAST(i1 AS BIGINT) - 1 AS pos,
           |               toks[CAST(i1 AS INT)] AS term
           |        FROM (SELECT doc_id, unnest(range(1, len(toks) + 1)) AS i1, toks
           |              FROM d)),
           |sl(profile_id, phrase_idx, plen, j, term) AS (VALUES
           |  $slotRows),
           |occ AS (SELECT t.doc_id, s.profile_id, s.phrase_idx
           |        FROM tok t JOIN sl s ON s.term = t.term
           |        GROUP BY t.doc_id, s.profile_id, s.phrase_idx, s.plen,
           |                 t.pos - s.j
           |        HAVING count(DISTINCT s.j) = s.plen),
           |pok AS (SELECT doc_id, profile_id,
           |               CAST(count(DISTINCT phrase_idx) AS INT) AS pf
           |        FROM occ GROUP BY 1, 2)
           |SELECT tk.doc_id, tk.profile_id
           |FROM term_ok tk
           |LEFT JOIN pok ON pok.doc_id = tk.doc_id AND pok.profile_id = tk.profile_id
           |WHERE tk.np = 0 OR coalesce(pok.pf, 0) = tk.np
           |ORDER BY tk.doc_id, tk.profile_id""".stripMargin
      }),

    // Hybrid retrieval: BM25 keyword shortlist + hash-embedding cosine
    // shortlist for the SAME query string, fused by reciprocal-rank fusion
    // rrf = Σ 1/(60+rank). Each leg is a bounded TakeOrderedAndProject
    // top-20 (no corpus-wide window), so the fusion join sees ≤40 rows at
    // any corpus size; ranks are integers, making the fused score exact.
    Q(
      "q_hybrid_rrf",
      "hybrid search: RRF fusion of BM25 and embedding-cosine top-20 lists",
      (s, dir) => {
        val docs = tokenized(s, dir)
        val (_, avgdl, idf) = bm25Stats(docs)
        val qText = QueryTerms.mkString(" ")
        import s.implicits._
        val qe: Array[Float] = Seq(qText).toDF("text")
          .select(TF.hashEmbed(TF.tokens(col("text")), EmbDim).as("e"))
          .head().getSeq[Float](0).toArray
        val kw = withBm25(docs, idf, avgdl, "score")
          .orderBy(desc("score"), asc("doc_id")).limit(ShortlistK)
          .withColumn("rank_kw", row_number().over(Window.orderBy(desc("score"), asc("doc_id"))))
          .select(col("doc_id"), col("rank_kw"))
        val sem = docs.select(col("doc_id"), TF.hashEmbed(col("toks"), EmbDim).as("emb"))
          .withColumn("cos", VF.cosine(col("emb"), typedlit(qe)))
          .orderBy(desc("cos"), asc("doc_id")).limit(ShortlistK)
          .withColumn("rank_sem", row_number().over(Window.orderBy(desc("cos"), asc("doc_id"))))
          .select(col("doc_id"), col("rank_sem"))
        kw.join(sem, Seq("doc_id"), "full_outer")
          .withColumn("rrf",
            coalesce(lit(1.0) / (lit(RrfK.toDouble) + col("rank_kw").cast("double")), lit(0.0)) +
              coalesce(lit(1.0) / (lit(RrfK.toDouble) + col("rank_sem").cast("double")), lit(0.0)))
          .orderBy(desc("rrf"), asc("doc_id"))
          .limit(10)
          .select(col("doc_id"),
            coalesce(col("rank_kw"), lit(0)).as("rank_kw"),
            coalesce(col("rank_sem"), lit(0)).as("rank_sem"),
            round(col("rrf"), 6).as("rrf"))
      },
      Some {
        val qText = QueryTerms.mkString(" ")
        // hash-embed fragments identical to q_embed_knn's oracle
        val th = OracleText.tokenHashes(OracleText.tokens("text"))
        def cnt(h: String) = s"list_transform(range(0, $EmbDim), j -> " +
          s"CAST(len(list_filter($h, h -> h % $EmbDim = j)) AS DOUBLE))"
        val nsq = "list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list_transform(cnt, c -> c*c)), (x, y) -> x + y)"
        val emb = s"CASE WHEN $nsq = 0 THEN list_transform(cnt, c -> CAST(c AS FLOAT)) " +
          s"ELSE list_transform(cnt, c -> CAST(c / sqrt($nsq) AS FLOAT)) END"
        val cos = OracleSql.cosine("e.emb", "q.qe")
        s"""WITH d AS MATERIALIZED (
           |  SELECT doc_id, toks, len(toks) AS dl FROM (
           |    SELECT doc_id, ${OracleText.tokens("text")} AS toks FROM documents)),
           |kw AS (
           |  SELECT doc_id, row_number() OVER (ORDER BY ${bm25Sql("toks", "dl")} DESC, doc_id) AS rank_kw
           |  FROM d ORDER BY ${bm25Sql("toks", "dl")} DESC, doc_id LIMIT $ShortlistK),
           |qt AS (SELECT ${OracleText.tokenHashes(OracleText.tokens(s"'$qText'"))} AS th),
           |qc AS (SELECT ${cnt("th")} AS cnt FROM qt),
           |q AS (SELECT $emb AS qe FROM qc),
           |dt AS MATERIALIZED (SELECT doc_id, $th AS th FROM documents),
           |dc AS MATERIALIZED (SELECT doc_id, ${cnt("th")} AS cnt FROM dt),
           |e AS MATERIALIZED (SELECT doc_id, $emb AS emb FROM dc),
           |sem AS (
           |  SELECT e.doc_id, row_number() OVER (ORDER BY $cos DESC, e.doc_id) AS rank_sem
           |  FROM e CROSS JOIN q ORDER BY $cos DESC, e.doc_id LIMIT $ShortlistK),
           |fused AS (
           |  SELECT coalesce(kw.doc_id, sem.doc_id) AS doc_id,
           |         coalesce(kw.rank_kw, 0) AS rank_kw,
           |         coalesce(sem.rank_sem, 0) AS rank_sem,
           |         coalesce(1.0 / ($RrfK.0 + CAST(kw.rank_kw AS DOUBLE)), 0.0) +
           |         coalesce(1.0 / ($RrfK.0 + CAST(sem.rank_sem AS DOUBLE)), 0.0) AS rrf
           |  FROM kw FULL OUTER JOIN sem ON kw.doc_id = sem.doc_id)
           |SELECT doc_id, rank_kw, rank_sem, round(rrf, 6) AS rrf
           |FROM fused ORDER BY rrf DESC, doc_id LIMIT 10""".stripMargin
      }),

    // q_hybrid_rrf served from the PERSISTED arms — the 100 TB hybrid
    // serving shape: the kw shortlist probes the postings TextIndex
    // (bucket-pruned, quantized INTEGER scores -> ranks immune to 1-ulp
    // float drift, the q_text_index discipline), the sem shortlist probes
    // the doc-embedding IVF at the probe's own calibrated exact depth
    // (cell-pruned; cosine re-rank over the margined L2 shortlist), and
    // the RRF fusion is identical — ranks are integers, so fusion is
    // exact. Both corpus scans of q_hybrid_rrf are gone from serving;
    // they moved into the (separately timed) index builds. The oracle is
    // q_hybrid_rrf's contract with the kw arm scored through the
    // quantized pipeline the PERSISTED index actually ranks by.
    Q(
      "q_hybrid_indexed",
      "hybrid RRF served from persisted arms: TextIndex BM25 + doc-IVF cosine at calibrated depth",
      (s, dir) => {
        val (tidx, vidx) = hybridBuildIndexes(s, dir)
        val qe = hybridProbe(s)
        hybridServeIndexed(s, tidx, vidx, qe, hybridCalibrate(vidx, qe))
      },
      Some {
        val qText = QueryTerms.mkString(" ")
        val th = OracleText.tokenHashes(OracleText.tokens("text"))
        def cnt(h: String) = s"list_transform(range(0, $EmbDim), j -> " +
          s"CAST(len(list_filter($h, h -> h % $EmbDim = j)) AS DOUBLE))"
        val nsq = "list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list_transform(cnt, c -> c*c)), (x, y) -> x + y)"
        val emb = s"CASE WHEN $nsq = 0 THEN list_transform(cnt, c -> CAST(c AS FLOAT)) " +
          s"ELSE list_transform(cnt, c -> CAST(c / sqrt($nsq) AS FLOAT)) END"
        val cos = OracleSql.cosine("e.emb", "q.qe")
        val n = "(SELECT CAST(count(*) AS BIGINT) FROM d)"
        val avgdl = s"(SELECT CAST(CAST(sum(dl) AS BIGINT) AS DOUBLE) FROM d) / CAST($n AS DOUBLE)"
        val idfCase = QueryTerms.map { t =>
          val df = s"(SELECT CAST(count(*) AS BIGINT) FROM d WHERE list_contains(toks, '$t'))"
          val idf = s"ln((CAST($n AS DOUBLE) - CAST($df AS DOUBLE) + 0.5) / (CAST($df AS DOUBLE) + 0.5) + 1.0)"
          s"WHEN term = '$t' THEN $idf"
        }.mkString("CASE ", " ", " END")
        val termList = QueryTerms.map(t => s"'$t'").mkString(", ")
        s"""WITH d AS MATERIALIZED (
           |  SELECT doc_id, toks, len(toks) AS dl FROM (
           |    SELECT doc_id, ${OracleText.tokens("text")} AS toks FROM documents)),
           |p AS (SELECT doc_id, dl, unnest(toks) AS term FROM d),
           |tfq AS (SELECT term, doc_id, dl, CAST(count(*) AS BIGINT) AS tf
           |        FROM p WHERE term IN ($termList) GROUP BY 1, 2, 3),
           |cq AS (SELECT doc_id, dl,
           |         CAST(round(($idfCase) *
           |           ((CAST(tf AS DOUBLE) * ${K1 + 1.0}) /
           |            (CAST(tf AS DOUBLE) + $K1 * (${1.0 - B} + $B * CAST(dl AS DOUBLE) / ($avgdl))))
           |           * 1048576.0) AS BIGINT) AS c
           |       FROM tfq),
           |sq AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS sq
           |       FROM cq GROUP BY doc_id),
           |kw AS (
           |  SELECT doc_id, row_number() OVER (ORDER BY sq DESC, doc_id) AS rank_kw
           |  FROM sq ORDER BY sq DESC, doc_id LIMIT $ShortlistK),
           |qt AS (SELECT ${OracleText.tokenHashes(OracleText.tokens(s"'$qText'"))} AS th),
           |qc AS (SELECT ${cnt("th")} AS cnt FROM qt),
           |q AS (SELECT $emb AS qe FROM qc),
           |dt AS MATERIALIZED (SELECT doc_id, $th AS th FROM documents),
           |dc AS MATERIALIZED (SELECT doc_id, ${cnt("th")} AS cnt FROM dt),
           |e AS MATERIALIZED (SELECT doc_id, $emb AS emb FROM dc),
           |sem AS (
           |  SELECT e.doc_id, row_number() OVER (ORDER BY $cos DESC, e.doc_id) AS rank_sem
           |  FROM e CROSS JOIN q ORDER BY $cos DESC, e.doc_id LIMIT $ShortlistK),
           |fused AS (
           |  SELECT coalesce(kw.doc_id, sem.doc_id) AS doc_id,
           |         coalesce(kw.rank_kw, 0) AS rank_kw,
           |         coalesce(sem.rank_sem, 0) AS rank_sem,
           |         coalesce(1.0 / ($RrfK.0 + CAST(kw.rank_kw AS DOUBLE)), 0.0) +
           |         coalesce(1.0 / ($RrfK.0 + CAST(sem.rank_sem AS DOUBLE)), 0.0) AS rrf
           |  FROM kw FULL OUTER JOIN sem ON kw.doc_id = sem.doc_id)
           |SELECT doc_id, rank_kw, rank_sem, round(rrf, 6) AS rrf
           |FROM fused ORDER BY rrf DESC, doc_id LIMIT 10""".stripMargin
      }),

    // BATCHED hybrid serving (r12): the standing PANEL surface — three
    // hybrid queries with distinct term sets served in ONE union-term
    // postings pass (per-probe integer-exact ranks cut map-side) + ONE
    // multi-probe IVF batch at per-probe PERSISTED depths, RRF fused per
    // probe. The oracle replays the q_hybrid_indexed recipe PER PROBE
    // (shared tokenized corpus CTEs, per-probe idf/tf/rank/fusion blocks)
    // from plaintext alone, so the hash gates the panel machinery —
    // queryRankedBatchBounded's one-pass ranks, queryBatch's answer-shuffled sem
    // arm at the sidecar's depths, and the per-probe fusion — end to end.
    Q(
      "q_hybrid_batch",
      "batched hybrid RRF: a standing panel served from persisted arms, one pass per arm",
      (s, dir) => {
        val (tidx, vidx) = hybridBuildIndexes(s, dir)
        val embs = s.createDataFrame(
            HybridPanelTerms.map { case (pid, terms) => (pid, terms.mkString(" ")) })
          .toDF("pid", "text")
          .select(col("pid"), TF.hashEmbed(TF.tokens(col("text")), EmbDim).as("e"))
          .collect().map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
        val panel = HybridPanelTerms.map { case (pid, terms) =>
          (pid, terms, embs(pid)) }
        hybridServeIndexedBatch(s, tidx, vidx, panel,
          hybridCalibrateBatch(vidx, panel))
      },
      Some(hybridBatchOracleSql)),

    // The DF-PROBE twin of q_hybrid_batch — the same standing panel served
    // with the probes as a FRAME end to end (terms through
    // queryRankedBatchBoundedDF's union postings pass, embeddings + the persisted
    // depth policy through queryBatchDF's `depth` column): the oracle is
    // q_hybrid_batch's VERBATIM, so the hash equality IS the proof the
    // frame route serves the Seq route's exact answers (the
    // q_bm25_maxscore oracle-reuse discipline).
    Q(
      "q_hybrid_batch_df",
      "batched hybrid RRF with the panel as a DataFrame — identical answer to q_hybrid_batch",
      (s, dir) => {
        val (tidx, vidx) = hybridBuildIndexes(s, dir)
        val embs = s.createDataFrame(
            HybridPanelTerms.map { case (pid, terms) => (pid, terms.mkString(" ")) })
          .toDF("pid", "text")
          .select(col("pid"), TF.hashEmbed(TF.tokens(col("text")), EmbDim).as("e"))
          .collect().map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
        val panel = HybridPanelTerms.map { case (pid, terms) =>
          (pid, terms, embs(pid)) }
        val depths = hybridCalibrateBatch(vidx, panel)
        val panelDf = s.createDataFrame(panel.map { case (pid, terms, qe) =>
          (pid, terms, qe.toSeq, depths(pid)) })
          .toDF("probe_id", "terms", "qe", "depth")
        hybridServeIndexedBatchDF(s, tidx, vidx, panelDf, useDepth = true)
      },
      Some(hybridBatchOracleSql)),

    // MMR diversity re-rank (Carbonell & Goldstein 1998) — the standard
    // post-ANN stage the reference never reaches. Cluster side produces the
    // bounded cosine top-20 shortlist (TakeOrdered, no shuffle); the greedy
    // O(K²·k) selection is inherently sequential so it runs on the driver
    // over ≤20 rows. The selection IS oracle-checkable: ascending-id
    // tie-breaks make it deterministic, and a recursive CTE replays the
    // greedy argmax pick by pick (the growing selected set carried as a
    // list), with every double op in the same order as the driver loop.
    Q(
      "q_mmr_rerank",
      "MMR diversity re-rank of the cosine top-20 shortlist (k=5, λ=0.7)",
      (s, dir) => {
        val e = tbl(s, dir, "embeddings")
        val qe: Array[Float] = e.filter(col("vec_id") === 0)
          .select(col("embedding")).head().getSeq[Float](0).toArray
        val shortlist = e.filter(col("vec_id") =!= 0)
          .withColumn("rel", VF.cosine(col("embedding"), typedlit(qe)))
          .orderBy(desc("rel"), asc("vec_id")).limit(20)
          .select(col("vec_id"), col("rel"), col("embedding")).collect()
          .map(r => graft.operators.Reranker.Candidate(
            r.getLong(0), r.getDouble(1), r.getSeq[Float](2).toArray))
        val sel = graft.operators.Reranker.mmr(shortlist.toSeq, k = 5, lambda = 0.7)
        import s.implicits._
        sel.zipWithIndex
          .map { case ((id, sc), i) => (i + 1, id, sc) }
          .toDF("pick", "vec_id", "mmr_raw")
          .select(col("pick"), col("vec_id"), round(col("mmr_raw"), 6).as("mmr"))
      },
      Some {
        val Lambda = 0.7
        // emit the EXACT doubles the driver computes: 1.0 - 0.7 is
        // 0.30000000000000004 in binary, and Scala's toString round-trips it
        val oneMinus = (1.0 - Lambda).toString
        val relCos = OracleSql.cosine("e.embedding", "probe.qe")
        val pairCos = OracleSql.cosine("c.emb", "p.emb")
        s"""WITH RECURSIVE
           |probe AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
           |short AS MATERIALIZED (
           |  SELECT e.vec_id, $relCos AS rel, e.embedding AS emb
           |  FROM embeddings e CROSS JOIN probe
           |  WHERE e.vec_id <> 0
           |  ORDER BY $relCos DESC, e.vec_id LIMIT $ShortlistK),
           |sel AS (
           |  (SELECT 1 AS pick, vec_id, $Lambda * rel - $oneMinus * 0.0 AS mmr, [vec_id] AS picked
           |   FROM short ORDER BY rel DESC, vec_id LIMIT 1)
           |  UNION ALL
           |  SELECT s.pick + 1, w.vec_id, w.mmr, list_append(s.picked, w.vec_id)
           |  FROM sel s, LATERAL (
           |    SELECT c.vec_id,
           |           $Lambda * c.rel - $oneMinus * (
           |             SELECT max($pairCos) FROM short p
           |             WHERE list_contains(s.picked, p.vec_id)) AS mmr
           |    FROM short c WHERE NOT list_contains(s.picked, c.vec_id)
           |    ORDER BY mmr DESC, c.vec_id LIMIT 1) w
           |  WHERE s.pick < 5)
           |SELECT CAST(pick AS INT) AS pick, vec_id, round(mmr, 6) AS mmr
           |FROM sel ORDER BY pick""".stripMargin
      }),

    // Late-interaction retrieval (ColBERT-style MaxSim): every document is a
    // BAG of per-token vectors, the query is a bag of per-term vectors, and
    // score(doc) = Σ_q max_t cos(v_q, v_t) — soft term matching that keyword
    // search (exact tf) and single-vector ANN (one pooled embedding) both
    // miss. Token vectors here are deterministic hash-derived directions
    // (polyHash → integer mix per dimension — the LSH-plane recipe, so the
    // oracle replays them exactly); a learned checkpoint would slot in
    // through the Embedder seam without changing the query shape.
    // Scale design: the per-token vector stream is a narrow codegen map over
    // the exploded token grain (never materialized corpus-wide — computed
    // inside the scan), the 4 query vectors are driver literals folded into
    // the plan (no join), the 4 per-term maxes fold in ONE partial-agg
    // shuffle on doc_id, and the final sum is a fixed left-to-right add of
    // 4 named columns (deterministic doubles → round 6, not a distributed
    // float sum). In production the corpus side would be an ANN shortlist;
    // full-corpus scoring here exercises the operator end to end.
    Q(
      "q_maxsim",
      "ColBERT-style late interaction: sum of per-query-term max token cosine, top-10",
      (s, dir) => {
        val docToks = tbl(s, dir, "documents")
          .select(col("doc_id"), explode(array_distinct(TF.tokens(col("text")))).as("tok"))
          .withColumn("dv", tokVecCol(col("tok")))
        val maxes = QueryTerms.zipWithIndex.map { case (t, i) =>
          max(VF.cosine(col("dv"), typedlit(tokVecLocal(t)))).as(s"m$i")
        }
        val score = QueryTerms.indices.map(i => col(s"m$i")).reduce(_ + _)
        docToks.groupBy("doc_id")
          .agg(maxes.head, maxes.tail: _*)
          .withColumn("score_raw", score)
          .orderBy(desc("score_raw"), asc("doc_id"))
          .limit(10)
          .select(col("doc_id"), round(col("score_raw"), 6).as("maxsim"))
      },
      Some {
        val qRows = QueryTerms.zipWithIndex
          .map { case (t, i) => s"($i, '$t')" }.mkString(", ")
        val cos = OracleSql.cosine("v.dv", "q.qv")
        val ms = QueryTerms.indices
          .map(i => s"max(CASE WHEN qi = $i THEN c END) AS m$i").mkString(", ")
        val scoreSql = QueryTerms.indices.map(i => s"m$i").mkString(" + ")
        s"""WITH t AS MATERIALIZED (
           |  SELECT doc_id, unnest(list_distinct(${OracleText.tokens("text")})) AS tok
           |  FROM documents),
           |v AS MATERIALIZED (SELECT doc_id, ${tokVecSql(OracleText.polyHash("tok"))} AS dv FROM t),
           |q AS (SELECT qi, ${tokVecSql(OracleText.polyHash("term"))} AS qv
           |      FROM (VALUES $qRows) AS qt(qi, term)),
           |sc AS MATERIALIZED (SELECT v.doc_id, q.qi, $cos AS c FROM v CROSS JOIN q),
           |m AS (SELECT doc_id, $ms FROM sc GROUP BY doc_id)
           |SELECT doc_id, round($scoreSql, 6) AS maxsim
           |FROM m ORDER BY $scoreSql DESC, doc_id LIMIT 10""".stripMargin
      }),

    // The DEPLOYED late-interaction shape (how ColBERT-class systems
    // actually serve): cheap single-vector candidate generation first —
    // pooled hash-embedding cosine top-50 via TakeOrdered — then the
    // expensive per-token MaxSim scores ONLY the candidates. Stage-2 cost
    // is bounded by shortlist × doc length at ANY corpus size; q_maxsim
    // (the full-corpus scan above) is the ground-truth harness this
    // pipeline approximates. Both stages deterministic, so the whole
    // two-stage pipeline hash-matches the oracle.
    Q(
      "q_maxsim_rerank",
      "two-stage retrieval: pooled-embedding top-50 candidates + MaxSim rerank to top-10",
      (s, dir) => maxsimRerank(maxsimCandidates(s, dir)),
      Some {
        val th = OracleText.tokenHashes(OracleText.tokens("text"))
        val cnt = s"list_transform(range(0, $EmbDim), j -> " +
          s"CAST(len(list_filter(th, h -> h % $EmbDim = j)) AS DOUBLE))"
        val nsq = "list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list_transform(cnt, c -> c*c)), (x, y) -> x + y)"
        val emb = s"CASE WHEN $nsq = 0 THEN list_transform(cnt, c -> CAST(c AS FLOAT)) " +
          s"ELSE list_transform(cnt, c -> CAST(c / sqrt($nsq) AS FLOAT)) END"
        val qLit = s"'${QueryTerms.mkString(" ")}'"
        val rel = OracleSql.cosine("e.emb", "qp.qe")
        val qRows = QueryTerms.zipWithIndex
          .map { case (t, i) => s"($i, '$t')" }.mkString(", ")
        val cos = OracleSql.cosine("v.dv", "q.qv")
        val ms = QueryTerms.indices
          .map(i => s"max(CASE WHEN qi = $i THEN c END) AS m$i").mkString(", ")
        val scoreSql = QueryTerms.indices.map(i => s"m$i").mkString(" + ")
        s"""WITH t0 AS MATERIALIZED (SELECT doc_id, $th AS th FROM documents),
           |c0 AS MATERIALIZED (SELECT doc_id, $cnt AS cnt FROM t0),
           |e AS MATERIALIZED (SELECT doc_id, $emb AS emb FROM c0),
           |qt0 AS (SELECT ${OracleText.tokenHashes(OracleText.tokens(qLit))} AS th),
           |qc0 AS (SELECT $cnt AS cnt FROM qt0),
           |qp AS (SELECT $emb AS qe FROM qc0),
           |cand AS MATERIALIZED (
           |  SELECT e.doc_id, $rel AS rel FROM e CROSS JOIN qp
           |  ORDER BY $rel DESC, e.doc_id LIMIT 50),
           |ct AS (SELECT c.doc_id, c.rel, unnest(list_distinct(${OracleText.tokens("d.text")})) AS tok
           |       FROM cand c JOIN documents d USING (doc_id)),
           |v AS MATERIALIZED (SELECT doc_id, rel, ${tokVecSql(OracleText.polyHash("tok"))} AS dv FROM ct),
           |q AS (SELECT qi, ${tokVecSql(OracleText.polyHash("term"))} AS qv
           |      FROM (VALUES $qRows) AS qt(qi, term)),
           |sc AS MATERIALIZED (SELECT v.doc_id, v.rel, q.qi, $cos AS c FROM v CROSS JOIN q),
           |m AS (SELECT doc_id, rel, $ms FROM sc GROUP BY doc_id, rel)
           |SELECT doc_id, round(rel, 6) AS rel, round($scoreSql, 6) AS maxsim
           |FROM m ORDER BY $scoreSql DESC, doc_id LIMIT 10""".stripMargin
      }),

    // Chroma dict-dialect filters end to end: the JSON `where=` /
    // `where_document=` forms a chroma client sends
    // (/root/reference/src/cod.py:95 attaches the metadata; the filter
    // grammar is chroma's public client API) are translated by
    // functions.ChromaWhere into Catalyst predicates — and therefore reach
    // the parquet scan as PushedFilters like any native Column filter.
    // The oracle states the same predicate in plain SQL, so a translation
    // bug in ANY operator ($in, $gte, nested $or, $contains, $not_contains,
    // numeric-vs-string compare) breaks the hash match.
    Q(
      "q_where_dialect",
      "chroma where=/where_document= dict dialect translated to pushed Catalyst filters",
      (s, dir) => {
        val whereJson =
          """{"$and": [
            |  {"lang": {"$in": ["en", "de"]}},
            |  {"n_chars": {"$gte": 250}},
            |  {"$or": [{"source": "src3"}, {"source": {"$eq": "src7"}},
            |           {"n_chars": {"$lt": 120}}]}
            |]}""".stripMargin
        val docJson =
          """{"$and": [{"$contains": "data"}, {"$not_contains": "xyzzy"}]}"""
        tbl(s, dir, "documents")
          .filter(graft.functions.ChromaWhere.where(whereJson, col))
          .filter(graft.functions.ChromaWhere.whereDocument(docJson, col("text")))
          .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
          .orderBy("doc_id")
      },
      Some {
        """SELECT doc_id, lang, source, n_chars FROM documents
          |WHERE lang IN ('en', 'de') AND CAST(n_chars AS DOUBLE) >= 250.0
          |  AND (source = 'src3' OR source = 'src7' OR CAST(n_chars AS DOUBLE) < 120.0)
          |  AND contains(text, 'data') AND NOT contains(text, 'xyzzy')
          |ORDER BY doc_id""".stripMargin
      }),

    // CHUNK -> DOCUMENT RAG SERVING — the actual retrieval shape of a RAG
    // deployment: retrieve CHUNKS (q_chunk_overlap's 64-token windows,
    // hash-embedded), then aggregate to PARENT documents — max-pool the
    // chunk scores per doc, keep the best chunk's offset (what the prompt
    // assembler actually needs), rank docs. Scale shape: the corpus pass
    // is ONE narrow scan (chunking + embedding are per-row codegen) into
    // ONE GroupedTopK shuffle per probe — the shuffle carries the ANSWER
    // (<= 30 chunks x probes x tasks), never the chunk volume; (doc_id,
    // chunk_id) pack into one long for the aggregator and unpack with
    // shift/mask after. Doc pooling and ranking touch <= 30 rows per
    // probe. Nothing is ever doc x chunk.
    Q(
      "q_rag_retrieve",
      "RAG serving: chunk top-30 per probe, max-pooled to parent docs with offsets",
      (s, dir) => ragRetrieveFrame(ragRanked(s, dir)),
      Some(ragRetrieveOracle)),

    // INDEX-ROUTED RAG serving — the same contract as q_rag_retrieve
    // (same oracle), served the way a 100 TB deployment must: the chunk
    // corpus lands ONCE in a persisted IVF index, the probe panel
    // calibrates its own serving depth (the recall-target policy at
    // target 1.0 — the sweep MEASURES which rung is exact for these
    // probes), and each execution's probe is a cell-pruned batched scan
    // plus a bounded cosine re-rank. The exact arm re-embeds the corpus
    // per query; this arm's per-query cost is the probed cells' bytes.
    Q(
      "q_rag_indexed",
      "RAG serving through a persisted calibrated chunk IVF index: pruned probe + bounded re-rank",
      (s, dir) => ragRetrieveFrame(ragRankedIndexed(s, dir)),
      Some(ragRetrieveOracle)),

    // SEMANTIC PERCOLATION (batch twin): standing EMBEDDING-space probes
    // alert on every document one of whose chunks lands within cosine θ
    // of a standing vector — boolean percolation's paraphrase-proof
    // sibling (q_percolate matches terms; this matches MEANING-space
    // under the same hash embedder). The θ filter runs inside the
    // scoring stage: the shuffle carries only alerts. The streaming twin
    // (StreamOps.semanticPercolate) applies the same matcher per
    // micro-batch — stream ≡ batch spec-pinned.
    Q(
      "q_percolate_semantic",
      "standing embedding probes alert on docs with a chunk within cosine theta",
      (s, dir) =>
        graft.operators.Percolate.semanticMatches(
          tbl(s, dir, "documents").select("doc_id", "text"),
          semPercProfilesDf(s), RagWindow, RagStride, EmbDim)
          .select(col("profile_id"), col("doc_id"),
            round(col("score"), 6).as("score"), col("n_hits"))
          .orderBy("profile_id", "doc_id"),
      Some {
        val th = OracleText.tokenHashes(
          s"list_slice(toks, strt + 1, strt + $RagWindow)")
        def cnt(h: String) = s"list_transform(range(0, $EmbDim), j -> " +
          s"CAST(len(list_filter($h, h -> h % $EmbDim = j)) AS DOUBLE))"
        val nsq = "list_reduce(list_prepend(CAST(0.0 AS DOUBLE), " +
          "list_transform(cnt, c -> c*c)), (x, y) -> x + y)"
        val emb = s"CASE WHEN $nsq = 0 THEN list_transform(cnt, c -> CAST(c AS FLOAT)) " +
          s"ELSE list_transform(cnt, c -> CAST(c / sqrt($nsq) AS FLOAT)) END"
        val pRows = SemPercProfiles
          .map { case (pid, t, th0) => s"(CAST($pid AS BIGINT), '$t', CAST($th0 AS DOUBLE))" }
          .mkString(", ")
        s"""WITH t AS MATERIALIZED (
           |  SELECT doc_id, ${OracleText.tokens("text")} AS toks FROM documents),
           |s AS (SELECT doc_id, toks,
           |        unnest(range(0, greatest(len(toks), 1), $RagStride)) AS strt
           |      FROM t),
           |ch AS MATERIALIZED (
           |  SELECT doc_id, CAST(strt // $RagStride AS BIGINT) AS chunk_id,
           |         $th AS th
           |  FROM s),
           |chc AS (SELECT doc_id, chunk_id, ${cnt("th")} AS cnt FROM ch),
           |che AS MATERIALIZED (SELECT doc_id, chunk_id, $emb AS emb FROM chc),
           |p(pid, ptext, theta) AS (VALUES $pRows),
           |pt AS (SELECT pid, theta, ${OracleText.tokenHashes(OracleText.tokens("ptext"))} AS th FROM p),
           |pc AS (SELECT pid, theta, ${cnt("th")} AS cnt FROM pt),
           |pe AS (SELECT pid, theta, $emb AS pe FROM pc),
           |sc AS (SELECT pe.pid AS profile_id, c.doc_id,
           |              ${OracleSql.cosine("c.emb", "pe.pe")} AS cos, pe.theta
           |       FROM che c CROSS JOIN pe)
           |SELECT profile_id, doc_id, round(max(cos), 6) AS score,
           |       CAST(count(*) AS BIGINT) AS n_hits
           |FROM sc WHERE cos >= theta GROUP BY 1, 2
           |ORDER BY profile_id, doc_id""".stripMargin
      }),

    // RAG END-TO-END: the assembled PROMPT — what actually reaches the
    // LLM. q_rag_retrieve's ranked (doc, best-chunk offset) answer joins
    // back to the corpus for exactly the [[RagDocK]] best chunks' token
    // windows (a broadcast of the 15-row answer under the doc scan — the
    // context read is bounded by the ANSWER, never the corpus), and each
    // probe's contexts fold into one deterministic prompt string (rank
    // order pinned by sort_array — collect_list alone is
    // partition-order-nondeterministic). The q_prompt_assembly discipline
    // composed with real retrieval; the oracle replays retrieval, window
    // slicing, and the string assembly.
    Q(
      "q_rag_answer",
      "RAG end-to-end: ranked best-chunk contexts assembled into the LLM prompt",
      (s, dir) => {
        val ranked = ragRanked(s, dir)
          .select(col("qid"), col("rank"), col("doc_id"),
            (col("chunk_id") * RagStride).as("strt"))
        val docs = tbl(s, dir, "documents")
          .select(col("doc_id"), TF.tokens(col("text")).as("toks"))
        val ctx = docs.join(broadcast(ranked), Seq("doc_id"))
          .select(col("qid"), col("rank"),
            concat(col("rank").cast("string"), lit(". "),
              array_join(slice(col("toks"), col("strt") + 1, lit(RagWindow)),
                " ")).as("line"))
        ctx.groupBy("qid")
          .agg(sort_array(collect_list(struct(col("rank"), col("line"))))
            .as("lines"))
          .join(broadcast(ragProbesDf(s).select("qid", "qtext")), Seq("qid"))
          .select(col("qid"),
            concat(lit("Context:\n"),
              array_join(transform(col("lines"), x => x.getField("line")), "\n"),
              lit("\nQuestion: "), col("qtext"), lit("\nAnswer:")).as("prompt"))
          .orderBy("qid")
      },
      Some {
        val th = OracleText.tokenHashes(
          s"list_slice(toks, strt + 1, strt + $RagWindow)")
        def cnt(h: String) = s"list_transform(range(0, $EmbDim), j -> " +
          s"CAST(len(list_filter($h, h -> h % $EmbDim = j)) AS DOUBLE))"
        val nsq = "list_reduce(list_prepend(CAST(0.0 AS DOUBLE), " +
          "list_transform(cnt, c -> c*c)), (x, y) -> x + y)"
        val emb = s"CASE WHEN $nsq = 0 THEN list_transform(cnt, c -> CAST(c AS FLOAT)) " +
          s"ELSE list_transform(cnt, c -> CAST(c / sqrt($nsq) AS FLOAT)) END"
        val qRows = RagProbes.zipWithIndex
          .map { case (t, i) => s"(CAST(${i + 1} AS BIGINT), '$t')" }.mkString(", ")
        s"""WITH t AS MATERIALIZED (
           |  SELECT doc_id, ${OracleText.tokens("text")} AS toks FROM documents),
           |s AS (SELECT doc_id, toks,
           |        unnest(range(0, greatest(len(toks), 1), $RagStride)) AS strt
           |      FROM t),
           |ch AS MATERIALIZED (
           |  SELECT doc_id, CAST(strt // $RagStride AS BIGINT) AS chunk_id,
           |         $th AS th
           |  FROM s),
           |chc AS (SELECT doc_id, chunk_id, ${cnt("th")} AS cnt FROM ch),
           |che AS MATERIALIZED (SELECT doc_id, chunk_id, $emb AS emb FROM chc),
           |q(qid, qtext) AS (VALUES $qRows),
           |qt AS (SELECT qid, qtext, ${OracleText.tokenHashes(OracleText.tokens("qtext"))} AS th FROM q),
           |qc AS (SELECT qid, qtext, ${cnt("th")} AS cnt FROM qt),
           |qe AS (SELECT qid, qtext, $emb AS qe FROM qc),
           |sc AS MATERIALIZED (
           |  SELECT qe.qid, c.doc_id, c.chunk_id,
           |         ${OracleSql.cosine("c.emb", "qe.qe")} AS cos
           |  FROM che c CROSS JOIN qe),
           |top AS (SELECT qid, doc_id, chunk_id, cos FROM (
           |          SELECT qid, doc_id, chunk_id, cos,
           |                 row_number() OVER (PARTITION BY qid
           |                   ORDER BY cos DESC, doc_id * 1048576 + chunk_id ASC) AS rn
           |          FROM sc) WHERE rn <= $RagChunkK),
           |pool AS (SELECT qid, doc_id, max(cos) AS score FROM top GROUP BY 1, 2),
           |best AS (SELECT qid, doc_id, chunk_id FROM (
           |           SELECT qid, doc_id, chunk_id,
           |                  row_number() OVER (PARTITION BY qid, doc_id
           |                    ORDER BY cos DESC, chunk_id ASC) AS brn
           |           FROM top) WHERE brn = 1),
           |r AS (SELECT p.qid, p.doc_id, b.chunk_id,
           |             row_number() OVER (PARTITION BY p.qid
           |               ORDER BY p.score DESC, p.doc_id ASC) AS rank
           |      FROM pool p JOIN best b ON b.qid = p.qid AND b.doc_id = p.doc_id),
           |ctx AS (SELECT r.qid, r.rank,
           |               CAST(r.rank AS VARCHAR) || '. ' ||
           |               array_to_string(list_slice(t.toks,
           |                 r.chunk_id * $RagStride + 1,
           |                 r.chunk_id * $RagStride + $RagWindow), ' ') AS line
           |        FROM r JOIN t ON t.doc_id = r.doc_id
           |        WHERE r.rank <= $RagDocK)
           |SELECT c.qid,
           |       'Context:' || chr(10) ||
           |       string_agg(c.line, chr(10) ORDER BY c.rank) ||
           |       chr(10) || 'Question: ' || q.qtext || chr(10) || 'Answer:' AS prompt
           |FROM ctx c JOIN q ON q.qid = c.qid
           |GROUP BY c.qid, q.qtext
           |ORDER BY c.qid""".stripMargin
      }),

    // RETRIEVAL QUALITY METRICS — the numbers a RAG deployment monitors:
    // MRR and binary nDCG@5 of the DEPLOYED doc ranking (ragRanked, the
    // q_rag_retrieve pipeline) against a deterministic relevance oracle
    // (a doc is relevant to a probe iff it contains EVERY probe term).
    // The discount constants 1/log2(i+1) are Scala doubles interpolated
    // into BOTH engines as literals (the q_ann_range exact-boundary
    // trick), so no SQL log() can drift — DCG is a sum of selected
    // literals and IDCG a CASE over the same partial sums. One corpus
    // scan computes per-probe relevance totals; the ranked side is the
    // 15-row answer.
    Q(
      "q_rag_eval",
      "retrieval quality: MRR and binary nDCG@5 of the RAG doc ranking",
      (s, dir) => {
        import s.implicits._
        val cs: Seq[Double] =
          (1 to RagDocK).map(i => 1.0 / (math.log(i + 1.0) / math.log(2.0)))
        val psum: Seq[Double] = cs.scanLeft(0.0)(_ + _) // psum(k) = Σ first k
        val qterms = RagProbes.zipWithIndex
          .map { case (t, i) => ((i + 1).toLong, t.split(" ").toSeq) }
          .toDF("qid", "qterms")
        val rel = tbl(s, dir, "documents")
          .select(col("doc_id"), TF.tokens(col("text")).as("toks"))
          .crossJoin(broadcast(qterms))
          .select(col("qid"), col("doc_id"),
            (size(array_except(col("qterms"), col("toks"))) === 0).as("rel"))
          .persist()
        val nrel = rel.groupBy("qid")
          .agg(sum(when(col("rel"), 1L).otherwise(0L)).as("n_rel"))
        val dcgTerm = (1 to RagDocK).map(i =>
          when(col("rank") === i && col("rel"), lit(cs(i - 1))).otherwise(lit(0.0)))
          .reduce(_ + _)
        val per = ragRanked(s, dir).select(col("qid"), col("rank"), col("doc_id"))
          .join(rel, Seq("qid", "doc_id"))
          .groupBy("qid")
          .agg(sum(when(col("rel"), 1L).otherwise(0L)).as("hits"),
            min(when(col("rel"), col("rank"))).as("first_rel"),
            sum(dcgTerm).as("dcg"))
        val idcg = (1 to RagDocK).foldLeft(lit(0.0)) { (acc, k) =>
          when(least(col("n_rel"), lit(RagDocK.toLong)) === k, lit(psum(k)))
            .otherwise(acc)
        }
        Registry.releaseLater(
          nrel.join(per, Seq("qid"), "left")
            .select(col("qid"), col("n_rel"),
              coalesce(col("hits"), lit(0L)).as("hits"),
              coalesce(col("first_rel"), lit(0)).as("first_rel"),
              round(when(col("first_rel").isNull, 0.0)
                .otherwise(lit(1.0) / col("first_rel")), 6).as("mrr"),
              round(when(idcg === 0.0, 0.0)
                .otherwise(coalesce(col("dcg"), lit(0.0)) / idcg), 6).as("ndcg"))
            .orderBy("qid"),
          rel)
      },
      Some {
        val cs: Seq[Double] =
          (1 to RagDocK).map(i => 1.0 / (math.log(i + 1.0) / math.log(2.0)))
        val psum: Seq[Double] = cs.scanLeft(0.0)(_ + _)
        val th = OracleText.tokenHashes(
          s"list_slice(toks, strt + 1, strt + $RagWindow)")
        def cnt(h: String) = s"list_transform(range(0, $EmbDim), j -> " +
          s"CAST(len(list_filter($h, h -> h % $EmbDim = j)) AS DOUBLE))"
        val nsq = "list_reduce(list_prepend(CAST(0.0 AS DOUBLE), " +
          "list_transform(cnt, c -> c*c)), (x, y) -> x + y)"
        val emb = s"CASE WHEN $nsq = 0 THEN list_transform(cnt, c -> CAST(c AS FLOAT)) " +
          s"ELSE list_transform(cnt, c -> CAST(c / sqrt($nsq) AS FLOAT)) END"
        val qRows = RagProbes.zipWithIndex.map { case (t, i) =>
          val arr = t.split(" ").map(w => s"'$w'").mkString("[", ", ", "]")
          s"(CAST(${i + 1} AS BIGINT), '$t', $arr)"
        }.mkString(", ")
        val dcgCase = (1 to RagDocK)
          .map(i => s"WHEN rank = $i THEN ${cs(i - 1)}").mkString("CASE ", " ", " ELSE 0.0 END")
        val idcgCase = (1 to RagDocK)
          .map(k => s"WHEN least(n_rel, $RagDocK) = $k THEN ${psum(k)}")
          .mkString("CASE ", " ", " ELSE 0.0 END")
        s"""WITH t AS MATERIALIZED (
           |  SELECT doc_id, ${OracleText.tokens("text")} AS toks FROM documents),
           |s AS (SELECT doc_id, toks,
           |        unnest(range(0, greatest(len(toks), 1), $RagStride)) AS strt
           |      FROM t),
           |ch AS MATERIALIZED (
           |  SELECT doc_id, CAST(strt // $RagStride AS BIGINT) AS chunk_id,
           |         $th AS th
           |  FROM s),
           |chc AS (SELECT doc_id, chunk_id, ${cnt("th")} AS cnt FROM ch),
           |che AS MATERIALIZED (SELECT doc_id, chunk_id, $emb AS emb FROM chc),
           |q(qid, qtext, qterms) AS (VALUES $qRows),
           |qt AS (SELECT qid, ${OracleText.tokenHashes(OracleText.tokens("qtext"))} AS th FROM q),
           |qc AS (SELECT qid, ${cnt("th")} AS cnt FROM qt),
           |qe AS (SELECT qid, $emb AS qe FROM qc),
           |sc AS MATERIALIZED (
           |  SELECT qe.qid, c.doc_id, c.chunk_id,
           |         ${OracleSql.cosine("c.emb", "qe.qe")} AS cos
           |  FROM che c CROSS JOIN qe),
           |top AS (SELECT qid, doc_id, chunk_id, cos FROM (
           |          SELECT qid, doc_id, chunk_id, cos,
           |                 row_number() OVER (PARTITION BY qid
           |                   ORDER BY cos DESC, doc_id * 1048576 + chunk_id ASC) AS rn
           |          FROM sc) WHERE rn <= $RagChunkK),
           |pool AS (SELECT qid, doc_id, max(cos) AS score FROM top GROUP BY 1, 2),
           |r AS (SELECT qid, doc_id, rank FROM (
           |        SELECT qid, doc_id,
           |               row_number() OVER (PARTITION BY qid
           |                 ORDER BY score DESC, doc_id ASC) AS rank
           |        FROM pool) WHERE rank <= $RagDocK),
           |rel AS MATERIALIZED (
           |  SELECT q.qid, t.doc_id, list_has_all(t.toks, q.qterms) AS rel
           |  FROM t CROSS JOIN q),
           |nrel AS (SELECT qid, CAST(sum(CASE WHEN rel THEN 1 ELSE 0 END) AS BIGINT) AS n_rel
           |         FROM rel GROUP BY qid),
           |per AS (SELECT r.qid,
           |               CAST(sum(CASE WHEN rel.rel THEN 1 ELSE 0 END) AS BIGINT) AS hits,
           |               min(CASE WHEN rel.rel THEN r.rank END) AS first_rel,
           |               sum(CASE WHEN rel.rel THEN $dcgCase ELSE 0.0 END) AS dcg
           |        FROM r JOIN rel ON rel.qid = r.qid AND rel.doc_id = r.doc_id
           |        GROUP BY r.qid)
           |SELECT n.qid, n.n_rel,
           |       coalesce(p.hits, 0) AS hits,
           |       CAST(coalesce(p.first_rel, 0) AS INT) AS first_rel,
           |       round(CASE WHEN p.first_rel IS NULL THEN 0.0
           |                  ELSE 1.0 / p.first_rel END, 6) AS mrr,
           |       round(CASE WHEN ($idcgCase) = 0.0 THEN 0.0
           |                  ELSE coalesce(p.dcg, 0.0) / ($idcgCase) END, 6) AS ndcg
           |FROM nrel n LEFT JOIN per p ON p.qid = n.qid
           |ORDER BY n.qid""".stripMargin
      })
  )
}
