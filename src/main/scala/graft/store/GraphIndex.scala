package graft.store

import graft.functions.{VectorFunctions => VF}
import graft.operators.{KMeans, KnnGraph}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}

/**
 * Persistent kNN-graph index — the graph twin of [[IvfIndex]] and the
 * durable form of the reference's HNSW index (hnswlib inside ChromaDB,
 * /root/reference/src/chromadb_store.py:4): vectors and their top-k
 * neighbor edges live as parquet; queries run [[KnnGraph.beamVisited]] over
 * them; NEW vectors are wired in INCREMENTALLY the way HNSW inserts are —
 * find each new node's neighbors, then refresh the reverse direction so
 * existing nodes may adopt a new node into their own top-k.
 *
 * Serving shape: both tables are written RANGE-SORTED on their key (vectors
 * on `id`, edges on `src`), so the walk's per-hop In-filters prune to a few
 * row groups — per-query cost is O(hops·beam·k) rows touched, invariant in
 * corpus size. Entry points are chosen AT BUILD TIME (the medoid of each
 * trained k-means cell, mirroring hnswlib's maintained top-layer entry)
 * and persisted beside the graph, so callers need no magic ids.
 *
 * Vectors keep every extra column of the build input as METADATA;
 * [[query]]/[[queryBatch]] accept a `where` predicate over those columns
 * (the Chroma `where`/`where_document` query surface,
 * /root/reference/src/cod.py:125-129). The walk itself traverses the
 * UNFILTERED graph — pre-filtering the traversal would strand the beam
 * inside sparse-filter regions — and eligibility applies to the full
 * visited candidate set in one pushed-down scan before top-k.
 *
 * Scale shape: build and insert shuffle on LSH bucket keys and on the edge
 * src key only (never vectors-cross-vectors); an insert batch touches
 * O(|batch| · bucket) candidate pairs plus one window over (existing edges
 * of affected nodes ∪ proposals). At 100 TB graph and vectors co-partition
 * on the node id; bucket width must scale with N (see [[KnnGraph.build]]'s
 * calibration note).
 *
 * DELTA LAYOUT: both tables are epoch-partitioned (`epoch=N` dirs —
 * [[build]] writes epoch 0, each [[insert]] publishes ONE new epoch holding
 * only the batch's vectors and the rewritten edge sets of touched sources),
 * so an insert's write cost is bounded by the BATCH, never the corpus — the
 * LSM discipline of [[IvfIndex.appendBatch]]. Resolution: vector ids are
 * disjoint across epochs by construction; for edges the newest epoch
 * containing a src carries that src's COMPLETE current top-k, so readers
 * keep max-epoch rows per src (one window whose src In-filters still push
 * down to the scan). [[compact]] folds all epochs back into one.
 */
object GraphIndex {
  /** PQ codewords per subspace — fixed at 256 so every code is ONE byte
    * (the [[IvfIndex.PqK]] convention; shared so codebooks trained by
    * either index pack identically). */
  val PqK: Int = IvfIndex.PqK
  /** Lloyd rounds for the PQ codebook training ([[IvfIndex.TrainIters]]). */
  val TrainIters: Int = IvfIndex.TrainIters

  /** Walk diagnostics for one probe — the r6-verdict hop-count question
    * ("does routing from fixed entries degrade as the graph grows?"),
    * answerable by measurement instead of speculation:
    * `hopsExecuted` (walk length until the frontier died or the budget
    * ran out), `nodesScored` (total visited — the per-query cost), and
    * `topKStableAt` (the hop after which the final top-k never changed
    * again — the number that grows with graph diameter if fixed-entry
    * routing stops being enough and HNSW-style layers become worth
    * building). */
  final case class WalkStats(hopsExecuted: Int, nodesScored: Int, topKStableAt: Int)

  /** [[GraphIndex.deleteBatch]] batches up to this size resolve their
    * in-neighbors via reverse-tree point reads; larger batches run the
    * fully distributed resolved-graph scan. MEASURED crossover (SURVEY
    * §8.3, delete-at-scale ladder): the point path is ~linear in the
    * batch at ~0.02-0.03 s per id REGARDLESS of corpus size (200 ids ≈ 5-8 s, 2k ids ≈ 63 s —
    * the isin point reads and the driver-resident candidate set grow
    * with the batch) while the scan path is corpus-bounded and ~flat in
    * the batch (4k-70k ids all ≈ 5-10 s at 40k-200k vectors), putting
    * the crossover near ~300 ids at BOTH measured scales. 512 keeps the
    * low-latency point path for small interactive deletes (takedowns,
    * single documents) and hands everything bigger to the scan. */
  val PointDeleteCap: Int = 512

  /** A src whose ENTIRE rewritten edge set is empty (every edge pointed
    * into a delete batch and no bridge candidate survived — e.g. a whole
    * cluster deleted around one node) still needs a row in the repair
    * epoch, or max-epoch resolution would resurrect its stale edges into
    * the deleted ids. The sentinel IS that row: (src, dst = -1) means
    * "this src's complete current edge set is empty". Readers strip it
    * after resolution; the reverse tree never carries it (nothing points
    * INTO the sentinel id); [[compact]] folds such srcs away entirely.
    * Real ids are non-negative everywhere in the store, so -1 is free. */
  val EmptyEdgeSentinel: Long = -1L
}

final class GraphIndex(spark: SparkSession, val path: String, k: Int,
                       bucketFns: Seq[Column => Column], numEntries: Int = 4) {
  require(bucketFns.nonEmpty, "need at least one LSH bucketing")
  require(numEntries > 0, "need at least one entry point")

  private def vecPath = s"$path/vectors"
  private def graphPath = s"$path/graph"

  /** Reverse-edge tree (`graphRev/epoch=N`, rows (dst, src) RANGE-SORTED
    * on dst): [[deleteBatch]]'s in-neighbor discovery. Finding "who points
    * INTO these ids" on the src-sorted graph is a full edge scan (dst is
    * not the sort key); this tree turns it into the same In-pruned point
    * read the beam walk uses, keyed by dst. It is a candidate SUPERSET,
    * not a resolved view — a src's rewritten edge set in a newer epoch
    * does not erase its older reverse rows — so every hit is VERIFIED
    * against the src-resolved truth (a second In-pruned read, bounded by
    * the candidate srcs) before repair; stale rows fold away at
    * [[compact]]. Maintained by every publish that writes a graph epoch,
    * from the same frame, in the same crash-consistent commit. */
  private def graphRevPath = s"$path/graphRev"
  private def entriesPath = s"$path/entries"
  private def sq8Path = s"$path/_sq8"
  private def pqPath = s"$path/_pq"
  private def tombstonePath = s"$path/_tombstones"
  private def hwmPath = s"$path/_ts_hwm"
  private def marker = s"$path/_commit"


  // opening the index finishes any publish interrupted between its swaps —
  // readers and the replaying writer both see vectors+graph+entries move
  // together (see StoreIO.commitStaged). Single concurrent WRITER is the
  // contract (like IvfIndex.compact); an open racing a live writer's swap
  // phase is tolerated because swapStaged accepts the already-published
  // end state, but two concurrent insert()s are not.
  StoreIO.recover(marker)

  /** Highest tombstone batch id already APPLIED by a [[compact]] or
    * [[build]] — the replay fence shared with [[IvfIndex]]/[[TextIndex]]:
    * a delete replayed after compaction cleared it, with its ids since
    * re-inserted, must not resurrect the tombstone against the re-added
    * rows. Delete batch ids are monotone (checkpoint-driven). */
  private def tombstoneHwm(): Long = StoreIO.readLongFile(hwmPath, -1L)

  private def liveTombstoneDirs(): Array[java.io.File] = {
    val hwm = tombstoneHwm()
    StoreIO.committedBatchDirs(tombstonePath)
      .filter(_.getName.stripPrefix("batch=").toLong > hwm)
  }

  /** Pending deletes (ids) — None when there are none, so the serving
    * path pays nothing until a delete lands. Explicit schema: an empty
    * delete batch leaves a bare-_SUCCESS dir schema inference cannot
    * read. */
  private def tombstones(): Option[DataFrame] = {
    val dirs = liveTombstoneDirs()
    if (dirs.isEmpty) None
    else Some(spark.read.schema("id LONG").parquet(dirs.map(_.getPath).toIndexedSeq: _*)
      .select("id").dropDuplicates("id"))
  }

  /** All epochs; ids are disjoint across them ([[insert]] anti-joins), so
    * resolution is just dropping the partition column. Tombstoned ids
    * ([[delete]]) are excluded until [[compact]] drops them physically. */
  def vectors: DataFrame = {
    val v = spark.read.parquet(vecPath).drop("epoch")
    tombstones().fold(v)(ts => v.join(broadcast(ts), Seq("id"), "left_anti"))
  }

  /** Current edge set: newest epoch wins per src (that epoch holds the
    * src's complete top-k). The serving walk's `src IN (...)` filters push
    * BELOW the resolution window (src is its partition key — plan-asserted
    * in GraphIndexSpec), so per-hop reads stay row-group-pruned point
    * lookups. Tombstoned SRCs drop here; edges INTO a tombstoned node
    * cannot exist in live rows — [[delete]] repairs every in-neighbor in
    * the same commit that writes the tombstones. */
  def graph: DataFrame = {
    val g = stripSentinel(resolveLatest(rawGraph))
    tombstones().fold(g)(ts =>
      g.join(broadcast(ts.withColumnRenamed("id", "src")), Seq("src"), "left_anti"))
  }

  /** Drop empty-edge-set sentinel rows ([[GraphIndex.EmptyEdgeSentinel]])
    * AFTER epoch resolution — the sentinel must first win its src's
    * max-epoch window (that is its whole job), then vanish from view. */
  private def stripSentinel(g: DataFrame): DataFrame =
    g.filter(col("dst") =!= lit(GraphIndex.EmptyEdgeSentinel))

  private def rawGraph: DataFrame = spark.read.parquet(graphPath)

  private def resolveLatest(raw: DataFrame): DataFrame = {
    val w = Window.partitionBy("src")
    raw.withColumn("__maxe", max(col("epoch")).over(w))
      .filter(col("epoch") === col("__maxe"))
      .drop("epoch", "__maxe")
  }

  /** Epoch ids across BOTH trees: [[deleteBatch]] publishes graph-only
    * epochs (a repair touches no vectors), so numbering from the vector
    * tree alone would hand a later [[insert]] an epoch id that overwrites
    * the repair. */
  private def epochs(): Seq[Long] =
    Seq(vecPath, graphPath).flatMap { p =>
      val root = new java.io.File(p)
      if (!root.exists()) Seq.empty
      else root.listFiles().toSeq.collect {
        case f if f.isDirectory && f.getName.startsWith("epoch=") =>
          f.getName.stripPrefix("epoch=").toLong
      }
    }.distinct

  /** Build-time entry points: (cell, id) — the medoid of each trained cell. */
  def entryPoints: DataFrame = spark.read.parquet(entriesPath)

  // entries are immutable between build() calls (insert leaves them as
  // built), so the serving hot path loads them once per instance instead
  // of paying a read+collect job on every default-entry query
  @volatile private var entryCache: Seq[Long] = null

  private def defaultEntries(): Seq[Long] = {
    var e = entryCache
    if (e == null) {
      e = entryPoints.select("id").orderBy("id").collect().map(_.getLong(0)).toSeq
      entryCache = e
    }
    e
  }

  /** Range-sorted layout: parquet row-group min/max stats on the key make
    * the walk's In-filters skip everything outside the requested ids. */
  private def sortedBy(df: DataFrame, key: String): DataFrame =
    df.repartitionByRange(col(key)).sortWithinPartitions(key)

  /** Build from (id LONG, emb ARRAY<FLOAT>, metadata...): multi-table LSH
    * candidate join + `refineRounds` NN-Descent passes, plus entry-point
    * training — `numEntries` quantized-Lloyd cells (the [[IvfIndex]]
    * trainer), each contributing its MEDOID (closest real vector to the
    * centroid, ties to the lowest id) as a persisted entry. Medoids spread
    * across the data's own cluster structure, so a walk starts near every
    * mode instead of wherever the caller guessed.
    *
    * `codes = "pq"` ADDITIONALLY trains `pqM`-subspace 256-codeword
    * product-quantizer codebooks over the build input and freezes them as
    * a `_pq` sidecar beside the always-written `_sq8` stats — the PQ
    * serving tier ([[queryPq]]/[[hotQueryPq]]) packs a vector into `pqM`
    * bytes (8x under SQ8's dim bytes, 32x under raw floats), so the same
    * `graft.hot.maxBytes` admission budget serves several times more
    * corpus hot than the SQ8 tier (the code-byte ratio is 8x; the
    * resident-entry overhead — ids, map entries, edges — dilutes the
    * whole-budget ratio to ~2x at the 64-dim fixtures and ~8x at a real
    * 384-dim deployment). Unlike [[IvfIndex.build]]'s either/or
    * quantizer, the graph keeps BOTH sidecars: codes are derived at
    * serving time from frozen stats, never stored per row, so the extra
    * sidecar costs one training pass at build and dim+pqM·256 rows of
    * metadata forever. */
  def build(input: DataFrame, refineRounds: Int = 1,
            codes: String = "sq8", pqM: Int = 8,
            symmetric: Boolean = false): Unit =
      WriterLease.withLease(path, "GraphIndex.build") {
    require(codes == "sq8" || codes == "pq", s"codes must be sq8 or pq, got $codes")
    val v = input.persist()
    try {
      val ve = v.select(col("id"), col("emb"))
      var g = KnnGraph.build(ve, bucketFns, k)
      (0 until refineRounds).foreach(_ => g = KnnGraph.refine(g, ve, k))
      // NSW-style bidirectional wiring (opt-in): a DIRECTED kNN graph
      // leaves low-in-degree nodes unreachable from the entry points —
      // every node picks k out-neighbors, but nothing guarantees anyone
      // picks IT (measured on a chunk corpus with duplicate cliques: 2 of
      // 281 nodes had out-edges only, and no beam width or hop count could
      // ever reach them). Adding each edge's reverse caps degree at 2k and
      // makes every edge-bearing node in-reachable — what HNSW's insert
      // discipline (bidirectional connect) gives incrementally, applied to
      // the batch build. AFTER refine: a refine round re-cuts each src to
      // top-k and would undo the symmetrization.
      if (symmetric)
        g = g.select(col("src"), col("dst"), col("dist"))
          .unionByName(g.select(col("dst").as("src"), col("src").as("dst"), col("dist")))
          .groupBy("src", "dst").agg(min(col("dist")).as("dist"))
      // SQ8 quantizer sidecar, frozen until the next rebuild (the
      // IvfIndex discipline): per-dim (min, max) over the build input —
      // dim rows of driver metadata. Inserted vectors later encode
      // through the SAME frozen stats at serving time (codes are derived,
      // never stored, so inserts need no re-encode pass).
      val sq8 = ve.select(posexplode(col("emb")).as(Seq("d", "x")))
        .groupBy("d")
        .agg(min(col("x").cast("double")).as("mn"),
          max(col("x").cast("double")).as("mx"))
        .collect().map(r => (r.getInt(0), r.getDouble(1), r.getDouble(2)))
        .sortBy(_._1)
      val sq8Df = spark.createDataFrame(sq8.toSeq).toDF("d", "mn", "mx")
      // same crash-consistent publish as insert: a REBUILD over a live
      // index (the periodic entry-retrain / compaction story) must never
      // delete the old data before the new data is fully staged, and all
      // outputs must move together
      val pqStaged =
        if (codes != "pq") Nil
        else {
          // train on a bounded DETERMINISTIC sample (the IvfIndex
          // trainSampleCap discipline): codebook quality saturates at a
          // few hundred rows per codeword, while full-input training is
          // pqM·TrainIters corpus passes plus a corpus-wide sort for the
          // 256 seed rows
          val cap = GraphIndex.PqK * 512L
          val n = ve.count()
          val trainSet =
            if (n <= cap) ve
            else {
              val m = math.ceil(n.toDouble / cap).toLong
              val thinned = ve.filter(pmod(xxhash64(col("id")), lit(m)) === 0)
              if (thinned.count() >= GraphIndex.PqK) thinned else ve
            }
          val books = graft.operators.ProductQuantizer.train(
            trainSet.orderBy("id"), "emb", pqM, GraphIndex.PqK, GraphIndex.TrainIters)
          val rows = for {
            (cb, mi) <- books.zipWithIndex
            (code, cw) <- cb
          } yield (mi, code, cw.toSeq)
          val pqDf = spark.createDataFrame(rows.toSeq).toDF("mi", "code", "cw")
          Seq(StoreIO.Staged(s"${path}/__stage_pq", pqPath,
            st => pqDf.coalesce(1).write.mode("overwrite").parquet(st)))
        }
      // a rebuild DEFINES the new truth: an sq8 rebuild over a previously
      // pq-built index sweeps the stale _pq sidecar in the same commit —
      // codebooks trained on the replaced corpus must not keep serving
      // the new one (the IvfIndex rebuild contract; hotKey()'s
      // mt(pqPath) premise is that any rebuild touches the sidecar)
      publishFull(sortedBy(v, "id"), sortedBy(g, "src"), trainEntryPoints(ve),
        extra = StoreIO.Staged(s"${path}/__stage_sq8", sq8Path,
          st => sq8Df.coalesce(1).write.mode("overwrite").parquet(st)) +: pqStaged,
        sweep = if (codes != "pq") Seq(pqPath) else Nil)
    } finally v.unpersist(): Unit
  }: Unit

  /** Replace all three dirs as one commit, data landing at epoch 0. The
    * input views already exclude tombstoned rows, so the snapshotted
    * tombstone dirs clear in the SAME commit (their ids fence via the hwm
    * so a replayed delete cannot resurrect them against re-added rows).
    * `extra` joins the same commit (build's quantizer sidecar); compact
    * passes none, preserving the frozen quantizer. */
  private def publishFull(v: DataFrame, g: DataFrame, entries: DataFrame,
                          extra: Seq[StoreIO.Staged] = Nil,
                          sweep: Seq[String] = Nil): Unit = {
    val allTsDirs = StoreIO.committedBatchDirs(tombstonePath)
    val newHwm = allTsDirs.map(_.getName.stripPrefix("batch=").toLong)
      .foldLeft(tombstoneHwm())(math.max)
    StoreIO.commitStaged(Seq(
      StoreIO.Staged(s"${vecPath}__stage", vecPath,
        st => v.write.mode("overwrite").parquet(s"$st/epoch=0")),
      StoreIO.Staged(s"${graphPath}__stage", graphPath,
        st => g.write.mode("overwrite").parquet(s"$st/epoch=0")),
      StoreIO.Staged(s"${graphRevPath}__stage", graphRevPath,
        st => sortedBy(g.select(col("dst"), col("src")), "dst")
          .write.mode("overwrite").parquet(s"$st/epoch=0")),
      StoreIO.Staged(s"${entriesPath}__stage", entriesPath,
        st => entries.coalesce(1).write.mode("overwrite").parquet(st))) ++ extra ++
      (if (allTsDirs.isEmpty) Seq.empty
       else Seq(StoreIO.Staged(s"$path/__stage_ts_hwm", hwmPath,
         st => StoreIO.writeLongFile(st, newHwm)))),
      marker, cleanup = allTsDirs.map(_.getPath).toSeq ++ sweep)
    entryCache = null
  }

  /** Fold every delta epoch back into a single epoch 0 (the
    * [[IvfIndex.compact]] story): after a long insert stream the per-hop
    * In-filters would otherwise consult one file set per epoch. Answers are
    * unchanged — this rewrites the RESOLVED views. `retrainEntries` also
    * re-trains the medoid entry points over the compacted corpus (inserts
    * leave entries as built, so they drift as far as the data does;
    * compaction is the natural retrain point — cheaper than a full
    * [[build]], which re-wires every edge too). Crash-consistent like
    * every other publish. */
  /** Maintenance introspection — see [[IndexStats]]: live vectors,
    * pending tombstones, delta-epoch count. */
  def stats(): IndexStats = {
    val phys = spark.read.parquet(vecPath).count()
    val live = vectors.count()
    IndexStats(live, phys - live, epochs().length)
  }

  def compact(retrainEntries: Boolean = false): Unit =
      WriterLease.withLease(path, "GraphIndex.compact") {
    val v = vectors.persist()
    try {
      val ent =
        if (retrainEntries) trainEntryPoints(v.select(col("id"), col("emb")))
        else entryPoints
      // invariant enforcement at the fold point: an edge whose dst has no
      // live vector (possible only in an index written before the
      // empty-set sentinel repair existed) is dropped here rather than
      // persisted forever — dead dsts never score, but they waste beam
      // slots on every walk
      val gLive = graph
        .join(v.select(col("id").as("dst")), Seq("dst"), "left_semi")
        .select("src", "dst", "dist")
      publishFull(sortedBy(v, "id"), sortedBy(gLive, "src"), ent)
    } finally v.unpersist(): Unit
  }: Unit

  /** Medoids of `numEntries` deterministically-trained k-means cells:
    * farthest-first seeds + quantized Lloyd (bit-reproducible), then one
    * window picks each cell's closest vector. */
  private def trainEntryPoints(ve: DataFrame): DataFrame =
    GraphWalk.medoidEntries(spark, ve, numEntries)

  /** Eligibility fetch for a metadata-filtered query: BOTH the predicate
    * and the candidate-id In-filter reach the parquet vector scan
    * (`PushedFilters` — plan-asserted in GraphIndexSpec), so a filtered
    * query reads only matching row groups, never the corpus. */
  private[graft] def candidateScan(ids: Seq[Long], pred: Column): DataFrame =
    vectors.filter(pred).filter(col("id").isin(ids: _*))

  private def eligible(visitedIds: Seq[Long], where: Option[Column]): Long => Boolean =
    where match {
      case None => _ => true
      case Some(pred) =>
        candidateScan(visitedIds.sorted, pred)
          .select("id").collect().map(_.getLong(0)).toSet
    }

  /** Beam-search the persisted graph (exact distances, deterministic).
    * `entries` defaults to the build-time medoids; `where` restricts the
    * ANSWER SET to vectors matching the metadata predicate. */
  def query(qe: Array[Float], topK: Int, beamWidth: Int, hops: Int,
            entries: Seq[Long] = Seq.empty,
            where: Option[Column] = None): DataFrame = {
    val starts = if (entries.nonEmpty) entries else defaultEntries()
    val visited = KnnGraph.beamVisited(graph, vectors, qe, beamWidth, hops, starts)
    val ok = eligible(visited.keys.toSeq, where)
    import spark.implicits._
    visited.toSeq.filter { case (id, _) => ok(id) }
      .sortBy { case (id, d) => (d, id) }.take(topK).toDF("id", "dist")
  }

  /** Batched serving: one shared walk schedule for MANY probes — per hop,
    * ONE In-pruned read of the graph (the union of every probe's beam) and
    * ONE In-pruned, pair-bounded scoring job (vectors × broadcast (probe,
    * id) pairs), so Q probes cost hops scans, not Q·hops. Results match
    * [[query]] probe for probe: same entries, same per-probe beam and
    * visited evolution, same l2Sq kernel. Output: (probe_id, id, dist, rn)
    * — the [[IvfIndex.queryBatch]] surface.
    *
    * `beamOf` overrides the UNIFORM `beamWidth` per probe (the
    * [[exactBeams]] policy — the graph twin of
    * [[IvfIndex.queryBatch]]'s `depthOf`): an easy probe walks a narrow
    * beam while a hard one widens, inside the SAME shared schedule —
    * per hop still ONE graph read over the union of every probe's beam,
    * so per-probe widths change each probe's frontier, never the number
    * of scans. Absent ids fall back to `beamWidth`. */
  def queryBatch(probes: Seq[(Long, Array[Float])], topK: Int, beamWidth: Int,
                 hops: Int, entries: Seq[Long] = Seq.empty,
                 where: Option[Column] = None,
                 beamOf: Map[Long, Int] = Map.empty): DataFrame = {
    val starts = (if (entries.nonEmpty) entries else defaultEntries()).distinct.sorted
    // the walk schedule itself is the SHARED [[GraphWalk.batch]] — the
    // encrypted twin runs the identical code over decrypt-on-read vectors,
    // so plaintext/encrypted parity holds by construction
    GraphWalk.batch(spark, graph, vectors.select(col("id"), col("emb")),
      probes, topK, beamWidth, hops, starts, beamOf,
      ids => eligible(ids, where))
  }

  /** [[queryBatch]] with the probes as a DATAFRAME and the walk state as
    * FRAMES — the graph twin of [[IvfIndex.queryBatchDF]], for panels a
    * driver cannot hold: [[queryBatch]] keeps per-probe `visited` HashMaps
    * on the driver and collects scored pairs every hop (O(panel × visited)
    * driver memory — fine at calibration panels, driver-bound at a
    * training-pipeline panel), while here NOTHING per-probe ever
    * materializes on the driver. Per hop:
    *
    *  1. the per-probe beam is a map-side-bounded
    *     [[graft.operators.GroupedTopK]] cut of the visited frame (≤ beam
    *     × P entries through the exchange — never the visited volume);
    *  2. expansion is ONE equi-join of the beam against the persisted
    *     resolved edge frame (the corpus-side scan is paid once per hop
    *     for the WHOLE panel — the [[queryBatch]] amortization, without
    *     its per-hop driver collect), deduped and anti-joined against
    *     visited;
    *  3. fresh nodes score through one equi-join against the live
    *     vectors; the CORPUS sides (graph by src, vectors by id, probes
    *     by probe_id) are hash-partitioned once and cached, so per-hop
    *     joins shuffle only the bounded walk-side frames; the beam
    *     derives from a running top-maxBeam BEAM STATE (≤ maxBeam × P
    *     rows — identical to aggregating all visited, by monotonicity);
    *     and visited stays a list of per-hop checkpointed frames
    *     pre-hashed on the dedupe key.
    *
    * The walk schedule is the SAME definition the driver walk runs (entry
    * admission, (dist, id) beam selection, frontier-empty early stop), so
    * per-probe answers ≡ [[queryBatch]] ≡ [[query]] (spec-pinned,
    * GraphIndexSpec). `useBeam` opts in to a `beam` INTEGER column on
    * `probes` as the per-probe width policy ([[exactBeams]] /
    * [[beamPolicy]] routed through the frame — null → `beamWidth`;
    * non-integral refused loudly; the [[IvfIndex.queryBatchDF]] `depth`
    * discipline). probe_id must be unique (refused loudly). Driver state:
    * hop counters and one boolean per hop — never probe-sized. */
  def queryBatchDF(probes: DataFrame, topK: Int, beamWidth: Int, hops: Int,
                   entries: Seq[Long] = Seq.empty,
                   where: Option[Column] = None,
                   useBeam: Boolean = false): DataFrame = {
    val starts = (if (entries.nonEmpty) entries else defaultEntries()).distinct.sorted
    val beamCol = GraphWalk.beamPolicyCol(probes, beamWidth, useBeam)
    // driver-sized panels serve through the driver walk — identical
    // answers (the queryBatch ≡ queryBatchDF parity pin), none of the
    // frame lane's per-hop action constant ([[PanelDispatch]])
    PanelDispatch.smallPanel(spark,
        probes.select(col("probe_id"), col("qe").cast("array<float>").as("qe"),
          beamCol.as("pbeam"))) match {
      // an EMPTY panel stays on the frame lane (the Seq twin refuses
      // empty panels; the frame walk serves the empty answer frame)
      case Some(rows) if rows.nonEmpty =>
        PanelDispatch.requireUniqueProbes(rows)
        return queryBatch(
          rows.map(r => (r.getLong(0), r.getSeq[Float](1).toArray)).toSeq,
          topK, beamWidth, hops, starts, where,
          beamOf = rows.map(r => r.getLong(0) -> r.getInt(2)).toMap)
      case _ => ()
    }
    // The schedule itself is the SHARED [[GraphWalk.batchDF]] (r14: the
    // encrypted twin runs the identical frame walk over decrypt-on-read
    // vectors, the [[GraphWalk.batch]] discipline applied to the scale
    // lane). The per-hop constant is attacked where it actually lives
    // (the r12 §8.3 finding — frames 2-3× the driver walk at 16k probes;
    // an r13 draft that only BATCHED the jobs per 3-hop segment measured
    // 9× WORSE: un-materialized persisted hops race their own concurrent
    // first computations inside the segment job, so each hop recomputed
    // per reference). Three structural cuts instead, each hop still
    // materialized:
    //  1. the CORPUS sides are hash-partitioned ONCE (g by src, ve by id,
    //     p by probe_id) and cached — cached frames retain
    //     outputPartitioning, so every hop's joins shuffle only the
    //     bounded walk-side frame, never the graph or vectors again;
    //  2. the per-hop beam derives from a RUNNING BEAM STATE (top-maxBeam
    //     per probe, folded with each hop's fresh rows — identical to
    //     top-maxBeam of all visited by monotonicity), ≤ maxBeam × P rows,
    //     instead of re-aggregating the whole visited set;
    //  3. visited stays a LIST of per-hop checkpointed frames pre-hashed
    //     on (probe_id, id): the dedupe anti-joins shuffle only the
    //     candidate side against each bounded delta.
    val p = probes.select(col("probe_id"),
      col("qe").cast("array<float>").as("qe"), beamCol.as("pbeam"))
    val ve = vectors.select(col("id"), col("emb"))
      .repartition(col("id")).persist()
    try {
      GraphWalk.batchDF(spark, graph, p, topK, hops, starts,
        // plaintext twin: the cached corpus frame IS the emb side — the
        // walk's equi-join restricts it, no pre-filter needed
        _ => ve,
        // eligibility restricts the ANSWER SET of the unfiltered walk's
        // visited pool (the [[query]]/`eligible` convention), pushed to
        // the vector scan as a semi-join instead of a driver-side id set
        visited => where.fold(visited)(pred =>
          visited.join(vectors.filter(pred).select("id"), Seq("id"), "left_semi")))
    } finally ve.unpersist(): Unit
  }

  // ------------------------------------------------------- hot serving

  /** JVM-resident serving state: the RESOLVED adjacency, the live
    * vectors, the entry points, and (when the index carries the routed
    * collection's metadata) the (cid, doc) payload — everything a probe
    * touches, pinned in memory so a warm query is pure computation, zero
    * Spark jobs. This is the reference's ACTUAL serving shape: hnswlib
    * inside ChromaDB keeps the whole graph memory-resident per process
    * (/root/reference/src/chromadb_store.py:4), and the Spark walk is its
    * durable, corpus-scale complement. Keyed by the on-disk publish state; any commit (insert,
    * delete, compact, build) changes the key and the next probe reloads.
    * In local mode driver == executor; on a cluster this same state is
    * what a broadcast (or an executor-side singleton per index shard)
    * would pin — memory is bounded by the INDEX, not the query. */
  private final class HotState(
      val key: String,
      val adj: java.util.HashMap[java.lang.Long, Array[Long]],
      val vecs: java.util.HashMap[java.lang.Long, Array[Float]],
      val payload: java.util.HashMap[java.lang.Long, (String, String, Map[String, String])],
      val hasMeta: Boolean,
      val entries: Seq[Long])

  @volatile private var hot: HotState = null

  /** Publish fingerprint: epoch ids, tombstone batch dirs, the replay
    * fence, and the tree mtimes (swaps rename into the parent, bumping
    * it) — every mutator changes at least one component. */
  /** Publish fingerprint — the MULTI-PROCESS hot-tier contract: validity
    * is decided per probe from SHARED on-disk state (epoch/tombstone dir
    * names, the replay fence, sidecar mtimes), never from in-process
    * events, so N serving replicas need no invalidation channel — a
    * writer in ANY process lands a commit and every replica's next probe
    * reloads (HotInvalidationSpec drives two instances over one path).
    * The check is driver-side file metadata: no Spark job per probe. On
    * object storage the same fingerprint is a LIST of the commit markers
    * (their etags play the mtime role). */
  private def hotKey(): String = {
    val eps = epochs().sorted.mkString(",")
    val ts = StoreIO.committedBatchDirs(tombstonePath).map(_.getName).mkString(",")
    def mt(p: String) = new java.io.File(p).lastModified()
    // the quantizer sidecars are part of the serving identity: the codes
    // tiers' resident bytes derive from them, so a rebuilt quantizer must
    // flip the fingerprint exactly like a data commit (0 = absent)
    s"$eps|$ts|${tombstoneHwm()}|${mt(vecPath)}|${mt(graphPath)}|${mt(entriesPath)}|${mt(sq8Path)}|${mt(pqPath)}"
  }

  private def hotState(): HotState = {
    val key = hotKey()
    var h = hot
    if (h == null || h.key != key) {
      val adj = new java.util.HashMap[java.lang.Long, Array[Long]]()
      graph.select("src", "dst").collect()
        .groupBy(_.getLong(0))
        .foreach { case (s0, rows) => adj.put(s0, rows.map(_.getLong(1)).sorted) }
      val vecs = new java.util.HashMap[java.lang.Long, Array[Float]]()
      val payload = new java.util.HashMap[java.lang.Long, (String, String, Map[String, String])]()
      val v = vectors
      val hasPayload = v.columns.contains("cid") && v.columns.contains("doc")
      val hasMeta = hasPayload && v.columns.contains("meta")
      val cols =
        if (hasMeta) v.select("id", "emb", "cid", "doc", "meta")
        else if (hasPayload) v.select("id", "emb", "cid", "doc")
        else v.select("id", "emb")
      cols.collect().foreach { r =>
        vecs.put(r.getLong(0), r.getSeq[Float](1).toArray)
        if (hasPayload) {
          val meta: Map[String, String] =
            if (hasMeta && !r.isNullAt(4)) r.getMap[String, String](4).toMap
            else Map.empty
          payload.put(r.getLong(0), (r.getString(2), r.getString(3), meta))
        }
      }
      h = new HotState(key,
        adj, vecs, payload, hasMeta,
        entryPoints.select("id").orderBy("id").collect().map(_.getLong(0)).toSeq)
      hot = h
    }
    h
  }

  /** [[query]] served ENTIRELY from JVM memory — identical semantics
    * (same walk schedule, same double-accumulated l2 distances, same tie
    * breaks as [[KnnGraph.beamVisited]]), so hot and cold answers are
    * bit-equal; RoutedQuerySpec pins it. Warm cost is O(hops·beam·k) map
    * lookups and float math — sub-millisecond, invariant in corpus
    * size. */
  def hotQuery(qe: Array[Float], topK: Int, beamWidth: Int, hops: Int,
               entries: Seq[Long] = Seq.empty): Seq[(Long, Double)] =
    hotVisited(hotState(), qe, beamWidth, hops, entries).take(topK)

  /** [[hotQuery]] plus [[GraphIndex.WalkStats]] — identical answers (the
    * same walk runs; spec-pinned), tracked per hop. */
  def hotQueryStats(qe: Array[Float], topK: Int, beamWidth: Int, hops: Int,
                    entries: Seq[Long] = Seq.empty): (Seq[(Long, Double)], GraphIndex.WalkStats) = {
    val h = hotState()
    val stats = new StatsAcc(topK)
    val visited = hotVisited(h, qe, beamWidth, hops, entries, stats)
    (visited.take(topK), GraphIndex.WalkStats(stats.hops, visited.size, stats.stableAt))
  }

  /** Mutable per-hop tracker threaded through [[hotVisited]] when stats
    * are requested; `stableAt` = first hop whose end state already held
    * the final top-k (0 = the entry points alone did). */
  private final class StatsAcc(val topK: Int) {
    var hops = 0
    var stableAt = 0
    var lastTop: Seq[Long] = Seq.empty
  }

  /** The FULL visited set of the hot walk, sorted (dist, id) ascending —
    * [[hotQuery]] truncates it to top-k; the filtered serving path
    * ([[hotServeFiltered]]) filters it FIRST, exactly like the Spark
    * path's `eligible` restriction over `beamVisited`. */
  private def hotVisited(h: HotState, qe: Array[Float], beamWidth: Int,
                         hops: Int, entries: Seq[Long] = Seq.empty,
                         stats: StatsAcc = null): Seq[(Long, Double)] = {
    val starts = (if (entries.nonEmpty) entries else h.entries).distinct.sorted
    def dist(id: Long): Double = {
      val v = h.vecs.get(id)
      var acc = 0.0
      var i = 0
      while (i < v.length) {
        val d = v(i).toDouble - qe(i).toDouble
        acc += d * d
        i += 1
      }
      acc
    }
    walkVisited(id => Option(h.adj.get(id)).getOrElse(Array.empty[Long]),
      h.vecs.containsKey(_), dist, starts, beamWidth, hops, stats)
  }

  /** ONE in-memory walk definition for every hot tier — raw floats
    * ([[hotVisited]]) and SQ8 codes ([[hotQueryQuantized]]) differ only
    * in the `dist` function, so the schedule (entry admission, (dist, id)
    * beam selection, sorted frontier expansion, fixed-point early stop)
    * can never drift between them — the same guarantee
    * [[graft.operators.KnnGraph.beamVisitedBy]] gives the Spark paths. */
  private def walkVisited(adjOf: Long => Array[Long], has: Long => Boolean,
                          dist: Long => Double, starts: Seq[Long],
                          beamWidth: Int, hops: Int,
                          stats: StatsAcc = null): Seq[(Long, Double)] = {
    val visited = scala.collection.mutable.HashMap[Long, Double]()
    starts.foreach(id => if (has(id)) visited(id) = dist(id))
    def topIds(): Seq[Long] =
      visited.toSeq.sortBy { case (id, d) => (d, id) }
        .take(stats.topK).map(_._1)
    if (stats != null) stats.lastTop = topIds()
    var hop = 0
    var open = true
    while (hop < hops && open) {
      val beam = visited.toSeq.sortBy { case (id, d) => (d, id) }
        .take(beamWidth).map(_._1)
      val fresh = beam
        .flatMap(b => adjOf(b).toSeq)
        .distinct.filterNot(visited.contains(_)).sorted
      open = fresh.nonEmpty
      fresh.foreach(id => if (has(id)) visited(id) = dist(id))
      hop += 1
      if (stats != null && open) {
        stats.hops = hop
        val t = topIds()
        if (t != stats.lastTop) { stats.stableAt = hop; stats.lastTop = t }
      }
    }
    visited.toSeq.sortBy { case (id, d) => (d, id) }
  }

  /** Admission check for ROUTED hot serving: the on-disk index tree must
    * fit the [[StoreIO.hotBudgetBytes]] budget. Jobless (driver-side file
    * metadata), so the check itself is free per probe. Over budget, the
    * router falls back to the Spark walk — corpus-flat, never OOM — and
    * the explicit [[hotQuery]] surface stays available to callers who
    * know their index fits. */
  private def hotFits(): Boolean =
    StoreIO.treeBytes(vecPath) + StoreIO.treeBytes(graphPath) <=
      StoreIO.hotBudgetBytes()

  /** Hot-path ROUTED serving: top-k with the collection payload, ordered
    * like `Collection.routedQuery` ((distance, cid) ascending). None when
    * the index does not carry routing metadata or is over the hot-tier
    * byte budget — the caller falls back to the Spark point-read path. */
  private[store] def hotServe(qe: Array[Float], topK: Int, beamWidth: Int,
                              hops: Int): Option[Seq[(String, String, Double)]] = {
    if (!hotFits()) return None
    val h = hotState()
    if (h.payload.isEmpty) None
    else Some(
      hotQuery(qe, topK, beamWidth, hops)
        .flatMap { case (id, d) =>
          Option(h.payload.get(id)).map { case (cid, doc, _) => (cid, doc, d) }
        }
        .sortBy { case (cid, _, d) => (d, cid) })
  }

  /** FILTERED hot serving — the payoff of chroma's declarative filter
    * dialect: an opaque Catalyst `Column` cannot run off-Spark, but the
    * dict grammar compiles to BOTH a Catalyst predicate (the pushed-down
    * index scan) and a plain JVM closure (graft.functions.ChromaWhere
    * `compileWhere`/`compileWhereDocument`), so a filtered probe stays on
    * the sub-millisecond hot tier. Semantics replicate the Spark path
    * EXACTLY ([[query]] with `where`): the predicate restricts the
    * ANSWER SET of the unfiltered walk's visited pool — filter first,
    * THEN top-k by (dist, id), then the routed (dist, cid) presentation
    * order. None when the index has no routing payload / no metadata for
    * a metadata filter / exceeds the hot byte budget — the router falls
    * back to the Spark scan. */
  private[store] def hotServeFiltered(qe: Array[Float], topK: Int, beamWidth: Int,
                                      hops: Int,
                                      whereOk: Option[Map[String, String] => Boolean],
                                      docOk: Option[String => Boolean]): Option[Seq[(String, String, Double)]] = {
    if (!hotFits()) return None
    val h = hotState()
    if (h.payload.isEmpty) return None
    if (whereOk.nonEmpty && !h.hasMeta) return None // meta-less index: Spark path decides
    Some(
      hotVisited(h, qe, beamWidth, hops)
        .filter { case (id, _) =>
          Option(h.payload.get(id)).exists { case (_, doc, meta) =>
            whereOk.forall(_(meta)) && docOk.forall(f => f(doc))
          }
        }
        .take(topK)
        .flatMap { case (id, d) =>
          Option(h.payload.get(id)).map { case (cid, doc, _) => (cid, doc, d) }
        }
        .sortBy { case (cid, _, d) => (d, cid) })
  }

  // ------------------------------------- quantized serving (SQ8 codes)

  /** The frozen SQ8 quantizer stats (`build()`'s sidecar). None on an
    * index persisted before codes existed — quantized surfaces then fail
    * loudly with a rebuild hint rather than inventing a quantizer. */
  private def sq8Stats(): Option[(Array[Double], Array[Double])] =
    if (!new java.io.File(s"$sq8Path/_SUCCESS").exists()) None
    else {
      val rows = spark.read.parquet(sq8Path).collect()
        .map(r => (r.getInt(0), r.getDouble(1), r.getDouble(2))).sortBy(_._1)
      Some((rows.map(_._2), rows.map(_._3)))
    }

  private def requireSq8(): (Array[Double], Array[Double]) =
    sq8Stats().getOrElse(sys.error(
      s"GraphIndex at $path has no _sq8 quantizer sidecar — rebuild with build() to add it"))

  /** Frozen PQ codebooks (code-sorted per subspace) — None unless the
    * index was built with `codes = "pq"`. */
  private def pqBooks(): Option[graft.operators.ProductQuantizer.Codebooks] =
    if (!new java.io.File(s"$pqPath/_SUCCESS").exists()) None
    else Some(
      spark.read.parquet(pqPath).collect()
        .map(r => (r.getInt(0), r.getLong(1), r.getSeq[Float](2).toArray))
        .groupBy(_._1).toArray.sortBy(_._1)
        .map { case (_, rs) => rs.sortBy(_._2).map(r => (r._2, r._3)) })

  private def requirePq(): graft.operators.ProductQuantizer.Codebooks =
    pqBooks().getOrElse(sys.error(
      s"GraphIndex at $path has no _pq codebook sidecar — rebuild with " +
        "build(codes = \"pq\") to add it"))

  /** Bounded exact finish shared by the quantized cold and hot paths: the
    * true-float top-k of the `rerank` best code-distance candidates, via
    * ONE In-pushed point read — cost bounded by the ANSWER, never the
    * corpus. */
  private def exactRerank(qe: Array[Float], shortIds: Seq[Long],
                          topK: Int): DataFrame =
    vectors.filter(col("id").isin(shortIds: _*))
      .select(col("id"), VF.l2Sq(col("emb"), typedlit(qe)).as("dist"))
      .orderBy(asc("dist"), asc("id")).limit(topK)

  /** [[query]] over SQ8 CODE distances with a bounded exact rerank: the
    * SAME walk schedule ([[KnnGraph.beamVisitedBy]]) scored by integer L2
    * over codes derived from the frozen build-time quantizer (1 byte/dim —
    * the scan-traffic/memory story), then the top-`rerank` candidates
    * re-score with true floats. At FULL beam width the walk visits every
    * reachable node whatever the metric, so full-beam + full-rerank is
    * bit-equal to the exact [[query]] (spec-pinned); at serving depths the
    * quantized walk trades recall for a 4x smaller resident/scan
    * footprint, measured in GraphIndexSpec. */
  def queryQuantized(qe: Array[Float], topK: Int, beamWidth: Int, hops: Int,
                     rerank: Int = 64,
                     entries: Seq[Long] = Seq.empty): DataFrame = {
    require(rerank >= topK, "rerank must be at least topK")
    val (mn, mx) = requireSq8()
    val qb = graft.functions.Sq8Encode.encode(qe, mn, mx)
    val starts = if (entries.nonEmpty) entries else defaultEntries()
    val scored = vectors.select(col("id"),
      VF.sq8L2(VF.sq8Encode(col("emb"), mn, mx), lit(qb))
        .cast("double").as("dist"))
    val visited = KnnGraph.beamVisitedBy(graph, scored, beamWidth, hops, starts)
    val shortIds = visited.toSeq.sortBy { case (id, d) => (d, id) }
      .take(rerank).map(_._1)
    exactRerank(qe, shortIds, topK)
  }

  /** [[queryQuantized]]'s PQ twin: the SAME walk schedule scored by the
    * asymmetric-distance lookup over `pqM`-byte product-quantizer codes
    * derived from the frozen `_pq` codebooks (the driver computes the
    * m×256 LUT once per probe and folds it into the plan), then the
    * bounded exact rerank. At FULL beam width the walk visits every
    * reachable node whatever the metric, so full-beam + full-rerank is
    * bit-equal to the exact [[query]] (spec-pinned); at serving depths
    * PQ's coarser distances trade recall for an 8x smaller resident
    * footprint than SQ8 (32x under raw floats). */
  def queryPq(qe: Array[Float], topK: Int, beamWidth: Int, hops: Int,
              rerank: Int = 64,
              entries: Seq[Long] = Seq.empty): DataFrame = {
    require(rerank >= topK, "rerank must be at least topK")
    val books = requirePq()
    val flat = graft.operators.ProductQuantizer.flatten(books)
    val lut = graft.operators.ProductQuantizer.adcLut(qe, books)
    val starts = if (entries.nonEmpty) entries else defaultEntries()
    val scored = vectors.select(col("id"),
      VF.pqAdc(VF.pqEncode(col("emb"), flat, books.length, GraphIndex.PqK),
        lut, GraphIndex.PqK).as("dist"))
    val visited = KnnGraph.beamVisitedBy(graph, scored, beamWidth, hops, starts)
    val shortIds = visited.toSeq.sortBy { case (id, d) => (d, id) }
      .take(rerank).map(_._1)
    exactRerank(qe, shortIds, topK)
  }

  /** JVM-resident CODES + adjacency — the hot tier for a graph whose raw
    * floats exceed `graft.hot.maxBytes`: a few code bytes per vector
    * instead of 4 bytes/dim, so more corpus serves hot under the same
    * admission budget (the [[IvfIndex.hotQueryQuantized]] story on the
    * graph walk). Codes are DERIVED at load time by the tier's encoder
    * from the frozen sidecar — identical bytes to the cold path's codegen
    * encode, so hot ≡ cold bit-for-bit. `scorerOf` builds the per-query
    * in-memory code scorer — the driver twin of the cold walk's distance
    * kernel. */
  private final class HotCodesState(
      val key: String,
      val adj: java.util.HashMap[java.lang.Long, Array[Long]],
      val codes: java.util.HashMap[java.lang.Long, Array[Byte]],
      val entries: Seq[Long],
      val scorerOf: Array[Float] => (Array[Byte] => Double),
      val estBytes: Long)

  /** One quantizer's resident tier, derived from its frozen sidecar:
    * `encode` turns a raw vector into its code at load time, `scorerOf`
    * scores resident codes against a query, `codeLen` is the code's bytes
    * per vector and `pinnedBytes` any side tensor the scorer keeps
    * resident (PQ's codebooks). */
  private final class CodesTier(
      val encode: Array[Float] => Array[Byte],
      val scorerOf: Array[Float] => (Array[Byte] => Double),
      val codeLen: Int,
      val pinnedBytes: Long)

  /** One cache slot per quantizer — a pq-built graph keeps both sidecars
    * and serves both tiers. The code-bytes estimate is cached per publish
    * fingerprint (two narrow count jobs — don't re-pay them per refused
    * probe); the BUDGET is re-read per probe so a raised/lowered
    * graft.hot.maxBytes takes effect immediately, like the raw tier's
    * per-probe hotFits(). */
  private final class CodesSlot {
    @volatile var state: HotCodesState = null
    @volatile var est: (String, Long) = null
  }
  private val sq8Slot = new CodesSlot
  private val pqSlot = new CodesSlot

  /** Signed-byte integer L2 — the driver-side twin of the codegen
    * [[graft.functions.Sq8L2Distance]] loop (identical arithmetic). */
  private def sq8l2(a: Array[Byte], b: Array[Byte]): Long = {
    var acc = 0L; var i = 0
    while (i < a.length) { val d = (a(i) - b(i)).toLong; acc += d * d; i += 1 }
    acc
  }

  /** The SQ8 tier: 1 byte/dim, no pinned tensor beyond the ~1 KB mn/mx
    * stats. None on a pre-codes index. */
  private def sq8Tier(): Option[CodesTier] = sq8Stats().map { case (mn, mx) =>
    val encode = (v: Array[Float]) => graft.functions.Sq8Encode.encode(v, mn, mx)
    new CodesTier(encode, qe => {
      val qb = encode(qe)
      codes => sq8l2(codes, qb).toDouble
    }, mn.length, 0L)
  }

  /** The PQ tier: `pqM` bytes/vector (8x fewer code bytes than SQ8 at dim
    * 64; the whole-budget admission win is ~2x at 64 dims and approaches
    * 8x at a real 384-dim deployment, where the code bytes dominate the
    * per-entry overhead). Codes derive through the SAME argmin arithmetic
    * as the scan encode ([[graft.functions.PqEncode.encode]]) and score
    * through [[graft.functions.PqAdc.eval]] (identical accumulation order
    * to the codegen lookup). The flattened codebook tensor (m·PqK·subDim
    * floats, ~400 KB at dim 384) stays pinned for ADC, so admission counts
    * it. None without a `_pq` sidecar. */
  private def pqTier(): Option[CodesTier] = pqBooks().map { books =>
    val flat = graft.operators.ProductQuantizer.flatten(books)
    new CodesTier(
      v => graft.functions.PqEncode.encode(v, flat, books.length, GraphIndex.PqK),
      qe => {
        val lut = graft.operators.ProductQuantizer.adcLut(qe, books)
        codes => graft.functions.PqAdc.eval(codes, lut, GraphIndex.PqK)
      },
      books.length, 4L * books.map(_.map(_._2.length.toLong).sum).sum)
  }

  /** The resident state for `slot`, loaded through `tier` (read only when
    * the cached state is stale — the sidecar read is a Spark job). */
  private def hotCodesState(slot: CodesSlot,
                            tier: => Option[CodesTier]): Option[HotCodesState] = {
    val key = hotKey()
    val h0 = slot.state
    if (h0 != null && h0.key == key)
      return if (h0.estBytes <= StoreIO.hotBudgetBytes()) Some(h0) else None
    val e0 = slot.est
    if (e0 != null && e0._1 == key && e0._2 > StoreIO.hotBudgetBytes()) return None
    val t = tier match {
      case Some(t) => t
      case None => slot.est = (key, Long.MaxValue); return None // no sidecar
    }
    // ADMISSION MATH COUNTS CODE BYTES + EDGES + PINNED TENSORS: resident
    // cost per row is the code + the 8-byte id + ~40 B of JVM entry
    // overhead, plus 8 B per adjacency edge, plus the tier's pinned side
    // tensor — the raw floats never stay resident (they stream through
    // the load-time encode), which is the point. Two narrow count jobs per
    // publish fingerprint.
    val est =
      if (e0 != null && e0._1 == key) e0._2
      else {
        val v = vectors.count() * (t.codeLen + 48L) + graph.count() * 8L + t.pinnedBytes
        slot.est = (key, v); v
      }
    if (est > StoreIO.hotBudgetBytes()) return None
    val adj = new java.util.HashMap[java.lang.Long, Array[Long]]()
    graph.select("src", "dst").collect()
      .groupBy(_.getLong(0))
      .foreach { case (s0, rows) => adj.put(s0, rows.map(_.getLong(1)).sorted) }
    val codes = new java.util.HashMap[java.lang.Long, Array[Byte]]()
    vectors.select("id", "emb").collect().foreach { r =>
      codes.put(r.getLong(0), t.encode(r.getSeq[Float](1).toArray))
    }
    val h = new HotCodesState(key, adj, codes,
      entryPoints.select("id").orderBy("id").collect().map(_.getLong(0)).toSeq,
      t.scorerOf, est)
    slot.state = h
    Some(h)
  }

  /** The SAME walk ([[walkVisited]]) over resident codes, zero Spark jobs
    * until the bounded exact rerank. */
  private def hotCodesQuery(h: HotCodesState, qe: Array[Float], topK: Int,
                            beamWidth: Int, hops: Int, rerank: Int,
                            entries: Seq[Long]): Seq[(Long, Double)] = {
    val score = h.scorerOf(qe)
    val starts = (if (entries.nonEmpty) entries else h.entries).distinct.sorted
    val visited = walkVisited(
      id => Option(h.adj.get(id)).getOrElse(Array.empty[Long]),
      h.codes.containsKey(_),
      id => score(h.codes.get(id)),
      starts, beamWidth, hops)
    val shortIds = visited.take(rerank).map(_._1)
    exactRerank(qe, shortIds, topK)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
  }

  /** [[queryQuantized]] with the walk served from JVM-resident SQ8 codes
    * over the same integer-L2 distances. Bit-equal to [[queryQuantized]]
    * at every depth (spec-pinned). None when the index has no quantizer
    * sidecar or the resident code+edge bytes exceed `graft.hot.maxBytes`. */
  def hotQueryQuantized(qe: Array[Float], topK: Int, beamWidth: Int, hops: Int,
                        rerank: Int = 64,
                        entries: Seq[Long] = Seq.empty): Option[Seq[(Long, Double)]] = {
    require(rerank >= topK, "rerank must be at least topK")
    hotCodesState(sq8Slot, sq8Tier()).map(
      hotCodesQuery(_, qe, topK, beamWidth, hops, rerank, entries))
  }

  /** [[queryPq]] with the walk served from JVM-resident PQ codes over the
    * same ADC doubles. Bit-equal to [[queryPq]] at every depth
    * (spec-pinned). None when the index has no `_pq` sidecar or the
    * resident code+edge+codebook bytes exceed `graft.hot.maxBytes`. */
  def hotQueryPq(qe: Array[Float], topK: Int, beamWidth: Int, hops: Int,
                 rerank: Int = 64,
                 entries: Seq[Long] = Seq.empty): Option[Seq[(Long, Double)]] = {
    require(rerank >= topK, "rerank must be at least topK")
    hotCodesState(pqSlot, pqTier()).map(
      hotCodesQuery(_, qe, topK, beamWidth, hops, rerank, entries))
  }

  // ------------------------------------------------ recall calibration

  /** Recall@`k` of every BEAM WIDTH in `ladder` against the exact scan,
    * over a bounded probe panel — [[graft.store.IvfIndex.calibrationSweep]]'s
    * graph twin, with one structural difference: beam walks do NOT nest
    * across widths (a wider beam can visit a different set), so each rung
    * runs its own walk — but walks are in-memory hot-tier work
    * (O(hops·beam·k) map lookups each), so the sweep's Spark cost is still
    * ONE scored panel × corpus pass for the exact arm. Probes are corpus
    * members; both arms exclude the self row. Returns
    * (beam_width, hits, probes, recall) ordered by beam_width. */
  def calibrationSweep(panel: Seq[(Long, Array[Float])], k: Int,
                       ladder: Seq[Int], hops: Int): DataFrame = {
    val steps = GraphWalk.calibrationSteps(panel, ladder)
    val exact = GraphWalk.exactTopK(spark, vectors, panel, k, excludeSelf = true)
    val rows = steps.map { bw =>
      val got = rungWalk(panel, k, bw, hops, excludeSelf = true)
      val hits = panel.map { case (pid, _) =>
        exact.getOrElse(pid, Nil).count(got.getOrElse(pid, Set.empty[Long]))
      }.sum
      (bw, hits.toLong, panel.length.toLong, PolicySidecar.recall(hits, panel.length, k))
    }
    spark.createDataFrame(rows).toDF("beam_width", "hits", "probes", "recall")
  }

  /** One calibration rung: each probe's top-`k` answer ids at beam width
    * `bw`. ADMISSION-GATED: hotQuery pins ALL raw floats + adjacency +
    * payload on the driver, so an index over the `graft.hot.maxBytes`
    * budget (exactly the case the SQ8 codes tier exists for) must NOT be
    * calibrated through it — the sweep would OOM the driver at attach time
    * and pin a raw-float tier the operator sized the budget to avoid. Over
    * budget, each rung runs the batched Spark walk instead ([[queryBatch]]
    * — ONE shared walk schedule for the subset, hops In-pruned scans,
    * never panel·hops): the walk schedule is the same spec-pinned
    * definition, so the measured recall is identical; only the residency
    * differs. `excludeSelf` walks k+1 and drops the probe's own row. */
  private def rungWalk(subset: Seq[(Long, Array[Float])], k: Int, bw: Int, hops: Int,
                       excludeSelf: Boolean): Map[Long, Set[Long]] = {
    val kWalk = if (excludeSelf) k + 1 else k
    if (hotFits())
      subset.map { case (pid, pe) =>
        pid -> hotQuery(pe, kWalk, bw, hops)
          .collect { case (id, _) if !excludeSelf || id != pid => id }
          .take(k).toSet
      }.toMap
    else
      queryBatch(subset, kWalk, bw, hops)
        .collect()
        .groupBy(_.getLong(0))
        .map { case (pid, rows) =>
          pid -> rows.sortBy(_.getInt(3))
            .collect { case r if !excludeSelf || r.getLong(1) != pid => r.getLong(1) }
            .take(k).toSet
        }
  }

  /** The SMALLEST ladder beam width whose panel recall@`k` meets
    * `target` — the graph serving-policy knob. Unlike IVF, the graph has
    * NO guaranteed-exact rung (a walk can only reach what the graph
    * connects to its entries), so an unreachable target fails LOUDLY with
    * the deepest measured recall instead of silently serving below it. */
  def calibrateBeam(k: Int, target: Double, panelCap: Int = 64,
                    ladder: Seq[Int] = Seq(2, 4, 8, 16, 32),
                    hops: Int = 6): Int =
    PolicySidecar.pickRung(target, "beam width", "widen the ladder, raise " +
        "hops, densify the graph (higher k / refineRounds), or lower the target") {
      val panel = vectors.select(col("id"), col("emb"))
        .orderBy(xxhash64(col("id")), col("id")).limit(panelCap)
        .collect().map(r => (r.getLong(0), r.getSeq[Float](1).toArray)).toSeq
      calibrationSweep(panel, k, ladder, hops)
    }

  /** PER-PROBE serving beam widths — the graph twin of
    * [[IvfIndex.exactDepths]], with the honesty caveat the graph imposes:
    * beam walks do NOT nest across widths and the graph has no
    * guaranteed-exact rung, so these are MEASURED-minimal widths, not
    * provably-minimal ones. Probe p's beam is the smallest `ladder` rung
    * whose walk (at `hops`) recalls p's ENTIRE exact top-`k`; a probe no
    * rung serves fully gets `ladder.max` WITH a stderr note (the
    * [[calibrateBeam]] fail-loud philosophy, per probe — silently
    * under-serving one probe is the failure the policy exists to
    * prevent; densify the graph or widen the ladder to clear it).
    *
    * A GLOBAL beam ([[calibrateBeam]]) targets panel-average recall — it
    * can leave one straddling probe short while over-walking every easy
    * one. Per-probe widths give each probe exactly its measured need,
    * served through `beamOf` on [[queryBatch]] (or per probe as
    * [[hotQuery]]'s `beamWidth`).
    *
    * Cost: ONE exact arm (scored panel × corpus pass, GroupedTopK) plus
    * per-rung walks for still-unassigned probes — hot-tier map lookups
    * when the index fits the budget, the batched Spark walk otherwise
    * (the [[calibrationSweep]] admission discipline). `excludeSelf`
    * drops the probe's own row from BOTH arms (the self-panel
    * convention; serving panels leave it false). */
  def exactBeams(panel: Seq[(Long, Array[Float])], k: Int,
                 ladder: Seq[Int] = Seq(2, 4, 8, 16, 32), hops: Int = 6,
                 excludeSelf: Boolean = false): Map[Long, Int] =
    GraphWalk.assignBeams(s"GraphIndex at $path", panel, ladder, hops)(
      GraphWalk.exactTopK(spark, vectors, panel, k, excludeSelf))(
      rungWalk(_, k, _, hops, excludeSelf))

  // ------------------------------------ persisted per-probe beam policy

  /** Publish identity for the POLICY fence — [[StoreIO.treeFp]] over every
    * data/sidecar tree plus the replay fence, NOT [[hotKey]]: hotKey
    * fingerprints sidecars by directory mtime (millisecond ticks), so a
    * rebuild that rewrites vecPath/graphPath without changing epoch dir
    * names could alias within one tick and leave a stale policy reading
    * fresh. treeFp walks part FILENAMES (per-write UUIDs) + sizes, so a
    * same-tick republish always flips the fingerprint — the discipline
    * the encrypted depth-policy fence (`encContentFp`,
    * VectorStore.scala) was built on. Driver-side metadata walk only. */
  private def policyKey(): String =
    Seq(vecPath, graphPath, entriesPath, sq8Path, pqPath, tombstonePath)
      .map(StoreIO.treeFp).mkString("|") + s"|${tombstoneHwm()}"

  private lazy val beamSidecar = new PolicySidecar(spark, s"$path/_beams",
    marker, s"GraphIndex at $path", "beam",
    "the graph changed (insert/delete/compact/build)", () => policyKey())

  /** Calibrate [[exactBeams]] for a STANDING probe panel and persist the
    * map as a `_beams` sidecar beside the graph — the graph twin of
    * [[IvfIndex.persistDepthPolicy]], turning the index into a REOPENABLE
    * serving artifact: a server process reopening the path serves the
    * panel at the committed per-probe widths with zero calibration jobs.
    * The sidecar records the panel+knob fingerprint AND the publish
    * fingerprint ([[policyKey]] — a treeFp walk of every data/sidecar
    * tree plus the replay fence), so [[beamPolicy]] can FENCE staleness: every
    * [[insert]]/[[deleteBatch]]/[[compact]]/[[build]] commit sweeps the
    * policy stale (beam widths measured on the old graph carry no recall
    * evidence on the new one — the honesty caveat is sharper here than on
    * IVF, where depths are PROVABLY exact; beams are measured-minimal).
    * `precomputed` lets a caller that just ran [[exactBeams]] persist
    * without a second calibration pass — it MUST be that exact panel's
    * fresh result. */
  def persistBeamPolicy(panel: Seq[(Long, Array[Float])], k: Int,
                        ladder: Seq[Int] = Seq(2, 4, 8, 16, 32), hops: Int = 6,
                        precomputed: Option[Map[Long, Int]] = None): Map[Long, Int] =
    WriterLease.withLease(path, "GraphIndex.persistBeamPolicy") {
      beamSidecar.write(panel, k, GraphWalk.beamSeed(k, ladder, hops),
        precomputed.getOrElse(exactBeams(panel, k, ladder, hops)))
    }

  /** Freshness of the committed beam policy for (panel, k, ladder, hops):
    * [[IvfIndex.PolicyAbsent]] when none exists (or one exists for a
    * DIFFERENT panel or knob set), [[IvfIndex.PolicyFresh]] while the
    * publish fingerprint still matches, [[IvfIndex.PolicyStale]] after
    * any graph-changing commit. Driver-side file metadata + one tiny
    * parquet read — no corpus jobs. */
  def beamPolicyStatus(panel: Seq[(Long, Array[Float])], k: Int,
                       ladder: Seq[Int] = Seq(2, 4, 8, 16, 32),
                       hops: Int = 6): IvfIndex.PolicyStatus =
    beamSidecar.status(panel, k, GraphWalk.beamSeed(k, ladder, hops))

  /** The committed per-probe beam widths for (panel, k, ladder, hops) —
    * REFUSES (fail-loud) unless the policy is [[IvfIndex.PolicyFresh]]:
    * serving at beams measured on a graph that has since changed silently
    * drops the measured-recall evidence, the failure the fence exists to
    * prevent. Callers that prefer self-healing use
    * [[beamPolicyOrRecalibrate]]. */
  def beamPolicy(panel: Seq[(Long, Array[Float])], k: Int,
                 ladder: Seq[Int] = Seq(2, 4, 8, 16, 32),
                 hops: Int = 6): Map[Long, Int] =
    beamSidecar.read(panel, k, GraphWalk.beamSeed(k, ladder, hops))

  /** [[beamPolicy]] with LOUD self-healing: a fresh policy reads straight
    * from the sidecar (zero calibration jobs — the reopen path); an
    * absent or stale one re-runs [[exactBeams]] and re-persists, logging
    * the recalibration so drift is never silent. */
  def beamPolicyOrRecalibrate(panel: Seq[(Long, Array[Float])], k: Int,
                              ladder: Seq[Int] = Seq(2, 4, 8, 16, 32),
                              hops: Int = 6): Map[Long, Int] =
    beamSidecar.readOrRecalibrate(panel, k, GraphWalk.beamSeed(k, ladder, hops))(
      persistBeamPolicy(panel, k, ladder, hops))

  /** [[hotServe]] over a probe batch (the `Collection.queryBatch` hot
    * path): one state check, rows tagged by query index. */
  private[store] def hotServeBatch(probes: Seq[(Long, Array[Float])], k: Int,
                                   beamWidth: Int, hops: Int): Option[Seq[(Long, String, String, Double)]] = {
    if (!hotFits()) return None
    if (hotState().payload.isEmpty) None
    else Some(probes.flatMap { case (qi, qe) =>
      hotServe(qe, k, beamWidth, hops).getOrElse(Seq.empty)
        .map { case (cid, doc, d) => (qi, cid, doc, d) }
    })
  }

  /** HNSW-style incremental insert — the REAL HNSW algorithm: search,
    * then connect.
    *  1. each new vector's neighbor candidates come from the SHARED
    *     beam-walk schedule over the existing graph ([[queryBatch]]'s
    *     machinery): per hop, ONE In-pruned graph read and ONE
    *     pair-bounded scoring job for the whole batch, so candidate
    *     generation touches O(hops · |batch| · beam · k) rows via the
    *     same id-sorted point reads as serving — INVARIANT in corpus
    *     size. (Two earlier formulations were not: a full (id, emb)
    *     corpus scan per batch — 4.8 s @20× → 6.9 s @100× — and a
    *     bkt-sorted secondary projection whose row-group pruning cannot
    *     bite while one row group spans many buckets — 6 s → 10-13 s.
    *     The walk measures ~flat.)
    *  2. intra-batch nearness (two NEW vectors close to each other) comes
    *     from the LSH bucket join of the batch against ITSELF —
    *     batch × batch, bucket-blocked, never the corpus;
    *  3. the REVERSE direction: every (new -> dst) pair is proposed as
    *     (dst -> new), and each affected node keeps the best k of (its
    *     current edges ∪ proposals) — without this, new nodes would be
    *     unreachable from the old graph.
    * The publish is a DELTA: one new `epoch=N` dir per table holding only
    * the batch's vectors and the touched sources' rewritten edge sets.
    * Vectors and edges publish as ONE crash-consistent commit
    * ([[StoreIO.commitStaged]]): a replayed batch whose ids already
    * landed is skipped, and a batch interrupted mid-publish is finished
    * at the next open — no window where committed vectors lack their
    * wiring. Entry points are left as built (medoids drift only as far
    * as the data does; a periodic [[build]] re-trains them — the same
    * compaction story as [[IvfIndex]]).
    *
    * The walk is driver-coordinated, so the batch's (id, emb) pairs are
    * driver-resident during candidate generation — micro-batch-sized
    * inserts (the streaming-maintenance shape); `walkChunk` bounds
    * driver state by walking at most that many probes at a time. */
  def insert(batch: DataFrame, beamWidth: Int = 8, hops: Int = 4,
             walkChunk: Int = 4096, symmetric: Boolean = false): Unit =
      WriterLease.withLease(path, "GraphIndex.insert") {
    val oldV = vectors
    // replay/overlap safety: ids already indexed are skipped (the same
    // idempotent-append discipline as VectorStore.add / IvfIndex); an
    // intra-batch id repeat keeps ONE DETERMINISTIC row (ties by payload
    // JSON — plain dropDuplicates would keep whichever row the shuffle
    // surfaces first, wiring the graph differently run to run).
    // Sound because vectors+graph commit TOGETHER below: an id present in
    // vectors is guaranteed to have been wired.
    // align the batch to the index's vector schema: metadata columns the
    // batch doesn't carry (e.g. a stream of bare (id, emb) into a
    // metadata-bearing index) land as NULLs, so every epoch shares ONE
    // schema; unknown columns are rejected, and same-name-different-type
    // columns are lossless-cast or rejected (StoreIO.alignToSchema — a
    // mis-typed id spine would break every later multi-epoch read)
    val aligned = StoreIO.alignToSchema(batch, oldV.schema.fields.toSeq, Seq("id", "emb"))
    // the skip set is the PHYSICAL id spine (tombstoned rows included):
    // a replayed insert whose ids were deleted in the interim must skip
    // them (the content already landed; the delete wins), not re-wire
    // them into an index that will drop them at compact. Re-adding a
    // deleted id is legal once compact() has cleared it physically.
    val physIds = spark.read.parquet(vecPath).select("id")
    val newV = StoreIO.dedupById(aligned, aligned.columns.filter(_ != "id").toSeq)
      .join(physIds, Seq("id"), "left_anti")
      .persist()
    // candidate generation 1/2: WALK the existing graph for each new
    // vector (chunked to bound driver state), exactly the serving path —
    // the result rows (probe_id, id, dist, rn<=k) ARE the new nodes'
    // out-edge candidates into the old graph
    val probes = newV.select(col("id"), col("emb")).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray)).toSeq
    if (probes.isEmpty) { newV.unpersist(): Unit }
    else {
    val wTop = Window.partitionBy("src").orderBy(asc("dist"), asc("dst"))
    val walked: Seq[DataFrame] = probes.grouped(walkChunk).map { chunk =>
      queryBatch(chunk, topK = k, beamWidth = beamWidth, hops = hops)
        .select(col("probe_id").as("src"), col("id").as("dst"), col("dist"))
    }.toSeq
    // candidate generation 2/2: intra-batch nearness via the LSH bucket
    // join of the batch against ITSELF (batch-bounded)
    val intra = KnnGraph.buildDirected(
      newV.select(col("id"), col("emb")),
      newV.select(col("id"), col("emb")), bucketFns, k)
    val newEdges = (walked :+ intra)
      .reduce(_ unionByName _)
      .groupBy("src", "dst").agg(min("dist").as("dist")) // walk ∪ intra overlap
      .withColumn("rn", row_number().over(wTop))
      .filter(col("rn") <= k)
      .select("src", "dst", "dist")
      .persist()
    try {
      // reverse proposals let existing nodes adopt new neighbors. ONE
      // window resolves every touched source (new nodes AND proposal
      // targets) over old edges ∪ proposals ∪ new out-edges — resolving
      // new and affected nodes separately would give a node reached from
      // both sides up to 2k edges
      val w = Window.partitionBy("src").orderBy(asc("dist"), asc("dst"))
      val proposals = newEdges.select(
        col("dst").as("src"), col("src").as("dst"), col("dist"))
      val walkedAll = walked.reduce(_ unionByName _)
      // symmetric mode adopts through the RAW walk edges too — their old
      // dsts must join the touched set, or the adoption union below would
      // become those srcs' COMPLETE epoch set and wipe their other edges
      val touched = proposals.select("src")
        .unionByName(newEdges.select("src"))
        .unionByName(
          if (symmetric) walkedAll.select(col("dst").as("src"))
          else newEdges.select("src").limit(0))
        .distinct()
      // current edges of touched srcs only: the semi-join (broadcast — the
      // touched set is batch-bounded) keeps WHOLE src groups from the raw
      // epoch tree, so resolving after the restriction is exact
      val current = stripSentinel(resolveLatest(
        rawGraph.join(broadcast(touched), Seq("src"), "left_semi")))
      // SYMMETRIC adoption (opt-in — the [[build]] `symmetric` twin): the
      // competitive top-k cut can REJECT every reverse proposal for a new
      // node (a tied duplicate clique loses the asc-dst tie-break
      // everywhere; a dense region's old nodes already hold k closer
      // edges), leaving the whole inserted clique in-UNREACHABLE — its
      // intra dist-0 edges crowd the walk edges out of its own out-cut
      // too. Symmetric mode guarantees adoption instead: every new→old
      // edge (the out-cut's AND the raw walk's — the walk-nearest old
      // node adopts even when intra edges crowded it out of the new
      // node's own set) lands REVERSED and UNCUT, and existing nodes'
      // edge sets are NEVER re-cut (a re-cut could evict a previous
      // wave's adoption edge and re-orphan its node). Degree grows past k
      // on adopting nodes — the NSW bidirectional-link trade; the walk
      // reads variable degree fine and [[compact]] folds epochs without
      // pruning edges.
      val refreshed =
        if (!symmetric)
          current
            .unionByName(proposals)
            .unionByName(newEdges)
            .groupBy("src", "dst").agg(min("dist").as("dist"))
            .withColumn("rn", row_number().over(w))
            .filter(col("rn") <= k)
            .select("src", "dst", "dist")
        else
          current
            .unionByName(newEdges)
            .unionByName(newEdges.select(
              col("dst").as("src"), col("src").as("dst"), col("dist")))
            .unionByName(walkedAll.select(
              col("dst").as("src"), col("src").as("dst"), col("dist")))
            .groupBy("src", "dst").agg(min("dist").as("dist"))
      // the delta stages live OUTSIDE the partitioned trees (see
      // StoreIO.Staged) and an insert deletes nothing — the commit only
      // ADDS the two epoch dirs, together or not at all
      val e = epochs().max + 1
      StoreIO.commitStaged(Seq(
        StoreIO.Staged(s"$path/__stage_vectors_$e", s"$vecPath/epoch=$e",
          st => sortedBy(newV, "id").write.mode("overwrite").parquet(st)),
        StoreIO.Staged(s"$path/__stage_graph_$e", s"$graphPath/epoch=$e",
          st => sortedBy(refreshed, "src").write.mode("overwrite").parquet(st)),
        StoreIO.Staged(s"$path/__stage_graphrev_$e", s"$graphRevPath/epoch=$e",
          st => sortedBy(refreshed.select(col("dst"), col("src")), "dst")
            .write.mode("overwrite").parquet(st))),
        marker)
    } finally Seq(newV, newEdges).foreach(_.unpersist())
    }
  }: Unit

  /** Delete by id with EDGE HYGIENE, batch-keyed like
    * [[IvfIndex.deleteBatch]] (the `Collection.deleteWhere` propagation
    * path — Chroma's `collection.delete`,
    * /root/reference/src/cod.py:92-139, drops rows from its HNSW index
    * transparently): the batch's ids land as a tombstone dir AND every
    * live in-neighbor of a deleted node gets its edge list rewritten in
    * the SAME [[StoreIO.commitStaged]] unit, so no live row ever points
    * into a deleted one and beam walks cannot dead-end on a ghost.
    *
    * Repair is the HNSW bridge: an in-neighbor `s -> d` (d deleted) is
    * offered d's own live out-neighbors `n` as candidates (`s -> n`,
    * scored exactly), and keeps the best k of (its surviving edges ∪
    * bridges) — connectivity THROUGH the deleted node is preserved, not
    * just truncated away. Tombstoned vectors stop being served
    * immediately ([[vectors]]/[[graph]] anti-join); [[compact]] drops
    * them physically and fences the batch ids against replay.
    *
    * Cost: the in-neighbor probe is an In-pruned POINT READ of the
    * dst-sorted reverse-edge tree (a historical candidate superset whose
    * hits verify against the src-resolved truth — another In-pruned
    * read), so a delete batch touches O((|in-neighbors| + |batch|) · k)
    * rows, never the corpus; batches beyond [[GraphIndex.PointDeleteCap]]
    * fall back to one resolved-graph scan. Everything downstream is
    * bounded by |in-neighbors| · k. */
  def deleteBatch(ids: DataFrame, batchId: Long): Unit = {
    require(batchId >= 0, "batchId must be non-negative")
    require(ids.columns.contains("id"), "delete batch needs an id column")
    // replay fence: already applied physically by a compact/build — a
    // rewrite would resurrect the tombstone against re-added rows
    if (batchId <= tombstoneHwm()) return
    WriterLease.withLease(path, "GraphIndex.delete") {
    val delReq = StoreIO.alignToSchema(ids.select("id"),
      Seq(org.apache.spark.sql.types.StructField(
        "id", org.apache.spark.sql.types.LongType)), Seq("id"))
      .dropDuplicates("id")
    // delete before any build: nothing to repair and no id spine to check
    // against — record the tombstones (idempotent dir write); a later
    // [[build]] sweeps them, since a full rebuild's input defines the new
    // truth
    if (!new java.io.File(graphPath).exists())
      delReq.write.mode("overwrite").parquet(s"$tombstonePath/batch=$batchId")
    else {
      // ids never inserted are IGNORED (Chroma semantics; TextIndex
      // .deleteBatch filters the same way): tombstoning an unknown id would
      // silently swallow a LATER direct insert() of that id — the anti-join
      // hides the new row, then the next compact drops it physically
      val del = delReq
        .join(spark.read.parquet(vecPath).select("id"), Seq("id"), "left_semi")
        .persist()
      try {
        val nDel = del.count()
        if (nDel == 0L)
          del.write.mode("overwrite").parquet(s"$tombstonePath/batch=$batchId")
        else if (nDel <= GraphIndex.PointDeleteCap &&
                 new java.io.File(graphRevPath).exists())
          deletePointRead(del, batchId)
        else
          deleteScan(del, batchId)
      } finally del.unpersist(): Unit
    }
    }
  }

  /** Small-batch delete: in-neighbor discovery is an In-pruned POINT READ
    * of the dst-sorted reverse-edge tree ([[graphRevPath]]) — never a full
    * edge scan. The rev tree is a historical superset, so candidates
    * VERIFY against the src-resolved truth (their current edge sets,
    * another In-pruned read). A batch touches
    * O((|in-neighbors| + |batch|) · k) rows, never the corpus. */
  private[store] def deletePointRead(del: DataFrame, batchId: Long): Unit = {
    val delIds = del.collect().map(_.getLong(0)).sorted.toSeq
    val delSet = delIds.toSet
    val candSrcs: Seq[Long] =
      spark.read.parquet(graphRevPath)
        .filter(col("dst").isin(delIds: _*))
        .select("src").distinct()
        .collect().map(_.getLong(0)).filterNot(delSet).sorted.toSeq
    // current LIVE edge sets of every id the repair touches (candidate
    // in-neighbors + the deleted nodes themselves) — src In-filter
    // pushes below the epoch-resolution window, bounded by
    // (|candidates| + |batch|) · k rows
    val touchedAll = (candSrcs ++ delIds).distinct.sorted
    val curRaw = stripSentinel(
      resolveLatest(rawGraph.filter(col("src").isin(touchedAll: _*))))
    val cur = tombstones().fold(curRaw)(ts =>
      curRaw.join(broadcast(ts.withColumnRenamed("id", "src")), Seq("src"), "left_anti"))
      .persist()
    try {
      // the rows to rewire: live srcs whose CURRENT edges point into the
      // deleted set (stale rev candidates die here)
      val inEdges = cur
        .filter(col("dst").isin(delIds: _*) && !col("src").isin(delIds: _*))
        .select(col("src"), col("dst").as("d"))
      // bridge candidates s -> n via each deleted d: d's live out-edges
      val delOut = cur
        .filter(col("src").isin(delIds: _*) && !col("dst").isin(delIds: _*))
        .select(col("src").as("d"), col("dst").as("n"))
      val bridge = inEdges.join(delOut, "d")
        .filter(col("src") =!= col("n"))
        .select(col("src"), col("n").as("dst"))
        .distinct()
      // exact distances — point-joins against the live vectors, bounded
      // by |in-edges| · k pairs
      val ve = vectors.select(col("id"), col("emb"))
      val scored = bridge
        .join(ve.select(col("id").as("src"), col("emb").as("semb")), "src")
        .join(ve.select(col("id").as("dst"), col("emb").as("demb")), "dst")
        .select(col("src"), col("dst"), VF.l2Sq(col("semb"), col("demb")).as("dist"))
      val touched = inEdges.select("src").distinct()
      val survivors = cur
        .join(broadcast(touched), Seq("src"), "left_semi")
        .filter(!col("dst").isin(delIds: _*))
      val repaired = withEmptySentinels(
        rankTopK(survivors.unionByName(scored)), touched).persist()
      try {
        val entryStages = entryRepairStages(batchId, del,
          dead => cur.filter(col("src").isin(dead: _*) &&
            !col("dst").isin(delIds: _*)))
        publishDelete(del, batchId, repaired, entryStages)
      } finally repaired.unpersist(): Unit
    } finally cur.unpersist(): Unit
  }

  /** Large-batch fallback (past [[GraphIndex.PointDeleteCap]], or a
    * pre-rev-tree index): ONE resolved-graph scan (a delete that big reads
    * the corpus whatever the structure), and everything downstream stays a
    * DISTRIBUTED semi/anti-join against the delete frame — no driver-side
    * id list, no isin over corpus-scale literal lists (a 10%-of-corpus
    * delete must not OOM the driver or blow up the plan). */
  private[store] def deleteScan(del: DataFrame, batchId: Long): Unit = {
    val delSrc = del.withColumnRenamed("id", "src")
    val delDst = del.withColumnRenamed("id", "dst")
    val g = graph.persist() // resolved live edges: one scan, reused below
    try {
      val inEdges = g.join(delDst, Seq("dst"), "left_semi")
        .join(delSrc, Seq("src"), "left_anti")
        .select(col("src"), col("dst").as("d"))
      val delOut = g.join(delSrc, Seq("src"), "left_semi")
        .join(delDst, Seq("dst"), "left_anti")
        .select(col("src").as("d"), col("dst").as("n"))
      val bridge = inEdges.join(delOut, "d")
        .filter(col("src") =!= col("n"))
        .select(col("src"), col("n").as("dst"))
        .distinct()
      val ve = vectors.select(col("id"), col("emb"))
      val scored = bridge
        .join(ve.select(col("id").as("src"), col("emb").as("semb")), "src")
        .join(ve.select(col("id").as("dst"), col("emb").as("demb")), "dst")
        .select(col("src"), col("dst"), VF.l2Sq(col("semb"), col("demb")).as("dist"))
      val touched = inEdges.select("src").distinct()
      val survivors = g.join(touched, Seq("src"), "left_semi")
        .join(delDst, Seq("dst"), "left_anti")
      val repaired = withEmptySentinels(
        rankTopK(survivors.unionByName(scored)), touched).persist()
      try {
        val entryStages = entryRepairStages(batchId, del,
          dead => g.filter(col("src").isin(dead: _*))
            .join(delDst, Seq("dst"), "left_anti"))
        publishDelete(del, batchId, repaired, entryStages)
      } finally repaired.unpersist(): Unit
    } finally g.unpersist(): Unit
  }

  /** Best k of (surviving edges ∪ bridge candidates) per src. */
  private def rankTopK(edges: DataFrame): DataFrame = {
    val w = Window.partitionBy("src").orderBy(asc("dist"), asc("dst"))
    edges.groupBy("src", "dst").agg(min("dist").as("dist"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select("src", "dst", "dist")
  }

  /** Every src in `touched` MUST appear in the repair epoch — a src whose
    * whole edge set died and gained no bridges gets the empty-set sentinel
    * row ([[GraphIndex.EmptyEdgeSentinel]]), or max-epoch resolution would
    * keep its stale edges into the deleted ids and [[compact]] would
    * persist them forever. */
  private def withEmptySentinels(repaired: DataFrame, touched: DataFrame): DataFrame =
    repaired.unionByName(
      touched.join(repaired.select("src").distinct(), Seq("src"), "left_anti")
        .withColumn("dst", lit(GraphIndex.EmptyEdgeSentinel))
        .withColumn("dist", lit(0.0)))

  /** ENTRY-POINT hygiene: a deleted id that is a build-time medoid entry
    * would leave every walk starting from a node the vector anti-join
    * hides — with all entries deleted, queries would return NOTHING over a
    * live corpus. Each dead entry hands its slot to its nearest LIVE
    * out-neighbor (the same bridge discipline as the edge repair, exact
    * distances); an entry with no live neighbor drops. `liveOut(dead)`
    * supplies the dead entries' live out-edges (src, dst, dist) — the
    * entry list is tiny (numEntries), so the collect is bounded by
    * numEntries · k rows. */
  private def entryRepairStages(batchId: Long, del: DataFrame,
                                liveOut: Seq[Long] => DataFrame): Seq[StoreIO.Staged] = {
    val entriesNow = entryPoints.collect().map(r => (r.getLong(0), r.getLong(1)))
    // no broadcast hint on `del` — it is corpus-scale in the fallback
    // path; the entry list is the tiny side and AQE picks the strategy
    val deadEntryIds = entryPoints
      .join(del, Seq("id"), "left_semi")
      .select("id").collect().map(_.getLong(0)).toSet
    if (deadEntryIds.isEmpty) Seq.empty
    else {
      val repl: Map[Long, Long] = liveOut(deadEntryIds.toSeq.sorted)
        .select("src", "dst", "dist")
        .collect()
        .groupBy(_.getLong(0))
        .map { case (s0, rows) =>
          s0 -> rows.minBy(r => (r.getDouble(2), r.getLong(1))).getLong(1)
        }
      val newEntries = entriesNow.flatMap { case (cell, id) =>
        if (!deadEntryIds(id)) Some((cell, id)) else repl.get(id).map((cell, _))
      }
      require(newEntries.nonEmpty,
        "delete would leave the index without any entry point — rebuild instead")
      Seq(StoreIO.Staged(s"$path/__stage_entries_$batchId", entriesPath,
        st => spark.createDataFrame(newEntries.toSeq).toDF("cell", "id")
          .coalesce(1).write.mode("overwrite").parquet(st)))
    }
  }

  /** Tombstones + repaired edge epoch (forward AND reverse) + any entry
    * replacement publish together or not at all: a crash can never leave a
    * tombstone whose in-neighbors still point at it (the invariant
    * [[graph]]'s doc asserts) or whose entries are ghosts. The reverse
    * epoch excludes sentinel rows — nothing points INTO the sentinel id,
    * and a rev point read keyed by it would be noise. */
  private def publishDelete(del: DataFrame, batchId: Long,
                            repaired: DataFrame,
                            entryStages: Seq[StoreIO.Staged]): Unit = {
    val e = epochs().max + 1
    StoreIO.commitStaged(Seq(
      StoreIO.Staged(s"$path/__stage_tombstones_$batchId",
        s"$tombstonePath/batch=$batchId",
        st => del.write.mode("overwrite").parquet(st)),
      StoreIO.Staged(s"$path/__stage_graph_$e", s"$graphPath/epoch=$e",
        st => sortedBy(repaired, "src").write.mode("overwrite").parquet(st)),
      StoreIO.Staged(s"$path/__stage_graphrev_$e", s"$graphRevPath/epoch=$e",
        st => sortedBy(stripSentinel(repaired).select(col("dst"), col("src")), "dst")
          .write.mode("overwrite").parquet(st))) ++ entryStages,
      marker)
    if (entryStages.nonEmpty) entryCache = null
  }

  /** Does this (id LONG, ...) batch re-add ids with PENDING tombstones?
    * ([[IvfIndex.readdsTombstoned]]'s graph twin — the routed
    * `Collection.add` compacts first, since [[insert]] would silently
    * skip ids that are physically present but tombstoned.) */
  private[store] def readdsTombstoned(ids: DataFrame): Boolean =
    tombstones().exists(ts =>
      !ids.select("id").join(broadcast(ts), Seq("id"), "left_semi").isEmpty)

  /** Driver-side convenience delete: next free tombstone batch id (past
    * both the live dirs and the compaction fence). */
  def delete(ids: Seq[Long]): Unit = {
    import spark.implicits._
    delete(ids.toDF("id"))
  }

  /** [[delete]] for a distributed id frame (the `Collection.deleteWhere`
    * propagation path). */
  def delete(ids: DataFrame): Unit = {
    val next = (StoreIO.committedBatchDirs(tombstonePath)
      .map(_.getName.stripPrefix("batch=").toLong)
      .foldLeft(tombstoneHwm())(math.max)) + 1L
    deleteBatch(ids, next)
  }
}
