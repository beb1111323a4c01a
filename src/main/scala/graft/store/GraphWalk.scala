package graft.store

import graft.functions.{VectorFunctions => VF}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

/**
 * ONE copy of the batched DRIVER beam-walk schedule — shared by
 * [[GraphIndex.queryBatch]] (plaintext vectors) and
 * [[EncryptedGraph.queryBatch]] (decrypt-on-read vectors), so the encrypted
 * twin pins beam-for-beam equality with the plaintext walk BY CONSTRUCTION
 * (the [[CellRoute]]/[[ExactPrune]] discipline for the graph family: entry
 * admission, per-probe (dist, id) beam selection, frontier evolution and
 * the final exact top-k all live here once).
 *
 * `vEmb` is a LAZY (id LONG, emb ARRAY<FLOAT>) frame. Per hop the walk
 * In-filters it to the frontier's FRESH ids before the projection
 * evaluates — Catalyst pushes the id filter below the projection to the
 * scan, so on the encrypted twin AES-GCM decryption runs ONLY on the
 * O(hops · |batch| · beam · k) fresh rows a walk touches, never the
 * corpus (the [[EncryptedStore.queryIndexedBatchDF]] bounded-decrypt
 * argument, applied per hop).
 */
private[store] object GraphWalk {

  /** Batched beam search: one In-pruned graph read and one In-pruned,
    * pair-bounded scoring job per hop for the WHOLE probe batch. `beamOf`
    * overrides the uniform `beamWidth` per probe (a persisted beam
    * policy); `eligibleOf` maps the visited ids to the answer-set
    * predicate (metadata filters — constant-true on the encrypted twin,
    * whose metadata is ciphertext). Output (probe_id, id, dist, rn). */
  def batch(spark: SparkSession, g: DataFrame, vEmb: DataFrame,
            probes: Seq[(Long, Array[Float])], topK: Int, beamWidth: Int,
            hops: Int, starts: Seq[Long], beamOf: Map[Long, Int],
            eligibleOf: Seq[Long] => (Long => Boolean)): DataFrame = {
    require(probes.nonEmpty, "queryBatch needs at least one probe")
    require(probes.map(_._1).distinct.length == probes.length,
      "probe ids must be unique")
    val probeDf = broadcast(
      spark.createDataFrame(probes.map { case (pid, qe) => (pid, qe.toSeq) })
        .toDF("probe_id", "qe"))
    val visited = scala.collection.mutable.HashMap[Long, scala.collection.mutable.HashMap[Long, Double]]()
    probes.foreach { case (pid, _) => visited(pid) = scala.collection.mutable.HashMap() }
    def score(pairs: Seq[(Long, Long)]): Unit = if (pairs.nonEmpty) {
      val ids = pairs.map(_._2).distinct.sorted
      val pairDf = broadcast(spark.createDataFrame(pairs).toDF("probe_id", "id"))
      vEmb.filter(col("id").isin(ids: _*))
        .join(pairDf, "id")
        .join(probeDf, "probe_id")
        .select(col("probe_id"), col("id"),
          VF.l2Sq(col("emb"), col("qe").cast("array<float>")).as("dist"))
        .collect()
        .foreach(r => visited(r.getLong(0))(r.getLong(1)) = r.getDouble(2))
    }
    score(for { (pid, _) <- probes; e <- starts } yield (pid, e))
    var hop = 0
    var open = true
    while (hop < hops && open) {
      val beams = probes.map { case (pid, _) =>
        pid -> visited(pid).toSeq.sortBy { case (id, d) => (d, id) }
          .take(beamOf.getOrElse(pid, beamWidth)).map(_._1)
      }
      val allSrcs = beams.flatMap(_._2).distinct.sorted
      val adj: Map[Long, Seq[Long]] =
        if (allSrcs.isEmpty) Map.empty
        else g.filter(col("src").isin(allSrcs: _*)).select("src", "dst").collect()
          .groupBy(_.getLong(0)).map { case (s, rows) => s -> rows.map(_.getLong(1)).toSeq }
      val fresh = for {
        (pid, beam) <- beams
        id <- beam.flatMap(adj.getOrElse(_, Seq.empty)).distinct
        if !visited(pid).contains(id)
      } yield (pid, id)
      open = fresh.nonEmpty
      score(fresh)
      hop += 1
    }
    val ok = eligibleOf(visited.valuesIterator.flatMap(_.keysIterator).toSeq.distinct)
    val out = for {
      (pid, _) <- probes
      ((id, d), i) <- visited(pid).toSeq
        .filter { case (id, _) => ok(id) }
        .sortBy { case (id, d) => (d, id) }.take(topK).zipWithIndex
    } yield (pid, id, d, i + 1)
    import spark.implicits._
    out.toDF("probe_id", "id", "dist", "rn")
  }

  /** The batched FRAME walk — ONE copy of [[GraphIndex.queryBatchDF]]'s
    * schedule, shared with [[EncryptedGraph.queryBatchDF]] so the
    * ciphertext frame route pins beam-for-beam equality with the
    * plaintext one BY CONSTRUCTION (the [[batch]] discipline, applied to
    * the scale lane). Nothing probe-sized ever touches the driver; per
    * hop the beam is a running top-maxBeam state, expansion one
    * equi-join against the cached adjacency, and visited a list of
    * per-hop checkpointed deltas (the r13 restructure — frames ~flat in
    * the panel size).
    *
    * `probes` carries (probe_id LONG, qe ARRAY<FLOAT>, pbeam INT) —
    * callers validate/route their beam policy into `pbeam` first.
    * `embOf(ids)` returns an (id, emb) frame covering AT LEAST the
    * requested distinct ids (the walk equi-joins, so a superset is
    * harmless): the plaintext twin ignores `ids` and hands its cached
    * corpus frame back; the ENCRYPTED twin left-semi-joins its cached
    * ciphertext by id FIRST and decrypts only the survivors — the id
    * filter sits below the decrypt projection, so per hop only the
    * frontier's fresh nodes ever decrypt (the [[batch]] bounded-decrypt
    * argument, frame-shaped: the semi join reuses the ciphertext cache's
    * id partitioning, so the corpus never reshuffles either).
    * `poolFilter` restricts the ANSWER SET of the walk's visited pool
    * (metadata `where` on the plaintext twin; identity on the encrypted
    * one, whose metadata is ciphertext). Output (probe_id, id, dist, rn),
    * checkpointed (the per-hop frames it derives from are swept by GC
    * after the cut). */
  def batchDF(spark: SparkSession, graph: DataFrame, probes: DataFrame,
              topK: Int, hops: Int, starts: Seq[Long],
              embOf: DataFrame => DataFrame,
              poolFilter: DataFrame => DataFrame): DataFrame = {
    import graft.operators.GroupedTopK
    val p = probes.select(col("probe_id"), col("qe"), col("pbeam"))
      .repartition(col("probe_id")).persist()
    val g = graph.select(col("src"), col("dst"))
      .repartition(col("src")).persist()
    try {
      // ONE bounded aggregation: the beam aggregate's constant k plus the
      // duplicate-probe guard (the CellRoute.routeCells discipline)
      val stat = p.agg(max(col("pbeam")).as("mx"), count(lit(1)).as("n"),
        count_distinct(col("probe_id")).as("nd")).head()
      require(stat.getLong(1) == stat.getLong(2),
        s"probe frame has duplicate probe_id rows (${stat.getLong(1)} rows, " +
          s"${stat.getLong(2)} distinct ids) — per-probe walk state would merge")
      val maxBeam = if (stat.isNullAt(0)) 1 else math.max(1, stat.getInt(0))
      import spark.implicits._
      val entriesDf = starts.toDF("id")
      // hop 0: every probe admits the live entry points (ids without a
      // live vector drop — the driver walk's `has` guard)
      val hop0 = p.select("probe_id", "qe").crossJoin(broadcast(entriesDf))
        .join(embOf(entriesDf), Seq("id"))
        .select(col("probe_id"), col("id"),
          VF.l2Sq(col("emb"), col("qe")).as("dist"))
        .repartition(col("probe_id"), col("id"))
        .localCheckpoint()
      var deltas: List[DataFrame] = List(hop0)
      // running beam state: exactly top-maxBeam of the visited set per
      // probe (induction: top-maxBeam(top-maxBeam(V) ∪ fresh) =
      // top-maxBeam(V ∪ fresh)), so per-probe beams — and therefore the
      // whole walk — stay ≡ the driver schedule
      var beamState = hop0
      var hop = 0
      var open = true
      while (hop < hops && open) {
        val beam = beamState
          .groupBy("probe_id")
          .agg(GroupedTopK.topK(maxBeam)(col("dist"), col("id")).as("b"))
          .join(p.select("probe_id", "pbeam"), Seq("probe_id"))
          .select(col("probe_id"), col("pbeam"),
            posexplode(col("b")).as(Seq("pos", "sc")))
          .filter(col("pos") < col("pbeam"))
          .select(col("probe_id"), col("sc.id").as("src"))
        val cand = beam.join(g, Seq("src"))
          .select(col("probe_id"), col("dst").as("id")).distinct()
        val fresh = deltas.foldLeft(cand)((c, d) =>
          c.join(d.select("probe_id", "id"), Seq("probe_id", "id"), "left_anti"))
        val scored = fresh
          .join(embOf(fresh.select("id").distinct()), Seq("id"))
          .join(p.select("probe_id", "qe"), Seq("probe_id"))
          .select(col("probe_id"), col("id"),
            VF.l2Sq(col("emb"), col("qe")).as("dist"))
          .repartition(col("probe_id"), col("id"))
          .localCheckpoint()
        open = !scored.isEmpty
        if (open) {
          deltas ::= scored
          beamState = beamState.unionByName(scored)
            .groupBy("probe_id")
            .agg(GroupedTopK.topK(maxBeam)(col("dist"), col("id")).as("b"))
            .select(col("probe_id"), explode(col("b")).as("sc"))
            .select(col("probe_id"), col("sc.id").as("id"),
              col("sc.score").as("dist"))
            .localCheckpoint()
        }
        hop += 1
      }
      val visited = deltas.reduce(_ unionByName _)
      poolFilter(visited)
        .groupBy("probe_id")
        .agg(GroupedTopK.topK(topK)(col("dist"), col("id")).as("tk"))
        .select(col("probe_id"), posexplode(col("tk")).as(Seq("pos", "sc")))
        .select(col("probe_id"), col("sc.id").as("id"),
          col("sc.score").as("dist"), (col("pos") + 1).cast("int").as("rn"))
        .localCheckpoint()
    } finally Seq(p, g).foreach(_.unpersist(): Unit)
  }

  /** Validate + route a per-probe width policy into a `pbeam` column —
    * the shared head of both frame walks ([[GraphIndex.queryBatchDF]] /
    * [[EncryptedGraph.queryBatchDF]]): `useBeam` opts in to an integral
    * `beam` column (null → `beamWidth`; non-integral types refused
    * loudly — a cast-nulled width would silently fall back to the
    * uniform beam and change recall). */
  def beamPolicyCol(probes: DataFrame, beamWidth: Int, useBeam: Boolean): org.apache.spark.sql.Column = {
    if (useBeam) {
      require(probes.columns.contains("beam"),
        "useBeam = true needs an integer `beam` column on the probe frame")
      val dt = probes.schema("beam").dataType
      require(Seq[org.apache.spark.sql.types.DataType](
          org.apache.spark.sql.types.ByteType, org.apache.spark.sql.types.ShortType,
          org.apache.spark.sql.types.IntegerType, org.apache.spark.sql.types.LongType)
        .contains(dt),
        s"the `beam` policy column must be integral, got $dt — a cast-nulled " +
          "width would silently fall back to the uniform beam and change recall")
    }
    if (useBeam)
      greatest(coalesce(col("beam").cast("long"), lit(beamWidth.toLong)), lit(1L))
        .cast("int")
    else lit(math.max(1, beamWidth))
  }

  /** The [[PolicySidecar.panelFp]] seed of a beam policy: (k, hops, the
    * ladder) — the knobs a beam is ALSO a statement about. Shared by the
    * plaintext and encrypted `_beams` fences. */
  def beamSeed(k: Int, ladder: Seq[Int], hops: Int): Long =
    ladder.distinct.sorted
      .foldLeft(k.toLong * 1000003L + hops)((a, b) => a * 31L + b)

  /** A beam calibration's rungs: `ladder` distinct and sorted, after the
    * panel and ladder guards. */
  def calibrationSteps(panel: Seq[(Long, Array[Float])], ladder: Seq[Int]): Seq[Int] = {
    require(panel.nonEmpty && panel.length <= 4096,
      "calibration panel is index-metadata scale")
    val steps = ladder.distinct.sorted
    require(steps.nonEmpty && steps.head >= 1, "ladder must be positive")
    steps
  }

  /** Each probe's exact top-`k` ids over the (id, emb) frame `vEmb` — the
    * exact arm of a beam calibration, ONE scored panel × corpus pass.
    * `excludeSelf` drops the probe's own row (the self-panel convention). */
  def exactTopK(spark: SparkSession, vEmb: DataFrame, panel: Seq[(Long, Array[Float])],
                k: Int, excludeSelf: Boolean): Map[Long, Seq[Long]] = {
    val probes = broadcast(spark.createDataFrame(
      panel.map { case (pid, pe) => (pid, pe.toSeq) }).toDF("pid", "pe"))
    val pairs = vEmb.select(col("id"), col("emb")).crossJoin(probes)
    (if (excludeSelf) pairs.filter(col("id") =!= col("pid")) else pairs)
      .select(col("pid"), col("id"), VF.l2Sq(col("emb"), col("pe")).as("dist"))
      .groupBy("pid")
      .agg(graft.operators.GroupedTopK.topK(k)(col("dist"), col("id")).as("ex"))
      .collect()
      .map(r => r.getLong(0) ->
        r.getSeq[org.apache.spark.sql.Row](1).map(_.getLong(1)).toSeq).toMap
  }

  /** Measured-minimal per-probe beam widths: probe p gets the smallest
    * `ladder` rung whose `walk` (the answer ids per probe of a subset at
    * one width) recalls p's ENTIRE `exact` top-k; each rung walks only the
    * still-unassigned probes. A probe no rung serves fully gets
    * `ladder.max` WITH a stderr note naming `owner` — silently
    * under-serving one probe is the failure the policy exists to
    * prevent. */
  def assignBeams(owner: String, panel: Seq[(Long, Array[Float])], ladder: Seq[Int],
                  hops: Int)(exact: => Map[Long, Seq[Long]])(
      walk: (Seq[(Long, Array[Float])], Int) => Map[Long, Set[Long]]): Map[Long, Int] = {
    val steps = calibrationSteps(panel, ladder)
    val ex = exact
    val assigned = scala.collection.mutable.HashMap[Long, Int]()
    var remaining = panel
    steps.foreach { bw =>
      if (remaining.nonEmpty) {
        val got = walk(remaining, bw)
        val (done, left) = remaining.partition { case (pid, _) =>
          ex.getOrElse(pid, Nil).forall(got.getOrElse(pid, Set.empty))
        }
        done.foreach { case (pid, _) => assigned(pid) = bw }
        remaining = left
      }
    }
    if (remaining.nonEmpty) {
      System.err.println(s"[graft] $owner: " +
        s"${remaining.length}/${panel.length} probes not fully recalled at " +
        s"the widest rung ${steps.last} (hops=$hops) — assigning ladder.max; " +
        "densify the graph (higher k / refineRounds), raise hops, or widen " +
        "the ladder for a fully-exact per-probe policy")
      remaining.foreach { case (pid, _) => assigned(pid) = steps.last }
    }
    panel.map { case (pid, _) => pid -> assigned(pid) }.toMap
  }

  /** Medoids of `numEntries` deterministically-trained k-means cells —
    * the shared entry-point trainer ([[GraphIndex.build]]'s and
    * [[EncryptedGraph.build]]'s): farthest-first seeds + quantized Lloyd
    * (bit-reproducible), then one window picks each cell's closest
    * vector. Runs on PLAINTEXT-in-flight embeddings (the encrypted twin
    * trains before encryption lands, the [[EncryptedStore.storeIndexed]]
    * k-means discipline). */
  def medoidEntries(spark: SparkSession, ve: DataFrame, numEntries: Int): DataFrame = {
    val n = ve.count()
    val kE = math.min(numEntries.toLong, n).toInt
    val seeds = graft.operators.KMeans.farthestFirstSeeds(ve, "id", "emb", kE, Some(n))
    val cents = graft.operators.KMeans.trainQuantized(
      ve, "id", "emb", kE, IvfIndex.TrainIters, Some(seeds))
    val centDf = spark.createDataFrame(cents.toSeq.map { case (cid, c) => (cid, c.toSeq) })
      .toDF("cell", "cemb")
    val w = Window.partitionBy("cell").orderBy(asc("d"), asc("id"))
    ve.withColumn("cell", VF.nearestCentroid(col("emb"), cents))
      .join(broadcast(centDf), "cell")
      .withColumn("d", VF.l2Sq(col("emb"), col("cemb").cast("array<float>")))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("cell"), col("id"))
  }
}
