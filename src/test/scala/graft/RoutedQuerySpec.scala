package graft

import graft.store.VectorStore
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/**
 * Index-routed `Collection.query` — Chroma API parity for the serving
 * story: in the reference's backend `collection.query` IS index-backed
 * (hnswlib inside ChromaDB, /root/reference/src/cod.py:125-129); here an
 * attached [[graft.store.IvfIndex]]/[[graft.store.GraphIndex]] takes over
 * l2 queries transparently, predicates flow into the pruned index scan,
 * and add/update/delete keep the index in sync.
 */
class RoutedQuerySpec extends AnyFunSuite with SparkTest {

  private def tmp(tag: String): String =
    graft.store.Scratch.dir(s"graft_$tag")

  private lazy val rows = spark.read.parquet(s"$sf001/embeddings.parquet")
    .select(col("vec_id").cast("string").as("id"),
      concat(lit("doc "), col("vec_id")).as("doc"),
      map(lit("label"), col("label").cast("string")).as("meta"),
      col("embedding").as("emb"))
    .persist()

  private lazy val probe = spark.read.parquet(s"$sf001/embeddings.parquet")
    .filter(col("vec_id") === 17).head().getAs[Seq[Float]]("embedding").toArray

  private def got(df: org.apache.spark.sql.DataFrame): Seq[(String, Double)] =
    df.select("id", "distance").collect()
      .map(r => (r.getString(0), r.getDouble(1))).toSeq.sortBy(p => (p._2, p._1))

  test("routed IVF query: full-probe equals brute force; filters flow into the index scan") {
    val store = new VectorStore(spark, tmp("vs_ivf"))
    val c = store.createOrGet("col")
    c.add(rows)
    c.attachIvfIndex(tmp("vs_ivf_idx"), numCells = 8, nprobe = 8)

    val routed = got(c.query(probe, k = 5))
    c.detachIndex()
    val brute = got(c.query(probe, k = 5))
    assert(routed == brute, "full-probe routed query must equal the exact brute-force path")

    // predicates: where (meta) and whereDocument both flow through
    c.attachIvfIndex(tmp("vs_ivf_idx2"), numCells = 8, nprobe = 8)
    val where = Some(element_at(col("meta"), "label") === "1")
    val whereDoc = Some(col("doc").endsWith("3"))
    val routedF = got(c.query(probe, k = 5, where = where, whereDocument = whereDoc))
    c.detachIndex()
    val bruteF = got(c.query(probe, k = 5, where = where, whereDocument = whereDoc))
    assert(routedF == bruteF && routedF.nonEmpty,
      "filtered routed query must equal the filtered brute-force path")
  }

  test("attachIvfIndex(recallTarget=) routes through the calibrated depth, not a guessed one") {
    val store = new VectorStore(spark, tmp("vs_cal"))
    val c = store.createOrGet("col")
    c.add(rows)
    val idx = c.attachIvfIndex(tmp("vs_cal_idx"), numCells = 8, nprobe = 1,
      recallTarget = Some(0.9), calibrateK = 10, calibratePanel = 16)
    // the attached depth is the policy's answer (nprobe=1 was ignored),
    // reproducible from the same deterministic panel + ladder
    val expect = idx.calibrateNprobe(k = 10, target = 0.9, panelCap = 16)
    c.attachedConfig match {
      case Some(VectorStore.AttachedIvf(_, np, _)) =>
        assert(np == expect, s"attached depth $np, calibration says $expect")
        assert(np > 1 || expect == 1, "the nprobe argument must not leak through")
      case other => fail(s"expected an attached IVF config, got $other")
    }
    // and the routed query serves at that depth: equal to the explicit
    // index query at the calibrated nprobe, mapped back to string ids
    val routed = got(c.query(probe, k = 5))
    val direct = idx.query(probe, k = 5, nprobe = expect).collect()
      .map(_.getLong(0)).toSeq
    val mapped = rows.select(col("id"), xxhash64(col("id")).as("h"))
      .filter(col("h").isin(direct: _*)).select("id")
      .collect().map(_.getString(0)).toSet
    assert(routed.map(_._1).toSet == mapped,
      "routed answers must be the calibrated-depth index answers")
  }

  test("routedKnnVotesAuto: chooser correct on both sides of the crossover; identical votes either way") {
    import graft.queries.AnnQueries
    // the PURE chooser, on both sides of the measured crossover (SURVEY
    // §8.3 routedlabel: ~2M saved pair distances pay for the routed
    // machinery's fixed overhead)
    assert(AnnQueries.chooseLabelRoute(p = 64, n = 10000, numCells = 16,
      nprobe = 4) == "exact", "480k saved pairs: below the crossover")
    assert(AnnQueries.chooseLabelRoute(p = 64, n = 120000, numCells = 16,
      nprobe = 4) == "routed", "5.76M saved pairs: above the crossover")
    assert(AnnQueries.chooseLabelRoute(p = 1000000, n = 1000000,
      numCells = 16, nprobe = 16) == "exact",
      "full-depth routing saves nothing — exact always wins there")
    // identical answers on both arms, over a real index at full depth
    val e = spark.read.parquet(s"$sf0001/embeddings.parquet")
    val labeled = e.select(col("vec_id").as("id"), col("embedding").as("emb"),
      col("label").cast("long").as("nlabel"))
    val idx = new graft.store.IvfIndex(spark, tmp("auto_idx"), numCells = 4)
    idx.build(labeled)
    val probes = e.filter(col("vec_id") % 100 === 7)
      .select(col("vec_id").as("probe_id"), col("embedding").as("qe"))
    def votes(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSeq
        .sortBy(_._1)
    val exact = votes(AnnQueries.exactKnnVotes(idx, probes, k = 5))
    assert(exact.nonEmpty)
    assert(exact == votes(AnnQueries.routedKnnVotesDF(idx, probes, 5,
      nprobe = 4, shortlist = 64)),
      "exact arm must equal the routed DF arm at full probe depth")
    // auto: this fixture sits below the crossover -> exact route
    val (route, auto) = AnnQueries.routedKnnVotesAuto(idx, probes, 5,
      nprobe = 4, shortlist = 64)
    assert(route == "exact" && votes(auto) == exact)
    // force the other side of the crossover: same answers via the routed arm
    val (r2, auto2) = AnnQueries.routedKnnVotesAuto(idx, probes, 5,
      nprobe = 4, shortlist = 64, crossoverPairs = 0L)
    assert(r2 == "routed" && votes(auto2) == exact)
    // labels outside the 4-bit packing range fail LOUDLY in the exact arm
    // (a silent pmod-16 decode would return wrong votes that diverge from
    // the routed arm's plain label column)
    val wide = e.select(col("vec_id").as("id"), col("embedding").as("emb"),
      (col("label").cast("long") + 20L).as("nlabel"))
    val idxWide = new graft.store.IvfIndex(spark, tmp("auto_idx_wide"), numCells = 4)
    idxWide.build(wide)
    val ex = intercept[IllegalArgumentException](
      AnnQueries.exactKnnVotes(idxWide, probes, k = 5))
    assert(ex.getMessage.contains("[0, 16)"), ex.getMessage)
  }

  test("routed graph query equals the explicit index query mapped back to string ids") {
    val store = new VectorStore(spark, tmp("vs_g"))
    val c = store.createOrGet("col")
    c.add(rows.filter(col("id").cast("long") <= 200))
    def bucketOf(off: Int)(e: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
      (0 until 6).map { p =>
        when(graft.functions.VectorFunctions.dot(
          e, typedlit(graft.queries.AnnQueries.plane(off + p))) >= 0, lit(1L << p))
          .otherwise(lit(0L))
      }.reduce(_ + _)
    val idx = c.attachGraphIndex(tmp("vs_g_idx"), k = 4,
      Seq(bucketOf(0) _, bucketOf(200) _), beamWidth = 8, hops = 3)

    val routed = got(c.query(probe, k = 5))
    val explicit = idx.query(probe, topK = 5, beamWidth = 8, hops = 3)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toMap
    assert(routed.size == explicit.size)
    // every routed row maps to an explicit hit through the id hash
    val lidOf = rows.select(col("id"), xxhash64(col("id")).as("lid"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    routed.foreach { case (cid, d) =>
      assert(explicit(lidOf(cid)) == d, s"routed row $cid must carry the index's distance")
    }
  }

  test("add and deleteWhere keep the attached index in sync; upsert rebuilds it") {
    val store = new VectorStore(spark, tmp("vs_sync"))
    val c = store.createOrGet("col")
    c.add(rows.filter(col("id").cast("long") < 100))
    c.attachIvfIndex(tmp("vs_sync_idx"), numCells = 4, nprobe = 4)

    // add: the new rows are served by the routed path
    val extra = rows.filter(col("id").cast("long") === 300)
    c.add(extra)
    val pe = extra.head().getAs[Seq[Float]]("emb").toArray
    assert(got(c.query(pe, k = 1)).head._1 == "300", "added row must be index-served")

    // delete: stops being served immediately, pre-compact
    c.deleteWhere(col("id") === "300")
    assert(got(c.query(pe, k = 3)).forall(_._1 != "300"),
      "deleted row must stop being served by the routed path")

    // delete-then-re-add before any compact (the Chroma-legal sequence):
    // the routed add must compact the pending tombstone away and serve
    // the re-added row instead of refusing or silently skipping it
    c.add(extra)
    assert(got(c.query(pe, k = 1)).head._1 == "300",
      "re-adding a deleted id must be served by the routed path")

    // upsert: moves a row's embedding; the rebuild must serve the new one
    val newEmb = Array.fill(64)(9.5f)
    import spark.implicits._
    c.upsert(Seq(("5", "doc 5 moved", Map("label" -> "9"), newEmb.toSeq))
      .toDF("id", "doc", "meta", "emb"))
    val hit = got(c.query(newEmb, k = 1)).head
    assert(hit._1 == "5" && hit._2 == 0.0, "upserted embedding must be re-indexed")
  }

  test("queryBatch (Chroma multi-embedding query): per-probe equal to query() on every path") {
    val store = new VectorStore(spark, tmp("vs_qb"))
    val c = store.createOrGet("col")
    c.add(rows.filter(col("id").cast("long") <= 300))
    val embs = Seq(17L, 42L, 99L).map(i =>
      spark.read.parquet(s"$sf001/embeddings.parquet")
        .filter(col("vec_id") === i).head().getAs[Seq[Float]]("embedding").toArray)
    def batchRows(df: org.apache.spark.sql.DataFrame): Map[Long, Seq[(String, Double)]] =
      df.select("query_idx", "id", "distance").collect()
        .map(r => (r.getLong(0), (r.getString(1), r.getDouble(2))))
        .groupBy(_._1).map { case (qi, a) => qi -> a.map(_._2).toSeq.sortBy(p => (p._2, p._1)) }
    def single(qe: Array[Float], metric: String, where: Option[org.apache.spark.sql.Column] = None) =
      got(c.query(qe, k = 4, metric = metric, where = where))

    // brute, both metrics
    for (metric <- Seq("l2", "cosine")) {
      val b = batchRows(c.queryBatch(embs, k = 4, metric = metric))
      embs.zipWithIndex.foreach { case (qe, i) =>
        assert(b(i.toLong) == single(qe, metric), s"brute $metric probe $i diverges")
      }
    }
    // brute, filtered
    val where = Some(element_at(col("meta"), "label") === "1")
    val bf = batchRows(c.queryBatch(embs, k = 4, where = where))
    embs.zipWithIndex.foreach { case (qe, i) =>
      assert(bf(i.toLong) == single(qe, "l2", where), s"filtered probe $i diverges")
    }
    // routed (IVF hot tier), unfiltered and filtered
    c.attachIvfIndex(tmp("vs_qb_idx"), numCells = 4, nprobe = 4)
    val br = batchRows(c.queryBatch(embs, k = 4))
    embs.zipWithIndex.foreach { case (qe, i) =>
      assert(br(i.toLong) == single(qe, "l2"), s"routed probe $i diverges")
    }
    val brf = batchRows(c.queryBatch(embs, k = 4, where = where))
    embs.zipWithIndex.foreach { case (qe, i) =>
      assert(brf(i.toLong) == single(qe, "l2", where), s"routed filtered probe $i diverges")
    }
  }

  test("hot serving tier: hotQuery equals the Spark walk; every mutation invalidates it") {
    val store = new VectorStore(spark, tmp("vs_hot"))
    val c = store.createOrGet("col")
    c.add(rows.filter(col("id").cast("long") <= 200))
    def bucketOf(off: Int)(e: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
      (0 until 6).map { p =>
        when(graft.functions.VectorFunctions.dot(
          e, typedlit(graft.queries.AnnQueries.plane(off + p))) >= 0, lit(1L << p))
          .otherwise(lit(0L))
      }.reduce(_ + _)
    val idx = c.attachGraphIndex(tmp("vs_hot_idx"), k = 4,
      Seq(bucketOf(0) _, bucketOf(200) _), beamWidth = 8, hops = 3)

    def cold() = idx.query(probe, topK = 5, beamWidth = 8, hops = 3)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    // bit-equal answers, warm and cold
    assert(idx.hotQuery(probe, 5, 8, 3) == cold())
    assert(idx.hotQuery(probe, 5, 8, 3) == cold(), "second (warm) probe stays equal")
    // warm probes are pure computation: far under the 150ms budget
    idx.hotQuery(probe, 5, 8, 3)
    val t0 = System.nanoTime()
    idx.hotQuery(probe, 5, 8, 3)
    assert((System.nanoTime() - t0) / 1e6 < 150.0, "warm hot probe must be sub-150ms")

    // every mutation class invalidates: insert, delete, compact
    val dead = cold().head._1
    idx.delete(Seq(dead))
    assert(idx.hotQuery(probe, 5, 8, 3) == cold(),
      "hot tier must reload after a delete epoch")
    assert(!idx.hotQuery(probe, 5, 8, 3).exists(_._1 == dead))
    idx.compact()
    assert(idx.hotQuery(probe, 5, 8, 3) == cold(),
      "hot tier must reload after compact")
    // batched hot probes equal the shared-schedule batch walk
    val bprobes = Seq(1L, 2L).map(i => i -> probe)
    val batchCold = idx.queryBatch(bprobes, topK = 5, beamWidth = 8, hops = 3)
      .select("probe_id", "id", "dist", "rn").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
      .toSeq.sortBy(t => (t._1, t._4))
    val hotBatch = bprobes.flatMap { case (pid, pe) =>
      idx.hotQuery(pe, 5, 8, 3).zipWithIndex.map {
        case ((id, d), i) => (pid, id, d, i + 1)
      }
    }
    assert(hotBatch == batchCold,
      "hotQuery over the panel must equal queryBatch probe for probe")
    // routed Collection.query serves from the hot tier and matches the
    // explicit index walk payload for payload (the "routed graph query"
    // test pins the same equality on an unmutated index)
    val routed = got(c.query(probe, k = 5))
    val explicit = cold().toMap
    val lidOf = rows.select(col("id"), xxhash64(col("id")).as("lid"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(routed.nonEmpty)
    routed.foreach { case (cid, d) =>
      assert(explicit(lidOf(cid)) == d,
        s"hot routed row $cid must carry the index walk's distance")
    }
  }

  test("FILTERED hot serving (queryJson): identical to the Spark filtered index scan") {
    val store = new VectorStore(spark, tmp("vs_hf"))
    val c = store.createOrGet("col")
    c.add(rows.filter(col("id").cast("long") <= 300))
    def bucketOf(off: Int)(e: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
      (0 until 6).map { p =>
        when(graft.functions.VectorFunctions.dot(
          e, typedlit(graft.queries.AnnQueries.plane(off + p))) >= 0, lit(1L << p))
          .otherwise(lit(0L))
      }.reduce(_ + _)
    val idx = c.attachGraphIndex(tmp("vs_hf_idx"), k = 4,
      Seq(bucketOf(0) _, bucketOf(200) _), beamWidth = 8, hops = 3)

    val filters = Seq(
      ("""{"label": {"$in": ["1", "3", "5"]}}""", null),
      ("""{"label": {"$gte": 2}}""", null),                    // numeric compare on string meta
      ("""{"label": {"$ne": "2"}}""", """{"$contains": "doc"}"""),
      (null, """{"$regex": "doc [0-9]*[02468]$"}"""),
      ("""{"missing_key": {"$nin": ["x"]}}""", null))          // NULL semantics: matches nothing
    for ((w, d) <- filters) {
      // hot path (queryJson compiles the dialect to the JVM evaluator)
      val hot = got(c.queryJson(probe, k = 5, whereJson = w, whereDocumentJson = d))
      // Spark path: same dialect translated to Catalyst Columns through
      // the routed pruned index scan (force it by an over-budget hot tier)
      val prev = System.getProperty("graft.hot.maxBytes")
      System.setProperty("graft.hot.maxBytes", "1")
      try {
        val cold = got(c.queryJson(probe, k = 5, whereJson = w, whereDocumentJson = d))
        assert(hot == cold, s"hot filtered serving must equal the Spark path for ($w, $d)")
      } finally {
        if (prev == null) System.clearProperty("graft.hot.maxBytes")
        else System.setProperty("graft.hot.maxBytes", prev)
      }
    }
    // the $gte-on-string filter really selects (sanity: non-empty somewhere)
    assert(got(c.queryJson(probe, k = 5, whereJson = """{"label": {"$gte": 2}}""")).nonEmpty)

    // batch surface: same filter, all probes on ONE hot state load
    def gotB(df: org.apache.spark.sql.DataFrame): Set[(Long, String, Double)] =
      df.select("query_idx", "id", "distance").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSet
    val probes2 = Seq(probe, probe.map(x => -x))
    val bw = """{"label": {"$in": ["1", "3", "5"]}}"""
    val hotB = gotB(c.queryBatchJson(probes2, k = 5, whereJson = bw))
    val prevB = System.getProperty("graft.hot.maxBytes")
    System.setProperty("graft.hot.maxBytes", "1")
    try {
      val coldB = gotB(c.queryBatchJson(probes2, k = 5, whereJson = bw))
      assert(hotB == coldB && hotB.nonEmpty,
        "filtered hot queryBatchJson must equal the Spark path")
    } finally {
      if (prevB == null) System.clearProperty("graft.hot.maxBytes")
      else System.setProperty("graft.hot.maxBytes", prevB)
    }
    idx.toString: Unit // keep idx referenced
  }

  test("FILTERED hot serving, IVF twin: identical to the partition-pruned Spark scan") {
    val store = new VectorStore(spark, tmp("vs_hfi"))
    val c = store.createOrGet("col")
    c.add(rows)
    c.attachIvfIndex(tmp("vs_hfi_idx"), numCells = 8, nprobe = 8)
    val filters = Seq(
      ("""{"label": {"$in": ["1", "3", "5"]}}""", null),
      ("""{"label": {"$gte": 2}}""", """{"$contains": "doc"}"""),
      (null, """{"$not_contains": "doc 1"}"""))
    for ((w, d) <- filters) {
      val hot = got(c.queryJson(probe, k = 5, whereJson = w, whereDocumentJson = d))
      val prev = System.getProperty("graft.hot.maxBytes")
      System.setProperty("graft.hot.maxBytes", "1")
      try {
        val cold = got(c.queryJson(probe, k = 5, whereJson = w, whereDocumentJson = d))
        assert(hot == cold && hot.nonEmpty,
          s"IVF hot filtered serving must equal the Spark path for ($w, $d)")
      } finally {
        if (prev == null) System.clearProperty("graft.hot.maxBytes")
        else System.setProperty("graft.hot.maxBytes", prev)
      }
    }
  }

  test("quantized-routed query: full-depth equals the raw route, filters included, snapshot carries it") {
    val n = rows.count().toInt
    val store = new VectorStore(spark, tmp("vs_qivf"))
    val c = store.createOrGet("col")
    c.add(rows)
    c.attachIvfIndex(tmp("vs_qivf_idx"), numCells = 8, nprobe = 8,
      quantizedShortlist = Some(n))
    val quantRouted = got(c.query(probe, k = 5))
    val quantFiltered = got(c.query(probe, k = 5,
      where = Some(element_at(col("meta"), lit("label")) === "3")))
    c.snapshot("q1")
    c.detachIndex()
    c.attachIvfIndex(tmp("vs_qivf_idx2"), numCells = 8, nprobe = 8)
    assert(quantRouted == got(c.query(probe, k = 5)),
      "full-depth quantized route must equal the raw route")
    assert(quantFiltered == got(c.query(probe, k = 5,
      where = Some(element_at(col("meta"), lit("label")) === "3"))),
      "filtered quantized route must equal the raw filtered route")
    // the snapshot manifest recorded the quantized routing: replaying the
    // snapshot serves the same frozen answer through the codes route
    assert(got(c.querySnapshot("q1", probe, k = 5)) == quantRouted,
      "snapshot must replay the quantized route's answers")
  }

  test("quantized-routed query through PQ codes equals the raw route") {
    val n = rows.count().toInt
    val store = new VectorStore(spark, tmp("vs_pqivf"))
    val c = store.createOrGet("col")
    c.add(rows)
    // a PQ-coded attached index: the routed quantized path dispatches on
    // the frozen _pq sidecar (ADC phase 1), and at full shortlist depth
    // the exact rerank makes the answer the raw route's
    c.attachIvfIndex(tmp("vs_pqivf_idx"), numCells = 8, nprobe = 8,
      quantizedShortlist = Some(n), codes = "pq", pqM = 8)
    val pqRouted = got(c.query(probe, k = 5))
    val pqFiltered = got(c.query(probe, k = 5,
      where = Some(element_at(col("meta"), lit("label")) === "3")))
    c.detachIndex()
    c.attachIvfIndex(tmp("vs_pqivf_idx2"), numCells = 8, nprobe = 8)
    assert(pqRouted == got(c.query(probe, k = 5)),
      "full-depth PQ-quantized route must equal the raw route")
    assert(pqFiltered == got(c.query(probe, k = 5,
      where = Some(element_at(col("meta"), lit("label")) === "3"))),
      "filtered PQ-quantized route must equal the raw filtered route")
  }
}
