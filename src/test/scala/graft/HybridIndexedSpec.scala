package graft

import graft.queries.SearchQueries
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/**
 * Indexed hybrid retrieval (q_hybrid_indexed): RRF fusion of the two
 * PERSISTED arms — postings TextIndex (quantized BM25) + doc-embedding
 * IVF at the probe's calibrated exact depth — must reproduce
 * q_hybrid_rrf's exact-scan fusion. Ranks are integers, so fusion is
 * exact once each arm's shortlist matches; the sem arm's match is the
 * RagCosMargin L2→cosine argument over unit vectors, the kw arm's is the
 * quantized-integer ranking the TextIndex oracle already pins
 * (q_text_index). The kw arms SCORE differently by construction
 * (quantized longs vs exact doubles) — rank agreement on the fixtures is
 * asserted, and the oracle gates it independently at sf0.01.
 */
class HybridIndexedSpec extends AnyFunSuite with SparkTest {

  private def rows(name: String, dir: String): Seq[(Long, Int, Int, Double)] =
    graft.queries.Registry.queries(name)(spark, dir).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getDouble(3))).toSeq

  test("routed fusion == exact fusion, frame for frame") {
    val exact = rows("q_hybrid_rrf", sf0001)
    val routed = rows("q_hybrid_indexed", sf0001)
    assert(exact.nonEmpty, "fixture sanity")
    assert(routed == exact,
      "persisted-arm fusion must reproduce the exact-scan fusion")
  }

  test("sem arm: calibrated depth == full depth; kw arm: queryRanked ranks the query() answer 1..k") {
    val (tidx, vidx) = SearchQueries.hybridBuildIndexes(spark, sf0001)
    val qe = SearchQueries.hybridProbe(spark)
    val depths = SearchQueries.hybridCalibrate(vidx, qe)
    assert(depths.keySet == Set(0L) &&
      depths(0L) >= 1 && depths(0L) <= vidx.numCells)
    def fused(d: Map[Long, Int]) =
      SearchQueries.hybridServeIndexed(spark, tidx, vidx, qe, d)
        .collect().map(_.toSeq).toSeq
    onBothRoutes {
      assert(fused(depths) == fused(Map(0L -> vidx.numCells)),
        "the calibrated per-probe depth was MEASURED exact — full depth " +
          "must not change the fusion")
      // queryRanked == query() + the 1..k rank in the same integer order
      val plain = tidx.query(SearchQueries.QueryTerms, 10).collect()
        .map(r => (r.getLong(0), r.getAs[Number](1).longValue, r.getDouble(2))).toSeq
      val ranked = tidx.queryRanked(SearchQueries.QueryTerms, 10).collect()
        .map(r => (r.getLong(0), r.getAs[Number](1).longValue, r.getDouble(2), r.getInt(3))).toSeq
      assert(ranked.map(t => (t._1, t._2, t._3)) == plain,
        "queryRanked must rank exactly query()'s answer")
      assert(ranked.map(_._4) == (1 to ranked.length).toSeq,
        "ranks are the 1..k positions of the (sq desc, doc_id) order")
    }
  }

  test("batched hybrid serving: the panel surface equals per-probe hybridServeIndexed at its own terms and persisted depth") {
    import graft.functions.{TextFunctions => TF}
    val (tidx, vidx) = SearchQueries.hybridBuildIndexes(spark, sf0001)
    def embOf(text: String): Array[Float] = {
      import spark.implicits._
      Seq(text).toDF("text")
        .select(TF.hashEmbed(TF.tokens(col("text")), SearchQueries.EmbDim).as("e"))
        .head().getSeq[Float](0).toArray
    }
    // three standing hybrid queries with DIFFERENT term sets — the panel
    // a fleet of standing alerts runs
    val panel = Seq(
      101L -> Seq("vector", "merge", "window", "stream"),
      102L -> Seq("stream", "shuffle", "encrypt"),
      103L -> Seq("merge", "partition", "query")
    ).map { case (pid, terms) => (pid, terms, embOf(terms.mkString(" "))) }
    val depths = SearchQueries.hybridCalibrateBatch(vidx, panel)
    assert(depths.keySet == panel.map(_._1).toSet)
    val batch = SearchQueries.hybridServeIndexedBatch(spark, tidx, vidx, panel, depths)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getInt(3), r.getDouble(4)))
      .toSeq
    panel.foreach { case (pid, terms, qe) =>
      val solo = SearchQueries.hybridServeIndexed(spark, tidx, vidx, qe,
          Map(0L -> depths(pid)), terms)
        .collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getDouble(3))).toSeq
      val fromBatch = batch.filter(_._1 == pid).map(t => (t._2, t._3, t._4, t._5))
      assert(fromBatch == solo,
        s"probe $pid: batched fusion must equal the per-probe serve at its " +
          s"own terms and persisted depth\nbatch: $fromBatch\nsolo:  $solo")
    }
    // one policy artifact serves the panel across a REOPEN with zero
    // recalibration (the _depths sidecar carries the whole panel)
    val reopened = new graft.store.IvfIndex(spark, vidx.path, vidx.numCells)
    assert(reopened.depthPolicy(panel.map(p => (p._1, p._3)),
      SearchQueries.ShortlistK + SearchQueries.RagCosMargin) == depths)
  }

  test("DF-probe batched hybrid serving == the Seq panel route probe for probe, depths routed through the frame") {
    import graft.functions.{TextFunctions => TF}
    val (tidx, vidx) = SearchQueries.hybridBuildIndexes(spark, sf0001)
    def embOf(text: String): Array[Float] = {
      import spark.implicits._
      Seq(text).toDF("text")
        .select(TF.hashEmbed(TF.tokens(col("text")), SearchQueries.EmbDim).as("e"))
        .head().getSeq[Float](0).toArray
    }
    val panel = Seq(
      201L -> Seq("vector", "merge", "window", "stream"),
      202L -> Seq("stream", "shuffle", "encrypt"),
      203L -> Seq("merge", "partition", "query")
    ).map { case (pid, terms) => (pid, terms, embOf(terms.mkString(" "))) }
    val depths = SearchQueries.hybridCalibrateBatch(vidx, panel)
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getInt(3), r.getDouble(4)))
      .toSeq
    val seqRoute = rows(
      SearchQueries.hybridServeIndexedBatch(spark, tidx, vidx, panel, depths))
    // the persisted per-probe depth policy rides the frame's `depth`
    // column — the panel never touches the driver on the serving path
    val panelDf = spark.createDataFrame(panel.map { case (pid, terms, qe) =>
        (pid, terms, qe.toSeq, depths(pid)) })
      .toDF("probe_id", "terms", "qe", "depth")
    val dfRoute = rows(
      SearchQueries.hybridServeIndexedBatchDF(spark, tidx, vidx, panelDf,
        useDepth = true))
    assert(seqRoute.nonEmpty, "fixture sanity")
    assert(dfRoute == seqRoute,
      s"frame panel must serve the Seq panel's exact fusion\ndf:  $dfRoute\nseq: $seqRoute")
    // depth-blind call (useDepth = false): full-depth probing was measured
    // exact at calibration, so the fusion must not change — and a stray
    // depth column must be IGNORED without the opt-in
    val shallow = panelDf.withColumn("depth", lit(0))
    assert(rows(SearchQueries.hybridServeIndexedBatchDF(
        spark, tidx, vidx, shallow, useDepth = false)) == seqRoute,
      "without useDepth the stray depth column must not change probing")
  }

  test("build guard: a corpus with too few nonzero-norm docs refuses loudly") {
    // 17 real docs + 13 empty-text (zero-norm) docs: enough to seat the
    // 16 IVF centroids, but under ShortlistK=20 indexed docs — the exact
    // arm's cosine top-20 would reach the −1.0 sentinel rows the index
    // excludes, so routed == exact no longer holds and the build must say
    // so instead of serving a silently-divergent fusion
    val tmp = new java.io.File(graft.store.Scratch.dir("graft_tiny_fx"))
    try {
      val docs = spark.createDataFrame(
        (1L to 17L).map(i => (i, s"alpha beta gamma delta doc$i")) ++
          (18L to 30L).map(i => (i, ""))).toDF("doc_id", "text")
      docs.write.mode("overwrite").parquet(s"${tmp.getAbsolutePath}/documents.parquet")
      val e = intercept[IllegalArgumentException](
        SearchQueries.hybridBuildIndexes(spark, tmp.getAbsolutePath))
      assert(e.getMessage.contains("nonzero-norm"), e.getMessage)
    } finally {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(): Unit
      }
      rm(tmp)
    }
  }
}
