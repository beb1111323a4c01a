package graft

import graft.functions.{VectorFunctions => VF}
import graft.store.{GraphIndex, IvfIndex, PanelDispatch, TextIndex}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The small-panel dispatch (r14): every DF serving route with a
  * spec-pinned Seq twin serves driver-sized panels THROUGH that twin —
  * answers must be identical row for row to the frame lane the shared
  * test session pins (floor 0), and the frame guards (duplicate probe_id,
  * empty panel) must keep firing on the dispatch lane. */
class PanelDispatchSpec extends AnyFunSuite with SparkTest {

  private def withDispatch[A](f: => A): A = {
    spark.conf.set(PanelDispatch.FloorKey, PanelDispatch.DefaultFloor.toString)
    try f finally spark.conf.set(PanelDispatch.FloorKey, "0")
  }

  private lazy val emb = spark.read.parquet(s"$sf001/embeddings.parquet")
    .filter(col("vec_id") =!= 0)
    .select(col("vec_id").as("id"), col("embedding").as("emb"))
    .persist()

  private def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq.sorted

  test("IvfIndex.queryBatchDF dispatches small panels to the Seq twin — identical answers, depth column honored") {
    val idx = new IvfIndex(spark,
      graft.store.Scratch.dir("graft_pd_ivf"), numCells = 8)
    idx.build(emb)
    val probesDf = emb.filter(col("id").isin(3L, 17L, 101L))
      .select(col("id").as("probe_id"), col("emb").as("qe"),
        (col("id") % 4 + 2).cast("int").as("depth"))
    val framed = rows(idx.queryBatchDF(probesDf, k = 5, nprobe = 4,
      include = Seq("emb"), useDepth = true))
    val viaDispatch = withDispatch(rows(
      idx.queryBatchDF(probesDf, k = 5, nprobe = 4,
        include = Seq("emb"), useDepth = true)))
    assert(viaDispatch == framed)
    // the depth-column contract still refuses on the dispatch lane
    val eDepth = intercept[Exception](withDispatch(
      idx.queryBatchDF(probesDf.withColumn("depth", lit(2.5)), 5, 4,
        useDepth = true).count()))
    assert(eDepth.getMessage.contains("must be integral"))
  }

  test("TextIndex batched frame routes dispatch small panels to the Seq twins — identical answers") {
    val idx = new TextIndex(spark,
      graft.store.Scratch.dir("graft_pd_tidx"), numBuckets = 4)
    idx.build(spark.read.parquet(s"$sf001/documents.parquet")
      .select(col("doc_id"), col("text")))
    val panel = Seq(1L -> Seq("vector", "index"), 2L -> Seq("query", "search", "merge"))
    val panelDf = spark.createDataFrame(panel).toDF("probe_id", "terms")
    val framedBounded = rows(idx.queryRankedBatchBoundedDF(panelDf, 5))
    withDispatch {
      assert(rows(idx.queryRankedBatchBoundedDF(panelDf, 5)) == framedBounded)
    }
  }

  test("GraphIndex.queryBatchDF dispatches small panels to the driver walk — identical answers; guards fire") {
    val bucketOf = (off: Int) => (e: org.apache.spark.sql.Column) =>
      (0 until 6).map { p =>
        when(VF.dot(e, typedlit(graft.queries.AnnQueries.plane(off + p))) >= 0,
          lit(1L << p)).otherwise(lit(0L))
      }.reduce(_ + _)
    val idx = new GraphIndex(spark,
      graft.store.Scratch.dir("graft_pd_g"),
      4, Seq(bucketOf(0), bucketOf(200)))
    idx.build(emb, refineRounds = 0)
    val probesDf = emb.filter(col("id").isin(10L, 20L))
      .select(col("id").as("probe_id"), col("emb").as("qe"))
    val framed = rows(idx.queryBatchDF(probesDf, topK = 5, beamWidth = 4,
      hops = 3, entries = Seq(1L, 2L)))
    withDispatch {
      assert(rows(idx.queryBatchDF(probesDf, 5, 4, hops = 3,
        entries = Seq(1L, 2L))) == framed)
      // duplicate probe ids refuse on the dispatch lane with the frame
      // walk's message contract
      val eDup = intercept[Exception](
        idx.queryBatchDF(probesDf.unionByName(probesDf.limit(1)), 5, 4,
          hops = 3, entries = Seq(1L, 2L)).count())
      assert(eDup.getMessage.contains("duplicate probe_id"))
      // an empty panel serves the empty frame (the Seq twin refuses empty
      // — the dispatch must leave it on the frame lane)
      assert(idx.queryBatchDF(probesDf.filter(lit(false)), 5, 4, hops = 2,
        entries = Seq(1L, 2L)).count() == 0)
    }
  }

  test("EncryptedStore.queryIndexedBatchDF dispatches small panels to the shortlist-regime Seq twin — identical answers in both regimes; driver-side guard fires") {
    val es = new graft.store.EncryptedStore(spark,
      graft.store.Scratch.dir("graft_pd_encb"), "0123456789abcdef")
    es.storeIndexed(emb.select(concat(lit("id"), col("id")).as("id"),
      concat(lit("d"), col("id")).as("doc"), col("emb")), "c", numCells = 6)
    val probesDf = emb.filter(col("id").isin(3L, 17L, 101L))
      .select(col("id").as("probe_id"), col("emb").as("qe"),
        (col("id") % 4 + 2).cast("int").as("depth"))
    // full-shortlist regime (physical rows ≤ shortlist → the raw Seq twin)
    val framedFull = rows(es.queryIndexedBatchDF("c", probesDf, k = 5,
      nprobe = 4, shortlist = 1 << 20, useDepth = true))
    // bounded regime (→ the quantized Seq twin, same two-phase trade)
    val framedBounded = rows(es.queryIndexedBatchDF("c", probesDf, k = 5,
      nprobe = 4, shortlist = 8, useDepth = true))
    withDispatch {
      assert(rows(es.queryIndexedBatchDF("c", probesDf, k = 5, nprobe = 4,
        shortlist = 1 << 20, useDepth = true)) == framedFull)
      assert(rows(es.queryIndexedBatchDF("c", probesDf, k = 5, nprobe = 4,
        shortlist = 8, useDepth = true)) == framedBounded)
      // duplicate probe ids refuse on the dispatch lane (driver-side guard,
      // same message contract as the in-frame refusal)
      val eDup = intercept[Exception](
        es.queryIndexedBatchDF("c", probesDf.unionByName(probesDf.limit(1)),
          k = 5, nprobe = 4, shortlist = 1 << 20).count())
      assert(eDup.getMessage.contains("duplicate probe_id"))
      // an empty panel serves the empty frame (the Seq twin refuses empty —
      // the dispatch must leave it on the frame lane)
      assert(es.queryIndexedBatchDF("c", probesDf.filter(lit(false)),
        k = 5, nprobe = 4).count() == 0)
    }
  }

  test("EncryptedStore.queryIndexedBatchDF picks its shortlist regime on the RECOVERED tree after a crashed commit") {
    val key = "0123456789abcdef"
    def encRows(df: org.apache.spark.sql.DataFrame) =
      df.select(concat(lit("id"), col("id")).as("id"),
        concat(lit("d"), col("id")).as("doc"), col("emb"))
    // the live generation: 8 physical rows
    val base = graft.store.Scratch.dir("graft_pd_encrec")
    val es = new graft.store.EncryptedStore(spark, base, key)
    es.storeIndexed(encRows(emb.filter(col("id") <= 8)), "c", numCells = 2)
    // a rebuild over 300 rows crashed after its marker landed, before any
    // swap: every output fully staged beside its dest, nothing published
    val next = graft.store.Scratch.dir("graft_pd_encrec_next")
    new graft.store.EncryptedStore(spark, next, key)
      .storeIndexed(encRows(emb.filter(col("id") <= 300)), "c", numCells = 6)
    val dests = Seq("__enc_centroids/c", "__enc_sq8/c", "__enc_radii/c", "c")
    dests.foreach { d =>
      assert(new java.io.File(s"$next/$d").renameTo(new java.io.File(s"$base/${d}__stage")))
    }
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$base/__enc_commit_c"),
      dests.map(d => s"$base/${d}__stage\t$base/$d").mkString("\n").getBytes("UTF-8"))
    // k = shortlist = 8: the pre-recovery tree's 8 footer rows fit the
    // shortlist (the exact twin's regime), the recovered 300 do not (the
    // quantized twin's)
    val (k, shortlist, nprobe) = (8, 8, 6)
    val panel = Seq(3L, 17L, 101L, 150L, 222L, 280L).map { pid =>
      pid -> emb.filter(col("id") === pid).head().getSeq[Float](1).toArray
    }
    val probesDf = spark.createDataFrame(panel.map { case (pid, qe) => (pid, qe.toSeq) })
      .toDF("probe_id", "qe")
    val served = withDispatch(rows(es.queryIndexedBatchDF("c", probesDf,
      k = k, nprobe = nprobe, shortlist = shortlist)))
    val quantized = rows(es.queryIndexedBatchQuantized("c", panel, k = k,
      nprobe = nprobe, shortlist = shortlist))
    val exact = rows(es.queryIndexedBatch("c", panel, k = k, nprobe = nprobe))
    assert(quantized != exact,
      "fixture sanity: the two regimes must answer differently at this shortlist")
    assert(served == quantized,
      "the regime must be picked on the recovered 300-row tree, not the " +
        "pre-recovery 8-row one")
  }

  test("EncryptedGraph.queryBatchDF dispatches small panels to the driver walk — identical answers, docs included") {
    val bucketOf = (off: Int) => (e: org.apache.spark.sql.Column) =>
      (0 until 6).map { p =>
        when(VF.dot(e, typedlit(graft.queries.AnnQueries.plane(off + p))) >= 0,
          lit(1L << p)).otherwise(lit(0L))
      }.reduce(_ + _)
    val eg = new graft.store.EncryptedGraph(spark,
      graft.store.Scratch.dir("graft_pd_eg"),
      "0123456789abcdef")
    eg.build(emb.withColumn("doc", concat(lit("d"), col("id"))),
      k = 4, Seq(bucketOf(0), bucketOf(200)), refineRounds = 0)
    val probesDf = emb.filter(col("id").isin(10L, 20L))
      .select(col("id").as("probe_id"), col("emb").as("qe"))
    val framed = rows(eg.queryBatchDF(probesDf, topK = 5, beamWidth = 4,
      hops = 3, entries = Seq(1L, 2L), includeDoc = true))
    withDispatch {
      assert(rows(eg.queryBatchDF(probesDf, 5, 4, hops = 3,
        entries = Seq(1L, 2L), includeDoc = true)) == framed)
    }
  }
}
