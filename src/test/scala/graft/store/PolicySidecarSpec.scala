package graft.store

import graft.SparkTest
import graft.functions.{VectorFunctions => VF}
import graft.store.IvfIndex.{PolicyAbsent, PolicyFresh}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/**
 * The one persisted-policy fence ([[PolicySidecar]]) behind IvfIndex and
 * EncryptedStore depths and GraphIndex and EncryptedGraph beams: the
 * on-disk layout a reopened index must keep reading, the fence cases the
 * per-index specs leave open, the single `meta` read of a fresh
 * self-healing read, and the recall rounding every sweep shares.
 */
class PolicySidecarSpec extends AnyFunSuite with SparkTest {

  private val Key = "0123456789abcdef"
  private val k = 3
  private val ladder = Seq(2, 4, 8)
  private val hops = 6
  /** A fixed 3-probe panel, independent of any fixture data. */
  private val panel: Seq[(Long, Array[Float])] = (1L to 3L).map(pid =>
    pid -> Array.tabulate(64)(j => ((pid * 37 + j * 11) % 101).toFloat / 101f))

  private def bucketOf(off: Int)(e: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    (0 until 6).map { p =>
      when(VF.dot(e, typedlit(graft.queries.AnnQueries.plane(off + p))) >= 0, lit(1L << p))
        .otherwise(lit(0L))
    }.reduce(_ + _)
  private def bucketFns = Seq(bucketOf(0) _, bucketOf(200) _)

  private lazy val corpus = spark.read.parquet(s"$sf0001/embeddings.parquet")
    .filter(col("vec_id") <= 120)
    .select(col("vec_id").as("id"), concat(lit("doc "), col("vec_id")).as("doc"),
      col("embedding").as("emb"))
    .persist()

  private lazy val ivf = {
    val i = new IvfIndex(spark, Scratch.dir("graft_ps_ivf"), 4)
    i.build(corpus.select("id", "emb"))
    i
  }
  private lazy val encBase = Scratch.dir("graft_ps_enc")
  private lazy val enc = {
    val e = new EncryptedStore(spark, encBase, Key)
    e.storeIndexed(corpus, "c", numCells = 4)
    e
  }
  private lazy val graph = {
    val g = new GraphIndex(spark, Scratch.dir("graft_ps_g"), 4, bucketFns)
    g.build(corpus.select("id", "emb"), refineRounds = 1)
    g
  }
  private lazy val encGraph = {
    val g = new EncryptedGraph(spark, Scratch.dir("graft_ps_eg"), Key)
    g.build(corpus, k = 4, bucketFns, refineRounds = 1)
    g
  }

  test("on-disk layout: each sidecar keeps its path, parquet schema and persisted panel fingerprint") {
    ivf.persistDepthPolicy(panel, k)
    enc.persistDepthPolicy("c", panel, k)
    graph.persistBeamPolicy(panel, k, ladder, hops)
    encGraph.persistBeamPolicy(panel, k, ladder, hops)
    def field(n: String, t: DataType) = StructField(n, t, nullable = true)
    val depthMeta = StructType(Seq(field("k", IntegerType), field("panel_fp", LongType),
      field("data_fp", StringType)))
    val beamMeta = StructType(Seq(field("panel_fp", LongType), field("data_fp", StringType)))
    val beamRows = StructType(Seq(field("pid", LongType), field("beam", IntegerType)))
    // fingerprints of `panel` as the layout has always persisted them:
    // seed k = 3 for depths; seed (k = 3, hops = 6, ladder 2/4/8) for beams
    val depthFp = -164533002531565677L
    val beamFp = 5179315652181777527L
    val depthMetaFile = "message spark_schema { required int32 k; required int64 " +
      "panel_fp; optional binary data_fp (STRING); }"
    val beamMetaFile = "message spark_schema { required int64 panel_fp; optional " +
      "binary data_fp (STRING); }"
    val beamRowsFile = "message spark_schema { required int64 pid; required int32 beam; }"
    Seq(
      (s"${ivf.path}/_depths", StructType(Seq(field("pid", LongType), field("depth", IntegerType))),
        "message spark_schema { required int64 pid; required int32 depth; }",
        depthMeta, depthMetaFile, depthFp),
      (s"$encBase/__enc_depths/c", StructType(Seq(field("pid", LongType), field("depth_ct", BinaryType))),
        "message spark_schema { required int64 pid; optional binary depth_ct; }",
        depthMeta, depthMetaFile, depthFp),
      (s"${graph.path}/_beams", beamRows, beamRowsFile, beamMeta, beamMetaFile, beamFp),
      (s"${encGraph.path}/_beams", beamRows, beamRowsFile, beamMeta, beamMetaFile, beamFp)
    ).foreach { case (dir, rows, rowsFile, meta, metaFile, fp) =>
      Seq(("rows", rows, rowsFile), ("meta", meta, metaFile)).foreach { case (part, schema, file) =>
        assert(spark.read.parquet(s"$dir/$part").schema == schema, s"$dir/$part")
        val parts = new java.io.File(s"$dir/$part").listFiles().filter(_.getName.endsWith(".parquet"))
        assert(parts.length == 1, s"$dir/$part")
        val rd = org.apache.parquet.hadoop.ParquetFileReader.open(
          org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
            new org.apache.hadoop.fs.Path(parts.head.getPath),
            new org.apache.hadoop.conf.Configuration()))
        try assert(rd.getFooter.getFileMetaData.getSchema.toString
          .replaceAll("\\s+", " ").trim == file, s"$dir/$part")
        finally rd.close()
      }
      assert(spark.read.parquet(s"$dir/meta").select("panel_fp").head().getLong(0) == fp, dir)
    }
    assert(PolicySidecar.panelFp(panel, k) == depthFp)
    assert(PolicySidecar.panelFp(panel, GraphWalk.beamSeed(k, ladder, hops)) == beamFp)
  }

  test("fence: probe order is not identity; float bits, the ladder, hops and k are") {
    val moved = panel.updated(1, (panel(1)._1, panel(1)._2.updated(5, panel(1)._2(5) + 1e-6f)))
    ivf.persistDepthPolicy(panel, k)
    assert(ivf.depthPolicyStatus(panel.reverse, k) == PolicyFresh)
    assert(ivf.depthPolicy(panel.reverse, k) == ivf.depthPolicy(panel, k))
    assert(ivf.depthPolicyStatus(moved, k) == PolicyAbsent)
    val eIvf = intercept[RuntimeException](ivf.depthPolicy(moved, k))
    assert(eIvf.getMessage.contains("persistDepthPolicy() first"), eIvf.getMessage)
    enc.persistDepthPolicy("c", panel, k)
    assert(enc.depthPolicyStatus("c", panel.reverse, k) == PolicyFresh)
    assert(enc.depthPolicyStatus("c", moved, k) == PolicyAbsent)
    graph.persistBeamPolicy(panel, k, ladder, hops)
    assert(graph.beamPolicyStatus(panel.reverse, k, ladder.reverse, hops) == PolicyFresh,
      "the ladder is a set of rungs: its order is not identity")
    assert(graph.beamPolicyStatus(panel, k, ladder :+ 16, hops) == PolicyAbsent)
    assert(graph.beamPolicyStatus(panel, k + 1, ladder, hops) == PolicyAbsent)
    val eGraph = intercept[RuntimeException](graph.beamPolicy(panel, k + 1, ladder, hops))
    assert(eGraph.getMessage.contains("persistBeamPolicy() first"), eGraph.getMessage)
    encGraph.persistBeamPolicy(panel, k, ladder, hops)
    assert(encGraph.beamPolicyStatus(panel, k, ladder, hops + 1) == PolicyAbsent)
    assert(encGraph.beamPolicyStatus(panel, k, ladder.take(2), hops) == PolicyAbsent)
    assert(encGraph.beamPolicyStatus(moved, k, ladder, hops) == PolicyAbsent)
  }

  test("a fresh IvfIndex.depthPolicyOrRecalibrate reads meta once: 2 Spark jobs") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
    val persisted = ivf.persistDepthPolicy(panel, k)
    val sc = spark.sparkContext
    val group = "PolicySidecarSpec-job-count"
    val ended = new java.util.concurrent.ConcurrentHashMap[Int, java.lang.Boolean]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == group))
          ended.put(e.jobId, false)
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        ended.computeIfPresent(e.jobId, (_, _) => true)
    }
    // listener events arrive asynchronously: wait until every job seen has
    // ended and no new one has started for 300 ms, bounded at 10 s
    def drain(): Unit = {
      val deadline = System.nanoTime() + 10000000000L
      var quietSince = System.nanoTime()
      var lastSeen = -1
      while (System.nanoTime() < deadline &&
        (ended.containsValue(false) || System.nanoTime() - quietSince < 300000000L)) {
        if (ended.size != lastSeen) { lastSeen = ended.size; quietSince = System.nanoTime() }
        Thread.sleep(50)
      }
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "PolicySidecarSpec job count", interruptOnCancel = false)
      val got = try ivf.depthPolicyOrRecalibrate(panel, k) finally sc.clearJobGroup()
      drain()
      assert(got == persisted)
      // one meta head and one rows collect: both read with the writer's
      // schema, so neither runs a schema-inference job
      assert(ended.size == 2)
    } finally sc.removeSparkListener(listener)
  }

  test("sweep recall rounds exactly like Spark's round at every hit count of 64- and 32-probe panels") {
    Seq(64, 32).foreach { probes =>
      val kk = 10
      val viaSpark = spark.range(0, probes * kk + 1)
        .select(col("id"), round(col("id") / (probes * kk).toDouble, 4))
        .collect().map(r => r.getLong(0) -> r.getDouble(1))
      assert(viaSpark.length == probes * kk + 1)
      viaSpark.foreach { case (hits, want) =>
        assert(PolicySidecar.recall(hits, probes, kk) == want, s"$hits/${probes * kk}")
      }
    }
    // the exact binary value of 12/640 lies just below 0.01875, so rounding
    // it instead of its decimal string gives 0.0187
    assert(PolicySidecar.recall(12, 64, 10) == 0.0188)
  }
}
