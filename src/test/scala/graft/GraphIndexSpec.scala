package graft

import graft.functions.{VectorFunctions => VF}
import graft.store.GraphIndex
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class GraphIndexSpec extends AnyFunSuite with SparkTest {

  private val K = 4

  private def bucketOf(off: Int)(e: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    (0 until 6).map { p =>
      when(VF.dot(e, typedlit(graft.queries.AnnQueries.plane(off + p))) >= 0, lit(1L << p))
        .otherwise(lit(0L))
    }.reduce(_ + _)

  private lazy val all = spark.read.parquet(s"$sf001/embeddings.parquet")
    .filter(col("vec_id") =!= 0)
    .select(col("vec_id").as("id"), col("embedding").as("emb"))
    .persist()

  private lazy val probe = spark.read.parquet(s"$sf001/embeddings.parquet")
    .filter(col("vec_id") === 0).head().getSeq[Float](1).toArray

  test("persisted graph answers like the in-memory build; shape invariants hold") {
    val idx = new GraphIndex(spark, graft.store.Scratch.dir("graft_gidx"),
      K, Seq(bucketOf(0) _, bucketOf(200) _))
    idx.build(all, refineRounds = 1)
    val g = idx.graph
    assert(g.filter(col("src") === col("dst")).count() == 0)
    assert(g.groupBy("src").count().agg(max("count")).head().getLong(0) <= K)
    val got = idx.query(probe, topK = 5, beamWidth = 4, hops = 6, entries = Seq(1L, 2L))
      .collect()
    assert(got.length == 5)
    assert(got.map(_.getDouble(1)).toSeq == got.map(_.getDouble(1)).sorted.toSeq)
  }

  test("build-time medoid entries beat hand-picked ids on clustered data") {
    // three well-separated clusters: shift dim 0 by 8*(id%3). Hand-picked
    // entries Seq(1,2) live in clusters 1 and 2; a probe in cluster 0 then
    // depends on cross-cluster edges, while the trained medoids (one per
    // cluster) start the walk next to every mode.
    val clustered = all.withColumn("emb",
      expr("transform(emb, (x, i) -> CASE WHEN i = 0 THEN x + CAST(8.0 * (id % 3) AS FLOAT) ELSE x END)"))
      .persist()
    val idx = new GraphIndex(spark, graft.store.Scratch.dir("graft_gidx_ep"),
      K, Seq(bucketOf(0) _, bucketOf(200) _), numEntries = 3)
    idx.build(clustered, refineRounds = 1)
    val eps = idx.entryPoints.collect()
    assert(eps.length == 3, s"expected one medoid per trained cell, got ${eps.length}")
    val epClusters = eps.map(_.getLong(1) % 3).toSet
    assert(epClusters.size == 3, s"medoids collapsed into clusters $epClusters")
    val probe = clustered.filter(col("id") === 3).head().getSeq[Float](1).toArray
    val brute = clustered.withColumn("d", VF.l2Sq(col("emb"), typedlit(probe)))
      .filter(col("id") =!= 3)
      .orderBy(asc("d"), asc("id")).limit(5).collect().map(_.getLong(0)).toSet
    def recallOf(entries: Seq[Long]): (Int, Double) = {
      val got = idx.query(probe, topK = 5, beamWidth = 4, hops = 5, entries = entries)
        .filter(col("id") =!= 3).collect()
      (got.count(r => brute.contains(r.getLong(0))), got.head.getDouble(1))
    }
    val (rAuto, bestAuto) = recallOf(Seq.empty) // default: trained medoids
    val (rHand, bestHand) = recallOf(Seq(1L, 2L))
    info(f"recall@5 auto=$rAuto hand=$rHand; best dist auto=$bestAuto%.4f hand=$bestHand%.4f")
    assert(rAuto >= rHand, s"medoid entries ($rAuto) must not lose to magic ids ($rHand)")
    assert(bestAuto <= bestHand + 1e-12, "auto entries must navigate at least as close")
    clustered.unpersist(): Unit
  }

  private lazy val sharedIdx: GraphIndex = {
    val idx = new GraphIndex(spark, graft.store.Scratch.dir("graft_gidx_sh"),
      K, Seq(bucketOf(0) _, bucketOf(200) _), numEntries = 3)
    idx.build(all, refineRounds = 1)
    idx
  }

  test("queryBatch matches per-probe query results exactly") {
    val probes = Seq(10L, 20L, 30L).map { pid =>
      pid -> all.filter(col("id") === pid).head().getSeq[Float](1).toArray
    }
    val batch = sharedIdx.queryBatch(probes, topK = 5, beamWidth = 4, hops = 4)
      .collect().groupBy(_.getLong(0))
    probes.foreach { case (pid, qe) =>
      val single = sharedIdx.query(qe, topK = 5, beamWidth = 4, hops = 4)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      val fromBatch = batch(pid).sortBy(_.getInt(3))
        .map(r => (r.getLong(1), r.getDouble(2))).toSeq
      assert(fromBatch == single, s"probe $pid: batch $fromBatch != single $single")
    }
  }

  test("queryBatchDF: the frontier-as-frames walk equals the driver walk probe for probe — beam column opt-in, where, guards") {
    val probes = Seq(10L, 20L, 30L, 40L).map { pid =>
      (pid + 7000L) -> all.filter(col("id") === pid).head().getSeq[Float](1).toArray
    }
    val beamOf = Map(probes(0)._1 -> 2, probes(2)._1 -> 8)
    val probesDf = spark.createDataFrame(probes.map { case (pid, qe) =>
      (pid, qe.toSeq, beamOf.get(pid)) }).toDF("probe_id", "qe", "beam")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
        .toSeq.sortBy(t => (t._1, t._4))
    for (bw <- Seq(2, 4); hops <- Seq(1, 4)) {
      assert(rows(sharedIdx.queryBatchDF(probesDf, topK = 5, beamWidth = bw,
          hops = hops, useBeam = true)) ==
        rows(sharedIdx.queryBatch(probes, topK = 5, beamWidth = bw,
          hops = hops, beamOf = beamOf)),
        s"bw=$bw hops=$hops: the frame walk must serve the driver walk's " +
          "exact answers at the frame's own beam column")
    }
    // beam policy is an explicit opt-in: a stray beam column is ignored
    assert(rows(sharedIdx.queryBatchDF(probesDf, 5, 4, hops = 4)) ==
      rows(sharedIdx.queryBatch(probes, 5, 4, hops = 4)),
      "a beam column without useBeam must not change walk widths")
    // where restricts the ANSWER SET identically on both walks
    val pred = col("id") % 2 === 0
    assert(rows(sharedIdx.queryBatchDF(probesDf, 5, 4, hops = 4,
        where = Some(pred), useBeam = true)) ==
      rows(sharedIdx.queryBatch(probes, 5, 4, hops = 4,
        where = Some(pred), beamOf = beamOf)))
    // guards: non-integral beam column and duplicate probe ids refuse loudly
    val eBeam = intercept[IllegalArgumentException](
      sharedIdx.queryBatchDF(probesDf.withColumn("beam", lit("wide")), 5, 4,
        hops = 2, useBeam = true).count())
    assert(eBeam.getMessage.contains("integral"))
    val eDup = intercept[IllegalArgumentException](
      sharedIdx.queryBatchDF(probesDf.unionByName(probesDf.limit(1)), 5, 4,
        hops = 2).count())
    assert(eDup.getMessage.contains("duplicate probe_id"))
    // an empty probe frame answers empty, never an NPE
    assert(sharedIdx.queryBatchDF(probesDf.filter(lit(false)), 5, 4, hops = 2)
      .count() == 0)
  }

  test("beam policy sidecar: reopen serves the committed widths with zero calibration; any graph commit sweeps it stale; self-healing is loud") {
    val base = graft.store.Scratch.dir("graft_gidx_bp")
    val small = all.filter(col("id") <= 350).persist()
    val idx = new GraphIndex(spark, base, 10,
      Seq(bucketOf(0) _, bucketOf(200) _), numEntries = 8)
    idx.build(small, refineRounds = 2)
    val k = 3
    val ladder = Seq(2, 4, 8, 16, 32)
    val panel = Seq(10L, 25L, 40L).map { pid =>
      (pid + 9000L, small.filter(col("id") === pid).head().getSeq[Float](1).toArray)
    }
    assert(idx.beamPolicyStatus(panel, k, ladder, hops = 8) ==
      graft.store.IvfIndex.PolicyAbsent)
    intercept[RuntimeException](idx.beamPolicy(panel, k, ladder, hops = 8))
    val persisted = idx.persistBeamPolicy(panel, k, ladder, hops = 8)
    assert(persisted == idx.exactBeams(panel, k, ladder, hops = 8),
      "the persisted policy IS exactBeams' measurement")
    // a REOPENED handle (a fresh server process) reads the committed map
    // through the fence — no calibration jobs
    val idx2 = new GraphIndex(spark, base, 10,
      Seq(bucketOf(0) _, bucketOf(200) _), numEntries = 8)
    assert(idx2.beamPolicyStatus(panel, k, ladder, hops = 8) ==
      graft.store.IvfIndex.PolicyFresh)
    assert(idx2.beamPolicy(panel, k, ladder, hops = 8) == persisted)
    // a DIFFERENT panel / knob set is not this policy at all
    assert(idx2.beamPolicyStatus(panel.take(2), k, ladder, hops = 8) ==
      graft.store.IvfIndex.PolicyAbsent)
    assert(idx2.beamPolicyStatus(panel, k, ladder, hops = 6) ==
      graft.store.IvfIndex.PolicyAbsent)
    // ANY graph-changing commit sweeps the policy stale — widths measured
    // on the old graph carry no recall evidence on the new one
    idx2.insert(all.filter(col("id") > 350 && col("id") <= 360))
    assert(idx2.beamPolicyStatus(panel, k, ladder, hops = 8) ==
      graft.store.IvfIndex.PolicyStale)
    val eStale = intercept[RuntimeException](idx2.beamPolicy(panel, k, ladder, hops = 8))
    assert(eStale.getMessage.contains("STALE"))
    // self-healing recalibrates ON THE CURRENT GRAPH and re-persists
    val healed = idx2.beamPolicyOrRecalibrate(panel, k, ladder, hops = 8)
    assert(healed == idx2.exactBeams(panel, k, ladder, hops = 8))
    assert(idx2.beamPolicyStatus(panel, k, ladder, hops = 8) ==
      graft.store.IvfIndex.PolicyFresh)
    // the healed policy serves: batched answers at the committed widths
    // equal each probe's solo walk at ITS width
    val cold = idx2.queryBatch(panel, k, beamWidth = 2, hops = 8, beamOf = healed)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
      .toSeq.sortBy(t => (t._1, t._4))
    panel.foreach { case (pid, pe) =>
      val solo = idx2.query(pe, k, beamWidth = healed(pid), hops = 8)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      assert(cold.filter(_._1 == pid).map(t => (t._2, t._3)) == solo)
    }
    // the committed policy RIDES THE FRAME too (the IVF depth-column
    // discipline): beamPolicy -> beam column -> the frontier walk serves
    // the driver walk's exact per-probe answers
    val probesDf = spark.createDataFrame(panel.map { case (pid, qe) =>
      (pid, qe.toSeq, healed(pid)) }).toDF("probe_id", "qe", "beam")
    val framed = idx2.queryBatchDF(probesDf, k, beamWidth = 2, hops = 8,
        useBeam = true)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
      .toSeq.sortBy(t => (t._1, t._4))
    assert(framed == cold,
      "the persisted beam policy routed through the frame must serve the " +
        "driver-map answers")
    small.unpersist(): Unit
  }

  test("per-probe beam policy: exactBeams serves each assigned probe's exact top-k; hot == cold at per-probe widths") {
    // the beam-calibration fixture shape (small, denser-relative graph):
    // on the FULL sf001 corpus a K=4 graph legitimately tops out below
    // recall 1.0 — exactBeams is a MEASURED policy, and the spec keeps
    // that honesty: probes assigned a rung serve exactly; probes on the
    // ladder.max fallback were reported loudly, not asserted away
    val small = all.filter(col("id") <= 400).persist()
    val idx = new GraphIndex(spark,
      graft.store.Scratch.dir("graft_gidx_pb"),
      10, Seq(bucketOf(0) _, bucketOf(200) _), numEntries = 8)
    idx.build(small, refineRounds = 2)
    val k = 3
    val ladder = Seq(2, 4, 8, 16, 32)
    val panel = Seq(10L, 25L, 40L, 55L, 70L).map { pid =>
      (pid + 9000L, small.filter(col("id") === pid).head().getSeq[Float](1).toArray)
    }
    val beams = idx.exactBeams(panel, k, ladder, hops = 8)
    assert(beams.keySet == panel.map(_._1).toSet)
    assert(beams.values.forall(ladder.contains))
    val served = idx.queryBatch(panel, k, beamWidth = 2, hops = 8,
        beamOf = beams)
      .collect().groupBy(_.getLong(0))
      .map { case (pid, rs) => pid -> rs.sortBy(_.getInt(3)).map(_.getLong(1)).toSet }
    // a probe the walk CAN fully recall somewhere on the ladder serves
    // its exact top-k at its assigned width; whether the fallback probes
    // (if any) are short is re-measured, never assumed either way
    val fullyServed = panel.filter { case (pid, pe) =>
      val exact = small.withColumn("d", VF.l2Sq(col("emb"), typedlit(pe)))
        .orderBy(asc("d"), asc("id")).limit(k).collect().map(_.getLong(0)).toSet
      val widest = idx.query(pe, k, beamWidth = ladder.max, hops = 8)
        .collect().map(_.getLong(0)).toSet
      if (widest == exact) {
        assert(served(pid) == exact,
          s"probe $pid: top-$k at beam ${beams(pid)} must BE the exact top-$k")
        true
      } else {
        assert(beams(pid) == ladder.max,
          s"probe $pid unreachable even at the widest rung must carry ladder.max")
        false
      }
    }
    assert(fullyServed.nonEmpty,
      "fixture sanity: at least one probe must be fully servable")
    // hot == cold at the same per-probe widths, row for row — the policy
    // surface is identical on both tiers
    val cold = idx.queryBatch(panel, k, beamWidth = 2, hops = 8,
        beamOf = beams)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
      .toSeq.sortBy(t => (t._1, t._4))
    val hot = panel.flatMap { case (pid, pe) =>
      idx.hotQuery(pe, k, beams.getOrElse(pid, 2), 8).zipWithIndex.map {
        case ((id, d), i) => (pid, id, d, i + 1)
      }
    }
    assert(hot == cold,
      "hotQuery at each probe's beamOf width must equal queryBatch(beamOf)")
    // per-probe widths really are per-probe: each probe's batched answer
    // equals its SOLO walk at ITS width (not at the fallback)
    panel.foreach { case (pid, pe) =>
      val solo = idx.query(pe, k, beamWidth = beams(pid), hops = 8)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      val fromBatch = cold.filter(_._1 == pid).map(t => (t._2, t._3))
      assert(fromBatch == solo,
        s"probe $pid: batched walk at width ${beams(pid)} must equal the solo walk")
    }
    small.unpersist(): Unit
  }

  test("metadata-filtered query: predicate reaches the vector scan; answers restricted") {
    val withMeta = all.withColumn("meta",
      when(col("id") % 2 === 0, lit("even")).otherwise(lit("odd")))
    val idx = new GraphIndex(spark, graft.store.Scratch.dir("graft_gidx_f"),
      K, Seq(bucketOf(0) _, bucketOf(200) _), numEntries = 3)
    idx.build(withMeta, refineRounds = 0)
    val pred = col("meta") === "even"
    // the eligibility fetch pushes BOTH the metadata predicate and the
    // candidate-id In filter into the parquet scan
    val plan = idx.candidateScan(Seq(2L, 4L, 6L), pred)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") && plan.contains("meta"),
      s"metadata filter did not reach the vector scan:\n$plan")
    assert(plan.contains("In(id"), s"candidate In-filter not pushed:\n$plan")
    val got = idx.query(probe, topK = 5, beamWidth = 4, hops = 6, where = Some(pred)).collect()
    assert(got.nonEmpty && got.forall(_.getLong(0) % 2 == 0), "filtered answers must match the predicate")
    // the filter restricts the ANSWER SET of the same walk, not the traversal
    val unfiltered = idx.query(probe, topK = 100, beamWidth = 4, hops = 6).collect()
      .filter(_.getLong(0) % 2 == 0).take(5).map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(got.map(r => (r.getLong(0), r.getDouble(1))).toSeq == unfiltered,
      "filtered top-k must equal the post-filtered unfiltered walk")
  }

  test("an insert interrupted between its two swaps is finished at next open") {
    val dir = graft.store.Scratch.dir("graft_gidx_rec")
    val idx = new GraphIndex(spark, dir, K, Seq(bucketOf(0) _, bucketOf(200) _))
    idx.build(all.filter(col("id") <= 100), refineRounds = 0)
    val nBefore = idx.vectors.count()
    // simulate a crash mid-commitStaged: both delta stage dirs fully
    // written (OUTSIDE the partitioned trees, as insert stages them), the
    // marker recorded, but neither rename performed
    val extra = all.filter(col("id") === 400L)
    extra.write.mode("overwrite").parquet(s"$dir/__stage_vectors_1")
    // a delta that rewires src=2 down to a single edge — resolution must
    // prefer it over epoch 0's full edge set
    idx.graph.filter(col("src") === 2).limit(1)
      .write.mode("overwrite").parquet(s"$dir/__stage_graph_1")
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/_commit"),
      (s"$dir/__stage_vectors_1\t$dir/vectors/epoch=1\n" +
       s"$dir/__stage_graph_1\t$dir/graph/epoch=1").getBytes("UTF-8"))
    val reopened = new GraphIndex(spark, dir, K, Seq(bucketOf(0) _, bucketOf(200) _))
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(s"$dir/_commit")),
      "marker must clear after recovery")
    assert(reopened.vectors.count() == nBefore + 1,
      "staged vector delta must have swapped in")
    assert(reopened.vectors.filter(col("id") === 400L).count() == 1)
    assert(reopened.graph.filter(col("src") === 2).count() == 1,
      "src=2 must resolve to the recovered epoch-1 rewrite, not epoch 0")
  }

  test("insert publishes a batch-bounded delta; untouched epoch-0 files never rewrite") {
    val dir = graft.store.Scratch.dir("graft_gidx_delta")
    val idx = new GraphIndex(spark, dir, K, Seq(bucketOf(0) _, bucketOf(200) _))
    idx.build(all.filter(col("id") <= 300), refineRounds = 0)
    def fileSig(sub: String): Set[(String, Long)] = {
      val d = new java.io.File(s"$dir/$sub")
      d.listFiles().filter(_.getName.endsWith(".parquet"))
        .map(f => (f.getName, f.lastModified())).toSet
    }
    val vSig = fileSig("vectors/epoch=0")
    val gSig = fileSig("graph/epoch=0")
    idx.insert(all.filter(col("id") > 300 && col("id") <= 330))
    assert(fileSig("vectors/epoch=0") == vSig && fileSig("graph/epoch=0") == gSig,
      "insert must not rewrite the existing epoch")
    def epochDirs(sub: String): Set[String] =
      new java.io.File(s"$dir/$sub").listFiles()
        .filter(_.isDirectory).map(_.getName).toSet
    assert(epochDirs("vectors") == Set("epoch=0", "epoch=1"))
    assert(epochDirs("graph") == Set("epoch=0", "epoch=1"))
    // the delta's edge rows cover only batch-reachable srcs: |batch ∪
    // proposal targets| · k is the hard ceiling, far under a full rewrite
    val deltaRows = spark.read.parquet(s"$dir/graph/epoch=1").count()
    val fullRows = idx.graph.count()
    assert(deltaRows < fullRows,
      s"delta ($deltaRows edge rows) should be smaller than the graph ($fullRows)")
    // resolution: per-src edge sets still capped at K with no self-loops
    val g = idx.graph
    assert(g.groupBy("src").count().agg(max("count")).head().getLong(0) <= K)
    assert(g.filter(col("src") === col("dst")).count() == 0)
  }

  test("insert wires new nodes from the serving beam walk plus intra-batch candidates") {
    import org.apache.spark.sql.expressions.Window
    val dir = graft.store.Scratch.dir("graft_gidx_walk")
    val fns = Seq(bucketOf(0) _, bucketOf(200) _)
    val idx = new GraphIndex(spark, dir, K, fns)
    idx.build(all.filter(col("id") <= 100), refineRounds = 0)
    val batch = all.filter(col("id") > 100 && col("id") <= 110)
      .select(col("id"), col("emb"))
    // expected out-edges: EXACTLY the insert's candidate formula — the
    // pre-insert beam walk ∪ intra-batch LSH candidates ∪ the reverse of
    // the intra edges (the proposal pass re-offers them), best K by
    // (dist, dst). This pins insert to the corpus-flat serving path: a
    // corpus-scan formulation would find candidates the walk cannot.
    val probes = batch.collect().map(r => (r.getLong(0), r.getSeq[Float](1).toArray)).toSeq
    val walk = idx.queryBatch(probes, K, beamWidth = 8, hops = 4)
      .select(col("probe_id").as("src"), col("id").as("dst"), col("dist"))
    val intra = graft.operators.KnnGraph.buildDirected(batch, batch, fns, K)
    val cands = walk.unionByName(intra)
      .unionByName(intra.select(col("dst").as("src"), col("src").as("dst"), col("dist")))
    val w = Window.partitionBy("src").orderBy(asc("dist"), asc("dst"))
    val expected = cands.groupBy("src", "dst").agg(min("dist").as("dist"))
      .withColumn("rn", row_number().over(w)).filter(col("rn") <= K)
      .select("src", "dst").collect().map(r => (r.getLong(0), r.getLong(1))).toSet

    idx.insert(batch)
    val got = idx.graph
      .join(broadcast(batch.select(col("id").as("src"))), Seq("src"), "left_semi")
      .select("src", "dst").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == expected,
      s"new nodes' out-edges must come from the walk+intra candidate set\n" +
        s"unexpected: ${(got -- expected).take(5)}  missing: ${(expected -- got).take(5)}")
  }

  test("beam walk's src In-filter pushes below the epoch-resolution window") {
    val plan = sharedIdx.graph.filter(col("src").isin(1L, 2L, 3L))
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") && plan.contains("In(src"),
      s"src In-filter did not reach the graph scan beneath the window:\n$plan")
  }

  test("a bare (id, emb) batch inserts into a metadata-bearing index as NULL metadata") {
    val withMeta = all.withColumn("meta",
      when(col("id") % 2 === 0, lit("even")).otherwise(lit("odd")))
    val idx = new GraphIndex(spark, graft.store.Scratch.dir("graft_gidx_nm"),
      K, Seq(bucketOf(0) _, bucketOf(200) _), numEntries = 2)
    idx.build(withMeta.filter(col("id") <= 300), refineRounds = 0)
    // the streaming maintenance path produces exactly this shape
    idx.insert(all.filter(col("id") > 300 && col("id") <= 320).select("id", "emb"))
    val v = idx.vectors
    assert(v.filter(col("id") > 300).count() > 0)
    assert(v.filter(col("id") > 300).filter(col("meta").isNotNull).count() == 0,
      "absent metadata must land as NULL, not crash the insert")
    assert(v.filter(col("id") <= 300 && col("meta").isNull).count() == 0,
      "existing metadata must survive")
    // unknown batch columns are a caller bug, rejected loudly
    intercept[IllegalArgumentException] {
      idx.insert(all.limit(1).withColumn("bogus", lit(1)))
    }
  }

  test("compact folds every epoch into one; answers unchanged") {
    val dir = graft.store.Scratch.dir("graft_gidx_cpt")
    val idx = new GraphIndex(spark, dir, K, Seq(bucketOf(0) _, bucketOf(200) _),
      numEntries = 3)
    idx.build(all.filter(col("id") % 2 === 0), refineRounds = 0)
    idx.insert(all.filter(col("id") % 4 === 1))
    idx.insert(all.filter(col("id") % 4 === 3))
    val before = idx.query(probe, topK = 5, beamWidth = 4, hops = 6)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val gBefore = idx.graph.collect().map(_.toSeq).toSet
    idx.compact()
    def epochDirs(sub: String): Set[String] =
      new java.io.File(s"$dir/$sub").listFiles()
        .filter(_.isDirectory).map(_.getName).toSet
    assert(epochDirs("vectors") == Set("epoch=0"), "vector epochs must fold")
    assert(epochDirs("graph") == Set("epoch=0"), "graph epochs must fold")
    assert(idx.graph.collect().map(_.toSeq).toSet == gBefore,
      "compaction must preserve the resolved edge set exactly")
    val after = idx.query(probe, topK = 5, beamWidth = 4, hops = 6)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(after == before, "compaction must not change answers")
    // retraining entries at compaction: medoids re-fit over the FULL
    // corpus (build saw only half), stay valid ids, and serving still works
    val entBefore = idx.entryPoints.collect().map(_.getLong(1)).toSet
    idx.compact(retrainEntries = true)
    val ents = idx.entryPoints.collect().map(_.getLong(1)).toSeq
    assert(ents.size == 3 && ents.distinct.size == 3)
    val ids = idx.vectors.select("id").collect().map(_.getLong(0)).toSet
    assert(ents.forall(ids.contains), "retrained entries must be real vector ids")
    val served = idx.query(probe, topK = 5, beamWidth = 4, hops = 6).collect()
    assert(served.length == 5, "serving must work from retrained entries")
    info(s"entries before=$entBefore after=${ents.toSet}")
  }

  test("incremental insert wires new nodes in both directions; answers track a rebuild") {
    val n = all.count()
    val half = all.filter(col("id") % 2 === 0)
    val rest = all.filter(col("id") % 2 =!= 0)
    val idx = new GraphIndex(spark, graft.store.Scratch.dir("graft_gidx_inc"),
      K, Seq(bucketOf(0) _, bucketOf(200) _))
    idx.build(half, refineRounds = 1)
    val (b1, b2) = (rest.filter(col("id") % 4 === 1), rest.filter(col("id") % 4 === 3))
    idx.insert(b1)
    idx.insert(b1) // at-least-once replay: already-indexed ids are skipped
    idx.insert(b2)
    assert(idx.vectors.count() == n,
      "all vectors present exactly once after inserts incl. a replayed batch")
    assert(idx.vectors.select("id").distinct().count() == n)
    val g = idx.graph.persist()
    // shape invariants survive incremental maintenance
    assert(g.filter(col("src") === col("dst")).count() == 0)
    assert(g.groupBy("src").count().agg(max("count")).head().getLong(0) <= K)
    // every inserted node has out-edges AND is reachable (some in-edge)
    val newIds = rest.select(col("id")).persist()
    val noOut = newIds.join(g.select(col("src").as("id")).distinct(), Seq("id"), "left_anti").count()
    val noIn = newIds.join(g.select(col("dst").as("id")).distinct(), Seq("id"), "left_anti").count()
    assert(noOut == 0, s"$noOut inserted nodes have no out-edges")
    assert(noIn < newIds.count() / 4,
      s"$noIn of ${newIds.count()} inserted nodes unreachable — reverse wiring failed")
    // query quality tracks a from-scratch rebuild on the full data
    val rebuilt = new GraphIndex(spark, graft.store.Scratch.dir("graft_gidx_rb"),
      K, Seq(bucketOf(0) _, bucketOf(200) _))
    rebuilt.build(all, refineRounds = 1)
    def best(ix: GraphIndex): Double =
      ix.query(probe, topK = 5, beamWidth = 4, hops = 6, entries = Seq(2L, 4L))
        .collect().head.getDouble(1)
    val (bInc, bRb) = (best(idx), best(rebuilt))
    info(f"beam best dist: incremental=$bInc%.4f rebuild=$bRb%.4f")
    assert(bInc <= bRb * 1.25,
      s"incrementally-maintained graph answers degraded: $bInc vs rebuild $bRb")
    // inserted nodes are FINDABLE: probing with an inserted vector's own
    // embedding from old-graph entries must navigate well below the
    // corpus-median distance (exact self-hit is not guaranteed by beam
    // search in a near-uniform space — navigation quality is the claim)
    val target = rest.orderBy("id").limit(1).head()
    val te = target.getSeq[Float](1).toArray
    val hit = idx.query(te, topK = 1, beamWidth = 4, hops = 8, entries = Seq(2L, 4L))
      .collect().head
    val median = all.withColumn("d", VF.l2Sq(col("emb"), typedlit(te)))
      .stat.approxQuantile("d", Array(0.5), 0.001).head
    info(f"probe-inserted-vector beam best=${hit.getDouble(1)}%.4f median=$median%.4f")
    assert(hit.getDouble(1) < median,
      s"beam should navigate below the median distance ${median}, got ${hit.getDouble(1)}")
  }

  private def withBudget[A](bytes: Long)(body: => A): A = {
    val prev = System.getProperty("graft.hot.maxBytes")
    System.setProperty("graft.hot.maxBytes", bytes.toString)
    try body
    finally {
      if (prev == null) System.clearProperty("graft.hot.maxBytes")
      else System.setProperty("graft.hot.maxBytes", prev)
    }
  }

  test("SQ8 quantized serving: full-depth == exact; hot == cold; admission counts code bytes") {
    def treeBytes(root: String): Long = {
      def walk(f: java.io.File): Long =
        if (f.isFile) f.length()
        else Option(f.listFiles()).getOrElse(Array.empty[java.io.File]).map(walk).sum
      walk(new java.io.File(root))
    }
    val small = all.filter(col("id") <= 300).persist()
    val n = small.count().toInt
    val base = graft.store.Scratch.dir("graft_gidx_q")
    val idx = new GraphIndex(spark, base, K,
      Seq(bucketOf(0) _, bucketOf(200) _), numEntries = 3)
    idx.build(small, refineRounds = 1)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    // FULL beam + full rerank: the walk visits every reachable node under
    // ANY metric, so the quantized path is bit-equal to the exact walk
    val exactFull = rows(idx.query(probe, topK = 5, beamWidth = n, hops = n))
    val quantFull = rows(idx.queryQuantized(probe, topK = 5, beamWidth = n,
      hops = n, rerank = n))
    assert(quantFull == exactFull,
      "full-beam + full-rerank quantized must be bit-equal to the exact walk")
    // hot == cold bit-for-bit at several serving depths (the hot-tier
    // discipline: same walk, same integer distances, same exact rerank)
    for ((bw, hp, rr) <- Seq((4, 3, 8), (8, 4, 16), (2, 6, 5))) {
      val cold = rows(idx.queryQuantized(probe, 5, bw, hp, rerank = rr))
      val hot = idx.hotQueryQuantized(probe, 5, bw, hp, rerank = rr)
      assert(hot.isDefined && hot.get == cold, s"bw=$bw hops=$hp rerank=$rr")
    }
    // recall at a serving depth vs brute force (recorded, not asserted —
    // SQ8 distortion at 64 dims is measured, not promised)
    val brute = small.withColumn("d", VF.l2Sq(col("emb"), typedlit(probe)))
      .orderBy(asc("d"), asc("id")).limit(5).collect().map(_.getLong(0)).toSet
    val served = rows(idx.queryQuantized(probe, 5, beamWidth = 8, hops = 6,
      rerank = 32)).map(_._1)
    val servedRaw = rows(idx.query(probe, 5, beamWidth = 8, hops = 6)).map(_._1)
    info(s"recall@5 at bw=8 hops=6: quantized=${served.count(brute)}/5 " +
      s"raw=${servedRaw.count(brute)}/5 (near-uniform fixture: the walk " +
      s"itself is the recall limit; quantization must not trail the raw walk far)")
    // ADMISSION COUNTS CODE BYTES: the spec pins the admission math
    // (codes + id/entry overhead + 8 B/edge) and places the budget INSIDE
    // the codes-fit window — above the code bytes, below the raw on-disk
    // tree a floats-resident tier needs
    val dim = probe.length
    val nEdges = idx.graph.count()
    val est = n.toLong * (dim + 48L) + nEdges * 8L
    val rawTree = treeBytes(s"$base/vectors") + treeBytes(s"$base/graph")
    assert(est < rawTree, s"the window must exist: est=$est rawTree=$rawTree")
    withBudget(est) {
      assert(idx.hotQueryQuantized(probe, 5, 4, 3, rerank = 8).isDefined,
        "codes fit exactly at the estimate: must serve hot")
    }
    withBudget(est - 1) {
      assert(idx.hotQueryQuantized(probe, 5, 4, 3, rerank = 8).isEmpty,
        "one byte under the code estimate: must refuse")
    }
    // mutation invalidation: a delete changes the publish key; the hot
    // tier reloads and stays bit-equal to cold, and the dead id is gone
    val dead = quantFull.head._1
    idx.delete(Seq(dead))
    val coldAfter = rows(idx.queryQuantized(probe, 5, 8, 4, rerank = 16))
    val hotAfter = idx.hotQueryQuantized(probe, 5, 8, 4, rerank = 16)
    assert(hotAfter.isDefined && hotAfter.get == coldAfter)
    assert(!coldAfter.exists(_._1 == dead), "a tombstoned id must stop serving")
    // a pre-codes index (no sidecar) refuses diagnosably
    val sidecar = new java.io.File(s"$base/_sq8")
    val stash = new java.io.File(s"$base/_sq8_stash")
    assert(sidecar.renameTo(stash))
    try {
      val ex = intercept[RuntimeException](
        idx.queryQuantized(probe, 5, 4, 3).collect())
      assert(ex.getMessage.contains("rebuild"), ex.getMessage)
      assert(idx.hotQueryQuantized(probe, 5, 4, 3).isEmpty,
        "the hot tier refuses (None) rather than inventing a quantizer")
    } finally { stash.renameTo(sidecar): Unit }
    small.unpersist(): Unit
  }

  test("PQ quantized serving: full-depth == exact; hot == cold; admission counts PQ code bytes") {
    // sized so the budget-window story is TRUE with the codebook tensor
    // counted: below ~1200 rows the pinned 64 KB of ADC codebooks
    // dominates the 56 B/row code saving and PQ does not undercut SQ8 at
    // all — exactly the regime the admission math must expose, so the
    // fixture unions four deterministically-shifted copies of the 500-row
    // corpus to sit on the far side of the crossover
    val small = (0 until 4).map { j =>
      all.select((col("id") + lit(j * 10000L)).as("id"),
        expr(s"transform(emb, (x, i) -> CASE WHEN i = $j THEN x + CAST(0.5 AS FLOAT) ELSE x END)").as("emb"))
    }.reduce(_ unionByName _).persist()
    val n = small.count().toInt
    val base = graft.store.Scratch.dir("graft_gidx_pq")
    val idx = new GraphIndex(spark, base, K,
      Seq(bucketOf(0) _, bucketOf(200) _), numEntries = 3)
    val pqM = 8
    idx.build(small, refineRounds = 1, codes = "pq", pqM = pqM)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    // FULL beam + full rerank: the walk visits every reachable node under
    // ANY metric, so the PQ path is bit-equal to the exact walk
    val exactFull = rows(idx.query(probe, topK = 5, beamWidth = n, hops = n))
    val pqFull = rows(idx.queryPq(probe, topK = 5, beamWidth = n,
      hops = n, rerank = n))
    assert(pqFull == exactFull,
      "full-beam + full-rerank PQ must be bit-equal to the exact walk")
    // the SQ8 sidecar coexists: the same build serves both quantized tiers
    assert(rows(idx.queryQuantized(probe, 5, n, n, rerank = n)) == exactFull,
      "a pq-built index keeps the SQ8 tier serving")
    // hot == cold bit-for-bit at several serving depths (same walk, same
    // driver-twin ADC doubles, same exact rerank)
    for ((bw, hp, rr) <- Seq((4, 3, 8), (8, 4, 16), (2, 6, 5))) {
      val cold = rows(idx.queryPq(probe, 5, bw, hp, rerank = rr))
      val hot = idx.hotQueryPq(probe, 5, bw, hp, rerank = rr)
      assert(hot.isDefined && hot.get == cold, s"bw=$bw hops=$hp rerank=$rr")
    }
    // recall at a serving depth vs brute force (recorded, not asserted)
    val brute = small.withColumn("d", VF.l2Sq(col("emb"), typedlit(probe)))
      .orderBy(asc("d"), asc("id")).limit(5).collect().map(_.getLong(0)).toSet
    val served = rows(idx.queryPq(probe, 5, beamWidth = 8, hops = 6,
      rerank = 32)).map(_._1)
    info(s"recall@5 at bw=8 hops=6 rerank=32: pq=${served.count(brute)}/5 " +
      s"(PQ at m=$pqM over 64 dims is the coarsest tier; the bounded " +
      s"exact rerank is what recovers precision)")
    // ADMISSION COUNTS PQ CODE BYTES + THE RESIDENT CODEBOOKS: pqM
    // bytes/vector plus the pinned m·PqK·subDim float tensor (the ADC
    // lookup source, ~64 KB at dim 64) — the budget window still sits
    // BELOW the SQ8 estimate at any corpus where the tier matters
    val dim = probe.length
    val nEdges = idx.graph.count()
    val bookBytes = 4L * pqM * GraphIndex.PqK * (dim / pqM)
    val est = n.toLong * (pqM + 48L) + nEdges * 8L + bookBytes
    val sq8Est = n.toLong * (dim + 48L) + nEdges * 8L
    assert(est < sq8Est, "the PQ window must undercut the SQ8 estimate")
    withBudget(est) {
      assert(idx.hotQueryPq(probe, 5, 4, 3, rerank = 8).isDefined,
        "codes fit exactly at the estimate: must serve hot")
      assert(idx.hotQueryQuantized(probe, 5, 4, 3, rerank = 8).isEmpty,
        "the same budget refuses the fatter SQ8 tier — more corpus " +
          "serves hot through PQ under one admission knob")
    }
    withBudget(est - 1) {
      assert(idx.hotQueryPq(probe, 5, 4, 3, rerank = 8).isEmpty,
        "one byte under the code estimate: must refuse")
    }
    // mutation invalidation: a delete flips the publish key; hot reloads
    // and stays bit-equal to cold, and the dead id is gone
    val dead = pqFull.head._1
    idx.delete(Seq(dead))
    val coldAfter = rows(idx.queryPq(probe, 5, 8, 4, rerank = 16))
    val hotAfter = idx.hotQueryPq(probe, 5, 8, 4, rerank = 16)
    assert(hotAfter.isDefined && hotAfter.get == coldAfter)
    assert(!coldAfter.exists(_._1 == dead), "a tombstoned id must stop serving")
    // an index without the _pq sidecar refuses diagnosably (and the
    // plain-SQ8 build is exactly such an index)
    val sidecar = new java.io.File(s"$base/_pq")
    val stash = new java.io.File(s"$base/_pq_stash")
    assert(sidecar.renameTo(stash))
    try {
      val ex = intercept[RuntimeException](
        idx.queryPq(probe, 5, 4, 3).collect())
      assert(ex.getMessage.contains("rebuild"), ex.getMessage)
      assert(idx.hotQueryPq(probe, 5, 4, 3).isEmpty,
        "the hot tier refuses (None) rather than inventing codebooks")
    } finally { stash.renameTo(sidecar): Unit }
    // a plain (sq8) REBUILD over the pq-built index SWEEPS the stale
    // codebooks in the same commit — serving the new corpus through
    // old-geometry codes would degrade recall with no error (the
    // IvfIndex rebuild contract: the rebuild's input defines the truth)
    idx.build(small, refineRounds = 0)
    assert(!new java.io.File(s"$base/_pq").exists(),
      "an sq8 rebuild must sweep the stale _pq sidecar")
    intercept[RuntimeException](idx.queryPq(probe, 5, 4, 3).collect())
    assert(idx.hotQueryPq(probe, 5, 4, 3).isEmpty)
    assert(rows(idx.queryQuantized(probe, 5, 4, 3)).nonEmpty,
      "the freshly trained SQ8 tier serves the rebuilt corpus")
    small.unpersist(): Unit
  }

  test("beam calibration: sweep equals an independent hot-walk replay; policy picks the smallest qualifying width; unreachable targets fail loudly") {
    val small = all.filter(col("id") <= 400).persist()
    val idx = new GraphIndex(spark,
      graft.store.Scratch.dir("graft_gidx_cal"),
      K, Seq(bucketOf(0) _, bucketOf(200) _), numEntries = 3)
    idx.build(small, refineRounds = 1)
    val ladder = Seq(2, 4, 8, 16)
    val sweep = idx.calibrationSweep(
      panel = small.orderBy(xxhash64(col("id")), col("id")).limit(10)
        .collect().map(r => (r.getLong(0), r.getSeq[Float](1).toArray)).toSeq,
      k = 5, ladder, hops = 6)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(sweep.map(_._1).toSeq == ladder && sweep.forall(_._3 == 10L))
    // independent replay: per probe and rung, the hot walk (minus self)
    // intersected with the brute top-5 (minus self)
    val panel = small.orderBy(xxhash64(col("id")), col("id")).limit(10)
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1).toArray)).toSeq
    for ((bw, hits, _, recall) <- sweep) {
      val want = panel.map { case (pid, pe) =>
        val brute = small.filter(col("id") =!= pid)
          .withColumn("d", VF.l2Sq(col("emb"), typedlit(pe)))
          .orderBy(asc("d"), asc("id")).limit(5)
          .collect().map(_.getLong(0)).toSet
        idx.hotQuery(pe, 6, bw, 6).collect { case (id, _) if id != pid => id }
          .take(5).count(brute)
      }.sum
      assert(hits == want.toLong, s"beam $bw: sweep=$hits replay=$want")
      assert(recall == new java.math.BigDecimal(want.toDouble / 50.0)
        .setScale(4, java.math.RoundingMode.HALF_UP).doubleValue())
    }
    // the policy: smallest rung meeting a reachable target, from the sweep
    val reachable = sweep.last._4 // widest rung's measured recall
    if (reachable > 0) {
      val chosen = idx.calibrateBeam(k = 5, target = reachable, panelCap = 10,
        ladder = ladder, hops = 6)
      val expect = sweep.collectFirst { case (bw, _, _, r) if r >= reachable => bw }.get
      assert(chosen == expect, s"target $reachable: chose $chosen, sweep says $expect")
    }
    // an unreachable target fails loudly (the graph has no exact rung)
    if (reachable < 1.0) {
      val ex = intercept[RuntimeException](
        idx.calibrateBeam(k = 5, target = 1.0, panelCap = 10,
          ladder = ladder, hops = 6))
      assert(ex.getMessage.contains("beam width"), ex.getMessage)
    }
    small.unpersist(): Unit
  }

  test("calibration over the hot budget: identical sweep via the Spark batched walk, no driver residency") {
    // the r9 ADVICE case: attachGraphIndex(recallTarget=) on an index
    // whose raw floats exceed graft.hot.maxBytes must not pin them on the
    // driver at attach time — the sweep falls back to the batched Spark
    // walk (same spec-pinned walk schedule), so the measured ladder is
    // bit-identical and nothing raw-float becomes resident.
    val small = all.filter(col("id") <= 300).persist()
    val idx = new GraphIndex(spark,
      graft.store.Scratch.dir("graft_gidx_calbud"),
      K, Seq(bucketOf(0) _, bucketOf(200) _), numEntries = 3)
    idx.build(small, refineRounds = 1)
    val panel = small.orderBy(xxhash64(col("id")), col("id")).limit(8)
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1).toArray)).toSeq
    def sweep() = idx.calibrationSweep(panel, k = 5, Seq(2, 4, 8), hops = 6)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSeq
    val hot = withBudget(Long.MaxValue)(sweep())
    val cold = withBudget(1L)(sweep())
    assert(hot == cold, s"over-budget sweep must match the hot sweep: $hot vs $cold")
    // the policy knob composes with the gate the same way
    val target = hot.last._4
    if (target > 0) {
      val choseHot = withBudget(Long.MaxValue)(
        idx.calibrateBeam(k = 5, target = target, panelCap = 8, ladder = Seq(2, 4, 8), hops = 6))
      val choseCold = withBudget(1L)(
        idx.calibrateBeam(k = 5, target = target, panelCap = 8, ladder = Seq(2, 4, 8), hops = 6))
      assert(choseHot == choseCold)
    }
    small.unpersist(): Unit
  }

  test("hotQueryStats: identical answers to hotQuery, sane walk diagnostics") {
    val idx = new GraphIndex(spark,
      graft.store.Scratch.dir("graft_gidx_ws"),
      K, Seq(bucketOf(0) _, bucketOf(200) _))
    idx.build(all, refineRounds = 1)
    val plain = idx.hotQuery(probe, topK = 5, beamWidth = 4, hops = 6)
    val (instr, ws) = idx.hotQueryStats(probe, topK = 5, beamWidth = 4, hops = 6)
    assert(instr == plain, "instrumented walk must return hotQuery's exact answer")
    info(s"walk stats: $ws")
    assert(ws.hopsExecuted >= 1 && ws.hopsExecuted <= 6)
    assert(ws.topKStableAt <= ws.hopsExecuted,
      "top-k cannot stabilize after the last executed hop")
    assert(ws.nodesScored >= instr.size && ws.nodesScored <= all.count(),
      "scored count is bounded by the corpus and at least the answer")
  }
}
