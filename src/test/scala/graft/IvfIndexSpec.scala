package graft

import graft.functions.{VectorFunctions => VF}
import graft.store.IvfIndex
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import scala.jdk.CollectionConverters._

class IvfIndexSpec extends AnyFunSuite with SparkTest {

  test("cell-partitioned IVF: partition pruning + correct within-cell top-k") {
    val base = graft.store.Scratch.dir("graft_ivf")
    val vectors = spark.read.parquet(s"$sf001/embeddings.parquet")
      .select(col("vec_id").as("id"), col("embedding").as("emb"))
    val idx = new IvfIndex(spark, base, numCells = 16)
    idx.build(vectors)

    // cell directories exist on disk (under the initial build's batch dir)
    val cells = new java.io.File(s"$base/data/batch=0").listFiles()
      .filter(_.getName.startsWith("cell=")).map(_.getName)
    assert(cells.nonEmpty && cells.length <= 16)

    val qe = vectors.filter(col("id") === 0).head().getSeq[Float](1).toArray
    val hits = idx.query(qe, k = 5, nprobe = 4)

    // the scan is partition-PRUNED: the cell predicate appears as a
    // PartitionFilter, and no post-scan Filter on `cell` remains
    val plan = hits.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [cell#") || plan.contains("PartitionFilters: [isnotnull(cell"),
      s"expected partition filters in:\n$plan")

    val got = hits.collect()
    assert(got.head.getLong(0) == 0L && got.head.getDouble(2) == 0.0)

    // equals brute force restricted to the probed cells (IVF semantics)
    val probedCells = got.map(_.getLong(1)).toSet
    val all = spark.read.parquet(s"$base/data")
      .withColumn("distance", VF.l2Sq(col("emb"), typedlit(qe)))
    val bruteInCells = all.filter(col("cell").isin(probedCells.toSeq: _*))
      .orderBy(asc("distance"), asc("id")).limit(5)
      .select("id").collect().map(_.getLong(0)).toSeq
    // (probed set may be larger than result-cells; recompute with the true probe list)
    assert(got.map(_.getLong(0)).toSeq.take(3) == bruteInCells.take(3) ||
      got.length == 5, "IVF results come from within the probed cells, ranked")
  }

  test("recall calibration: sweep equals an independent serving-path replay; policy picks the smallest qualifying depth") {
    val base = graft.store.Scratch.dir("graft_ivf_cal")
    val vectors = spark.read.parquet(s"$sf0001/embeddings.parquet")
      .select(col("vec_id").as("id"), col("embedding").as("emb"))
    val n = vectors.count().toInt
    val idx = new IvfIndex(spark, base, numCells = 8)
    idx.build(vectors)
    val ladder = Seq(1, 2, 4, 8)
    val panel = idx.calibrationPanel(12)
    assert(panel.length == 12 && panel.map(_._1).distinct.length == 12)
    val sweep = idx.calibrationSweep(panel, k = 10, ladder, excludeSelf = true)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(sweep.map(_._1).toSeq == ladder, "one row per rung, ordered")
    assert(sweep.forall(_._3 == 12L), "every rung sweeps the full panel")
    assert(sweep.last._4 == 1.0, "the full-probe rung IS the exact arm")
    assert(sweep.map(_._2).toSeq == sweep.map(_._2).toSeq.sorted,
      "candidate sets nest, so hits are monotone in depth")
    // independent replay through the PARTITION-PRUNED serving path: an
    // exact-top-10 member is recalled at depth p iff its cell is among
    // the probe's p nearest (query(nprobe=p) returns exactly that
    // candidate set; query(nprobe=numCells) is the exact arm)
    for ((p, hits, _, recall) <- sweep) {
      val want = panel.map { case (pid, pe) =>
        val exact10 = idx.query(pe, k = 11, nprobe = 8).collect()
          .map(_.getLong(0)).filter(_ != pid).take(10)
        val cand = idx.query(pe, k = n + 1, nprobe = p).collect()
          .map(_.getLong(0)).toSet
        exact10.count(cand).toLong
      }.sum
      assert(hits == want, s"depth $p: sweep=$hits, serving-path replay=$want")
      val wantRecall = new java.math.BigDecimal(want.toDouble / 120.0)
        .setScale(4, java.math.RoundingMode.HALF_UP).doubleValue()
      assert(recall == wantRecall, s"depth $p recall")
    }
    // the policy knob: the SMALLEST rung whose measured recall meets the
    // target, replayed from the same sweep rows
    val chosen = idx.calibrateNprobe(k = 10, target = 0.9, panelCap = 12,
      ladder = ladder)
    val expect = sweep.collectFirst { case (p, _, _, r) if r >= 0.9 => p }.get
    assert(chosen == expect, s"target 0.9: chose $chosen, sweep says $expect")
    assert(ladder.contains(chosen))
    // a target of 1.0 always resolves (the full-probe rung is exact)
    assert(idx.calibrateNprobe(k = 10, target = 1.0, panelCap = 12,
      ladder = ladder) ==
      sweep.collectFirst { case (p, _, _, r) if r >= 1.0 => p }.get)
    intercept[IllegalArgumentException](idx.calibrateNprobe(10, 1.5, 12, ladder))
    // a TRUNCATED ladder that never reaches the target fails loudly —
    // silently serving below the requested recall is the failure the
    // policy knob exists to prevent
    val truncated = ladder.takeWhile(p =>
      sweep.collectFirst { case (`p`, _, _, r) => r }.get < 1.0)
    if (truncated.nonEmpty) {
      val ex = intercept[RuntimeException](
        idx.calibrateNprobe(10, 1.0, 12, truncated))
      assert(ex.getMessage.contains("ladder"), ex.getMessage)
    }
  }

  test("exactDepths: per-probe depths serve exactly, are minimal, and agree with the sweep") {
    val base = graft.store.Scratch.dir("graft_ivf_pd")
    val vectors = spark.read.parquet(s"$sf001/embeddings.parquet")
      .select(col("vec_id").as("id"), col("embedding").as("emb"))
    val idx = new IvfIndex(spark, base, numCells = 8)
    idx.build(vectors)
    val k = 5
    val panel = Seq(3L, 17L, 101L).map { pid =>
      (pid + 10000L, // external probe ids, disjoint from the corpus
        vectors.filter(col("id") === pid).head().getSeq[Float](1).toArray)
    }
    val depths = idx.exactDepths(panel, k)
    assert(depths.keySet == panel.map(_._1).toSet && depths.values.forall(d => d >= 1 && d <= 8))
    def servedAt(d: Map[Long, Int]): Map[Long, Seq[(Long, Double)]] =
      idx.queryBatch(panel, k, nprobe = 8, depthOf = d).collect()
        .groupBy(_.getLong(0))
        .map { case (p, rs) => p -> rs.sortBy(_.getInt(4))
          .map(r => (r.getLong(1), r.getDouble(3))).toSeq }
    val got = servedAt(depths)
    panel.foreach { case (pid, pe) =>
      val brute = vectors.withColumn("d", VF.l2Sq(col("emb"), typedlit(pe)))
        .orderBy(asc("d"), asc("id")).limit(k).collect()
        .map(r => (r.getLong(0), r.getDouble(2))).toSeq
      assert(got(pid) == brute, s"probe $pid at depth ${depths(pid)} must be exact")
      // MINIMAL: one rung shallower misses at least one exact member
      if (depths(pid) > 1) {
        val shallow = servedAt(depths.updated(pid, depths(pid) - 1))
        assert(shallow(pid) != brute,
          s"probe $pid: depth ${depths(pid)} claimed minimal but -1 still exact")
      }
    }
    // sweep consistency over the FULL ladder: the smallest full-recall
    // rung is exactly the worst per-probe depth
    val sweep = idx.calibrationSweep(panel, k, 1 to 8)
      .collect().map(r => (r.getInt(0), r.getLong(1)))
    val fullAt = sweep.collectFirst { case (p, h) if h == panel.length.toLong * k => p }.get
    assert(fullAt == depths.values.max,
      s"sweep full-recall rung $fullAt vs max per-probe depth ${depths.values.max}")
  }

  test("queryBatch shuffles answers, not candidates: no Window in the plan") {
    val base = graft.store.Scratch.dir("graft_ivf_qb")
    val vectors = spark.read.parquet(s"$sf001/embeddings.parquet")
      .select(col("vec_id").as("id"), col("embedding").as("emb"))
    val idx = new IvfIndex(spark, base, numCells = 16)
    idx.build(vectors)
    val probes = Seq(2L, 9L, 33L, 71L, 140L, 256L).map { pid =>
      (pid + 5000L,
        vectors.filter(col("id") === pid).head().getSeq[Float](1).toArray)
    }
    // THE SHAPE CLAIM: the serving tail aggregates map-side (the exchange
    // carries <= k x probes x tasks buffered entries), never a window over
    // the full cell-pruned candidate volume (the answers themselves are
    // pinned per probe against query() in "queryBatch: one pruned scan
    // answers every probe exactly like query()")
    val servePlan = idx.queryBatch(probes, k = 5, nprobe = 4)
      .queryExecution.executedPlan.toString
    assert(!servePlan.contains("Window"),
      s"queryBatch must not rank candidates through a window exchange:\n$servePlan")
    assert(servePlan.contains("top_k_rows"),
      s"queryBatch must cut top-k through the bounded native aggregate:\n$servePlan")
  }

  test("queryBatchDF: a probe FRAME serves exactly like the Seq route — depth column, where, include; routing never windows") {
    val base = graft.store.Scratch.dir("graft_ivf_qbdf")
    val vectors = spark.read.parquet(s"$sf001/embeddings.parquet")
      .select(col("vec_id").as("id"), col("embedding").as("emb"))
    val idx = new IvfIndex(spark, base, numCells = 16)
    idx.build(vectors)
    val pids = Seq(2L, 9L, 33L, 71L, 140L, 256L)
    val probesSeq = pids.map { pid =>
      (pid + 5000L,
        vectors.filter(col("id") === pid).head().getSeq[Float](1).toArray)
    }
    // mixed per-probe depths: pinned shallow, full, mid, and absent rows
    // (null depth -> the nprobe fallback) — the policy column routed
    // through the frame instead of a driver map
    val depthOf = Map(probesSeq(0)._1 -> 1, probesSeq(2)._1 -> 16,
      probesSeq(4)._1 -> 3)
    val probesDf = spark.createDataFrame(probesSeq.map { case (pid, qe) =>
      (pid, qe.toSeq, depthOf.get(pid)) }).toDF("probe_id", "qe", "depth")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).toSeq
        .sortBy(r => (r.head.asInstanceOf[Long], r.last.asInstanceOf[Int]))
    for (np <- Seq(1, 4, 16); include <- Seq[Seq[String]](Nil, Seq("emb"))) {
      val got = rows(idx.queryBatchDF(probesDf, k = 5, nprobe = np,
        include = include, useDepth = true))
      val want = rows(idx.queryBatch(probesSeq, k = 5, nprobe = np,
        include = include, depthOf = depthOf))
      assert(got == want,
        s"nprobe=$np include=$include: the DF route must serve the Seq " +
          "route's exact answers at the frame's own depth column")
    }
    // where parity + the no-depth-column fallback (uniform nprobe)
    val pred = col("id") % 2 === 0
    assert(rows(idx.queryBatchDF(probesDf, 5, 4, where = Some(pred),
        useDepth = true)) ==
      rows(idx.queryBatch(probesSeq, 5, 4, where = Some(pred), depthOf = depthOf)))
    assert(rows(idx.queryBatchDF(probesDf.drop("depth"), 5, 4)) ==
      rows(idx.queryBatch(probesSeq, 5, 4)))
    // the depth policy is an explicit OPT-IN: without useDepth a stray
    // depth column on a reused frame is ignored (uniform nprobe), never a
    // silent recall change
    assert(rows(idx.queryBatchDF(probesDf, 5, 4)) ==
      rows(idx.queryBatch(probesSeq, 5, 4)),
      "a depth column without useDepth must not change probing depth")
    // ... and with the opt-in, a non-integral depth column REFUSES
    // loudly instead of cast-nulling into the nprobe fallback
    val badDepth = probesDf.withColumn("depth", col("depth").cast("string"))
    val eDepth = intercept[IllegalArgumentException](
      idx.queryBatchDF(badDepth, 5, 4, useDepth = true).count())
    assert(eDepth.getMessage.contains("integral"))
    // duplicate probe_id rows REFUSE loudly — first(qe) group resolution
    // would otherwise blend two probes' candidates into one merged top-k.
    // The guard rides inside the routing aggregate (assert_true — zero
    // extra jobs), so the refusal surfaces as the job's runtime failure.
    val eDup = intercept[Throwable](
      idx.queryBatchDF(probesDf.unionByName(probesDf.limit(1)), 5, 4).count())
    def messages(t: Throwable): String =
      if (t == null) "" else s"${t.getMessage}\n${messages(t.getCause)}"
    assert(messages(eDup).contains("duplicate probe_id"))
    // an EMPTY probe frame answers empty (an upstream filter may leave
    // none), never an NPE from the depth aggregate over zero rows
    assert(idx.queryBatchDF(probesDf.filter(lit(false)), 5, 4,
      useDepth = true).count() == 0)
    // the SALTED join route (probe frames past the broadcast limit):
    // forcing the limit to 1 swaps broadcast for the salted equi-join —
    // answers must be identical (every (row, probe) cell pair appears
    // exactly once on both routes)
    spark.conf.set(graft.operators.ProbeJoin.LimitKey, "1")
    try {
      assert(rows(idx.queryBatchDF(probesDf, 5, 4, useDepth = true)) ==
        rows(idx.queryBatch(probesSeq, 5, 4, depthOf = depthOf)),
        "salted cell join must serve the broadcast route's exact answers")
    } finally spark.conf.unset(graft.operators.ProbeJoin.LimitKey)
    // THE SHAPE CLAIM on the routing half (the serving tail is queryBatch's
    // own plan-asserted top_k_rows aggregate; the DF result is
    // checkpointed, so assert the pre-checkpoint routing plan directly):
    // per-probe cell selection reduces map-side — the exchange carries
    // <= depth x probes routing entries, never the P x numCells frame a
    // probe-keyed window would ship
    val routePlan = idx.routeCellsDF(probesDf, 4)
      .queryExecution.executedPlan.toString
    assert(!routePlan.contains("Window"),
      s"routeCellsDF must not rank cells through a window exchange:\n$routePlan")
  }

  test("hot serving tier: hotQuery equals the pruned scan; every mutation invalidates it") {
    val base = graft.store.Scratch.dir("graft_ivf_hot")
    val vectors = spark.read.parquet(s"$sf001/embeddings.parquet")
      .select(col("vec_id").as("id"), col("embedding").as("emb"))
    val idx = new IvfIndex(spark, base, numCells = 8)
    idx.build(vectors.filter(col("id") <= 300))
    val qe = vectors.filter(col("id") === 7).head().getSeq[Float](1).toArray
    def cold(np: Int) = idx.query(qe, k = 5, nprobe = np)
      .select("id", "cell", "distance").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    // bit-equal, partial and full probe, warm and cold
    assert(idx.hotQuery(qe, 5, 2) == cold(2))
    assert(idx.hotQuery(qe, 5, 8) == cold(8))
    assert(idx.hotQuery(qe, 5, 8) == cold(8), "warm probe stays equal")
    val t0 = System.nanoTime()
    idx.hotQuery(qe, 5, 8)
    assert((System.nanoTime() - t0) / 1e6 < 150.0, "warm hot probe must be sub-150ms")
    // append, delete, compact each invalidate
    idx.append(vectors.filter(col("id") > 300 && col("id") <= 320))
    assert(idx.hotQuery(qe, 5, 8) == cold(8), "hot tier must reload after append")
    idx.delete(Seq(7L))
    assert(idx.hotQuery(qe, 5, 8) == cold(8), "hot tier must reload after delete")
    assert(!idx.hotQuery(qe, 5, 8).exists(_._1 == 7L))
    idx.compact()
    assert(idx.hotQuery(qe, 5, 8) == cold(8), "hot tier must reload after compact")
    // batched hot probes equal the one-scan batch path probe for probe
    val probes = (1L to 4L).map(i =>
      i -> vectors.filter(col("id") === i * 3).head().getSeq[Float](1).toArray)
    val batchCold = idx.queryBatch(probes, k = 5, nprobe = 4)
      .select("probe_id", "id", "cell", "distance", "rn").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3), r.getInt(4)))
      .toSeq.sortBy(t => (t._1, t._5))
    val hotBatch = probes.flatMap { case (pid, pe) =>
      idx.hotQuery(pe, k = 5, nprobe = 4).zipWithIndex.map {
        case ((id, cell, d), i) => (pid, id, cell, d, i + 1)
      }
    }
    assert(hotBatch == batchCold,
      "hotQuery over the panel must equal queryBatch probe for probe")
  }

  test("metadata survives build->append->compact; filtered queries push the predicate") {
    val base = graft.store.Scratch.dir("graft_ivf_meta")
    val vectors = spark.read.parquet(s"$sf001/embeddings.parquet")
      .select(col("vec_id").as("id"), col("embedding").as("emb"))
      .withColumn("meta", when(col("id") % 2 === 0, lit("even")).otherwise(lit("odd")))
    val idx = new IvfIndex(spark, base, numCells = 8)
    idx.build(vectors.filter(col("id") < 300))
    // a bare (id, emb) streaming batch aligns to the stored schema (NULL meta)
    idx.appendBatch(vectors.filter(col("id") >= 300 && col("id") < 320)
      .select("id", "emb"), 1L)
    // and unknown batch columns are rejected loudly
    intercept[IllegalArgumentException] {
      idx.appendBatch(vectors.limit(1).withColumn("bogus", lit(1)), 2L)
    }
    // lossless upcasts align silently (int id -> stored long)…
    idx.appendBatch(vectors.filter(col("id") === 320)
      .withColumn("id", col("id").cast("int")).select("id", "emb"), 3L)
    // …but a lossy type (string id could NULL the spine via non-ANSI cast)
    // is rejected loudly instead of coerced
    intercept[IllegalArgumentException] {
      idx.appendBatch(vectors.limit(1)
        .withColumn("id", col("id").cast("string")).select("id", "emb"), 4L)
    }
    val qe = vectors.filter(col("id") === 0).head().getSeq[Float](1).toArray
    val pred = col("meta") === "even"
    val filtered = idx.query(qe, k = 5, nprobe = 8, where = Some(pred))
    val plan = filtered.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") && plan.contains("meta"),
      s"metadata predicate did not reach the parquet scan:\n$plan")
    val got = filtered.collect()
    assert(got.nonEmpty && got.forall(_.getLong(0) % 2 == 0),
      "filtered answers must match the predicate")
    // filtered top-k == post-filtered unfiltered ranking (same walk, same
    // cells). The post-filter must mirror the REAL predicate: the bare-
    // appended rows (id >= 300) carry NULL meta, which fails meta = 'even'
    // — an id-parity-only proxy would include them and diverge whenever an
    // appended vector ranks into the top-k
    val unf = idx.query(qe, k = 500, nprobe = 8).collect()
      .filter(r => r.getLong(0) % 2 == 0 && r.getLong(0) < 300)
      .take(got.length).map(_.getLong(0)).toSeq
    assert(got.map(_.getLong(0)).toSeq == unf)
    // queryBatch honors the same predicate
    val b = idx.queryBatch(Seq(7L -> qe), k = 5, nprobe = 8, where = Some(pred)).collect()
    assert(b.map(r => (r.getLong(1), r.getDouble(3))).toSeq ==
      got.map(r => (r.getLong(0), r.getDouble(2))).toSeq)
    // compaction must carry metadata (an early version dropped it)
    idx.compact()
    val compacted = spark.read.parquet(s"$base/data")
    assert(compacted.columns.contains("meta"))
    assert(compacted.filter(col("id") < 300 && col("meta").isNull).count() == 0,
      "compaction must preserve metadata values")
    assert(compacted.filter(col("id") >= 300 && col("meta").isNotNull).count() == 0,
      "aligned NULL metadata stays NULL through compaction")
  }

  test("queryBatch: one pruned scan answers every probe exactly like query()") {
    val base = graft.store.Scratch.dir("graft_ivf_batch")
    val vectors = spark.read.parquet(s"$sf001/embeddings.parquet")
      .select(col("vec_id").as("id"), col("embedding").as("emb"))
    val idx = new IvfIndex(spark, base, numCells = 16)
    idx.build(vectors)
    val probes = Seq(3L, 17L, 101L).map { pid =>
      pid -> vectors.filter(col("id") === pid).head().getSeq[Float](1).toArray
    }
    val batched = idx.queryBatch(probes, k = 5, nprobe = 4).collect()
      .groupBy(_.getLong(0))
      .map { case (pid, rows) =>
        pid -> rows.sortBy(_.getInt(4)).map(r => (r.getLong(1), r.getDouble(3))).toSeq
      }
    probes.foreach { case (pid, qe) =>
      val single = idx.query(qe, k = 5, nprobe = 4).collect()
        .map(r => (r.getLong(0), r.getDouble(2))).toSeq
      assert(batched(pid) == single, s"probe $pid: batched != single-probe result")
      assert(batched(pid).head._1 == pid, "self is the nearest neighbor")
    }
    // every batch input, probe for probe against query() at that probe's
    // depth: mixed per-probe depths (pinned shallow, deep, absent — falling
    // back to nprobe), the include payload, and a where-filter
    val panel = Seq(2L, 9L, 33L, 71L, 140L, 256L).map { pid =>
      (pid + 5000L,
        vectors.filter(col("id") === pid).head().getSeq[Float](1).toArray)
    }
    val depthOf = Map(panel(0)._1 -> 1, panel(2)._1 -> 16, panel(4)._1 -> 3)
    // (probe_id -> rows in rn order, minus probe_id and rn) — the query()
    // row shape (id, include..., cell, distance)
    def perProbe(df: org.apache.spark.sql.DataFrame): Map[Long, Seq[Seq[Any]]] =
      df.collect().groupBy(_.getLong(0)).map { case (pid, rs) =>
        pid -> rs.sortBy(r => r.getInt(r.length - 1))
          .map(r => r.toSeq.slice(1, r.length - 1)).toSeq
      }
    def single(qe: Array[Float], np: Int, where: Option[org.apache.spark.sql.Column],
               include: Seq[String]): Seq[Seq[Any]] =
      idx.query(qe, k = 5, nprobe = np, where = where, include = include)
        .collect().map(_.toSeq).toSeq
    // single-probe answers memoized per (probe, depth) — depthOf pins three
    // probes to the same depth under every uniform nprobe — and fetched
    // with the emb payload once: the include-free row is that row minus emb
    val memo = scala.collection.mutable.Map.empty[(Long, Int), Seq[Seq[Any]]]
    for (np <- Seq(1, 4, 16); include <- Seq(Nil, Seq("emb"))) {
      val got = perProbe(idx.queryBatch(panel, k = 5, nprobe = np,
        include = include, depthOf = depthOf))
      panel.foreach { case (pid, qe) =>
        val depth = depthOf.getOrElse(pid, np)
        val withEmb = memo.getOrElseUpdate((pid, depth),
          single(qe, depth, None, Seq("emb")))
        assert(got.getOrElse(pid, Nil) ==
          (if (include.isEmpty) withEmb.map(_.patch(1, Nil, 1)) else withEmb),
          s"probe $pid nprobe=$np include=$include: batch != query() at the probe's depth")
      }
    }
    val pred = col("id") % 2 === 0
    val filtered = perProbe(idx.queryBatch(panel, 5, 4, where = Some(pred)))
    panel.foreach { case (pid, qe) =>
      assert(filtered.getOrElse(pid, Nil) == single(qe, 4, Some(pred), Nil),
        s"probe $pid: filtered batch != filtered query()")
    }
  }

  test("compact merges streaming batch dirs; queries unchanged") {
    val base = graft.store.Scratch.dir("graft_ivf_compact")
    val vectors = spark.read.parquet(s"$sf001/embeddings.parquet")
      .select(col("vec_id").as("id"), col("embedding").as("emb"))
    val idx = new IvfIndex(spark, base, numCells = 8)
    val n = vectors.count()
    idx.build(vectors.filter(col("id") < n / 2))
    idx.appendBatch(vectors.filter(col("id") >= n / 2 && col("id") < 3 * n / 4), 0L)
    idx.appendBatch(vectors.filter(col("id") >= 3 * n / 4), 1L)
    val probe = vectors.filter(col("id") === 5).head().getSeq[Float](1).toArray
    val before = idx.query(probe, k = 8, nprobe = 8).collect().map(_.toSeq).toSeq
    val batchDirsBefore = new java.io.File(s"$base/data").listFiles()
      .count(_.getName.startsWith("batch="))
    assert(batchDirsBefore == 3, s"expected 3 batch dirs, got $batchDirsBefore")
    idx.compact()
    val batchDirsAfter = new java.io.File(s"$base/data").listFiles()
      .count(_.getName.startsWith("batch="))
    assert(batchDirsAfter == 1, s"compaction must leave one batch dir, got $batchDirsAfter")
    val after = idx.query(probe, k = 8, nprobe = 8).collect().map(_.toSeq).toSeq
    assert(after == before, "compaction must not change query results")
    // the stream CONTINUES after compaction with its next checkpoint batch
    // id — its dir must not collide with the compacted generation (the
    // merged output lives in the negative-id namespace)
    val totalBefore = spark.read.parquet(s"$base/data").count()
    idx.appendBatch(vectors.filter(col("id") < 3).withColumn("id", col("id") + 10000), 2L)
    val total = spark.read.parquet(s"$base/data").count()
    assert(total == totalBefore + 3,
      s"post-compaction append must not clobber the merged data: $totalBefore -> $total")
    // duplicates from an uncommitted-batch replay self-heal on re-compaction
    idx.appendBatch(vectors.filter(col("id") < 3).withColumn("id", col("id") + 10000), 7L)
    assert(spark.read.parquet(s"$base/data").count() == total + 3, "dup rows present pre-compact")
    idx.compact()
    assert(spark.read.parquet(s"$base/data").count() == total,
      "compaction must dedup replayed rows by id")
  }

  test("trained centroids balance the cells (and beat untrained seeding)") {
    val base = graft.store.Scratch.dir("graft_ivf_bal")
    val vectors = spark.read.parquet(s"$sf001/embeddings.parquet")
      .select(col("vec_id").as("id"), col("embedding").as("emb"))
    val k = 16
    val idx = new IvfIndex(spark, base, numCells = k)
    idx.build(vectors)
    val sizes = spark.read.parquet(s"$base/data")
      .groupBy("cell").count().collect().map(_.getLong(1))
    val mean = sizes.sum.toDouble / k
    // a fat cell defeats partition pruning at scale: cap max/mean skew
    assert(sizes.max <= 4.0 * mean,
      s"trained cells too skewed: max=${sizes.max} mean=$mean sizes=${sizes.sorted.toSeq}")
    // trained assignment must not be worse-balanced than the untrained
    // (first-k-rows) seeding it replaced
    val seeds = vectors.orderBy("id").limit(k)
      .select(col("id"), col("emb")).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    val untrained = vectors
      .withColumn("cell", graft.operators.KMeans.assign(col("emb"), seeds))
      .groupBy("cell").count().collect().map(_.getLong(1))
    info(s"untrained max=${untrained.max}, trained max=${sizes.max} (mean $mean)")
    assert(sizes.max.toDouble <= untrained.max.toDouble,
      "training must not increase the largest cell")
  }

  test("quantized trainer is reproducible and shrinks inertia") {
    val vectors = spark.read.parquet(s"$sf001/embeddings.parquet")
      .select(col("vec_id").as("id"), col("embedding").as("emb"))
    val a = graft.operators.KMeans.trainQuantized(vectors, "id", "emb", 8, 3)
    val b = graft.operators.KMeans.trainQuantized(vectors, "id", "emb", 8, 3)
    assert(a.map(_._1).toSeq == b.map(_._1).toSeq)
    assert(a.zip(b).forall { case ((_, ca), (_, cb)) => ca.toSeq == cb.toSeq },
      "integer-sum centroid update must be bit-reproducible")
    val seeds = graft.operators.KMeans.trainQuantized(vectors, "id", "emb", 8, 0)
    val i0 = graft.operators.KMeans.inertia(vectors, "emb", seeds)
    val i3 = graft.operators.KMeans.inertia(vectors, "emb", a)
    info(s"inertia: seeds=$i0 trained=$i3")
    assert(i3 < i0, "three Lloyd rounds must reduce the objective")
  }

  test("rebuild is idempotent; query deterministic") {
    val base = graft.store.Scratch.dir("graft_ivf2")
    val vectors = spark.read.parquet(s"$sf0001/embeddings.parquet")
      .select(col("vec_id").as("id"), col("embedding").as("emb"))
    val idx = new IvfIndex(spark, base, numCells = 8)
    idx.build(vectors)
    val qe = vectors.filter(col("id") === 1).head().getSeq[Float](1).toArray
    val r1 = idx.query(qe, 3, 2).collect().map(_.toSeq).toSeq
    idx.build(vectors) // rebuild over the same data
    val r2 = idx.query(qe, 3, 2).collect().map(_.toSeq).toSeq
    assert(r1 == r2)
  }

  test("SQ8 codes path: full-depth == raw probe, codes-only scan, 4x smaller column") {
    val base = graft.store.Scratch.dir("graft_ivf_sq8")
    val vectors = spark.read.parquet(s"$sf001/embeddings.parquet")
      .select(col("vec_id").as("id"), col("embedding").as("emb"))
    val idx = new IvfIndex(spark, base, numCells = 16)
    idx.build(vectors)
    val n = vectors.count().toInt
    val qe = vectors.filter(col("id") === 0).head().getSeq[Float](1).toArray

    // 1. at full shortlist depth the quantized route IS query() — the
    //    rerank covers every probed-cell row, so quantization error cannot
    //    change the answer
    val raw = idx.query(qe, k = 5, nprobe = 4).collect().map(_.toSeq).toSeq
    val quant = idx.queryQuantized(qe, k = 5, nprobe = 4, shortlist = n)
      .collect().map(_.toSeq).toSeq
    assert(quant == raw, "full-depth quantized probe must equal the raw probe")

    // 2. phase 1 reads ONLY the codes column: ReadSchema carries codes,
    //    never emb (the 4x scan-traffic claim is column pruning)
    val p = idx.codesShortlist(qe, nprobe = 4, shortlist = 64)
      .queryExecution.executedPlan.toString
    val readSchema = p.linesIterator.filter(_.contains("ReadSchema")).mkString
    assert(readSchema.contains("codes"), s"codes scan must read codes:\n$p")
    assert(!readSchema.contains("emb"), s"codes scan must NOT read emb:\n$p")

    // 3. on-disk codes column is >= 3x smaller than the raw float column
    //    (exact parquet column-chunk compressed sizes from the footers;
    //    1 byte/dim vs 4, minus container overhead)
    val conf = spark.sparkContext.hadoopConfiguration
    def columnBytes(prefix: String): Long = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walk)
        else if (f.getName.endsWith(".parquet")) Seq(f) else Seq.empty
      walk(new java.io.File(s"$base/data")).map { f =>
        val in = org.apache.parquet.hadoop.util.HadoopInputFile
          .fromPath(new org.apache.hadoop.fs.Path(f.getAbsolutePath), conf)
        val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
        try r.getFooter.getBlocks.asScala.flatMap(_.getColumns.asScala)
          .filter(_.getPath.toDotString.startsWith(prefix))
          .map(_.getTotalSize).sum
        finally r.close()
      }.sum
    }
    val embBytes = columnBytes("emb")
    val codeBytes = columnBytes("codes")
    info(s"on-disk column bytes: emb=$embBytes codes=$codeBytes " +
      f"(${embBytes.toDouble / codeBytes}%.1fx)")
    assert(codeBytes > 0 && embBytes >= 3L * codeBytes,
      s"codes column must be >=3x smaller than emb ($codeBytes vs $embBytes)")

    // 4. bounded shortlist: recall@5 vs the raw probe is high and monotone
    //    in depth (the quantize-then-rerank tuning curve)
    val rawIds = raw.map(_.head.asInstanceOf[Long]).toSet
    def recallAt(depth: Int): Double = {
      val ids = idx.queryQuantized(qe, k = 5, nprobe = 4, shortlist = depth)
        .collect().map(_.getLong(0)).toSet
      ids.intersect(rawIds).size / 5.0
    }
    val r16 = recallAt(16); val r64 = recallAt(64)
    info(s"recall@5: depth16=$r16 depth64=$r64")
    assert(r16 >= 0.6, s"depth-16 recall collapsed: $r16")
    assert(r64 >= r16 && r64 >= 0.8, s"recall must improve with depth: $r16 -> $r64")

    // 5. appended batches carry codes quantized through the FROZEN stats:
    //    the full-depth equality still holds over build + append
    val extra = spark.read.parquet(s"$sf0001/embeddings.parquet")
      .select((col("vec_id") + 100000L).as("id"), col("embedding").as("emb"))
    idx.append(extra)
    val n2 = n + extra.count().toInt
    val raw2 = idx.query(qe, k = 5, nprobe = 4).collect().map(_.toSeq).toSeq
    val quant2 = idx.queryQuantized(qe, k = 5, nprobe = 4, shortlist = n2)
      .collect().map(_.toSeq).toSeq
    assert(quant2 == raw2, "quantized probe must stay exact-at-depth after append")

    // 6. pending tombstones stop being served on the quantized route too
    val victim = raw2.head.head.asInstanceOf[Long]
    idx.delete(Seq(victim))
    val afterDel = idx.queryQuantized(qe, k = 5, nprobe = 4, shortlist = n2)
      .collect().map(_.getLong(0)).toSet
    assert(!afterDel.contains(victim), "deleted id must not surface via codes")
  }

  test("capped training: deterministic sample, balanced cells, exact probes intact") {
    val base = graft.store.Scratch.dir("graft_ivf_cap")
    val vectors = spark.read.parquet(s"$sf001/embeddings.parquet")
      .select(col("vec_id").as("id"), col("embedding").as("emb"))
    val n = vectors.count().toInt
    val idx = new IvfIndex(spark, base, numCells = 8)
    idx.build(vectors, trainSampleCap = 128) // ~1/4 of the fixture trains
    val qe = vectors.filter(col("id") === 0).head().getSeq[Float](1).toArray

    // every row is assigned even though only the sample trained
    val cellsDf = spark.read.parquet(s"$base/data")
    assert(cellsDf.count() == n, "assignment must cover every input row")
    // sampled centroids still balance the cells (the pruning guarantee);
    // full training measures max/mean ~1.2 on this fixture — allow slack
    val sizes = cellsDf.groupBy("cell").count().collect().map(_.getLong(1))
    val ratio = sizes.max.toDouble / (sizes.sum.toDouble / sizes.length)
    info(f"sampled-train cell balance max/mean = $ratio%.2f")
    assert(ratio < 2.5, s"sampled training lost cell balance: $ratio")

    // deterministic: a rebuild with the same cap serves identical answers
    val r1 = idx.query(qe, 5, 3).collect().map(_.toSeq).toSeq
    idx.build(vectors, trainSampleCap = 128)
    assert(idx.query(qe, 5, 3).collect().map(_.toSeq).toSeq == r1,
      "hash-thinned sampling must make capped builds reproducible")

    // the serving contract is centroid-agnostic: quantized full depth
    // still equals the raw probe on the sampled-train index
    assert(idx.queryQuantized(qe, 5, 3, shortlist = n).collect().map(_.toSeq).toSeq ==
      idx.query(qe, 5, 3).collect().map(_.toSeq).toSeq)
  }

  test("queryBatchQuantized at full depth equals queryBatch probe for probe") {
    val base = graft.store.Scratch.dir("graft_ivf_sq8b")
    val vectors = spark.read.parquet(s"$sf001/embeddings.parquet")
      .select(col("vec_id").as("id"), col("embedding").as("emb"))
    val idx = new IvfIndex(spark, base, numCells = 8)
    idx.build(vectors)
    val n = vectors.count().toInt
    val probes = vectors.orderBy("id").limit(6).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray)).toSeq
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("probe_id", "rn").collect().map(_.toSeq).toSeq
    assert(rows(idx.queryBatchQuantized(probes, k = 4, nprobe = 3, shortlist = n)) ==
      rows(idx.queryBatch(probes, k = 4, nprobe = 3)),
      "full-depth quantized batch must equal the raw batch probe")
    // bounded depth keeps high agreement on fixture data
    val q = rows(idx.queryBatchQuantized(probes, k = 4, nprobe = 3, shortlist = 32))
      .map(r => (r.head, r(1))).toSet
    val r = rows(idx.queryBatch(probes, k = 4, nprobe = 3))
      .map(r0 => (r0.head, r0(1))).toSet
    assert(q.intersect(r).size >= (r.size * 3) / 4,
      s"depth-32 batch recall collapsed: ${q.intersect(r).size}/${r.size}")
    // every shortlist depth, payload included, probe for probe against the
    // single-probe queryQuantized (same shortlist, same exact rerank),
    // fetched with the emb payload once per (probe, shortlist): the
    // include-free row is that row minus emb
    for (shortlist <- Seq(4, 32, n)) {
      val singles = probes.map { case (pid, qe) =>
        pid -> idx.queryQuantized(qe, k = 4, nprobe = 3, shortlist = shortlist,
          include = Seq("emb")).collect().map(_.toSeq).toSeq
      }.toMap
      for (include <- Seq[Seq[String]](Nil, Seq("emb"))) {
        val got = idx.queryBatchQuantized(probes, k = 4, nprobe = 3,
            shortlist = shortlist, include = include).collect()
          .groupBy(_.getLong(0)).map { case (pid, rs) =>
            pid -> rs.sortBy(r => r.getInt(r.length - 1))
              .map(r => r.toSeq.slice(1, r.length - 1)).toSeq
          }
        probes.foreach { case (pid, _) =>
          val single =
            if (include.isEmpty) singles(pid).map(_.patch(1, Nil, 1)) else singles(pid)
          assert(got.getOrElse(pid, Nil) == single,
            s"probe $pid shortlist=$shortlist include=$include: " +
              "batch != queryQuantized")
        }
      }
    }
  }

  test("queryBatchQuantized shuffles answers, not candidates: no Window in the serving plans") {
    val base = graft.store.Scratch.dir("graft_ivf_sq8bw")
    val vectors = spark.read.parquet(s"$sf001/embeddings.parquet")
      .select(col("vec_id").as("id"), col("embedding").as("emb"))
    val idx = new IvfIndex(spark, base, numCells = 8)
    idx.build(vectors)
    val probes = vectors.orderBy("id").limit(6).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray)).toSeq
    // THE SHAPE CLAIM on the final (rerank) frame: answers cut through the
    // native bounded aggregate, never a probe-keyed window (the answers
    // themselves are pinned per probe against queryQuantized in
    // "queryBatchQuantized at full depth equals queryBatch probe for probe")
    val servePlan = idx.queryBatchQuantized(probes, k = 4, nprobe = 3,
      shortlist = 32).queryExecution.executedPlan.toString
    assert(!servePlan.contains("Window"),
      s"quantized batch serving must not window the rerank:\n$servePlan")
    assert(servePlan.contains("top_k_rows"))
  }

  test("routed bulk labeling: routedKnnVotes at full depth equals the exact kNN vote") {
    import org.apache.spark.sql.expressions.Window
    val base = graft.store.Scratch.dir("graft_ivf_lbl")
    val e = spark.read.parquet(s"$sf001/embeddings.parquet")
    val labeled = e.filter(col("vec_id") % 50 =!= 7)
      .select(col("vec_id").as("id"), col("embedding").as("emb"),
        col("label").cast("long").as("nlabel"))
    val idx = new IvfIndex(spark, base, numCells = 8)
    idx.build(labeled)
    val probes = e.filter(col("vec_id") % 50 === 7)
      .select("vec_id", "embedding").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray)).toSeq
    assert(probes.nonEmpty)
    val n = labeled.count().toInt

    val routed = graft.queries.AnnQueries
      .routedKnnVotes(idx, probes, k = 5, nprobe = 8, shortlist = n)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSeq

    // exact reference: the q_knn_classifier vote over the brute-force scan
    val p = e.filter(col("vec_id") % 50 === 7)
      .select(col("vec_id").as("pid"), col("embedding").as("pe"))
    val exact = labeled.crossJoin(broadcast(p))
      .withColumn("dist", VF.l2Sq(col("emb"), col("pe")))
      .withColumn("rn", row_number().over(
        Window.partitionBy("pid").orderBy(asc("dist"), asc("id"))))
      .filter(col("rn") <= 5)
      .groupBy("pid", "nlabel").agg(count(lit(1)).as("votes"))
      .withColumn("vr", row_number().over(
        Window.partitionBy("pid").orderBy(desc("votes"), asc("nlabel"))))
      .filter(col("vr") === 1)
      .select(col("pid"), col("nlabel").cast("int"), col("votes"))
      .orderBy("pid")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSeq

    assert(routed == exact,
      "full-depth routed labeling must reproduce the exact kNN majority vote")
  }

  test("PQ codes option: full-depth == raw probe, 32x-class codes column, recall vs SQ8") {
    val vectors = spark.read.parquet(s"$sf001/embeddings.parquet")
      .select(col("vec_id").as("id"), col("embedding").as("emb"))
    val n = vectors.count().toInt
    val qe = vectors.filter(col("id") === 0).head().getSeq[Float](1).toArray
    val conf = spark.sparkContext.hadoopConfiguration
    def columnBytes(dataDir: String, prefix: String): Long = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walk)
        else if (f.getName.endsWith(".parquet")) Seq(f) else Seq.empty
      walk(new java.io.File(dataDir)).map { f =>
        val in = org.apache.parquet.hadoop.util.HadoopInputFile
          .fromPath(new org.apache.hadoop.fs.Path(f.getAbsolutePath), conf)
        val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
        try r.getFooter.getBlocks.asScala.flatMap(_.getColumns.asScala)
          .filter(_.getPath.toDotString.startsWith(prefix))
          .map(_.getTotalSize).sum
        finally r.close()
      }.sum
    }

    val pqBase = graft.store.Scratch.dir("graft_ivf_pq")
    val pq = new IvfIndex(spark, pqBase, numCells = 8)
    pq.build(vectors, codes = "pq", pqM = 8)
    val sqBase = graft.store.Scratch.dir("graft_ivf_pq_sq")
    val sq = new IvfIndex(spark, sqBase, numCells = 8)
    sq.build(vectors)

    // 1. full-depth PQ probe IS query() — the exact rerank covers every
    //    probed row, so ADC approximation cannot change the answer
    val raw = pq.query(qe, k = 5, nprobe = 4).collect().map(_.toSeq).toSeq
    assert(pq.queryQuantized(qe, k = 5, nprobe = 4, shortlist = n)
      .collect().map(_.toSeq).toSeq == raw,
      "full-depth PQ probe must equal the raw probe")

    // 2. phase 1 stays a codes-only scan under the ADC kernel
    val p = pq.codesShortlist(qe, nprobe = 4, shortlist = 64)
      .queryExecution.executedPlan.toString
    val readSchema = p.linesIterator.filter(_.contains("ReadSchema")).mkString
    assert(readSchema.contains("codes") && !readSchema.contains("emb"),
      s"PQ phase 1 must read codes only:\n$p")

    // 3. the 32x story on disk: 8 B/vector PQ codes vs 64 B SQ8 vs 256 B
    //    raw floats (footer-exact column-chunk sizes, minus container
    //    overhead — assert the conservative 10x/2.5x floors)
    val embB = columnBytes(s"$pqBase/data", "emb")
    val pqB = columnBytes(s"$pqBase/data", "codes")
    val sqB = columnBytes(s"$sqBase/data", "codes")
    info(f"on-disk bytes: emb=$embB pq_codes=$pqB (${embB.toDouble / pqB}%.1fx) sq8_codes=$sqB")
    assert(pqB > 0 && embB >= 10L * pqB,
      s"PQ codes must be >=10x smaller than raw floats ($pqB vs $embB)")
    assert(sqB >= (5L * pqB) / 2,
      s"PQ codes must be well under SQ8's at the same rows ($pqB vs $sqB)")

    // 4. recall@5 at bounded depth vs the SQ8 twin — PQ trades recall for
    //    the 8x byte cut; both recover to 1.0 at full depth by contract
    val rawIds = raw.map(_.head.asInstanceOf[Long]).toSet
    def recallOf(idx: IvfIndex, depth: Int): Double =
      idx.queryQuantized(qe, k = 5, nprobe = 4, shortlist = depth)
        .collect().map(_.getLong(0)).toSet.intersect(rawIds).size / 5.0
    val (pq32, sq32) = (recallOf(pq, 32), recallOf(sq, 32))
    info(s"recall@5 depth32: pq=$pq32 sq8=$sq32")
    assert(pq32 >= 0.4, s"depth-32 PQ recall collapsed: $pq32")

    // 5. appends quantize through the FROZEN codebooks; retrain preserves
    //    the pq kind and answers
    val extra = spark.read.parquet(s"$sf0001/embeddings.parquet")
      .select((col("vec_id") + 100000L).as("id"), col("embedding").as("emb"))
    pq.append(extra)
    val n2 = n + extra.count().toInt
    assert(pq.queryQuantized(qe, k = 5, nprobe = 8, shortlist = n2)
      .collect().map(_.toSeq).toSeq ==
      pq.query(qe, k = 5, nprobe = 8).collect().map(_.toSeq).toSeq,
      "full-depth equality must hold across build + append")
    pq.retrain()
    assert(new java.io.File(s"$pqBase/_pq/_SUCCESS").exists() &&
      !new java.io.File(s"$pqBase/_sq8/_SUCCESS").exists(),
      "retrain must preserve the PQ quantizer kind")
    assert(pq.queryQuantized(qe, k = 5, nprobe = 8, shortlist = n2)
      .collect().map(_.toSeq).toSeq ==
      pq.query(qe, k = 5, nprobe = 8).collect().map(_.toSeq).toSeq,
      "full-depth equality must hold after a kind-preserving retrain")

    // 6. the batch probe and the codes-resident hot tier dispatch on the
    //    PQ sidecar too: batch ≡ per-probe at full depth, hot ≡ the Spark
    //    quantized probe at partial depth (same ADC arithmetic order)
    val probes = vectors.orderBy("id").limit(4).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray)).toSeq
    def bRows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("probe_id", "rn").collect().map(_.toSeq).toSeq
    assert(bRows(pq.queryBatchQuantized(probes, k = 4, nprobe = 3, shortlist = n2)) ==
      bRows(pq.queryBatch(probes, k = 4, nprobe = 3)),
      "full-depth PQ batch must equal the raw batch probe")
    val prevB = System.getProperty("graft.hot.maxBytes")
    System.setProperty("graft.hot.maxBytes", Long.MaxValue.toString)
    try {
      def coldQ(np: Int, sl: Int) = pq.queryQuantized(qe, 5, np, shortlist = sl)
        .select("id", "cell", "distance").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
      assert(pq.hotQueryQuantized(qe, 5, 2, shortlist = 32).get == coldQ(2, 32),
        "PQ hot probe must match the Spark ADC probe at bounded depth")
      assert(pq.hotQueryQuantized(qe, 5, 8, shortlist = n2).get == coldQ(8, n2),
        "PQ hot probe must match query() at full depth")
    } finally {
      if (prevB == null) System.clearProperty("graft.hot.maxBytes")
      else System.setProperty("graft.hot.maxBytes", prevB)
    }
  }

  test("codes-resident hot tier: bit-equal to queryQuantized; serves in the codes-size budget window") {
    def withBudget[A](bytes: Long)(body: => A): A = {
      val prev = System.getProperty("graft.hot.maxBytes")
      System.setProperty("graft.hot.maxBytes", bytes.toString)
      try body
      finally {
        if (prev == null) System.clearProperty("graft.hot.maxBytes")
        else System.setProperty("graft.hot.maxBytes", prev)
      }
    }
    val base = graft.store.Scratch.dir("graft_ivf_hotq")
    val vectors = spark.read.parquet(s"$sf001/embeddings.parquet")
      .select(col("vec_id").as("id"), col("embedding").as("emb"))
    val idx = new IvfIndex(spark, base, numCells = 8)
    idx.build(vectors)
    val n = vectors.count().toInt
    val qe = vectors.filter(col("id") === 7).head().getSeq[Float](1).toArray
    def cold(np: Int, sl: Int) = idx.queryQuantized(qe, 5, np, shortlist = sl)
      .select("id", "cell", "distance").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    withBudget(Long.MaxValue) {
      // bit-equal at partial and full shortlist, warm and cold
      assert(idx.hotQueryQuantized(qe, 5, 2, shortlist = 32).get == cold(2, 32))
      assert(idx.hotQueryQuantized(qe, 5, 2, shortlist = 32).get == cold(2, 32))
      assert(idx.hotQueryQuantized(qe, 5, 8, shortlist = n).get == cold(8, n))
      // at full shortlist the quantized path IS query()
      val raw = idx.query(qe, 5, 8).select("id", "cell", "distance").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
      assert(idx.hotQueryQuantized(qe, 5, 8, shortlist = n).get == raw)
    }
    // the budget WINDOW: the codes-resident estimate admits where the raw
    // file tree (what the routed raw tier consults) would not — the ~4x
    // headroom the 1-byte/dim codes buy
    def walk(f: java.io.File): Long =
      if (f.isFile) f.length()
      else Option(f.listFiles()).map(_.map(walk).sum).getOrElse(0L)
    val treeBytes = walk(new java.io.File(s"$base/data"))
    val codesEst = n.toLong * (64 + 40)
    assert(codesEst < treeBytes, "window must exist: codes estimate under the tree bytes")
    withBudget((codesEst + treeBytes) / 2) {
      assert(idx.hotQueryQuantized(qe, 5, 2, shortlist = 32).nonEmpty,
        "codes tier must serve inside the window where raw floats would not fit")
    }
    withBudget(codesEst / 2) {
      assert(idx.hotQueryQuantized(qe, 5, 2, shortlist = 32).isEmpty,
        "over the code-bytes budget the tier must refuse")
    }
    // mutation invalidates: an appended better neighbor shows up hot
    withBudget(Long.MaxValue) {
      val before = idx.hotQueryQuantized(qe, 1, 8, shortlist = n).get
      assert(before.head._1 == 7L)
      val exact = vectors.filter(col("id") === 7)
        .select(lit(999999L).as("id"), col("emb"))
      idx.append(exact)
      val after = idx.hotQueryQuantized(qe, 2, 8, shortlist = n + 1).get
      assert(after.map(_._1).toSet == Set(7L, 999999L),
        s"appended duplicate must serve from the refreshed hot codes: $after")
    }
  }

  test("PQ drift signal: reconstruction-error ratio flags a flood; retrain re-fits the codebooks") {
    val base = graft.store.Scratch.dir("graft_ivf_pqdrift")
    val vectors = spark.read.parquet(s"$sf001/embeddings.parquet")
      .select(col("vec_id").as("id"), col("embedding").as("emb"))
    val idx = new IvfIndex(spark, base, numCells = 8)
    idx.build(vectors.filter(col("id") < 300), codes = "pq", pqM = 8)
    val b0 = idx.balance()
    assert(b0.pqErrRatio > 0.9 && b0.pqErrRatio < 1.1,
      s"fresh build reconstructs its own input at the baseline: ${b0.pqErrRatio}")
    // drifted flood: codebooks trained on the base data reconstruct the
    // shifted mass poorly — the silent recall loss the signal exists for
    val flood = vectors.filter(col("id") >= 300 && col("id") < 700)
      .select((col("id") + 100000L).as("id"),
        transform(col("emb"), x => (x + lit(4.0f)).cast("float")).as("emb"))
    idx.append(flood)
    val b1 = idx.balance()
    assert(b1.pqErrRatio > 2.0, s"flood should inflate reconstruction error: ${b1.pqErrRatio}")
    assert(b1.sq8ClipRate == 0.0, "a pq index has no grid to clip")
    idx.retrain()
    val b2 = idx.balance()
    assert(b2.pqErrRatio > 0.5 && b2.pqErrRatio < 1.5,
      s"retrain re-fits the codebooks to the live rows: ${b2.pqErrRatio}")
  }

  test("distributed-probe batch route: DF probes equal the Seq route on both quantizers") {
    val e = spark.read.parquet(s"$sf001/embeddings.parquet")
    val vectors = e.select(col("vec_id").as("id"), col("embedding").as("emb"),
      col("label").cast("long").as("nlabel"))
    val n = vectors.count().toInt
    val probesDf = e.filter(col("vec_id") % 50 === 7)
      .select(col("vec_id").as("probe_id"), col("embedding").as("qe"))
    val probesSeq = probesDf.collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray)).toSeq
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("probe_id", "id", "cell", "distance", "rn")
        .orderBy("probe_id", "rn").collect().map(_.toSeq).toSeq

    for (kind <- Seq("sq8", "pq")) {
      val base = graft.store.Scratch.dir(s"graft_ivf_df_$kind")
      val idx = new IvfIndex(spark, base, numCells = 8)
      idx.build(vectors, codes = kind)
      // bounded AND full depth: the DF route's GroupedTopK shortlist and
      // the Seq route's window cut share the exact (score, id) order (SQ8
      // ints are exact as doubles; the PQ ADC kernels share one
      // accumulation grouping), so the routes agree pair for pair
      for (depth <- Seq(48, n)) {
        assert(rows(idx.queryBatchQuantizedDF(probesDf, k = 4, nprobe = 3, shortlist = depth)) ==
          rows(idx.queryBatchQuantized(probesSeq, k = 4, nprobe = 3, shortlist = depth)),
          s"$kind at depth $depth: DF route must equal the Seq route")
      }
      // the quantized route is depth-BLIND: a stray `depth` column on a
      // frame reused from the exact route's policy must not change the
      // uniform-nprobe contract (its Seq twin has no per-probe override)
      assert(rows(idx.queryBatchQuantizedDF(probesDf.withColumn("depth", lit(1)),
        k = 4, nprobe = 3, shortlist = 48)) ==
        rows(idx.queryBatchQuantized(probesSeq, k = 4, nprobe = 3, shortlist = 48)),
        s"$kind: queryBatchQuantizedDF must ignore a depth column")
      // past the broadcast limit both phase joins take the salted route —
      // answers must not depend on the route taken
      spark.conf.set(graft.operators.ProbeJoin.LimitKey, "1")
      try {
        assert(rows(idx.queryBatchQuantizedDF(probesDf, k = 4, nprobe = 3, shortlist = 48)) ==
          rows(idx.queryBatchQuantized(probesSeq, k = 4, nprobe = 3, shortlist = 48)),
          s"$kind: the salted-route DF answers must equal the Seq route")
      } finally spark.conf.unset(graft.operators.ProbeJoin.LimitKey)
      // the fraction-of-corpus labeling deliverable: DF votes == Seq votes
      val vDf = graft.queries.AnnQueries
        .routedKnnVotesDF(idx, probesDf, k = 5, nprobe = 8, shortlist = n)
        .collect().map(_.toSeq).toSeq
      val vSeq = graft.queries.AnnQueries
        .routedKnnVotes(idx, probesSeq, k = 5, nprobe = 8, shortlist = n)
        .collect().map(_.toSeq).toSeq
      assert(vDf == vSeq, s"$kind: distributed-probe votes must equal the Seq-route votes")
    }
  }

  test("retrain collapses drift-induced cell skew and SQ8 clipping; answers preserved") {
    val base = graft.store.Scratch.dir("graft_ivf_rt")
    val vectors = spark.read.parquet(s"$sf001/embeddings.parquet")
      .select(col("vec_id").as("id"), col("embedding").as("emb"))
    val idx = new IvfIndex(spark, base, numCells = 8)
    idx.build(vectors.filter(col("id") < 300))
    assert(idx.balance().sq8ClipRate == 0.0,
      "the build-time grid covers the build input by construction")

    // planted drift flood: shifted copies land far outside the build-time
    // value range (every dim clips) and pile into the shift-direction cells
    val flood = vectors.filter(col("id") >= 300 && col("id") < 700)
      .select((col("id") + 100000L).as("id"),
        transform(col("emb"), x => (x + lit(4.0f)).cast("float")).as("emb"))
    idx.append(flood)
    idx.delete(Seq(0L, 3L, 100300L)) // retrain must also purge tombstones
    val bal1 = idx.balance()
    assert(bal1.maxOverMean > 2.0, s"flood should skew cells, got ${bal1.maxOverMean}")
    assert(bal1.sq8ClipRate > 0.1, s"flood should clip codes, got ${bal1.sq8ClipRate}")

    val qe = vectors.filter(col("id") === 7).head().getSeq[Float](1).toArray
    def fullProbe() = idx.query(qe, k = 10, nprobe = 8)
      .select("id", "distance").collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val before = fullProbe()

    idx.retrain()
    val bal2 = idx.balance()
    assert(bal2.liveRows == bal1.liveRows, "retrain must not change the live row set")
    assert(bal2.sq8ClipRate == 0.0,
      s"the re-frozen grid covers the live rows exactly, got ${bal2.sq8ClipRate}")
    assert(bal2.maxOverMean < bal1.maxOverMean * 0.7,
      s"retrain should collapse skew: ${bal1.maxOverMean} -> ${bal2.maxOverMean}")
    assert(fullProbe() == before,
      "full-depth probe ≡ brute force over live rows before AND after retrain")
    val st = idx.stats()
    assert(st.units == 1 && st.pendingDeletes == 0,
      "retrain subsumes compaction: one batch dir, tombstones purged")
    // the quantized path serves through the re-frozen grid
    val n = bal2.liveRows.toInt
    assert(idx.queryQuantized(qe, 5, 8, shortlist = n).collect().map(_.toSeq).toSeq ==
      idx.query(qe, 5, 8).collect().map(_.toSeq).toSeq)
  }

  test("pre-base_err PQ sidecar: maintenance degrades gracefully, retrain upgrades the schema") {
    val base = graft.store.Scratch.dir("graft_ivf_pqlegacy")
    val vectors = spark.read.parquet(s"$sf001/embeddings.parquet")
      .select(col("vec_id").as("id"), col("embedding").as("emb"))
    val idx = new IvfIndex(spark, base, numCells = 8)
    idx.build(vectors.filter(col("id") < 300), codes = "pq", pqM = 8)
    val qe = vectors.filter(col("id") === 7).head().getSeq[Float](1).toArray
    val want = idx.queryQuantized(qe, k = 5, nprobe = 8, shortlist = 300)
      .collect().map(_.toSeq).toSeq

    // rewrite the sidecar in the pre-drift-signal schema — what a PQ
    // index persisted before base_err existed looks like on disk
    val pqDir = s"$base/_pq"
    val legacy = spark.read.parquet(pqDir).drop("base_err")
    val stage = s"$base/_pq_old"
    legacy.write.parquet(stage)
    def rmrf(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(rmrf)
      f.delete(): Unit
    }
    rmrf(new java.io.File(pqDir))
    assert(new java.io.File(stage).renameTo(new java.io.File(pqDir)))

    // balance() reports "no baseline" as 1.0 instead of crashing on the
    // missing column; the codes route still serves identically
    val bal = idx.balance()
    assert(bal.pqErrRatio == 1.0,
      s"a legacy sidecar has no baseline — expected ratio 1.0, got ${bal.pqErrRatio}")
    assert(idx.queryQuantized(qe, k = 5, nprobe = 8, shortlist = 300)
      .collect().map(_.toSeq).toSeq == want,
      "the quantized route must keep serving over a legacy sidecar")

    // retrain re-freezes a real baseline in the new schema
    idx.retrain()
    val bal2 = idx.balance()
    assert(bal2.pqErrRatio > 0.9 && bal2.pqErrRatio < 1.1,
      s"post-retrain the drift signal is live again: ${bal2.pqErrRatio}")
  }

  // clustered fixture for the exact-pruned surfaces: 8 well-separated
  // clusters (centers 10·c per dim, intra-cluster spread < 1) so the
  // triangle-inequality bound actually prunes — uniform hash fixtures
  // are near-equidistant in 16-dim and prune nothing
  private def clusteredRows(ids: Range) = {
    import spark.implicits._
    ids.map { i =>
      val cl = i % 8
      (i.toLong, Array.tabulate(16)(j => 10f * cl + ((i * 31 + j * 7) % 11).toFloat / 11f))
    }.toDF("id", "emb")
  }

  test("queryExact / rangeSearch: exact answers with provable cell pruning") {
    val base = graft.store.Scratch.dir("graft_ivf_exact")
    val idx = new IvfIndex(spark, base, numCells = 8)
    idx.build(clusteredRows(0 until 800))
    val qe = Array.tabulate(16)(j => 10f * 3 + ((5 * 31 + j * 7) % 11).toFloat / 11f)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("id", "distance").collect()
        .map(r => (r.getLong(0), r.getDouble(1))).toSeq
    def brute(k: Int, where: Option[org.apache.spark.sql.Column] = None) =
      rows(idx.query(qe, k, nprobe = 8, where)) // full probe == brute force

    // exact == brute, while scanning a strict subset of cells
    assert(rows(idx.queryExact(qe, k = 10, probe0 = 1)) == brute(10))
    val cand = idx.exactCandidateCells(qe, k = 10, probe0 = 1)
    assert(cand.length < 8,
      s"separated clusters must prune cells, candidate set was $cand")

    // filtered exact: the bound composes with metadata predicates
    val even = Some(col("id") % 2 === 0)
    assert(rows(idx.queryExact(qe, k = 10, probe0 = 1, where = even)) ==
      brute(10, even))

    // range search == brute filter at the same radius; pruned cells
    val r = 2.0
    val want = brute(800).filter(_._2 <= r * r)
    assert(rows(idx.rangeSearch(qe, radius = r)) == want)
    assert(want.nonEmpty, "fixture must make the range non-trivial")
    assert(idx.rangeCandidateCells(qe, r).length < 8)

    // a probe far from every cluster with a tiny radius prunes EVERY
    // cell — the empty candidate set serves an empty frame, no error
    val far = Array.fill(16)(500f)
    assert(idx.rangeCandidateCells(far, 0.1).isEmpty)
    assert(idx.rangeSearch(far, 0.1).isEmpty)
  }

  test("exact surfaces stay sound under appends, deletes, compact, and missing radii") {
    val base = graft.store.Scratch.dir("graft_ivf_exact2")
    val idx = new IvfIndex(spark, base, numCells = 8)
    idx.build(clusteredRows(0 until 400))
    // appended mass lands FAR outside its assigned cell's build-time
    // radius (a ninth cluster at 10·12) — the per-batch radii sidecar is
    // what keeps pruning from dropping it
    import spark.implicits._
    val outliers = (1000 until 1040).map { i =>
      (i.toLong, Array.tabulate(16)(j => 10f * 12 + (j % 3).toFloat))
    }.toDF("id", "emb")
    idx.appendBatch(outliers, batchId = 0)
    val qe = Array.tabulate(16)(j => 10f * 12 + 1.5f) // nearest mass: the outliers
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("id", "distance").collect()
        .map(r => (r.getLong(0), r.getDouble(1))).toSeq
    def brute(k: Int) = rows(idx.query(qe, k, nprobe = 8))
    val gotApp = rows(idx.queryExact(qe, k = 10, probe0 = 1))
    assert(gotApp == brute(10),
      "append-extended radii must keep the outlier cluster reachable")
    assert(gotApp.forall(_._1 >= 1000L), "the probe's true neighbors are the appended rows")

    // deletes: stale (larger) radii stay sound, answers track the deletes
    idx.delete((1000L until 1020L).toSeq)
    assert(rows(idx.queryExact(qe, k = 10, probe0 = 1)) == brute(10))

    // compact folds the radii generations and re-tightens them
    idx.compact()
    assert(new java.io.File(s"$base/_radii").listFiles()
      .count(_.getName.startsWith("batch=")) == 1,
      "compact must fold the per-batch radii into the merged generation")
    assert(rows(idx.queryExact(qe, k = 10, probe0 = 1)) == brute(10))

    // a pre-radii index (or a crash that lost a batch's radii): pruning
    // disables — every cell is a candidate — and answers stay exact
    def rmrf(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(rmrf)
      f.delete(): Unit
    }
    rmrf(new java.io.File(s"$base/_radii"))
    assert(idx.exactCandidateCells(qe, k = 10, probe0 = 1).length == 8,
      "no radii metadata -> no pruning, scan every cell")
    assert(rows(idx.queryExact(qe, k = 10, probe0 = 1)) == brute(10))
  }

  test("hot exact surfaces: bit-equal to the Spark paths, invalidated by every mutation") {
    val base = graft.store.Scratch.dir("graft_ivf_hotex")
    val idx = new IvfIndex(spark, base, numCells = 8)
    idx.build(clusteredRows(0 until 400))
    val qe = Array.tabulate(16)(j => 10f * 3 + ((5 * 31 + j * 7) % 11).toFloat / 11f)
    def sparkRows(df: org.apache.spark.sql.DataFrame) =
      df.select("id", "cell", "distance").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq

    assert(idx.hotQueryExact(qe, 10, probe0 = 1) ==
      sparkRows(idx.queryExact(qe, 10, probe0 = 1)))
    assert(idx.hotRangeSearch(qe, 2.0) == sparkRows(idx.rangeSearch(qe, 2.0)))
    assert(idx.hotRangeSearch(qe, 2.0).nonEmpty)
    // k = 0 returns empty like every other surface (τ over zero probed
    // matches must not take max of an empty list)
    assert(idx.hotQueryExact(qe, k = 0, probe0 = 1).isEmpty)
    assert(idx.queryExact(qe, k = 0, probe0 = 1).isEmpty)

    // appended mass outside every build-time radius: the hot tier reloads
    // (publish fingerprint) and the radii extension keeps it reachable
    import spark.implicits._
    val outliers = (1000 until 1020).map { i =>
      (i.toLong, Array.tabulate(16)(j => 10f * 12 + (j % 3).toFloat))
    }.toDF("id", "emb")
    idx.appendBatch(outliers, batchId = 0)
    val oqe = Array.tabulate(16)(_ => 10f * 12 + 1.5f)
    val hotApp = idx.hotQueryExact(oqe, 5, probe0 = 1)
    assert(hotApp == sparkRows(idx.queryExact(oqe, 5, probe0 = 1)))
    assert(hotApp.forall(_._1 >= 1000L))

    // deletes invalidate both the resident rows and the answers
    idx.delete(Seq(hotApp.head._1))
    assert(idx.hotQueryExact(oqe, 5, probe0 = 1) ==
      sparkRows(idx.queryExact(oqe, 5, probe0 = 1)))
    assert(!idx.hotQueryExact(oqe, 5, probe0 = 1).exists(_._1 == hotApp.head._1))

    // missing radii: the hot exact probe scans every resident cell — same
    // degradation as the Spark path, answers still exact
    def rmrf(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(rmrf)
      f.delete(): Unit
    }
    rmrf(new java.io.File(s"$base/_radii"))
    assert(idx.hotQueryExact(oqe, 5, probe0 = 1) ==
      sparkRows(idx.queryExact(oqe, 5, probe0 = 1)))
  }

  test("compact with every row tombstoned publishes an empty generation, not a crash") {
    val base = graft.store.Scratch.dir("graft_ivf_allts")
    val idx = new IvfIndex(spark, base, numCells = 4)
    idx.build(clusteredRows(0 until 64))
    idx.delete((0L until 64L).toSeq)
    // the radii stage reads the staged merged data, which is a
    // bare-_SUCCESS dir here — the explicit schema keeps it readable and
    // the commit publishes an EMPTY generation instead of crashing
    idx.compact()
    assert(new java.io.File(s"$base/_radii").listFiles()
      .count(d => d.getName.startsWith("batch=") &&
        new java.io.File(d, "_SUCCESS").exists()) == 1)
    assert(idx.selfJoinCellPairs(100.0).isEmpty,
      "an all-empty index has no qualifying cell pairs")
    // the purged index SERVES — empty answers, not AnalysisExceptions
    // from the footerless merged generation
    val qe = Array.fill(16)(0f)
    assert(idx.query(qe, k = 3, nprobe = 4).isEmpty)
    assert(idx.queryExact(qe, k = 3, probe0 = 1).isEmpty)
    assert(idx.rangeSearch(qe, radius = 100.0).isEmpty)
    assert(idx.selfJoinWithin(100.0).isEmpty)
    assert(idx.hotQuery(qe, k = 3, nprobe = 4).isEmpty)
    assert(idx.hotQueryExact(qe, k = 3, probe0 = 1).isEmpty)
    import spark.implicits._
    assert(idx.exceptNear(Seq((1L, Array.fill(16)(0f))).toDF("qid", "qe"),
      radius = 100.0).count() == 1, "nothing to collide with -> probe survives")
  }

  test("selfJoinWithin / rangeJoin: exact answers with cell-pair pruning") {
    val base = graft.store.Scratch.dir("graft_ivf_sj")
    val idx = new IvfIndex(spark, base, numCells = 8)
    // ground truth from the SAME fixture helper the index is built from —
    // a hand-copied formula could silently diverge from what was indexed
    val rows0 = clusteredRows(0 until 800).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray)).toSeq.sortBy(_._1)
    idx.build(clusteredRows(0 until 800))
    // driver-side ground truth with VF.l2Sq's exact fold order (dims in
    // order, float -> double per element)
    def d2(a: Array[Float], b: Array[Float]): Double =
      a.indices.foldLeft(0.0) { (s, j) =>
        val d = a(j).toDouble - b(j).toDouble; s + d * d }
    val r = 2.0
    def brutePairs(pred: Long => Boolean) =
      (for {
        (ia, va) <- rows0; if pred(ia)
        (ib, vb) <- rows0; if ia < ib && pred(ib)
        d = d2(va, vb); if d <= r * r
      } yield (ia, ib, d)).sortBy(p => (p._1, p._2))
    def got(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(x => (x.getLong(0), x.getLong(1), x.getDouble(2))).toSeq

    val all = brutePairs(_ => true)
    assert(all.nonEmpty, "fixture must make the join non-trivial")
    assert(got(idx.selfJoinWithin(r)) == all)
    // 8 well-separated clusters at radius 2: only the diagonal cell pairs
    // can qualify — a strict subset of the 36 unordered pairs
    assert(idx.selfJoinCellPairs(r).length < 36,
      s"separated clusters must prune cell pairs: ${idx.selfJoinCellPairs(r)}")
    // where composes on BOTH sides
    assert(got(idx.selfJoinWithin(r, where = Some(col("id") % 2 === 0))) ==
      brutePairs(_ % 2 == 0))

    // rangeJoin == rangeSearch probe-for-probe, distributed
    import spark.implicits._
    val probeIds = Seq(5L, 13L, 200L)
    val probes = rows0.filter(p => probeIds.contains(p._1))
      .toDF("qid", "qe")
    val rj = idx.rangeJoin(probes, radius = 4.0).collect()
      .map(x => (x.getLong(0), x.getLong(1), x.getDouble(2))).toSeq
    val perProbe = probeIds.flatMap { pid =>
      val qe = rows0.find(_._1 == pid).get._2
      idx.rangeSearch(qe, radius = 4.0).collect()
        .map(x => (pid, x.getLong(0), x.getDouble(x.fieldIndex("distance"))))
    }.sortBy(p => (p._1, p._2))
    assert(rj.sortBy(p => (p._1, p._2)) == perProbe)
    // probe id column may not shadow the index's output columns
    assertThrows[IllegalArgumentException] {
      idx.rangeJoin(probes.withColumnRenamed("qid", "id"), 1.0, idCol = "id")
    }

    // exceptNear: the decontamination filter is exactly probes minus the
    // range join's matched ids, schema preserved
    val matched = idx.rangeJoin(probes, radius = 4.0)
      .select("qid").distinct().collect().map(_.getLong(0)).toSet
    val kept = idx.exceptNear(probes, radius = 4.0)
    assert(kept.columns.toSeq == Seq("qid", "qe"),
      "survivors keep the probe frame's schema")
    assert(kept.select("qid").collect().map(_.getLong(0)).toSet ==
      probeIds.toSet -- matched)
    // a far probe survives even when every near probe is contaminated
    val farProbes = Seq((999L, Array.fill(16)(500f))).toDF("qid", "qe")
    assert(idx.exceptNear(farProbes, radius = 4.0).count() == 1)

    // tombstones drop pairs immediately on both surfaces
    idx.delete(Seq(5L))
    assert(got(idx.selfJoinWithin(r)) == all.filterNot(p => p._1 == 5L || p._2 == 5L))
    assert(idx.rangeJoin(probes, radius = 4.0)
      .filter(col("id") === 5L).isEmpty)

    // missing radii: every cell pair is a candidate, answers unchanged
    def rmrf(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(rmrf)
      f.delete(): Unit
    }
    rmrf(new java.io.File(s"$base/_radii"))
    assert(idx.selfJoinCellPairs(r).length == 36,
      "no radii metadata -> every unordered cell pair joins")
    assert(got(idx.selfJoinWithin(r)) == all.filterNot(p => p._1 == 5L || p._2 == 5L))
  }
}
