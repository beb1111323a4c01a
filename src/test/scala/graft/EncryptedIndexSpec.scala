package graft

import graft.store.EncryptedStore
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/**
 * Encrypted vector SEARCH — the reference's core promise
 * (cyborgdb_store.py:1-11), not just encrypted storage: ciphertext rows
 * cell-partitioned by a trained IVF assignment, an ENCRYPTED centroid
 * sidecar, and a query path that reads only probed partitions and
 * decrypts only those rows. Pinned here: full-probe == brute force,
 * partition pruning in the physical plan, key-less uselessness, delete /
 * compact / rotation preserving the indexed layout.
 */
class EncryptedIndexSpec extends AnyFunSuite with SparkTest {

  import spark.implicits._

  private def tmp(tag: String): String =
    graft.store.Scratch.dir(s"graft_$tag")

  private val Key = "0123456789abcdef"

  private def rowsOf(r: Range) = r.map(i => (s"id$i", s"doc $i",
    Array.tabulate(64)(j => ((i * 37 + j * 11) % 101).toFloat / 101f)))
    .toDF("id", "doc", "emb")

  private def probe(i: Int): Array[Float] =
    Array.tabulate(64)(j => ((i * 37 + j * 11) % 101).toFloat / 101f)

  private def got(df: org.apache.spark.sql.DataFrame): Seq[(String, String, Double)] =
    df.select("id", "doc", "distance").collect()
      .map(r => (r.getString(0), r.getString(1), r.getDouble(2))).toSeq

  test("full-probe indexed query equals the brute-force decrypt path; pruned probe is partition-pruned") {
    val base = tmp("enc_idx")
    val es = new EncryptedStore(spark, base, Key)
    es.storeIndexed(rowsOf(1 to 300), "c", numCells = 6)

    val brute = got(es.query("c", probe(7), k = 10))
    val full = got(es.queryIndexed("c", probe(7), k = 10, nprobe = 6))
    assert(full == brute, "full-probe indexed query must equal brute force")

    val pruned = es.queryIndexed("c", probe(7), k = 10, nprobe = 2)
    val plan = pruned.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [cell#") ||
      plan.contains("PartitionFilters: [isnotnull(cell"),
      s"expected cell partition filters in:\n$plan")
    // IVF semantics: the pruned answer is exact within its probed cells —
    // every returned id must appear in the full-probe answer's corpus
    val prunedRows = got(pruned)
    assert(prunedRows.nonEmpty && prunedRows.map(_._3) == prunedRows.map(_._3).sorted)

    // without the key: ciphertext extraction works, search is useless
    val wrong = new EncryptedStore(spark, base, "ffffffffffffffff")
    assert(wrong.extractSecure("c").count() == 300,
      "ciphertext extraction must not need the true key")
    val ex = intercept[Exception] {
      wrong.queryIndexed("c", probe(7), k = 5, nprobe = 6).collect()
    }
    assert(ex != null, "wrong-key indexed query must fail, not return garbage")
  }

  test("delete, compact, and key rotation preserve the indexed layout and answers") {
    val es = new EncryptedStore(spark, tmp("enc_idx2"), Key)
    es.storeIndexed(rowsOf(1 to 200), "c", numCells = 4)
    val before = got(es.queryIndexed("c", probe(5), k = 8, nprobe = 4))

    // delete a served id: every surface stops serving it immediately
    val victim = before.head._1
    es.delete("c", Seq(victim))
    val after = got(es.queryIndexed("c", probe(5), k = 8, nprobe = 4))
    assert(!after.exists(_._1 == victim), "deleted id must vanish from indexed queries")
    assert(after.take(before.size - 1) == before.tail,
      "surviving rows keep their relative order after the delete")

    // compact: physical purge, partition pruning still in the plan
    es.compact("c")
    val postCompact = es.queryIndexed("c", probe(5), k = 8, nprobe = 2)
    val plan = postCompact.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [cell#") ||
      plan.contains("PartitionFilters: [isnotnull(cell"),
      s"compaction must keep the cell partitioning:\n$plan")
    assert(got(es.queryIndexed("c", probe(5), k = 8, nprobe = 4)) == after,
      "compaction must not change answers")

    // rotation: same answers under the new key, old key locked out,
    // pruning intact
    val es2 = es.rotateKey("c", "fedcba9876543210")
    assert(got(es2.queryIndexed("c", probe(5), k = 8, nprobe = 4)) == after,
      "rotated store must serve identical answers")
    val plan2 = es2.queryIndexed("c", probe(5), k = 8, nprobe = 2)
      .queryExecution.executedPlan.toString
    assert(plan2.contains("PartitionFilters: [cell#") ||
      plan2.contains("PartitionFilters: [isnotnull(cell"),
      s"rotation must keep the cell partitioning:\n$plan2")
    intercept[Exception] { got(es.queryIndexed("c", probe(5), k = 8, nprobe = 4)) }
  }

  test("SQ8 codes route: full-depth == queryIndexed, codes-only phase-1 scan, survives rotation") {
    val es = new EncryptedStore(spark, tmp("enc_sq8"), Key)
    es.storeIndexed(rowsOf(1 to 300), "c", numCells = 6)

    // full shortlist depth: the quantized route IS queryIndexed (the
    // rerank decrypts every probed-cell row, so code error cannot bite)
    val raw = got(es.queryIndexed("c", probe(7), k = 10, nprobe = 2))
    val quant = got(es.queryIndexedQuantized("c", probe(7), k = 10, nprobe = 2, shortlist = 300))
    assert(quant == raw, "full-depth quantized encrypted probe must equal queryIndexed")

    // bounded depth stays exact here (codes separate these vectors well)
    val q32 = got(es.queryIndexedQuantized("c", probe(7), k = 10, nprobe = 2, shortlist = 32))
    assert(q32.map(_._1).toSet.intersect(raw.map(_._1).toSet).size >= 8,
      "depth-32 recall collapsed on fixture data")

    // phase 1 reads (id, codes_ct) ONLY: the full-fat emb_ct/doc_ct
    // ciphertext never leaves disk until the bounded rerank
    val p = es.encCodesShortlist("c", probe(7), nprobe = 2, shortlist = 32)
      .queryExecution.executedPlan.toString
    val readSchema = p.linesIterator.filter(_.contains("ReadSchema")).mkString
    assert(readSchema.contains("codes_ct"), s"phase 1 must read codes_ct:\n$p")
    assert(!readSchema.contains("emb_ct") && !readSchema.contains("doc_ct"),
      s"phase 1 must NOT read emb_ct/doc_ct:\n$p")

    // deletes hit the codes route immediately
    val victim = raw.head._1
    es.delete("c", Seq(victim))
    val afterDel = got(es.queryIndexedQuantized("c", probe(7), k = 10, nprobe = 2, shortlist = 300))
    assert(!afterDel.exists(_._1 == victim), "deleted id must not surface via codes")

    // rotation re-encrypts codes_ct and the SQ8 sidecar: same answers
    // under the new key, old key locked out
    val es2 = es.rotateKey("c", "fedcba9876543210")
    assert(got(es2.queryIndexedQuantized("c", probe(7), k = 10, nprobe = 2, shortlist = 300)) == afterDel,
      "rotated store must serve identical quantized answers")
    intercept[Exception] {
      got(es.queryIndexedQuantized("c", probe(7), k = 10, nprobe = 2, shortlist = 300))
    }
  }

  test("encrypted PQ codes route: full-depth == queryIndexed, codes-only phase 1, append + rotation + batch") {
    val base = tmp("enc_pq")
    val es = new EncryptedStore(spark, base, Key)
    es.storeIndexed(rowsOf(1 to 300), "c", numCells = 6, codes = "pq", pqM = 8)

    // full-depth quantized == the raw indexed route == brute force
    val brute = got(es.query("c", probe(7), k = 10))
    assert(got(es.queryIndexedQuantized("c", probe(7), k = 10, nprobe = 6,
      shortlist = 300)) == brute,
      "full-depth encrypted PQ probe must equal brute force")

    // phase 1 decrypts ONLY codes_ct: the full-fat ciphertext stays on disk
    val plan = es.encCodesShortlist("c", probe(7), nprobe = 2, shortlist = 32)
      .queryExecution.executedPlan.toString
    val readSchema = plan.linesIterator.filter(_.contains("ReadSchema")).mkString
    assert(readSchema.contains("codes_ct") && !readSchema.contains("emb_ct") &&
      !readSchema.contains("doc_ct"),
      s"PQ phase 1 must read (id, codes_ct) only:\n$plan")

    // appends encode through the FROZEN codebooks; equality holds across
    val es0 = new EncryptedStore(spark, base, Key)
    es0.appendIndexedBatch(rowsOf(301 to 340), "c", batchId = 0)
    assert(got(es.queryIndexedQuantized("c", probe(7), k = 10, nprobe = 6,
      shortlist = 340)) == got(es.queryIndexed("c", probe(7), k = 10, nprobe = 6)),
      "full-depth equality must hold over build + append")

    // the quantized batch dispatches on the PQ sidecar too
    val probes: Seq[(Long, Array[Float])] = Seq(7L, 113L).map(i => (i, probe(i.toInt)))
    def batchRows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("probe_id", "rn").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getDouble(3), r.getInt(4))).toSeq
    assert(batchRows(es.queryIndexedBatchQuantized("c", probes, k = 5, nprobe = 6,
      shortlist = 340)) ==
      batchRows(es.queryIndexedBatch("c", probes, k = 5, nprobe = 6)),
      "full-depth PQ batch must equal the raw encrypted batch")

    // rotation re-encrypts the codebook sidecar; the route survives
    val want = got(es.queryIndexed("c", probe(7), k = 10, nprobe = 6))
    val es2 = es.rotateKey("c", "fedcba9876543210")
    assert(got(es2.queryIndexedQuantized("c", probe(7), k = 10, nprobe = 6,
      shortlist = 340)) == want,
      "the encrypted PQ route must serve identically under the rotated key")
  }

  test("encrypted retrain: drift flood flags balanceIndexed, retrainIndexed repairs on both quantizers") {
    import spark.implicits._
    for (kind <- Seq("sq8", "pq")) {
      val base = tmp(s"enc_rt_$kind")
      val es = new EncryptedStore(spark, base, Key)
      es.storeIndexed(rowsOf(1 to 300), "c", numCells = 6, codes = kind)
      val b0 = es.balanceIndexed("c")
      assert(b0.liveRows == 300)
      if (kind == "sq8") assert(b0.sq8ClipRate == 0.0)
      // the lattice fixture has only 101 distinct vectors, so 256 PQ
      // codewords reconstruct it EXACTLY (degenerate zero baseline → ratio
      // pins to the healthy 1.0); real-valued corpora land near 1.0 too
      // (IvfIndexSpec's pq-drift test covers that side)
      else assert(b0.pqErrRatio > 0.9 && b0.pqErrRatio < 1.1, s"$kind baseline: $b0")

      // drifted flood through the streaming append path: shifted far
      // outside the frozen quantizer's world
      val flood = (1 to 200).map { i =>
        (s"fl$i", s"flood $i", probe(i).map(x => x + 4.0f))
      }.toDF("id", "doc", "emb")
      es.appendIndexedBatch(flood, "c", batchId = 0)
      val b1 = es.balanceIndexed("c")
      assert(b1.liveRows == 500)
      if (kind == "sq8")
        assert(b1.sq8ClipRate > 0.1, s"$kind flood must clip: $b1")
      else assert(b1.pqErrRatio > 2.0, s"$kind flood must inflate error: $b1")

      val want = got(es.queryIndexed("c", probe(7), k = 10, nprobe = 6))
      es.retrainIndexed("c")
      val b2 = es.balanceIndexed("c")
      assert(b2.liveRows == 500, s"retrain must keep the live rows: $b2")
      if (kind == "sq8") assert(b2.sq8ClipRate == 0.0, s"re-frozen grid covers live rows: $b2")
      else assert(b2.pqErrRatio > 0.5 && b2.pqErrRatio < 1.5, s"re-fitted codebooks: $b2")
      assert(b2.maxOverMean <= b1.maxOverMean, s"skew must not worsen: $b1 -> $b2")
      assert(got(es.queryIndexed("c", probe(7), k = 10, nprobe = 6)) == want,
        "full-probe answers preserved across the encrypted retrain")
      assert(got(es.queryIndexedQuantized("c", probe(7), k = 10, nprobe = 6,
        shortlist = 500)) == want,
        "the quantized route serves through the re-frozen quantizer")
    }
  }

  test("batch probes: one union-of-cells decrypt pass equals the per-probe loop on both routes") {
    val base = tmp("enc_batch")
    val es = new EncryptedStore(spark, base, Key)
    es.storeIndexed(rowsOf(1 to 300), "c", numCells = 6)
    val probes: Seq[(Long, Array[Float])] = Seq(7L, 31L, 113L, 250L).map(i => (i, probe(i.toInt)))
    def batchRows(df: org.apache.spark.sql.DataFrame): Seq[(Long, String, String, Double, Int)] =
      df.orderBy("probe_id", "rn").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getDouble(3), r.getInt(4))).toSeq

    // the per-probe loop at each probe's own depth (string-id tie order:
    // TopKRows under the STRING spine ≡ the single probe's `order by id`);
    // answers memoized per (probe, depth, shortlist) — depthOf pins two
    // probes to the same depth under every uniform nprobe
    val depthOf = Map(7L -> 1, 113L -> 6)
    val rawSingle = scala.collection.mutable.Map.empty[(Long, Int), Seq[(String, String, Double)]]
    val quantSingle = scala.collection.mutable.Map.empty[(Long, Int, Int), Seq[(String, String, Double)]]
    def loop(np: Int, d: Map[Long, Int])(
        single: (Long, Array[Float], Int) => Seq[(String, String, Double)]) =
      probes.flatMap { case (pid, qe) =>
        single(pid, qe, d.getOrElse(pid, np)).zipWithIndex
          .map { case ((id, doc, dist), i) => (pid, id, doc, dist, i + 1) }
      }

    // raw and quantized batches == the per-probe queryIndexed /
    // queryIndexedQuantized loops, probe for probe: partial and full
    // nprobe, uniform and per-probe depths, bounded and full shortlists
    for (np <- Seq(2, 6); d <- Seq(Map.empty[Long, Int], depthOf)) {
      assert(batchRows(es.queryIndexedBatch("c", probes, k = 5, nprobe = np, depthOf = d)) ==
        loop(np, d)((pid, qe, depth) => rawSingle.getOrElseUpdate((pid, depth),
          got(es.queryIndexed("c", qe, k = 5, nprobe = depth)))),
        s"nprobe=$np depthOf=$d: batch must equal the per-probe loop")
      for (shortlist <- Seq(5, 32, 300)) {
        assert(batchRows(es.queryIndexedBatchQuantized("c", probes, k = 5,
            nprobe = np, shortlist = shortlist, depthOf = d)) ==
          loop(np, d)((pid, qe, depth) => quantSingle.getOrElseUpdate((pid, depth, shortlist),
            got(es.queryIndexedQuantized("c", qe, k = 5, nprobe = depth,
              shortlist = shortlist)))),
          s"nprobe=$np shortlist=$shortlist depthOf=$d: quantized batch " +
            "must equal the per-probe quantized loop")
      }
    }

    // quantized batch at full depth == raw batch
    val full = batchRows(es.queryIndexedBatchQuantized("c", probes, k = 5, nprobe = 6, shortlist = 300))
    assert(full == batchRows(es.queryIndexedBatch("c", probes, k = 5, nprobe = 6)),
      "full-depth quantized batch must equal the raw batch")
  }

  test("queryIndexedBatchDF: an encrypted probe FRAME serves the Seq routes' exact answers — depth opt-in, salted join, bounded decrypt") {
    val base = tmp("enc_batch_df")
    val es = new EncryptedStore(spark, base, Key)
    es.storeIndexed(rowsOf(1 to 300), "c", numCells = 6)
    val panel: Seq[(Long, Array[Float])] = Seq(7L, 31L, 113L, 250L).map(i => (i, probe(i.toInt)))
    val depthOf = Map(7L -> 1, 113L -> 6)
    val probesDf = spark.createDataFrame(panel.map { case (pid, qe) =>
      (pid, qe.toSeq, depthOf.get(pid)) }).toDF("probe_id", "qe", "depth")
    def batchRows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("probe_id", "rn").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getDouble(3), r.getInt(4))).toSeq
    // full shortlist ≡ the raw encrypted batch at uniform and in-frame depths
    for (np <- Seq(2, 6)) {
      assert(batchRows(es.queryIndexedBatchDF("c", probesDf.drop("depth"),
          k = 5, nprobe = np, shortlist = 300)) ==
        batchRows(es.queryIndexedBatch("c", panel, k = 5, nprobe = np)),
        s"nprobe=$np: the DF route at full shortlist must equal the raw batch")
      assert(batchRows(es.queryIndexedBatchDF("c", probesDf, k = 5, nprobe = np,
          shortlist = 300, useDepth = true)) ==
        batchRows(es.queryIndexedBatch("c", panel, k = 5, nprobe = np,
          depthOf = depthOf)),
        s"nprobe=$np: the in-frame depth policy must serve the driver-map answers")
    }
    // bounded shortlist ≡ the quantized Seq route (same two-phase trade)
    assert(batchRows(es.queryIndexedBatchDF("c", probesDf.drop("depth"),
        k = 5, nprobe = 2, shortlist = 32)) ==
      batchRows(es.queryIndexedBatchQuantized("c", panel, k = 5, nprobe = 2,
        shortlist = 32)),
      "bounded-shortlist DF route must equal the quantized Seq batch")
    // the depth policy is an explicit opt-in: a stray depth column without
    // useDepth must not change probing depth
    assert(batchRows(es.queryIndexedBatchDF("c", probesDf, k = 5, nprobe = 2,
        shortlist = 300)) ==
      batchRows(es.queryIndexedBatch("c", panel, k = 5, nprobe = 2)),
      "a depth column without useDepth must be ignored")
    // the SALTED join route (probe frames past the broadcast limit) must
    // serve identical answers
    spark.conf.set(graft.operators.ProbeJoin.LimitKey, "1")
    try {
      assert(batchRows(es.queryIndexedBatchDF("c", probesDf, k = 5, nprobe = 6,
          shortlist = 300, useDepth = true)) ==
        batchRows(es.queryIndexedBatch("c", panel, k = 5, nprobe = 6,
          depthOf = depthOf)),
        "salted cell join must serve the broadcast route's exact answers")
    } finally spark.conf.unset(graft.operators.ProbeJoin.LimitKey)
    // an empty probe frame answers empty, never an NPE
    assert(es.queryIndexedBatchDF("c", probesDf.filter(lit(false)), 5, 2).count() == 0)
  }

  test("encrypted depth-policy sidecar: reopen serves committed depths with zero calibration; any commit and a key rotation fence it stale BEFORE decrypt; self-healing is loud") {
    import graft.store.IvfIndex.{PolicyAbsent, PolicyFresh, PolicyStale}
    val base = tmp("enc_depths")
    val es = new EncryptedStore(spark, base, Key)
    es.storeIndexed(rowsOf(1 to 300), "c", numCells = 6)
    val panel: Seq[(Long, Array[Float])] = Seq(7L, 31L, 113L).map(i => (i, probe(i.toInt)))
    val k = 5
    assert(es.depthPolicyStatus("c", panel, k) == PolicyAbsent)
    intercept[RuntimeException](es.depthPolicy("c", panel, k))
    val persisted = es.persistDepthPolicy("c", panel, k)
    assert(persisted == es.exactDepths("c", panel, k),
      "the persisted policy IS exactDepths' measurement")
    // a REOPENED handle (a fresh server process under the same key) reads
    // the committed ENCRYPTED map through the fence — zero calibration
    val es2 = new EncryptedStore(spark, base, Key)
    assert(es2.depthPolicyStatus("c", panel, k) == PolicyFresh)
    assert(es2.depthPolicy("c", panel, k) == persisted)
    // serving at the committed per-probe depths == full-probe serving
    // (each probe decrypts only its own provably-needed cells)
    def batchRows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("probe_id", "rn").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getDouble(3), r.getInt(4))).toSeq
    assert(batchRows(es2.queryIndexedBatch("c", panel, k, nprobe = 2, depthOf = persisted)) ==
      batchRows(es2.queryIndexedBatch("c", panel, k, nprobe = 6)),
      "committed depths must serve the full-probe answers")
    // a different panel or k is not this policy at all
    assert(es2.depthPolicyStatus("c", panel.take(2), k) == PolicyAbsent)
    assert(es2.depthPolicyStatus("c", panel, k + 1) == PolicyAbsent)
    // any content commit sweeps it stale; strict refuses, healing re-measures
    val es0 = new EncryptedStore(spark, base, Key)
    es0.appendIndexedBatch(rowsOf(301 to 320), "c", batchId = 0)
    assert(es2.depthPolicyStatus("c", panel, k) == PolicyStale)
    val eStale = intercept[RuntimeException](es2.depthPolicy("c", panel, k))
    assert(eStale.getMessage.contains("STALE"))
    val healed = es2.depthPolicyOrRecalibrate("c", panel, k)
    assert(healed == es2.exactDepths("c", panel, k))
    assert(es2.depthPolicyStatus("c", panel, k) == PolicyFresh)
    // key rotation rewrites every file: the fence reads STALE from
    // metadata alone — the old-key ciphertext is never decrypted — and
    // the rotated store re-persists under ITS key; content is unchanged,
    // so the re-measured depths equal the pre-rotation policy
    // the committed policy RIDES THE FRAME too: depthPolicy -> depth
    // column -> the encrypted DF-probe route serves the full-probe
    // answers with each probe's decrypt bounded to its own cells
    val probesDf = spark.createDataFrame(panel.map { case (pid, qe) =>
      (pid, qe.toSeq, healed(pid)) }).toDF("probe_id", "qe", "depth")
    assert(batchRows(es2.queryIndexedBatchDF("c", probesDf, k, nprobe = 2,
        shortlist = 320, useDepth = true)) ==
      batchRows(es2.queryIndexedBatch("c", panel, k, nprobe = 6)),
      "the persisted policy routed through the frame must serve full-probe answers")
    val es3 = es2.rotateKey("c", "fedcba9876543210")
    assert(es3.depthPolicyStatus("c", panel, k) == PolicyStale)
    intercept[RuntimeException](es3.depthPolicy("c", panel, k))
    val rotated = es3.depthPolicyOrRecalibrate("c", panel, k)
    assert(rotated == healed, "rotation changes no content — depths must agree")
    assert(es3.depthPolicyStatus("c", panel, k) == PolicyFresh)
    assert(es3.depthPolicy("c", panel, k) == rotated)
  }

  test("encrypted batch serving shuffles answers, not decrypted candidates: no Window in the serving plans") {
    val base = tmp("enc_batch_tail")
    val es = new EncryptedStore(spark, base, Key)
    es.storeIndexed(rowsOf(1 to 300), "c", numCells = 6)
    val probes: Seq[(Long, Array[Float])] = Seq(7L, 31L, 113L, 250L).map(i => (i, probe(i.toInt)))
    // THE SHAPE CLAIM: both serving frames cut top-k through the bounded
    // native aggregate whose exchange carries k × probes × tasks ANSWER
    // rows with the doc CIPHERTEXT as payload — never a probe-keyed window
    // over the full decrypted candidate volume (which on this twin ships
    // DECRYPTED embeddings through shuffle files). The answers themselves
    // are pinned per probe in "batch probes: one union-of-cells decrypt
    // pass equals the per-probe loop on both routes".
    val rawPlan = es.queryIndexedBatch("c", probes, k = 5, nprobe = 2)
      .queryExecution.executedPlan.toString
    assert(!rawPlan.contains("Window") && rawPlan.contains("top_k_rows"),
      s"encrypted batch serving must not window decrypted candidates:\n$rawPlan")
    val quantPlan = es.queryIndexedBatchQuantized("c", probes, k = 5,
      nprobe = 2, shortlist = 32).queryExecution.executedPlan.toString
    assert(!quantPlan.contains("Window") && quantPlan.contains("top_k_rows"),
      s"encrypted quantized batch serving must not window the rerank:\n$quantPlan")
  }

  test("streaming encrypted ingest: stream == batch (decrypted), replay-idempotent, fenced, tombstoned") {
    import graft.functions.{TextFunctions => TF}
    def docRows(r: Range) = r.map(i =>
      (i.toLong, s"confidential record $i about topic ${i % 7}", "en", "demo", 30L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    def asStoreRows(df: org.apache.spark.sql.DataFrame) = df
      .select(col("doc_id").cast("string").as("id"), col("text").as("doc"),
        TF.hashEmbed(TF.tokens(col("text")), 64).as("emb"))
    def decrypted(es: graft.store.EncryptedStore) =
      es.open("c").collect()
        .map(r => (r.getString(0), r.getString(1), r.getSeq[Float](2).toSeq))
        .sortBy(_._1).toSeq

    // batch-built truth: every row through storeIndexed in one shot
    val esA = new graft.store.EncryptedStore(spark, tmp("enc_strA"), Key)
    esA.storeIndexed(asStoreRows(docRows(1 to 120)), "c", numCells = 4)

    // stream-maintained: seed with the first 80, drain the remaining 40
    // from a parquet source through maintainEncrypted (AvailableNow)
    val esB = new graft.store.EncryptedStore(spark, tmp("enc_strB"), Key)
    esB.storeIndexed(asStoreRows(docRows(1 to 80)), "c", numCells = 4)
    val src = tmp("enc_src")
    docRows(81 to 100).write.mode("append").parquet(src)
    docRows(101 to 120).write.mode("append").parquet(src)
    val q = graft.streaming.StreamOps.maintainEncrypted(
      spark, src, esB, "c", tmp("enc_ckpt"))
    q.awaitTermination()
    // decrypted CONTENT equality — layout (cells/batches) legitimately
    // differs (centroids trained on different seeds), the data must not
    assert(decrypted(esB) == decrypted(esA),
      "stream-maintained store must decrypt to the batch-built contents")
    // and the streamed rows serve cell-pruned: full-probe == brute force
    assert(got(esB.queryIndexed("c", probe(3), k = 8, nprobe = 4)) ==
      got(esB.query("c", probe(3), k = 8)),
      "full-probe indexed query must equal brute force after streaming")

    // replay idempotence: re-delivering a micro-batch (same batch id)
    // leaves the decrypted contents bit-identical
    val before = decrypted(esB)
    esB.appendIndexedBatch(asStoreRows(docRows(101 to 120)), "c", batchId = 1L)
    assert(decrypted(esB) == before, "batch replay must be idempotent")

    // compaction fence: a replay arriving AFTER compact folded its dir is
    // dropped (no duplicate rows, contents unchanged)
    esB.compact("c")
    esB.appendIndexedBatch(asStoreRows(docRows(101 to 120)), "c", batchId = 1L)
    assert(decrypted(esB) == before, "post-compact replay must be fenced")

    // tombstones reach streamed rows: delete one, every surface drops it
    esB.delete("c", Seq("110"))
    assert(!esB.extractSecure("c").collect().map(_.getString(0)).contains("110"))
    assert(!got(esB.queryIndexed("c", probe(3), k = 120, nprobe = 4)).exists(_._1 == "110"))
  }

  test("pre-base_err_ct PQ sidecar: balance and rotation degrade gracefully; balance guards misuse") {
    val base = tmp("enc_pqlegacy")
    val es = new EncryptedStore(spark, base, Key)
    es.storeIndexed(rowsOf(1 to 300), "c", numCells = 6, codes = "pq", pqM = 8)
    val want = got(es.queryIndexedQuantized("c", probe(7), k = 10, nprobe = 6,
      shortlist = 300))

    // rewrite the encrypted sidecar in the pre-drift-signal schema
    val pqDir = s"$base/__enc_pq/c"
    val legacy = spark.read.parquet(pqDir).drop("base_err_ct")
    val stage = s"$base/__enc_pq/c_old"
    legacy.write.parquet(stage)
    def rmrf(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(rmrf)
      f.delete(): Unit
    }
    rmrf(new java.io.File(pqDir))
    assert(new java.io.File(stage).renameTo(new java.io.File(pqDir)))

    // no baseline -> ratio 1.0, not an AnalysisException mid-maintenance
    assert(es.balanceIndexed("c").pqErrRatio == 1.0,
      "a legacy encrypted sidecar has no baseline — expected ratio 1.0")
    // the security-critical rotation must not wedge on the missing column
    val es2 = es.rotateKey("c", "fedcba9876543210")
    assert(got(es2.queryIndexedQuantized("c", probe(7), k = 10, nprobe = 6,
      shortlist = 300)) == want,
      "rotation over a legacy sidecar must preserve the quantized answers")
    // retrain freezes a real baseline in the new schema under the new key
    // (the lattice fixture may reconstruct exactly — degenerate-baseline
    // rule pins a healthy index at 1.0 either way)
    es2.retrainIndexed("c")
    val r = es2.balanceIndexed("c").pqErrRatio
    assert(r >= 0.9 && r <= 1.1, s"post-retrain the drift signal is live again: $r")

    // misuse guard: balance on a never-indexed name is a diagnosable error
    val e = intercept[IllegalArgumentException](es2.balanceIndexed("nope"))
    assert(e.getMessage.contains("storeIndexed"),
      s"expected the storeIndexed() hint, got: ${e.getMessage}")
  }

  test("exact surfaces on ciphertext: pruned decrypt, parity, appends, rotation, missing radii") {
    val base = tmp("enc_exact")
    val es = new EncryptedStore(spark, base, Key)
    // clustered fixture (6 well-separated clusters, zero-padded string ids
    // so the self-join's id_l < id_r string order matches numeric order) —
    // the uniform rowsOf fixture is near-equidistant and prunes nothing
    def clustered(r: Range) = r.map { i =>
      val cl = i % 6
      (f"id$i%04d", s"doc $i",
        Array.tabulate(16)(j => 10f * cl + ((i * 31 + j * 7) % 11).toFloat / 11f))
    }.toDF("id", "doc", "emb")
    es.storeIndexed(clustered(0 until 300), "c", numCells = 6)
    val rows0 = clustered(0 until 300).collect()
      .map(r => (r.getString(0), r.getString(1), r.getSeq[Float](2).toArray)).toSeq
    def d2(a: Array[Float], b: Array[Float]): Double =
      a.indices.foldLeft(0.0) { (s, j) =>
        val d = a(j).toDouble - b(j).toDouble; s + d * d }
    val qe = rows0.find(_._1 == "id0015").get._3 // cluster 3

    // exact == brute decrypt while decrypting a strict subset of cells
    val brute = got(es.queryIndexed("c", qe, k = 10, nprobe = 6))
    assert(got(es.queryIndexedExact("c", qe, k = 10, probe0 = 1)) == brute)
    assert(es.encExactCandidateCells("c", qe, k = 10, probe0 = 1).length < 6,
      "separated clusters must prune cells on ciphertext")

    // range search == driver brute filter at the same radius
    val r = 2.0
    val wantRange = rows0.map(t => (t._1, t._2, d2(t._3, qe)))
      .filter(_._3 <= r * r).sortBy(t => (t._3, t._1))
    assert(got(es.rangeSearchIndexed("c", qe, radius = r)) == wantRange)
    assert(wantRange.nonEmpty)
    assert(es.encRangeCandidateCells("c", qe, r).length < 6)

    // encrypted near-dup self-join == driver brute pairs; the decrypt is
    // one localCheckpointed pass, the pair join prunes cell pairs
    def pairsGot(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(x => (x.getString(0), x.getString(1), x.getDouble(2))).toSeq
    val wantPairs = (for {
      (ia, _, va) <- rows0; (ib, _, vb) <- rows0; if ia < ib
      d = d2(va, vb); if d <= r * r
    } yield (ia, ib, d)).sortBy(p => (p._1, p._2))
    assert(wantPairs.nonEmpty)
    assert(pairsGot(es.selfJoinIndexed("c", r)) == wantPairs)

    // appended mass lands far outside its cell's build-time radius — the
    // per-generation radii keep it reachable for exact probes
    val outliers = (1000 until 1020).map { i =>
      (f"id$i%04d", s"doc $i", Array.tabulate(16)(j => 10f * 12 + (j % 3).toFloat))
    }.toDF("id", "doc", "emb")
    es.appendIndexedBatch(outliers, "c", batchId = 0)
    val oqe = Array.tabulate(16)(_ => 10f * 12 + 1.5f)
    val bruteApp = got(es.queryIndexed("c", oqe, k = 5, nprobe = 6))
    val gotApp = got(es.queryIndexedExact("c", oqe, k = 5, probe0 = 1))
    assert(gotApp == bruteApp,
      "append-extended radii must keep the outlier cluster reachable")
    assert(gotApp.forall(_._1 >= "id1000"))

    // rotation folds + re-encrypts the radii sidecar: the successor store
    // still prunes (a stale old-key sidecar would fail decryption loudly)
    val es2 = es.rotateKey("c", "fedcba9876543210")
    assert(got(es2.queryIndexedExact("c", qe, k = 10, probe0 = 1)) ==
      got(es2.queryIndexed("c", qe, k = 10, nprobe = 6)))
    assert(es2.encExactCandidateCells("c", qe, k = 10, probe0 = 1).length < 6,
      "pruning must survive rotation under the new key")

    // deletes: stale (larger) radii stay sound; compact folds generations
    es2.delete("c", Seq("id1000", "id1001"))
    val bruteDel = got(es2.queryIndexed("c", oqe, k = 5, nprobe = 6))
    assert(got(es2.queryIndexedExact("c", oqe, k = 5, probe0 = 1)) == bruteDel)
    assert(!bruteDel.exists(p => p._1 == "id1000" || p._1 == "id1001"))
    es2.compact("c")
    assert(new java.io.File(s"$base/__enc_radii/c").listFiles()
      .count(_.getName.startsWith("batch=")) == 1,
      "compact must fold the radii generations")
    assert(got(es2.queryIndexedExact("c", qe, k = 10, probe0 = 1)) ==
      got(es2.queryIndexed("c", qe, k = 10, nprobe = 6)))

    // a store whose radii are missing (pre-radii layout): every cell is a
    // candidate, answers stay exact
    def rmrf(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(rmrf)
      f.delete(): Unit
    }
    rmrf(new java.io.File(s"$base/__enc_radii/c"))
    assert(es2.encExactCandidateCells("c", qe, k = 10, probe0 = 1).length == 6,
      "no radii sidecar -> decrypt every cell")
    assert(got(es2.queryIndexedExact("c", qe, k = 10, probe0 = 1)) ==
      got(es2.queryIndexed("c", qe, k = 10, nprobe = 6)))
  }

  test("GDPR purge-everything: an all-tombstoned compact leaves a SERVING empty store") {
    val es = new EncryptedStore(spark, tmp("enc_purge"), Key)
    es.storeIndexed(rowsOf(1 to 60), "c", numCells = 4)
    es.delete("c", (1 to 60).map(i => s"id$i"))
    es.compact("c") // physical purge of every row
    val qe = probe(5)
    assert(es.queryIndexed("c", qe, k = 3, nprobe = 4).isEmpty,
      "a fully-purged collection must serve empty answers, not crash")
    assert(es.queryIndexedExact("c", qe, k = 3, probe0 = 1).isEmpty)
    assert(es.rangeSearchIndexed("c", qe, radius = 100.0).isEmpty)
    assert(es.selfJoinIndexed("c", radius = 100.0).isEmpty)
    assert(es.extractSecure("c").isEmpty)
  }

  test("recall-target calibration: encrypted sweep == plaintext sweep on the same data; policy persists, routes, and sweeps on rebuild") {
    val base = tmp("enc_cal")
    val es = new EncryptedStore(spark, base, Key)
    val rows = rowsOf(1 to 400)
    es.storeIndexed(rows, "c", numCells = 8)
    // the plaintext twin over the SAME rows on the SAME trainer spine
    // (kid = xxhash64(string id)) — identical deterministic centroids,
    // so the sweeps are comparable hit-for-hit
    val plain = new graft.store.IvfIndex(spark, tmp("enc_cal_plain"), 8)
    plain.build(rows.select(xxhash64(col("id")).as("id"), col("emb")))
    val ladder = Seq(1, 2, 4, 8)
    def sweepRows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r =>
        (r.getInt(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSeq
    // an EXTERNAL panel shared verbatim by both twins
    val panelE = (500 to 507).map(i => (s"p$i", probe(i)))
    val panelP = panelE.zipWithIndex.map { case ((_, pe), i) => (i.toLong, pe) }
    val se = sweepRows(es.calibrationSweep("c", panelE, k = 5, ladder))
    val sp = sweepRows(plain.calibrationSweep(panelP, k = 5, ladder))
    assert(se == sp,
      s"encrypted sweep must equal the plaintext sweep hit-for-hit: $se vs $sp")
    assert(se.last._4 == 1.0, "the numCells rung is exact by construction")
    assert(se.map(_._2) == se.map(_._2).sorted, "hits are monotone in depth")
    // the self-panel POLICY picks the same depth as the plaintext twin
    // (same panel rows by construction — the kid-order discipline)
    val dE = es.calibrateNprobe("c", k = 5, target = 0.9, panelCap = 16)
    val dP = plain.calibrateNprobe(k = 5, target = 0.9, panelCap = 16)
    assert(dE == dP, s"calibrated depth: encrypted $dE vs plaintext $dP")
    // storeIndexed(recallTarget=) persists the policy; auto-routing uses it
    es.storeIndexed(rows, "c2", numCells = 8,
      recallTarget = Some(0.9), calibrateK = 5, calibratePanel = 16)
    val d2 = es.calibratedNprobe("c2")
    assert(d2.contains(dE), s"same data, same panel discipline: $d2 vs $dE")
    val auto = got(es.queryIndexedAuto("c2", probe(7), k = 8))
    assert(auto == got(es.queryIndexed("c2", probe(7), k = 8, nprobe = dE)) &&
      auto.nonEmpty)
    // the policy survives a reopen (persisted ciphertext, not session state)
    val reopened = new EncryptedStore(spark, base, Key)
    assert(reopened.calibratedNprobe("c2").contains(dE))
    // a REBUILD without a target sweeps the stale policy (old-cell depths
    // say nothing about the new layout) and auto-routing fails loudly
    es.storeIndexed(rows, "c2", numCells = 8)
    assert(es.calibratedNprobe("c2").isEmpty)
    val ex = intercept[RuntimeException](
      es.queryIndexedAuto("c2", probe(7), k = 5))
    assert(ex.getMessage.contains("no calibrated serving policy"), ex.getMessage)
    // an unreachable target fails loudly (guarded: only when the shallow
    // rung really is short of the target on this fixture)
    val shallow = sweepRows(es.calibrationSweep("c",
      es.calibrationPanel("c", 16), k = 5, Seq(1), excludeSelf = true))
    if (shallow.last._4 < 1.0) {
      val ex2 = intercept[RuntimeException](
        es.calibrateNprobe("c", k = 5, target = 1.0, panelCap = 16, ladder = Seq(1)))
      assert(ex2.getMessage.contains("no ladder depth"), ex2.getMessage)
    }
  }

  test("per-probe exact depths: depth-for-depth parity with the plaintext twin; batch serving at the map is exact and decrypt-bounded") {
    val base = tmp("enc_pd")
    val es = new EncryptedStore(spark, base, Key)
    val rows = rowsOf(1 to 400)
    es.storeIndexed(rows, "c", numCells = 8)
    // the plaintext twin over the SAME rows on the SAME trainer spine
    // (kid = xxhash64(string id)) — identical deterministic centroids
    val plain = new graft.store.IvfIndex(spark, tmp("enc_pd_plain"), 8)
    plain.build(rows.select(xxhash64(col("id")).as("id"), col("emb")))
    val k = 5
    // an EXTERNAL serving panel shared verbatim by both twins
    val panel = (600 to 607).map(i => (i.toLong, probe(i)))
    val dE = es.exactDepths("c", panel, k)
    val dP = plain.exactDepths(panel, k)
    assert(dE == dP,
      s"encrypted per-probe depths must equal the plaintext twin's: $dE vs $dP")
    assert(dE.values.forall(d => d >= 1 && d <= 8))
    // the policy is genuinely PER-probe on this fixture (a uniform map
    // would be the global policy in disguise) — guarded, not assumed
    if (dE.values.toSet.size > 1) {
      val worst = dE.values.max
      assert(dE.values.exists(_ < worst),
        "at least one probe must prune below the worst probe's depth")
    }
    // SERVING at the map: exact per probe vs the full-depth batch, and
    // each probe's scan is bounded by ITS depth (probing one rung
    // shallower on some probe changes that probe's candidate set —
    // minimality, the plaintext exactDepths contract)
    def served(depths: Map[Long, Int]) =
      es.queryIndexedBatch("c", panel, k, nprobe = 8, depthOf = depths)
        .orderBy("probe_id", "rn").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getDouble(3))).toSeq
    assert(served(dE) == served(panel.map { case (pid, _) => pid -> 8 }.toMap),
      "serving at the calibrated per-probe depths must equal full depth")
    // quantized batch accepts the same map (full shortlist == raw batch)
    assert(
      es.queryIndexedBatchQuantized("c", panel, k, nprobe = 8,
          shortlist = 400, depthOf = dE)
        .orderBy("probe_id", "rn").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getDouble(3))).toSeq
        == served(dE),
      "the quantized batch route must accept the per-probe map")
    // SELF-panel parity (the calibration shape): exclude each probe's own
    // row on both twins — depths still agree
    val selfPanel = Seq("id7", "id31", "id113").map { sid =>
      val i = sid.stripPrefix("id").toInt
      (org.apache.spark.sql.catalyst.expressions.XxHash64Function.hash(
        org.apache.spark.unsafe.types.UTF8String.fromString(sid),
        org.apache.spark.sql.types.StringType, 42L), probe(i), sid)
    }
    val dSelfE = es.exactDepths("c", selfPanel.map(t => (t._1, t._2)), k,
      excludeSelfIds = selfPanel.map(t => t._1 -> t._3).toMap)
    val dSelfP = plain.exactDepths(selfPanel.map(t => (t._1, t._2)), k,
      excludeSelf = true)
    assert(dSelfE == dSelfP,
      s"self-panel depths must agree with the plaintext twin: $dSelfE vs $dSelfP")
  }
}
