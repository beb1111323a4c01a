package graft.store

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, FloatType, StringType}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}

/**
 * AES-GCM-encrypted GRAPH serving twin — the reference's defense motive
 * (/root/reference/src/cyborgdb_store.py:1-2: vectors encrypted at rest so
 * extraction yields ciphertext useless to an inversion attack) applied to
 * the OTHER serving family: until r13 encryption covered the IVF family
 * only, leaving a graph-served corpus outside the threat model.
 *
 * Layout (ids and adjacency are the lookup keys and stay plaintext — the
 * [[EncryptedStore]] convention; everything semantic is ciphertext):
 *   `path/vectors/`  — (id LONG, doc_ct BINARY, emb_ct BINARY)
 *   `path/graph/`    — (src LONG, dst LONG) kNN adjacency
 *   `path/entries/`  — (cell LONG, id LONG) build-time medoid entries
 *   `path/_beams/`   — the persisted per-probe beam policy sidecar
 *
 * Serving runs the SHARED [[GraphWalk.batch]] schedule over a
 * decrypt-on-read (id, emb) projection: per hop the walk In-filters to the
 * frontier's FRESH node ids before the decrypt projection evaluates, so
 * AES-GCM decryption is bounded to the O(hops · |batch| · beam · k) rows a
 * walk touches — never the corpus, and never once per probe (the
 * [[EncryptedStore.queryIndexedBatchDF]] bounded-decrypt argument, applied
 * hop by hop). Answers ≡ the plaintext [[GraphIndex.queryBatch]] beam for
 * beam BY CONSTRUCTION (one walk implementation) and by spec
 * (EncryptedGraphSpec pins it on a same-input plaintext twin).
 *
 * What an attacker with the files sees: adjacency structure and id
 * degrees — NOT embeddings, documents, or distances (distances exist only
 * in flight). That leak is stated, not hidden: graph structure reveals
 * proximity RELATIONS, the accepted trade for serving without a full-scan
 * decrypt; a deployment that cannot accept it serves through
 * [[EncryptedStore.storeIndexed]]'s cell layout instead (coarser geometry
 * leak, linear-in-cell decrypts).
 */
final class EncryptedGraph(spark: SparkSession, val path: String, key: String) {
  require(Set(16, 24, 32).contains(key.length), "AES key must be 16/24/32 bytes")

  private def vecPath = s"$path/vectors"
  private def graphPath = s"$path/graph"
  private def entriesPath = s"$path/entries"
  private def marker = s"$path/_commit"

  // finish any interrupted staged publish (build/rotateKey) before reads
  StoreIO.recover(marker)

  private val keyCol = lit(key)
  private def encrypt(c: Column): Column =
    aes_encrypt(c.cast(StringType), keyCol, lit("GCM"))
  private def decryptStr(c: Column): Column =
    aes_decrypt(c, keyCol, lit("GCM")).cast(StringType)

  /** Build from (id LONG, doc STRING, emb ARRAY<FLOAT>): the kNN adjacency
    * and medoid entries train on PLAINTEXT-IN-FLIGHT embeddings (the
    * [[EncryptedStore.storeIndexed]] k-means discipline — nothing
    * plaintext lands), then vectors+docs encrypt at rest and all three
    * trees publish in ONE crash-consistent commit. Same construction as
    * [[GraphIndex.build]] (KnnGraph.build + `refineRounds` × refine), so a
    * plaintext twin built from the same input carries the identical
    * adjacency — the spec's beam-for-beam parity input. */
  def build(rows: DataFrame, k: Int, bucketFns: Seq[Column => Column],
            refineRounds: Int = 1, numEntries: Int = 4): Unit =
    WriterLease.withLease(path, "EncryptedGraph.build") {
      require(bucketFns.nonEmpty, "need at least one LSH bucketing")
      val v = rows.select(col("id"), col("doc"), col("emb")).persist()
      try {
        val ve = v.select(col("id"), col("emb"))
        var g = graft.operators.KnnGraph.build(ve, bucketFns, k)
        (0 until refineRounds).foreach(_ => g = graft.operators.KnnGraph.refine(g, ve, k))
        val gOut = g.select(col("src"), col("dst"))
        val ent = GraphWalk.medoidEntries(spark, ve, numEntries)
        val enc = v.select(col("id"),
          encrypt(col("doc")).as("doc_ct"),
          encrypt(to_json(col("emb"))).as("emb_ct"))
        StoreIO.commitStagedParallel(Seq(
          StoreIO.Staged(s"${vecPath}__stage", vecPath,
            st => enc.write.mode("overwrite").parquet(st)),
          StoreIO.Staged(s"${graphPath}__stage", graphPath,
            st => gOut.write.mode("overwrite").parquet(st)),
          StoreIO.Staged(s"${entriesPath}__stage", entriesPath,
            // three independent writers (ciphertext rows, adjacency,
            // entries) over disjoint stage dirs — overlap them (§2.6)
            st => ent.coalesce(1).write.mode("overwrite").parquet(st))), marker,
          maxParallel = 3)
      } finally v.unpersist(): Unit
    }

  /** The plaintext adjacency (ids only — the stated structure leak). */
  def graph: DataFrame = spark.read.parquet(graphPath).select("src", "dst")

  private def cipher: DataFrame = spark.read.parquet(vecPath)

  /** Decrypt-on-read (id, emb) — the walk's vector side. LAZY: an id
    * In-filter pushes below this projection to the scan, so only the
    * filtered rows ever decrypt. */
  private def vEmb: DataFrame = cipher.select(col("id"),
    from_json(decryptStr(col("emb_ct")), ArrayType(FloatType)).as("emb"))

  def defaultEntries(): Seq[Long] =
    spark.read.parquet(entriesPath).select("id").orderBy("id")
      .collect().map(_.getLong(0)).toSeq

  /** Batched beam search over the ciphertext corpus — the SHARED
    * [[GraphWalk.batch]] schedule (≡ [[GraphIndex.queryBatch]] beam for
    * beam); per-hop decrypts bounded to the frontier's fresh nodes.
    * `beamOf` routes a persisted [[beamPolicy]]. `includeDoc` decrypts the
    * DOCUMENT payload for ANSWER rows only (k × probes rows — the
    * answers-not-candidates decrypt bound). Output
    * (probe_id, id, dist, rn[, doc]). */
  def queryBatch(probes: Seq[(Long, Array[Float])], topK: Int, beamWidth: Int,
                 hops: Int, entries: Seq[Long] = Seq.empty,
                 beamOf: Map[Long, Int] = Map.empty,
                 includeDoc: Boolean = false): DataFrame = {
    val starts = (if (entries.nonEmpty) entries else defaultEntries()).distinct.sorted
    val answers = GraphWalk.batch(spark, graph, vEmb, probes, topK, beamWidth,
      hops, starts, beamOf, _ => _ => true)
    if (!includeDoc) answers
    else {
      // answers is a driver-local frame (GraphWalk collects the walk), so
      // this join ships k × probes ids — the doc decrypt is answer-bounded
      answers.join(cipher.select(col("id"), decryptStr(col("doc_ct")).as("doc")),
          Seq("id"), "left_outer")
        .select(col("probe_id"), col("id"), col("dist"), col("rn"), col("doc"))
    }
  }

  /** [[queryBatch]] with the probes as a DATAFRAME — the ciphertext twin
    * of [[GraphIndex.queryBatchDF]], for standing fleets past a driver
    * panel: the schedule is the SHARED [[GraphWalk.batchDF]] (one frame
    * walk, so plaintext/ciphertext parity holds by construction), and the
    * decrypt stays frontier-bounded IN FRAMES — the cached corpus side is
    * the CIPHERTEXT (id, emb_ct) hash-partitioned by id; per hop the
    * walk's fresh ids left-semi-join it FIRST (reusing the cache's id
    * partitioning, so the corpus never reshuffles) and only the survivors
    * flow through the decrypt projection. Per hop only fresh frontier
    * nodes decrypt — the [[queryBatch]] bounded-decrypt argument with the
    * id In-filter replaced by an id semi-join. `useBeam` opts in to an
    * integral `beam` column as the per-probe width policy
    * ([[beamPolicy]] routed through the frame). `includeDoc` decrypts the
    * DOCUMENT payload for ANSWER rows only (a semi-join bounds the doc
    * decrypt to the k × probes answer ids). Output
    * (probe_id, id, dist, rn[, doc]). */
  def queryBatchDF(probes: DataFrame, topK: Int, beamWidth: Int, hops: Int,
                   entries: Seq[Long] = Seq.empty,
                   useBeam: Boolean = false,
                   includeDoc: Boolean = false): DataFrame = {
    val starts = (if (entries.nonEmpty) entries else defaultEntries()).distinct.sorted
    val beamCol = GraphWalk.beamPolicyCol(probes, beamWidth, useBeam)
    val p = probes.select(col("probe_id"),
      col("qe").cast("array<float>").as("qe"), beamCol.as("pbeam"))
    // driver-sized panels serve through the driver walk — identical
    // answers (the queryBatch ≡ queryBatchDF parity pin) and the same
    // frontier-bounded decrypt (the In-filter form), none of the frame
    // lane's per-hop action constant ([[PanelDispatch]])
    PanelDispatch.smallPanel(spark, p) match {
      case Some(rows) if rows.nonEmpty =>
        PanelDispatch.requireUniqueProbes(rows)
        return queryBatch(
          rows.map(r => (r.getLong(0), r.getSeq[Float](1).toArray)).toSeq,
          topK, beamWidth, hops, starts,
          beamOf = rows.map(r => r.getLong(0) -> r.getInt(2)).toMap,
          includeDoc = includeDoc)
      case _ => ()
    }
    val cipherC = cipher.select(col("id"), col("emb_ct"))
      .repartition(col("id")).persist()
    try {
      val answers = GraphWalk.batchDF(spark, graph, p, topK, hops, starts,
        ids => cipherC.join(ids, Seq("id"), "left_semi")
          .select(col("id"),
            from_json(decryptStr(col("emb_ct")), ArrayType(FloatType)).as("emb")),
        identity)
      if (!includeDoc) answers
      else {
        // the walk's output is checkpointed and ≤ topK × probes rows; the
        // semi-join bounds the doc decrypt to exactly the answer ids
        val docs = cipher
          .join(answers.select("id").distinct(), Seq("id"), "left_semi")
          .select(col("id"), decryptStr(col("doc_ct")).as("doc"))
        answers.join(docs, Seq("id"), "left_outer")
          .select(col("probe_id"), col("id"), col("dist"), col("rn"), col("doc"))
      }
    } finally cipherC.unpersist(): Unit
  }

  /** Single-probe convenience (the oracle query's surface). */
  def query(qe: Array[Float], topK: Int, beamWidth: Int, hops: Int,
            entries: Seq[Long] = Seq.empty): DataFrame =
    queryBatch(Seq(0L -> qe), topK, beamWidth, hops, entries)
      .select(col("id"), col("dist"), col("rn"))

  // ------------------------------------ persisted per-probe beam policy

  /** Publish identity for the policy fence: [[StoreIO.treeFp]] over all
    * three trees (part filenames carry per-write UUIDs — a same-mtime-tick
    * republish still flips it). A KEY ROTATION rewrites every ciphertext
    * row, so the fingerprint flips and the policy reads STALE from
    * metadata alone — beams measured under the old key carry no evidence
    * the re-encrypted tree decrypts to the same corpus until recalibration
    * re-measures it (the [[EncryptedStore]] depth-policy fence,
    * VectorStore.scala encContentFp). */
  private def contentFp(): String =
    Seq(vecPath, graphPath, entriesPath).map(StoreIO.treeFp).mkString("|")

  /** Measured-minimal per-probe beam widths — [[GraphIndex.exactBeams]]'s
    * contract on the ciphertext corpus: probe p gets the smallest `ladder`
    * rung whose walk recalls p's ENTIRE exact top-k; unrecalled probes get
    * ladder.max with a stderr note. The exact arm is ONE full-corpus
    * decrypt-and-score pass (panel × corpus) — attach-time calibration
    * cost, stated: calibration is the one phase that must see every
    * vector; serving never does. */
  def exactBeams(panel: Seq[(Long, Array[Float])], k: Int,
                 ladder: Seq[Int] = Seq(2, 4, 8, 16, 32),
                 hops: Int = 6): Map[Long, Int] =
    GraphWalk.assignBeams(s"EncryptedGraph at $path", panel, ladder, hops)(
      GraphWalk.exactTopK(spark, vEmb, panel, k, excludeSelf = false)) { (subset, bw) =>
      queryBatch(subset, k, bw, hops)
        .collect().groupBy(_.getLong(0))
        .map { case (pid, rows) => pid -> rows.map(_.getLong(1)).toSet }
    }

  private lazy val beamSidecar = new PolicySidecar(spark, s"$path/_beams",
    marker, s"EncryptedGraph at $path", "beam",
    "the tree changed (rebuild or key rotation)", () => contentFp())

  /** Calibrate and persist the panel's beam policy as the `_beams`
    * sidecar ([[PolicySidecar]]) — the [[GraphIndex.persistBeamPolicy]]
    * twin, fenced by [[contentFp]] so any rebuild OR key rotation sweeps
    * it stale. */
  def persistBeamPolicy(panel: Seq[(Long, Array[Float])], k: Int,
                        ladder: Seq[Int] = Seq(2, 4, 8, 16, 32),
                        hops: Int = 6): Map[Long, Int] =
    WriterLease.withLease(path, "EncryptedGraph.persistBeamPolicy") {
      beamSidecar.write(panel, k, GraphWalk.beamSeed(k, ladder, hops),
        exactBeams(panel, k, ladder, hops))
    }

  /** Policy freshness from file metadata alone ([[IvfIndex.PolicyStatus]]):
    * Absent without a committed sidecar for this panel+knobs, Stale after
    * any build or KEY ROTATION commit, Fresh otherwise. */
  def beamPolicyStatus(panel: Seq[(Long, Array[Float])], k: Int,
                       ladder: Seq[Int] = Seq(2, 4, 8, 16, 32),
                       hops: Int = 6): IvfIndex.PolicyStatus =
    beamSidecar.status(panel, k, GraphWalk.beamSeed(k, ladder, hops))

  /** The committed beam widths — REFUSES unless Fresh (serving at widths
    * measured on a tree that has since changed — or been re-keyed — drops
    * the measured-recall evidence silently). */
  def beamPolicy(panel: Seq[(Long, Array[Float])], k: Int,
                 ladder: Seq[Int] = Seq(2, 4, 8, 16, 32),
                 hops: Int = 6): Map[Long, Int] =
    beamSidecar.read(panel, k, GraphWalk.beamSeed(k, ladder, hops))

  /** Re-encrypt every ciphertext row under `newKey` in ONE staged commit
    * (adjacency and entries are plaintext ids — unchanged). Decrypt+
    * re-encrypt runs in flight; the swap is atomic, and the rewritten tree
    * flips [[contentFp]], sweeping the beam policy STALE (the key-rotation
    * fence). THIS handle's key is dead afterwards — reopen with `newKey`. */
  def rotateKey(newKey: String): EncryptedGraph =
    WriterLease.withLease(path, "EncryptedGraph.rotateKey") {
      require(Set(16, 24, 32).contains(newKey.length), "AES key must be 16/24/32 bytes")
      val rotated = cipher.select(col("id"),
        aes_encrypt(decryptStr(col("doc_ct")), lit(newKey), lit("GCM")).as("doc_ct"),
        aes_encrypt(decryptStr(col("emb_ct")), lit(newKey), lit("GCM")).as("emb_ct"))
      StoreIO.commitStaged(Seq(
        StoreIO.Staged(s"${vecPath}__stage", vecPath,
          st => rotated.write.mode("overwrite").parquet(st))), marker)
      new EncryptedGraph(spark, path, newKey)
    }
}
