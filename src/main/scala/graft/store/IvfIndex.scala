package graft.store

import graft.functions.{VectorFunctions => VF}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}

/**
 * Persistent IVF index over a vector collection: vectors are assigned to
 * their nearest centroid cell and written `partitionBy("cell")`, so a probe
 * reads ONLY the `nprobe` partition directories it needs — at 100 TB the
 * query's scan volume is `nprobe / numCells` of the corpus, enforced by
 * partition pruning in the parquet source (visible as `PartitionFilters`
 * in the plan), not by a runtime filter.
 *
 * Centroids are TRAINED (Lloyd k-means via
 * [[graft.operators.KMeans.trainQuantized]], seeded deterministically from
 * the lowest-id vectors) — untrained first-k-rows centroids give skewed
 * cells, and a hot cell defeats partition pruning: a probe hitting the fat
 * cell re-scans a large fraction of the corpus. The quantized trainer's
 * integer-sum centroid update is bit-reproducible across engines, so
 * queries over the trained index remain DuckDB-hash-verifiable. The
 * reference's ANN index (HNSW inside ChromaDB,
 * /root/reference/src/chromadb_store.py:4) is the capability being rebuilt;
 * IVF-with-partition-pruning is its Spark-native shape.
 */
object IvfIndex {
  /** Lloyd rounds for [[IvfIndex.build]] — few rounds capture most of the
    * balance win; the count is fixed so the oracle SQL can unroll it. */
  val TrainIters: Int = 3

  /** Default training-sample cap for [[IvfIndex.build]]: above this row
    * count, centroid training (seeding + Lloyd) runs on a DETERMINISTIC
    * hash-thinned sample instead of the full corpus — at 100 TB, k-means
    * quality saturates at a few hundred rows per centroid while full-input
    * training costs TrainIters+1 corpus scans. The final cell ASSIGNMENT
    * always covers every row. Fixtures sit far below the cap, so the
    * training-replay oracles are unaffected. */
  val DefaultTrainCap: Long = 1L << 20

  /** PQ codewords per subspace — fixed at 256 so every code is ONE byte
    * (the `codes = "pq"` build option). */
  val PqK: Int = 256

  /** State of a persisted per-probe depth policy ([[IvfIndex.depthPolicy]])
    * relative to the index content it was calibrated against. */
  sealed trait PolicyStatus
  /** No committed policy for this (panel, k). */
  case object PolicyAbsent extends PolicyStatus
  /** Policy calibrated against exactly the current index content. */
  case object PolicyFresh extends PolicyStatus
  /** The index content changed since calibration (append/delete/retrain) —
    * the stored depths no longer carry the exactness proof. */
  case object PolicyStale extends PolicyStatus
}

final class IvfIndex(spark: SparkSession, val path: String, val numCells: Int) {

  private def centroidPath = s"$path/_centroids"
  private def sq8Path = s"$path/_sq8"
  private def pqPath = s"$path/_pq"
  private def radiiPath = s"$path/_radii"
  private def dataPath = s"$path/data"
  private def schemaPath = s"$path/_schema"
  private def tombstonePath = s"$path/_tombstones"
  private def hwmPath = s"$path/_ts_hwm"
  private def marker = s"$path/_commit"

  // finish any compaction publish interrupted between its swap and its
  // input cleanup — without this, merged and original batch dirs stay
  // co-resident and every query double-counts the merged rows
  StoreIO.recover(marker)

  /** Fused argmin cell assignment (narrow, single codegen loop). */
  private def cellCol(cents: Array[(Long, Array[Float])], emb: Column): Column =
    VF.nearestCentroid(emb, cents)

  /** Build from (id LONG, emb ARRAY<FLOAT>, metadata...): train centroids
    * (deterministic quantized Lloyd, seeded from the lowest-id rows),
    * assign every vector, write cell-partitioned parquet. `TrainIters`
    * narrow passes over the input plus the partitioned write. The data
    * lands under `batch=0` so that incremental [[appendBatch]] writes
    * share a uniform (batch, cell) directory layout.
    *
    * A REBUILD over a live index replaces it completely: centroids and
    * batch 0 publish as one crash-consistent commit whose cleanup sweeps
    * every stale append batch and tombstone dir (the rebuild's input
    * defines the new truth — leaving old append dirs behind would serve
    * rows the rebuild dropped). */
  /** `codes` selects the quantized scan path's code column: "sq8" (default
    * — 1 byte/dim, exact integer phase-1 distances, oracle-replayable) or
    * "pq" (product quantization, `pqM` bytes/VECTOR regardless of dim —
    * the 32× story for the scale where SQ8's 4× is still too much scan
    * traffic; phase 1 scores by ADC lookup, phase 2's exact rerank is
    * identical, so full-depth answers still equal [[query]]'s). */
  def build(vectors: DataFrame,
            trainSampleCap: Long = IvfIndex.DefaultTrainCap,
            codes: String = "sq8", pqM: Int = 8): Unit = {
    val l = WriterLease.acquire(path, "IvfIndex.build")
    try buildUnleased(vectors, trainSampleCap, codes, pqM) finally l.release()
  }

  private def buildUnleased(vectors: DataFrame, trainSampleCap: Long,
                            codes: String = "sq8", pqM: Int = 8): Unit = {
    require(trainSampleCap > 0, "trainSampleCap must be positive")
    require(codes == "sq8" || codes == "pq", s"codes must be sq8 or pq, got $codes")
    // training + final assignment scan the input TrainIters + 1 times —
    // cache it for the duration of the build. NOT spread to cores first
    // (measured r14): the input is already-materialized float vectors —
    // light per-byte compute — so raising a small build's parallelism just
    // multiplies per-task scheduling overhead across the Lloyd/stat
    // passes (warm build 2.5 → 3.4 s when tried); compute-heavy UPSTREAM
    // derivations (chunk+embed, tokenize) spread at their own scan.
    val v = vectors.persist()
    try {
      // centroid TRAINING runs on a bounded, DETERMINISTIC sample above
      // the cap (xxhash64(id) thinning — reproducible across rebuilds and
      // engines, no RNG): the sample only shapes the centroids, the
      // assignment below still covers every row, and query()'s contract
      // ("exact within the probed cells") is centroid-agnostic
      val n = v.count()
      // the thinned sample must still seat every TRAINED object: numCells
      // centroids for the IVF assignment, and — for a pq build — the 256
      // codeword seeds per subspace ProductQuantizer.train requires
      val minTrainRows = math.max(numCells, if (codes == "pq") IvfIndex.PqK else 0)
      val trainSet =
        if (n <= trainSampleCap) v
        else {
          val m = math.ceil(n.toDouble / trainSampleCap).toLong
          val thinned = v.filter(pmod(xxhash64(col("id")), lit(m)) === 0).persist()
          // a tiny user-supplied trainSampleCap (or unlucky thinning near
          // the cap) can leave fewer rows than the trainers can seed from,
          // and seeding would then die on an opaque error mid-build — fall
          // back to the full input instead (training cost over a crash;
          // the fallback only fires when the cap was that small anyway)
          if (thinned.count() >= minTrainRows) thinned
          else { thinned.unpersist(); v }
        }
      // farthest-first seeds survive domain-sorted ingest (first-k-rows
      // seeding traps every seed in one cluster); quantized Lloyd then
      // keeps the whole pipeline bit-reproducible for the oracle
      val seeds = graft.operators.KMeans.farthestFirstSeeds(trainSet, "id", "emb", numCells,
        knownN = if (trainSet eq v) Some(n) else None)
      val cents = graft.operators.KMeans.trainQuantized(
        trainSet, "id", "emb", numCells, IvfIndex.TrainIters, Some(seeds))
      val centDf = spark.createDataFrame(cents.toSeq.map { case (cid, c) => (cid, c.toSeq) })
        .toDF("cid", "cemb")
      // quantizer sidecar, frozen until the next rebuild (codes from later
      // appendBatch calls must stay comparable):
      //  - sq8: per-dim (min, max) over the build input — dim rows of
      //    driver-resident metadata, one map-side-partial aggregate pass;
      //    codes shrink the quantized scan to 1 byte/dim vs the float's 4.
      //  - pq: per-subspace 256-codeword Lloyd codebooks trained on the
      //    (id-ordered, deterministic-seed) sample — m*256*subDim floats
      //    of driver-resident metadata; codes are pqM bytes per VECTOR.
      // A rebuild switching kinds sweeps the other sidecar in the same
      // crash-consistent commit.
      val (codesStage, codesCol, otherSidecar) =
        if (codes == "sq8") {
          val sq8 = v.select(posexplode(col("emb")).as(Seq("d", "x")))
            .groupBy("d").agg(min(col("x").cast("double")).as("mn"),
              max(col("x").cast("double")).as("mx"))
            .collect().map(r => (r.getInt(0), r.getDouble(1), r.getDouble(2)))
            .sortBy(_._1)
          val sq8Df = spark.createDataFrame(sq8.toSeq).toDF("d", "mn", "mx")
          val mn = sq8.map(_._2); val mx = sq8.map(_._3)
          (StoreIO.Staged(s"$path/__stage_sq8", sq8Path,
            st => sq8Df.coalesce(1).write.mode("overwrite").parquet(st)),
            VF.sq8Encode(col("emb"), mn, mx), pqPath)
        } else {
          val books = graft.operators.ProductQuantizer.train(
            trainSet.orderBy("id"), "emb", pqM, IvfIndex.PqK, IvfIndex.TrainIters)
          val flat = flattenBooks(books)
          val encodeCol = VF.pqEncode(col("emb"), flat, pqM, IvfIndex.PqK)
          // baseline mean reconstruction error over the BUILD input — the
          // PQ drift reference [[balance]] compares against (the codebooks
          // have no clip-able grid; what degrades under drift is how well
          // they reconstruct the data): ADC of a row against its OWN codes
          // IS its squared quantization error. One extra pass over the
          // cached input.
          val baseErr = v.select(avg(VF.pqAdcDirect(encodeCol, col("emb"),
              flat, IvfIndex.PqK)).as("e")).head().getDouble(0)
          val rows = books.zipWithIndex.flatMap { case (cb, mi) =>
            cb.map { case (code, cw) => (mi, code, cw.toSeq, baseErr) }
          }
          val pqDf = spark.createDataFrame(rows.toSeq).toDF("mi", "code", "cw", "base_err")
          (StoreIO.Staged(s"$path/__stage_pq", pqPath,
            st => pqDf.coalesce(1).write.mode("overwrite").parquet(st)),
            encodeCol, sq8Path)
        }
      // release the thinned training sample only AFTER the codes dispatch:
      // the pq branch's codebook training reads trainSet again (m·TrainIters
      // passes that must hit the sample cache, not re-thin the corpus)
      if (!(trainSet eq v)) trainSet.unpersist(): Unit
      new java.io.File(dataPath).mkdirs()
      val staleBatches = StoreIO.committedBatchDirs(dataPath)
        .filter(_.getName != "batch=0")
      val staleRadii = StoreIO.committedBatchDirs(radiiPath)
        .filter(_.getName != "batch=0")
      val allTsDirs = StoreIO.committedBatchDirs(tombstonePath)
      val newHwm = allTsDirs.map(_.getName.stripPrefix("batch=").toLong)
        .foldLeft(tombstoneHwm())(math.max)
      // metadata sidecars (centroids, sq8/pq stats, radii) are bounded by
      // numCells / dim / m·256 rows at ANY corpus scale — coalesce(1) so
      // each lands as ONE file instead of a file per createDataFrame
      // partition (32 one-row files per sidecar at the bench, paying file
      // commits on write and listing + footer reads on every open)
      // independent writers over the MATERIALIZED build cache (v.count()
      // above) and driver-local sidecar frames — overlap them (§2.6);
      // compact() stays sequential (its radii stage reads __stage_data)
      StoreIO.commitStagedParallel(Seq(
        StoreIO.Staged(s"$path/__stage_centroids", centroidPath,
          st => centDf.coalesce(1).write.mode("overwrite").parquet(st)),
        codesStage,
        StoreIO.Staged(s"$path/__stage_build", s"$dataPath/batch=0",
          st => cellClustered(v.withColumn("cell", cellCol(cents, col("emb")))
            .withColumn("codes", codesCol))
            .write.mode("overwrite").partitionBy("cell").parquet(st)),
        // per-cell pruning radii — the metadata [[queryExact]] and
        // [[rangeSearch]] bound cells with; numCells rows, computed from
        // the CACHED build input + the same assignment column (the
        // EncryptedStore.storeIndexed convention): re-reading the staged
        // dir cost a per-file listing+footer pass (~1 s of a 2.5 s bench
        // build); the assignment recompute is one narrow codegen pass
        // over the cache, the same cost shape at any corpus size
        StoreIO.Staged(s"$path/__stage_radii", s"$radiiPath/batch=0",
          st => cellRadiiOf(v.withColumn("cell", cellCol(cents, col("emb"))),
            cents)
            .coalesce(1).write.mode("overwrite").parquet(st))) ++
        (if (allTsDirs.isEmpty) Seq.empty
         else Seq(StoreIO.Staged(s"$path/__stage_ts_hwm", hwmPath,
           st => StoreIO.writeLongFile(st, newHwm)))),
        marker,
        // a rebuild sweeps any persisted depth policy outright (the
        // encPolicyPath discipline): depths calibrated against the OLD
        // cell layout say nothing about the new one, and the swept sidecar
        // reads as PolicyAbsent — self-healing callers recalibrate
        cleanup = (staleBatches ++ staleRadii ++ allTsDirs).map(_.getPath).toSeq :+
          otherSidecar :+ depthsPath,
        maxParallel = 4)
    } finally v.unpersist(): Unit
  }

  /** Cluster an assigned frame on (cell, deterministic salt) before a
    * partitionBy("cell") write — the TextIndex.bucketClustered discipline
    * for the cell tree: without it every write task spills a file into
    * every cell dir it touches (tasks × numCells few-KB files after
    * spreadToCores raised the build's parallelism). AQE-coalescible (no
    * explicit N), salt keeps a hot cell splittable at scale. */
  private def cellClustered(assigned: DataFrame): DataFrame = {
    val p = spark.sessionState.conf.numShufflePartitions
    val subSplit = math.max(1L, 4L * p / math.max(numCells, 1))
    assigned.repartition(col("cell"), pmod(xxhash64(col("id")), lit(subSplit)))
  }

  /** (cell, rmax) of an assigned frame — the triangle-inequality pruning
    * bound [[queryExact]]/[[rangeSearch]] rest on
    * ([[ExactPrune.cellRadiiFrame]], shared with the encrypted twin). */
  private def cellRadiiOf(assigned: DataFrame, cents: Array[(Long, Array[Float])]): DataFrame =
    ExactPrune.cellRadiiFrame(assigned, cents)

  private def flattenBooks(books: graft.operators.ProductQuantizer.Codebooks): Array[Float] =
    graft.operators.ProductQuantizer.flatten(books)

  // Driver-side centroid cache: every probe surface starts with the
  // centroid pass, and re-running a Spark read job per probe dominates
  // warm-probe latency at local scale. Revalidated per call from the
  // on-disk file listing (part filenames carry per-write UUIDs, so a
  // build/retrain republish ALWAYS changes the fingerprint — no reliance
  // on mtime granularity); two processes over one path therefore see each
  // other's retrains, the hot tiers' invalidation discipline.
  @volatile private var centCache: (String, Array[(Long, Array[Float])]) = null

  /** (name, length, mtime) of every file directly under `dir` — the
    * rename-proof directory fingerprint behind the centroid/radii caches. */
  private def dirFileFp(dir: java.io.File): String =
    Option(dir.listFiles()).getOrElse(Array.empty)
      .map(f => s"${f.getName}:${f.length}:${f.lastModified}").sorted.mkString(";")

  private def centroidFp: String = dirFileFp(new java.io.File(centroidPath))

  private def centroids(): Array[(Long, Array[Float])] = {
    val fp = centroidFp
    val c = centCache
    if (c != null && c._1 == fp) c._2
    else {
      val v = spark.read.parquet(centroidPath).collect()
        .map(r => (r.getLong(0), r.getSeq[Float](1).toArray)).sortBy(_._1)
      centCache = (fp, v)
      v
    }
  }

  /** Frozen per-dim SQ8 stats (mn, mx arrays in dim order) — None for an
    * index built before the codes column existed (rebuild to add it) or
    * built with `codes = "pq"`. */
  private def sq8Stats(): Option[(Array[Double], Array[Double])] =
    if (!new java.io.File(s"$sq8Path/_SUCCESS").exists()) None
    else {
      val rows = spark.read.parquet(sq8Path).collect()
        .map(r => (r.getInt(0), r.getDouble(1), r.getDouble(2))).sortBy(_._1)
      Some((rows.map(_._2), rows.map(_._3)))
    }

  /** Frozen PQ codebooks (code-sorted per subspace) plus the build-frozen
    * baseline mean reconstruction error, from ONE sidecar read — None
    * unless the index was built with `codes = "pq"`. The baseline is None
    * for a sidecar written before the drift signal existed (pre-`base_err`
    * schema): [[balance]] then reports `pqErrRatio` 1.0 — no baseline, no
    * drift verdict — until a [[retrain]] freezes one, instead of crashing
    * maintenance on the missing column. */
  private def pqSidecar(): Option[(graft.operators.ProductQuantizer.Codebooks, Option[Double])] =
    if (!new java.io.File(s"$pqPath/_SUCCESS").exists()) None
    else {
      val df = spark.read.parquet(pqPath)
      val errIdx = df.columns.indexOf("base_err")
      val rows = df.collect()
      val books = rows
        .map(r => (r.getInt(0), r.getLong(1), r.getSeq[Float](2).toArray))
        .groupBy(_._1).toArray.sortBy(_._1)
        .map { case (_, rs) => rs.sortBy(_._2).map(r => (r._2, r._3)) }
      val baseErr = if (errIdx < 0) None else Some(rows.head.getDouble(errIdx))
      Some((books, baseErr))
    }

  /** Frozen PQ codebooks — None unless the index was built with
    * `codes = "pq"`. */
  private def pqBooks(): Option[graft.operators.ProductQuantizer.Codebooks] =
    pqSidecar().map(_._1)

  /** The query-side ADC lookup table for the frozen codebooks: per
    * subspace, squared L2 from the query's subvector to every codeword —
    * m·256 doubles, driver-computed, folded into the plan as a literal. */
  private def pqLut(qe: Array[Float],
                    books: graft.operators.ProductQuantizer.Codebooks): Array[Double] =
    graft.operators.ProductQuantizer.adcLut(qe, books)

  /** Phase-1 scoring column over the stored `codes` BINARY for query
    * vector `qe` — dispatches on the frozen quantizer: exact integer L2
    * over SQ8 codes, or ADC lookup over PQ codes. Either way the column
    * orders the shortlist; [[exactRerank]] makes the final answer exact. */
  private def phase1Score(qe: Array[Float]): Column =
    sq8Stats() match {
      case Some((mn, mx)) =>
        VF.sq8L2(col("codes"), lit(graft.functions.Sq8Encode.encode(qe, mn, mx)))
      case None => pqBooks() match {
        case Some(books) => VF.pqAdc(col("codes"), pqLut(qe, books), IvfIndex.PqK)
        case None => sys.error(s"index at $path has no codes sidecar — rebuild with build()")
      }
    }

  /** The index's row schema minus the cell/batch partition columns, cached
    * per instance and read from ONE committed batch dir: [[appendBatch]]
    * runs per micro-batch on the ingest hot path, and full-tree partition
    * discovery — O(batch dirs × cells) file listings just to learn the
    * column list — grows with stream lifetime. Every batch dir shares the
    * schema by construction (that is this alignment's invariant), so any
    * single committed dir is authoritative. */
  private lazy val storedSchema: Array[org.apache.spark.sql.types.StructField] = {
    val one = StoreIO.committedBatchDirs(dataPath).headOption
      .getOrElse(sys.error(s"no committed batch dir under $dataPath — build() first"))
    spark.read.parquet(one.getPath).schema.fields
      .filter(f => f.name != "cell" && f.name != "batch")
  }

  /** Incremental maintenance: assign new vectors against the EXISTING
    * centroids and land them under this batch's OWN directory
    * (`batch=<id>/cell=...`). Replaying a micro-batch overwrites the same
    * directory, so the write is IDEMPOTENT — with Structured Streaming's
    * at-least-once foreachBatch replay this yields exactly-once index
    * contents (the standard idempotent-sink pattern; batchId comes from the
    * checkpoint). One narrow pass per batch, resident data untouched,
    * queries see the union across batch dirs with cell pruning intact.
    * Cell balance degrades only as far as the data drifts from the
    * centroids; a periodic [[build]] re-clusters (the compaction story). */
  def appendBatch(vectors: DataFrame, batchId: Long): Unit = {
    val l = WriterLease.acquire(path, "IvfIndex.append")
    try appendBatchUnleased(vectors, batchId) finally l.release()
  }

  private def appendBatchUnleased(vectors: DataFrame, batchId: Long): Unit = {
    require(batchId >= 0, "batchId must be non-negative (batch 0 is the initial build)")
    val cents = centroids()
    // align the batch to the index's stored schema (minus the cell
    // partition column): METADATA the batch doesn't carry lands as NULL so
    // every batch dir shares ONE schema; id and emb are the index's spine —
    // NULL-filling those would silently route rows to the never-probed
    // NULL-cell partition (emb) or collapse them under compact()'s id-dedup
    // (id) — and unknown columns are a caller bug. Present columns are CAST
    // to the stored type: a same-name-different-type batch dir would break
    // every later multi-dir read.
    val aligned = StoreIO.alignToSchema(vectors, storedSchema.toSeq, Seq("id", "emb"))
    // a FRESH batch re-adding a TOMBSTONED id would be hidden by the
    // query-time anti-join and then silently dropped with the tombstone at
    // the next compact() — refuse loudly; re-adds are legal once compact()
    // has cleared the tombstones. A REPLAY of this same batch dir (it
    // already exists — a micro-batch that wrote but crashed before its
    // checkpoint commit) is exempt: its rows predate the delete, the
    // overwrite is byte-idempotent, and the delete still wins at query
    // time — throwing here would permanently wedge an at-least-once stream
    // whose ids were deleted between the write and the replay. Zero cost on
    // the hot path while no deletes are pending (no tombstone dirs -> no
    // check).
    // committed dirs only: a crashed PARTIAL first delivery (dir present,
    // no _SUCCESS) must re-run the check — its rows don't provably predate
    // the delete, and exempting it would land a tombstoned re-add silently
    val isReplay = StoreIO.isCommittedDir(s"$dataPath/batch=${batchId + 1}")
    if (!isReplay) tombstones().foreach { ts =>
      require(aligned.select("id").join(broadcast(ts), Seq("id"), "left_semi").isEmpty,
        "batch re-adds tombstoned ids — run compact() before re-adding deleted vectors")
    }
    // codes recompute against the FROZEN build-time quantizer (alignToSchema
    // null-filled the column; every batch must quantize through the same
    // grid/codebooks or cross-batch code distances stop meaning anything)
    val coded = sq8Stats() match {
      case Some((mn, mx)) => aligned.withColumn("codes", VF.sq8Encode(col("emb"), mn, mx))
      case None => pqBooks().fold(aligned)(books =>
        aligned.withColumn("codes",
          VF.pqEncode(col("emb"), flattenBooks(books), books.length, IvfIndex.PqK)))
    }
    // one evaluation of the encode+assign lineage for BOTH writes — the
    // streaming ingest hot path must not read and encode the micro-batch
    // twice
    val assigned = coded.withColumn("cell", cellCol(cents, col("emb"))).persist()
    try {
      // radii FIRST, data second: an orphan radii dir (crash before the
      // data commit) only inflates the pruning bound — sound; the reverse
      // order could leave a committed batch with no radii, which
      // [[cellRadii]] treats as pruning-disabled (also sound, but exact
      // probes then scan every cell until the batch replays or the next
      // compact)
      cellRadiiOf(assigned, cents)
        .coalesce(1).write.mode("overwrite").parquet(s"$radiiPath/batch=${batchId + 1}")
      cellClustered(assigned)
        .write.mode("overwrite").partitionBy("cell")
        .parquet(s"$dataPath/batch=${batchId + 1}")
    } finally assigned.unpersist(): Unit
  }

  /** Highest tombstone batch id already APPLIED by a [[compact]] — the
    * replay fence: a delete batch replayed after compaction cleared it
    * (and its ids were legitimately re-added) must not resurrect the
    * tombstone and silently drop the re-added rows at the next compact.
    * Delete batch ids are monotone (checkpoint-driven), so id <= hwm means
    * "already physically applied" — ignored by queries, dropped unapplied
    * by compact, and refused at [[deleteBatch]] write time. Persisted
    * crash-consistently in the same commit that clears the tombstones. */
  private def tombstoneHwm(): Long = StoreIO.readLongFile(hwmPath, -1L)

  /** The committed tombstone dirs BEHIND the fence (id > hwm) — the only
    * ones with pending effect. */
  private def liveTombstoneDirs(): Array[java.io.File] = {
    val hwm = tombstoneHwm()
    StoreIO.committedBatchDirs(tombstonePath)
      .filter(_.getName.stripPrefix("batch=").toLong > hwm)
  }

  /** Pending deletes as one deduplicated (id) frame — None when there are
    * none, so the serving path pays NOTHING until a delete actually lands.
    * Explicit schema: an empty delete micro-batch leaves a bare-_SUCCESS
    * dir that schema inference cannot read. */
  private def tombstones(): Option[DataFrame] = {
    val dirs = liveTombstoneDirs()
    if (dirs.isEmpty) None
    else Some(spark.read.schema("id LONG").parquet(dirs.map(_.getPath).toIndexedSeq: _*)
      .select("id").dropDuplicates("id"))
  }

  /** LIVE ids currently served (physical rows minus pending tombstones) —
    * the reconciliation spine for `Collection.attach` (store ids anti-join
    * against this to find rows a crashed add left unindexed). One narrow
    * id-column scan. */
  private[store] def liveIds: DataFrame = {
    val dirs = StoreIO.committedBatchDirs(dataPath)
    if (dirs.isEmpty)
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        org.apache.spark.sql.types.StructType.fromDDL("id LONG"))
    else {
      // basePath: the batch dirs nest cell=N partitions — reading several
      // of them directly trips partition-structure inference
      val ids = spark.read.option("basePath", dataPath)
        .parquet(dirs.map(_.getPath).toIndexedSeq: _*)
        .select("id").dropDuplicates("id")
      tombstones().fold(ids)(ts => ids.join(broadcast(ts), Seq("id"), "left_anti"))
    }
  }

  /** Delete by id, batch-keyed like [[appendBatch]] (the
    * `Collection.deleteWhere` propagation path): the batch's ids land as a
    * TOMBSTONE dir `_tombstones/batch=<id>` — an idempotent directory
    * overwrite, so an at-least-once delete stream yields exactly-once
    * semantics. Queries anti-join the tombstones immediately (a deleted
    * vector stops being served the moment the dir commits); [[compact]]
    * drops the rows physically and clears the tombstones. Ids never
    * INSERTED are filtered against the physical id spine before
    * tombstoning (Chroma ignores unknown ids): an unknown-id tombstone
    * would make [[readdsTombstoned]]/[[appendBatch]] refuse a
    * legitimately FRESH append of that id until a pointless compact.
    * Write cost is O(batch) plus one narrow id-column scan. */
  def deleteBatch(ids: DataFrame, batchId: Long): Unit = {
    val l = WriterLease.acquire(path, "IvfIndex.delete")
    try deleteBatchUnleased(ids, batchId) finally l.release()
  }

  private def deleteBatchUnleased(ids: DataFrame, batchId: Long): Unit = {
    require(batchId >= 0, "batchId must be non-negative")
    require(ids.columns.contains("id"), "delete batch needs an id column")
    // replay fence: a delete batch at or below the compaction high-water
    // mark was already applied PHYSICALLY — rewriting its dir would
    // resurrect the tombstone against rows legitimately re-added since,
    // silently dropping them at the next compact. Exactly-once across the
    // compaction boundary requires dropping the replay here.
    if (batchId <= tombstoneHwm()) return
    // lossless-cast the id to the index's LONG spine (alignToSchema's
    // guard) — a lossy coercion could tombstone the wrong row
    val del = StoreIO.alignToSchema(ids.select("id"),
      Seq(org.apache.spark.sql.types.StructField(
        "id", org.apache.spark.sql.types.LongType)), Seq("id"))
      .dropDuplicates("id")
    // restrict to ids the index has PHYSICALLY seen (tombstoned included
    // — re-deleting a pending-delete id is an idempotent no-op, not
    // unknown); pre-build deletes record verbatim — build() sweeps them
    val dirs = StoreIO.committedBatchDirs(dataPath)
    val known =
      if (dirs.isEmpty) del
      else del.join(
        spark.read.option("basePath", dataPath)
          .parquet(dirs.map(_.getPath).toIndexedSeq: _*).select("id"),
        Seq("id"), "left_semi")
    known.write.mode("overwrite").parquet(s"$tombstonePath/batch=$batchId")
  }

  /** Driver-side convenience delete: next free tombstone batch id (past
    * both the live dirs and the compaction fence). */
  def delete(ids: Seq[Long]): Unit = {
    import spark.implicits._
    delete(ids.toDF("id"))
  }

  /** [[delete]] for a distributed id frame (the `Collection.deleteWhere`
    * propagation path — the deleted set may be predicate-derived and
    * corpus-sized, never collected to the driver). */
  def delete(ids: DataFrame): Unit = {
    val next = (StoreIO.committedBatchDirs(tombstonePath)
      .map(_.getName.stripPrefix("batch=").toLong)
      .foldLeft(tombstoneHwm())(math.max)) + 1L
    deleteBatch(ids, next)
  }

  /** Does this (id LONG, ...) batch re-add ids with PENDING tombstones?
    * The routed `Collection.add` compacts first when so — appending the
    * rows directly would either refuse (here) or silently lose the
    * re-add to the next compact. Free while no deletes are pending. */
  private[store] def readdsTombstoned(ids: DataFrame): Boolean =
    tombstones().exists(ts =>
      !ids.select("id").join(broadcast(ts), Seq("id"), "left_semi").isEmpty)

  /** Driver-side convenience append: next free batch id (the streaming
    * path passes its checkpointed batch id to [[appendBatch]] instead). */
  def append(vectors: DataFrame): Unit = {
    val next = StoreIO.committedBatchDirs(dataPath)
      .map(_.getName.stripPrefix("batch=").toLong)
      .foldLeft(0L)(math.max)
    appendBatch(vectors, next) // appendBatch lands at batchId + 1
  }

  /** Merge accumulated batch directories into a single compacted dir
    * (assignments are already materialized in the `cell` partition column,
    * so compaction is mostly a re-write). Run this when streaming has
    * produced many small per-batch files; query results are unchanged.
    *
    * Safety model with a concurrent [[appendBatch]] writer:
    *  - the set of batch directories is SNAPSHOTTED up front; only those
    *    batches are read and only those are removed — a batch landing
    *    during compaction survives untouched (r1 renamed the whole data
    *    dir away, silently dropping such late batches);
    *  - the merged output publishes (one atomic rename) into the NEGATIVE
    *    id namespace `batch=-<generation>`, which [[appendBatch]] (ids
    *    >= 1) and [[build]] (id 0) can never overwrite — publishing into
    *    `batch=<max+1>` would be clobbered by the stream's next
    *    micro-batch overwrite of that same dir;
    *  - the merge `dropDuplicates(id)` — vector ids are unique — so the
    *    brief windows where a row exists both compacted and un-compacted
    *    self-heal on the NEXT compaction: a crash between publish and
    *    cleanup re-merges both copies into one row. Readers BETWEEN the
    *    publish rename and the input cleanup may transiently see a row
    *    twice; run compaction when (or where) that read anomaly is
    *    acceptable, exactly like any non-transactional file compactor.
    *  - a micro-batch that wrote its dir but crashed BEFORE its checkpoint
    *    commit may be replayed after compaction already merged the
    *    orphaned dir; those duplicates are likewise removed by the next
    *    compaction's id-dedup rather than accumulating forever. */
  /** Maintenance introspection — see [[IndexStats]]. Bounded work: two
    * counts over the index tree (physical rows, live ids). */
  def stats(): IndexStats = {
    val dirs = StoreIO.committedBatchDirs(dataPath)
    if (dirs.isEmpty) IndexStats(0L, 0L, 0)
    else {
      // basePath: the batch dirs nest cell=N partitions — reading several
      // of them directly trips partition-structure inference
      val phys = spark.read.option("basePath", dataPath)
        .parquet(dirs.map(_.getPath).toIndexedSeq: _*).count()
      val live = liveIds.count()
      IndexStats(live, phys - live, dirs.length)
    }
  }

  /** Does the index hold at least `n` live rows? BOUNDED: one id-only
    * scan that short-circuits after `n` rows (limit + count) — the
    * build-time precondition shape (`SearchQueries`' zero-norm-exclusion
    * guards compare against a 20-40-row constant), where [[stats]]'s two
    * corpus-scale count jobs would read the whole tree at 100 TB just to
    * answer "≥ 30?". */
  def liveAtLeast(n: Int): Boolean =
    n <= 0 || liveInclude(Nil).select("id").limit(n).count() >= n

  /** The tombstone-corrected live frame (id, emb, include…) — the EXACT
    * arm of the auto-routed bulk labeler ([[graft.queries.AnnQueries]]
    * `routedKnnVotesAuto`) scans this directly, so both arms answer over
    * the identical corpus the index serves. */
  private[graft] def liveInclude(include: Seq[String]): DataFrame = {
    val live = tombstones().fold(dataTree())(ts =>
      dataTree().join(broadcast(ts), Seq("id"), "left_anti"))
    live.select(col("id") +: col("emb") +: include.map(col): _*)
  }

  def compact(): Unit = {
    val l = WriterLease.acquire(path, "IvfIndex.compact")
    try compactUnleased() finally l.release()
  }

  /** The index's LIVE contents with every stored metadata column, minus
    * the synthetic partition/derived columns (batch, cell, codes) — the
    * input a rebuild or retrain re-derives those from. */
  private def liveRows(): DataFrame = {
    val dirs = StoreIO.committedBatchDirs(dataPath)
    require(dirs.nonEmpty, s"no committed data under $dataPath — build() first")
    val all = spark.read.option("basePath", dataPath)
      .parquet(dirs.map(_.getPath).toIndexedSeq: _*)
      .drop("batch", "cell", "codes")
      .dropDuplicates("id")
    tombstones().fold(all)(ts => all.join(broadcast(ts), Seq("id"), "left_anti"))
  }

  /** RETRAIN the centroids on the index's CURRENT live rows and republish —
    * the cell-balance remedy [[appendBatch]] cannot provide: appends assign
    * against centroids frozen at [[build]] time, so months of drifting
    * ingest (the scenario the monitoring family detects) grows a hot cell
    * that defeats partition pruning, and SQ8 codes silently clip once
    * values leave the build-time per-dim range. Retraining re-runs the
    * capped deterministic trainer on what the index ACTUALLY holds now,
    * re-assigns every live row, re-freezes the SQ8 grid over the live
    * value range, and publishes through [[build]]'s crash-consistent
    * commit — which also subsumes a [[compact]] (tombstoned rows drop
    * physically, batch dirs fold to one, the tombstone fence advances).
    * Answers are unchanged by construction: a full-depth probe before and
    * after retrain both equal brute force over the live rows (spec-pinned
    * in IvfIndexSpec); only the CELL GEOMETRY moves. Cost is a [[build]]
    * over live rows — maintenance cadence, triggered by
    * `Collection.maintain` when [[balance]] crosses its thresholds. */
  def retrain(trainSampleCap: Long = IvfIndex.DefaultTrainCap): Unit = {
    val l = WriterLease.acquire(path, "IvfIndex.retrain")
    try {
      // preserve the index's code KIND across the retrain: a pq index
      // re-trains its codebooks on the live rows, an sq8 (or pre-codes)
      // index re-freezes the grid
      val (kind, m) =
        if (new java.io.File(s"$sq8Path/_SUCCESS").exists()) ("sq8", 8)
        else pqBooks().map(b => ("pq", b.length)).getOrElse(("sq8", 8))
      val live = liveRows().persist()
      try buildUnleased(live, trainSampleCap, kind, m)
      finally live.unpersist(): Unit
    } finally l.release()
  }

  /** Cell-geometry health — the numbers [[retrain]]'s trigger policy
    * decides on, computed in ONE pass over the live rows (narrow columns:
    * cell + emb; maintenance-cadence cost, like [[stats]]):
    *
    *  - `maxOverMean`: live rows in the fattest cell over the mean across
    *    NON-EMPTY cells. 1.0 is perfectly balanced; a hot cell defeats
    *    partition pruning — every probe that hits it re-scans
    *    `maxOverMean / liveCells` of the corpus instead of `1 / numCells`.
    *  - `sq8ClipRate`: fraction of (row, dim) values strictly outside the
    *    FROZEN SQ8 grid (build-time per-dim min/max). Clipped values all
    *    collapse to code 0 or 255, so the quantized shortlist silently
    *    loses resolution exactly where the data drifted; 0.0 when the
    *    index carries no codes sidecar.
    *  - `liveCells`: non-empty cells (empty cells waste probe fan-out). */
  def balance(): IvfBalance = {
    val dirs = StoreIO.committedBatchDirs(dataPath)
    if (dirs.isEmpty) return IvfBalance(0L, 0, 0.0, 0.0)
    // drift detection runs inside the same aggregation pass, dispatched on
    // the frozen quantizer:
    //  - sq8: per-row clipped dim count via codegen'd array HOFs against
    //    the frozen grid literals — no explode, no join;
    //  - pq: per-row RECONSTRUCTION error (ADC of a row against its own
    //    codes — the codebooks have no clip-able grid; what drift degrades
    //    is how well they reconstruct the data), compared against the
    //    baseline mean error frozen at build time.
    val sq8 = sq8Stats()
    val pqInfo = if (sq8.nonEmpty) None
      else pqSidecar().map { case (b, baseErr) => (flattenBooks(b), baseErr) }
    val baseCols = Seq(col("id"), col("cell").cast("long").as("cell"), col("emb")) ++
      (if (pqInfo.nonEmpty) Seq(col("codes")) else Nil)
    val all = spark.read.option("basePath", dataPath)
      .parquet(dirs.map(_.getPath).toIndexedSeq: _*)
      .select(baseCols: _*)
      .dropDuplicates("id")
    val live = tombstones().fold(all)(ts =>
      all.join(broadcast(ts), Seq("id"), "left_anti"))
    val clipCol = sq8.fold(lit(0L)) { case (mn, mx) =>
      val embD = transform(col("emb"), x => x.cast("double"))
      (aggregate(zip_with(embD, typedlit(mn.toSeq),
          (x, m) => when(x < m, 1).otherwise(0)), lit(0), (a, v) => a + v) +
        aggregate(zip_with(embD, typedlit(mx.toSeq),
          (x, m) => when(x > m, 1).otherwise(0)), lit(0), (a, v) => a + v))
        .cast("long")
    }
    val errCol = pqInfo.fold(lit(0.0)) { case (flat, _) =>
      VF.pqAdcDirect(col("codes"), col("emb"), flat, IvfIndex.PqK)
    }
    val perCell = live
      .groupBy("cell").agg(count(lit(1)).as("n"), sum(clipCol).as("clipped"),
        sum(size(col("emb")).cast("long")).as("vals"),
        sum(errCol).as("err"))
      .agg(max(col("n")).as("mx"), sum(col("n")).as("rows"),
        count(lit(1)).as("cells"), sum(col("clipped")).as("clipped"),
        sum(col("vals")).as("vals"), sum(col("err")).as("err"))
      .head()
    val rows = perCell.getLong(1)
    if (rows == 0L) IvfBalance(0L, 0, 0.0, 0.0)
    else {
      val cells = perCell.getLong(2).toInt
      val mean = rows.toDouble / cells
      val clipRate =
        if (perCell.getLong(4) == 0L) 0.0
        else perCell.getLong(3).toDouble / perCell.getLong(4)
      // degenerate baseline (codebooks reconstruct the build input
      // EXACTLY — more codewords than distinct subvectors): any live
      // error at all is then infinite relative drift, none is healthy.
      // A pre-base_err sidecar has NO baseline — report 1.0 (healthy)
      // rather than a spurious trigger off an unknowable reference.
      val errRatio = pqInfo.fold(0.0) { case (_, baseOpt) =>
        val liveMean = perCell.getDouble(5) / rows
        baseOpt.fold(1.0) { baseErr =>
          if (baseErr > 0.0) liveMean / baseErr
          else if (liveMean > 0.0) Double.PositiveInfinity
          else 1.0
        }
      }
      IvfBalance(rows, cells, perCell.getLong(0) / mean, clipRate, errRatio)
    }
  }

  private def compactUnleased(): Unit = {
    // snapshot the COMMITTED batch and tombstone dirs to fold — batches
    // and deletes landing during the merge both survive untouched. The
    // tombstones APPLIED are only those behind the replay fence; stale
    // dirs (id <= hwm, already physically applied) are swept unapplied.
    val batchDirs = StoreIO.committedBatchDirs(dataPath)
    val allTsDirs = StoreIO.committedBatchDirs(tombstonePath)
    val tsDirs = liveTombstoneDirs()
    if (batchDirs.length <= 1 && allTsDirs.isEmpty) return
    // the hwm stage publishes in the SAME commit that clears the tombstone
    // dirs — a crash between them could otherwise re-apply (or fail to
    // fence) a delete batch
    val newHwm = allTsDirs.map(_.getName.stripPrefix("batch=").toLong)
      .foldLeft(tombstoneHwm())(math.max)
    def hwmStage = StoreIO.Staged(s"$path/__stage_ts_hwm", hwmPath,
      st => StoreIO.writeLongFile(st, newHwm))
    if (batchDirs.isEmpty) {
      // deletes landed before (or without) any build: nothing to purge —
      // sweep the snapshotted tombstone dirs and fence their ids. (The
      // unguarded form threw on batchIds.min here.)
      StoreIO.commitStaged(Seq(hwmStage), marker,
        cleanup = allTsDirs.map(_.getPath).toSeq)
      return
    }
    val batchIds = batchDirs.map(_.getName.stripPrefix("batch=").toLong)
    val mergedId = math.min(batchIds.min, 0L) - 1L // next free negative generation
    // carry EVERY stored column (metadata included — an early version
    // selected (id, emb, cell) and silently dropped metadata on compaction);
    // only the synthetic batch partition column goes away. Tombstoned rows
    // are dropped PHYSICALLY here, and the snapshotted tombstone dirs clear
    // in the same crash-consistent commit — a crash between the publish and
    // either cleanup is finished by recover() at the next open, so merged
    // and original rows (or a dropped row and its tombstone) can never end
    // up separated.
    val merged = spark.read.option("basePath", dataPath)
      .parquet(batchDirs.map(_.getPath).toIndexedSeq: _*)
      .drop("batch")
      .dropDuplicates("id")
    val purged = if (tsDirs.isEmpty) merged
    else merged.join(
      broadcast(spark.read.schema("id LONG").parquet(tsDirs.map(_.getPath).toIndexedSeq: _*)
        .select("id").dropDuplicates("id")),
      Seq("id"), "left_anti")
    // fold the radii with the data: recomputed over the merged rows
    // (stages run in order, so the radii stage reads the ALREADY-STAGED
    // merged parquet — no second merge pass), which re-TIGHTENS bounds
    // that deletes had only conservatively inflated
    val oldRadii = StoreIO.committedBatchDirs(radiiPath)
    val cents = centroids()
    StoreIO.commitStaged(Seq(
      StoreIO.Staged(s"$path/__stage_data", s"$dataPath/batch=$mergedId",
        st => cellClustered(purged)
          .write.mode("overwrite").partitionBy("cell").parquet(st)),
      // schema sidecar: an all-tombstoned merge stages a footerless
      // bare-_SUCCESS generation — record the EXACT row schema (metadata
      // payload columns included) so [[dataTree]]'s canonical-empty frame
      // binds every column a filtered/projected read will ask for
      StoreIO.Staged(s"$path/__stage_schema", schemaPath,
        st => StoreIO.writeStringFile(st, purged.schema.toDDL)),
      StoreIO.Staged(s"$path/__stage_radii", s"$radiiPath/batch=$mergedId",
        // narrow explicit schema: an all-tombstoned compact stages a
        // bare-_SUCCESS dir that schema inference cannot read — the
        // radii generation must come out EMPTY, not crash the commit
        st => cellRadiiOf(spark.read.schema("emb ARRAY<FLOAT>, cell LONG")
          .parquet(s"$path/__stage_data"), cents)
          .coalesce(1).write.mode("overwrite").parquet(st))) ++
      (if (allTsDirs.isEmpty) Seq.empty else Seq(hwmStage)),
      marker,
      cleanup = (batchDirs ++ oldRadii ++ allTsDirs).map(_.getPath).toSeq)
  }

  private def l2(a: Array[Float], b: Array[Float]): Double = ExactPrune.l2sq(a, b)

  // ------------------------------------------------------- hot serving

  /** JVM-resident serving state — [[GraphIndex]]'s hot tier, IVF shape:
    * live rows grouped by cell, the centroids, and (when the index
    * carries the routed collection's payload, `cid` and `doc`) every live
    * row as read, keyed by id, with its `emb` slot left to `cells` — the
    * input of the filtered route ([[hotFilter]]), typed by the data tree's
    * `schema`. Keyed on the publish fingerprint; every
    * append/delete/compact/build invalidates. The reference serves
    * exactly this way — hnswlib keeps its whole index memory-resident per
    * process (/root/reference/src/chromadb_store.py:4). */
  private final class HotState(
      val key: String,
      val cells: java.util.HashMap[java.lang.Long, Array[(Long, Array[Float])]],
      val rows: java.util.HashMap[java.lang.Long, Array[Any]],
      val schema: org.apache.spark.sql.types.StructType,
      val cents: Array[(Long, Array[Float])]) {
    private def at(name: String) = schema.fieldIndex(name)
    lazy val (embAt, cidAt, docAt) = (at("emb"), at("cid"), at("doc"))
  }

  @volatile private var hot: HotState = null

  /** Publish fingerprint — see [[GraphIndex]]'s hotKey for the
    * multi-process contract (HotInvalidationSpec): per-probe validity from
    * shared on-disk state only, so serving replicas reload without any
    * invalidation channel. */
  private def hotKey(): String = {
    // recursive listing fingerprint (part filenames carry per-write
    // UUIDs), NOT dir mtimes: hotQueryExact couples this state with the
    // listing-keyed radii/centroid caches, and a same-mtime-tick republish
    // pairing fresh radii with stale resident rows would break exactness,
    // not just freshness. Driver-side walk, no Spark job; cost per probe
    // is O(files) = O(generations × cells), and generations stay bounded
    // because Collection.maintain compacts past maxUnits — a hot-served
    // index is by definition under that maintenance policy (an unbounded
    // generation count would degrade the Spark probes' partition
    // discovery long before this stat walk).
    s"${StoreIO.treeFp(dataPath)}|${StoreIO.treeFp(tombstonePath)}|" +
      s"${tombstoneHwm()}|${dirFileFp(new java.io.File(centroidPath))}"
  }

  private def hotState(): HotState = {
    val key = hotKey()
    var h = hot
    if (h == null || h.key != key) {
      // the same read [[query]] runs (whole tree + tombstone anti-join),
      // so hot and cold serve identical row sets
      val raw = dataTree()
      val live = tombstones().fold(raw)(ts =>
        raw.join(broadcast(ts), Seq("id"), "left_anti"))
      val hasPayload = live.columns.contains("cid") && live.columns.contains("doc")
      // partition-dir type inference reads `cell` back as INT; pin to LONG
      val sel = live.select(col("cell").cast("long").as("__cell") +:
        (if (hasPayload) live.columns.toSeq.map(col) else Seq(col("id"), col("emb"))): _*)
      val idAt = sel.schema.fieldIndex("id")
      val embAt = sel.schema.fieldIndex("emb")
      val cells = new java.util.HashMap[java.lang.Long, Array[(Long, Array[Float])]]()
      val rows = new java.util.HashMap[java.lang.Long, Array[Any]]()
      sel.collect().groupBy(_.getLong(0)).foreach { case (cid, rs) =>
        cells.put(cid, rs.map { r =>
          if (hasPayload) {
            val v = r.toSeq.tail.toArray
            v(embAt - 1) = null
            rows.put(r.getLong(idAt), v)
          }
          (r.getLong(idAt), r.getSeq[Float](embAt).toArray)
        })
      }
      h = new HotState(key, cells, rows, live.schema, centroids())
      hot = h
    }
    h
  }

  /** [[query]] served entirely from JVM memory: same nprobe cell choice,
    * same double-accumulated l2, same (distance, id) tie-break — bit-equal
    * answers (spec-pinned), zero Spark jobs warm. Returns
    * (id, cell, distance) like the no-include [[query]] projection. */
  def hotQuery(qe: Array[Float], k: Int, nprobe: Int): Seq[(Long, Long, Double)] = {
    val h = hotState()
    hotScanCells(h, qe, probedCells(h, qe, nprobe), k).map { case (d, id, c, _) => (id, c, d) }
  }

  /** The `nprobe` nearest cells by centroid distance — [[probeCellsOf]]
    * over the resident centroids. */
  private def probedCells(h: HotState, qe: Array[Float], nprobe: Int): Seq[Long] =
    h.cents.map { case (cid, c) => (l2(c, qe), cid) }.sorted.take(nprobe).map(_._2).toSeq

  /** In-memory scored scan of `cells`' rows that `keep` accepts — the
    * shared tail of the hot surfaces: (distance, id, cell, emb) ascending
    * by (distance, id), cut to `k` (negative k = no cut). */
  private def hotScanCells(h: HotState, qe: Array[Float], cells: Seq[Long], k: Int,
                           keep: Long => Boolean = _ => true): Seq[(Double, Long, Long, Array[Float])] = {
    val buf = scala.collection.mutable.ArrayBuffer.empty[(Double, Long, Long, Array[Float])]
    cells.foreach { cid =>
      val arr = h.cells.get(cid)
      if (arr != null) arr.foreach { case (id, emb) =>
        if (keep(id)) buf += ((l2(emb, qe), id, cid, emb))
      }
    }
    val sorted = buf.sortBy { case (d, id, _, _) => (d, id) }
    (if (k < 0) sorted else sorted.take(k)).toSeq
  }

  /** [[hotQuery]]'s answers with their embeddings — the semantic arm of
    * the routed hybrid pipeline
    * ([[graft.queries.SearchQueries.hybridServeIndexed]]), which re-ranks
    * them by cosine. Returns (id, emb). */
  private[graft] def hotQueryEmb(qe: Array[Float], k: Int,
                                 nprobe: Int): Seq[(Long, Array[Float])] = {
    val h = hotState()
    hotScanCells(h, qe, probedCells(h, qe, nprobe), k).map { case (_, id, _, e) => (id, e) }
  }

  /** [[queryExact]] served entirely from JVM memory: the same
    * triangle-inequality candidate logic over the resident state — probe
    * the `probe0` nearest cells for τ in-memory, rescan the cells whose
    * lower bound beats it — so brute-force-EXACT answers cost ZERO Spark
    * jobs warm (the radii metadata loads once per publish through
    * [[cellRadii]]'s fingerprint cache; revalidation is a jobless dir
    * listing). Bit-equal to [[queryExact]] (spec) and independent of
    * training quality. Returns (id, cell, distance) like [[hotQuery]]. */
  def hotQueryExact(qe: Array[Float], k: Int, probe0: Int = 4): Seq[(Long, Long, Double)] = {
    val h = hotState()
    val cand = ExactPrune.topkCells(h.cents, cellRadii(), qe, k, probe0,
      cells => hotScanCells(h, qe, cells, k).map(_._1))
    hotScanCells(h, qe, cand, k).map { case (d, id, c, _) => (id, c, d) }
  }

  /** [[rangeSearch]] served entirely from JVM memory — every live row
    * within PLAIN L2 `radius`, zero Spark jobs warm; the candidate cells
    * are [[rangeCandidateCells]]' (shared code, cached metadata).
    * Bit-equal to [[rangeSearch]] (spec). Returns (id, cell, distance)
    * ordered (distance, id). */
  def hotRangeSearch(qe: Array[Float], radius: Double): Seq[(Long, Long, Double)] = {
    require(radius >= 0.0, "radius must be non-negative")
    val h = hotState()
    hotScanCells(h, qe, rangeCandidateCells(qe, radius), k = -1)
      .filter(_._1 <= radius * radius)
      .map { case (d, id, c, _) => (id, c, d) }
  }

  /** Admission check for routed hot serving — see
    * [[GraphIndex]]: jobless driver-side size probe against
    * [[StoreIO.hotBudgetBytes]]; over budget the router falls back to
    * the partition-pruned Spark probe, and the explicit [[hotQuery]]
    * surface stays available. */
  private[graft] def hotFits(): Boolean =
    StoreIO.treeBytes(dataPath) <= StoreIO.hotBudgetBytes()

  /** [[hotServe]] over a probe batch (the `Collection.queryBatch` hot
    * path): one admission check and state load, rows tagged by query
    * index. None as soon as one probe declines, so the answer source stays
    * uniform. */
  private[store] def hotServeBatch(probes: Seq[(Long, Array[Float])], k: Int,
                                   nprobe: Int, where: Option[Column] = None)
      : Option[Seq[(Long, String, String, Double)]] = {
    if (!hotFits()) return None
    val h = hotState()
    val per = probes.iterator.map { case (qi, qe) =>
      hotServeIn(h, qe, k, nprobe, where).map(_.map { case (cid, doc, d) => (qi, cid, doc, d) })
    }.takeWhile(_.isDefined).toSeq
    if (per.length == probes.length) Some(per.flatMap(_.get)) else None
  }

  /** Hot routed serving (the `Collection.query` path): top-k with the
    * collection payload in the cold path's exact order ((distance, id)),
    * `where` applied BEFORE the top-k within the probed cells, as on the
    * Spark route ([[query]] with `where`). None — the Spark route serves —
    * when the index has no routing payload, exceeds the hot byte budget,
    * or `where` does not fold at plan time ([[hotFilter]]). */
  private[store] def hotServe(qe: Array[Float], k: Int, nprobe: Int,
                              where: Option[Column] = None): Option[Seq[(String, String, Double)]] =
    if (!hotFits()) None else hotServeIn(hotState(), qe, k, nprobe, where)

  private def hotServeIn(h: HotState, qe: Array[Float], k: Int, nprobe: Int,
                         where: Option[Column]): Option[Seq[(String, String, Double)]] = {
    if (h.rows.isEmpty) return None
    def payload(id: Long, d: Double) = {
      val v = h.rows.get(id)
      (v(h.cidAt).asInstanceOf[String], v(h.docAt).asInstanceOf[String], d)
    }
    val probed = probedCells(h, qe, nprobe)
    val keep: Option[Long => Boolean] = where match {
      case None => Some(_ => true)
      case Some(p) => hotFilter(h, probed, p).map(kept => (id: Long) => kept.contains(id))
    }
    keep.map(hotScanCells(h, qe, probed, k, _).map { case (d, id, _, _) => payload(id, d) })
  }

  /** The ids among `cells`' resident rows that `where` keeps, decided by
    * Spark's own optimizer at plan time: the rows become a local relation
    * with the data tree's schema — the Spark route's input — so the Column
    * resolves and coerces exactly as it does there, NULL metadata
    * included, and `ConvertToLocalRelation` folds the filter into the
    * relation without a job. None when the predicate is nondeterministic or
    * the optimized plan is anything but a local relation (a predicate the
    * fold cannot evaluate, such as a subquery): the Spark route decides. */
  private def hotFilter(h: HotState, cells: Seq[Long],
                        where: Column): Option[java.util.HashSet[Long]] = {
    val rows = new java.util.ArrayList[org.apache.spark.sql.Row]()
    cells.foreach { cid =>
      val arr = h.cells.get(cid)
      if (arr != null) arr.foreach { case (id, emb) =>
        val v = h.rows.get(id).clone()
        v(h.embAt) = scala.collection.immutable.ArraySeq.unsafeWrapArray(emb)
        rows.add(org.apache.spark.sql.Row.fromSeq(v.toSeq))
      }
    }
    val kept = spark.createDataFrame(rows, h.schema).filter(where).select("id")
    kept.queryExecution.optimizedPlan match {
      case lr: org.apache.spark.sql.catalyst.plans.logical.LocalRelation
          if kept.queryExecution.analyzed.deterministic =>
        val ids = new java.util.HashSet[Long]()
        lr.data.foreach(r => ids.add(r.getLong(0)))
        Some(ids)
      case _ => None
    }
  }

  // ------------------------------------- codes-resident hot tier (SQ8)

  /** `scorerOf` builds the per-query in-memory code scorer — the driver
    * twin of the scan kernel for whichever quantizer is frozen: SQ8
    * integer L2 against the encoded query (exact, returned as a double —
    * values are < 2^53 so the ordering is unchanged), or the PQ ADC fold
    * over the query's LUT. */
  private final class HotCodesState(
      val key: String,
      val cells: java.util.HashMap[java.lang.Long, Array[(Long, Array[Byte])]],
      val cents: Array[(Long, Array[Float])],
      val scorerOf: Array[Float] => (Array[Byte] => Double),
      val estBytes: Long)

  @volatile private var hotCodes: HotCodesState = null
  // code-bytes estimate cached per publish fingerprint (the estimate costs
  // one narrow count job — don't re-pay it per refused probe); the BUDGET
  // is re-read per probe so a raised/lowered graft.hot.maxBytes takes
  // effect immediately, like the raw tier's per-probe hotFits()
  @volatile private var hotCodesEst: (String, Long) = null

  /** Signed-byte integer L2 — the driver-side twin of
    * [[graft.functions.Sq8L2Distance]]'s loop (identical arithmetic, so
    * the in-memory shortlist is bit-equal to the codes-only scan's). */
  private def sq8l2(a: Array[Byte], b: Array[Byte]): Long = {
    var acc = 0L; var i = 0
    while (i < a.length) { val d = (a(i) - b(i)).toLong; acc += d * d; i += 1 }
    acc
  }

  /** JVM-resident CODES — the hot tier for an index whose raw floats
    * exceed `graft.hot.maxBytes`: 1 byte/dim instead of 4, so ~4x more
    * corpus serves hot under the same admission budget. A probe runs
    * phase 1 (integer L2 over the resident codes, the
    * [[codesShortlist]] semantics) entirely in memory — zero Spark jobs —
    * and phase 2 as the same bounded In-pushed exact rerank
    * [[queryQuantized]] runs ([[exactRerank]], ≤ shortlist rows off
    * disk). */
  private def hotCodesState(): Option[HotCodesState] = {
    val key = hotKey()
    val h0 = hotCodes
    if (h0 != null && h0.key == key)
      return if (h0.estBytes <= StoreIO.hotBudgetBytes()) Some(h0) else None
    val e0 = hotCodesEst
    if (e0 != null && e0._1 == key && e0._2 > StoreIO.hotBudgetBytes()) return None
    // per-query scorer + resident bytes/code, dispatched on the frozen
    // quantizer; no sidecar at all (pre-codes index) refuses permanently
    // at this key
    val (scorerOf, codeLen): (Array[Float] => (Array[Byte] => Double), Int) =
      sq8Stats() match {
        case Some((mn, mx)) =>
          ((qe: Array[Float]) => {
            val qb = graft.functions.Sq8Encode.encode(qe, mn, mx)
            (codes: Array[Byte]) => sq8l2(codes, qb).toDouble
          }, mn.length)
        case None => pqBooks() match {
          case Some(books) =>
            ((qe: Array[Float]) => {
              val lut = pqLut(qe, books)
              (codes: Array[Byte]) => {
                var acc = 0.0; var mi = 0
                while (mi < codes.length) {
                  acc += lut(mi * IvfIndex.PqK + (codes(mi) & 0xFF)); mi += 1
                }
                acc
              }
            }, books.length)
          case None => hotCodesEst = (key, Long.MaxValue); return None
        }
      }
    // ADMISSION MATH COUNTS CODE BYTES: resident cost per row is the code
    // (1 byte/dim for SQ8, pqM bytes/vector for PQ) + the 8-byte id +
    // ~32 B of JVM tuple/array headers — the raw floats never load, which
    // is the whole point (~4x more corpus under the same budget for SQ8,
    // ~32x for PQ). One narrow id-count job per publish fingerprint.
    val est =
      if (e0 != null && e0._1 == key) e0._2
      else {
        val v = liveIds.count() * (codeLen + 40L)
        hotCodesEst = (key, v); v
      }
    if (est > StoreIO.hotBudgetBytes()) return None
    // same read rule as [[query]]/[[queryQuantized]] (whole tree +
    // tombstone anti-join), so hot and cold serve identical row sets
    val raw = dataTree()
    val live = tombstones().fold(raw)(ts =>
      raw.join(broadcast(ts), Seq("id"), "left_anti"))
    val cells = new java.util.HashMap[java.lang.Long, Array[(Long, Array[Byte])]]()
    live.select(col("cell").cast("long"), col("id"), col("codes")).collect()
      .groupBy(_.getLong(0)).foreach { case (cid, rows) =>
        cells.put(cid, rows.map(r => (r.getLong(1), r.getAs[Array[Byte]](2))))
      }
    val h = new HotCodesState(key, cells, centroids(), scorerOf, est)
    hotCodes = h
    Some(h)
  }

  /** [[queryQuantized]] with phase 1 served from JVM-resident CODES: the
    * integer-L2 shortlist over the nprobe nearest cells runs in memory
    * (zero Spark jobs), then the SAME bounded exact rerank finishes off
    * disk. Bit-equal to [[queryQuantized]] (spec-pinned) — same shortlist
    * ((qdist, id)-ordered, cut at `shortlist`), same rerank code path.
    * None when the index has no codes sidecar or the resident code bytes
    * exceed `graft.hot.maxBytes`. Returns (id, cell, distance) rows. */
  def hotQueryQuantized(qe: Array[Float], k: Int, nprobe: Int,
                        shortlist: Int = 256): Option[Seq[(Long, Long, Double)]] = {
    require(shortlist >= k, "shortlist must be at least k")
    hotCodesState().map { h =>
      val score = h.scorerOf(qe)
      val probed = h.cents.map { case (cid, c) => (l2(c, qe), cid) }
        .sorted.take(nprobe).map(_._2)
      val buf = scala.collection.mutable.ArrayBuffer.empty[(Double, Long)]
      probed.foreach { cid =>
        val arr = h.cells.get(cid)
        if (arr != null) arr.foreach { case (id, codes) =>
          buf += ((score(codes), id))
        }
      }
      val shortIds = buf.sortBy(identity).take(shortlist).map(_._2).toSeq
      exactRerank(qe, probed.toSeq, shortIds, k, None, Nil)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    }
  }

  /** Top-k by squared L2, scanning only the nprobe nearest cells. `where`
    * restricts the answer set by a predicate over the stored metadata
    * columns (the Chroma `where=` surface, /root/reference/src/cod.py:125-129);
    * it is applied BEFORE the vector math, stacked on the cell pruning, so
    * a filtered probe reads only matching row groups of the probed cells.
    * `include` carries stored metadata columns into the result (the
    * Chroma `include=` projection — lets an index-routed collection query
    * return documents without a second corpus read). */
  def query(qe: Array[Float], k: Int, nprobe: Int,
            where: Option[Column] = None,
            include: Seq[String] = Nil): DataFrame =
    queryCells(qe, k, probeCellsOf(qe, nprobe), where, include)

  /** The whole data tree as a frame — canonical-empty when no committed
    * generation holds a single parquet footer: an all-tombstoned
    * [[compact]] publishes a bare-_SUCCESS generation that schema
    * inference cannot read, and an index with zero live rows must serve
    * EMPTY answers, not AnalysisExceptions. The canonical schema carries
    * the core columns only (a metadata `include`/`where` over a
    * fully-purged index has nothing to bind to). Jobless driver listing;
    * the normal path is the same whole-tree read as before. */
  private def dataTree(): DataFrame =
    if (StoreIO.hasParquetFooter(new java.io.File(dataPath)))
      spark.read.parquet(dataPath)
    else spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      org.apache.spark.sql.types.StructType.fromDDL(
        // the schema sidecar compact() publishes beside a footerless
        // merged generation carries the EXACT row schema (metadata
        // payload included), so filtered/projected reads over a purged
        // index bind; the core columns remain the pre-sidecar fallback
        StoreIO.readStringFile(schemaPath).getOrElse(
          "id LONG, emb ARRAY<FLOAT>, codes BINARY, cell LONG")))

  /** The pruned live SCORED frame every cell-scan surface shares
    * ([[queryCells]], [[rangeSearch]]): partition-pruned scan of `cells`,
    * tombstone anti-join, metadata predicate, SQUARED L2 distance. */
  private def scoredCells(qe: Array[Float], cells: Seq[Long],
                          where: Option[Column]): DataFrame = {
    val pruned = dataTree()
      .filter(col("cell").isin(cells: _*)) // partition pruning, not a row filter
    // pending deletes stop being served IMMEDIATELY: anti-join the (small,
    // broadcast) tombstone set — zero plan change while none are pending
    val base = tombstones().fold(pruned)(ts =>
      pruned.join(broadcast(ts), Seq("id"), "left_anti"))
    where.foldLeft(base)(_ filter _)
      .withColumn("distance", VF.l2Sq(col("emb"), typedlit(qe)))
  }

  /** The output projection those surfaces share. */
  private def projectOut(df: DataFrame, include: Seq[String]): DataFrame =
    // partition-dir type inference reads `cell` back as INT; pin to LONG
    df.select(col("id") +: include.map(col) :+
      col("cell").cast("long").as("cell") :+ col("distance"): _*)

  /** [[query]] over an EXPLICIT cell set — the shared tail of the probed
    * and exact surfaces. */
  private def queryCells(qe: Array[Float], k: Int, cells: Seq[Long],
                         where: Option[Column],
                         include: Seq[String] = Nil): DataFrame =
    projectOut(scoredCells(qe, cells, where)
      .orderBy(asc("distance"), asc("id"))
      .limit(k), include)

  // ------------------------------------------------ exact pruned search

  /** Effective per-cell pruning radii: per cell, the max over every
    * committed batch generation's `_radii` sidecar (numCells-bounded
    * driver metadata). Deletes only SHRINK a cell's true radius, so stale
    * maxima stay sound — pruning prunes less, never a live candidate; the
    * next compact/retrain re-tightens them. None when any committed data
    * batch has no radii file (an index persisted before radii existed, or
    * a crash between a batch commit and its radii write): the exact
    * surfaces then scan every cell rather than trust an unsound bound —
    * rebuild, retrain, or compact to restore pruning. */
  // radii cache, same fingerprint discipline as the centroid cache —
  // keyed on BOTH dir listings because the pruning-soundness verdict
  // (every data batch has radii?) depends on both
  @volatile private var radiiCache: (String, Option[Map[Long, Double]]) = null

  private def cellRadii(): Option[Map[Long, Double]] = {
    val dataNames = StoreIO.committedBatchDirs(dataPath).map(_.getName)
    val radDirs = StoreIO.committedBatchDirs(radiiPath)
    val fp = (dataNames ++ radDirs.map(d => s"${d.getName}=${dirFileFp(d)}"))
      .mkString(",")
    val c = radiiCache
    if (c != null && c._1 == fp) c._2
    else {
      val radNames = radDirs.map(_.getName).toSet
      val v =
        if (dataNames.exists(!radNames.contains(_))) None
        else if (radDirs.isEmpty) Some(Map.empty[Long, Double])
        else Some(
          spark.read.option("basePath", radiiPath)
            .parquet(radDirs.map(_.getPath).toIndexedSeq: _*)
            .groupBy("cell").agg(max(col("rmax")).as("r"))
            .collect().map(r => (r.getLong(0), r.getDouble(1))).toMap)
      radiiCache = (fp, v)
      v
    }
  }

  /** The EXACT candidate cell set for a top-k probe: the `probe0` nearest
    * cells by centroid distance, plus every other cell whose triangle-
    * inequality lower bound — d(q, centroid) − radius — does not beat the
    * kth-best match found in the probed cells. For any row x of cell c,
    * d(q, x) ≥ d(q, centroid_c) − r_c, so a pruned cell provably holds no
    * exact-top-k candidate. With no radii metadata every cell is a
    * candidate (still exact, nothing pruned). Package-private for the
    * pruning specs and the stress harness. */
  private[graft] def exactCandidateCells(qe: Array[Float], k: Int,
      probe0: Int, where: Option[Column] = None): Seq[Long] =
    // τ: the kth match distance within the probed cells (∞ when they hold
    // fewer than k matches — then nothing prunes); a k-row collect
    ExactPrune.topkCells(centroids(), cellRadii(), qe, k, probe0,
      cells => queryCells(qe, k, cells, where)
        .select("distance").collect().map(_.getDouble(0)).toSeq)

  /** EXACT top-k by squared L2 — brute-force answers at pruned-probe
    * cost. Two passes: probe the `probe0` nearest cells, then rescan the
    * candidate set ([[exactCandidateCells]]) that provably contains the
    * exact answer. On clustered data most cells prune (the bound
    * tightens as the first probe finds close matches); uniform data or a
    * pre-radii index degrade to a full scan — still exact, never wrong.
    * Unlike [[query]], the result is independent of training quality and
    * probe depth, so it oracle-checks against plain brute force. Same
    * output columns as [[query]]. */
  def queryExact(qe: Array[Float], k: Int, probe0: Int = 4,
                 where: Option[Column] = None,
                 include: Seq[String] = Nil): DataFrame =
    queryCells(qe, k, exactCandidateCells(qe, k, probe0, where), where, include)

  // ------------------------------------------------- recall calibration

  /** Recall@`k` of every probe depth in `ladder` against the EXACT scan,
    * over a bounded probe panel — the q_ann_recall measurement swept so a
    * deployment PICKS its serving depth instead of guessing. ONE scored
    * panel × corpus pass feeds every arm: each candidate row joins its
    * cell's RANK in the probe's centroid order (a broadcast
    * panel × numCells frame — index-metadata scale), the exact arm is the
    * unfiltered top-k, and depth p's arm is the top-k among rank ≤ p —
    * nested candidate sets cut from the same persisted frame, never a
    * per-depth corpus rescan. Returns (nprobe, hits, probes, recall)
    * ordered by nprobe; recall = hits / (|panel| · k).
    *
    * `excludeSelf`: drop candidates whose id equals the probe id — the
    * self-panel convention ([[calibrateNprobe]] draws probes from the
    * corpus, and a guaranteed self-hit in both arms would inflate every
    * depth equally). */
  /** The scored panel frame (pid, id, dist, crank) BOTH calibration
    * surfaces ([[calibrationSweep]], [[exactDepths]]) cut from — one
    * definition so their rank conventions can never diverge. The cell
    * rank uses the SAME (squared distance, cid) total order the serving
    * paths take cells by ([[probeCellsOf]] / [[queryBatch]]): the sweep's
    * hits and the per-probe depths are statements about exactly those
    * candidate sets, and a sqrt-ranked crank would agree everywhere
    * EXCEPT 1-ulp rounding ties — slack a provably-minimal per-probe
    * depth does not have. */
  private def scoredPanel(panel: Seq[(Long, Array[Float])],
                          excludeSelf: Boolean): DataFrame = {
    require(panel.nonEmpty, "calibration needs a non-empty probe panel")
    require(panel.length <= 4096, "calibration panel is index-metadata scale")
    val cents = centroids()
    val crankRows = panel.flatMap { case (pid, pe) =>
      cents.map { case (cid, c) => (l2(c, pe), cid) }.sorted.zipWithIndex
        .map { case ((_, cid), r) => (pid, cid, r + 1) }
    }
    val crank = spark.createDataFrame(crankRows.toSeq)
      .toDF("pid", "cell", "crank")
    val probesDf = spark.createDataFrame(
      panel.map { case (pid, pe) => (pid, pe.toSeq) }).toDF("pid", "pe")
    val base = liveInclude(Seq("cell"))
      .crossJoin(broadcast(probesDf))
    (if (excludeSelf) base.filter(col("id") =!= col("pid")) else base)
      .select(col("pid"), col("id"),
        VF.l2Sq(col("emb"), col("pe")).as("dist"), col("cell"))
      .join(broadcast(crank), Seq("pid", "cell"))
  }

  def calibrationSweep(panel: Seq[(Long, Array[Float])], k: Int,
                       ladder: Seq[Int],
                       excludeSelf: Boolean = false): DataFrame = {
    val steps = ladder.distinct.sorted
    require(steps.nonEmpty && steps.head >= 1 && steps.last <= numCells,
      s"ladder must sit in [1, $numCells]")
    val scored = scoredPanel(panel, excludeSelf).persist()
    import graft.operators.GroupedTopK
    def ids(c: Column) = transform(c, s0 => s0.getField("id"))
    // ONE exact-arm aggregation decides EVERY depth: candidates nest
    // (rank ≤ p ⊆ rank ≤ p+1) and the exact top-k are the k globally best
    // of the same pool under the same (dist, id) total order, so an exact
    // member e is in depth p's top-k IFF rank(e) ≤ p — fewer than k
    // candidates can precede a globally-top-k row in ANY subset. Hence
    // hits(p) = |{e ∈ exact top-k : cellRank(e) ≤ p}|: one GroupedTopK
    // pass + one broadcast join of the panel×k answer back to its ranks —
    // the sweep costs ~one scored panel pass, never per-depth rescans
    // (IvfIndexSpec replays every depth through the partition-pruned
    // serving path to pin this equivalence).
    val exact = scored.groupBy("pid")
      .agg(GroupedTopK.topK(k)(col("dist"), col("id")).as("ex"))
      .select(col("pid"), explode(ids(col("ex"))).as("id"))
    val withRank = scored.select("pid", "id", "crank")
      .join(broadcast(exact), Seq("pid", "id"), "left_semi")
    val ladderDf = spark.createDataFrame(steps.map(Tuple1(_))).toDF("nprobe")
    val out = withRank.crossJoin(broadcast(ladderDf))
      .groupBy("nprobe")
      .agg(sum(when(col("crank") <= col("nprobe"), 1L).otherwise(0L)).as("hits"))
      .select(col("nprobe"), col("hits"), lit(panel.length.toLong).as("probes"),
        round(col("hits") / (panel.length * k).toDouble, 4).as("recall"))
      .orderBy("nprobe")
    // |ladder| rows: checkpoint the tiny result, release the scored frame
    val mat = out.localCheckpoint()
    scored.unpersist()
    mat
  }

  /** PER-PROBE exact serving depths from the same one-pass machinery as
    * [[calibrationSweep]]: probe p's exact depth is the MAX cell rank
    * over its exact top-`k` members — by the nesting lemma, the
    * smallest depth whose probed candidate set provably contains the
    * whole exact top-k. A global policy must carry every probe to the
    * WORST probe's depth; per-probe depths let an easy probe prune hard
    * while a straddling one probes deep (q_rag_indexed's serving knob).
    * Probes with fewer than `k` candidates report `numCells` (only the
    * full scan is provably exact). Returns (pid, depth) for every panel
    * probe, one scored panel × corpus pass. */
  def exactDepths(panel: Seq[(Long, Array[Float])], k: Int,
                  excludeSelf: Boolean = false): Map[Long, Int] = {
    import graft.operators.GroupedTopK
    // ONE bounded aggregation decides every probe's depth (guide §1.3 —
    // this runs as the calibrate arm of every index-compound bench query):
    // the exact top-k selection (same (dist, id) total order as the old
    // GroupedTopK.topK arm) carries each member's cell rank through the
    // aggregate as the topKRows payload, and the depth is their max. The
    // old formulation persisted the scored panel×corpus frame and read it
    // TWICE (top-k aggregate + a rank re-join) — two corpus-scale passes
    // and a cache pin per calibration; the payload fold is one pass with
    // the identical members (spec-pinned against the sweep in IvfIndexSpec)
    // and an identical max over the same per-(pid, id) unique ranks.
    val rows = scoredPanel(panel, excludeSelf)
      .groupBy("pid")
      .agg(GroupedTopK.topKRows(k)(col("dist"), col("id"), col("crank")).as("tk"))
      .select(col("pid"), size(col("tk")).as("nex"),
        array_max(transform(col("tk"),
          e => e.getField("payload").cast("int"))).as("d"))
      .collect()
      .map(r => r.getLong(0) ->
        (if (r.getInt(1) < k) numCells else r.getInt(2)))
      .toMap
    panel.map { case (pid, _) => pid -> rows.getOrElse(pid, numCells) }.toMap
  }

  /** The SMALLEST ladder depth whose panel recall@`k` meets `target` —
    * the serving-policy knob: "hit recall ≥ R" instead of "nprobe = 4".
    * The panel is a deterministic hash-ordered sample of the live rows
    * (capped at `panelCap` — the fixed-COUNT panel discipline, so the
    * sweep costs one bounded panel × corpus pass at any corpus size), and
    * the default ladder is the power-of-two runs up to `numCells`; the
    * full-probe rung serves every cell, so recall 1.0 is always present
    * and any target ≤ 1 terminates. */
  def calibrateNprobe(k: Int, target: Double, panelCap: Int = 64,
                      ladder: Seq[Int] = Nil): Int =
    PolicySidecar.pickRung(target, "depth", "include numCells (the exact " +
        "rung, recall 1.0) in the ladder or lower the target") {
      calibrationSweep(calibrationPanel(panelCap), k,
        PolicySidecar.depthLadder(ladder, numCells), excludeSelf = true)
    }

  /** [[calibrateNprobe]]'s probe panel: the `panelCap` live rows first in
    * deterministic xxhash64-of-id order — a fixed-COUNT pseudo-random
    * sample (the q_ann_recall panel discipline), exposed so specs and
    * tooling can replay the exact panel the policy saw. */
  def calibrationPanel(panelCap: Int): Seq[(Long, Array[Float])] = {
    liveInclude(Nil)
      .orderBy(xxhash64(col("id")), col("id")).limit(panelCap)
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1).toArray)).toSeq
  }

  // ------------------------------------ persisted per-probe depth policy

  private def depthsPath = s"$path/_depths"

  private lazy val depthSidecar = new PolicySidecar(spark, depthsPath, marker,
    s"IvfIndex at $path", "depth", "the index content changed (append/delete/retrain)",
    () => hotKey())

  /** Calibrate [[exactDepths]] for a STANDING probe panel and persist the
    * map as a `_depths` sidecar beside the cells ([[PolicySidecar]]) — the
    * step that turns a chunk index into a REOPENABLE serving artifact (the
    * encrypted twin's `storeIndexed(recallTarget=)` discipline): a server
    * process reopening the path serves at the committed depths without
    * re-running the panel × corpus calibration pass. The sidecar records
    * the panel+k fingerprint AND the index content fingerprint, so
    * [[depthPolicy]] can FENCE staleness — depths calibrated before an
    * append/retrain carry no exactness proof afterwards. `precomputed`
    * lets a caller that just ran [[exactDepths]] (the streamed-maintenance
    * hook) persist without a second calibration pass — it MUST be that
    * exact panel's fresh result. */
  def persistDepthPolicy(panel: Seq[(Long, Array[Float])], k: Int,
                         precomputed: Option[Map[Long, Int]] = None): Map[Long, Int] =
    WriterLease.withLease(path, "IvfIndex.persistDepthPolicy") {
      depthSidecar.write(panel, k, k, precomputed.getOrElse(exactDepths(panel, k)))
    }

  /** Freshness of the committed policy for (panel, k): [[IvfIndex.PolicyAbsent]]
    * when none exists (or one exists for a DIFFERENT panel or k — not this
    * panel's policy at all), [[IvfIndex.PolicyFresh]] when the index content
    * fingerprint still matches, [[IvfIndex.PolicyStale]] after any
    * content-changing commit. Driver-side file metadata + one tiny parquet
    * read — no corpus jobs. */
  def depthPolicyStatus(panel: Seq[(Long, Array[Float])], k: Int): IvfIndex.PolicyStatus =
    depthSidecar.status(panel, k, k)

  /** The committed per-probe depths for (panel, k) — REFUSES (fail-loud)
    * unless the policy is [[IvfIndex.PolicyFresh]]: serving at stale depths
    * silently drops the indexed ≡ exact contract, the failure the fence
    * exists to prevent. Callers that prefer self-healing use
    * [[depthPolicyOrRecalibrate]]. */
  def depthPolicy(panel: Seq[(Long, Array[Float])], k: Int): Map[Long, Int] =
    depthSidecar.read(panel, k, k)

  /** [[depthPolicy]] with LOUD self-healing: a fresh policy reads straight
    * from the sidecar (zero calibration jobs — the reopen path); an absent
    * or stale one re-runs [[exactDepths]] and re-persists, logging the
    * recalibration so drift is never silent. The returned map is always
    * provably exact for the CURRENT index content. */
  def depthPolicyOrRecalibrate(panel: Seq[(Long, Array[Float])], k: Int): Map[Long, Int] =
    depthSidecar.readOrRecalibrate(panel, k, k)(persistDepthPolicy(panel, k))

  /** EXACT range search: every live row within PLAIN L2 distance
    * `radius` of the probe — the third classic vector-search surface
    * after top-k and filtered top-k. Cells whose centroid lower bound
    * d(q, centroid) − r_cell exceeds `radius` never scan; the `distance`
    * output column stays SQUARED L2 like every other surface (the row
    * filter compares against radius²). Ordered (distance, id); row count
    * is data-dependent by nature — callers cap with `.limit`. */
  /** The cells a range probe must scan: centroid lower bound within
    * `radius` (every cell when no radii metadata exists). Package-private
    * for the pruning specs and the stress harness. */
  private[graft] def rangeCandidateCells(qe: Array[Float], radius: Double): Seq[Long] =
    ExactPrune.rangeCells(centroids(), cellRadii(), qe, radius)

  def rangeSearch(qe: Array[Float], radius: Double,
                  where: Option[Column] = None,
                  include: Seq[String] = Nil): DataFrame = {
    require(radius >= 0.0, "radius must be non-negative")
    projectOut(scoredCells(qe, rangeCandidateCells(qe, radius), where)
      .filter(col("distance") <= lit(radius * radius))
      .orderBy(asc("distance"), asc("id")), include)
  }

  // ------------------------------------------------ index range joins

  /** Qualifying UNORDERED cell pairs (a ≤ b) of [[selfJoinWithin]]: rows
    * x ∈ a, y ∈ b can satisfy d(x, y) ≤ radius only if
    * d(μa, μb) − r_a − r_b ≤ radius (the triangle inequality through BOTH
    * centroids), so every other cell pair is provably empty and never
    * joins — the blocking that turns the N² near-dup join into a sum of
    * qualifying block products. No radii metadata → every pair (correct,
    * nothing pruned); cells with no rows in any batch drop. numCells²/2
    * driver arithmetic over already-cached metadata. Package-private for
    * the pruning specs and the stress harness. */
  private[graft] def selfJoinCellPairs(radius: Double): Seq[(Long, Long)] =
    ExactPrune.cellPairs(centroids(), cellRadii(), radius)

  /** One narrow live side of the range joins: (id, cell, emb) after
    * tombstones and the metadata predicate (applied on the FULL row like
    * [[query]]'s `where`, then pruned to the join columns — Catalyst
    * pushes the projection into the scan). */
  private def liveNarrow(where: Option[Column]): DataFrame = {
    val full = dataTree()
    val live = tombstones().fold(full)(ts =>
      full.join(broadcast(ts), Seq("id"), "left_anti"))
    where.foldLeft(live)(_ filter _)
      .select(col("id"), col("cell").cast("long").as("cell"), col("emb"))
  }

  /** All-pairs-within-radius similarity SELF-JOIN — the near-duplicate
    * join primitive (the reference's store has nothing like it; Chroma
    * users run one query per row, /root/reference/src/cod.py:118-139).
    * EXACT: every live unordered pair (id_l < id_r) with SQUARED L2
    * `distance` ≤ radius². Plan: the qualifying cell-pair frame
    * ([[selfJoinCellPairs]], both orientations so the id_l < id_r
    * convention never drops a cross-cell pair) BROADCASTS; both row sides
    * are narrow (id, cell, emb) pruned scans; the pair expansion is a
    * broadcast hash join and the row pairing an EQUI-join on the cell key
    * — shuffles partition by cell, never a cartesian product, and total
    * compute is the sum of qualifying block products instead of N²/2.
    * `where` restricts BOTH sides (dedup within a filtered slice). */
  def selfJoinWithin(radius: Double, where: Option[Column] = None): DataFrame = {
    require(radius >= 0.0, "radius must be non-negative")
    import spark.implicits._
    val pairs = ExactPrune.orient(selfJoinCellPairs(radius)).toDF("ca", "cb")
    def side(tag: String) = liveNarrow(where).select(
      col("id").as(s"id_$tag"), col("cell").as(s"cell_$tag"),
      col("emb").as(s"emb_$tag"))
    side("l")
      .join(broadcast(pairs), col("cell_l") === col("ca"))
      .join(side("r"), col("cb") === col("cell_r"))
      .filter(col("id_l") < col("id_r"))
      .withColumn("distance", VF.l2Sq(col("emb_l"), col("emb_r")))
      .filter(col("distance") <= lit(radius * radius))
      .select(col("id_l"), col("id_r"), col("distance"))
      .orderBy(asc("id_l"), asc("id_r"))
  }

  /** Index range JOIN: for every probe row, every live index row within
    * PLAIN L2 `radius` — [[rangeSearch]] with a DataFrame of probes, the
    * decontamination / dedup-against-reference primitive (drop from a
    * training corpus everything too close to a benchmark embedding).
    * Probes can be corpus-sized: NOTHING is per-probe on the driver. The
    * candidate (probe, cell) frame comes from a broadcast of the
    * numCells-row centroid+radius metadata under the probe scan, filtered
    * by [[rangeSearch]]'s bound d(q, μc) − r_c ≤ radius; the data pairing
    * is an EQUI-join on the cell key. `idCol` must not collide with the
    * index's `id` output column. Output (idCol, id, distance ≤ radius²),
    * SQUARED distance like every surface. */
  def rangeJoin(probes: DataFrame, radius: Double,
                idCol: String = "qid", vecCol: String = "qe",
                where: Option[Column] = None): DataFrame = {
    require(radius >= 0.0, "radius must be non-negative")
    // reject every internal-frame collision up front — a clash with the
    // broadcast metadata or data columns would otherwise surface as an
    // opaque ambiguous-reference AnalysisException deep in Catalyst
    val reserved = Set("id", "distance", "cell", "centroid", "rmax", "emb")
    require(!reserved.contains(idCol),
      s"idCol '$idCol' collides with an internal or output column ($reserved)")
    require(!reserved.contains(vecCol),
      s"vecCol '$vecCol' collides with an internal or output column ($reserved)")
    import spark.implicits._
    val rm = cellRadii()
    val meta = centroids().toSeq.flatMap { case (cid, c) =>
      rm match {
        case None => Seq((cid, c.toSeq, Double.PositiveInfinity))
        case Some(m) => m.get(cid).map(r => (cid, c.toSeq, r)).toSeq
      }
    }
    val cellsDf = meta.toDF("cell", "centroid", "rmax")
    val cand = probes.select(col(idCol), col(vecCol))
      .join(broadcast(cellsDf),
        sqrt(VF.l2Sq(col(vecCol), col("centroid"))) - col("rmax") <=
          lit(radius + 1e-9))
      .select(col(idCol), col(vecCol), col("cell"))
    cand.join(liveNarrow(where), Seq("cell"))
      .withColumn("distance", VF.l2Sq(col(vecCol), col("emb")))
      .filter(col("distance") <= lit(radius * radius))
      .select(col(idCol), col("id"), col("distance"))
      .orderBy(asc(idCol), asc("id"))
  }

  /** Decontamination FILTER — the anti-form of [[rangeJoin]]: the probe
    * rows with NO live index row within PLAIN L2 `radius` (drop from a
    * training corpus everything semantically close to a benchmark row;
    * [[graft.streaming.StreamOps.filterIngest]]'s n-gram contamination
    * check upgraded to embedding space, where paraphrased leakage that
    * shares no 8-gram still lands). Survivors keep the probe frame's full
    * schema; the matched-id set is [[rangeJoin]]'s pruned candidate join
    * followed by one distinct + anti-join on `idCol`. */
  def exceptNear(probes: DataFrame, radius: Double,
                 idCol: String = "qid", vecCol: String = "qe",
                 where: Option[Column] = None): DataFrame =
    probes.join(
      rangeJoin(probes, radius, idCol, vecCol, where).select(idCol).distinct(),
      Seq(idCol), "left_anti")

  /** Phase 1 of [[queryQuantized]] as a lazy frame — the CODES-ONLY pruned
    * scan (id, qdist), exposed so specs can pin its plan: the scan's
    * ReadSchema must carry `codes` and NOT `emb` (column pruning is the
    * whole point — 1 byte/dim instead of 4 off disk). */
  private[graft] def codesShortlist(qe: Array[Float], nprobe: Int,
                                    shortlist: Int,
                                    where: Option[Column] = None): DataFrame =
    codesShortlistImpl(phase1Score(qe), probeCellsOf(qe, nprobe), shortlist, where)

  /** The probe's nprobe nearest cells — the driver-side centroid pass
    * every quantized phase shares. */
  private def probeCellsOf(qe: Array[Float], nprobe: Int): Seq[Long] =
    centroids().map { case (cid, c) => (l2(c, qe), cid) }
      .sorted.take(nprobe).map(_._2).toSeq

  private def codesShortlistImpl(score: Column, cells: Seq[Long],
                                 shortlist: Int,
                                 where: Option[Column]): DataFrame = {
    val pruned = dataTree()
      .filter(col("cell").isin(cells: _*))
    val base = tombstones().fold(pruned)(ts =>
      pruned.join(broadcast(ts), Seq("id"), "left_anti"))
    where.foldLeft(base)(_ filter _)
      .select(col("id"), score.as("qdist"))
      .orderBy(asc("qdist"), asc("id"))
      .limit(shortlist)
  }

  /** [[query]] through the SQ8 codes — the 100 TB scan path: phase 1 ranks
    * the probed cells by EXACT integer L2 over the 1-byte/dim codes column
    * (the raw float column never leaves disk — 4x less scan traffic,
    * column-pruning plan-asserted in IvfIndexSpec), phase 2 re-ranks the
    * `shortlist` survivors by exact float L2 through an In-pushed point
    * read of the raw column. With `shortlist` >= the probed cells'
    * population the result is EXACTLY [[query]]'s (spec-pinned); at
    * bounded depth it is the standard quantize-then-rerank trade
    * (recall curve in IvfIndexSpec). The shortlist id collect is bounded
    * by `shortlist` — never corpus-sized. */
  def queryQuantized(qe: Array[Float], k: Int, nprobe: Int,
                     shortlist: Int = 256,
                     where: Option[Column] = None,
                     include: Seq[String] = Nil): DataFrame = {
    require(shortlist >= k, "shortlist must be at least k")
    val cells = probeCellsOf(qe, nprobe)
    val shortIds = codesShortlistImpl(phase1Score(qe), cells, shortlist, where)
      .select("id").collect().map(_.getLong(0)).toSeq
    exactRerank(qe, cells, shortIds, k, where, include)
  }

  /** Phase 2 of a quantized probe — the bounded exact rerank: an In-pushed
    * point read of the ≤ shortlist surviving raw rows within the probed
    * cells, float-L2-scored and cut to k. Shared by [[queryQuantized]] and
    * the codes-resident hot tier ([[hotQueryQuantized]]), so the two paths
    * cannot drift. */
  private def exactRerank(qe: Array[Float], cells: Seq[Long],
                          shortIds: Seq[Long], k: Int,
                          where: Option[Column], include: Seq[String]): DataFrame = {
    val pruned = dataTree()
      .filter(col("cell").isin(cells: _*))
      .filter(col("id").isin(shortIds: _*))
    val base = tombstones().fold(pruned)(ts =>
      pruned.join(broadcast(ts), Seq("id"), "left_anti"))
    where.foldLeft(base)(_ filter _)
      .withColumn("distance", VF.l2Sq(col("emb"), typedlit(qe)))
      .orderBy(asc("distance"), asc("id"))
      .limit(k)
      .select(col("id") +: include.map(col) :+
        col("cell").cast("long").as("cell") :+ col("distance"): _*)
  }

  /** [[queryBatch]] through the SQ8 codes — the bulk-scoring twin of
    * [[queryQuantized]]: Q probes share ONE codes-only scan of the union
    * of their probe cells (each row integer-L2-scored only against probes
    * whose cell set contains it), per-probe shortlists cut map-side by
    * [[graft.operators.GroupedTopK]], then ONE In-pushed exact rerank of
    * the union shortlist finishes every probe through the same
    * answers-not-candidates [[graft.operators.GroupedTopK.topKRows]] tail
    * [[queryBatch]] serves through — neither exchange ever carries the
    * candidate volume (the r11 §8.3 measurement: a probe-keyed window is
    * a constant ~855× exchange multiplier over the answer). Per-probe
    * answers equal [[queryQuantized]]'s (spec-pinned). The id
    * collect is bounded by Q × `shortlist`. With `shortlist` >= the
    * probed cells' population the result is EXACTLY [[queryBatch]]'s
    * (spec-pinned). `include` carries stored metadata columns of the
    * NEIGHBOR rows into the result (read during the exact rerank, which
    * touches the full rows anyway) — the routed bulk-labeling path
    * (`AnnQueries.routedKnnVotes`) pulls neighbor labels through it
    * instead of a second corpus join. */
  def queryBatchQuantized(probes: Seq[(Long, Array[Float])], k: Int, nprobe: Int,
                          shortlist: Int = 256,
                          include: Seq[String] = Nil): DataFrame = {
    require(probes.nonEmpty, "queryBatchQuantized needs at least one probe")
    require(shortlist >= k, "shortlist must be at least k")
    val cents = centroids()
    val probeCells = probes.map { case (pid, qe) =>
      (pid, qe, cents.map { case (cid, c) => (l2(c, qe), cid) }
        .sorted.take(nprobe).map(_._2).toSeq)
    }
    val unionCells = probeCells.flatMap(_._3).distinct
    // per-probe quantized scorer, dispatched on the frozen sidecar: an SQ8
    // probe carries its encoded query bytes (exact integer L2 per pair), a
    // PQ probe carries its m·256 ADC lookup table (one double[] per probe,
    // broadcast with the probe frame)
    val (probeDf, qdistCol) = sq8Stats() match {
      case Some((mn, mx)) =>
        (spark.createDataFrame(
          probeCells.map { case (pid, qe, cells) =>
            (pid, qe.toSeq, cells, graft.functions.Sq8Encode.encode(qe, mn, mx))
          }).toDF("probe_id", "qe", "probe_cells", "qcodes"),
          VF.sq8L2(col("codes"), col("qcodes")))
      case None =>
        val books = pqBooks().getOrElse(
          sys.error(s"index at $path has no codes sidecar — rebuild with build()"))
        (spark.createDataFrame(
          probeCells.map { case (pid, qe, cells) =>
            (pid, qe.toSeq, cells, pqLut(qe, books).toSeq)
          }).toDF("probe_id", "qe", "probe_cells", "qlut"),
          VF.pqAdcPair(col("codes"), col("qlut"), IvfIndex.PqK))
    }
    def livePruned() = {
      val pruned = dataTree()
        .filter(col("cell").isin(unionCells: _*))
      tombstones().fold(pruned)(ts =>
        pruned.join(broadcast(ts), Seq("id"), "left_anti"))
    }
    // SQ8's integer L2 casts exactly into double (bounded by dim·255² —
    // far under 2^53), so ordering over the cast equals ordering over the
    // raw long
    val short = livePruned()
      .select(col("id"), col("cell"), col("codes"))
      .join(broadcast(probeDf),
        array_contains(col("probe_cells"), col("cell").cast("long")))
      .withColumn("qdist", qdistCol.cast("double"))
      .groupBy("probe_id")
      .agg(graft.operators.GroupedTopK.topK(shortlist)(
        col("qdist"), col("id")).as("topk"))
      .select(col("probe_id"), explode(col("topk")).as("sc"))
      .select(col("probe_id"), col("sc.id").as("id"))
      .collect()
    val shortIds = short.map(_.getLong(1)).distinct.toSeq
    val pairKeep = short.map(r => (r.getLong(0), r.getLong(1))).toSet
    val keepUdfFree = spark.createDataFrame(pairKeep.toSeq.sortBy(identity))
      .toDF("probe_id", "id")
    val payload = struct(
      include.map(col) :+ col("cell").cast("long").as("cell"): _*)
    livePruned()
      .filter(col("id").isin(shortIds: _*))
      .join(broadcast(probeDf),
        array_contains(col("probe_cells"), col("cell").cast("long")))
      // restrict the rerank to each probe's OWN shortlist (a row may sit
      // in another probe's cells without having made its shortlist)
      .join(broadcast(keepUdfFree), Seq("probe_id", "id"), "left_semi")
      .withColumn("distance", VF.l2Sq(col("emb"), col("qe").cast("array<float>")))
      .groupBy("probe_id")
      .agg(graft.operators.GroupedTopK.topKRows(k)(
        col("distance"), col("id"), payload).as("tk"))
      .select(col("probe_id"), posexplode(col("tk")).as(Seq("pos", "e")))
      .select(col("probe_id") +: col("e.id").as("id") +:
        include.map(c => col(s"e.payload.$c").as(c)) :+
        col("e.payload.cell").as("cell") :+ col("e.score").as("distance") :+
        (col("pos") + 1).cast("int").as("rn"): _*)
  }

  /** Cell ROUTING for a probe FRAME — see [[CellRoute.routeCells]] (ONE
    * copy shared with the encrypted DF route): (probe_id, qe, cell), the
    * per-probe cut map-side-bounded, the depth policy an explicit
    * `useDepth` opt-in (a stray `depth` column on a reused frame can
    * never silently change a depth-blind route's uniform-nprobe
    * contract), duplicate probe_id and non-integral depth columns
    * refused loudly. */
  private[graft] def routeCellsDF(probes: DataFrame, nprobe: Int,
                                  useDepth: Boolean = false): DataFrame =
    CellRoute.routeCells(spark, probes, centroids(), numCells, nprobe, useDepth)

  /** Broadcast-or-salted cell equi-join — see [[CellRoute.routedJoin]]. */
  private def cellRoutedJoin(corpus: DataFrame, probeSide: DataFrame,
                             probeRows: Long): DataFrame =
    CellRoute.routedJoin(corpus, probeSide, probeRows, numCells)

  /** [[queryBatchQuantized]] with the probes as a DATAFRAME — the
    * corpus-FRACTION labeling shape: P can be any size because NOTHING
    * probe-sized ever touches the driver (the only collect is the ≤
    * numCells distinct probed-cell list, which re-arms partition pruning
    * as a static filter). Fully distributed pipeline:
    *
    *  1. cell routing: probes × the broadcast centroid frame (numCells
    *     rows), per-probe top-nprobe cells reduced MAP-SIDE
    *     ([[routeCellsDF]] — the routing exchange carries ≤ nprobe × P
    *     entries, never the P·numCells pair frame a probe-keyed window
    *     would ship); the route is depth-BLIND (uniform nprobe, the
    *     [[queryBatchQuantized]] contract) even if the frame carries a
    *     `depth` column;
    *  2. phase 1: the codes-only pruned scan EQUI-JOINS the probe-cell
    *     frame on `cell` (a shuffle join — no broadcast side that grows
    *     with P, the ProbeJoin lesson), scores SQ8 codes against the
    *     probe's `sq8Encode`d query (or PQ codes via the direct ADC
    *     kernel — no per-probe LUT exists without a driver pass, so
    *     [[graft.functions.PqAdcDirect]] reconstructs lookups from the
    *     codebook tensor: O(dim) compute per pair but still only m bytes
    *     READ per row, and phase 1 is I/O-bound at 100 TB), and cuts
    *     per-probe shortlists with the map-side-bounded
    *     [[graft.operators.GroupedTopK]] (shuffle carries ≤ shortlist ×
    *     probes × tasks rows, never the candidate volume);
    *  3. phase 2: the raw rows of the DISTINCT shortlist ids (a
    *     distributed semi-join, not an In literal) rerank exactly against
    *     their probes, restricted to each probe's own shortlist pairs by
    *     another semi-join, top-k per probe.
    *
    * Per-probe results equal [[queryBatchQuantized]]'s (spec-pinned);
    * `include` carries neighbor metadata like the Seq route. */
  def queryBatchQuantizedDF(probes: DataFrame, k: Int, nprobe: Int,
                            shortlist: Int = 256,
                            include: Seq[String] = Nil): DataFrame = {
    require(shortlist >= k, "shortlist must be at least k")
    val qeF = col("qe").cast("array<float>")
    val probeCells = routeCellsDF(probes, nprobe).persist()
    try {
      // the distinct probed cells are ≤ numCells — a driver-BOUNDED
      // collect that turns back into a static partition-pruning filter
      val unionCells = probeCells.select("cell").distinct()
        .collect().map(_.getLong(0)).toSeq
      def livePruned() = {
        val pruned = dataTree()
          .filter(col("cell").cast("long").isin(unionCells: _*))
        tombstones().fold(pruned)(ts =>
          pruned.join(broadcast(ts), Seq("id"), "left_anti"))
      }
      val (probeSide, qdistCol) = sq8Stats() match {
        case Some((mn, mx)) =>
          (probeCells.withColumn("qcodes", VF.sq8Encode(qeF, mn, mx)),
            VF.sq8L2(col("codes"), col("qcodes")).cast("double"))
        case None =>
          val books = pqBooks().getOrElse(
            sys.error(s"index at $path has no codes sidecar — rebuild with build()"))
          (probeCells,
            VF.pqAdcDirect(col("codes"), qeF, flattenBooks(books), IvfIndex.PqK))
      }
      // the routing frame is persisted: its row count (≤ nprobe × P) is a
      // cached-scan job, and it picks the broadcast-vs-salted join route
      val probeCellRows = probeCells.count()
      val shortPairs = cellRoutedJoin(
        livePruned()
          .select(col("id"), col("cell").cast("long").as("cell"), col("codes")),
        probeSide, probeCellRows)
        .withColumn("qdist", qdistCol)
        .groupBy("probe_id")
        .agg(graft.operators.GroupedTopK.topK(shortlist)(col("qdist"), col("id")).as("topk"))
        .select(col("probe_id"), explode(col("topk")).as("sc"))
        .select(col("probe_id"), col("sc.id").as("id"))
        .persist()
      // the exact re-rank's top-k cut reduces map-side too: the refine
      // frame is shortlist-bounded per probe, but a probe-keyed window
      // would still ship shortlist × P rows to the reducers — the same
      // answers-not-candidates tail queryBatch/queryBatchDF serve through
      // cuts it to ≤ k × P × tasks buffered entries
      val payload = struct(include.map(col) :+ col("cell"): _*)
      val out = cellRoutedJoin(
        livePruned()
          .withColumn("cell", col("cell").cast("long"))
          .join(shortPairs.select("id").distinct(), Seq("id"), "left_semi"),
        probeCells.select("probe_id", "qe", "cell"), probeCellRows)
        .join(shortPairs, Seq("probe_id", "id"), "left_semi")
        .withColumn("distance", VF.l2Sq(col("emb"), qeF))
        .groupBy("probe_id")
        .agg(graft.operators.GroupedTopK.topKRows(k)(
          col("distance"), col("id"), payload).as("tk"))
        .select(col("probe_id"), posexplode(col("tk")).as(Seq("pos", "e")))
        .select(col("probe_id") +: col("e.id").as("id") +:
          include.map(c => col(s"e.payload.$c").as(c)) :+
          col("e.payload.cell").as("cell") :+ col("e.score").as("distance") :+
          (col("pos") + 1).cast("int").as("rn"): _*)
      // materialize before releasing the shared probe frames (the caller
      // gets a plan over the checkpointed result, not the freed caches)
      val ck = out.localCheckpoint()
      shortPairs.unpersist()
      ck
    } finally {
      probeCells.unpersist(): Unit
    }
  }

  /** The scored per-probe candidate frame [[queryBatch]] cuts its top-k
    * from — cell routing, union-cell partition pruning, tombstone
    * anti-join, `where`, probe pairing, distance: exactly the candidate
    * set [[query]] scores for each probe at that probe's depth. */
  private def batchCandidates(probes: Seq[(Long, Array[Float])], nprobe: Int,
                              where: Option[Column],
                              depthOf: Map[Long, Int]): DataFrame = {
    require(probes.nonEmpty, "queryBatch needs at least one probe")
    val cents = centroids()
    val probeCells: Seq[(Long, Array[Float], Seq[Long])] = probes.map { case (pid, qe) =>
      (pid, qe, cents.map { case (cid, c) => (l2(c, qe), cid) }.sorted
        .take(depthOf.getOrElse(pid, nprobe)).map(_._2).toSeq)
    }
    val unionCells = probeCells.flatMap(_._3).distinct
    val probeDf = spark.createDataFrame(
      probeCells.map { case (pid, qe, cells) => (pid, qe.toSeq, cells) })
      .toDF("probe_id", "qe", "probe_cells")
    val pruned = dataTree()
      .filter(col("cell").isin(unionCells: _*))
    val base = tombstones().fold(pruned)(ts =>
      pruned.join(broadcast(ts), Seq("id"), "left_anti"))
    where.foldLeft(base)(_ filter _)
      .join(broadcast(probeDf),
        array_contains(col("probe_cells"), col("cell").cast("long")))
      .withColumn("distance", VF.l2Sq(col("emb"), col("qe").cast("array<float>")))
  }

  /** Batched probe: top-k per probe for MANY query vectors in ONE pruned
    * scan. Each probe contributes its nprobe nearest cells; the index is
    * read once over the UNION of needed cells (still partition pruning),
    * probes broadcast with their cell lists, and a row is scored against a
    * probe only when the row's cell is in that probe's probe set — exactly
    * the per-probe candidate set of [[query]], so results match it probe
    * for probe. Batching amortizes scan + scheduling across probes: Q
    * probes cost one scan of |union cells|, not Q scans — the
    * embedding-join shape a training pipeline runs (score a whole batch of
    * leaked/query vectors at once).
    *
    * The per-probe top-k cut SHUFFLES ANSWERS, NOT CANDIDATES:
    * [[graft.operators.GroupedTopK.topKRows]] keyed by probe_id keeps a
    * bounded k-entry buffer per probe per map task (payload = the
    * `include` columns + cell, carried through the aggregator struct), so
    * the exchange moves at most k × probes × tasks rows. The window
    * formulation this replaced — `row_number over (partition by probe_id)`
    * — shipped the FULL cell-pruned candidate volume (Σ per-probe
    * probed-cell rows) to the reducers (the SURVEY §8.3 before/after).
    * Per-probe answers equal [[query]]'s at each probe's depth
    * (spec-pinned, IvfIndexSpec). At a 1024-probe training panel over
    * 100 TB the difference is "shuffle the probed corpus" vs "shuffle the
    * answer".
    *
    * `depthOf` overrides the UNIFORM `nprobe` per probe (the
    * [[exactDepths]] policy: an easy probe prunes hard while a
    * cell-straddling one probes deep — absent ids fall back to
    * `nprobe`). */
  def queryBatch(probes: Seq[(Long, Array[Float])], k: Int, nprobe: Int,
                 where: Option[Column] = None,
                 include: Seq[String] = Nil,
                 depthOf: Map[Long, Int] = Map.empty): DataFrame = {
    val payload = struct(
      include.map(col) :+ col("cell").cast("long").as("cell"): _*)
    batchCandidates(probes, nprobe, where, depthOf)
      .groupBy("probe_id")
      .agg(graft.operators.GroupedTopK.topKRows(k)(
        col("distance"), col("id"), payload).as("tk"))
      .select(col("probe_id"), posexplode(col("tk")).as(Seq("pos", "e")))
      .select(col("probe_id") +: col("e.id").as("id") +:
        include.map(c => col(s"e.payload.$c").as(c)) :+
        col("e.payload.cell").as("cell") :+ col("e.score").as("distance") :+
        (col("pos") + 1).cast("int").as("rn"): _*)
  }

  /** [[queryBatch]] with the probes as a DATAFRAME — the EXACT-distance
    * twin of [[queryBatchQuantizedDF]], for probe frames a driver panel
    * cannot hold (the embedding-join a training pipeline runs at a
    * corpus-FRACTION probe count): NOTHING probe-sized ever touches the
    * driver. Cell routing reduces map-side ([[routeCellsDF]] — the
    * aggregate ships depth × P routing entries, not the P × numCells
    * candidate frame a probe-keyed window would), the probed corpus is
    * ONE partition-pruned scan of the union cells (the only collect,
    * ≤ numCells longs of index metadata), the probe frame EQUI-JOINS on
    * `cell` (a shuffle join — no broadcast side that grows with P, the
    * ProbeJoin lesson), and the top-k cut is the same
    * answers-not-candidates [[graft.operators.GroupedTopK.topKRows]]
    * tail [[queryBatch]] serves through.
    *
    * With `useDepth = true`, the `depth` INTEGER column on `probes` is
    * the per-probe depth policy routed through a frame instead of a
    * driver map (null falls back to `nprobe`; clamped to [0, numCells] —
    * a non-positive depth routes that probe to zero cells and it answers
    * empty, the Seq route's `take(depth)` behavior) — how a serving job
    * applies [[depthPolicy]]'s sidecar to a probe frame it never
    * collects. The opt-in is EXPLICIT: without it a semantically
    * unrelated `depth` column on a reused frame is ignored (uniform
    * nprobe), and with it a non-integral depth column refuses loudly —
    * probing depth is recall policy and must never shift silently.
    * Output ≡ [[queryBatch]] probe-for-probe at equal depths
    * (spec-pinned, IvfIndexSpec); probe_id must be unique within the
    * frame (refused loudly by the routing). */
  def queryBatchDF(probes: DataFrame, k: Int, nprobe: Int,
                   where: Option[Column] = None,
                   include: Seq[String] = Nil,
                   useDepth: Boolean = false): DataFrame = {
    // driver-sized panels serve through the Seq twin — identical answers
    // (the queryBatch ≡ queryBatchDF parity pin), none of the frame
    // lane's routing/checkpoint action constant ([[PanelDispatch]]). The
    // depth-column contract is validated the same way on either lane.
    if (useDepth) CellRoute.requireDepthColumn(probes)
    val panelCols =
      if (useDepth)
        probes.select(col("probe_id"), col("qe").cast("array<float>").as("qe"),
          col("depth").cast("long").as("depth"))
      else probes.select(col("probe_id"), col("qe").cast("array<float>").as("qe"))
    PanelDispatch.smallPanel(spark, panelCols) match {
      case Some(rows) if rows.nonEmpty =>
        PanelDispatch.requireUniqueProbes(rows)
        // null depth falls back to nprobe (omitted from the map); the Seq
        // route's take(depth) reproduces the frame clamp at the edges
        val depthOf: Map[Long, Int] =
          if (!useDepth) Map.empty
          else rows.iterator.filterNot(_.isNullAt(2)).map(r =>
            r.getLong(0) -> math.min(r.getLong(2), numCells.toLong).toInt).toMap
        return queryBatch(
          rows.map(r => (r.getLong(0), r.getSeq[Float](1).toArray)).toSeq,
          k, nprobe, where, include, depthOf)
      case _ => ()
    }
    val routed = routeCellsDF(probes, nprobe, useDepth).persist()
    try {
      // the distinct probed cells are ≤ numCells — a driver-BOUNDED
      // collect that turns back into a static partition-pruning filter
      val unionCells = routed.select("cell").distinct()
        .collect().map(_.getLong(0)).toSeq
      val pruned = dataTree()
        .filter(col("cell").cast("long").isin(unionCells: _*))
      val base = tombstones().fold(pruned)(ts =>
        pruned.join(broadcast(ts), Seq("id"), "left_anti"))
      val payload = struct(
        include.map(col) :+ col("cell").cast("long").as("cell"): _*)
      // the routing frame is persisted: its row count (≤ depth × P) is a
      // cached-scan job, and it picks the broadcast-vs-salted join route
      val routedRows = routed.count()
      val out = cellRoutedJoin(
        where.foldLeft(base)(_ filter _)
          .withColumn("cell", col("cell").cast("long")),
        routed, routedRows)
        .withColumn("distance", VF.l2Sq(col("emb"), col("qe")))
        .groupBy("probe_id")
        .agg(graft.operators.GroupedTopK.topKRows(k)(
          col("distance"), col("id"), payload).as("tk"))
        .select(col("probe_id"), posexplode(col("tk")).as(Seq("pos", "e")))
        .select(col("probe_id") +: col("e.id").as("id") +:
          include.map(c => col(s"e.payload.$c").as(c)) :+
          col("e.payload.cell").as("cell") :+ col("e.score").as("distance") :+
          (col("pos") + 1).cast("int").as("rn"): _*)
      // materialize before releasing the routing cache (the caller gets a
      // plan over the checkpointed bounded answer, not the freed frame)
      out.localCheckpoint()
    } finally { routed.unpersist(): Unit }
  }
}

/**
 * ONE copy of the triangle-inequality candidate geometry the exact
 * surfaces rest on — the plaintext ([[IvfIndex.queryExact]]), encrypted
 * ([[EncryptedStore.queryIndexedExact]]), and hot
 * ([[IvfIndex.hotQueryExact]]) twins all pin bit-equality contracts that
 * depend on the SAME epsilon, probe clamp, τ convention, and
 * missing-radii fallback; a per-copy tweak would silently break parity,
 * so the copies don't exist.
 */
private[store] object ExactPrune {
  /** Pruning slack: strict float-boundary pruning could drop a row whose
    * driver-side bound lands within rounding of the threshold. */
  val Eps = 1e-9

  def l2sq(a: Array[Float], b: Array[Float]): Double = {
    var acc = 0.0; var i = 0
    while (i < a.length) { val d = a(i).toDouble - b(i).toDouble; acc += d * d; i += 1 }
    acc
  }

  /** Cells ordered by PLAIN centroid distance: (distance, cell) asc. */
  def orderedCells(cents: Array[(Long, Array[Float])],
                   qe: Array[Float]): Seq[(Double, Long)] =
    cents.map { case (cid, c) => (math.sqrt(l2sq(c, qe)), cid) }.sorted.toSeq

  def clampProbe(probe0: Int, numCells: Int): Int =
    math.min(math.max(1, probe0), numCells)

  /** τ from the probed cells' top-k SQUARED distances: ∞ when they hold
    * fewer than k matches (nothing prunes) — including k <= 0, where a
    * strict `length < k` comparison would take max of an empty list. */
  def tauOf(kthSquared: Seq[Double], k: Int): Double =
    if (kthSquared.isEmpty || kthSquared.length < k) Double.PositiveInfinity
    else math.sqrt(kthSquared.max)

  /** The unprobed cells whose lower bound d(q, centroid) − r_cell does
    * not beat τ — every dropped cell provably holds no top-k candidate.
    * Cells absent from `rm` never landed a row and drop. */
  def survivors(rest: Seq[(Double, Long)], rm: Map[Long, Double],
                tau: Double): Seq[Long] =
    rest.filter { case (d, cid) => rm.get(cid).exists(r => d - r <= tau + Eps) }
      .map(_._2)

  /** The full exact-top-k candidate cell set (probed ++ survivors);
    * `tauScan(cells)` returns the probed cells' top-k SQUARED distances. */
  def topkCells(cents: Array[(Long, Array[Float])], rm: Option[Map[Long, Double]],
                qe: Array[Float], k: Int, probe0: Int,
                tauScan: Seq[Long] => Seq[Double]): Seq[Long] = {
    val ordered = orderedCells(cents, qe)
    rm match {
      case None => ordered.map(_._2) // no sound bound — scan all
      case Some(m) =>
        val p0 = clampProbe(probe0, ordered.length)
        val probed = ordered.take(p0).map(_._2)
        val tau = tauOf(tauScan(probed), k)
        probed ++ survivors(ordered.drop(p0), m, tau)
    }
  }

  /** The cells a range probe must scan: centroid lower bound within
    * `radius` (every cell when no radii metadata exists). */
  def rangeCells(cents: Array[(Long, Array[Float])], rm: Option[Map[Long, Double]],
                 qe: Array[Float], radius: Double): Seq[Long] =
    cents.filter { case (cid, c) =>
      rm match {
        case None => true
        case Some(m) =>
          m.get(cid).exists(r => math.sqrt(l2sq(c, qe)) - r <= radius + Eps)
      }
    }.map(_._1).toSeq

  /** Qualifying UNORDERED cell pairs (a ≤ b) of a radius self-join: rows
    * x ∈ a, y ∈ b can satisfy d(x, y) ≤ radius only if
    * d(μa, μb) − r_a − r_b ≤ radius (triangle inequality through BOTH
    * centroids). No radii → every pair. */
  def cellPairs(cents: Array[(Long, Array[Float])], rm: Option[Map[Long, Double]],
                radius: Double): Seq[(Long, Long)] = {
    val cs = cents.toSeq
    rm match {
      case None =>
        for { a <- cs; b <- cs; if a._1 <= b._1 } yield (a._1, b._1)
      case Some(m) =>
        for {
          a <- cs; ra <- m.get(a._1).toSeq
          b <- cs; if a._1 <= b._1; rb <- m.get(b._1).toSeq
          if math.sqrt(l2sq(a._2, b._2)) - ra - rb <= radius + Eps
        } yield (a._1, b._1)
    }
  }

  /** Both orientations of the unordered pairs, so the id_l < id_r output
    * convention never drops a cross-cell pair. */
  def orient(pairs: Seq[(Long, Long)]): Seq[(Long, Long)] =
    pairs.flatMap { case (a, b) => if (a == b) Seq((a, b)) else Seq((a, b), (b, a)) }

  /** (cell, rmax) of an ASSIGNED frame: the max PLAIN L2 of any row to
    * its OWN centroid — one narrow aggregation, numCells output rows;
    * the write-side producer of the radii both twins' sidecars store
    * (the encrypted twin encrypts the rmax column before landing it). */
  def cellRadiiFrame(assigned: DataFrame,
                     cents: Array[(Long, Array[Float])]): DataFrame = {
    val cMap = cents.map { case (cid, c) => cid -> c.toSeq }.toMap
    assigned
      .withColumn("cd",
        VF.l2Sq(col("emb"), element_at(typedlit(cMap), col("cell").cast("long"))))
      .groupBy(col("cell").cast("long").as("cell"))
      .agg(sqrt(max(col("cd"))).as("rmax"))
  }
}
