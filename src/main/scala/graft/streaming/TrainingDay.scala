package graft.streaming

import graft.functions.{TextFunctions => TF, VectorFunctions => VF}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.{DataFrame, SparkSession}

/**
 * ONE "training-data day", end to end — the composed production scenario
 * every piece of the engine now exists for (the r11 verdict's stretch):
 * raw document WAVES arrive on a streaming source; each wave passes the
 * STREAMED curation gate ([[StreamOps.filterIngest]] — quality score,
 * benchmark n-gram decontamination, exact-dup suppression within the
 * watermark, ONE checkpoint across the whole day so replay/fence
 * semantics hold); curated text lands append-only; the chunk index stays
 * fresh under ingest with the standing panel's depth policy written
 * through ([[StreamOps.maintainChunkIndex]] — serving processes route via
 * the persisted `_depths` sidecar with zero calibration jobs); and the
 * day CLOSES with the batch-side near-duplicate compaction (MinHash band
 * gate — the corpus-global state the streaming split deliberately leaves
 * to compaction), whose dropped documents' chunks tombstone out of the
 * index in one delete batch before the policy re-persists.
 *
 * Scale shape (the reason each stage sits where it does): the gate is
 * stateless-narrow + watermark-bounded state (stream-safe at any rate);
 * chunk+embed+append touches only each micro-batch; the band gate is one
 * banded self-join (never all-pairs) run once at close; the chunk delete
 * is batch-bounded; and serving stays cell-pruned at per-probe depths
 * throughout. Nothing in the day scans the accumulated corpus except the
 * close-of-day compaction — which is the one stage that NEEDS
 * corpus-global state.
 *
 * The reference has nothing like this (its pipeline is a 40-line demo,
 * /root/reference/src/main.py:6-12); this is the LLM-training-data
 * extension mandated by the brief, composed from oracle-gated parts.
 * `TrainingDaySpec` pins: per-wave serving ≡ the exact arm over
 * everything curated so far; the gate ≡ its batch twin; the close-of-day
 * dedup ≡ the band rule; post-delete serving ≡ exact over the survivor
 * set; and the whole day ≡ a from-scratch batch rebuild over the
 * survivor documents.
 */
object TrainingDay {

  /** Per-day accounting: wave-by-wave arrivals/acceptances, the
    * close-of-day near-dup drop count, the final live chunk count, and
    * per-stage wall-clock timings (tag → seconds, in execution order). */
  final case class DayReport(arrived: Seq[Long], accepted: Seq[Long],
                             nearDupDropped: Long, liveChunks: Long,
                             timings: Seq[(String, Double)])

  /** The batch near-dup band rule shared by the close-of-day compaction
    * and its spec oracle: a doc drops iff ANY of its MinHash band buckets
    * was claimed by a smaller doc_id — exactly
    * [[StreamOps.nearDupBandVerdicts]]'s hit rule, computed as one banded
    * self-join (group per (band, bucket), min doc_id survives). */
  def bandDropped(docs: DataFrame): DataFrame = {
    val bands = docs
      .select(col("doc_id"),
        posexplode(TF.minhashBandBuckets(
          TF.shingleHashSet(TF.tokens(col("text")), 3))).as(Seq("band", "bucket")))
    val firstClaim = bands.groupBy("band", "bucket")
      .agg(min(col("doc_id")).as("first_id"))
    bands.join(firstClaim, Seq("band", "bucket"))
      .filter(col("doc_id") > col("first_id"))
      .select("doc_id").distinct()
  }

  /** Deterministic LSH hyperplane for the graph arm's bucketing —
    * [[graft.queries.AnnQueries.plane]]'s recipe generalized to the day's
    * `dim` (scramble32(p·dim+d) reduced to [-1, 1]). */
  private def planeOf(p: Int, dim: Int): Array[Float] =
    Array.tabulate(dim) { d =>
      val h = ((p.toLong * dim + d) * 2654435761L) % 4294967296L
      (((h % 2001) - 1000).toDouble / 1000.0).toFloat
    }

  /** Sign-LSH bucketing with the width SCALED to the chunk count
    * ([[graft.operators.KnnGraph.build]]'s calibration note: the block
    * join is quadratic in block size, so fixed 6-bit buckets at the 20×
    * stress corpus' 150k chunks cost ~690 s of graph build and ~900 s per
    * insert wave — measured r13 — while ~n/10-sized buckets keep it
    * linear-ish). Bits are chosen ONCE from the wave-0 chunk count and
    * frozen into the index's bucketFns; later waves only ever grow the
    * corpus a small factor within the day. */
  private def bucketFn(off: Int, dim: Int, bits: Int): org.apache.spark.sql.Column => org.apache.spark.sql.Column =
    e => VF.lshBucket(e, Array.tabulate(bits)(p => planeOf(off + p, dim)))

  /** Run the day. `waves` are (doc_id, text[, lang, source, n_chars])
    * frames with globally-unique doc_ids; wave 0 is the pre-day corpus
    * the indexes build over (curated through the SAME gate). `onWave(i,
    * index, graphIndex, curatedSoFar)` fires after each wave's maintenance
    * checkpoint (and once more after the close-of-day compaction with
    * `i = waves.length`) — the spec's serving-exactness hook. BOTH serving
    * families maintain under the same day (r13): the IVF chunk index
    * through the streamed maintenance with its `_depths` write-through,
    * and a [[graft.store.GraphIndex]] through per-wave [[graft.store.GraphIndex.insert]]
    * + close-of-day [[graft.store.GraphIndex.deleteBatch]] (tombstone +
    * in-neighbor repair), each mutation re-persisting the `_beams` policy
    * the mutation just fenced stale — so policy-routed serving is exact at
    * every checkpoint on both arms. Returns both indexes (policies
    * committed and FRESH for `standingProbes` at `standingK`), the final
    * curated survivor documents, and the [[DayReport]]. */
  def run(spark: SparkSession,
          waves: Seq[DataFrame],
          benchGrams: Array[Long], minQuality: Double, lateness: String,
          standingProbes: Seq[(Long, Array[Float])], standingK: Int,
          numCells: Int, window: Int, stride: Int, dim: Int,
          // the graph arm's knobs: a DENSER graph than the serving default
          // (chunk embeddings carry heavy duplicate/tie cliques — stride
          // windows repeat text — and a sparse graph cannot recall a tied
          // boundary's exact ids), its own serving k (a graph panel's
          // contract, independent of the IVF arm's shortlist), and a
          // ladder wide enough for the calibration to measure exactness
          graphK: Int = 12, graphServeK: Int = 5, graphHops: Int = 6,
          graphLadder: Seq[Int] = Seq(2, 4, 8, 16, 32, 64),
          onWave: (Int, graft.store.IvfIndex, graft.store.GraphIndex, DataFrame) => Unit = (_, _, _, _) => ()): (graft.store.IvfIndex, graft.store.GraphIndex, DataFrame, DayReport) = {
    require(waves.nonEmpty, "a day needs at least one wave")
    require(standingProbes.nonEmpty && standingK >= 1,
      "the day serves a standing panel — probes and the serving k are required")
    val timings = scala.collection.mutable.ArrayBuffer.empty[(String, Double)]
    def timed[A](tag: String)(f: => A): A = {
      val t0 = System.nanoTime()
      val r = f
      timings += tag -> (System.nanoTime() - t0) / 1e9
      r
    }
    val rawDir = graft.store.Scratch.dir("day_raw")
    val gateCkpt = graft.store.Scratch.dir("day_gate_ckpt")
    val gateOut = graft.store.Scratch.dir("day_gate_out")
    val curatedDir = graft.store.Scratch.dir("day_curated")
    // the maintenance stream's OWN source: wave 0's curated rows are
    // already in the index via build(), so only waves >= 1 land here —
    // one source + one checkpoint across the day (monotone batch ids)
    val ingestDir = graft.store.Scratch.dir("day_ingest")
    val chunkCkpt = graft.store.Scratch.dir("day_chunk_ckpt")
    def keyedChunks(d: DataFrame) =
      graft.operators.Percolate.chunkEmbed(d.select("doc_id", "text"),
          window, stride, dim)
        .filter(VF.norm(col("emb")) > 0)
        // loud pack-overflow guard: the close-of-day deleteBatch keys
        // tombstones by this packed id, so a doc_id >= 2^43 or a document
        // yielding >= 2^20 chunks would silently alias ANOTHER document's
        // chunk ids and tombstone the wrong live chunks — refuse instead
        .filter(isnull(assert_true(
          col("doc_id") >= 0 && col("doc_id") < lit(1L << 43) &&
            col("chunk_id") < lit(1L << 20),
          concat(lit("chunk id packing overflow: doc_id="),
            col("doc_id").cast("string"),
            lit(" chunk_id="), col("chunk_id").cast("string"),
            lit(" — shiftleft(doc_id,20)+chunk_id would alias another document's chunks")))))
        .select((shiftleft(col("doc_id"), 20) + col("chunk_id")).as("id"),
          col("emb"))
    // align every wave to the streamed gate's source schema + event time
    def landRaw(w: DataFrame): DataFrame = {
      val withTs = w
        .withColumn("lang", if (w.columns.contains("lang")) col("lang") else lit("en"))
        .withColumn("source", if (w.columns.contains("source")) col("source") else lit("day"))
        .withColumn("n_chars",
          if (w.columns.contains("n_chars")) col("n_chars") else length(col("text")).cast("long"))
        .select("doc_id", "text", "lang", "source", "n_chars")
      withTs.coalesce(1).write.mode("append").parquet(rawDir)
      withTs
    }
    // the streamed gate over the day's ONE source + checkpoint: quality,
    // benchmark decontamination, exact-dup within the watermark. Emits
    // accepted (doc_id, ts, quality, fp) append-only.
    def runGate(): Unit = {
      val src = spark.readStream.schema(StreamOps.DocSourceSchema).parquet(rawDir)
        .withColumn("ts", to_timestamp(lit("2026-01-01 00:00:00")))
      StreamOps.filterIngest(src, benchGrams, minQuality, lateness)
        .writeStream
        .format("parquet")
        .option("path", gateOut)
        .option("checkpointLocation", gateCkpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
        .awaitTermination()
    }
    var arrived = Vector.empty[Long]
    var acceptedCounts = Vector.empty[Long]
    var curated: DataFrame = null
    def appendCurated(wave: DataFrame, toIngest: Boolean): (DataFrame, Long) = {
      val acceptedIds = spark.read.parquet(gateOut).select("doc_id")
      val waveCurated = wave.join(acceptedIds, Seq("doc_id"), "left_semi")
      waveCurated.coalesce(1).write.mode("append").parquet(curatedDir)
      if (toIngest)
        waveCurated.coalesce(1).write.mode("append").parquet(ingestDir)
      curated = spark.read.parquet(curatedDir)
      (waveCurated, waveCurated.count())
    }
    // T0: the pre-day corpus curates through the same gate, then the
    // index builds over its chunks and the panel's policy commits
    val w0 = landRaw(waves.head)
    arrived :+= w0.count()
    timed("gate_wave0")(runGate())
    acceptedCounts :+= appendCurated(w0, toIngest = false)._2
    val idx = new graft.store.IvfIndex(spark, graft.store.Scratch.dir("day_idx"), numCells)
    // the ragBuildIndex training-cap discipline: k-means quality saturates
    // at ~512 rows/cell while full-input farthest-first seeding is
    // O(cells × rows) — at a 100× stress corpus that is the difference
    // between a ~1-minute and a ~12-minute build, for an identical
    // serving contract (calibration re-measures exactness on the layout)
    timed("index_build")(idx.build(keyedChunks(curated),
      trainSampleCap = math.max(numCells * 512L, 1L << 16)))
    timed("calibrate_persist")(idx.persistDepthPolicy(standingProbes, standingK))
    // the graph arm (r13): same chunk spine, the OTHER serving family —
    // built once over wave 0, then maintained by per-wave inserts under
    // the `_beams` fence (each mutation stales the policy; the day
    // re-persists in the same stage, so serving never routes stale)
    val wave0Chunks = keyedChunks(curated).count()
    val gBits = math.max(6,
      (math.log(math.max(10.0, wave0Chunks.toDouble / 10.0)) / math.log(2.0)).ceil.toInt)
    val gidx = new graft.store.GraphIndex(spark,
      graft.store.Scratch.dir("day_gidx"), graphK,
      Seq(bucketFn(0, dim, gBits), bucketFn(200, dim, gBits)), numEntries = 8)
    // symmetric wiring: chunk corpora carry duplicate cliques whose
    // directed kNN edges can leave exact-top-k ids in-unreachable — the
    // day's exactness contract needs every edge-bearing node reachable
    timed("graph_build")(gidx.build(keyedChunks(curated), symmetric = true))
    timed("graph_calibrate_persist")(
      gidx.persistBeamPolicy(standingProbes, graphServeK, ladder = graphLadder, hops = graphHops))
    onWave(0, idx, gidx, curated)
    // the day's ingest waves: gate stream resumes its checkpoint, the
    // maintenance stream appends chunks + writes the policy through
    waves.toIndexedSeq.zipWithIndex.drop(1).foreach { case (wave, i) =>
      val w = landRaw(wave)
      arrived :+= w.count()
      timed(s"gate_wave$i")(runGate())
      val waveCurated = appendCurated(w, toIngest = true)
      acceptedCounts :+= waveCurated._2
      timed(s"maintain_wave$i")(
        StreamOps.maintainChunkIndex(spark, ingestDir, idx, window, stride, dim,
          chunkCkpt, recalibrateEvery = 1,
          standingProbes = standingProbes, standingK = standingK)
          .awaitTermination())
      // graph arm: HNSW-style incremental insert of the wave's chunks
      // (search-then-connect over the existing graph — candidate cost
      // O(hops · |wave| · beam · k), invariant in corpus size), then the
      // fenced-stale beam policy re-persists
      timed(s"graph_insert_wave$i")(
        gidx.insert(keyedChunks(waveCurated._1), symmetric = true))
      timed(s"graph_policy_wave$i")(
        gidx.persistBeamPolicy(standingProbes, graphServeK, ladder = graphLadder, hops = graphHops))
      onWave(i, idx, gidx, curated)
    }
    // close of day: the batch-side near-dup compaction — dropped docs'
    // chunks tombstone out in ONE delete batch per arm (the graph delete
    // also repairs every in-neighbor), then both policies re-persist
    val (dropped, nDropped) = timed("neardup_gate") {
      val d = bandDropped(curated).persist()
      (d, d.count())
    }
    if (nDropped > 0) {
      timed("chunk_delete") {
        val dropDocs = curated.join(dropped, Seq("doc_id"), "left_semi")
        idx.deleteBatch(keyedChunks(dropDocs).select("id"),
          batchId = waves.length.toLong + 1000L)
        curated = curated.join(dropped, Seq("doc_id"), "left_anti")
          .localCheckpoint()
      }
      timed("graph_delete") {
        val dropDocs0 = spark.read.parquet(curatedDir)
          .join(dropped, Seq("doc_id"), "left_semi")
        gidx.deleteBatch(keyedChunks(dropDocs0).select("id"),
          batchId = waves.length.toLong + 1000L)
      }
      timed("recalibrate_persist")(idx.persistDepthPolicy(standingProbes, standingK))
      timed("graph_recalibrate_persist")(
        gidx.persistBeamPolicy(standingProbes, graphServeK, ladder = graphLadder, hops = graphHops))
    }
    dropped.unpersist()
    onWave(waves.length, idx, gidx, curated)
    val liveChunks = idx.stats().liveRows
    (idx, gidx, curated,
      DayReport(arrived, acceptedCounts, nDropped, liveChunks, timings.toSeq))
  }
}
