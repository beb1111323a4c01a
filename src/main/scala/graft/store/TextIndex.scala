package graft.store

import graft.functions.{TextFunctions => TF, TextHashOps}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Persistent inverted text index — the BM25 counterpart of [[IvfIndex]]:
 * postings land `partitionBy("bucket")` where bucket = polyHash(term) mod
 * numBuckets, so a query reads ONLY the partition directories its terms
 * hash into (enforced by partition pruning / `PartitionFilters`, same
 * mechanism as the IVF cell probe). At 100 TB a q-term query scans
 * ~q/numBuckets of the postings, not the corpus; the reference pairs its
 * vector store with keyword search nowhere, but every hosted vector DB
 * ships BM25 hybrid ranking (see [[graft.queries.SearchQueries]]).
 *
 * Layout (every tree batch-keyed like [[IvfIndex]], so streaming appends
 * are idempotent directory overwrites):
 *   `path/postings/batch=N/bucket=B/` — (term, doc_id, tf, dl): dl is
 *     DENORMALIZED into the posting row so scoring never joins a
 *     doc-length table — the query is a pruned narrow scan + one doc-key
 *     aggregation.
 *   `path/_termstats/batch=N/bucket=B/` — (term, df, max_tf, min_dl):
 *     per-term document frequency plus the impact-bound inputs, bucket-
 *     pruned at query time, summed/max'd/min'd across batches and
 *     collected driver-side (≤ q rows) into idf literals and MaxScore
 *     upper bounds.
 *   `path/_stats/batch=N/` — one row (n_docs, sum_dl) per batch: exact
 *     integers, summed across batches, so the derived avgdl double is
 *     identical on any engine.
 *   `path/_doclens/batch=N/` — (doc_id, dl): one narrow row per doc, the
 *     delete path's dl lookup (tombstones must carry the doc's length for
 *     exact query-time stat corrections).
 *   `path/_tombstones/batch=N/` — (doc_id, dl): pending deletes; queries
 *     correct stats and anti-join these until [[compact]] drops the
 *     postings physically.
 *
 * Determinism: per-posting BM25 contributions are QUANTIZED to integers
 * (round(contrib · 2^20)) before the per-doc sum — integer addition is
 * commutative, so the distributed aggregation is exact and reproducible
 * bit-for-bit across partitionings and engines (the same recipe as
 * KMeans.trainQuantized), and ranking on the integer sum can never flip on
 * a 1-ulp libm divergence. Scores surface as sum/2^20 rounded to 4.
 *
 * Ingest is APPEND + DELETE over doc_ids (the training-corpus shape with
 * takedown/re-crawl removal — [[deleteBatch]]): re-ingesting a changed doc
 * under the same id without deleting it first leaves the old version's
 * postings in place; an update is delete + compact + re-add. A micro-batch
 * that wrote its dir but crashed
 * before its checkpoint commit may be replayed into a NEW batch dir after
 * compaction merged the orphan; [[compact]]'s (term, doc_id) dedup and
 * stats recompute heal exactly that case.
 *
 * Skew note (100 TB): stopword terms produce fat buckets; production
 * builds either drop df > cap terms at ingest or split hot buckets by
 * (bucket, doc_id range). Both compose with this layout; neither changes
 * the query shape.
 */
final class TextIndex(spark: SparkSession, path: String, numBuckets: Int) {

  require(numBuckets > 0, "numBuckets must be positive")

  private def postingsPath = s"$path/postings"
  private def termstatsPath = s"$path/_termstats"
  private def statsPath = s"$path/_stats"
  private def doclensPath = s"$path/_doclens"
  private def tombstonePath = s"$path/_tombstones"
  private def hwmPath = s"$path/_ts_hwm"
  private def marker = s"$path/_commit"

  // opening the index finishes any compaction publish interrupted between
  // its swaps or before its input cleanup (the GraphIndex protocol): a
  // crash after the merged postings landed but before the original batch
  // dirs were dropped would otherwise leave BOTH co-resident, silently
  // doubling every tf/df/stats contribution until another compact ran
  StoreIO.recover(marker)

  /** BM25 free parameters — shared with the in-memory scorer. */
  private val K1 = graft.queries.SearchQueries.K1
  private val B = graft.queries.SearchQueries.B
  /** Quantization scale: 2^20 ≈ 1e-6 score resolution. */
  val Scale = 1048576L

  /** θ-seed candidate cap per probe ([[queryRankedBatchBounded]]): the
    * impact-ordered prefix of the rarest term scored exactly to seed the
    * pruning threshold. Any exactly-scored subset yields a VALID θ (a
    * subset's k-th best only under-estimates), so the cap trades pruning
    * tightness for a bounded seed cost. */
  private val ThetaCap = 1024

  /** Engagement threshold for the adaptive bound: the (predicted, then
    * measured) essential fanout's Σ df must be at most this fraction of
    * the full fanout's before the bounded path runs — below it the bound
    * pays for itself, above it the single unbounded pass wins. */
  private val EngageFrac = 0.5

  /** Df-dispersion test for the engagement gate: a probe is SKEWED — θ
    * from its rarest term can plausibly mark the rest nonessential — only
    * when that rarest term is at least this factor rarer than the probe's
    * mean term df. MaxScore pruning is an idf-separation play (ub ∝ idf ∝
    * −log df): on a df-uniform probe every term's impact bound is ~equal,
    * θ ends up under any term's cumulative prefix, and the "bounded" pass
    * degenerates to the full fanout AFTER paying the θ seed scan — the
    * r14 100× measurement of exactly that: the r13 optimistic max-ub
    * check (Σ df of each probe's single max-ub term, structurally ~1/q of
    * a q-term uniform panel's fanout) passed EngageFrac and burned 55 s
    * of θ work before the measured check fell back (bounded 176 s vs
    * unbounded 121 s). Dispersion is computable from the committed df
    * frame BEFORE any postings or sidecar work, so a uniform panel now
    * falls back at pure gate cost. */
  private val DfSkew = 4.0

  /** Absolute fanout floor for the adaptive bound (total Σ df across the
    * panel's pairs): under it the single unbounded pass wins outright and
    * the route skips every bounding job. Read from `spark.conf` (the
    * [[graft.operators.ProbeJoin.LimitKey]] discipline) so specs force
    * the engaged branch per SparkSession instead of mutating JVM-global
    * state that leaks across suites sharing the JVM. */
  private def boundFloor: Long =
    spark.conf.get("graft.kw.boundFloor", (1L << 20).toString).toLong

  private def bucketOf(term: String): Long =
    TextHashOps.polyHash(org.apache.spark.unsafe.types.UTF8String.fromString(term)) % numBuckets

  /** Cluster a bucket-partitioned tree's rows before the partitionBy
    * write (guide §2.4/§6): without this every write task spills a file
    * into every bucket dir it touches — tasks × numBuckets files of a few
    * KB each (256 per build at the bench's 32 partitions × 8 buckets),
    * paying per-file open/commit on the write and listing + footer reads
    * on every later probe. Hash-clustering on (bucket, salt) makes the
    * file count track the cluster count instead; the deterministic salt
    * (xxhash64 of the salt column — never rand(), guide §2.5) keeps a hot
    * stopword bucket splittable across tasks at scale, and the
    * no-explicit-N repartition stays AQE-coalescible, so the partition
    * count follows data volume rather than a local-mode constant. */
  private def bucketClustered(rows: DataFrame, saltCol: String): DataFrame = {
    val p = spark.sessionState.conf.numShufflePartitions
    val subSplit = math.max(1L, 4L * p / numBuckets)
    rows.repartition(col("bucket"), pmod(xxhash64(col(saltCol)), lit(subSplit)))
  }

  /** Per-(bucket, term) sidecar stats from a postings frame — ONE copy for
    * build/append/compact so the three generations can never drift: df
    * (the idf input) plus the IMPACT-BOUND inputs (max tf, min dl) the
    * bounded batch route ([[queryRankedBatchBounded]]) prunes with. The
    * BM25 saturation is increasing in tf and decreasing in dl, so
    * sat(max_tf, min_dl) dominates every posting's saturation — what
    * impact-ordered posting lists store, kept as two longs of
    * vocabulary-bounded metadata instead of a reordered list. */
  private def termStatsOf(postings: DataFrame): DataFrame =
    postings.groupBy("bucket", "term").agg(count(lit(1)).as("df"),
      max(col("tf")).as("max_tf"), min(col("dl")).as("min_dl"))

  /** Build from (doc_id LONG, text STRING): tokenize, explode to postings
    * with per-(term, doc) tf and denormalized dl, bucket by term hash.
    * One explode + one (term, doc) aggregation — the standard posting
    * build shuffle, linear in token volume. Lands under `batch=0`.
    *
    * A REBUILD over a live index replaces it completely ([[graft.store.IvfIndex.build]]'s
    * contract): the four batch-0 trees publish in ONE crash-consistent
    * commit whose cleanup sweeps every stale append batch and tombstone
    * dir — the rebuild's input defines the new truth, and leaving old
    * append dirs behind would double every tf/df/stats contribution. */
  def build(docs: DataFrame): Unit =
    WriterLease.withLease(path, "TextIndex.build") {
      val (toks, postings) = postingFrames(docs)
      try {
        val allTsDirs = StoreIO.committedBatchDirs(tombstonePath)
        val newHwm = allTsDirs.map(_.getName.stripPrefix("batch=").toLong)
          .foldLeft(tombstoneHwm())(math.max)
        val stale = Seq(postingsPath, termstatsPath, statsPath, doclensPath)
          .flatMap { root =>
            StoreIO.committedBatchDirs(root)
              .filter(_.getName != "batch=0").map(_.getPath)
          } ++ allTsDirs.map(_.getPath)
        // the four tree writers are independent reads of the PERSISTED
        // toks/postings frames (disjoint stage dirs, no cross-stage reads)
        // — overlap them so each writer's planning/commit gaps backfill
        // with another's tasks (guide §2.6). MATERIALIZE the caches first:
        // racing writers over an unmaterialized cache each compute the
        // whole tokenize+group pipeline (neither sees the other's
        // in-progress blocks — the "Block already exists" churn), so the
        // overlap would buy wall time only to spend it on duplicate CPU;
        // one bounded count() fills postings AND (transitively) toks, and
        // every writer then cache-reads.
        postings.count(): Unit
        StoreIO.commitStagedParallel(Seq(
          StoreIO.Staged(s"$path/__stage_postings", s"$postingsPath/batch=0",
            st => bucketClustered(postings, "doc_id")
              .write.mode("overwrite").partitionBy("bucket").parquet(st)),
          StoreIO.Staged(s"$path/__stage_termstats", s"$termstatsPath/batch=0",
            st => bucketClustered(termStatsOf(postings), "term")
              .write.mode("overwrite").partitionBy("bucket").parquet(st)),
          StoreIO.Staged(s"$path/__stage_stats", s"$statsPath/batch=0",
            st => toks.agg(count(lit(1)).as("n_docs"),
                coalesce(sum(col("dl").cast("long")), lit(0L)).as("sum_dl"))
              .write.mode("overwrite").parquet(st)),
          StoreIO.Staged(s"$path/__stage_doclens", s"$doclensPath/batch=0",
            st => toks.select(col("doc_id"), col("dl"))
              .write.mode("overwrite").parquet(st))) ++
          (if (allTsDirs.isEmpty) Seq.empty
           else Seq(StoreIO.Staged(s"$path/__stage_ts_hwm", hwmPath,
             st => StoreIO.writeLongFile(st, newHwm)))),
          marker, cleanup = stale.toSeq, maxParallel = 4)
      } finally { postings.unpersist(); toks.unpersist(): Unit }
    }

  /** Incremental maintenance ([[IvfIndex.appendBatch]]'s text twin): index
    * a NEW slice of the corpus under its own `batch=<id+1>` dir in every
    * tree. Replaying a checkpointed micro-batch overwrites the same three
    * dirs — idempotent, so an at-least-once stream yields exactly-once
    * index contents. Cost is one explode + one aggregation over the BATCH;
    * resident postings are untouched. */
  def appendBatch(docs: DataFrame, batchId: Long): Unit = {
    val l = WriterLease.acquire(path, "TextIndex.append")
    try appendBatchUnleased(docs, batchId) finally l.release()
  }

  private def appendBatchUnleased(docs: DataFrame, batchId: Long): Unit = {
    require(batchId >= 0, "batchId must be non-negative (batch 0 is the initial build)")
    // a FRESH batch re-adding a TOMBSTONED doc_id would be hidden at query
    // time and then silently dropped with its tombstone at the next
    // compact() — refuse loudly (re-adds are legal once compact() cleared
    // the tombstones). A REPLAY of this same batch dir (it already exists —
    // crashed before its checkpoint commit) is exempt: its rows predate the
    // delete, the overwrite is idempotent, and the delete still wins —
    // throwing would permanently wedge an at-least-once stream whose docs
    // were deleted between the write and the replay.
    // committed dirs only (StoreIO.isCommittedDir): a crashed PARTIAL
    // first delivery must still re-run the check — see IvfIndex.appendBatch
    val isReplay = StoreIO.isCommittedDir(s"$postingsPath/batch=${batchId + 1}")
    if (!isReplay) tombstones().foreach { ts =>
      require(docs.select("doc_id").join(broadcast(ts.select("doc_id")),
        Seq("doc_id"), "left_semi").isEmpty,
        "batch re-adds tombstoned doc_ids — run compact() before re-adding deleted docs")
    }
    writeBatch(docs, batchId + 1)
  }

  /** Highest tombstone batch id already APPLIED by a [[compact]] — the
    * replay fence ([[graft.store.IvfIndex]] protocol): a delete replayed
    * after compaction cleared it, with its docs since re-added, must not
    * resurrect the tombstone and drop the re-added docs. Delete batch ids
    * are monotone (checkpoint-driven); id <= hwm means already applied. */
  private def tombstoneHwm(): Long = StoreIO.readLongFile(hwmPath, -1L)

  private def liveTombstoneDirs(): Array[java.io.File] = {
    val hwm = tombstoneHwm()
    StoreIO.committedBatchDirs(tombstonePath)
      .filter(_.getName.stripPrefix("batch=").toLong > hwm)
  }

  /** Pending deletes as one deduplicated (doc_id, dl) frame. Tombstones
    * CARRY the deleted doc's length (looked up from `_doclens` at delete
    * time) so query-time corpus-stat corrections need no postings scan.
    * Explicit schema: an empty delete micro-batch leaves a bare-_SUCCESS
    * dir schema inference cannot read. */
  private def tombstones(): Option[DataFrame] = {
    val dirs = liveTombstoneDirs()
    if (dirs.isEmpty) None
    else Some(spark.read.schema("doc_id LONG, dl INT")
      .parquet(dirs.map(_.getPath).toIndexedSeq: _*)
      .groupBy("doc_id").agg(max("dl").as("dl")))
  }

  /** Delete docs by id — the [[graft.store.IvfIndex.deleteBatch]] protocol
    * on the text side: ids resolve against `_doclens` (unknown ids are
    * ignored, Chroma-style; the lookup also attaches each doc's dl so
    * [[query]] can correct n/avgdl exactly), then land as an idempotent
    * batch-keyed tombstone dir. Queries exclude the docs IMMEDIATELY with
    * exact BM25 scores (stats corrected, postings anti-joined);
    * [[compact]] drops the postings physically and clears the tombstones.
    * Cost: one narrow `_doclens` scan (one row per doc) per delete batch —
    * never a postings scan. */
  def deleteBatch(ids: DataFrame, batchId: Long): Unit = {
    val l = WriterLease.acquire(path, "TextIndex.delete")
    try deleteBatchUnleased(ids, batchId) finally l.release()
  }

  private def deleteBatchUnleased(ids: DataFrame, batchId: Long): Unit = {
    require(batchId >= 0, "batchId must be non-negative")
    require(ids.columns.contains("doc_id"), "delete batch needs a doc_id column")
    // replay fence: a delete at or below the compaction high-water mark was
    // already applied physically — rewriting its dir would resurrect the
    // tombstone against docs legitimately re-added since
    if (batchId <= tombstoneHwm()) return
    val del = StoreIO.alignToSchema(ids.select("doc_id"),
      Seq(org.apache.spark.sql.types.StructField(
        "doc_id", org.apache.spark.sql.types.LongType)), Seq("doc_id"))
      .dropDuplicates("doc_id")
    val dlDirs = StoreIO.committedBatchDirs(doclensPath)
    // delete before (or without) any build: no doc is known, so every id is
    // unknown — record an EMPTY tombstone batch (Chroma ignores unknown
    // ids) instead of crashing on a zero-path read
    val known =
      if (dlDirs.isEmpty)
        spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
          org.apache.spark.sql.types.StructType.fromDDL("doc_id LONG, dl INT"))
      else spark.read.schema("doc_id LONG, dl INT")
        .parquet(dlDirs.map(_.getPath).toIndexedSeq: _*)
        .groupBy("doc_id").agg(max("dl").cast("int").as("dl"))
    known
      .join(broadcast(del), Seq("doc_id"), "left_semi")
      .write.mode("overwrite").parquet(s"$tombstonePath/batch=$batchId")
  }

  /** Driver-side convenience delete: next free tombstone batch id (past
    * both the live dirs and the compaction fence). */
  def delete(ids: Seq[Long]): Unit = {
    val next = (StoreIO.committedBatchDirs(tombstonePath)
      .map(_.getName.stripPrefix("batch=").toLong)
      .foldLeft(tombstoneHwm())(math.max)) + 1L
    import spark.implicits._
    deleteBatch(ids.toDF("doc_id"), next)
  }

  /** The (toks, postings) frame pair every index write derives from, both
    * PERSISTED (the caller unpersists):
    *  - coalesce: Tokenize is null-intolerant, so a NULL text would yield
    *    NULL toks — size() NULL, no sentinel row, doc counted in _stats but
    *    absent from postings = the compaction stats drift the sentinel
    *    exists to prevent, just for the NULL variant of token-less;
    *  - a zero-token doc (empty/punctuation-only text) gets a SENTINEL
    *    posting (term "", tf 0 — the tokenizer never emits an empty token,
    *    a tf-0 contribution scores 0 even if probed) so that EVERY doc owns
    *    at least one posting row: compact()'s stats recompute from postings
    *    then counts token-less docs too — without the sentinel, compaction
    *    would silently shrink n/avgdl and shift every score;
    *  - positions ride the posting row (sorted ascending — collect_list is
    *    order-nondeterministic across partitionings, sort_array pins it):
    *    tf stays the BM25 scan's narrow column, pos serves phraseQuery's
    *    consecutive-position join; BM25 reads column-prune pos away. */
  private def postingFrames(docs: DataFrame): (DataFrame, DataFrame) = {
    require(docs.columns.contains("doc_id") && docs.columns.contains("text"),
      "TextIndex expects (doc_id, text)")
    val toks = docs.select(col("doc_id"),
        coalesce(TF.tokens(col("text")), typedlit(Array.empty[String])).as("toks"))
      .withColumn("dl", size(col("toks")))
      .persist()
    val postings = toks
      .select(col("doc_id"), col("dl"), posexplode(col("toks")).as(Seq("p", "term")))
      .groupBy("term", "doc_id", "dl")
      .agg(count(lit(1)).as("tf"), sort_array(collect_list(col("p"))).as("pos"))
      .unionByName(toks.filter(size(col("toks")) === 0)
        .select(lit("").as("term"), col("doc_id"), col("dl"), lit(0L).as("tf"),
          typedlit(Array.empty[Int]).as("pos")))
      .withColumn("bucket", pmod(TF.polyHash(col("term")), lit(numBuckets.toLong)))
      .persist()
    (toks, postings)
  }

  /** IN-PLACE POSITIONAL UPGRADE: re-derive postings WITH positions for
    * ONLY the generations that lack a `pos` column, from the caller's
    * source frame (doc_id, text) — the index stores no raw text, so the
    * corpus of record must supply it. Until now a pre-positions index
    * needed a FULL rebuild to serve phrase/NEAR (mixed generations refuse
    * loudly — correct but corpus-priced); this re-tokenizes just the old
    * generations' doc sets (each batch's `_doclens` twin names them, and
    * the semi-join prunes the source before any explode), so cost tracks
    * the OLD generations, never the corpus.
    *
    * Safety: the re-derived rows must reproduce each generation's
    * (term, doc_id, tf, dl) EXACTLY — a drifted corpus of record (changed
    * or missing text) refuses before anything publishes, because silently
    * replacing postings with different tf/dl would corrupt scoring. On
    * success every upgraded dir replaces itself in ONE crash-consistent
    * commit; `_termstats`/`_stats`/`_doclens` are untouched (identical
    * rows, positions only ADD a column), so BM25 is bit-identical before
    * and after and the positional surfaces simply start serving. Returns
    * the number of upgraded generations. */
  def upgradePositions(docs: DataFrame): Int =
    WriterLease.withLease(path, "TextIndex.upgradePositions") {
      val preDirs = StoreIO.committedBatchDirs(postingsPath).filter(d =>
        StoreIO.hasParquetFooter(d) &&
          !spark.read.parquet(d.getPath).schema.fieldNames.contains("pos"))
      if (preDirs.isEmpty) 0
      else {
        val caches = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
        try {
          val stages = preDirs.map { d =>
            val bname = d.getName
            val ids = spark.read.parquet(s"$doclensPath/$bname").select("doc_id")
            val slice = docs.join(ids, Seq("doc_id"), "left_semi")
            val (toks, postings) = postingFrames(slice)
            caches += toks; caches += postings
            val key = Seq("term", "doc_id", "dl", "tf")
            val orig = spark.read.parquet(d.getPath)
              .selectExpr("term", "doc_id", "CAST(dl AS INT) AS dl", "tf")
            val fresh = postings
              .selectExpr("term", "doc_id", "CAST(dl AS INT) AS dl", "tf")
            require(orig.exceptAll(fresh).isEmpty && fresh.exceptAll(orig).isEmpty,
              s"source frame does not reproduce generation $bname's postings " +
                s"($key must match row for row) — wrong or drifted corpus of record; " +
                "refusing to publish")
            StoreIO.Staged(s"$path/__stage_upgrade_${bname.stripPrefix("batch=")}",
              s"$postingsPath/$bname",
              st => bucketClustered(postings, "doc_id")
                .write.mode("overwrite").partitionBy("bucket").parquet(st))
          }
          StoreIO.commitStaged(stages.toSeq, marker)
          preDirs.length
        } finally caches.foreach(_.unpersist())
      }
    }

  private def writeBatch(docs: DataFrame, b: Long): Unit = {
    val (toks, postings) = postingFrames(docs)
    try {
      bucketClustered(postings, "doc_id").write.mode("overwrite").partitionBy("bucket")
        .parquet(s"$postingsPath/batch=$b")
      // df from the SAME cached frame (a read-back of the just-written dir
      // throws on an EMPTY micro-batch — partitionBy of zero rows leaves a
      // bare _SUCCESS dir Spark cannot infer a schema from)
      bucketClustered(termStatsOf(postings), "term")
        .write.mode("overwrite").partitionBy("bucket").parquet(s"$termstatsPath/batch=$b")
      // coalesce: sum() of zero rows is NULL, and corpus stats must stay
      // exact non-null integers for the cross-batch sum
      toks.agg(count(lit(1)).as("n_docs"),
          coalesce(sum(col("dl").cast("long")), lit(0L)).as("sum_dl"))
        .write.mode("overwrite").parquet(s"$statsPath/batch=$b")
      // per-doc lengths (one narrow row per doc): the delete path's lookup
      // table — a tombstone must carry its doc's dl so query-time n/avgdl
      // corrections stay exact without ever scanning postings
      toks.select(col("doc_id"), col("dl"))
        .write.mode("overwrite").parquet(s"$doclensPath/batch=$b")
    } finally { postings.unpersist(); toks.unpersist(): Unit }
  }

  /** Merge accumulated batch dirs into one compacted generation (negative
    * batch id namespace, same protocol as [[IvfIndex.compact]]: snapshot
    * committed dirs, stage, publish, drop only the snapshotted inputs — a
    * concurrently landing batch survives). `(term, doc_id)` duplicates —
    * replayed orphan micro-batches — merge to one row, and term/corpus
    * stats are RECOMPUTED from the merged postings so they heal too. The
    * three trees AND the input deletion publish as ONE crash-consistent
    * [[StoreIO.commitStaged]] unit (marker + open-time recover): without
    * the marker, a crash between the merged-postings rename and the input
    * cleanup left merged and original postings co-resident, doubling
    * every tf/df/stats contribution for all queries until another compact
    * happened to run. Stages live OUTSIDE the batch-keyed trees (a
    * `batch=N__stage` dir nested under the root would be picked up by a
    * concurrent reader's partition discovery mid-write). */
  /** Maintenance introspection — see [[IndexStats]]: live docs (stats
    * sum minus pending tombstones), pending tombstones, committed
    * posting batches. */
  def stats(): IndexStats = {
    if (StoreIO.committedBatchDirs(statsPath).isEmpty) IndexStats(0L, 0L, 0)
    else {
      val n = spark.read.parquet(statsPath)
        .agg(sum(col("n_docs"))).head().getLong(0)
      val dead = tombstones().map(_.count()).getOrElse(0L)
      IndexStats(n - dead, dead,
        StoreIO.committedBatchDirs(postingsPath).length)
    }
  }

  def compact(): Unit = {
    val l = WriterLease.acquire(path, "TextIndex.compact")
    try compactUnleased() finally l.release()
  }

  private def compactUnleased(): Unit = {
    // snapshot COMMITTED batch and tombstone dirs — batches and deletes
    // landing during the merge both survive untouched. Only tombstones
    // behind the replay fence are APPLIED; stale dirs (id <= hwm, already
    // physically applied) are swept unapplied.
    val batchDirs = StoreIO.committedBatchDirs(postingsPath)
    val allTsDirs = StoreIO.committedBatchDirs(tombstonePath)
    val tsDirs = liveTombstoneDirs()
    if (batchDirs.length <= 1 && allTsDirs.isEmpty) return
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
    val names = batchDirs.map(_.getName).toSet
    val batchIds = batchDirs.map(_.getName.stripPrefix("batch=").toLong)
    val mergedId = math.min(batchIds.min, 0L) - 1L
    val mergedRaw = spark.read.option("basePath", postingsPath)
      .parquet(batchDirs.map(_.getPath).toIndexedSeq: _*)
      .drop("batch")
      .dropDuplicates("term", "doc_id")
    // MIXED generations (a pre-positions build under positions-carrying
    // appends): schema inference picks an arbitrary footer, so the merged
    // pos column would either vanish or carry NULLs for the old docs
    // nondeterministically — drop it explicitly so the compacted index is
    // DETERMINISTICALLY non-positional (phraseQuery keeps refusing until a
    // rebuild; silently serving would drop the pre-upgrade docs)
    val mergedAll =
      if (positionsEverywhere()) mergedRaw else mergedRaw.drop("pos")
    // tombstoned docs drop PHYSICALLY here; df/stats/doclens recompute from
    // the purged postings, so after the commit the index is byte-equivalent
    // to one built without the deleted docs
    val merged = (tsDirs match {
      case Array() => mergedAll
      case dirs => mergedAll.join(
        broadcast(spark.read.schema("doc_id LONG, dl INT")
          .parquet(dirs.map(_.getPath).toIndexedSeq: _*).select("doc_id").dropDuplicates("doc_id")),
        Seq("doc_id"), "left_anti")
    }).persist()
    try {
      val snapped = Seq(postingsPath, termstatsPath, statsPath, doclensPath)
        .flatMap { root =>
          Option(new java.io.File(root).listFiles()).getOrElse(Array.empty)
            .filter(f => names.contains(f.getName)).map(_.getPath)
        } ++ allTsDirs.map(_.getPath)
      StoreIO.commitStaged((if (allTsDirs.isEmpty) Seq.empty else Seq(hwmStage)) ++ Seq(
        StoreIO.Staged(s"$path/__stage_postings", s"$postingsPath/batch=$mergedId",
          st => bucketClustered(merged, "doc_id")
            .write.mode("overwrite").partitionBy("bucket").parquet(st)),
        StoreIO.Staged(s"$path/__stage_termstats", s"$termstatsPath/batch=$mergedId",
          st => bucketClustered(termStatsOf(merged), "term")
            .write.mode("overwrite").partitionBy("bucket").parquet(st)),
        StoreIO.Staged(s"$path/__stage_stats", s"$statsPath/batch=$mergedId",
          st => merged.select(col("doc_id"), col("dl")).distinct()
            .agg(count(lit(1)).as("n_docs"), sum(col("dl").cast("long")).as("sum_dl"))
            .write.mode("overwrite").parquet(st)),
        StoreIO.Staged(s"$path/__stage_doclens", s"$doclensPath/batch=$mergedId",
          st => merged.select(col("doc_id"), col("dl")).distinct()
            .write.mode("overwrite").parquet(st))),
        marker, cleanup = snapped)
    } finally merged.unpersist(): Unit
  }

  // ------------------------------------------------------- hot serving

  /** JVM-resident serving state — the [[GraphIndex]]/[[IvfIndex]] hot
    * tier, text shape: corpus stats corrected for pending tombstones at
    * load, the dead-doc set, and postings. An index inside the hot budget
    * ([[hotFits]]) holds EVERY term's postings and positions, filled by
    * [[loadAll]] from one streamed read of each tree, so a warmed index
    * serves any term with no Spark job; a larger one — on disk, or once
    * decompressed into memory — loads postings PER TERM on first use (one
    * bucket+term-pruned read each) into a byte-bounded cache. Keyed on the
    * publish fingerprint; append/delete/compact/build invalidate
    * wholesale. */
  /** One term's postings with the quantized contribution PRE-COMPUTED:
    * idf and avgdl are constants of the hot state, so the per-posting
    * double pipeline + HALF_UP quantization run ONCE at term load —
    * every later probe is a pure primitive-array integer-sum loop. */
  private final class TermPostings(
      val docIds: Array[Long], val dls: Array[Int], val cqs: Array[Long])

  /** One term's POSITION lists (the phrase/proximity hot state): doc-sorted
    * parallel arrays — docIds, per-doc offsets into `flat`, and the
    * concatenated ascending position arrays. */
  private final class TermPositions(
      val docIds: Array[Long], val offs: Array[Int], val flat: Array[Int])

  /** What a fully loaded state serves for a term the index does not hold. */
  private val NoPostings = new TermPostings(Array.empty, Array.empty, Array.empty)
  private val NoPositions = new TermPositions(Array.empty, Array(0), Array.empty)

  /** `total` is the committed doc count, `n` the live one; `full` marks a
    * state that holds every term ([[loadAll]]). */
  private final class HotText(
      val key: String, val total: Long, val n: Long, val avgdl: Double,
      val dead: java.util.HashSet[java.lang.Long],
      val full: Boolean,
      val postings: java.util.concurrent.ConcurrentHashMap[String, TermPostings] =
        new java.util.concurrent.ConcurrentHashMap(),
      val positions: java.util.concurrent.ConcurrentHashMap[String, TermPositions] =
        new java.util.concurrent.ConcurrentHashMap(),
      val bytes: java.util.concurrent.atomic.AtomicLong =
        new java.util.concurrent.atomic.AtomicLong(0L))

  @volatile private var hotCache: HotText = null

  /** (publish fingerprint, budget) at which [[loadAll]] outgrew the budget
    * in memory: [[hotFits]] declines there, so the routed entries serve
    * from Spark rather than through a per-term cache. */
  @volatile private var hotOverflow: (String, Long) = null

  private def hotKey(): String = {
    def names(p: String) = StoreIO.committedBatchDirs(p).map(_.getName).mkString(",")
    def mt(p: String) = new java.io.File(p).lastModified()
    s"${names(postingsPath)}|${names(tombstonePath)}|${tombstoneHwm()}|" +
      s"${mt(postingsPath)}|${mt(statsPath)}|${mt(termstatsPath)}"
  }

  /** Admission for routed hot serving — the IVF/graph rule: the on-disk
    * postings and term-stats trees fit [[StoreIO.hotBudgetBytes]], and the
    * last full load at this fingerprint and budget did not outgrow it in
    * memory (position lists decompress well past their disk bytes). A
    * jobless driver-side size probe, re-read per call, so a changed
    * budget takes effect at once. */
  private[graft] def hotFits(): Boolean = {
    val budget = StoreIO.hotBudgetBytes()
    StoreIO.treeBytes(postingsPath) + StoreIO.treeBytes(termstatsPath) <= budget && {
      val o = hotOverflow
      o == null || o._2 != budget || o._1 != hotKey()
    }
  }

  private def hotState(): HotText = {
    val key = hotKey()
    val fits = hotFits()
    var h = hotCache
    if (h == null || h.key != key || h.full != fits) {
      require(StoreIO.committedBatchDirs(statsPath).nonEmpty,
        s"TextIndex at $path has no committed corpus stats — build() first")
      val st = spark.read.schema(TextIndex.StatsSchema).parquet(statsPath)
        .agg(sum(col("n_docs")).as("n"), sum(col("sum_dl")).as("sumdl")).head()
      val dead = new java.util.HashSet[java.lang.Long]()
      var deadDl = 0L
      tombstones().foreach(_.select("doc_id", "dl").collect().foreach { r =>
        dead.add(r.getLong(0)); deadDl += r.getInt(1).toLong
      })
      val total = if (st.isNullAt(0)) 0L else st.getLong(0)
      val sumDl = if (st.isNullAt(1)) 0L else st.getLong(1)
      val n = total - dead.size()
      def fresh(full: Boolean) =
        new HotText(key, total, n, (sumDl - deadDl).toDouble / n.toDouble, dead, full)
      h = fresh(fits)
      if (fits && !loadAll(h)) {
        hotOverflow = (key, StoreIO.hotBudgetBytes())
        h = fresh(false)
      }
      hotCache = h
    }
    h
  }

  /** The corpus-stat refusals every ranked surface shares: an index with
    * no documents, or with every document tombstoned, has no avgdl. */
  private def requireLive(total: Long, n: Long): Unit = {
    require(total > 0,
      s"TextIndex at $path indexes zero documents — build() over a non-empty corpus first")
    require(n > 0, s"TextIndex at $path has zero live documents — every doc is tombstoned")
  }

  /** One term's posting rows as primitive parallel arrays, buffered by
    * [[loadAll]]'s pass. */
  private final class TermRowsBuf {
    val docs = Array.newBuilder[Long]
    val dls = Array.newBuilder[Int]
    val tfs = Array.newBuilder[Long]
    val pos = Array.newBuilder[Array[Int]]
  }

  /** Fill `h` with EVERY term from one read of each admitted tree: the
    * postings (positions included when every batch carries them) and the
    * `_termstats` df. Same per-term arithmetic as the per-term loads
    * ([[termPostings]], [[termPositions]]), so a fully loaded state
    * serves bit-equal answers. The postings stream in partition by
    * partition and land in primitive per-term buffers, counted with the
    * resident-size estimates ([[termBytes]], [[posBytes]]); the pass stops
    * and returns false, leaving `h` empty, once they pass
    * [[StoreIO.hotBudgetBytes]], so driver heap stays near the budget. */
  private def loadAll(h: HotText): Boolean = {
    val budget = StoreIO.hotBudgetBytes()
    val withPos = positionsEverywhere()
    val bufs = new java.util.HashMap[String, TermRowsBuf]()
    var bytes = 0L
    val cols = Seq("term", "doc_id", "dl", "tf") ++ (if (withPos) Seq("pos") else Nil)
    val it = spark.read.schema(TextIndex.PostingsSchema).parquet(postingsPath)
      .select(cols.map(col): _*).toLocalIterator()
    while (bytes <= budget && it.hasNext) {
      val r = it.next()
      var b = bufs.get(r.getString(0))
      if (b == null) {
        b = new TermRowsBuf
        bufs.put(r.getString(0), b)
        bytes += (if (withPos) 128L else 64L)
      }
      b.docs += r.getLong(1); b.dls += r.getInt(2); b.tfs += r.getLong(3)
      bytes += 20L
      if (withPos) {
        val p = r.getSeq[Int](4).toArray
        b.pos += p
        bytes += 12L + 4L * p.length
      }
    }
    if (bytes > budget) return false
    val dfRaw = scala.collection.mutable.HashMap.empty[String, Long]
    spark.read.schema(TextIndex.TermStatsSchema).parquet(termstatsPath)
      .select("term", "df").collect()
      .foreach(r => dfRaw(r.getString(0)) = dfRaw.getOrElse(r.getString(0), 0L) + r.getLong(1))
    val terms = bufs.entrySet().iterator()
    while (terms.hasNext) {
      val e = terms.next()
      terms.remove()
      val (t, b) = (e.getKey, e.getValue)
      val docs = b.docs.result()
      val tp = termPostings(h, docs, b.dls.result(), b.tfs.result(), dfRaw.getOrElse(t, 0L))
      h.postings.put(t, tp)
      h.bytes.addAndGet(termBytes(tp))
      if (withPos) {
        val pp = termPositions(h, docs, b.pos.result())
        h.positions.put(t, pp)
        h.bytes.addAndGet(posBytes(pp))
      }
    }
    true
  }

  /** One term's postings, bucket+term-pruned, read with the writer's
    * schema. */
  private def termRows(term: String, cols: String*): Array[Row] =
    spark.read.schema(TextIndex.PostingsSchema).parquet(postingsPath)
      .filter(col("bucket") === bucketOf(term) && col("term") === term)
      .select(cols.map(col): _*).collect()

  /** ~bytes a loaded term pins: 20 bytes/posting (long id + int dl +
    * long quantized contribution) + fixed overhead. */
  private def termBytes(tp: TermPostings): Long = 20L * tp.docIds.length + 64L

  /** A term's postings from a partial state, loaded on first use.
    *
    * The cache is BYTE-BOUNDED by [[StoreIO.hotBudgetBytes]]: unlike the
    * Graph/IVF hot tiers (whole-index, admission-checked up front), a
    * partial text tier grows with the query vocabulary, so an unbounded
    * cache would eventually pin every posting list — at 100 TB a df≈n
    * term alone is corpus-sized. Over budget, the cache resets wholesale
    * keeping only the term just loaded (generation flip, not LRU —
    * entries are immutable derived state, so eviction can never be
    * wrong, only cause a reload). A full state holds every term and never
    * loads. */
  private def hotTerm(h: HotText, term: String): TermPostings =
    if (h.full) h.postings.getOrDefault(term, NoPostings)
    else {
      val tp = hotTermLoad(h, term)
      if (h.bytes.get() > StoreIO.hotBudgetBytes()) {
        h.postings.clear()
        h.positions.clear()
        h.bytes.set(0L)
        h.postings.put(term, tp)
        h.bytes.addAndGet(termBytes(tp))
      }
      tp
    }

  /** ~bytes a loaded positions entry pins: 8/doc id + 4/offset + 4/position. */
  private def posBytes(tp: TermPositions): Long =
    12L * tp.docIds.length + 4L * tp.flat.length + 64L

  /** A term's POSITION lists for the hot phrase/proximity probes — from a
    * full state, or loaded on first use (one bucket+term-pruned read) into
    * a partial state's byte-bounded cache ([[hotTerm]]'s generation flip). */
  private def hotPosTerm(h: HotText, term: String): TermPositions =
    if (h.full) h.positions.getOrDefault(term, NoPositions)
    else {
      val tp = h.positions.computeIfAbsent(term, { t =>
        val rows = termRows(t, "doc_id", "pos")
        val out = termPositions(h, rows.map(_.getLong(0)), rows.map(_.getSeq[Int](1).toArray))
        h.bytes.addAndGet(posBytes(out))
        out
      })
      if (h.bytes.get() > StoreIO.hotBudgetBytes()) {
        h.postings.clear()
        h.positions.clear()
        h.bytes.set(0L)
        h.positions.put(term, tp)
        h.bytes.addAndGet(posBytes(tp))
      }
      tp
    }

  /** One term's position lists from its (doc_id, pos) posting rows,
    * tombstoned docs excluded. The documented orphan-replay state (a
    * checkpointed micro-batch replayed after compact() re-lands its
    * postings until the next fold) can surface the same (term, doc) in TWO
    * batch dirs — merged to the distinct sorted position set so the probe
    * walks each doc ONCE, matching the Spark probes' distinct-position
    * counting (duplicate docIds would otherwise emit duplicate ranked rows
    * AND break the binary searches' unique-key assumption). */
  private def termPositions(h: HotText, docs: Array[Long],
                            pos: Array[Array[Int]]): TermPositions = {
    val merged = docs.indices.filter(i => !h.dead.contains(docs(i)))
      .groupBy(docs(_)).toArray.sortBy(_._1).map { case (doc, is) =>
        (doc,
          if (is.length == 1) pos(is(0))
          else is.flatMap(pos(_)).distinct.sorted.toArray)
      }
    val docIds = merged.map(_._1)
    val posArrs = merged.map(_._2)
    val offs = new Array[Int](merged.length + 1)
    var i = 0
    while (i < merged.length) { offs(i + 1) = offs(i) + posArrs(i).length; i += 1 }
    val flat = new Array[Int](offs(merged.length))
    i = 0
    while (i < merged.length) {
      System.arraycopy(posArrs(i), 0, flat, offs(i), posArrs(i).length); i += 1
    }
    new TermPositions(docIds, offs, flat)
  }

  /** Is `v` present in `flat[lo, hi)` (an ascending slice)? */
  private def containsPos(flat: Array[Int], lo: Int, hi: Int, v: Int): Boolean = {
    var a = lo; var b = hi - 1
    while (a <= b) {
      val mid = (a + b) >>> 1
      val x = flat(mid)
      if (x == v) return true
      if (x < v) a = mid + 1 else b = mid - 1
    }
    false
  }

  /** Bounded top-k (cnt desc, doc asc) selection for the hot probes —
    * [[hotQuery]]'s buffer rationale: a full sort of every matching doc
    * would dominate the warm probe at corpus scale. */
  private final class TopCounts(k: Int) {
    private val doc = new Array[Long](k)
    private val cnt = new Array[Long](k)
    private var n = 0
    private var worst = -1
    private def better(cA: Long, dA: Long, cB: Long, dB: Long): Boolean =
      cA > cB || (cA == cB && dA < dB)
    private def recomputeWorst(): Unit = {
      worst = 0
      var i = 1
      while (i < n) {
        if (better(cnt(worst), doc(worst), cnt(i), doc(i))) worst = i
        i += 1
      }
    }
    def push(d: Long, c: Long): Unit =
      if (k > 0) {
        if (n < k) {
          doc(n) = d; cnt(n) = c; n += 1
          if (n == k) recomputeWorst()
        } else if (better(c, d, cnt(worst), doc(worst))) {
          doc(worst) = d; cnt(worst) = c
          recomputeWorst()
        }
      }
    def result(): Seq[(Long, Long)] =
      (0 until n).map(i => (doc(i), cnt(i))).sortBy { case (d, c) => (-c, d) }
  }

  /** Every live doc holding `phrase`, with its occurrence count, from the
    * resident position lists: candidate docs come from the RAREST phrase
    * term's postings (a phrase led by a stop-word would otherwise walk
    * df("the") candidates), each candidate checked against every slot by
    * binary search; a start s counts iff every slot j finds its term at
    * s + j. The occurrence counts of [[phraseOccurrences]] (spec-pinned). */
  private def phraseWalk(h: HotText, phrase: Seq[String])(emit: (Long, Long) => Unit): Unit = {
    val tps: Map[String, TermPositions] =
      phrase.distinct.map(t => t -> hotPosTerm(h, t)).toMap
    val slots = phrase.toArray
    val t0 = tps(slots(0))
    val rare = tps.values.minBy(_.docIds.length)
    var di = 0
    while (di < rare.docIds.length) {
      val doc = rare.docIds(di)
      // per-slot position slices for this doc; a slot whose term misses
      // the doc kills every start
      val slotIdx = slots.map { t =>
        val j = java.util.Arrays.binarySearch(tps(t).docIds, doc)
        if (j < 0) -1 else j
      }
      if (!slotIdx.contains(-1)) {
        var cnt = 0L
        val d0 = slotIdx(0)
        var pi = t0.offs(d0)
        while (pi < t0.offs(d0 + 1)) {
          val s = t0.flat(pi)
          var ok = true
          var j = 1
          while (ok && j < slots.length) {
            val tp = tps(slots(j)); val dj = slotIdx(j)
            ok = containsPos(tp.flat, tp.offs(dj), tp.offs(dj + 1), s + j)
            j += 1
          }
          if (ok) cnt += 1
          pi += 1
        }
        if (cnt > 0) emit(doc, cnt)
      }
      di += 1
    }
  }

  /** [[phraseQuery]]'s resident twin, the route it takes inside the hot
    * budget: [[phraseWalk]] cut to the top k by (n_occ desc, doc asc).
    * Returns (doc_id, n_occ). */
  private[graft] def hotPhraseQuery(phrase: Seq[String], k: Int): Seq[(Long, Long)] = {
    require(phrase.nonEmpty, "phrase needs at least one term")
    requirePositions("phrase queries")
    val out = new TopCounts(k)
    phraseWalk(hotState(), phrase)(out.push)
    out.result()
  }

  /** [[nearQuery]]'s resident twin, the route it takes inside the hot
    * budget — qualifying position-pair counts per doc via a bounded
    * two-pointer window walk over the resident ascending lists, driven
    * from the RARER term's doc list (the pair count is symmetric in A and
    * B, so the outer loop is df-bounded by min(df_A, df_B)). Identical
    * counts and ranking to the Spark path (spec-pinned). Returns
    * (doc_id, n_pairs). */
  private[graft] def hotNearQuery(termA: String, termB: String, window: Int,
                                  k: Int): Seq[(Long, Long)] = {
    requireNear(termA, termB, window)
    val h = hotState()
    val la = hotPosTerm(h, termA)
    val lb = hotPosTerm(h, termB)
    val (ta, tb) = if (la.docIds.length <= lb.docIds.length) (la, lb) else (lb, la)
    val out = new TopCounts(k)
    var ia = 0
    while (ia < ta.docIds.length) {
      val doc = ta.docIds(ia)
      val ib = java.util.Arrays.binarySearch(tb.docIds, doc)
      if (ib >= 0) {
        var cnt = 0L
        var pa = ta.offs(ia)
        var lo = tb.offs(ib)
        while (pa < ta.offs(ia + 1)) {
          val p = ta.flat(pa)
          // advance the lower fence to the first b-position >= p - window,
          // then count b-positions <= p + window
          while (lo < tb.offs(ib + 1) && tb.flat(lo) < p - window) lo += 1
          var j = lo
          while (j < tb.offs(ib + 1) && tb.flat(j) <= p + window) { cnt += 1; j += 1 }
          pa += 1
        }
        if (cnt > 0) out.push(doc, cnt)
      }
      ia += 1
    }
    out.result()
  }

  private def hotTermLoad(h: HotText, term: String): TermPostings =
    h.postings.computeIfAbsent(term, { t =>
      val dfRaw = spark.read.schema(TextIndex.TermStatsSchema).parquet(termstatsPath)
        .filter(col("bucket") === bucketOf(t) && col("term") === t)
        .agg(coalesce(sum(col("df")), lit(0L))).head().getLong(0)
      val rows = termRows(t, "doc_id", "dl", "tf")
      val tp = termPostings(h, rows.map(_.getLong(0)), rows.map(_.getInt(1)),
        rows.map(_.getLong(2)), dfRaw)
      h.bytes.addAndGet(termBytes(tp))
      tp
    })

  /** One term's resident postings from its (doc_id, dl, tf) rows and
    * committed df: the tombstone df correction folds into idf, and every
    * posting's contribution is pre-quantized with [[query]]'s EXACT
    * arithmetic — same stat corrections, same double expression tree,
    * same HALF_UP rounding. */
  private def termPostings(h: HotText, docs: Array[Long], dlsIn: Array[Int],
                           tfs: Array[Long], dfRaw: Long): TermPostings = {
    val live = docs.indices.filter(i => !h.dead.contains(docs(i))).toArray
    val df = (dfRaw - (docs.length - live.length)).toDouble
    // StrictMath.log — the SAME function Spark's `log` expression calls
    // (catalyst UnaryLogExpression), so the hot tier, the Seq route, and
    // the frame route quantize bit-identical cq from identical idf
    val idf = StrictMath.log((h.n.toDouble - df + 0.5) / (df + 0.5) + 1.0)
    val docIds = new Array[Long](live.length)
    val dls = new Array[Int](live.length)
    val cqs = new Array[Long](live.length)
    var i = 0
    while (i < live.length) {
      val j = live(i)
      val dl = dlsIn(j)
      val tf = tfs(j).toDouble
      // mirror query()'s expression tree op for op
      val contrib = idf * ((tf * (K1 + 1.0)) /
        (tf + K1 * ((1.0 - B) + B * dl.toDouble / h.avgdl)))
      docIds(i) = docs(j)
      dls(i) = dl
      cqs(i) = java.math.BigDecimal.valueOf(contrib * Scale.toDouble)
        .setScale(0, java.math.RoundingMode.HALF_UP).longValue()
      i += 1
    }
    new TermPostings(docIds, dls, cqs)
  }

  /** Quantized BM25 sum / 2^20, rounded to 4 places as Spark's `round`
    * rounds a DOUBLE (HALF_UP on its shortest decimal string). */
  private def bm25q(sq: Long): Double =
    java.math.BigDecimal.valueOf(sq.toDouble / Scale.toDouble)
      .setScale(4, java.math.RoundingMode.HALF_UP).doubleValue()

  /** [[queryRanked]]'s resident twin, the route it takes inside the hot
    * budget: a primitive integer-sum loop over the pre-quantized postings
    * (no doubles, no allocation per posting), with [[query]]'s exact
    * integer scores and (score desc, doc asc) tie-break, so hot and cold
    * answers are bit-equal (spec-pinned). Returns (doc_id, dl, bm25q). */
  private[graft] def hotQuery(terms: Seq[String], k: Int): Seq[(Long, Int, Double)] = {
    val h = hotState()
    requireLive(h.total, h.n)
    val sums = new scala.collection.mutable.LongMap[Long]()
    val dlOf = new scala.collection.mutable.LongMap[Int]()
    terms.distinct.map(t => hotTerm(h, t)).foreach { tp =>
      var i = 0
      while (i < tp.docIds.length) {
        val doc = tp.docIds(i)
        sums(doc) = sums.getOrElse(doc, 0L) + tp.cqs(i)
        dlOf(doc) = tp.dls(i)
        i += 1
      }
    }
    // bounded top-k selection (score desc, doc asc): a full sort of the
    // candidate docs would dominate the probe at corpus scale (common
    // terms accumulate hundreds of thousands of docs)
    val top = new TopCounts(k)
    sums.foreach { case (doc, sq) => top.push(doc, sq) }
    top.result().map { case (doc, sq) => (doc, dlOf(doc), bm25q(sq)) }
  }

  /** A hot-routed answer as a DataFrame over a local relation. It is
    * bound at call time, so collecting it launches no Spark job. */
  private def local(schema: org.apache.spark.sql.types.StructType,
                    rows: Seq[Row]): DataFrame = {
    import scala.jdk.CollectionConverters._
    spark.createDataFrame(rows.asJava, schema)
  }

  // memoized per committed-dir set (names + mtimes — a rebuild republishes
  // batch=0 under the same name): one footer read per batch dir, once —
  // not per probe
  @volatile private var posCheck: (String, Boolean) = null
  private def positionsEverywhere(): Boolean = {
    val dirs = StoreIO.committedBatchDirs(postingsPath)
    val key = dirs.map(d => s"${d.getName}:${d.lastModified}").mkString(",")
    val c = posCheck
    if (c != null && c._1 == key) c._2
    else {
      // a fully-purged compacted generation is a bare-_SUCCESS dir with no
      // parquet footer — schema inference on it would throw a raw
      // AnalysisException; skip footerless dirs (they hold zero postings,
      // so they can neither violate nor satisfy positions-everywhere) and
      // let an ALL-footerless tree fail the nonEmpty arm, surfacing the
      // designed rebuild message instead
      val footered = dirs.filter(StoreIO.hasParquetFooter)
      val ok = footered.nonEmpty && footered.forall(d =>
        spark.read.parquet(d.getPath).schema.fieldNames.contains("pos"))
      posCheck = (key, ok)
      ok
    }
  }

  /** (doc_id, n_occ) of every live doc containing the exact phrase at
    * least once — [[phraseQuery]]'s frame before its ranking cut, and the
    * MUST-phrase membership side of [[booleanQuery]]. df-bounded by the
    * phrase terms' posting volume. */
  private def phraseOccurrences(phrase: Seq[String]): DataFrame = {
    require(phrase.nonEmpty, "phrase needs at least one term")
    val terms = phrase.distinct
    val buckets = terms.map(bucketOf).distinct
    val slots = spark.createDataFrame(phrase.zipWithIndex.map { case (t, j) => (t, j) })
      .toDF("term", "j")
    requirePositions("phrase queries")
    val pruned = spark.read.parquet(postingsPath)
      .filter(col("bucket").isin(buckets: _*) && col("term").isin(terms: _*))
    val live = tombstones() match {
      case None => pruned
      case Some(t) => pruned.join(broadcast(t.select("doc_id")), Seq("doc_id"), "left_anti")
    }
    live.select(col("doc_id"), col("term"), explode(col("pos")).as("p"))
      .join(broadcast(slots), Seq("term"))
      .select(col("doc_id"), (col("p") - col("j")).as("start"), col("j"))
      .groupBy("doc_id", "start")
      .agg(countDistinct(col("j")).as("hits"))
      .filter(col("hits") === phrase.length)
      .groupBy("doc_id").agg(count(lit(1)).as("n_occ"))
  }

  /** Ranked EXACT-PHRASE search — the first thing a search user types,
    * served from the SAME pruned term buckets as [[query]] (the postings
    * carry sorted position arrays): a phrase occurrence at start position
    * s exists iff every phrase slot j finds its term at position s + j, so
    * each queried term's positions shift by its slot offset and a
    * (doc, start) group counting all |phrase| distinct slots is a match.
    * Docs rank by exact integer occurrence count (ties: doc_id asc).
    *
    * Scale shape: the scan is bucket-PRUNED to the phrase terms' partition
    * dirs (PartitionFilters — spec-asserted) with the term filter inside,
    * so the exploded position volume is df-bounded by the QUERIED terms
    * (the q/numBuckets contract of [[query]], never the corpus); the only
    * shuffles are keyed on (doc, start) and doc — cardinality bounded by
    * the phrase terms' posting volume. A duplicated term in the phrase
    * ("the cat the") is handled by slot offsets: each occurrence must
    * cover all slots, including both of a repeated term's. Pending
    * deletes anti-join exactly like [[query]]. Requires an index built
    * after positions landed (rebuild adds them).
    *
    * Routing: inside the hot budget ([[hotFits]]) the answer comes from the
    * resident position lists ([[hotPhraseQuery]]) as a local relation
    * BOUND AT CALL TIME — the way [[graft.operators.Percolate.matches]]
    * runs its eager stage, a later write does not change an answer already
    * returned. Over budget the DataFrame is the Spark plan above, evaluated
    * when an action runs. */
  def phraseQuery(phrase: Seq[String], k: Int): DataFrame = {
    require(phrase.nonEmpty, "phrase needs at least one term")
    requirePositions("phrase queries")
    if (k > 0 && hotFits())
      local(TextIndex.PhraseSchema, hotPhraseQuery(phrase, k).map { case (d, c) => Row(d, c) })
    else phraseOccurrences(phrase)
      .orderBy(desc("n_occ"), asc("doc_id"))
      .limit(k)
  }

  /** EVERY committed batch must carry positions, not just whichever footer
    * schema inference happened to pick: on a mixed generation
    * (pre-positions build + post-positions append) the union read would
    * surface old postings' pos as NULL and explode() would SILENTLY drop
    * every pre-upgrade doc from the ranked result — fail loudly instead. */
  private def requirePositions(surface: String): Unit =
    require(positionsEverywhere(),
      s"TextIndex at $path has batches without positional postings — rebuild (or compact after a rebuild) to serve $surface")

  private def requireNear(termA: String, termB: String, window: Int): Unit = {
    require(window >= 1, "window must be at least 1")
    require(termA != termB, "NEAR needs two distinct terms (use phraseQuery for repeats)")
    requirePositions("proximity queries")
  }

  /** Ranked PROXIMITY search (the `NEAR/n` operator): docs where `termA`
    * and `termB` co-occur within `window` token positions, ranked by the
    * exact integer count of qualifying (posA, posB) pairs (ties: doc_id
    * asc). Same serving shape as [[phraseQuery]]: the scan prunes to the
    * two terms' buckets, the per-doc position join is bounded by
    * tf(A)·tf(B) of the QUERIED terms (df-bounded, never the corpus), and
    * pending deletes anti-join. Requires positional postings. Routed like
    * [[phraseQuery]]: inside the hot budget the answer is
    * [[hotNearQuery]]'s, a local relation bound at call time. */
  def nearQuery(termA: String, termB: String, window: Int, k: Int): DataFrame = {
    requireNear(termA, termB, window)
    if (k > 0 && hotFits())
      return local(TextIndex.NearSchema,
        hotNearQuery(termA, termB, window, k).map { case (d, c) => Row(d, c) })
    val terms = Seq(termA, termB)
    val buckets = terms.map(bucketOf).distinct
    val pruned = spark.read.parquet(postingsPath)
      .filter(col("bucket").isin(buckets: _*) && col("term").isin(terms: _*))
    val live = tombstones() match {
      case None => pruned
      case Some(t) => pruned.join(broadcast(t.select("doc_id")), Seq("doc_id"), "left_anti")
    }
    // distinct positions per (doc, term): the orphan-replay state (a
    // checkpointed batch re-landed after compact()) duplicates postings
    // across dirs until the next fold — distinct keeps the pair count
    // exact (and ≡ the hot path's merged lists) instead of 4×-inflating
    // it; df-bounded frames, so the extra aggregation is probe-sized
    val a = live.filter(col("term") === termA)
      .select(col("doc_id"), explode(col("pos")).as("pa")).distinct()
    val b = live.filter(col("term") === termB)
      .select(col("doc_id"), explode(col("pos")).as("pb")).distinct()
    a.join(b, Seq("doc_id"))
      .filter(abs(col("pa") - col("pb")) <= window)
      .groupBy("doc_id").agg(count(lit(1)).as("n_pairs"))
      .orderBy(desc("n_pairs"), asc("doc_id"))
      .limit(k)
  }

  /** (live n, avgdl, tombstones) with pending-delete corrections — the
    * corpus-stat head every ranked query shares. Pending deletes correct
    * EVERY stat the score depends on, so a post-delete query is bit-equal
    * to one over a freshly rebuilt index: n / sum_dl shrink by the
    * tombstone rows (they carry dl); correction inputs are bounded by
    * deletes-since-last-compact. */
  private def liveCorpusStats(): (Long, Double, Option[DataFrame]) = {
    // an unbuilt path or a stats tree with zero committed rows would
    // otherwise NPE on the NULL sum and divide into a NaN avgdl — fail
    // with a diagnosable message instead
    require(StoreIO.committedBatchDirs(statsPath).nonEmpty,
      s"TextIndex at $path has no committed corpus stats — build() first")
    val st = spark.read.parquet(statsPath)
      .agg(sum(col("n_docs")).as("n"), sum(col("sum_dl")).as("sumdl")).head()
    val total = if (st.isNullAt(0)) 0L else st.getLong(0)
    val ts = tombstones()
    val (dead, deadDl) = ts match {
      case None => (0L, 0L)
      case Some(t) =>
        val r = t.agg(count(lit(1)), coalesce(sum(col("dl").cast("long")), lit(0L))).head()
        (r.getLong(0), r.getLong(1))
    }
    val n = total - dead
    requireLive(total, n)
    (n, (st.getLong(1) - deadDl).toDouble / n.toDouble, ts)
  }

  /** Bucket+term-pruned postings scan: the bucket filter is partition
    * pruning (only the terms' bucket dirs are listed, in every batch), the
    * term filter prunes row groups within. */
  private def prunedPostingsOf(terms: Seq[String]): DataFrame = {
    val buckets = terms.map(bucketOf).distinct
    spark.read.parquet(postingsPath)
      .filter(col("bucket").isin(buckets: _*) && col("term").isin(terms: _*))
  }

  /** Committed (tombstone-uncorrected) df per queried term: ONE
    * bucket+term-pruned collect over the vocabulary-bounded `_termstats`
    * sidecar. Committed df DOMINATES live df (tombstones only shrink a
    * posting list), so sums over this map are valid upper bounds for the
    * adaptive-gate arithmetic — and the same collect feeds [[idfMapOf]],
    * so the [[queryRankedBatchBounded]] floor gate costs no job beyond
    * what the unbounded pass already pays. */
  private def committedDfMapOf(terms: Seq[String]): Map[String, Long] = {
    val buckets = terms.map(bucketOf).distinct
    spark.read.parquet(termstatsPath)
      .filter(col("bucket").isin(buckets: _*) && col("term").isin(terms: _*))
      .groupBy("term").agg(sum(col("df")).as("df"))
      .collect().map(r => r.getAs[String]("term") -> r.getAs[Long]("df")).toMap
  }

  /** idf per term with the tombstone df correction: df of each QUERIED
    * term shrinks by its tombstoned postings — counted inside the same
    * bucket+term-pruned scan the scoring uses. `dfMap0` hands through a
    * committed-df map a caller already collected ([[committedDfMapOf]])
    * so the adaptive gate and the scoring idf share one sidecar job. */
  private def idfMapOf(terms: Seq[String], n: Long,
                       ts: Option[DataFrame],
                       dfMap0: Option[Map[String, Long]] = None): Map[String, Double] = {
    val deadDf: Map[String, Long] = ts match {
      case None => Map.empty
      case Some(t) => prunedPostingsOf(terms)
        .join(broadcast(t.select("doc_id")), Seq("doc_id"), "left_semi")
        .groupBy("term").agg(count(lit(1)).as("ddf"))
        .collect().map(r => r.getAs[String]("term") -> r.getAs[Long]("ddf")).toMap
    }
    val dfMap: Map[String, Long] = dfMap0.getOrElse(committedDfMapOf(terms))
    terms.map { t =>
      val df = (dfMap.getOrElse(t, 0L) - deadDf.getOrElse(t, 0L)).toDouble
      // StrictMath.log == Spark's `log` expression (bit-identical idf on
      // the driver and frame routes — the TextIndexSpec frame-panel
      // parity pin against per-probe queryRanked)
      t -> StrictMath.log((n.toDouble - df + 0.5) / (df + 0.5) + 1.0)
    }.toMap
  }

  /** The quantized per-posting contribution — ONE expression tree shared
    * by [[query]] and [[booleanQuery]] (and mirrored op-for-op by the hot
    * tier), so every ranked surface scores identically. `idfCol` is the
    * per-term idf however the route carries it: a broadcast-literal map
    * lookup on the driver-panel routes ([[cqColumn]]) or a joined frame
    * column on the frame-panel routes ([[PanelScan]]) — the arithmetic
    * AFTER the lookup is this one tree either way. */
  private def cqExpr(idfCol: org.apache.spark.sql.Column, avgdl: Double): org.apache.spark.sql.Column = {
    val tf = col("tf").cast("double")
    val contrib = idfCol *
      ((tf * lit(K1 + 1.0)) /
        (tf + lit(K1) * (lit(1.0 - B) + lit(B) * col("dl").cast("double") / lit(avgdl))))
    round(contrib * lit(Scale.toDouble)).cast("long")
  }

  private def cqColumn(idf: Map[String, Double], avgdl: Double): org.apache.spark.sql.Column =
    cqExpr(element_at(typedlit(idf), col("term")), avgdl)

  /** The shared (sq desc, doc asc) top-k + de-quantization tail — ONE
    * copy, so [[query]] and [[booleanQuery]] can never drift apart on the
    * arithmetic the `booleanQuery(Nil, terms) == query(terms)` invariant
    * pins. Input: an aggregated (doc_id, dl, sq) frame. */
  private def rankedTail(aggregated: DataFrame, k: Int): DataFrame =
    aggregated
      .orderBy(desc("sq"), asc("doc_id")).limit(k)
      .select(col("doc_id"), col("dl"),
        round(col("sq").cast("double") / lit(Scale.toDouble), 4).as("bm25q"))

  /** The aggregated (doc_id, dl, sq) quantized-score frame for `terms` —
    * ONE copy of the whole scoring pipeline (live corpus stats, idf map,
    * tombstone anti-join, per-doc cq sum), so [[query]] and
    * [[queryRanked]] can never drift on the arithmetic the
    * "queryRanked ranks exactly query()'s answer" contract pins. */
  private def aggregatedSq(terms: Seq[String]): DataFrame = {
    val (n, avgdl, ts) = liveCorpusStats()
    val idf = idfMapOf(terms, n, ts)
    val scored = ts match {
      case None => prunedPostingsOf(terms)
      case Some(t) => prunedPostingsOf(terms)
        .join(broadcast(t.select("doc_id")), Seq("doc_id"), "left_anti")
    }
    scored.withColumn("cq", cqColumn(idf, avgdl))
      .groupBy("doc_id", "dl").agg(sum(col("cq")).as("sq"))
  }

  /** Top-k docs for `terms` by quantized BM25 across every batch dir. The
    * only shuffle is the per-doc sum over the pruned matching postings
    * ([[prunedPostingsOf]]). Corpus stats sum exactly across batches;
    * tombstoned postings drop from the scored scan (anti-join); the
    * zero-pending path is byte-identical to the original plan.
    * Returns (doc_id, dl, bm25q) ordered by the exact integer score. */
  def query(terms: Seq[String], k: Int): DataFrame =
    rankedTail(aggregatedSq(terms), k)

  /** [[query]] with the INTEGER-EXACT rank attached — the hybrid-fusion
    * arm (q_hybrid_indexed): rank = position in the (sq desc, doc_id asc)
    * total order over the QUANTIZED integer scores, computed BEFORE the
    * de-quantizing presentation rounding (two sq values a hair apart can
    * round to the same 4-dp bm25q, so ranking the rounded column would be
    * ambiguous exactly where ranks must never be). The window runs over
    * the already-cut k-row answer, not the corpus. Returns
    * (doc_id, dl, bm25q, rank) in rank order.
    *
    * Routing: inside the hot budget ([[hotFits]]) the answer is
    * [[hotQuery]]'s with its positions as ranks, a local relation BOUND AT
    * CALL TIME (like [[graft.operators.Percolate.matches]]'s eager stage);
    * over budget it is the Spark plan, evaluated when an action runs. */
  def queryRanked(terms: Seq[String], k: Int): DataFrame = {
    if (k > 0 && hotFits())
      return local(TextIndex.RankedSchema, hotQuery(terms, k).zipWithIndex.map {
        case ((d, dl, s), i) => Row(d, dl, s, i + 1) })
    val aggregated = aggregatedSq(terms)
      .orderBy(desc("sq"), asc("doc_id")).limit(k)
    aggregated
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window
          .orderBy(desc("sq"), asc("doc_id"))))
      .select(col("doc_id"), col("dl"),
        round(col("sq").cast("double") / lit(Scale.toDouble), 4).as("bm25q"),
        col("rank"))
  }

  /** [[queryRanked]] for a PANEL of standing term-sets, unbounded — the
    * body [[queryRankedBatchBounded]] serves a driver panel through when
    * the MaxScore bound cannot shrink its fanout: Q probes share ONE
    * bucket+term-pruned postings scan over the UNION of their terms
    * (each posting row scores only for probes whose term set
    * contains its term — a broadcast (probe, term) pair join, bounded by
    * Σ terms), one corpus-stats/idf pass, and the per-probe top-k cut is
    * the map-side-bounded [[graft.operators.GroupedTopK.topKRows]]
    * aggregate over the quantized scores (`dl` rides as payload), so the
    * exchange carries ≤ k × probes × tasks ANSWER rows — never the
    * per-probe matching-doc volume. Ranks are INTEGER-exact positions in
    * each probe's (sq desc, doc_id asc) total order, identical to
    * [[queryRanked]] probe for probe (spec-pinned — idf, avgdl and the
    * per-posting cq are per-term quantities, so the union scan changes
    * nothing). `dfMap` is the committed-df map the floor gate already
    * collected — handed through so the pass costs no extra job. Returns
    * (probe_id, doc_id, dl, bm25q, rank) in per-probe rank order. */
  private def rankedBatchSeq(panel: Seq[(Long, Seq[String])], k: Int,
                             dfMap: Map[String, Long]): DataFrame = {
    val unionTerms = panel.flatMap(_._2).distinct
    val (n, avgdl, ts) = liveCorpusStats()
    val idf = idfMapOf(unionTerms, n, ts, Some(dfMap))
    val scored = ts match {
      case None => prunedPostingsOf(unionTerms)
      case Some(t) => prunedPostingsOf(unionTerms)
        .join(broadcast(t.select("doc_id")), Seq("doc_id"), "left_anti")
    }
    val pairs = spark.createDataFrame(
      panel.flatMap { case (pid, terms) => terms.distinct.map(t => (pid, t)) })
      .toDF("probe_id", "term")
    // negated quantized score: GroupedTopK's ascending (score, id) order
    // becomes each probe's exact (sq desc, doc_id asc) ranking order —
    // sq is a bounded integer sum, exact in double
    rankedBatchTail(
      scored.withColumn("cq", cqColumn(idf, avgdl))
        .join(broadcast(pairs), Seq("term"))
        .groupBy("probe_id", "doc_id", "dl").agg(sum(col("cq")).as("sq")),
      k)
  }

  /** The shared per-probe top-k + de-quantization tail of every batched
    * ranked route — the map-side-bounded
    * [[graft.operators.GroupedTopK.topKRows]] aggregate over a
    * (probe_id, doc_id, dl, sq) frame (≤ k × probes × tasks ANSWER rows
    * through the exchange), one copy so the driver-panel, frame-panel and
    * bounded bodies can never drift on the arithmetic their parity
    * contracts pin. */
  private def rankedBatchTail(perDocSq: DataFrame, k: Int): DataFrame =
    perDocSq
      .groupBy("probe_id")
      .agg(graft.operators.GroupedTopK.topKRows(k)(
        -col("sq").cast("double"), col("doc_id"), col("dl")).as("tk"))
      .select(col("probe_id"), posexplode(col("tk")).as(Seq("pos", "e")))
      .select(col("probe_id"), col("e.id").as("doc_id"),
        col("e.payload").as("dl"),
        round(-col("e.score") / lit(Scale.toDouble), 4).as("bm25q"),
        (col("pos") + 1).cast("int").as("rank"))

  /** [[queryRanked]] for a PANEL of standing term-sets — the keyword arm
    * of batched hybrid serving (`hybridServeIndexedBatch`), with the
    * MaxScore df-bound — the batched twin of the q_bm25_maxscore
    * discipline, so a HIGH-DF standing term cannot drag the panel's
    * postings fanout toward a corpus scan (the r12 §8.3
    * worst case: one union-term pass grew 3.6× for 5× docs on a 31-token
    * vocabulary where every term is common).
    *
    * The adaptive floor gate costs NO extra job on a driver panel: the
    * committed-df map it sums is the SAME collect the unbounded pass's
    * idf needs (handed through [[rankedBatchSeq]]), and committed df
    * dominates live df so a sub-floor verdict can only be conservative.
    * (r13 ran the gate as a separate frame df-sum job through the DF
    * wrapper: +0.9 s on the bench panel — "bench-scale panels pay ~0" is
    * now true by construction.) Above the floor it delegates to
    * [[queryRankedBatchBoundedDF]] — ONE bounding implementation serves
    * the driver panel and the frame panel, so the routes cannot drift. */
  def queryRankedBatchBounded(panel: Seq[(Long, Seq[String])], k: Int): DataFrame = {
    require(panel.nonEmpty, "queryRankedBatchBounded needs at least one probe")
    require(panel.map(_._1).distinct.length == panel.length,
      "probe ids must be unique")
    val dfMap = committedDfMapOf(panel.flatMap(_._2).distinct)
    // the gate is pure driver arithmetic over the map idf needs anyway:
    // Σ df (the fanout floor) and the df-DISPERSION prediction of what a
    // perfect θ could keep essential — a SKEWED probe (rarest term ≥
    // [[DfSkew]]× rarer than its mean) contributes its rare df, a uniform
    // one its whole fanout (θ cannot separate ~equal impact bounds).
    // Either fallback serves the plain driver-panel pass with the SAME
    // answers (spec-pinned) at zero bounding cost.
    var totalDf = 0L
    var unavoidable = 0L
    panel.foreach { case (_, terms) =>
      val dfs = terms.distinct.flatMap(dfMap.get).filter(_ > 0L)
      if (dfs.nonEmpty) {
        val pdf = dfs.sum
        val mindf = dfs.min
        totalDf += pdf
        unavoidable += (if (mindf * DfSkew * dfs.length <= pdf.toDouble) mindf else pdf)
      }
    }
    if (totalDf < boundFloor || unavoidable > EngageFrac * totalDf)
      rankedBatchSeq(panel, k, dfMap)
    else boundedBatchDF(
      // the bounded BODY, not the public frame route — the public route's
      // small-panel dispatch would bounce an engaged driver panel back
      // here forever
      spark.createDataFrame(panel).toDF("probe_id", "terms"), k)
  }

  /** The MaxScore-bounded BATCHED ranked route with the panel as a FRAME
    * — answer-identical to [[queryRanked]] probe for probe
    * (spec-pinned), ADAPTIVE: the bound engages only when
    * it can actually shrink the fanout, so the route never loses to the
    * single unbounded pass by more than the cost of asking. Nothing
    * probe-sized touches the driver.
    *
    *  0. **one gate job** (committed-df frame stats only — no sidecar
    *     read, no postings work): the absolute fanout floor, plus the
    *     df-DISPERSION prediction ([[DfSkew]]) — probes whose rarest
    *     term is not meaningfully rarer than their mean cannot be
    *     θ-pruned (uniform impact bounds) and contribute their whole
    *     fanout to the unavoidable sum; if that sum exceeds
    *     [[EngageFrac]] × the full fanout's Σ df, serve the unbounded
    *     single pass (measured: on the uniform 31-token stress
    *     vocabulary, where EXACT ranks genuinely require df-proportional
    *     work, the always-on bound ran 4-6× slower than the pass it was
    *     bounding, and the r13 optimistic max-ub gate still paid the θ
    *     seed scan before falling back — 176 vs 121 s at 100×;
    *     dispersion rejects those panels at pure gate cost).
    *  1. **θ pass** — each probe's rarest live term (max in-frame idf,
    *     ties to the first term) contributes its top-[[ThetaCap]] postings
    *     by OWN contribution, capped PER TERM (≤ |distinct rarest terms|
    *     bounded aggregates — probes picking the same rarest term share
    *     one cap), scored EXACTLY; the probe's k-th best is θ_p, a LOWER
    *     bound on the true k-th (an exactly-scored subset's k-th only
    *     under-estimates — pruning weakens, never breaks).
    *  2. **essential classification (in frames)** — per-term quantized
    *     impact bounds ub_t from the `_termstats` (max_tf, min_dl)
    *     columns (sat monotone in both, ceil'd +1 quantum); one
    *     probe-side window marks the maximal ub-ascending prefix with
    *     Σ ub < θ_p NONESSENTIAL — a doc carrying only nonessential terms
    *     scores < θ_p and cannot enter the top-k. A second df-sum check
    *     against the MEASURED essential set falls back to the unbounded
    *     pass when real θs pruned too little.
    *  3. **survivor pass** — only ESSENTIAL (probe, term) pairs fan out
    *     (through the salted [[CellRoute.keyedProbeJoin]]); survivors
    *     score exactly through candidate-bounded (probe, doc, term)
    *     TRIPLES joined on the composite (term, doc_id) key — joining
    *     postings by doc_id instead (the first r13 draft) regenerated the
    *     full per-probe fanout as the join intermediate — and cut through
    *     the shared [[rankedBatchTail]].
    *
    * A probe with no θ (fewer than k capped candidates) keeps every term
    * essential. Requires `_termstats` with the impact-bound columns (any
    * build/append/compact from this version); refuses loudly on a
    * pre-upgrade sidecar. */
  def queryRankedBatchBoundedDF(panel: DataFrame, k: Int): DataFrame =
    PanelDispatch.smallPanel(spark,
        panel.select(col("probe_id"), col("terms").cast("array<string>").as("terms"))) match {
      // driver-sized panels take the driver-gated route — identical
      // answers (both lanes pinned to per-probe queryRanked) with the gate
      // as pure driver arithmetic; an ENGAGED driver panel re-enters the
      // bounded BODY below, never this dispatch ([[PanelDispatch]])
      case Some(rows) if rows.nonEmpty =>
        PanelDispatch.requireUniqueProbes(rows)
        queryRankedBatchBounded(
          rows.map(r => (r.getLong(0), r.getSeq[String](1))).toSeq, k)
      case _ => boundedBatchDF(panel, k)
    }

  private def boundedBatchDF(panel: DataFrame, k: Int): DataFrame = {
    val scan = panelScan(panel) match {
      case None => return emptyRankedFrame()
      case Some(s) => s
    }
    // ONE gate job over the COMMITTED sidecar df (committed dominates
    // live, so every verdict here is conservative and the gate never
    // scans postings for a tombstone correction; a pre-impact-bound
    // sidecar never refuses a panel it would not have bounded anyway):
    //  - the absolute fanout floor — when the WHOLE union fanout is
    //    small, the single unbounded pass beats any bounding machinery
    //    outright (the sf0.1 bench panel paid 4× in pure asking cost
    //    before this gate);
    //  - the df-DISPERSION prediction ([[DfSkew]]) — a probe whose
    //    rarest term is not meaningfully rarer than its mean cannot be
    //    θ-pruned (uniform impact bounds), so it contributes its whole
    //    fanout to the unavoidable sum; only genuinely skewed probes
    //    contribute their rare df. A uniform panel now falls back HERE,
    //    before any sidecar read or θ seed scan (the r13 optimistic
    //    max-ub check paid the θ pass first: 176 vs 121 s at 100×).
    val gate = scan.pairs.join(scan.dfCommitted.hint("broadcast"), Seq("term"))
      .filter(col("dfc") > 0L)
      .groupBy("probe_id")
      .agg(sum(col("dfc")).as("pdf"), min(col("dfc")).as("mindf"),
        count(lit(1)).as("nt"))
      .agg(coalesce(sum(col("pdf")), lit(0L)).as("total"),
        coalesce(sum(when(
          col("mindf").cast("double") * lit(DfSkew) * col("nt").cast("double")
            <= col("pdf").cast("double"),
          col("mindf")).otherwise(col("pdf"))), lit(0L)).as("unavoidable"))
      .head()
    val totalDf = gate.getLong(0)
    if (totalDf < boundFloor || gate.getLong(1) > EngageFrac * totalDf)
      return unboundedFanout(scan, k)
    // the sidecar guard validates EVERY committed batch dir's own footer,
    // not the merged read schema (which Spark samples from one footer): a
    // mixed-generation sidecar — pre-impact-bound build + post-upgrade
    // appends — would pass a merged check yet read NULL (or worse,
    // PARTIAL: only the new batches' maxes) bounds for terms living in
    // old batches, silently under-bounding them out of the essential set
    // and dropping true top-k docs. Footer reads only — no data scan.
    val preUpgrade = StoreIO.committedBatchDirs(termstatsPath).filterNot { d =>
      val fields = spark.read.parquet(d.getPath).schema.fieldNames.toSet
      fields.contains("max_tf") && fields.contains("min_dl")
    }
    require(preUpgrade.isEmpty,
      s"TextIndex at $path has pre-impact-bound `_termstats` batches " +
        s"(${preUpgrade.map(_.getName).mkString(", ")}) — their terms " +
        "would serve NULL or non-dominating impact bounds; rebuild (or " +
        "compact) to serve the bounded batch route")
    val tsRaw = spark.read.parquet(termstatsPath)
    // per-term impact upper bound AS A FRAME: monotone merges across
    // batches (max of maxes, min of mins) dominate every posting;
    // tombstoned postings only shrink the live set, so stale bounds stay
    // valid upper bounds until compact() tightens them
    val mtf = col("mtf").cast("double")
    val satUb = (mtf * lit(K1 + 1.0)) /
      (mtf + lit(K1) * (lit(1.0 - B) + lit(B) * col("mdl").cast("double") / lit(scan.avgdl)))
    val ubDf = tsRaw.filter(col("bucket").isin(scan.buckets: _*))
      .join(scan.termsDf.hint("broadcast"), Seq("term"), "left_semi")
      .groupBy("term").agg(max(col("max_tf")).as("mtf"), min(col("min_dl")).as("mdl"))
      .join(scan.idfDf, Seq("term"))
      .select(col("term"),
        (ceil(col("idf") * satUb * lit(Scale.toDouble)).cast("long") + lit(1L)).as("ub"))
    val dfc = scan.dfCommitted
    val pairUb = scan.pairs.join(ubDf, Seq("term"))
    val scored = scan.scored.select("term", "doc_id", "dl", "cq")
    // exact Σ cq for a (probe_id, doc_id) frame — candidate-bounded
    // triples, never a df-shaped intermediate
    def exactScores(probeDocs: DataFrame): DataFrame =
      probeDocs
        .join(scan.pairs, Seq("probe_id"))
        .join(scored, Seq("term", "doc_id"))
        .groupBy("probe_id", "doc_id", "dl").agg(sum(col("cq")).as("sq"))
    // ---- 1. θ_p from the rarest terms' impact-capped prefixes
    val wR = org.apache.spark.sql.expressions.Window
      .partitionBy("probe_id").orderBy(desc("idf"), asc("term"))
    val rarestPairs = scan.pairs.join(scan.idfDf, Seq("term"))
      .withColumn("rn", row_number().over(wR))
      .filter(col("rn") === 1)
      .select("probe_id", "term")
    val termCaps = scored
      .join(rarestPairs.select("term").distinct().hint("broadcast"),
        Seq("term"), "left_semi")
      .groupBy("term")
      .agg(graft.operators.GroupedTopK.topK(math.max(k, ThetaCap))(
        -col("cq").cast("double"), col("doc_id")).as("c"))
      .select(col("term"), explode(col("c")).as("sc"))
      .select(col("term"), col("sc.id").as("doc_id"))
    val candDocs = termCaps.join(rarestPairs, Seq("term"))
      .select("probe_id", "doc_id")
    val thetaDf = exactScores(candDocs)
      .groupBy("probe_id")
      .agg(graft.operators.GroupedTopK.topK(k)(
        -col("sq").cast("double"), col("doc_id")).as("t"))
      .select(col("probe_id"), posexplode(col("t")).as(Seq("pos", "sc")))
      .filter(col("pos") === k - 1)
      .select(col("probe_id"), (-col("sc.score")).cast("long").as("theta"))
    // ---- 2. essential classification: one probe-side window over the
    // pairs (probe-frame volume, never candidates); a term with no bounds
    // row has no postings and drops harmlessly from the fanout
    val wE = org.apache.spark.sql.expressions.Window
      .partitionBy("probe_id").orderBy(asc("ub"), asc("term"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    val essStat = pairUb
      .withColumn("cum", sum(col("ub")).over(wE))
      .join(thetaDf, Seq("probe_id"), "left_outer")
      .filter(col("theta").isNull || col("cum") >= col("theta"))
      .select("probe_id", "term")
      .persist()
    // ONE action covers the salt-sizing stats AND the measured check
    // (real θs pruned too little → unbounded pass); the inner join with
    // the df frame can only drop pairs whose term has no postings, which
    // is harmless for both uses (they'd contribute nothing to either)
    val es = essStat.join(dfc.hint("broadcast"), Seq("term"))
      .agg(count(lit(1)).as("np"), count_distinct(col("term")).as("nt"),
        coalesce(sum(col("dfc")), lit(0L)).as("sdf")).head()
    if (es.getLong(2) > EngageFrac * totalDf) {
      essStat.unpersist()
      return unboundedFanout(scan, k)
    }
    // ---- 3. survivors: the ESSENTIAL-only fanout discovers every doc
    // that can still reach θ; exact triple scoring + the shared tail.
    // The route returns an EAGER answer-level checkpoint (k × probes
    // rows) — deliberately NOT a lazy frame over a survivors-level
    // checkpoint: the survivors variant was built (r14) to keep the tail
    // lazy and OOM'd a 48 GB heap on the 100× warm 256-panel — the
    // candidate-scale (probe, doc) block storage is exactly what the
    // answers-not-candidates discipline exists to avoid. Eagerness here
    // is the price of unpersisting essStat without pinning candidates.
    val survivors = CellRoute.keyedProbeJoin(
        scored.select("term", "doc_id"), essStat,
        probeRows = es.getLong(0), numKeys = math.max(1, es.getLong(1).toInt),
        key = "term", saltOn = col("doc_id"))
      .select("probe_id", "doc_id").distinct()
    try rankedBatchTail(exactScores(survivors), k).localCheckpoint()
    finally essStat.unpersist(): Unit
  }

  /** The unbounded single-pass fanout + tail over a prepared
    * [[PanelScan]] — the bounded frame route's fallback when the MaxScore
    * bound cannot shrink the fanout. Ranks are identical to
    * [[queryRanked]] probe for probe (spec-pinned, TextIndexSpec — idf on
    * this route computes in-frame via Spark's `log`, which is the same
    * StrictMath.log [[idfMapOf]] calls, so the quantized cq longs are
    * bit-equal across routes). The postings×pairs fanout routes through
    * [[CellRoute.keyedProbeJoin]] (broadcast under the ProbeJoin limit,
    * salted shuffle_hash above it — a plain shuffle join on `term`
    * collapses to ≤ |vocabulary| tasks exactly like the cell join did),
    * and the per-probe cut is the map-side
    * [[graft.operators.GroupedTopK.topKRows]] tail, ≤ k × probes × tasks
    * ANSWER rows through the exchange. */
  private def unboundedFanout(scan: PanelScan, k: Int): DataFrame = {
    val fanned = CellRoute.keyedProbeJoin(scan.scored, scan.pairs,
      probeRows = scan.pairRows, numKeys = math.max(1, scan.nTerms.toInt),
      key = "term", saltOn = col("doc_id"))
    rankedBatchTail(
      fanned.groupBy("probe_id", "doc_id", "dl").agg(sum(col("cq")).as("sq")),
      k)
  }

  /** The empty answer frame of every batched ranked route. */
  private def emptyRankedFrame(): DataFrame =
    spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      org.apache.spark.sql.types.StructType.fromDDL(
        "probe_id LONG, doc_id LONG, dl INT, bm25q DOUBLE, rank INT"))

  /** The shared HEAD of the frame-panel ranked bodies (the bounded pass
    * and its [[unboundedFanout]] fallback): the
    * duplicate-probe guard, the exploded (probe, term) pairs, the ONE
    * bounded stats pass (distinct buckets ≤ numBuckets for PARTITION
    * pruning, the vocabulary size for the salt ceiling, the pair count
    * for the broadcast-vs-salt switch), per-term LIVE idf as a frame
    * (summed committed df, tombstone ddf correction, the [[idfMapOf]]
    * arithmetic op for op through Spark's StrictMath-backed `log`), and
    * the live cq-scored pruned postings. None when the panel carries no
    * terms (serve empty). */
  private final case class PanelScan(pairs: DataFrame, termsDf: DataFrame,
      idfDf: DataFrame, dfDf: DataFrame, dfCommitted: DataFrame,
      scored: DataFrame, buckets: Seq[Long],
      nTerms: Long, pairRows: Long, n: Long, avgdl: Double)

  private def panelScan(panel: DataFrame): Option[PanelScan] = {
    require(panel.columns.contains("probe_id") && panel.columns.contains("terms"),
      "a frame panel needs (probe_id, terms) columns")
    val (n, avgdl, ts) = liveCorpusStats()
    // ONE bounded stats action over the exploded panel covers BOTH the
    // duplicate-probe guard and the bucket/vocabulary stats (the r13
    // shape paid a separate panel-agg job for the guard): posexplode_outer
    // yields exactly one pos=0 row per non-empty panel row and one
    // pos-NULL row per termless one, so counting them recovers the panel
    // row count in the SAME pass that collects the ≤ numBuckets
    // partition-pruning values and the salt-sizing counts (a
    // monotonically_increasing_id row tag does NOT work here — Spark
    // evaluates the nondeterministic id after the Generate, tagging
    // exploded rows, not panel rows)
    val bucketCol = pmod(TF.polyHash(col("term")), lit(numBuckets.toLong))
    val pairs0 = panel.select(col("probe_id"),
      posexplode_outer(array_distinct(col("terms"))).as(Seq("pos", "term")))
    val stat = pairs0.agg(
      count(when(col("pos") === 0 || col("pos").isNull, lit(1))).as("nrows"),
      count_distinct(col("probe_id")).as("nprobes"),
      collect_set(when(col("term").isNotNull, bucketCol)).as("bks"),
      count_distinct(col("term")).as("nt"),
      count(col("term")).as("np")).head()
    require(stat.getLong(0) == stat.getLong(1),
      s"panel frame has duplicate probe_id rows (${stat.getLong(0)} rows, " +
        s"${stat.getLong(1)} distinct ids) — shared terms' contributions would " +
        "silently double into one merged ranking")
    val buckets = stat.getSeq[Long](2)
    if (buckets.isEmpty) return None
    val pairs = pairs0.filter(col("term").isNotNull).select("probe_id", "term")
    val termsDf = pairs.select("term").distinct()
    val dfBase = spark.read.parquet(termstatsPath)
      .filter(col("bucket").isin(buckets: _*))
      .join(termsDf.hint("broadcast"), Seq("term"), "left_semi")
      .groupBy("term").agg(sum(col("df")).as("df"))
    val prunedScan = spark.read.parquet(postingsPath)
      .filter(col("bucket").isin(buckets: _*))
      .join(termsDf.hint("broadcast"), Seq("term"), "left_semi")
    val dfLive = ts match {
      case None => dfBase.withColumn("dfl", col("df"))
      case Some(t) =>
        val ddf = prunedScan
          .join(broadcast(t.select("doc_id")), Seq("doc_id"), "left_semi")
          .groupBy("term").agg(count(lit(1)).as("ddf"))
        dfBase.join(ddf, Seq("term"), "left_outer")
          .withColumn("dfl", col("df") - coalesce(col("ddf"), lit(0L)))
    }
    val dfDf = dfLive.select("term", "dfl")
    val idfDf = dfLive.select(col("term"),
      log((lit(n.toDouble) - col("dfl").cast("double") + lit(0.5)) /
        (col("dfl").cast("double") + lit(0.5)) + lit(1.0)).as("idf"))
    val live = ts match {
      case None => prunedScan
      case Some(t) => prunedScan
        .join(broadcast(t.select("doc_id")), Seq("doc_id"), "left_anti")
    }
    val scored = live.join(idfDf.hint("broadcast"), Seq("term"))
      .withColumn("cq", cqExpr(col("idf"), avgdl))
    Some(PanelScan(pairs, termsDf, idfDf, dfDf,
      dfBase.select(col("term"), col("df").as("dfc")), scored, buckets,
      stat.getLong(3), stat.getLong(4), n, avgdl))
  }

  /** Highlight OFFSETS for [[query]]'s top-k — the snippet stage of a
    * search UI, served from the index alone (the index stores no text;
    * offsets are what a UI fetches-and-marks with): for each ranked doc,
    * the best `window`-token span = the start maximizing the count of
    * DISTINCT query terms inside [start, start+window), ties to the
    * EARLIEST start. Returns (doc_id, dl, bm25q, start, n_terms) in
    * ranking order.
    *
    * Cost shape: the ranked ids are a k-row collect; the position read
    * prunes to the query terms' buckets AND those k doc ids (In-pushed),
    * so the window expansion is k × window × (per-doc query-term tf)
    * rows — bounded by the ANSWER, never the corpus. Duplicate postings
    * from the orphan-replay state dedupe like [[nearQuery]]. */
  def highlight(terms: Seq[String], k: Int, window: Int = 16): DataFrame = {
    require(window >= 1, "window must be at least 1")
    require(positionsEverywhere(),
      s"TextIndex at $path has batches without positional postings — rebuild to serve highlights")
    // ONE ranking execution: collect the k-row answer and join against
    // the local frame — re-using the lazy query() plan as the join side
    // would re-run the whole pruned scan + aggregation + top-k
    val rankedDf = query(terms, k)
    val rankedRows = rankedDf.collect()
    val ranked = spark.createDataFrame(
      java.util.Arrays.asList(rankedRows: _*), rankedDf.schema)
    val ids = rankedRows.map(_.getLong(0)).toSeq
    val uniq = terms.distinct
    val buckets = uniq.map(bucketOf).distinct
    val pruned = spark.read.parquet(postingsPath)
      .filter(col("bucket").isin(buckets: _*) && col("term").isin(uniq: _*) &&
        col("doc_id").isin(ids: _*))
    // no dedup pass: orphan-replay duplicate postings duplicate
    // (doc, term, p) rows, but every consumer below is duplicate-blind —
    // countDistinct(term) per (doc_id, s) counts a term once however many
    // rows vote for it — so the old .distinct() exchange bought nothing
    // (one full Exchange of the positional frame removed, guide §2.4)
    val pos = pruned
      .select(col("doc_id"), col("term"), explode(col("pos")).as("p"))
    // every window start that sees this hit; best per doc = (max distinct
    // terms, earliest start) via one aggregation + a min-struct fold
    val wins = pos
      .select(col("doc_id"), col("term"),
        explode(sequence(greatest(col("p") - window + 1, lit(0)), col("p"))).as("s"))
      .groupBy("doc_id", "s").agg(countDistinct(col("term")).as("n_terms"))
    val best = wins.groupBy("doc_id")
      .agg(min(struct((-col("n_terms")).as("neg"), col("s").as("s"))).as("b"))
      .select(col("doc_id"), col("b.s").cast("long").as("start"),
        (-col("b.neg")).cast("long").as("n_terms"))
    // inner join: a ranked doc scored, so its terms have positions here
    ranked.join(best, Seq("doc_id"))
      .orderBy(desc("bm25q"), asc("doc_id"))
  }

  /** Lucene-style prefix expansion: the index terms starting with
    * `prefix`, capped at `maxExpansions` by (df desc, term asc) —
    * MultiTermQuery's rewrite discipline made deterministic. ONE scan of
    * the VOCABULARY-bounded `_termstats` sidecar, never the postings (the
    * hash buckets can't prune on a prefix; the term dictionary can). The
    * raw summed df ranks the expansion CHOICE only — scoring recomputes
    * the exact tombstone-corrected idf per expanded term. */
  def expandPrefix(prefix: String, maxExpansions: Int = 50): Seq[String] = {
    require(prefix.nonEmpty, "prefix must be non-empty")
    require(maxExpansions > 0, "maxExpansions must be positive")
    spark.read.parquet(termstatsPath)
      .filter(col("term").startsWith(prefix))
      .groupBy("term").agg(sum(col("df")).as("df"))
      .orderBy(desc("df"), asc("term"))
      .limit(maxExpansions)
      .collect().map(_.getString(0)).toSeq
  }

  /** Ranked PREFIX search (the autocomplete box): [[query]]'s quantized
    * BM25 over the [[expandPrefix]] expansion — the multi-term OR every
    * prefix query rewrites to. The expansion scan is vocabulary-bounded;
    * the scoring scan stays bucket-pruned to the EXPANDED terms. An
    * unmatched prefix yields an empty ranked frame (served as the
    * prefix's own exact-term query, which by construction has no
    * postings either). */
  def prefixQuery(prefix: String, k: Int = 10, maxExpansions: Int = 50): DataFrame = {
    val terms = expandPrefix(prefix, maxExpansions)
    query(if (terms.isEmpty) Seq(prefix) else terms, k)
  }

  /** Ranked BOOLEAN retrieval — Lucene's MUST / SHOULD / MUST_NOT model,
    * the filter layer every search box composes with ranking:
    *   - a result doc contains EVERY `must` term and NO `mustNot` term;
    *   - docs rank by [[query]]'s exact quantized BM25 over the present
    *     `must` ++ `should` terms (the scoring terms);
    *   - with no `must` terms, matching ≥1 `should` term is implied (a
    *     doc with no scoring posting never enters the sum).
    * Same output and arithmetic as [[query]] — `booleanQuery(Nil, terms)`
    * IS `query(terms)` (spec-pinned).
    *
    * MUST-phrase clauses (the quoted segments of a search box): a result
    * doc contains every phrase EXACTLY at least once; the phrases' terms
    * join the scoring terms, so a phrase both filters and contributes.
    * NOT-phrases exclude docs containing the exact phrase — the
    * consecutive-position twin of MUST_NOT (their terms do NOT score, and
    * MAY also appear as scored terms: excluding "data stream" while
    * ranking on "stream" is a coherent ask, unlike a scored MUST_NOT
    * term). The top-k cut comes after every clause.
    *
    * Routing: inside the hot budget ([[hotFits]]) the answer comes from
    * the resident postings and positions ([[hotBoolean]]) as a local
    * relation BOUND AT CALL TIME (like [[graft.operators.Percolate.matches]]'s
    * eager stage). Over budget it is ONE bucket+term-pruned scan over all
    * three clauses' terms feeding the score sum, the MUST membership count
    * and the MUST_NOT exclusion set — every frame df-bounded by the
    * QUERIED terms (the q/numBuckets contract), every join keyed on
    * doc_id, nothing corpus-sized and nothing on the driver — evaluated
    * when an action runs. MUST semantics use countDistinct(term) == |must|
    * over the live postings, so pending deletes are honored by the same
    * anti-join as scoring. */
  def booleanQuery(must: Seq[String], should: Seq[String] = Nil,
                   mustNot: Seq[String] = Nil, k: Int = 10,
                   phrases: Seq[Seq[String]] = Nil,
                   notPhrases: Seq[Seq[String]] = Nil): DataFrame = {
    val c = new BoolClauses(must, should, mustNot, phrases, notPhrases)
    if (k > 0 && hotFits())
      return local(TextIndex.ScoredSchema,
        hotBoolean(c, k).map { case (d, dl, sc) => Row(d, dl, sc) })
    val (m, x) = (c.must, c.mustNot)
    val scoreTerms = c.scoreTerms
    val (n, avgdl, ts) = liveCorpusStats()
    val idf = idfMapOf(scoreTerms, n, ts)
    val base = ts match {
      case None => prunedPostingsOf(scoreTerms ++ x)
      case Some(t) => prunedPostingsOf(scoreTerms ++ x)
        .join(broadcast(t.select("doc_id")), Seq("doc_id"), "left_anti")
    }
    // ONE scan, ONE aggregation — the score sum over the scoring terms,
    // MUST coverage by distinct-count, and the negation bit by flag-max
    // all fold in the same (doc, dl) group, so the pruned postings read
    // really does run once (three independent subtrees would re-scan it
    // per clause)
    val agg = base
      .withColumn("cq",
        when(col("term").isin(scoreTerms: _*), cqColumn(idf, avgdl))
          .otherwise(lit(0L)))
      .groupBy("doc_id", "dl")
      .agg(sum(col("cq")).as("sq"),
        countDistinct(when(col("term").isin(m: _*), col("term"))).as("mh"),
        max(when(col("term").isin(x: _*), 1).otherwise(0)).as("xh"))
      .filter(col("mh") === m.length && col("xh") === 0)
    // each phrase constraint (semi-)joins its occurrence frame (df-bounded
    // by the phrase terms' posting volume, keyed on doc_id); negated
    // phrases anti-join the same frame
    val mustConstrained = c.phrases.foldLeft(agg)((acc, p) =>
      acc.join(phraseOccurrences(p).select("doc_id"), Seq("doc_id"), "left_semi"))
    val constrained = c.notPhrases.foldLeft(mustConstrained)((acc, p) =>
      acc.join(phraseOccurrences(p).select("doc_id"), Seq("doc_id"), "left_anti"))
    rankedTail(constrained, k)
  }

  /** [[booleanQuery]] from the classic one-line syntax: `+term` is MUST,
    * `-term` is MUST_NOT, a bare term is SHOULD, a `"quoted segment"` is
    * a MUST-phrase, and `-"quoted segment"` EXCLUDES the exact phrase
    * (`+table "data stream" -"slow scan" -hash`). Terms must already be
    * tokenizer-normalized (the index stores what
    * [[graft.functions.TextFunctions.tokens]] produced). Routed and bound
    * like [[booleanQuery]]. */
  def booleanQueryString(q: String, k: Int = 10): DataFrame = {
    // the sign binds to the quote: -"a b" EXCLUDES the phrase, +"a b" and
    // bare "a b" require it (silently treating a negated phrase as MUST —
    // the naive strip-quotes-first parse — would invert the user's intent)
    val quote = "([+-]?)\"([^\"]*)\"".r
    val signed = quote.findAllMatchIn(q)
      .map(mm => (mm.group(1),
        mm.group(2).trim.split("\\s+").filter(_.nonEmpty).toSeq))
      .filter(_._2.nonEmpty).toSeq
    val toks = quote.replaceAllIn(q, " ").trim.split("\\s+")
      .filter(t => t.nonEmpty && t != "+" && t != "-").toSeq
    booleanQuery(
      toks.filter(_.startsWith("+")).map(_.drop(1)),
      toks.filterNot(t => t.startsWith("+") || t.startsWith("-")),
      toks.filter(_.startsWith("-")).map(_.drop(1)), k,
      phrases = signed.collect { case (sign, p) if sign != "-" => p },
      notPhrases = signed.collect { case ("-", p) => p })
  }

  /** [[booleanQuery]] over term clauses only, from the resident tier —
    * the twin specs and the benchmark gate compare against. */
  private[graft] def hotBooleanQuery(must: Seq[String], should: Seq[String] = Nil,
                                     mustNot: Seq[String] = Nil,
                                     k: Int = 10): Seq[(Long, Int, Double)] =
    hotBoolean(new BoolClauses(must, should, mustNot, Nil, Nil), k)

  /** [[booleanQuery]] served from the resident tier — [[hotQuery]]'s sum
    * loop over the pre-quantized postings, restricted to docs that hold
    * every MUST term and MUST-phrase ([[phraseWalk]] over the resident
    * positions) and no MUST_NOT term or NOT-phrase; tombstoned docs are
    * excluded at load, so hot and cold answers are bit-equal
    * (spec-pinned). Zero Spark jobs warm. */
  private def hotBoolean(c: BoolClauses, k: Int): Seq[(Long, Int, Double)] = {
    val h = hotState()
    requireLive(h.total, h.n)
    if (c.phrases.nonEmpty || c.notPhrases.nonEmpty) requirePositions("phrase queries")
    def termDocs(t: String): scala.collection.mutable.HashSet[Long] = {
      val set = new scala.collection.mutable.HashSet[Long]()
      hotTerm(h, t).docIds.foreach(set.add)
      set
    }
    def phraseDocs(p: Seq[String]): scala.collection.mutable.HashSet[Long] = {
      val set = new scala.collection.mutable.HashSet[Long]()
      phraseWalk(h, p)((doc, _) => set.add(doc): Unit)
      set
    }
    val required = c.must.map(termDocs) ++ c.phrases.map(phraseDocs)
    val excluded = c.mustNot.map(termDocs) ++ c.notPhrases.map(phraseDocs)
    val sums = new scala.collection.mutable.LongMap[Long]()
    val dlOf = new scala.collection.mutable.LongMap[Int]()
    c.scoreTerms.map(t => hotTerm(h, t)).foreach { tp =>
      var i = 0
      while (i < tp.docIds.length) {
        val doc = tp.docIds(i)
        if (required.forall(_.contains(doc)) && !excluded.exists(_.contains(doc))) {
          sums(doc) = sums.getOrElse(doc, 0L) + tp.cqs(i)
          dlOf(doc) = tp.dls(i)
        }
        i += 1
      }
    }
    // bounded (score desc, doc asc) selection — [[hotQuery]]'s rationale:
    // a full sort of every candidate doc would dominate at corpus scale
    val top = new TopCounts(k)
    sums.foreach { case (doc, sq) => top.push(doc, sq) }
    top.result().map { case (doc, sq) => (doc, dlOf(doc), bm25q(sq)) }
  }

  /** A boolean query's clauses, de-duplicated and validated: empty phrase
    * words and empty phrases drop; a scored term may not also be MUST_NOT,
    * and a phrase may not be both required and excluded. */
  private final class BoolClauses(must0: Seq[String], should0: Seq[String],
      mustNot0: Seq[String], phrases0: Seq[Seq[String]], notPhrases0: Seq[Seq[String]]) {
    val must: Seq[String] = must0.distinct
    val should: Seq[String] = should0.distinct
    val mustNot: Seq[String] = mustNot0.distinct
    val phrases: Seq[Seq[String]] = phrases0.map(_.filter(_.nonEmpty)).filter(_.nonEmpty)
    val notPhrases: Seq[Seq[String]] = notPhrases0.map(_.filter(_.nonEmpty)).filter(_.nonEmpty)
    val scoreTerms: Seq[String] = (must ++ should ++ phrases.flatten).distinct
    require(must.nonEmpty || should.nonEmpty || phrases.nonEmpty,
      "boolean query needs at least one MUST or SHOULD term (or a phrase)")
    require(scoreTerms.intersect(mustNot).isEmpty,
      s"terms ${ scoreTerms.intersect(mustNot).mkString(", ") } are both scored and MUST_NOT")
    require(!notPhrases.exists(p => phrases.contains(p)),
      "a phrase cannot be both MUST and MUST_NOT")
  }
}

/** The schemas of the index's own files, each defined once next to its
  * writer in [[TextIndex]] and read back with it, so a read never runs a
  * schema-inference job; and the schemas of the hot-routed answers, equal
  * to those of the Spark routes they stand in for. Partition columns
  * (`batch`, `bucket`) are left to partition discovery. */
private[store] object TextIndex {
  import org.apache.spark.sql.types.StructType
  /** `postings/batch=N/bucket=B/` — [[TextIndex.postingFrames]]. */
  val PostingsSchema: StructType =
    StructType.fromDDL("term STRING, doc_id BIGINT, dl INT, tf BIGINT, pos ARRAY<INT>")
  /** `_termstats/batch=N/bucket=B/` — [[TextIndex.termStatsOf]]. */
  val TermStatsSchema: StructType =
    StructType.fromDDL("term STRING, df BIGINT, max_tf BIGINT, min_dl INT")
  /** `_stats/batch=N/` — one (n_docs, sum_dl) row per batch. */
  val StatsSchema: StructType = StructType.fromDDL("n_docs BIGINT, sum_dl BIGINT")

  val RankedSchema: StructType =
    StructType.fromDDL("doc_id BIGINT, dl INT, bm25q DOUBLE, rank INT")
  val ScoredSchema: StructType = StructType.fromDDL("doc_id BIGINT, dl INT, bm25q DOUBLE")
  val PhraseSchema: StructType = StructType.fromDDL("doc_id BIGINT, n_occ BIGINT")
  val NearSchema: StructType = StructType.fromDDL("doc_id BIGINT, n_pairs BIGINT")
}
