package graft

import graft.functions.{TextFunctions => TF}
import graft.queries.EventsTable
import graft.streaming.StreamOps
import graft.streaming.StreamOps.{UserEvent, UserMax}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import org.scalatest.funsuite.AnyFunSuite

class StreamingSpec extends AnyFunSuite with SparkTest {

  private def tmp(): String =
    graft.store.Scratch.dir("graft_stream")

  test("AvailableNow document ingest embeds and lands every row") {
    // file stream source wants a DIRECTORY of files
    val srcDir = tmp()
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sf0001/documents.parquet"),
      java.nio.file.Paths.get(s"$srcDir/batch0.parquet"))
    val n = spark.read.parquet(srcDir).count()
    val dest = tmp(); val ckpt = tmp()
    val q = StreamOps.ingestDocuments(spark, srcDir, dest, ckpt)
    q.awaitTermination()
    val out = spark.read.parquet(dest)
    assert(out.count() == n)
    assert(out.columns.toSeq == Seq("id", "doc", "meta", "emb"))
    assert(out.filter(size(col("emb")) =!= 64).count() == 0)
    // incremental: re-running with same checkpoint ingests nothing new...
    val q2 = StreamOps.ingestDocuments(spark, srcDir, dest, ckpt)
    q2.awaitTermination()
    assert(spark.read.parquet(dest).count() == n, "checkpoint must prevent re-ingest")
    // ...but a newly arrived file is picked up
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sf0001/documents.parquet"),
      java.nio.file.Paths.get(s"$srcDir/batch1.parquet"))
    val q3 = StreamOps.ingestDocuments(spark, srcDir, dest, ckpt)
    q3.awaitTermination()
    assert(spark.read.parquet(dest).count() == 2 * n, "new file must be ingested")
  }

  test("streaming hourly window agg equals the batch frame") {
    import spark.implicits._
    val events = EventsTable.load(spark, sf0001)
      .select(col("ts"), col("event_type"), col("value"))
    val batch = events
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("sum_value"))
      .select(col("w.start").as("win_start"), col("event_type"), col("n"), col("sum_value"))
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(java.sql.Timestamp, String, Double)]
    mem.addData(events.as[(java.sql.Timestamp, String, Double)].collect().toSeq)
    val streamed = StreamOps.hourlyEventCounts(
      mem.toDF().toDF("ts", "event_type", "value"))
    val got = StreamOps.drainToMemory(spark, streamed, "hourly_t", OutputMode.Complete())
    assert(got.count() == batch.count())
    assert(got.exceptAll(batch).isEmpty && batch.exceptAll(got).isEmpty)
  }

  test("streaming dedup drops repeated ids across micro-batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(String, java.sql.Timestamp, Double)]
    def ts(m: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 10:$m%02d:00")
    val deduped = StreamOps.dedupStream(
      mem.toDF().toDF("id", "ts", "v"), lateness = "10 minutes")
    val q = deduped.writeStream.format("memory").queryName("dedup_t")
      .outputMode(OutputMode.Append()).start()
    mem.addData(("a", ts(0), 1.0), ("b", ts(1), 2.0), ("a", ts(2), 99.0))
    q.processAllAvailable()
    mem.addData(("b", ts(3), 98.0), ("c", ts(4), 3.0))
    q.processAllAvailable()
    q.stop()
    val got = spark.table("dedup_t").select("id", "v").as[(String, Double)].collect().sorted
    assert(got.toSeq == Seq(("a", 1.0), ("b", 2.0), ("c", 3.0)),
      "first occurrence wins; later duplicates dropped across batches")
  }

  test("stream-stream interval join matches the batch join and bounds state") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def ts(m: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 10:$m%02d:00")
    // impressions (key, lts) and clicks (key, rts); click joins iff within 5 min
    val imps = Seq(("a", ts(0)), ("b", ts(10)), ("c", ts(20)))
    val clks = Seq(
      ("a", ts(3)),  // in window -> joins
      ("a", ts(9)),  // 9 > 0+5 -> dropped
      ("b", ts(10)), // boundary, inclusive -> joins
      ("d", ts(1)))  // no impression -> dropped
    val lmem = MemoryStream[(String, java.sql.Timestamp)]
    val rmem = MemoryStream[(String, java.sql.Timestamp)]
    val joined = StreamOps.intervalJoin(
      lmem.toDF().toDF("k", "lts"), rmem.toDF().toDF("k", "rts"),
      key = "k", lateness = "10 minutes", within = "5 minutes")
    val q = joined.writeStream.format("memory").queryName("ij_t")
      .outputMode(OutputMode.Append()).start()
    lmem.addData(imps); rmem.addData(clks.take(2))
    q.processAllAvailable()
    rmem.addData(clks.drop(2)) // late-arriving batch still joins
    q.processAllAvailable()
    q.stop()
    val got = spark.table("ij_t").select("k", "lts", "rts")
      .as[(String, java.sql.Timestamp, java.sql.Timestamp)].collect().sorted
    assert(got.toSeq == Seq(("a", ts(0), ts(3)), ("b", ts(10), ts(10))))
    // batch reference: identical join condition over the same data
    val batch = imps.toDF("k", "lts").join(clks.toDF("k2", "rts"),
      col("k") === col("k2") && col("rts") >= col("lts") &&
        col("rts") <= col("lts") + expr("INTERVAL 5 minutes"))
      .select("k", "lts", "rts")
      .as[(String, java.sql.Timestamp, java.sql.Timestamp)].collect().sorted
    assert(got.toSeq == batch.toSeq, "streaming interval join must equal batch")
  }

  test("dropDuplicatesWithinWatermark dedups inside the delay window only") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(String, java.sql.Timestamp, Double)]
    def ts(h: Int, m: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 $h%02d:$m%02d:00")
    val deduped = StreamOps.dedupWithinWatermark(
      mem.toDF().toDF("id", "ts", "v"), lateness = "10 minutes")
    val q = deduped.writeStream.format("memory").queryName("dedupw_t")
      .outputMode(OutputMode.Append()).start()
    // same id twice within 10 min -> one row survives
    mem.addData(("a", ts(10, 0), 1.0), ("a", ts(10, 2), 99.0), ("b", ts(10, 1), 2.0))
    q.processAllAvailable()
    // advance the watermark far past a's window, then re-emit id a: the
    // prior state has expired, so this is a NEW record (re-crawl semantics)
    mem.addData(("c", ts(12, 0), 3.0))
    q.processAllAvailable()
    mem.addData(("a", ts(12, 1), 4.0))
    q.processAllAvailable()
    q.stop()
    val got = spark.table("dedupw_t").select("id", "v").as[(String, Double)]
      .collect().sorted.toSeq
    assert(got == Seq(("a", 1.0), ("a", 4.0), ("b", 2.0), ("c", 3.0)),
      s"expected re-crawled id to survive after watermark expiry, got $got")
  }

  test("streaming ingest gate equals the batch quality/decontaminate/dedup filters") {
    import graft.functions.{TextFunctions => TF}
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
      .select(col("doc_id"), col("text")).limit(120).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    // benchmark grams from a slice of the same corpus (natural overlap),
    // padded to >100k entries (a realistic eval-suite size — the gate must
    // hold with a set far too large for a plan literal; the filler hashes
    // are synthetic so they collide with no real document)
    val realGrams: Array[Long] = spark.createDataFrame(
        docs.filter(_._1 % 19 == 0).toSeq).toDF("doc_id", "text")
      .select(explode(TF.shingleHashSet(TF.tokens(col("text")), 8)).as("g"))
      .distinct().collect().map(_.getLong(0))
    val benchGrams: Array[Long] =
      realGrams ++ Array.tabulate(100000)(i => 0x9E3779B97F4A7C15L * (i + 1))
    def ts(m: Int) = java.sql.Timestamp.valueOf(f"2026-01-01 10:$m%02d:00")
    val rows = docs.filter(_._1 % 19 != 0).zipWithIndex.map { case ((id, t), i) =>
      (id, t, ts(i % 50))
    }
    // a duplicate CONTENT row under a fresh id inside the watermark window
    val dupSource = rows.head
    val withDup = rows :+ ((99999L, dupSource._2, ts(1)))
    val mem = MemoryStream[(Long, String, java.sql.Timestamp)]
    val gated = StreamOps.filterIngest(
      mem.toDF().toDF("doc_id", "text", "ts"), benchGrams, 0.50, "10 minutes")
    val q = gated.writeStream.format("memory").queryName("gate_t")
      .outputMode(OutputMode.Append()).start()
    mem.addData(withDup.toIndexedSeq: _*)
    q.processAllAvailable()
    q.stop()
    val got = spark.table("gate_t").select("doc_id").collect().map(_.getLong(0)).toSet
    // batch equivalent on the same rows: quality gate + no bench overlap +
    // one survivor per fingerprint
    val batch = spark.createDataFrame(withDup.toSeq).toDF("doc_id", "text", "ts")
      .withColumn("toks", TF.tokens(col("text")))
      .withColumn("n_toks", size(col("toks")))
      .withColumn("quality", TF.qualityScore(col("text"), col("toks"), col("n_toks"),
        graft.queries.TextQueries.StopEn))
      .filter(col("quality") >= 0.50)
      .withColumn("g8", TF.shingleHashSet(col("toks"), 8))
      .filter(size(array_intersect(col("g8"), typedlit(benchGrams.sorted.toSeq))) === 0)
      .withColumn("fp", TF.hashCombine(TF.tokenHashes(col("toks"))))
    val batchIds = batch.select("doc_id", "fp").collect().map(r => (r.getLong(0), r.getLong(1)))
    val batchSurvivors = batchIds.groupBy(_._2).map(_._2.map(_._1).min).toSet
    // same SET of fingerprints survives; for each fingerprint exactly one id
    assert(got.size == batchSurvivors.size,
      s"stream kept ${got.size}, batch ${batchSurvivors.size}")
    val fpOf = batchIds.toMap
    assert(got.map(fpOf) == batchSurvivors.map(fpOf),
      "stream and batch must keep the same fingerprint set")
    assert(!got.contains(99999L) || !got.contains(dupSource._1),
      "only one copy of duplicated content may survive")
    assert(got.nonEmpty && got.size < withDup.length, "the gate must actually filter")
  }

  test("classifyIngest: streamed model-based quality gate equals the batch classifier") {
    import graft.functions.{TextFunctions => TF}
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def ts(m: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 10:$m%02d:00")
    val docs = spark.read.parquet(s"$sf001/documents.parquet")
      .filter(col("doc_id") < 120)
      .select(col("doc_id"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1), ts(1))).toSeq
    val mem = MemoryStream[(Long, String, java.sql.Timestamp)]
    val scored = StreamOps.classifyIngest(mem.toDF().toDF("doc_id", "text", "ts"))
    val q = scored.writeStream.format("memory").queryName("clf_t")
      .outputMode(OutputMode.Append()).start()
    mem.addData(docs.toIndexedSeq: _*)
    q.processAllAvailable()
    q.stop()
    val got = spark.table("clf_t").select("doc_id", "logit", "keep").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).sortBy(_._1).toSeq
    val m = graft.functions.QualityModel
    val batch = spark.createDataFrame(docs).toDF("doc_id", "text", "ts")
      .withColumn("logit", TF.bucketLogit(
        TF.tokenHashes(TF.tokens(col("text"))), m.Weights.toSeq, m.Bias))
      .select(col("doc_id"), col("logit"), (col("logit") > 0).cast("int").as("keep"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).sortBy(_._1).toSeq
    assert(got == batch, "stream and batch classifier must agree row for row")
    assert(got.exists(_._3 == 1) && got.exists(_._3 == 0),
      "fixture slice must exercise both classes")
  }

  test("foreachBatch incremental IVF maintenance: streamed appends == batch-built index") {
    val all = spark.read.parquet(s"$sf0001/embeddings.parquet")
      .select(col("vec_id").as("id"), col("embedding").as("emb"))
    val probe = all.filter(col("id") === 7).head().getSeq[Float](1).toArray
    // reference: index built over everything in one batch
    val refPath = tmp()
    val ref = new graft.store.IvfIndex(spark, refPath, numCells = 8)
    ref.build(all)
    // centroids TRAIN on the build input, so the full-batch reference and a
    // half-built-then-appended index legitimately differ in cell LAYOUT —
    // what must agree is the ANSWER: neighbor ids and exact distances at
    // nprobe = numCells (every cell probed)
    val want = ref.query(probe, k = 10, nprobe = 8).collect()
      .map(r => (r.getLong(0), r.getDouble(2))).toSeq
    val n = all.count()
    val half = all.filter(col("id") < n / 2)
    val incPath = tmp()
    val inc = new graft.store.IvfIndex(spark, incPath, numCells = 8)
    inc.build(half)
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Seq[Float])]
    val q = mem.toDF().toDF("id", "emb").writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, id: Long) =>
        inc.appendBatch(batch.select(col("id"), col("emb").cast("array<float>").as("emb")), id)
      }
      .option("checkpointLocation", tmp())
      .outputMode(OutputMode.Append()).start()
    val restRows = all.filter(col("id") >= n / 2)
      .as[(Long, Seq[Float])].collect().toSeq
    val (b1, b2) = restRows.splitAt(restRows.size / 2)
    mem.addData(b1); q.processAllAvailable()
    mem.addData(b2); q.processAllAvailable()
    q.stop()
    val got = inc.query(probe, k = 10, nprobe = 8).collect()
      .map(r => (r.getLong(0), r.getDouble(2))).toSeq
    assert(got == want, "incrementally-maintained index must answer like the batch build")
    // layout parity holds against a reference sharing the SAME trained
    // centroids: the streamed appends equal one batch-path append, cell for
    // cell (appendBatch assigns against the existing centroids either way)
    val ref2Path = tmp()
    val ref2 = new graft.store.IvfIndex(spark, ref2Path, numCells = 8)
    ref2.build(half)
    ref2.appendBatch(restRows.toDF("id", "emb")
      .select(col("id"), col("emb").cast("array<float>").as("emb")), 5L)
    val wantCells = ref2.query(probe, k = 10, nprobe = 8).collect().map(_.toSeq).toSeq
    val gotCells = inc.query(probe, k = 10, nprobe = 8).collect().map(_.toSeq).toSeq
    assert(gotCells == wantCells,
      "same centroids -> identical rows including cell layout")
    // exactly-once: replaying a batch (same batchId) overwrites its own
    // directory instead of duplicating rows
    val before = spark.read.parquet(s"$incPath/data").count()
    inc.appendBatch(b2.toDF("id", "emb")
      .select(col("id"), col("emb").cast("array<float>").as("emb")), 1L)
    val after = spark.read.parquet(s"$incPath/data").count()
    assert(after == before, s"batch replay must be idempotent: $before -> $after")
  }

  test("maintainIvfIndex embeds arriving docs and keeps the index queryable") {
    import graft.functions.{TextFunctions => TF}
    val docsEmb = spark.read.parquet(s"$sf0001/documents.parquet")
      .select(col("doc_id").as("id"),
        TF.hashEmbed(TF.tokens(col("text")), 64).as("emb"))
    val probe = docsEmb.filter(col("id") === 3).head().getSeq[Float](1).toArray
    val ref = new graft.store.IvfIndex(spark, tmp(), numCells = 8)
    ref.build(docsEmb)
    // answer parity at nprobe = numCells (cell layout depends on which data
    // the centroids trained over; neighbor ids + distances must not)
    val want = ref.query(probe, k = 5, nprobe = 8).collect()
      .map(r => (r.getLong(0), r.getDouble(2))).toSeq
    // half-built index + the other half arriving as a document stream
    val inc = new graft.store.IvfIndex(spark, tmp(), numCells = 8)
    inc.build(docsEmb.filter(col("id") < 25))
    val srcDir = tmp()
    spark.read.parquet(s"$sf0001/documents.parquet")
      .filter(col("doc_id") >= 25)
      .write.mode("overwrite").parquet(srcDir)
    val q = StreamOps.maintainIvfIndex(spark, srcDir, inc, tmp())
    q.awaitTermination()
    val got = inc.query(probe, k = 5, nprobe = 8).collect()
      .map(r => (r.getLong(0), r.getDouble(2))).toSeq
    assert(got == want, "stream-maintained index must answer like the batch build")
  }

  test("maintainDeletes drains a delete stream into the index; replays are idempotent") {
    import graft.functions.{TextFunctions => TF}
    val docsEmb = spark.read.parquet(s"$sf0001/documents.parquet")
      .select(col("doc_id").as("id"),
        TF.hashEmbed(TF.tokens(col("text")), 64).as("emb"))
    val idx = new graft.store.IvfIndex(spark, tmp(), numCells = 8)
    idx.build(docsEmb)
    val dead = Seq(3L, 7L)
    val probe = docsEmb.filter(col("id") === 3).head().getSeq[Float](1).toArray
    // nprobe = numCells: exact top-k, comparable against a rebuild
    val want = {
      val ref = new graft.store.IvfIndex(spark, tmp(), numCells = 8)
      ref.build(docsEmb.filter(!col("id").isin(dead: _*)))
      ref.query(probe, k = 5, nprobe = 8).collect()
        .map(r => (r.getLong(0), r.getDouble(2))).toSeq
    }
    val srcDir = tmp()
    val ckpt = tmp()
    import spark.implicits._
    dead.toDF("id").write.mode("overwrite").parquet(srcDir)
    StreamOps.maintainDeletes(spark, srcDir,
      (b, id) => idx.deleteBatch(b, id), ckpt).awaitTermination()
    def got() = idx.query(probe, k = 5, nprobe = 8).collect()
      .map(r => (r.getLong(0), r.getDouble(2))).toSeq
    assert(got() == want, "stream-deleted index must answer like a rebuild without the rows")
    // replay the whole stream from a FRESH checkpoint (the at-least-once
    // worst case): same tombstone dirs rewritten, answers unchanged
    StreamOps.maintainDeletes(spark, srcDir,
      (b, id) => idx.deleteBatch(b, id), tmp()).awaitTermination()
    assert(got() == want, "replayed delete stream must be idempotent")
    idx.compact()
    assert(got() == want, "compaction after streamed deletes must not change answers")
  }

  test("maintainGraphIndex wires arriving docs into the serving graph") {
    import graft.functions.{TextFunctions => TF, VectorFunctions => VF}
    def bucketOf(off: Int)(e: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
      (0 until 6).map { p =>
        when(VF.dot(e, typedlit(graft.queries.AnnQueries.plane(off + p))) >= 0,
          lit(1L << p)).otherwise(lit(0L))
      }.reduce(_ + _)
    val docsEmb = spark.read.parquet(s"$sf0001/documents.parquet")
      .select(col("doc_id").as("id"),
        TF.hashEmbed(TF.tokens(col("text")), 64).as("emb"))
    val idx = new graft.store.GraphIndex(spark, tmp(), 4,
      Seq(bucketOf(0) _, bucketOf(200) _), numEntries = 2)
    idx.build(docsEmb.filter(col("id") < 25), refineRounds = 0)
    val srcDir = tmp()
    spark.read.parquet(s"$sf0001/documents.parquet")
      .filter(col("doc_id") >= 25)
      .write.mode("overwrite").parquet(srcDir)
    val q = StreamOps.maintainGraphIndex(spark, srcDir, idx, tmp())
    q.awaitTermination()
    assert(idx.vectors.count() == docsEmb.count(),
      "every streamed doc must land in the index exactly once")
    val g = idx.graph.persist()
    assert(g.filter(col("src") === col("dst")).count() == 0)
    assert(g.groupBy("src").count().agg(max("count")).head().getLong(0) <= 4)
    val newIds = docsEmb.filter(col("id") >= 25).select("id")
    assert(newIds.join(g.select(col("src").as("id")).distinct(),
      Seq("id"), "left_anti").count() == 0, "every streamed doc has out-edges")
    // a streamed doc's own embedding must be servable from built entries
    val probe = docsEmb.filter(col("id") === 30).head().getSeq[Float](1).toArray
    val hit = idx.query(probe, topK = 3, beamWidth = 4, hops = 6).collect()
    assert(hit.length == 3, "stream-maintained graph must serve queries")
    g.unpersist(): Unit
  }

  test("maintainTextIndex scores streamed docs bit-identically to a full build") {
    val docs = spark.read.parquet(s"$sf0001/documents.parquet").select("doc_id", "text")
    val ref = new graft.store.TextIndex(spark, tmp(), 8)
    ref.build(docs)
    val want = ref.query(graft.queries.SearchQueries.QueryTerms, 5).collect()
      .map(r => (r.getLong(0), r.getDouble(2))).toSeq
    // half-built index + the other half arriving as a document stream
    val inc = new graft.store.TextIndex(spark, tmp(), 8)
    inc.build(docs.filter(col("doc_id") < 25))
    val srcDir = tmp()
    docs.filter(col("doc_id") >= 25).write.mode("overwrite").parquet(srcDir)
    val q = StreamOps.maintainTextIndex(spark, srcDir, inc, tmp())
    q.awaitTermination()
    val got = inc.query(graft.queries.SearchQueries.QueryTerms, 5).collect()
      .map(r => (r.getLong(0), r.getDouble(2))).toSeq
    assert(got == want, "stream-maintained text index must score like the batch build")
  }

  test("streaming session_window agg equals the batch sessionization frame") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val events = EventsTable.load(spark, sf0001)
      .select(col("ts"), col("user_id"), col("value"))
    def frame(df: org.apache.spark.sql.DataFrame) = df
      .groupBy(col("user_id"), session_window(col("ts"), "6 hours").as("w"))
      .agg(count(lit(1)).as("n_events"), round(sum("value"), 2).as("sum_value"))
      .select(col("user_id"), col("n_events"), col("sum_value"))
    val batch = frame(events)
    val mem = MemoryStream[(java.sql.Timestamp, Long, Double)]
    mem.addData(events.as[(java.sql.Timestamp, Long, Double)].collect().toSeq)
    val streamed = frame(
      mem.toDF().toDF("ts", "user_id", "value").withWatermark("ts", "12 hours"))
    val got = StreamOps.drainToMemory(spark, streamed, "sess_win_t", OutputMode.Complete())
    assert(got.count() == batch.count())
    assert(got.exceptAll(batch).isEmpty && batch.exceptAll(got).isEmpty,
      "streaming session windows must close to the same sessions as batch")
  }

  test("flatMapGroupsWithState gap sessionization closes sessions across batches") {
    import spark.implicits._
    import graft.streaming.StreamOps.{SessionSummary, TimedEvent}
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[TimedEvent]
    val gapUs = 5L * 60 * 1000000 // 5 minutes
    def us(m: Int) = m.toLong * 60 * 1000000
    val out = StreamOps.gapSessions(mem.toDS(), gapUs)
    val q = out.writeStream.format("memory").queryName("sess_t")
      .outputMode(OutputMode.Append()).start()
    // user 1: events at 0,2 then a gap to 20 (closes first session)
    mem.addData(TimedEvent(1, us(0), 1.0), TimedEvent(1, us(2), 2.0))
    q.processAllAvailable()
    mem.addData(TimedEvent(1, us(20), 5.0), TimedEvent(2, us(21), 7.0))
    q.processAllAvailable()
    // user 1's second session and user 2's first stay OPEN (in state, not emitted)
    mem.addData(TimedEvent(1, us(40), 1.0)) // closes session at 20
    q.processAllAvailable()
    q.stop()
    val got = spark.table("sess_t").as[SessionSummary].collect().sortBy(s => (s.user_id, s.start_us))
    assert(got.toSeq == Seq(
      SessionSummary(1, us(0), us(2), 2, 3.0),
      SessionSummary(1, us(20), us(20), 1, 5.0)))
  }

  test("streaming near-dup gate: verdicts equal the batch greedy policy; replays idempotent") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // 30 real docs + 5 planted twins (same text, higher id) so the gate has
    // true near-dups to reject; fed across batches in id order
    val base = spark.read.parquet(s"$sf0001/documents.parquet")
      .select(col("doc_id").cast("long"), col("text"))
      .orderBy("doc_id").limit(30).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val twins = base.take(5).map { case (id, t) => (id + 1000L, t) }
    val all = (base ++ twins).sortBy(_._1)
    val (b1, b2) = all.splitAt(18)

    val mem = MemoryStream[(Long, String)]
    val verdicts = StreamOps.nearDupBandVerdicts(mem.toDF().toDF("doc_id", "text"))
    val q = verdicts.toDF("doc_id", "band", "hit").writeStream
      .format("memory").queryName("neardup_t").outputMode(OutputMode.Append()).start()
    mem.addData(b1.toSeq)
    q.processAllAvailable()
    mem.addData(b2.toSeq)
    q.processAllAvailable()
    val firstPass = spark.table("neardup_t")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getBoolean(2))).toSet
    // every doc reported one verdict per band
    assert(firstPass.size == all.length * 3)

    // batch oracle: the q_dedup_greedy policy on the same frame
    val docsDf = all.toSeq.toDF("doc_id", "text")
    val bands = docsDf
      .select(col("doc_id"), TF.tokens(col("text")).as("toks"))
      .select(col("doc_id"), TF.shingleHashSet(col("toks"), 3).as("sh"))
      .select(col("doc_id"), posexplode(TF.minhashBandBuckets(col("sh"))).as(Seq("band", "bucket")))
    val w = org.apache.spark.sql.expressions.Window.partitionBy("band", "bucket")
    val expected = bands.withColumn("first_id", min("doc_id").over(w))
      .select(col("doc_id"), col("band"), (col("doc_id") > col("first_id")).as("hit"))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getBoolean(2))).toSet
    assert(firstPass == expected, "stream verdicts must equal the batch greedy policy")
    // the planted twins are rejected (every band collides), originals admitted
    val hitsByDoc = firstPass.groupBy(_._1).map { case (k, v) => k -> v.count(_._3) }
    twins.foreach { case (id, _) => assert(hitsByDoc(id) == 3, s"twin $id must collide on all bands") }
    base.take(5).foreach { case (id, _) => assert(hitsByDoc(id) == 0, s"original $id must be admitted") }

    // REPLAY batch 2: state minima already cover its ids -> verdicts
    // re-emitted bit-identically, nothing new invented
    mem.addData(b2.toSeq)
    q.processAllAvailable()
    q.stop()
    val afterReplay = spark.table("neardup_t")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getBoolean(2))).toSet
    assert(afterReplay == firstPass, "replayed batch must emit identical verdicts")
  }

  test("near-dup gate state TTL: idle buckets evict and a later twin is re-admitted") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val base = spark.read.parquet(s"$sf0001/documents.parquet")
      .select(col("doc_id").cast("long"), col("text"))
      .orderBy("doc_id").limit(3).collect().map(r => (r.getLong(0), r.getString(1)))
    val mem = MemoryStream[(Long, String)]
    val verdicts = StreamOps.nearDupBandVerdicts(
      mem.toDF().toDF("doc_id", "text"), Some(java.time.Duration.ofMillis(50)))
    val q = verdicts.toDF("doc_id", "band", "hit").writeStream
      .format("memory").queryName("neardup_ttl_t").outputMode(OutputMode.Append()).start()
    // NOTE: processAllAvailable never latches under ProcessingTimeTimeout
    // (armed timers keep the engine constructing batches), so this spec
    // polls the sink for the expected row count instead.
    def waitRows(n: Long): Unit = {
      val deadline = System.currentTimeMillis() + 60000
      while (spark.table("neardup_ttl_t").count() < n &&
        System.currentTimeMillis() < deadline) Thread.sleep(100)
      assert(spark.table("neardup_ttl_t").count() >= n, s"timed out waiting for $n verdict rows")
    }
    mem.addData(base.toSeq) // claims buckets, TTL clock starts
    waitRows(base.length * 3L)
    Thread.sleep(300) // let the TTL lapse; timer batches evict the buckets
    // exact twins arrive AFTER eviction: their buckets are unclaimed again
    val twins = base.map { case (id, t) => (id + 1000L, t) }
    mem.addData(twins.toSeq)
    waitRows(base.length * 6L)
    q.stop()
    val rows = spark.table("neardup_ttl_t")
      .collect().map(r => (r.getLong(0), r.getBoolean(2)))
    val twinHits = rows.filter(r => r._1 >= 1000L && r._1 < 9000L).count(_._2)
    assert(twinHits == 0,
      s"twins after TTL eviction must be re-admitted (bounded-window contract), got $twinHits hits")
  }

  test("mapGroupsWithState keeps running per-user max across micro-batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[UserEvent]
    val out = StreamOps.runningUserMax(mem.toDS())
    val q = out.writeStream.format("memory").queryName("umax_t")
      .outputMode(OutputMode.Update()).start()
    mem.addData(UserEvent(1, 5.0), UserEvent(1, 3.0), UserEvent(2, 7.0))
    q.processAllAvailable()
    mem.addData(UserEvent(1, 9.0), UserEvent(2, 1.0))
    q.processAllAvailable()
    q.stop()
    // Update mode emits one row per key per batch; last row per key wins.
    val last = spark.table("umax_t").as[UserMax].collect()
      .groupBy(_.user_id).map { case (k, v) => k -> v.last }
    assert(last(1L) == UserMax(1, 9.0, 3))
    assert(last(2L) == UserMax(2, 7.0, 2))
  }

  test("streaming token-drift counts equal the batch counts; psiOf folds both to one number") {
    import spark.implicits._
    // a shifted vocabulary: hour 0 speaks alpha/beta, hour 1 floods gamma
    def ts(h: Int, m: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 $h%02d:$m%02d:00")
    val rows = (0 until 30).map(i => (i.toLong, "alpha beta alpha", ts(0, i))) ++
      (0 until 30).map(i => (100L + i, "gamma gamma beta", ts(1, i))) ++
      Seq((999L, "omega", ts(3, 0))) // closes hour-0/1 windows past the watermark
    val refVocab = Seq("alpha", "beta", "gamma")
    val batch = rows.toDF("doc_id", "text", "ts")
      .select(col("ts"), explode(graft.functions.TextFunctions.tokens(col("text"))).as("tok"))
      .filter(col("tok").isInCollection(refVocab))
      .groupBy(window(col("ts"), "1 hour").as("w"), col("tok"))
      .agg(count(lit(1)).as("c_p"))
      .select(col("w.start").as("win_start"), col("tok"), col("c_p"))
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, String, java.sql.Timestamp)]
    mem.addData(rows)
    val streamed = StreamOps.tokenDriftCounts(
      mem.toDF().toDF("doc_id", "text", "ts"), refVocab, "1 hour", "10 minutes")
    val got = StreamOps.drainToMemory(spark, streamed, "tokdrift_t", OutputMode.Append())
    // Append mode emits CLOSED windows; compare against the batch frame
    // restricted to them — they must agree row for row
    val closed = got.select("win_start").distinct().collect().map(_.getTimestamp(0)).toSet
    val batchClosed = batch.collect().filter(r => closed.contains(r.getTimestamp(0)))
      .map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2))).toSet
    val gotSet = got.collect()
      .map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2))).toSet
    assert(closed.nonEmpty, "the watermark must have closed at least one window")
    assert(gotSet == batchClosed, "closed-window stream counts must equal batch counts")

    // the shared PSI fold flags the hour-1 window as shifted vs hour 0
    def countsOf(h: Int) = gotSet.filter(_._1 == ts(h, 0))
      .map(t => t._2 -> t._3).toMap
    val (h0, h1) = (countsOf(0), countsOf(1))
    val psiSame = StreamOps.psiOf(refVocab, h0, h0.values.sum, h0, h0.values.sum)
    val psiShift = StreamOps.psiOf(refVocab, h0, h0.values.sum, h1, h1.values.sum)
    assert(math.abs(psiSame) < 1e-12, "identical distributions must fold to PSI 0")
    assert(psiShift > 0.2, s"the gamma flood must register as drift, got $psiShift")
  }

  test("auto-maintaining stream: the ingest heals its own index under a drift flood") {
    import graft.functions.{TextFunctions => TF}
    import spark.implicits._
    def embOf(df: org.apache.spark.sql.DataFrame) =
      df.select(col("doc_id").as("id"), TF.hashEmbed(TF.tokens(col("text")), 64).as("emb"))
    val refDocs = spark.read.parquet(s"$sf001/documents.parquet")
    val idx = new graft.store.IvfIndex(spark, tmp(), numCells = 8)
    idx.build(embOf(refDocs))
    val floodDocs = (1 to 400).map { i =>
      (910000L + i, "zzcrawl botspam zzcrawl relentless botspam zzcrawl", "xx", "spam", 50L)
    }.toDF("doc_id", "text", "lang", "source", "n_chars")
    val floodSrc = tmp()
    floodDocs.write.mode("overwrite").parquet(floodSrc)
    // armed stream: after each micro-batch it checks geometry and retrains
    // on breach — no manual maintenance call anywhere below
    StreamOps.maintainIvfIndex(spark, floodSrc, idx, tmp(),
      autoMaintainEvery = 1, maxClipRate = 0.01).awaitTermination()
    val bal = idx.balance()
    assert(bal.sq8ClipRate == 0.0,
      s"the armed stream must have retrained away the flood's clipping: $bal")
    assert(idx.stats().units == 1,
      "the retrain folds the appended batch dirs")
    // answers equal a fresh rebuild over the same rows at full probe depth
    val all = embOf(refDocs).unionByName(embOf(floodDocs))
    val fresh = new graft.store.IvfIndex(spark, tmp(), numCells = 8)
    fresh.build(all)
    val probe = embOf(refDocs).filter(col("id") === 3).head().getSeq[Float](1).toArray
    def top(ix: graft.store.IvfIndex) = ix.query(probe, k = 10, nprobe = 8)
      .select("id", "distance").collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(top(idx) == top(fresh),
      "the self-maintained index must answer like a fresh rebuild")
  }

  test("auto-maintaining stream retrains a PQ index on reconstruction-error drift") {
    import graft.functions.{TextFunctions => TF}
    import spark.implicits._
    def embOf(df: org.apache.spark.sql.DataFrame) =
      df.select(col("doc_id").as("id"), TF.hashEmbed(TF.tokens(col("text")), 64).as("emb"))
    val refDocs = spark.read.parquet(s"$sf001/documents.parquet")
    val idx = new graft.store.IvfIndex(spark, tmp(), numCells = 8)
    idx.build(embOf(refDocs), codes = "pq", pqM = 8)
    val floodDocs = (1 to 400).map { i =>
      (910000L + i, "zzcrawl botspam zzcrawl relentless botspam zzcrawl", "xx", "spam", 50L)
    }.toDF("doc_id", "text", "lang", "source", "n_chars")
    val floodSrc = tmp()
    floodDocs.write.mode("overwrite").parquet(floodSrc)
    // a PQ index has no grid to clip (sq8ClipRate is identically 0.0) and
    // the flood is cell-skew-light — ONLY the reconstruction-error ratio
    // can see this drift, the blind spot the trigger wiring closes
    StreamOps.maintainIvfIndex(spark, floodSrc, idx, tmp(),
      autoMaintainEvery = 1, maxPqErrRatio = 1.5).awaitTermination()
    val bal = idx.balance()
    assert(idx.stats().units == 1,
      s"the armed stream must have retrained on the PQ drift breach: $bal")
    assert(bal.pqErrRatio < 1.5,
      s"post-retrain codebooks re-fit the live rows: $bal")
    // answers equal a fresh rebuild over the same rows at full probe depth
    val all = embOf(refDocs).unionByName(embOf(floodDocs))
    val fresh = new graft.store.IvfIndex(spark, tmp(), numCells = 8)
    fresh.build(all, codes = "pq", pqM = 8)
    val probe = embOf(refDocs).filter(col("id") === 3).head().getSeq[Float](1).toArray
    def top(ix: graft.store.IvfIndex) = ix.query(probe, k = 10, nprobe = 8)
      .select("id", "distance").collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(top(idx) == top(fresh),
      "the self-maintained PQ index must answer like a fresh rebuild")
  }

  test("monitor-to-maintenance loop: a streamed vocabulary shift fires PSI and drives the retrain") {
    import graft.functions.{TextFunctions => TF}
    import spark.implicits._
    def embOf(df: org.apache.spark.sql.DataFrame) =
      df.select(col("doc_id").as("id"), TF.hashEmbed(TF.tokens(col("text")), 64).as("emb"))
    def tokCounts(df: org.apache.spark.sql.DataFrame): (Map[String, Long], Long) = {
      val rows = df.select(explode(TF.tokens(col("text"))).as("tok"))
        .groupBy("tok").agg(count(lit(1)).as("c")).collect()
        .map(r => r.getString(0) -> r.getLong(1))
      (rows.toMap, rows.map(_._2).sum)
    }
    // the "last good snapshot" side: fixture docs build the index and
    // freeze the reference vocabulary (top-200, the q_token_drift rule)
    val refDocs = spark.read.parquet(s"$sf001/documents.parquet")
    val idx = new graft.store.IvfIndex(spark, tmp(), numCells = 8)
    idx.build(embOf(refDocs))
    assert(idx.balance().sq8ClipRate == 0.0)
    val (refCounts, refTotal) = tokCounts(refDocs)
    val refVocab = refCounts.toSeq.sortBy { case (t, c) => (-c, t) }.take(200).map(_._1)

    // CONTROL: a clean slice streamed in must NOT fire the trigger
    val cleanSrc = tmp()
    refDocs.filter(col("doc_id") % 7 === 3).write.mode("overwrite").parquet(cleanSrc)
    StreamOps.maintainIvfIndex(spark, cleanSrc, idx, tmp()).awaitTermination()
    val (cleanCounts, cleanTotal) =
      tokCounts(refDocs.filter(col("doc_id") % 7 === 3))
    val (psiClean, firedClean) = StreamOps.psiTriggeredMaintenance(
      refVocab, refCounts, refTotal, cleanCounts, cleanTotal, threshold = 0.25)(
      fail("a clean slice must not trigger maintenance"))
    assert(!firedClean && psiClean < 0.05, s"control PSI should be ~0, got $psiClean")

    // PLANTED SHIFT: a crawler-gone-wrong flood — new vocabulary, so the
    // hash embeddings concentrate in new directions (the embedding shift
    // rides the vocabulary shift)
    val floodDocs = (1 to 400).map { i =>
      (900000L + i, "zzcrawl botspam zzcrawl relentless botspam zzcrawl", "xx", "spam", 50L)
    }.toDF("doc_id", "text", "lang", "source", "n_chars")
    val floodSrc = tmp()
    floodDocs.write.mode("overwrite").parquet(floodSrc)
    StreamOps.maintainIvfIndex(spark, floodSrc, idx, tmp()).awaitTermination()

    // both monitors register the shift: token PSI over the frozen
    // vocabulary, and the embedding mean-shift (the q_embedding_drift
    // statistic) on the worst dimension
    val (floodCounts, floodTotal) = tokCounts(floodDocs)
    val balShift = idx.balance()
    val maxDrift = embOf(refDocs).withColumn("side", lit(1))
      .unionByName(embOf(floodDocs).withColumn("side", lit(0)))
      .select(col("side"), posexplode(col("emb")).as(Seq("d", "x")))
      .groupBy("d").agg(
        avg(when(col("side") === 1, col("x").cast("double"))).as("m_r"),
        stddev_pop(when(col("side") === 1, col("x").cast("double"))).as("s_r"),
        avg(when(col("side") === 0, col("x").cast("double"))).as("m_p"))
      .select(max(abs(col("m_p") - col("m_r")) / (col("s_r") + lit(1e-9))))
      .head().getDouble(0)
    assert(maxDrift > 3.0, s"embedding monitor must flag the shift, got z=$maxDrift")

    // the trigger drives the retrain; geometry repairs, answers preserved
    val probe = embOf(refDocs).filter(col("id") === 3).head().getSeq[Float](1).toArray
    def full() = idx.query(probe, k = 10, nprobe = 8)
      .select("id", "distance").collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val before = full()
    val (psiShifted, fired) = StreamOps.psiTriggeredMaintenance(
      refVocab, refCounts, refTotal, floodCounts, floodTotal, threshold = 0.25)(
      idx.retrain())
    assert(fired && psiShifted > 0.25, s"flood PSI must fire the trigger, got $psiShifted")
    val balAfter = idx.balance()
    assert(balAfter.sq8ClipRate == 0.0 && balAfter.liveRows == balShift.liveRows,
      s"retrain must re-freeze the grid over the live rows: $balAfter")
    assert(balAfter.maxOverMean <= balShift.maxOverMean,
      s"retrain must not worsen skew: ${balShift.maxOverMean} -> ${balAfter.maxOverMean}")
    assert(full() == before, "full-depth answers must be preserved across the loop")
  }

  test("decontaminateIngest drops near-benchmark rows; stream output equals the batch filter") {
    import graft.functions.{TextFunctions => TF}
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
    // benchmark index: the first 20 docs' embeddings
    val bench = docs.filter(col("doc_id") < 20)
      .select(col("doc_id").as("id"), TF.hashEmbed(TF.tokens(col("text")), 64).as("emb"))
    val idx = new graft.store.IvfIndex(spark, tmp(), numCells = 4)
    idx.build(bench)
    // ingest: clean docs plus REPLAYED benchmark texts under fresh ids —
    // exact leakage, distance 0 in embedding space regardless of id
    val leak = docs.filter(col("doc_id") < 10)
      .withColumn("doc_id", col("doc_id") + 100000L)
    val src = docs.filter(col("doc_id") >= 20).unionByName(leak)
    val srcDir = tmp(); val outDir = tmp()
    src.write.mode("overwrite").parquet(srcDir)
    StreamOps.decontaminateIngest(spark, srcDir, idx, radius = 0.5, outDir, tmp())
      .awaitTermination()
    val got = spark.read.parquet(outDir)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    // batch reference: the same anti-filter in one shot
    val want = idx.exceptNear(
        src.withColumn("qe", TF.hashEmbed(TF.tokens(col("text")), 64)),
        radius = 0.5, idCol = "doc_id")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(got == want, "stream output must equal the batch decontamination filter")
    assert(got.forall(_ < 100000L), "every leaked row must be dropped")
    assert(got.nonEmpty, "clean rows must survive")
  }

  test("percolate: standing profiles alert on arriving docs; stream equals batch; replay idempotent") {
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
    val profiles = graft.queries.SearchQueries.percProfilesDf(spark)
    val srcDir = tmp(); val outDir = tmp(); val ckpt = tmp()
    docs.write.mode("overwrite").parquet(srcDir)
    StreamOps.percolate(spark, srcDir, profiles, outDir, ckpt).awaitTermination()
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_id", "profile_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val got = pairs(spark.read.parquet(outDir))
    val want = pairs(graft.operators.Percolate.matches(
      docs.select("doc_id", "text"), profiles))
    assert(got == want, "streamed alerts must equal the batch percolation")
    assert(want.nonEmpty && want.map(_._2).size > 1,
      "the fixture profiles must actually fire")
    // a replayed micro-batch rewrites its own batch dir — identical output
    val dirs = new java.io.File(outDir).listFiles().filter(_.getName.startsWith("batch="))
    assert(dirs.nonEmpty)
    StreamOps.percolate(spark, srcDir, profiles, outDir, tmp()) // fresh checkpoint = full replay
      .awaitTermination()
    assert(pairs(spark.read.parquet(outDir)) == want, "replay must be idempotent")
    // pure-negation profiles are rejected loudly
    import spark.implicits._
    val bad = Seq((9L, Seq.empty[String], Seq.empty[String], Seq("the")))
      .toDF("profile_id", "must", "any", "must_not")
    intercept[IllegalArgumentException](
      graft.operators.Percolate.matches(docs.select("doc_id", "text"), bad).collect())
    // a duplicated MUST term must not demand two distinct matches (the
    // oracle's list_has_all semantics) — dup and deduped twins fire on
    // the SAME docs
    val dup = Seq(
      (7L, Seq("table", "table"), Seq.empty[String], Seq.empty[String]),
      (8L, Seq("table"), Seq.empty[String], Seq.empty[String]))
      .toDF("profile_id", "must", "any", "must_not")
    val dupPairs = pairs(graft.operators.Percolate.matches(
      docs.select("doc_id", "text"), dup))
    val via7 = dupPairs.collect { case (d, 7L) => d }
    val via8 = dupPairs.collect { case (d, 8L) => d }
    assert(via7.nonEmpty && via7 == via8,
      "a duplicated MUST term must match exactly like its deduped twin")
    // NULL clause arrays (a parquet-loaded registry) normalize to empty:
    // a NULL-must any-only profile FIRES like its empty-must twin, and a
    // NULL-positive pure-negation profile is still rejected
    val nullMust = Seq(
      (11L, null.asInstanceOf[Seq[String]], Seq("vector"), Seq.empty[String]),
      (12L, Seq.empty[String], Seq("vector"), Seq.empty[String]))
      .toDF("profile_id", "must", "any", "must_not")
    val nm = pairs(graft.operators.Percolate.matches(
      docs.select("doc_id", "text"), nullMust))
    assert(nm.collect { case (d, 11L) => d } == nm.collect { case (d, 12L) => d },
      "a NULL must array must behave exactly like an empty one")
    assert(nm.exists(_._2 == 11L), "the NULL-must profile must fire")
    val nullPos = Seq(
      (13L, null.asInstanceOf[Seq[String]], null.asInstanceOf[Seq[String]], Seq("the")))
      .toDF("profile_id", "must", "any", "must_not")
    intercept[IllegalArgumentException](
      graft.operators.Percolate.matches(docs.select("doc_id", "text"), nullPos))
    // two rows sharing a profile_id would MERGE their clause terms in the
    // (doc, profile) aggregation — wrong alert pairs with no error — so
    // registration rejects the registry loudly
    val dupId = Seq(
      (21L, Seq("table"), Seq.empty[String], Seq.empty[String]),
      (21L, Seq("scan"), Seq.empty[String], Seq.empty[String]))
      .toDF("profile_id", "must", "any", "must_not")
    val e = intercept[IllegalArgumentException](
      graft.operators.Percolate.matches(docs.select("doc_id", "text"), dupId))
    assert(e.getMessage.contains("unique"), e.getMessage)
    assert(!e.getMessage.contains("NULL"), e.getMessage)
    // a NULL profile_id gets its own refusal naming it — countDistinct
    // skips NULLs, so it must not read as a duplicate
    val nullId = Seq(
      (Option(22L), Seq("table"), Seq.empty[String], Seq.empty[String]),
      (Option.empty[Long], Seq("scan"), Seq.empty[String], Seq.empty[String]))
      .toDF("profile_id", "must", "any", "must_not")
    val en = intercept[IllegalArgumentException](
      graft.operators.Percolate.matches(docs.select("doc_id", "text"), nullId))
    assert(en.getMessage.contains("NULL") && !en.getMessage.contains("unique"),
      en.getMessage)
  }

  test("percolate with phrase clauses: stream equals batch; phrase semantics pinned") {
    import spark.implicits._
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
    val profiles = graft.queries.SearchQueries.percPhraseProfilesDf(spark)
    val srcDir = tmp(); val outDir = tmp(); val ckpt = tmp()
    docs.write.mode("overwrite").parquet(srcDir)
    StreamOps.percolate(spark, srcDir, profiles, outDir, ckpt).awaitTermination()
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_id", "profile_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val got = pairs(spark.read.parquet(outDir))
    val want = pairs(graft.operators.Percolate.matches(
      docs.select("doc_id", "text"), profiles))
    assert(got == want, "streamed phrase alerts must equal the batch percolation")
    assert(want.exists(_._2 == 3L), "the pure-phrase multi-phrase profile must fire")
    assert(want.exists(_._2 == 4L), "the phrase-less profile coexists in the registry")
    // phrase ORDER matters: a doc holding both words non-consecutively
    // must not fire — pin with a tiny synthetic corpus
    val tiny = Seq(
      (1L, "the vector table hash join"), // consecutive "table hash" + must 'vector'
      (2L, "the vector hash of a table"), // both words, never consecutive
      (3L, "table hash again"), // phrase yes, must 'vector' missing
      (4L, "")).toDF("doc_id", "text")
    val ph = Seq((9L, Seq("vector"), Seq.empty[String], Seq.empty[String],
      Seq(Seq("table", "hash"))))
      .toDF("profile_id", "must", "any", "must_not", "phrases")
    assert(pairs(graft.operators.Percolate.matches(tiny, ph)) == Set((1L, 9L)),
      "only the consecutive occurrence satisfies a phrase clause")
    // a repeated-term phrase demands BOTH slots covered per occurrence
    val rep = Seq((11L, Seq.empty[String], Seq.empty[String], Seq.empty[String],
      Seq(Seq("the", "table", "the"))))
      .toDF("profile_id", "must", "any", "must_not", "phrases")
    val repDocs = Seq(
      (1L, "the table the end"), // exact occurrence
      (2L, "the table and the")).toDF("doc_id", "text") // slots never align
    assert(pairs(graft.operators.Percolate.matches(repDocs, rep)) == Set((1L, 11L)))
    // a pure-negation profile stays rejected even with the phrases column
    val bad = Seq((12L, Seq.empty[String], Seq.empty[String], Seq("the"),
      Seq.empty[Seq[String]]))
      .toDF("profile_id", "must", "any", "must_not", "phrases")
    intercept[IllegalArgumentException](
      graft.operators.Percolate.matches(tiny, bad))
    // an EMPTY phrase (no terms) is a contradiction-free never-matcher: reject
    val empty = Seq((13L, Seq("table"), Seq.empty[String], Seq.empty[String],
      Seq(Seq.empty[String])))
      .toDF("profile_id", "must", "any", "must_not", "phrases")
    intercept[IllegalArgumentException](
      graft.operators.Percolate.matches(tiny, empty))
    // a NULL INNER phrase (nullable parquet registry) normalizes to an
    // empty phrase and is rejected the same way — it would otherwise slip
    // past validation yet NULL the flattened term frame, silently
    // deadening the profile
    val nullInner = Seq((14L, Seq("table"), Seq.empty[String], Seq.empty[String],
      Seq(null.asInstanceOf[Seq[String]])))
      .toDF("profile_id", "must", "any", "must_not", "phrases")
    intercept[IllegalArgumentException](
      graft.operators.Percolate.matches(tiny, nullInner))
  }

  test("maintainChunkIndex: streamed chunk appends == batch-built chunk index; recalibration hook fires with a qualifying depth") {
    import graft.queries.SearchQueries
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
      .select("doc_id", "text")
    val (w, st, dim) =
      (SearchQueries.RagWindow, SearchQueries.RagStride, SearchQueries.EmbDim)
    def keyedChunks(d: org.apache.spark.sql.DataFrame) =
      graft.operators.Percolate.chunkEmbed(d, w, st, dim)
        .filter(graft.functions.VectorFunctions.norm(col("emb")) > 0)
        .select((shiftleft(col("doc_id"), 20) + col("chunk_id")).as("id"),
          col("emb"))
    // reference: one batch build over everything (answer parity at full
    // depth — layouts may differ since centroids train on the build input)
    val ref = new graft.store.IvfIndex(spark, tmp(), numCells = 8)
    ref.build(keyedChunks(docs))
    val probe = SearchQueries.ragProbePanel(spark).head._2
    def ans(idx: graft.store.IvfIndex) =
      idx.query(probe, k = 10, nprobe = 8).collect()
        .map(r => (r.getLong(0), r.getDouble(2))).toSeq
    val want = ans(ref)
    // incremental: build over the first half of DOCS, stream the rest in
    // two files through the real maintenance entry point
    val inc = new graft.store.IvfIndex(spark, tmp(), numCells = 8)
    inc.build(keyedChunks(docs.filter(col("doc_id") % 2 === 0)))
    val srcDir = tmp()
    val rest = docs.filter(col("doc_id") % 2 =!= 0)
    rest.filter(col("doc_id") % 4 === 1).write.mode("overwrite").parquet(srcDir)
    rest.filter(col("doc_id") % 4 === 3).write.mode("append").parquet(srcDir)
    val depths = scala.collection.mutable.ArrayBuffer.empty[Int]
    val ckpt0 = tmp()
    StreamOps.maintainChunkIndex(spark, srcDir, inc, w, st, dim, ckpt0,
      recalibrateEvery = 1, recallTarget = 1.0, calibrateK = 5,
      calibratePanel = 8, onDepth = depths += _).awaitTermination()
    assert(ans(inc) == want,
      "a streamed-maintained chunk index must answer like the batch build")
    // the recalibration hook fired, and the LAST handed depth (the one a
    // serving side would currently route with) measures at target on the
    // final index state — EARLIER depths going stale under later appends
    // is the drift the knob exists to refresh, not a bug to assert away
    assert(depths.nonEmpty, "recalibrateEvery = 1 must fire")
    val sweep = inc.calibrationSweep(inc.calibrationPanel(8), 5,
      Seq(depths.last), excludeSelf = true).collect().head
    assert(sweep.getDouble(3) >= 1.0,
      s"the final handed depth ${depths.last} must measure at the requested recall")
    // replay (fresh checkpoint, same source) is idempotent: the appends
    // land under the same batch dirs, the index serves the same answer
    StreamOps.maintainChunkIndex(spark, srcDir, inc, w, st, dim, tmp())
      .awaitTermination()
    assert(ans(inc) == want, "replayed maintenance must not duplicate rows")
    // the PER-PROBE refresh path (the q_rag_indexed serving policy):
    // genuinely NEW docs stream in, the standing probe gets fresh
    // exactDepths, and serving at the handed map stays exact against
    // brute force over the grown corpus
    val standing = Seq(1001L -> probe)
    var perProbe = Map.empty[Long, Int]
    val extra = docs.filter(col("doc_id") % 8 === 0)
      .select((col("doc_id") + 10000L).as("doc_id"), col("text"))
    // the new docs ARRIVE on the same source, and the stream RESUMES its
    // original checkpoint — batch ids stay monotone per index (two
    // independent checkpoints into one index would reuse batch dirs)
    extra.coalesce(1).write.mode("append").parquet(srcDir)
    StreamOps.maintainChunkIndex(spark, srcDir, inc, w, st, dim, ckpt0,
      recalibrateEvery = 1, standingK = 10,
      standingProbes = standing,
      onDepths = m => perProbe = m).awaitTermination()
    assert(perProbe.keySet == Set(1001L), "per-probe hook hands the standing ids")
    val served = inc.queryBatch(standing, k = 10, nprobe = 8, depthOf = perProbe)
      .collect().map(r => (r.getLong(1), r.getDouble(3))).toSeq
    val brute = keyedChunks(docs.unionByName(extra))
      .withColumn("d", graft.functions.VectorFunctions.l2Sq(col("emb"), typedlit(probe)))
      .orderBy(asc("d"), asc("id")).limit(10).collect()
      .map(r => (r.getLong(0), r.getDouble(2))).toSeq
    assert(served == brute,
      "serving at the refreshed per-probe depths must stay exact after appends")
    // the API boundary refuses a standing-probe recalibration without an
    // explicit serving k: depths exact at a DEFAULT k would silently break
    // the indexed == exact contract at the caller's real shortlist size
    intercept[IllegalArgumentException](
      StreamOps.maintainChunkIndex(spark, srcDir, inc, w, st, dim, tmp(),
        recalibrateEvery = 1, standingProbes = standing))
  }

  test("end-to-end streamed RAG serving: ingest arrives, depths refresh through the persisted policy, policy-routed serving stays exact at every checkpoint") {
    import graft.queries.SearchQueries
    val (w, st, dim) =
      (SearchQueries.RagWindow, SearchQueries.RagStride, SearchQueries.EmbDim)
    val kk = SearchQueries.RagChunkK + SearchQueries.RagCosMargin
    def keyedChunks(d: org.apache.spark.sql.DataFrame) =
      graft.operators.Percolate.chunkEmbed(d, w, st, dim)
        .filter(graft.functions.VectorFunctions.norm(col("emb")) > 0)
        .select((shiftleft(col("doc_id"), 20) + col("chunk_id")).as("id"),
          col("emb"))
    val allDocs = spark.read.parquet(s"$sf0001/documents.parquet")
      .select("doc_id", "text")
    // the EXACT arm over any doc set: ragRanked against a scratch dir
    // holding exactly those documents
    def exactOver(docs: org.apache.spark.sql.DataFrame) = {
      val d = tmp()
      docs.coalesce(1).write.mode("overwrite").parquet(s"$d/documents.parquet")
      SearchQueries.ragRanked(spark, d)
    }
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getAs[Long]("qid"), r.getAs[Int]("rank"),
        r.getAs[Long]("doc_id"), r.getAs[Long]("chunk_id"),
        r.getAs[Long]("n_chunks"), r.getAs[Double]("score"))).toSeq.sorted
    // T0: a server builds the chunk index over the initial corpus and
    // persists the standing panel's depth policy (the q_rag_indexed build)
    val initial = allDocs.filter(col("doc_id") % 2 === 0)
    val idx = new graft.store.IvfIndex(spark, tmp(), numCells = 8)
    idx.build(keyedChunks(initial))
    val probes = SearchQueries.ragProbePanel(spark)
    idx.persistDepthPolicy(probes, kk)
    assert(rows(SearchQueries.ragServePersisted(spark, idx)) ==
      rows(exactOver(initial)),
      "T0: policy-routed serving must equal the exact arm pre-ingest")
    // ingest arrives in two waves on ONE source + checkpoint; after each
    // wave the maintenance stream appends chunks AND refreshes the
    // persisted policy (write-through), so a serving process routing via
    // ragServePersisted reads FRESH depths with zero calibration jobs and
    // stays exact against the grown corpus — the production story
    val srcDir = tmp(); val ckpt = tmp()
    val waves = Seq(
      allDocs.filter(col("doc_id") % 4 === 1),
      allDocs.filter(col("doc_id") % 4 === 3))
    var landed = initial
    waves.zipWithIndex.foreach { case (wave, i) =>
      wave.coalesce(1).write.mode("append").parquet(srcDir)
      StreamOps.maintainChunkIndex(spark, srcDir, idx, w, st, dim, ckpt,
        recalibrateEvery = 1, standingProbes = probes, standingK = kk)
        .awaitTermination()
      landed = landed.unionByName(wave)
      assert(idx.depthPolicyStatus(probes, kk) == graft.store.IvfIndex.PolicyFresh,
        s"wave $i: the write-through must leave a FRESH committed policy")
      assert(rows(SearchQueries.ragServePersisted(spark, idx)) ==
        rows(exactOver(landed)),
        s"wave $i: serving during ingest must equal the exact arm over " +
          "everything landed so far")
    }
    // the final streamed state serves exactly like a POST-INGEST batch
    // rebuild (fresh index over all docs, fresh calibration) — layouts
    // differ, answers must not
    val rebuilt = new graft.store.IvfIndex(spark, tmp(), numCells = 8)
    rebuilt.build(keyedChunks(landed))
    rebuilt.persistDepthPolicy(probes, kk)
    assert(rows(SearchQueries.ragServePersisted(spark, idx)) ==
      rows(SearchQueries.ragServePersisted(spark, rebuilt)),
      "serve-during-ingest must equal the post-ingest batch rebuild")
  }

  test("chunkEmbed rejects non-positive window/stride at the API boundary") {
    import spark.implicits._
    val docs = Seq((1L, "one two three")).toDF("doc_id", "text")
    intercept[IllegalArgumentException](
      graft.operators.Percolate.chunkEmbed(docs, window = 0, stride = 4, dim = 8))
    intercept[IllegalArgumentException](
      graft.operators.Percolate.chunkEmbed(docs, window = 16, stride = 0, dim = 8))
    intercept[IllegalArgumentException](
      graft.operators.Percolate.chunkEmbed(docs, window = 16, stride = -3, dim = 8))
  }

  test("semantic percolation: stream equals batch incl. replay; dead registries rejected") {
    import graft.queries.SearchQueries
    import spark.implicits._
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
    val profiles = SearchQueries.semPercProfilesDf(spark)
    val srcDir = tmp(); val outDir = tmp(); val ckpt = tmp()
    // TWO source files so the stream sees real micro-batch boundaries
    docs.filter(col("doc_id") % 2 === 0).write.mode("overwrite").parquet(srcDir)
    docs.filter(col("doc_id") % 2 =!= 0).write.mode("append").parquet(srcDir)
    StreamOps.semanticPercolate(spark, srcDir, profiles,
      SearchQueries.RagWindow, SearchQueries.RagStride, SearchQueries.EmbDim,
      outDir, ckpt).awaitTermination()
    def alerts(df: org.apache.spark.sql.DataFrame) =
      df.select("profile_id", "doc_id", "score", "n_hits").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
        .toSet
    val got = alerts(spark.read.parquet(outDir))
    val want = alerts(graft.operators.Percolate.semanticMatches(
      docs.select("doc_id", "text"), profiles,
      SearchQueries.RagWindow, SearchQueries.RagStride, SearchQueries.EmbDim))
    assert(got == want, "streamed semantic alerts must equal the batch matcher")
    assert(want.nonEmpty && want.map(_._1).size > 1,
      "the fixture registry must fire on more than one profile")
    assert(want.forall { case (pid, _, score, n) =>
      n >= 1 && score >= SearchQueries.SemPercProfiles
        .find(_._1 == pid).get._3
    }, "every alert's max score must clear its own profile's theta")
    // a replayed stream (fresh checkpoint, same source) rewrites the same
    // batch-keyed dirs — identical alert set
    StreamOps.semanticPercolate(spark, srcDir, profiles,
      SearchQueries.RagWindow, SearchQueries.RagStride, SearchQueries.EmbDim,
      outDir, tmp()).awaitTermination()
    assert(alerts(spark.read.parquet(outDir)) == want, "replay must be idempotent")
    // dead registries are rejected loudly at registration
    val zero = Seq((9L, Array.fill(4)(0f).toSeq, 0.5)).toDF("profile_id", "pe", "theta")
    intercept[IllegalArgumentException](
      graft.operators.Percolate.semanticMatches(
        docs.select("doc_id", "text"), zero, 8, 4, 4))
    val badTheta = Seq((9L, Seq(1f, 0f), 1.5)).toDF("profile_id", "pe", "theta")
    intercept[IllegalArgumentException](
      graft.operators.Percolate.semanticMatches(
        docs.select("doc_id", "text"), badTheta, 8, 4, 2))
    val dup = Seq((9L, Seq(1f, 0f), 0.5), (9L, Seq(0f, 1f), 0.5))
      .toDF("profile_id", "pe", "theta")
    intercept[IllegalArgumentException](
      graft.operators.Percolate.semanticMatches(
        docs.select("doc_id", "text"), dup, 8, 4, 2))
  }
}
