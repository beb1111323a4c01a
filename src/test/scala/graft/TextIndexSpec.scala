package graft

import graft.queries.{Registry, SearchQueries}
import graft.store.TextIndex
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Disk inverted index: bucket pruning reaches the postings scan, results
  * agree with the in-memory BM25 scorer, and degenerate queries behave. */
class TextIndexSpec extends AnyFunSuite with SparkTest {

  private def freshIndex(buckets: Int = 8): TextIndex = {
    val base = graft.store.Scratch.dir("graft_tidx_spec")
    val idx = new TextIndex(spark, base, buckets)
    idx.build(spark.read.parquet(s"$sf001/documents.parquet").select("doc_id", "text"))
    idx
  }

  test("query is partition-pruned to the terms' buckets") {
    val idx = freshIndex()
    val hits = idx.query(SearchQueries.QueryTerms, 10)
    val plan = hits.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [bucket#") ||
      plan.contains("PartitionFilters: [isnotnull(bucket"),
      s"expected bucket partition filters in:\n$plan")
    assert(hits.count() == 10)
  }

  test("index ranking equals the in-memory BM25 scorer (quantization-tight)") {
    val idx = freshIndex()
    val got = idx.query(SearchQueries.QueryTerms, 10).collect()
    val mem = Registry.queries("q_bm25")(spark, sf001).collect()
    assert(got.map(_.getLong(0)).toSeq == mem.map(_.getLong(0)).toSeq,
      "disk index must rank exactly like the in-memory scorer")
    // quantization error bound: 4 terms x 0.5/2^20 pre-round, then both
    // sides round to 4 decimals — scores agree within one last digit
    got.zip(mem).foreach { case (g, m) =>
      assert(math.abs(g.getDouble(2) - m.getDouble(2)) <= 1.001e-4,
        s"doc ${g.getLong(0)}: quantized ${g.getDouble(2)} vs exact ${m.getDouble(2)}")
    }
  }

  test("hot serving tier: hotQuery equals the pruned-scan query; mutations invalidate it") {
    val idx = freshIndex()
    def cold(terms: Seq[String]) = idx.query(terms, 10).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getDouble(2))).toSeq
    val terms = SearchQueries.QueryTerms
    assert(idx.hotQuery(terms, 10) == cold(terms), "hot must equal cold (first load)")
    assert(idx.hotQuery(terms, 10) == cold(terms), "hot must equal cold (warm)")
    val t0 = System.nanoTime()
    idx.hotQuery(terms, 10)
    assert((System.nanoTime() - t0) / 1e6 < 150.0, "warm hot query must be sub-150ms")
    // a delete corrects every stat the score depends on — hot included
    val dead = cold(terms).take(2).map(_._1)
    idx.delete(dead)
    assert(idx.hotQuery(terms, 10) == cold(terms), "hot must reload after delete")
    assert(!idx.hotQuery(terms, 10).exists(r => dead.contains(r._1)))
    idx.compact()
    assert(idx.hotQuery(terms, 10) == cold(terms), "hot must reload after compact")
    // unseen terms load lazily; absent terms score nothing
    assert(idx.hotQuery(Seq("zzz_not_in_corpus"), 5) ==
      cold(Seq("zzz_not_in_corpus")))
  }

  test("terms absent from the corpus yield an empty result, not an error") {
    val idx = freshIndex()
    assert(idx.query(Seq("zzzznotaword", "qqqqneither"), 5).collect().isEmpty)
  }

  test("single-bucket index still answers (degenerate pruning)") {
    val idx = freshIndex(buckets = 1)
    val got = idx.query(SearchQueries.QueryTerms, 10).collect()
    val mem = Registry.queries("q_bm25")(spark, sf001).collect()
    assert(got.map(_.getLong(0)).toSeq == mem.map(_.getLong(0)).toSeq)
  }

  test("phrase query: consecutive-position matches only, pruned scan, deletes/appends honored") {
    import spark.implicits._
    val base = graft.store.Scratch.dir("graft_tidx_phr")
    val idx = new TextIndex(spark, base, numBuckets = 8)
    idx.build(Seq(
      (1L, "big data engine runs big data jobs"),   // "big data" x2
      (2L, "data big engine"),                      // reversed: no match
      (3L, "big blue data"),                        // gap: no match
      (4L, "the big data"),                         // x1
      (5L, "go go go stop"),                        // repeated-term phrase fodder
      (6L, "go go")                                 // "go go go" must NOT match
    ).toDF("doc_id", "text"))

    // the Spark route's plan: inside the hot budget the entry answers from
    // the resident positions instead
    val hits = withHotBudget(1L)(idx.phraseQuery(Seq("big", "data"), 10))
    val plan = hits.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [bucket#") ||
      plan.contains("PartitionFilters: [isnotnull(bucket"),
      s"phrase probe must stay bucket-pruned:\n$plan")
    assert(hits.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq ==
      Seq((1L, 2L), (4L, 1L)),
      "exact consecutive positions only, ranked by occurrence count")
    assert(idx.phraseQuery(Seq("big", "data"), 10).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq == Seq((1L, 2L), (4L, 1L)),
      "the hot route serves the same consecutive-position answer")

    // repeated term in the phrase: every slot must be covered
    onBothRoutes(assert(idx.phraseQuery(Seq("go", "go", "go"), 10).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq == Seq((5L, 1L)),
      "'go go go' matches doc 5 once (positions 0-2), never the 2-token doc 6"))

    // a delete stops serving immediately; an appended doc joins the ranking
    idx.delete(Seq(1L))
    onBothRoutes(assert(idx.phraseQuery(Seq("big", "data"), 10).collect()
      .map(_.getLong(0)).toSeq == Seq(4L)))
    idx.appendBatch(Seq((7L, "big data big data big data")).toDF("doc_id", "text"), 1L)
    onBothRoutes(assert(idx.phraseQuery(Seq("big", "data"), 10).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq == Seq((7L, 3L), (4L, 1L)),
      "cross-batch phrase ranking: appended doc outranks by occurrence count"))
    // compact preserves positions
    idx.compact()
    onBothRoutes(assert(idx.phraseQuery(Seq("big", "data"), 10).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq == Seq((7L, 3L), (4L, 1L))))
  }

  test("proximity query: windowed position pairs only, ranked, pruned scan") {
    import spark.implicits._
    val base = graft.store.Scratch.dir("graft_tidx_near")
    val idx = new TextIndex(spark, base, numBuckets = 8)
    idx.build(Seq(
      (1L, "big gap gap gap data"),  // distance 4 > window 3: no pair
      (2L, "big gap data"),          // distance 2: one pair
      (3L, "big data big"),          // two pairs (both bigs within 3 of data)
      (4L, "data alone here")        // no co-occurrence
    ).toDF("doc_id", "text"))
    val hits = withHotBudget(1L)(idx.nearQuery("big", "data", window = 3, k = 10))
    val plan = hits.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [bucket#") ||
      plan.contains("PartitionFilters: [isnotnull(bucket"),
      s"proximity probe must stay bucket-pruned:\n$plan")
    assert(hits.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq ==
      Seq((3L, 2L), (2L, 1L)),
      "only position pairs within the window count, ranked by pair count")
    assert(idx.nearQuery("big", "data", window = 3, k = 10).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq == Seq((3L, 2L), (2L, 1L)),
      "the hot route serves the same windowed pair counts")
    idx.delete(Seq(3L))
    onBothRoutes(assert(idx.nearQuery("big", "data", window = 3, k = 10).collect()
      .map(_.getLong(0)).toSeq == Seq(2L),
      "a deleted doc stops serving immediately"))
  }

  test("hot phrase/proximity serving equals the Spark probes; mutations invalidate") {
    import spark.implicits._
    val base = graft.store.Scratch.dir("graft_tidx_hotpos")
    val idx = new TextIndex(spark, base, numBuckets = 8)
    idx.build(Seq(
      (1L, "big data engine runs big data jobs"),
      (2L, "data big engine"),
      (3L, "big blue data"),
      (4L, "the big data"),
      (5L, "go go go stop"),
      (6L, "go go")
    ).toDF("doc_id", "text"))
    def sparkPhrase(p: Seq[String]) = withHotBudget(1L)(idx.phraseQuery(p, 10).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq)
    def sparkNear(a: String, b: String, w: Int) =
      withHotBudget(1L)(idx.nearQuery(a, b, w, 10).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSeq)
    // warm and cold, incl. a repeated-term phrase
    assert(idx.hotPhraseQuery(Seq("big", "data"), 10) == sparkPhrase(Seq("big", "data")))
    assert(idx.hotPhraseQuery(Seq("big", "data"), 10) == sparkPhrase(Seq("big", "data")))
    assert(idx.hotPhraseQuery(Seq("go", "go", "go"), 10) == sparkPhrase(Seq("go", "go", "go")))
    assert(idx.hotNearQuery("big", "data", 2, 10) == sparkNear("big", "data", 2))
    assert(idx.hotNearQuery("blue", "data", 1, 10) == sparkNear("blue", "data", 1))
    // a delete invalidates the hot state; served sets stay equal
    idx.delete(Seq(1L))
    assert(idx.hotPhraseQuery(Seq("big", "data"), 10) == sparkPhrase(Seq("big", "data")))
    assert(idx.hotPhraseQuery(Seq("big", "data"), 10).map(_._1) == Seq(4L))
    // an appended doc shows up hot
    idx.appendBatch(Seq((7L, "big data big data")).toDF("doc_id", "text"), 1L)
    assert(idx.hotPhraseQuery(Seq("big", "data"), 10) == sparkPhrase(Seq("big", "data")))
    assert(idx.hotPhraseQuery(Seq("big", "data"), 10).head == ((7L, 2L)))
  }

  test("phrase query refuses a mixed-generation index instead of silently dropping old docs") {
    import spark.implicits._
    val base = graft.store.Scratch.dir("graft_tidx_mixg")
    val idx = new TextIndex(spark, base, numBuckets = 4)
    idx.build(Seq((1L, "big data engine")).toDF("doc_id", "text"))
    // simulate a PRE-positions generation: rewrite batch=0 without pos
    val b0 = new java.io.File(s"$base/postings/batch=0")
    val stage = graft.store.Scratch.dir("graft_tidx_mixg_st")
    spark.read.parquet(b0.getPath).drop("pos")
      .write.mode("overwrite").partitionBy("bucket").parquet(stage)
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rm))
      assert(f.delete() || !f.exists())
    }
    rm(b0)
    assert(new java.io.File(stage).renameTo(b0))
    // a positions-carrying append lands on top of the old generation
    idx.appendBatch(Seq((2L, "big data pipeline")).toDF("doc_id", "text"), 1L)
    // BM25 keeps working across the mixed generations...
    assert(idx.query(Seq("big", "data"), 10).count() == 2)
    // ...but the phrase probe must refuse loudly — a silent answer here
    // would contain ONLY doc 2
    val ex = intercept[IllegalArgumentException] {
      idx.phraseQuery(Seq("big", "data"), 10).collect()
    }
    assert(ex.getMessage.contains("positional postings"), ex.getMessage)
    // IN-PLACE UPGRADE: re-derive ONLY the pre-positions generation from
    // the corpus of record — phrase serving starts, scoring bit-identical
    val corpus = Seq((1L, "big data engine"), (2L, "big data pipeline"))
      .toDF("doc_id", "text")
    val scoresBefore = idx.query(Seq("big", "data"), 10).collect()
      .map(r => (r.getLong(0), r.getDouble(2))).toSeq
    assert(idx.upgradePositions(corpus) == 1, "exactly the old generation upgrades")
    assert(idx.query(Seq("big", "data"), 10).collect()
      .map(r => (r.getLong(0), r.getDouble(2))).toSeq == scoresBefore,
      "BM25 must be bit-identical across the upgrade")
    // ... and equals a fresh positional rebuild bit-for-bit
    val fresh = new TextIndex(spark,
      graft.store.Scratch.dir("graft_tidx_upg_ref"),
      numBuckets = 4)
    fresh.build(corpus)
    onBothRoutes {
      val upgraded = idx.phraseQuery(Seq("big", "data"), 10).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSeq
      assert(upgraded == fresh.phraseQuery(Seq("big", "data"), 10).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSeq,
        "upgraded index must serve phrases exactly like a fresh positional rebuild")
    }
    // idempotent: nothing left to upgrade
    assert(idx.upgradePositions(corpus) == 0)

    // a DRIFTED corpus of record refuses BEFORE publishing anything
    val base2 = graft.store.Scratch.dir("graft_tidx_upg2")
    val idx2 = new TextIndex(spark, base2, numBuckets = 4)
    idx2.build(Seq((1L, "big data engine")).toDF("doc_id", "text"))
    val b02 = new java.io.File(s"$base2/postings/batch=0")
    val stage2 = graft.store.Scratch.dir("graft_tidx_upg2_st")
    spark.read.parquet(b02.getPath).drop("pos")
      .write.mode("overwrite").partitionBy("bucket").parquet(stage2)
    rm(b02)
    assert(new java.io.File(stage2).renameTo(b02))
    val drifted = Seq((1L, "big data engine REWRITTEN since indexing"))
      .toDF("doc_id", "text")
    val ex3 = intercept[IllegalArgumentException](idx2.upgradePositions(drifted))
    assert(ex3.getMessage.contains("corpus of record"), ex3.getMessage)
    intercept[IllegalArgumentException](idx2.phraseQuery(Seq("big", "data"), 10))
    // the true text upgrades it after all
    assert(idx2.upgradePositions(
      Seq((1L, "big data engine")).toDF("doc_id", "text")) == 1)
    assert(idx2.phraseQuery(Seq("big", "data"), 10).collect()
      .map(_.getLong(0)).toSeq == Seq(1L))
  }

  test("incremental appends + compact rank exactly like one full build") {
    val docs = spark.read.parquet(s"$sf001/documents.parquet").select("doc_id", "text")
    val base = graft.store.Scratch.dir("graft_tidx_inc")
    val idx = new TextIndex(spark, base, 8)
    idx.build(docs.filter(col("doc_id") < 200))
    idx.appendBatch(docs.filter(col("doc_id") >= 200 && col("doc_id") < 400), 0L)
    idx.appendBatch(docs.filter(col("doc_id") >= 400), 1L)
    val full = freshIndex()
    val wantRows = full.query(SearchQueries.QueryTerms, 10).collect()
    val want = wantRows.map(r => (r.getLong(0), r.getDouble(2))).toSeq
    // stats (n, avgdl, df) sum exactly across batch dirs, contributions
    // are quantized integers — incremental must equal the full build
    // BIT-FOR-BIT, before and after compaction
    val gotPre = idx.query(SearchQueries.QueryTerms, 10).collect()
      .map(r => (r.getLong(0), r.getDouble(2))).toSeq
    assert(gotPre == want, "batched index must score exactly like a full build")
    idx.compact()
    val batchDirs = new java.io.File(s"$base/postings").listFiles()
      .filter(_.getName.startsWith("batch=")).map(_.getName).toSeq
    assert(batchDirs == Seq("batch=-1"), s"expected one merged generation, got $batchDirs")
    val gotPost = idx.query(SearchQueries.QueryTerms, 10).collect()
      .map(r => (r.getLong(0), r.getDouble(2))).toSeq
    assert(gotPost == want, "compaction must not change scores")
  }

  test("disk hybrid retrieval (TextIndex + IvfIndex, RRF) matches the in-memory hybrid") {
    import graft.functions.{TextFunctions => TF}
    val docs = spark.read.parquet(s"$sf001/documents.parquet")
    // keyword leg from the inverted index; quantized ranking is spec-proven
    // equal to the exact scorer, so ranks transfer
    val tidx = freshIndex()
    val kw = tidx.query(SearchQueries.QueryTerms, SearchQueries.ShortlistK)
      .collect().map(_.getLong(0)).zipWithIndex.map { case (d, i) => d -> (i + 1) }.toMap
    // semantic leg from the IVF index at nprobe = numCells (exact); unit
    // hash-embeds make L2-ascending order == cosine-descending order
    val emb = docs.select(col("doc_id").as("id"),
      TF.hashEmbed(TF.tokens(col("text")), 64).as("emb"))
    val ibase = graft.store.Scratch.dir("graft_tidx_ivf")
    val ivf = new graft.store.IvfIndex(spark, ibase, 8)
    ivf.build(emb)
    import spark.implicits._
    val qe = Seq(SearchQueries.QueryTerms.mkString(" ")).toDF("text")
      .select(TF.hashEmbed(TF.tokens(col("text")), 64).as("e"))
      .head().getSeq[Float](0).toArray
    val sem = ivf.query(qe, SearchQueries.ShortlistK, nprobe = 8)
      .collect().map(_.getLong(0)).zipWithIndex.map { case (d, i) => d -> (i + 1) }.toMap
    val rrf = (kw.keySet ++ sem.keySet).toSeq.map { d =>
      val s = kw.get(d).map(r => 1.0 / (SearchQueries.RrfK + r)).getOrElse(0.0) +
        sem.get(d).map(r => 1.0 / (SearchQueries.RrfK + r)).getOrElse(0.0)
      (d, s)
    }.sortBy { case (d, s) => (-s, d) }.take(10).map(_._1)
    val mem = Registry.queries("q_hybrid_rrf")(spark, sf001)
      .collect().map(_.getLong(0)).toSeq
    assert(rrf == mem, "disk-index hybrid must reproduce the in-memory hybrid ranking")
  }

  test("zero-token docs keep corpus stats through compaction; empty appends are no-ops") {
    import spark.implicits._
    val docs = spark.read.parquet(s"$sf001/documents.parquet").select("doc_id", "text")
      // token-less docs: empty text and punctuation-only text — these own a
      // sentinel posting so compaction's stats recompute still counts them
      .unionByName(Seq((9001L, ""), (9002L, "!!! ...")).toDF("doc_id", "text"))
    val base = graft.store.Scratch.dir("graft_tidx_zero")
    val idx = new TextIndex(spark, base, 8)
    idx.build(docs.filter(col("doc_id") < 300))
    idx.appendBatch(docs.filter(col("doc_id") >= 300), 0L)
    val pre = idx.query(SearchQueries.QueryTerms, 10).collect()
      .map(r => (r.getLong(0), r.getDouble(2))).toSeq
    idx.compact()
    val post = idx.query(SearchQueries.QueryTerms, 10).collect()
      .map(r => (r.getLong(0), r.getDouble(2))).toSeq
    assert(post == pre,
      "compaction must not change scores when the corpus has token-less docs")
    // an empty micro-batch (replay of a filtered-out trigger) must neither
    // crash the append nor perturb scores
    idx.appendBatch(docs.limit(0), 7L)
    val after = idx.query(SearchQueries.QueryTerms, 10).collect()
      .map(r => (r.getLong(0), r.getDouble(2))).toSeq
    assert(after == pre, "empty append must be a no-op")
  }

  test("replayed orphan batch heals at compaction") {
    val docs = spark.read.parquet(s"$sf001/documents.parquet").select("doc_id", "text")
    val base = graft.store.Scratch.dir("graft_tidx_orphan")
    val idx = new TextIndex(spark, base, 8)
    idx.build(docs.filter(col("doc_id") < 400))
    val tail = docs.filter(col("doc_id") >= 400)
    idx.appendBatch(tail, 0L) // the orphan: dir written, checkpoint lost
    idx.compact()             // merges the orphan
    idx.appendBatch(tail, 5L) // the replay lands in a fresh dir
    // pre-compaction reads double-count the replayed docs (documented
    // anomaly); the next compaction's (term, doc_id) dedup + stats
    // recompute must restore exact full-build scoring
    idx.compact()
    val want = freshIndex().query(SearchQueries.QueryTerms, 10).collect()
      .map(r => (r.getLong(0), r.getDouble(2))).toSeq
    val got = idx.query(SearchQueries.QueryTerms, 10).collect()
      .map(r => (r.getLong(0), r.getDouble(2))).toSeq
    assert(got == want, "orphan replay must dedup away at compaction")
  }

  test("orphan-replayed postings: phrase/NEAR stay exact and duplicate-free, hot == Spark") {
    val docs = spark.read.parquet(s"$sf001/documents.parquet").select("doc_id", "text")
    val base = graft.store.Scratch.dir("graft_tidx_orphpos")
    val idx = new TextIndex(spark, base, 8)
    idx.build(docs.filter(col("doc_id") < 400))
    val tail = docs.filter(col("doc_id") >= 400)
    idx.appendBatch(tail, 0L) // the orphan: dir written, checkpoint lost
    idx.compact()             // merges the orphan
    idx.appendBatch(tail, 5L) // the replay duplicates the tail's postings
    // PRE-heal (unlike BM25, which double-counts until the next compact):
    // both positional probes count DISTINCT positions, so the duplicated
    // postings change nothing and each doc appears exactly once
    val fresh = freshIndex()
    // the Spark probes, forced over the hot budget
    def rows(df: => org.apache.spark.sql.DataFrame) =
      withHotBudget(1L)(df.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq)
    val wantPhrase = rows(fresh.phraseQuery(SearchQueries.PhraseTerms, 10))
    val gotPhrase = rows(idx.phraseQuery(SearchQueries.PhraseTerms, 10))
    assert(gotPhrase == wantPhrase, "phrase counts must ignore replayed duplicates")
    assert(gotPhrase.map(_._1).distinct.length == gotPhrase.length,
      "no doc may rank twice")
    val (na, nb) = SearchQueries.NearTerms
    val w = SearchQueries.NearWindow
    val wantNear = rows(fresh.nearQuery(na, nb, w, 10))
    val gotNear = rows(idx.nearQuery(na, nb, w, 10))
    assert(gotNear == wantNear, "NEAR pair counts must ignore replayed duplicates")
    // the hot tier merges the duplicated lists to the distinct position
    // set at load — identical ranked answers, one row per doc
    assert(idx.hotPhraseQuery(SearchQueries.PhraseTerms, 10) == wantPhrase,
      "hot phrase must equal the Spark probe over replayed postings")
    assert(idx.hotNearQuery(na, nb, w, 10) == wantNear,
      "hot NEAR must equal the Spark probe over replayed postings")
  }

  test("highlight: best window per ranked doc equals the brute computation; doc ids push down") {
    val idx = freshIndex()
    val terms = SearchQueries.QueryTerms
    val w = 16
    val hl = idx.highlight(terms, k = 10, window = w)
    val got = hl.collect()
      .map(r => (r.getLong(0), r.getLong(3), r.getLong(4))).toSeq
    assert(got.length == 10)
    // the position read prunes to the 10 ranked ids (In-pushed) and the
    // terms' buckets
    val plan = hl.queryExecution.executedPlan.toString
    assert(plan.contains("In(doc_id") || plan.contains("in(doc_id"),
      s"highlight must push the ranked ids into the postings scan:\n$plan")
    // brute windows from the raw token arrays
    val toksOf = spark.read.parquet(s"$sf001/documents.parquet")
      .select(col("doc_id"), graft.functions.TextFunctions.tokens(col("text")).as("toks"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    got.foreach { case (doc, start, nTerms) =>
      val toks = toksOf(doc)
      def score(s: Long): Int =
        toks.slice(s.toInt, s.toInt + w).filter(terms.contains).distinct.size
      val bestN = (0L until math.max(1, toks.length).toLong).map(score).max
      assert(nTerms == bestN, s"doc $doc: window [$start) carries $nTerms, best is $bestN")
      assert(score(start) == bestN, s"doc $doc: reported start must achieve the best count")
      assert((0L until start).forall(s => score(s) < bestN),
        s"doc $doc: ties must break to the EARLIEST start")
    }
  }

  test("prefix search: df-capped expansion, tie-break, appends extend the dictionary") {
    val idx = freshIndex()
    // the corpus has 6 terms on 's'; the cap keeps the top-4 by (df desc,
    // term asc) — verify the choice against an independent df count
    val exp = idx.expandPrefix("s", maxExpansions = 4)
    assert(exp.length == 4)
    val dfOf = spark.read.parquet(s"$sf001/documents.parquet")
      .select(explode(array_distinct(
        graft.functions.TextFunctions.tokens(col("text")))).as("term"))
      .groupBy("term").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val want = dfOf.keys.filter(_.startsWith("s")).toSeq
      .sortBy(t => (-dfOf(t), t)).take(4)
    assert(exp == want, "expansion must rank by (df desc, term asc)")
    // the ranked result IS query(expansion)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getInt(1), r.getDouble(2))).toSeq
    assert(rows(idx.prefixQuery("s", 10, maxExpansions = 4)) == rows(idx.query(exp, 10)))
    // an unmatched prefix yields empty, not an error
    assert(idx.prefixQuery("zzz", 5).collect().isEmpty)
    assert(idx.expandPrefix("zzz").isEmpty)
    // an appended batch's new vocabulary joins the dictionary
    import spark.implicits._
    idx.appendBatch(Seq((900001L, "squirrel squirrel squirrel")).toDF("doc_id", "text"), 1L)
    assert(idx.expandPrefix("squi") == Seq("squirrel"))
    assert(rows(idx.prefixQuery("squi", 5)).map(_._1) == Seq(900001L))
  }

  test("boolean retrieval: MUST/SHOULD/MUST_NOT semantics equal the brute filter; parser maps") {
    val idx = freshIndex()
    val must = SearchQueries.BoolMust
    val should = SearchQueries.BoolShould
    val not = SearchQueries.BoolNot
    // membership semantics against the raw token arrays
    val toksOf = spark.read.parquet(s"$sf001/documents.parquet")
      .select(col("doc_id"), graft.functions.TextFunctions.tokens(col("text")).as("toks"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1).toSet).toMap
    // exhaustiveness + ranking: the boolean result IS query(scoreTerms)
    // over the membership-filtered corpus — brute-filter the unbounded
    // ranked list and compare row-for-row
    val scoreTerms = (must ++ should).distinct
    val expected = idx.query(scoreTerms, toksOf.size).collect()
      .filter { r =>
        val t = toksOf(r.getLong(0))
        must.forall(t.contains) && not.forall(x => !t.contains(x))
      }
      .take(10).map(r => (r.getLong(0), r.getInt(1), r.getDouble(2))).toSeq
    onBothRoutes {
      val got = idx.booleanQuery(must, should, not, 10).collect()
      assert(got.nonEmpty, "the clause terms are corpus-frequent — matches must exist")
      got.foreach { r =>
        val t = toksOf(r.getLong(0))
        assert(must.forall(t.contains), s"doc ${r.getLong(0)} misses a MUST term")
        assert(not.forall(x => !t.contains(x)), s"doc ${r.getLong(0)} carries a MUST_NOT term")
      }
      assert(got.map(r => (r.getLong(0), r.getInt(1), r.getDouble(2))).toSeq == expected,
        "boolean top-k must equal the brute membership filter over the full ranking")
      // the one-line syntax parses to the same clauses
      val parsed = idx.booleanQueryString(
        (must.map("+" + _) ++ should ++ not.map("-" + _)).mkString(" "), 10).collect()
      assert(parsed.map(_.getLong(0)).toSeq == got.map(_.getLong(0)).toSeq,
        "+/-/bare syntax must map to MUST/MUST_NOT/SHOULD")
    }
    // degenerate clauses fail loudly
    intercept[IllegalArgumentException](idx.booleanQuery(Nil, Nil, Seq("table"), 5))
    intercept[IllegalArgumentException](idx.booleanQuery(Seq("table"), Nil, Seq("table"), 5))
  }

  test("boolean phrase clause: quoted segments filter on exact positions and join the scoring") {
    val idx = freshIndex()
    val ph = SearchQueries.PhraseTerms
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getInt(1), r.getDouble(2))).toSeq
    onBothRoutes {
      val got = rows(idx.booleanQuery(Nil, Seq("vector"), Seq("slow"), 10, phrases = Seq(ph)))
      assert(got.nonEmpty, "the fixture phrase occurs — matches must exist")
      // every result contains the exact phrase: the independent phrase
      // probe's doc set is the authority
      val phraseDocs = idx.phraseQuery(ph, 100000).collect().map(_.getLong(0)).toSet
      assert(got.forall(r => phraseDocs.contains(r._1)),
        "every result must contain the exact phrase")
      // equivalence: the phrase clause IS a membership filter over the
      // phrase-less ranking with the phrase terms added to the scoring
      val expected = rows(idx.booleanQuery(Nil, (ph :+ "vector").distinct, Seq("slow"), 100000))
        .filter(r => phraseDocs.contains(r._1)).take(10)
      assert(got == expected, "phrase clause must equal filter-over-unbounded-ranking")
      // the parser maps quoted segments (incl. a dangling '+' before one)
      val viaParser = rows(idx.booleanQueryString(
        "\"" + ph.mkString(" ") + "\" vector -slow", 10))
      assert(viaParser == got, "quoted syntax must map to the phrase clause")
      // a phrase term that is also MUST_NOT is rejected
      intercept[IllegalArgumentException](
        idx.booleanQuery(Nil, Nil, Seq(ph.head), 5, phrases = Seq(ph)))
      // -"quoted" EXCLUDES the exact phrase (the naive parse would
      // silently invert it into a MUST) — excluded docs are exactly the
      // phrase docs, and the remainder ranks like a should-query minus them
      val negGot = rows(idx.booleanQueryString(
        "vector -\"" + ph.mkString(" ") + "\"", 10))
      assert(negGot.nonEmpty && negGot.forall(r => !phraseDocs.contains(r._1)),
        "a negated phrase must exclude every doc containing it")
      val negWant = rows(idx.booleanQuery(Nil, Seq("vector"), Nil, 100000))
        .filterNot(r => phraseDocs.contains(r._1)).take(10)
      assert(negGot == negWant,
        "negated-phrase ranking must equal exclusion over the unbounded ranking")
    }
    // a phrase cannot be both required and excluded
    intercept[IllegalArgumentException](
      idx.booleanQuery(Nil, Seq("vector"), Nil, 5,
        phrases = Seq(ph), notPhrases = Seq(ph)))
  }

  test("boolean retrieval: pure-SHOULD is query(); hot equals cold incl. after deletes") {
    val idx = freshIndex()
    val terms = SearchQueries.QueryTerms
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getInt(1), r.getDouble(2))).toSeq
    onBothRoutes(assert(rows(idx.booleanQuery(Nil, terms, Nil, 10)) == rows(idx.query(terms, 10)),
      "with no MUST/MUST_NOT clauses booleanQuery must BE query"))
    val must = SearchQueries.BoolMust
    val should = SearchQueries.BoolShould
    val not = SearchQueries.BoolNot
    def cold() = withHotBudget(1L)(rows(idx.booleanQuery(must, should, not, 10)))
    assert(idx.hotBooleanQuery(must, should, not, 10) == cold(),
      "hot boolean must equal the pruned-scan path (first load)")
    assert(idx.hotBooleanQuery(must, should, not, 10) == cold(), "and warm")
    // delete the top result: both paths drop it and re-rank with the
    // corrected stats (the query()/hotQuery delete discipline)
    val dead = cold().head._1
    idx.delete(Seq(dead))
    val after = cold()
    assert(!after.exists(_._1 == dead), "a tombstoned doc must leave the ranking")
    assert(idx.hotBooleanQuery(must, should, not, 10) == after,
      "hot boolean must reload after a delete")
  }

  test("all-tombstoned compacted index: positional surfaces fail diagnosably, not schema inference") {
    import spark.implicits._
    val base = graft.store.Scratch.dir("graft_tidx_purged")
    val idx = new TextIndex(spark, base, numBuckets = 4)
    idx.build(Seq((1L, "table hash scan"), (2L, "table hash merge"))
      .toDF("doc_id", "text"))
    assert(idx.phraseQuery(Seq("table", "hash"), 5).count() == 2)
    // purge EVERYTHING, then compact: the merged generation is a
    // bare-_SUCCESS dir with no parquet footer. Schema inference on it
    // would throw a raw AnalysisException; the positional surfaces must
    // instead fail with the designed rebuild require.
    idx.delete(Seq(1L, 2L))
    idx.compact()
    val ex = intercept[IllegalArgumentException](
      idx.phraseQuery(Seq("table", "hash"), 5))
    assert(ex.getMessage.contains("rebuild"), ex.getMessage)
    intercept[IllegalArgumentException](idx.nearQuery("table", "hash", 3, 5))
    intercept[IllegalArgumentException](
      idx.highlight(Seq("table"), k = 5, window = 8))
  }

  test("queryRankedBatchBoundedDF == queryRanked probe for probe: fresh, after deletes, and on the salted join route") {
    val idx = freshIndex()
    val panel: Seq[(Long, Seq[String])] = Seq(
      11L -> SearchQueries.QueryTerms,
      12L -> Seq("stream", "shuffle", "encrypt"),
      13L -> Seq("merge", "partition", "query"),
      14L -> Seq("vector", "stream")) // overlaps both 11 and 12
    val panelDf = spark.createDataFrame(panel).toDF("probe_id", "terms")
    def rows(df: org.apache.spark.sql.DataFrame): Seq[(Long, Long, Long, Double, Int)] =
      df.collect().map(r => (r.getLong(0), r.getLong(1),
        r.getAs[Number](2).longValue, r.getDouble(3), r.getInt(4)))
        .toSeq.sortBy(t => (t._1, t._5))
    // the oracle: queryRanked probe by probe, in the batch row shape
    def perProbe() = panel.flatMap { case (pid, terms) =>
      idx.queryRanked(terms, 10).collect()
        .map(r => (pid, r.getLong(0), r.getAs[Number](1).longValue,
          r.getDouble(2), r.getInt(3))).toSeq
    }.sortBy(t => (t._1, t._5))
    // at the default fanout floor this fixture panel takes the bounded
    // route's unbounded frame fallback (one postings fanout, in-frame idf)
    def dfRoute() = rows(idx.queryRankedBatchBoundedDF(panelDf, 10))
    // fresh index: the frame route's in-frame idf (Spark's StrictMath log)
    // must reproduce the driver-map idf's quantized ranking exactly
    val fresh = perProbe()
    assert(fresh.nonEmpty, "fixture sanity")
    assert(dfRoute() == fresh,
      "frame route must serve queryRanked's exact ranked answers per probe")
    // tombstones correct idf/df/stats identically on both routes
    val dead = fresh.head._2
    idx.delete(Seq(dead))
    val afterDelete = perProbe()
    assert(!afterDelete.exists(_._2 == dead))
    assert(dfRoute() == afterDelete,
      "frame route must apply the tombstone corrections queryRanked does")
    // the salted keyedProbeJoin route (pairs past the broadcast limit)
    // must be answer-identical to the broadcast route
    spark.conf.set(graft.operators.ProbeJoin.LimitKey, "1")
    try assert(dfRoute() == afterDelete,
      "salted term join must serve the broadcast route's exact answers")
    finally spark.conf.unset(graft.operators.ProbeJoin.LimitKey)
    // duplicate probe_id rows refuse loudly — duplicated (probe, term)
    // pairs would silently double shared terms' contributions
    val eDup = intercept[IllegalArgumentException](
      idx.queryRankedBatchBoundedDF(panelDf.unionByName(panelDf.limit(1)), 10).count())
    assert(eDup.getMessage.contains("duplicate probe_id"))
  }

  test("frame-panel ranked plan: answer-bounded top_k_rows tail, no candidate windows, bucket partition pruning") {
    val idx = freshIndex()
    val panelDf = spark.createDataFrame(Seq(
        (51L, Seq("vector", "merge")), (52L, Seq("stream", "scan"))))
      .toDF("probe_id", "terms")
    // at the default fanout floor the fixture panel serves through the
    // bounded route's unbounded frame fallback, whose plan stays lazy
    val plan = idx.queryRankedBatchBoundedDF(panelDf, 5)
      .queryExecution.executedPlan.toString
    // the per-probe cut is the map-side-bounded aggregate — a probe-keyed
    // window here would shuffle the full per-probe posting fanout
    assert(plan.contains("top_k_rows") && !plan.contains("Window"),
      s"frame-panel ranking must cut through top_k_rows, never a window:\n$plan")
    // the postings scan stays PARTITION-pruned to the panel's buckets
    // (the collected ≤ numBuckets values reach the scan as a static
    // partition filter, not a post-scan predicate)
    assert(plan.contains("PartitionFilters") && plan.contains("bucket"),
      s"frame-panel postings scan must partition-prune on bucket:\n$plan")
    // (the engaged bounded pass cuts through the SAME rankedBatchTail by
    // construction; its probe-side windows are panel-frame volume and its
    // returned frame is checkpointed, so the shape is pinned here via the
    // fallback rather than a second opaque plan string)
  }

  test("queryRankedBatchBounded == queryRanked probe for probe: fresh, tiny-k, k past the corpus, and after deletes") {
    // keep the BOUNDED machinery under test on the fixture corpus (the
    // production fanout floor would route everything here unbounded);
    // session-scoped conf, not a JVM global — suites sharing the JVM
    // never see it
    spark.conf.set("graft.kw.boundFloor", "0")
    try {
    val idx = freshIndex()
    val panel: Seq[(Long, Seq[String])] = Seq(
      21L -> SearchQueries.QueryTerms,
      22L -> Seq("stream", "shuffle", "encrypt"),
      23L -> Seq("merge", "partition", "query"),
      24L -> Seq("vector")) // single-term probe: rarest == only term
    def rows(df: org.apache.spark.sql.DataFrame): Seq[(Long, Long, Long, Double, Int)] =
      df.collect().map(r => (r.getLong(0), r.getLong(1),
        r.getAs[Number](2).longValue, r.getDouble(3), r.getInt(4)))
        .toSeq.sortBy(t => (t._1, t._5))
    // the oracle: queryRanked probe by probe, in the batch row shape
    def perProbe(ix: graft.store.TextIndex, pnl: Seq[(Long, Seq[String])],
                 k: Int) = pnl.flatMap { case (pid, terms) =>
      ix.queryRanked(terms, k).collect()
        .map(r => (pid, r.getLong(0), r.getAs[Number](1).longValue,
          r.getDouble(2), r.getInt(3))).toSeq
    }.sortBy(t => (t._1, t._5))
    // ranks are positions in one total order, so each smaller k's oracle
    // is a rank prefix of the k-past-the-corpus answer
    val full = perProbe(idx, panel, 100000)
    // k = 1 maximizes θ (tightest pruning) — the case most likely to
    // over-prune if a bound is wrong; k = 10 is the serving shape; a k
    // past every matching doc count disables θ (no k-th candidate) and
    // must degenerate to the exact shape
    for (k <- Seq(1, 10, 100000)) {
      val plain = full.filter(_._5 <= k)
      assert(rows(idx.queryRankedBatchBounded(panel, k)) == plain,
        s"bounded route must serve the exact ranking at k=$k")
      if (k == 10) assert(plain.nonEmpty, "fixture sanity")
    }
    // the ENGAGED path, forced: a corpus where one query term is rare and
    // the rest blanket every doc — the adaptive rule must take the
    // bounded branch (rare-term θ makes the common terms nonessential)
    // and still serve the exact ranking
    {
      import spark.implicits._
      val base2 = graft.store.Scratch.dir("graft_tidx_skew")
      val idx2 = new graft.store.TextIndex(spark, base2, 4)
      val docs = (1L to 400L).map { i =>
        val rare = if (i % 97 == 0) " zzrare" else ""
        (i, s"alpha beta gamma delta common$rare text line number $i")
      }
      idx2.build(docs.toDF("doc_id", "text"))
      val skewPanel: Seq[(Long, Seq[String])] = Seq(
        31L -> Seq("zzrare", "alpha", "beta", "gamma"),
        32L -> Seq("zzrare", "delta", "common"))
      // (the enclosing test already forces the fanout floor to 0, so the
      // engaged branch really runs on this fixture-sized corpus)
      assert(rows(idx2.queryRankedBatchBounded(skewPanel, 3)) ==
        perProbe(idx2, skewPanel, 3),
        "the engaged bounded path must serve the exact ranking")
    }
    // tombstones shift idf/df/avgdl; stale impact bounds must stay UPPER
    // bounds (the live set only shrank) and the answers stay exact
    val dead = full.head._2
    idx.delete(Seq(dead))
    val after = perProbe(idx, panel, 10)
    assert(!after.exists(_._2 == dead))
    assert(rows(idx.queryRankedBatchBounded(panel, 10)) == after,
      "bounded route must apply tombstone corrections exactly")
    // ... and after compact (bounds recomputed from the purged postings)
    idx.compact()
    assert(rows(idx.queryRankedBatchBounded(panel, 10)) == after,
      "bounded route must serve identically from the compacted generation")
    } finally spark.conf.unset("graft.kw.boundFloor")
  }
}
