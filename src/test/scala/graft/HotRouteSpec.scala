package graft

import graft.functions.{TextFunctions => TF}
import graft.queries.SearchQueries
import graft.store.{Scratch, TextIndex, VectorStore}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.scalatest.funsuite.AnyFunSuite

/**
 * The routed serving entries — `TextIndex.queryRanked`, `booleanQuery`
 * (and `booleanQueryString`), `phraseQuery`, `nearQuery`,
 * `SearchQueries.hybridServeIndexed` and `Collection.query` with a
 * `where`/`whereDocument` Column over an attached IVF index — answer from
 * the resident tiers inside the hot budget and from Spark over it. Both
 * routes must return the same rows, on a fresh index and after a delete
 * plus compact; warm, the resident route launches no Spark job.
 */
class HotRouteSpec extends AnyFunSuite with SparkTest {

  /** 500 documents; `meta` is NULL on every 7th, lacks `n` on the next,
    * and otherwise carries `lang` and a string-typed `n`. */
  private lazy val rows = spark.read.parquet(s"$sf001/documents.parquet")
    .select(col("doc_id").cast("string").as("id"), col("text").as("doc"),
      when(col("doc_id") % 7 === 0, lit(null).cast("map<string,string>"))
        .when(col("doc_id") % 7 === 1, map(lit("lang"), col("lang")))
        .otherwise(map(lit("lang"), col("lang"),
          lit("n"), (col("doc_id") % 10).cast("string"))).as("meta"),
      TF.hashEmbed(TF.tokens(col("text")), 64).as("emb"))

  private lazy val (coll, ivf, text) = {
    val c = new VectorStore(spark, Scratch.dir("graft_hr_vs")).createOrGet("c")
    c.add(rows)
    val ivf = c.attachIvfIndex(Scratch.dir("graft_hr_ivf"), numCells = 8, nprobe = 3)
    // keyed like the collection's index (xxhash64 of the id), so the
    // hybrid pipeline fuses the two
    val text = new TextIndex(spark, Scratch.dir("graft_hr_txt"), numBuckets = 4)
    text.build(rows.select(xxhash64(col("id")).as("doc_id"), col("doc").as("text")))
    (c, ivf, text)
  }

  private def qe(s: String): Array[Float] = graft.attack.Inversion.embedText(s, 64)

  private val probeText = "vector merge window stream table"

  private def isLocal(df: DataFrame): Boolean =
    df.queryExecution.optimizedPlan.isInstanceOf[LocalRelation]

  /** Each routed call by name: the DataFrame the entry returns. */
  private def cases: Seq[(String, () => DataFrame)] = {
    val q = qe(probeText)
    def where(w: Column = null, d: Column = null) =
      () => coll.query(q, 10, where = Option(w), whereDocument = Option(d))
    Seq(
      "ranked" -> (() => text.queryRanked(SearchQueries.QueryTerms, 10)),
      "ranked, absent term, deep k" -> (() => text.queryRanked(Seq("table", "zzz"), 60)),
      "boolean MUST/SHOULD/MUST_NOT" -> (() => text.booleanQuery(
        SearchQueries.BoolMust, SearchQueries.BoolShould, SearchQueries.BoolNot, 10)),
      "boolean phrase" -> (() => text.booleanQueryString("\"table hash\" vector -slow", 10)),
      "boolean NOT-phrase" -> (() => text.booleanQueryString("+scan vector -\"table hash\"", 10)),
      "phrase" -> (() => text.phraseQuery(SearchQueries.PhraseTerms, 10)),
      "phrase, repeated term" -> (() => text.phraseQuery(Seq("table", "table"), 10)),
      "near" -> (() => text.nearQuery("table", "scan", 3, 10))) ++
      Seq(1, 3, 8).map(d => s"hybrid at depth $d" -> (() =>
        SearchQueries.hybridServeIndexed(spark, text, ivf, q, Map(0L -> d),
          SearchQueries.QueryTerms))) ++
      Seq(
        "where lang" -> where(element_at(col("meta"), "lang") === "en"),
        "where NULL meta" -> where(col("meta").isNull),
        "where missing key" -> where(element_at(col("meta"), "n").isNull),
        "where numeric coercion" -> where(element_at(col("meta"), "n") > 3),
        "whereDocument contains" -> where(d = col("doc").contains("vector")),
        "where + whereDocument" ->
          where(element_at(col("meta"), "lang") =!= "en", col("doc").contains("hash")))
  }

  /** The predicate no plan-time fold can evaluate: a scalar subquery. */
  private def unfoldable(): DataFrame =
    coll.query(qe(probeText), 10,
      where = Some(element_at(col("meta"), "lang") ===
        spark.range(2).select(max(lit("en"))).scalar()))

  private def rowsOf(df: DataFrame): Seq[Row] = df.collect().toSeq

  private def routedEqualsSpark(phase: String): Unit = {
    cases.foreach { case (name, call) =>
      val routed = call()
      assert(isLocal(routed), s"$phase/$name: inside the budget the entry must route hot")
      val cold = withHotBudget(1L) {
        val df = call()
        assert(!isLocal(df), s"$phase/$name: over the budget the entry must take Spark")
        rowsOf(df)
      }
      assert(rowsOf(routed) == cold, s"$phase/$name: routed answer differs from the Spark route")
      assert(cold.nonEmpty, s"$phase/$name: vacuous case")
    }
    val routed = unfoldable()
    assert(!isLocal(routed), s"$phase: a subquery predicate must take the Spark route")
    assert(rowsOf(routed) == withHotBudget(1L)(rowsOf(unfoldable())) && rowsOf(routed).nonEmpty,
      s"$phase: the unfoldable predicate's answer differs")
  }

  test("routed answers equal the Spark route on a fresh index") {
    routedEqualsSpark("fresh")
  }

  test("warm, the four routed serve families launch no Spark job") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
    val sc = spark.sparkContext
    val group = "HotRouteSpec-job-count"
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
    def jobsOf(body: => Any): Int = {
      ended.clear()
      sc.setJobGroup(group, "HotRouteSpec job count", interruptOnCancel = false)
      try body finally sc.clearJobGroup()
      drain()
      ended.size
    }
    val q = qe("spark join sort")
    // the warm-up loads the resident tiers; the counted calls then use
    // other terms, so an unseen term must be served without a load too
    Seq(
      coll.query(qe(probeText), 10, where = Some(element_at(col("meta"), "lang") === "de")),
      text.queryRanked(SearchQueries.QueryTerms, 10),
      text.booleanQueryString("+table \"table hash\" vector", 10),
      SearchQueries.hybridServeIndexed(spark, text, ivf, qe(probeText), Map(0L -> 3),
        SearchQueries.QueryTerms)).foreach(rowsOf)
    sc.addSparkListener(listener)
    try {
      val counts = Seq(
        "query_where" -> jobsOf(rowsOf(
          coll.query(q, 10, where = Some(element_at(col("meta"), "lang") === "fr")))),
        "query_ranked" -> jobsOf(rowsOf(text.queryRanked(Seq("join", "sort", "zzz"), 10))),
        "boolean_query" -> jobsOf(rowsOf(
          text.booleanQueryString("+sort \"spark join\" -hash", 10))),
        "hybrid_serve" -> jobsOf(rowsOf(SearchQueries.hybridServeIndexed(spark, text, ivf, q,
          Map(0L -> 5), Seq("spark", "join", "sort")))))
      assert(counts.forall(_._2 == 0), s"Spark jobs per warm call: $counts")
    } finally sc.removeSparkListener(listener)
  }

  test("routed answers equal the Spark route with pending deletes and after compact") {
    val dead = (0 until 500 by 9).map(_.toString)
    coll.delete(dead)
    text.delete(rows.filter(col("id").isin(dead: _*))
      .select(xxhash64(col("id"))).collect().map(_.getLong(0)).toSeq)
    routedEqualsSpark("pending deletes")
    ivf.compact()
    text.compact()
    routedEqualsSpark("after delete + compact")
  }

  test("a text index inside the budget on disk but not in memory serves from Spark") {
    // fifty identical 2000-token docs: their position lists compress to a
    // few KB on disk and decompress to ~400 KB resident
    val idx = new TextIndex(spark, Scratch.dir("graft_hr_txt_wide"), numBuckets = 4)
    idx.build(spark.range(0, 50).select(col("id").as("doc_id"),
      concat_ws(" ", array_repeat(lit("w v"), 1000)).as("text")))
    def calls() = Seq(
      idx.queryRanked(Seq("w", "v"), 10), idx.booleanQueryString("+w \"w v\"", 10),
      idx.phraseQuery(Seq("w", "v"), 10), idx.nearQuery("w", "v", 1, 10))
    val cold = withHotBudget(1L)(calls().map(rowsOf))
    assert(cold.forall(_.nonEmpty), "vacuous case")
    withHotBudget(100000L) {
      assert(idx.hotFits(), "the on-disk trees fit the budget")
      assert(calls().map(rowsOf) == cold, "the overflowing load still answers like Spark")
      assert(!idx.hotFits(), "once the resident state overflows, admission declines")
      val routed = calls()
      assert(!routed.exists(isLocal), "over the budget in memory the entries must take Spark")
      assert(routed.map(rowsOf) == cold)
    }
    assert(idx.hotFits(), "a larger budget admits the index again")
    val routed = calls()
    assert(routed.forall(isLocal) && routed.map(rowsOf) == cold)
  }

  test("a policy sidecar whose meta holds a NULL identity column reads as Absent") {
    val panel = Seq(1L -> qe("table hash scan"), 2L -> qe("vector stream"))
    ivf.persistDepthPolicy(panel, 5)
    assert(ivf.depthPolicyStatus(panel, 5) == graft.store.IvfIndex.PolicyFresh)
    val meta = s"${ivf.path}/_depths/meta"
    val m = spark.read.parquet(meta).head()
    spark.createDataFrame(Seq((m.getInt(0), m.getLong(1), null: String)))
      .toDF("k", "panel_fp", "data_fp").coalesce(1)
      .write.mode("overwrite").parquet(meta)
    assert(ivf.depthPolicyStatus(panel, 5) == graft.store.IvfIndex.PolicyAbsent)
  }
}
