package graft

import graft.attack.Inversion
import graft.attack.Inversion.Params
import org.scalatest.funsuite.AnyFunSuite

class InversionSpec extends AnyFunSuite with SparkTest {

  private val small = Params(
    popSize = 16, generations = 5, eliteFrac = 0.25,
    restarts = 2, iters = 25, topK = 8, dim = 64, seed = 7L)

  test("mutations are pure functions of (text, seed)") {
    assert(Inversion.mutateChar("spark query", 99L) == Inversion.mutateChar("spark query", 99L))
    assert(Inversion.mutateWord("spark query", 99L) == Inversion.mutateWord("spark query", 99L))
    assert(Inversion.crossover("aaaa", "bbbb", 5L) == Inversion.crossover("aaaa", "bbbb", 5L))
    // alphabet closure for char mutation of alphabet-only input
    val m = Inversion.mutateChar("spark and 42 queries", 3L)
    assert(m.forall(c => c.isLower || c.isDigit || c == ' '))
  }

  test("embedText matches the Spark-side hashEmbed column exactly") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    import graft.functions.{TextFunctions => TF}
    val texts = Seq("Spark, the query engine!", "vector 42 search", "")
    val fromCol = texts.toDF("t")
      .select(TF.hashEmbed(TF.tokens(col("t")), 64).as("e"))
      .collect().map(_.getSeq[Float](0).toArray)
    texts.zip(fromCol).foreach { case (t, e) =>
      assert(Inversion.embedText(t, 64).toSeq == e.toSeq, s"mismatch for '$t'")
    }
  }

  test("evolutionary best-score trajectory is monotone non-decreasing") {
    val target = Inversion.embedText("spark query vector table join filter", 64)
    val (_, traj) = Inversion.evolutionarySearch(target, small)
    assert(traj.nonEmpty)
    assert(traj.zip(traj.tail).forall { case (a, b) => b >= a }, s"trajectory $traj")
  }

  test("early stop cuts the loop once the threshold is crossed") {
    val target = Inversion.embedText("spark join batch query", 64)
    // Unreachable threshold -> all generations run.
    val full = small.copy(generations = 8, earlyStop = 2.0)
    val (_, trajFull) = Inversion.evolutionarySearch(target, full)
    assert(trajFull.length == 8)
    // Threshold below what generation 0 already achieves -> stop immediately.
    val quick = small.copy(generations = 8, earlyStop = trajFull.head - 1e-9)
    val (cands, trajQuick) = Inversion.evolutionarySearch(target, quick)
    assert(trajQuick.length == 1, s"expected immediate stop, got $trajQuick")
    assert(cands.head.score > quick.earlyStop)
  }

  test("elitesOf ranks a generation exactly as the Spark scoring plan did") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    import graft.functions.{HashEmbedder, VectorFunctions => VF}
    val emb = HashEmbedder(64)
    val target = Inversion.embedText("spark query vector", 64)
    // "spark query" / "query spark" embed identically (a tie broken by
    // text), texts repeat, and "   " has no token (score -1.0)
    val generation = Seq("spark query", "vector table", "query spark", "   ",
      "spark query", "join filter", "vector", "query spark", "scan agg 42",
      "query", "   ", "spark")
    assert(Inversion.cosine(emb.embedOne("   "), target) == -1.0)
    val ranked = Inversion.elitesOf(generation, target, emb, generation.length)
    assert(ranked.map(_.text).sorted == generation.sorted)
    // the cut at 2 falls inside the four-way "query spark" / "spark query"
    // tie, the cut at 5 inside the "query" / "spark" / "vector" tie
    assert(ranked(1).score == ranked(2).score && ranked(4).score == ranked(5).score,
      ranked.mkString(", "))
    Seq(1, 2, 3, 5, 7, generation.length).foreach { nElite =>
      val viaSpark = emb.embed(generation.toDF("text"), "text", "emb")
        .withColumn("score", VF.cosine(col("emb"), typedlit(target)))
        .select("text", "score")
        .orderBy(desc("score"), asc("text"))
        .limit(nElite)
        .collect().map(r => Inversion.Candidate(r.getString(0), r.getDouble(1))).toSeq
      assert(Inversion.elitesOf(generation, target, emb, nElite) == viaSpark, s"nElite = $nElite")
    }
  }

  test("Params no loop can run are refused at every entry, naming the parameter and its value") {
    val target = Inversion.embedText("spark query", 64)
    val bad = Seq(
      ("popSize", "0", small.copy(popSize = 0)),
      ("eliteFrac", "0.0", small.copy(eliteFrac = 0.0)),
      ("eliteFrac", "1.5", small.copy(eliteFrac = 1.5)),
      ("generations", "-1", small.copy(generations = -1)),
      ("restarts", "0", small.copy(restarts = 0)),
      ("iters", "-1", small.copy(iters = -1)),
      ("topK", "0", small.copy(topK = 0)))
    bad.foreach { case (name, value, p) =>
      val entries = Seq[(String, () => Any)](
        "invert" -> (() => Inversion.invert(spark, target, p)),
        "evolutionarySearch" -> (() => Inversion.evolutionarySearch(target, p)),
        "greedySearch" -> (() => Inversion.greedySearch(spark, target, p)))
      entries.foreach { case (entry, call) =>
        val e = intercept[IllegalArgumentException](call())
        assert(e.getMessage.contains(name) && e.getMessage.contains(s"got $value"),
          s"$entry with $name = $value: ${e.getMessage}")
      }
    }
  }

  test("invert launches exactly one Spark job; evolutionarySearch launches none") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
    val sc = spark.sparkContext
    val group = "InversionSpec-job-count"
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
      sc.setJobGroup(group, "InversionSpec job count", interruptOnCancel = false)
      try body finally sc.clearJobGroup()
      drain()
      ended.size
    }
    val target = Inversion.embedText("spark query vector table", 64)
    sc.addSparkListener(listener)
    try {
      assert(jobsOf(Inversion.invert(spark, target, small).collect()) == 1)
      assert(jobsOf(Inversion.evolutionarySearch(target, small)) == 0)
    } finally sc.removeSparkListener(listener)
  }

  test("a target wider or narrower than the embedder's dim is refused, naming both widths") {
    Seq(32, 128).foreach { w =>
      val target = Array.tabulate(w)(i => (i % 5).toFloat)
      Seq[() => Any](
        () => Inversion.evolutionarySearch(target, small),
        () => Inversion.invert(spark, target, small)).foreach { call =>
        val e = intercept[IllegalArgumentException](call())
        assert(e.getMessage == s"cosine_sim: vector dims differ (64 vs $w)", e.getMessage)
      }
    }
  }

  test("full invert is reproducible and ranked") {
    val target = Inversion.embedText("spark query vector table", 64)
    val r1 = Inversion.invert(spark, target, small).collect().map(_.toSeq)
    val r2 = Inversion.invert(spark, target, small).collect().map(_.toSeq)
    assert(r1.toSeq == r2.toSeq, "seeded attack must be bit-reproducible")
    assert(r1.length <= small.topK && r1.nonEmpty)
    val scores = r1.map(_(1).asInstanceOf[Double]).toSeq
    assert(scores == scores.sorted.reverse, "ranked by descending score")
    val texts = r1.map(_(2).asInstanceOf[String]).toSeq
    assert(texts.distinct.length == texts.length, "dedup-keep-max leaves no dup texts")
  }

  test("q_attack_invert's fixture output is PINNED row for row — RNG-schedule drift must fail loudly") {
    // The one registered query with no DuckDB oracle: the driver can only
    // check its row count, so a seeded-RNG change that shifts the output
    // (r14 inherited exactly that — the keyed breedPlan rewrite silently
    // moved the sf-fixture answer from 8 to 7 rows with both loops
    // spec-equal to EACH OTHER) is invisible unless the expected output is
    // COMMITTED. These literals are the sf0.001 fixture answer of the
    // registered query verbatim (same target doc, same Params incl. seed
    // 42); any change here is a semantic change to the attack query and
    // must be made CONSCIOUSLY by re-pinning, never discovered by the
    // driver's row-count drift.
    val out = graft.queries.Registry.queries("q_attack_invert")(spark, sf0001)
      .collect().map(r => (r.getInt(0), r.getDouble(1), r.getString(2))).toSeq
    val expected = Seq(
      (1, 0.571429, "scmn"),
      (2, 0.505076, "window merge window merge"),
      (3, 0.466569, "uove1pt nbkp3xikn m7rgej aeo"),
      (4, 0.428571, "filte"),
      (5, 0.428571, "scanescoan"),
      (6, 0.428571, "thb09bqupq8amysf"),
      (7, 0.412393, "scan batch fillwkrwsca0n"),
      (8, 0.329914, "arkf jtlch srrtljoiz1sdplrjlswh"))
    assert(out == expected,
      s"q_attack_invert's seeded fixture output drifted:\n got $out")
  }
}
