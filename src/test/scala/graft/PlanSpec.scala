package graft

import org.scalatest.funsuite.AnyFunSuite

/** Physical-plan shape assertions for the flagship query families — the
  * scale claims ("no corpus shuffle", "pushdown reaches the scan", "top-k
  * never global-sorts") checked against the actual planner output, not
  * prose. Complements the per-operator plan asserts in SearchSpec
  * (PushedFilters), IvfIndexSpec (PartitionFilters), StoreSpec (no
  * store-side broadcast), HeavyHittersSpec (no UDF barrier), and
  * BucketingSpec (zero-shuffle SMJ). */
class PlanSpec extends AnyFunSuite with SparkTest {

  private def plan(name: String): String =
    graft.queries.Registry.queries(name)(spark, sf001)
      .queryExecution.executedPlan.toString

  test("kNN top-k plans use TakeOrderedAndProject, never a global sort") {
    Seq("q_knn_cosine", "q_knn_l2").foreach { q =>
      val p = plan(q)
      assert(p.contains("TakeOrderedAndProject"),
        s"$q must TakeOrdered, got:\n$p")
      assert(!p.contains("Sort ["), s"$q must not global-sort the corpus:\n$p")
    }
  }

  test("point lookup pushes the id predicate into the parquet scan") {
    val p = plan("q_point_get")
    assert(p.contains("PushedFilters") && p.contains("In(doc_id"),
      s"expected an In(doc_id, ...) pushdown in:\n$p")
  }

  test("binary-quantized ANN: Hamming shortlist TakeOrdereds, rerank broadcasts") {
    val p = plan("q_ann_binary")
    assert(p.contains("TakeOrderedAndProject"),
      s"Hamming shortlist must TakeOrdered, got:\n$p")
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastNestedLoop"),
      s"exact rerank must broadcast the 50-row shortlist, got:\n$p")
    assert(!p.toLowerCase.contains("scalaudf"), "bit packing must stay codegen")
  }

  test("chroma where-dialect predicates reach the parquet scan as pushed filters") {
    val p = plan("q_where_dialect")
    // $in on lang and the $contains document predicate both push
    assert(p.contains("PushedFilters") && p.contains("In(lang"),
      s"expected In(lang, ...) pushdown from the \\$$in dialect operator in:\n$p")
    assert(p.contains("StringContains(text"),
      s"expected StringContains(text, ...) pushdown from \\$$contains in:\n$p")
  }

  test("maxsim folds per-term maxes in one aggregation exchange") {
    val p = plan("q_maxsim")
    val n = "Exchange".r.findAllIn(p).length
    // one shuffle for the doc_id aggregation; top-k is TakeOrdered
    assert(n <= 1, s"q_maxsim must shuffle once (partial-agg on doc_id), found $n:\n$p")
    assert(p.contains("TakeOrderedAndProject"), s"q_maxsim top-10 must TakeOrdered:\n$p")
    assert(!p.toLowerCase.contains("scalaudf"), "token vectors must stay codegen")
  }

  test("kernel text scans are narrow: one exchange, the presentation sort") {
    Seq("q_quality_score", "q_token_count", "q_fingerprint", "q_text_clean").foreach { q =>
      val p = plan(q)
      val n = "Exchange".r.findAllIn(p).length
      assert(n <= 1, s"$q must shuffle only for the final sort, found $n exchanges:\n$p")
      assert(!p.toLowerCase.contains("scalaudf"), s"$q must stay UDF-free")
    }
  }

  test("boolean and prefix probes stay bucket-pruned; percolate never cross-joins") {
    // the r8 text surfaces inherit the q/numBuckets contract: the postings
    // scan lists only the queried (or expanded) terms' bucket partitions
    // (the Spark route's plan: inside the hot budget q_boolean answers
    // from the resident tier)
    Seq("q_boolean", "q_prefix").foreach { q =>
      val p = withHotBudget(1L)(plan(q))
      assert(p.contains("PartitionFilters: [bucket#") ||
        p.contains("PartitionFilters: [isnotnull(bucket"),
        s"$q must prune to its terms' bucket partitions:\n$p")
    }
    // percolation joins on the TERM, never doc x profile — and the phrase
    // variant's positional stage stays equi-joined (candidate-doc
    // semi-join + slot term join), still no cross join anywhere
    Seq("q_percolate", "q_percolate_phrase").foreach { q =>
      val pp = plan(q)
      assert(!pp.contains("CartesianProduct") && !pp.contains("BroadcastNestedLoop"),
        s"$q must never plan a doc x profile cross join:\n$pp")
    }
  }

  test("fraction-probe queries drop the broadcast once probes exceed the limit") {
    // Probe sets carved out of the corpus (q_knn_classifier, q_crossmodal)
    // grow with N: above graft.probe.broadcastLimit, ProbeJoin must plan a
    // chunked CartesianProduct — no broadcast exchange anywhere on the
    // probe path — and return the identical rows.
    Seq("q_knn_classifier", "q_crossmodal").foreach { q =>
      val viaBroadcast = graft.queries.Registry.queries(q)(spark, sf001).collect()
      spark.conf.set(graft.operators.ProbeJoin.LimitKey, "3")
      try {
        val df = graft.queries.Registry.queries(q)(spark, sf001)
        val p = df.queryExecution.executedPlan.toString
        assert(p.contains("CartesianProduct"),
          s"$q over-limit must pair via CartesianProduct, got:\n$p")
        assert(!p.contains("BroadcastNestedLoop") && !p.contains("BroadcastExchange"),
          s"$q must not broadcast a corpus-fraction probe frame:\n$p")
        assert(df.collect().toSeq == viaBroadcast.toSeq,
          s"$q rows must be identical on both probe routes")
      } finally spark.conf.unset(graft.operators.ProbeJoin.LimitKey)
    }
  }
}
