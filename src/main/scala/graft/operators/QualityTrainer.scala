package graft.operators

import graft.functions.{TextFunctions => TF}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.DataFrame

/**
 * Distributed trainer for the hashed-bucket quality classifier — the
 * model-based quality-filtering stage of an LLM data pipeline (the
 * CCNet/fastText shape: a linear model over hashed bag-of-token features;
 * the DSIR shape: importance log-ratios of hashed n-gram counts). The
 * heuristic quality score supervises it (distilling the heuristic into a
 * model that then generalizes past the heuristic's hand-tuned thresholds
 * is exactly how production pipelines bootstrap quality classifiers).
 *
 * Training is ONE distributed aggregation: per hash bucket, exact token
 * counts inside positive-labeled vs negative-labeled documents (two
 * corpus-sized passes, both map-side-combined groupBys over `Dim`
 * buckets — shuffle volume is O(Dim), invariant in corpus size). The
 * per-bucket Laplace-smoothed log-odds quantize to integer weights
 * (`Scale`), so INFERENCE is exact integer arithmetic
 * ([[graft.functions.TextHashOps.bucketLogit]]) and the DuckDB oracle
 * can replay it bit-for-bit. Deterministic end to end: exact long
 * counts in, driver-side scalar math over `Dim` aggregated rows out —
 * [[graft.functions.QualityModel]] is this trainer's frozen output and
 * the spec retrains against drift.
 */
object QualityTrainer {

  /** Hash buckets (weight-table size). */
  val Dim = 128

  /** Fixed-point scale of the quantized log-odds weights. */
  val Scale = 1024L

  /** Heuristic-score label threshold — the sf0.01 corpus median (docs at
    * or above score as positive). A FIXED constant, not a per-run
    * quantile: label determinism is what makes the frozen artifact
    * reproducible. */
  val LabelThreshold = 0.5162

  /** Train on (doc_id, text) rows: returns (bias, weights[Dim]). */
  def train(docs: DataFrame): (Long, Array[Long]) = {
    val labeled = docs
      .withColumn("toks", TF.tokens(col("text")))
      .withColumn("n_toks", size(col("toks")))
      .withColumn("pos",
        (TF.qualityScore(col("text"), col("toks"), col("n_toks"),
          graft.queries.TextQueries.StopEn) >= LabelThreshold).cast("int"))

    // doc-level class counts (for the bias / prior)
    val docRow = labeled.agg(
      sum(col("pos")).as("npos"),
      sum(lit(1) - col("pos")).as("nneg")).head()
    val (nPosDocs, nNegDocs) = (docRow.getLong(0), docRow.getLong(1))
    require(nPosDocs > 0 && nNegDocs > 0,
      s"degenerate labels: $nPosDocs positive / $nNegDocs negative docs")

    // bucket-level token counts by class — Dim rows out of the shuffle
    val perBucket = labeled
      .select(col("pos"), explode(TF.tokenHashes(col("toks"))).as("h"))
      .groupBy(pmod(col("h"), lit(Dim.toLong)).as("b"))
      .agg(sum(col("pos")).as("posTok"),
        sum(lit(1) - col("pos")).as("negTok"))
      .collect().map(r => r.getLong(0).toInt -> (r.getLong(1), r.getLong(2))).toMap

    val posTot = perBucket.valuesIterator.map(_._1).sum
    val negTot = perBucket.valuesIterator.map(_._2).sum
    val weights = Array.tabulate(Dim) { b =>
      val (p, n) = perBucket.getOrElse(b, (0L, 0L))
      // Laplace-smoothed per-class token likelihood ratio
      val lr = math.log(((p + 1L).toDouble / (posTot + Dim).toDouble) /
        ((n + 1L).toDouble / (negTot + Dim).toDouble))
      math.round(lr * Scale.toDouble)
    }
    val bias = math.round(math.log(nPosDocs.toDouble / nNegDocs.toDouble) * Scale.toDouble)
    (bias, weights)
  }

  /** Print the frozen artifact as Scala source — the regeneration path:
    * call it from `sbt console` over the sf0.01 `documents` and paste the
    * output into QualityModel.scala. */
  def printArtifact(docs: DataFrame): Unit = {
    val (bias, w) = train(docs)
    println(s"  val Bias: Long = ${bias}L")
    println(w.grouped(8).map(_.map(v => s"${v}L").mkString(", "))
      .mkString("  val Weights: Array[Long] = Array(\n    ", ",\n    ", ")"))
  }
}
