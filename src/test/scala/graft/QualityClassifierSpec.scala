package graft

import graft.functions.{QualityModel, TextFunctions => TF}
import graft.operators.QualityTrainer
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/**
 * Model-based quality filtering (CCNet/fastText/DSIR shape): the
 * distributed trainer, the frozen artifact, and the exact-integer
 * codegen inference kernel behind `q_quality_classifier`.
 */
class QualityClassifierSpec extends AnyFunSuite with SparkTest {

  private lazy val docs = spark.read.parquet(s"$sf001/documents.parquet")

  test("shipped QualityModel artifact is bit-equal to a retrain (no silent drift)") {
    val (bias, w) = QualityTrainer.train(docs)
    assert(bias == QualityModel.Bias,
      s"bias drifted: trained $bias vs shipped ${QualityModel.Bias} — regenerate with QualityTrainer.printArtifact")
    assert(w.toSeq == QualityModel.Weights.toSeq,
      "weights drifted from the shipped artifact — regenerate with QualityTrainer.printArtifact")
  }

  test("classifier beats the majority-class baseline on its training labels") {
    val scored = docs
      .withColumn("toks", TF.tokens(col("text")))
      .withColumn("n_toks", size(col("toks")))
      .withColumn("pos",
        (TF.qualityScore(col("text"), col("toks"), col("n_toks"),
          graft.queries.TextQueries.StopEn) >= QualityTrainer.LabelThreshold).cast("int"))
      .withColumn("pred",
        (TF.bucketLogit(TF.tokenHashes(col("toks")),
          QualityModel.Weights.toSeq, QualityModel.Bias) > 0).cast("int"))
    val r = scored.agg(
      sum(when(col("pred") === col("pos"), 1).otherwise(0)).as("hit"),
      sum(col("pos")).as("npos"),
      count(lit(1)).as("n")).head()
    val (hit, npos, n) = (r.getLong(0), r.getLong(1), r.getLong(2))
    val acc = hit.toDouble / n
    val majority = math.max(npos, n - npos).toDouble / n
    assert(acc > majority,
      f"classifier accuracy $acc%.3f must beat the majority baseline $majority%.3f")
    assert(acc >= 0.65, f"classifier accuracy $acc%.3f below the 0.65 floor")
  }

  test("BucketLogit: codegen and interpreted paths agree; exact on hand rows") {
    // hand-verifiable: weights w[b] = b, hash h contributes h % 4
    val w = Seq(0L, 1L, 2L, 3L)
    val d = spark.range(0, 50)
      .select(col("id"), array(col("id") * 7, col("id") * 11 + 1).as("hs"))
      .select(col("id"), TF.bucketLogit(col("hs"), w, 100L).as("lg"))
    val rows = d.collect().map(r => (r.getLong(0), r.getLong(1)))
    rows.foreach { case (id, lg) =>
      assert(lg == 100L + (id * 7) % 4 + (id * 11 + 1) % 4, s"wrong logit at id=$id")
    }
    val offRows = {
      spark.conf.set("spark.sql.codegen.wholeStage", "false")
      spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
      try d.collect().map(r => (r.getLong(0), r.getLong(1)))
      finally {
        spark.conf.set("spark.sql.codegen.wholeStage", "true")
        spark.conf.unset("spark.sql.codegen.factoryMode")
      }
    }
    assert(rows.toSeq == offRows.toSeq, "codegen/interpreted divergence")
    // null-intolerance: null token-hash array -> null logit
    val nulls = spark.sql("SELECT CAST(NULL AS ARRAY<BIGINT>) AS hs")
      .select(TF.bucketLogit(col("hs"), w, 5L).as("lg")).head()
    assert(nulls.isNullAt(0), "null input must yield null, not a bias-only logit")
  }
}
