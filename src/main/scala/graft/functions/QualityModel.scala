package graft.functions

/**
 * Frozen hashed-bucket quality-classifier artifact — the output of
 * [[graft.operators.QualityTrainer]] over the sf0.01 `documents` fixture
 * (regenerate with `graft.operators.QualityTrainer.printArtifact` over the
 * sf0.01 documents from `sbt console`; `QualityClassifierSpec` retrains
 * and asserts bit-equality, so silent drift between trainer and artifact
 * cannot happen — the BpeMerges1k discipline).
 *
 * Weights are Laplace-smoothed per-bucket token log-odds quantized at
 * [[graft.operators.QualityTrainer.Scale]]; the bias is the quantized
 * document-class prior. Inference is `bias + Σ w[hash % 128]` in exact
 * integer arithmetic ([[TextHashOps.bucketLogit]]), which is what lets
 * the DuckDB oracle replay the whole classifier bit-for-bit.
 */
object QualityModel {
  val Dim = 128
  val Scale = 1024L
  val Bias: Long = -8L
  val Weights: Array[Long] = Array(
    162L, 19L, 19L, 19L, -130L, 19L, 19L, 19L,
    73L, 19L, 651L, 19L, 19L, 19L, 19L, 19L,
    19L, -124L, 19L, 12L, 19L, -156L, 19L, 19L,
    -427L, -173L, -243L, 19L, 19L, 19L, 19L, 19L,
    19L, -2L, 19L, 19L, 19L, -164L, 19L, -44L,
    19L, 19L, 19L, 19L, 19L, 19L, 19L, 19L,
    19L, -165L, 19L, 19L, 19L, 19L, -93L, 19L,
    19L, 19L, 271L, 19L, 19L, 19L, 496L, 19L,
    19L, 19L, 19L, 19L, 19L, 19L, 19L, 19L,
    19L, 19L, -56L, 262L, 19L, 19L, 19L, 19L,
    19L, 19L, 19L, 19L, 19L, 19L, 19L, 19L,
    0L, 19L, 19L, 19L, 19L, 19L, 203L, 19L,
    85L, 19L, 19L, -115L, 19L, 19L, 19L, 19L,
    19L, 19L, 19L, 19L, 19L, 19L, 19L, 19L,
    19L, 19L, 19L, -276L, 19L, 19L, 19L, 19L,
    -32L, 19L, -70L, -139L, 19L, 19L, 19L, 19L)
}
