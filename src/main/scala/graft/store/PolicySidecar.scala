package graft.store

import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.{Column, DataFrame, SparkSession}

/**
 * ONE persisted per-probe serving policy — the protocol behind
 * [[IvfIndex]] and [[EncryptedStore]] depths and [[GraphIndex]] and
 * [[EncryptedGraph]] beams. A policy maps each probe of a STANDING panel
 * to its calibrated depth (or beam width), so a reopened index serves that
 * panel without re-running the panel × corpus calibration.
 *
 * Layout under `dir`, published together under the owner's commit
 * `marker` ([[StoreIO.commitStaged]]):
 *   `rows/` — (pid LONG, <knob> INT); (pid LONG, <knob>_ct BINARY) when the
 *             owner seals its values (EncryptedStore: a plaintext map would
 *             leak each probe's geometric difficulty);
 *   `meta/` — (k INT, panel_fp LONG, data_fp STRING) for depths, whose k is
 *             an identity column; (panel_fp LONG, data_fp STRING) for
 *             beams, whose k is folded into panel_fp with the walk knobs.
 *
 * The fence reads `meta` alone, never the (possibly sealed) values: a
 * sidecar for another panel, k or knob set is [[IvfIndex.PolicyAbsent]];
 * one whose `data_fp` differs from the owner's CURRENT content fingerprint
 * is [[IvfIndex.PolicyStale]] — so a policy written under a rotated-away
 * key refuses or re-persists before any decrypt — otherwise
 * [[IvfIndex.PolicyFresh]]. Callers hold their own writer lease around
 * [[write]].
 */
private[store] final class PolicySidecar(
    spark: SparkSession,
    dir: String,
    marker: String,
    owner: String,
    knob: String,
    changes: String,
    contentFp: () => String,
    seal: Option[(Column => Column, Column => Column)] = None) {

  import IvfIndex.{PolicyAbsent, PolicyFresh, PolicyStale, PolicyStatus}

  private val keyedByK = knob == "depth"
  private val valueCol = if (seal.isEmpty) knob else s"${knob}_ct"
  private def persistCall = s"persist${knob.capitalize}Policy()"

  /** The schemas [[write]] lays down, read back with them: no footer
    * schema-inference job, and a missing column reads as NULL. */
  private val rowsSchema = StructType.fromDDL(
    s"pid BIGINT, $valueCol ${if (seal.isEmpty) "INT" else "BINARY"}")
  private val identityCols = (if (keyedByK) Seq("k") else Nil) ++ Seq("panel_fp", "data_fp")
  private val metaSchema = StructType.fromDDL(
    (if (keyedByK) "k INT, " else "") + "panel_fp BIGINT, data_fp STRING")

  /** Commit `values` for (panel, k) under the current content fingerprint;
    * `seed` is the panel fingerprint's seed ([[PolicySidecar.panelFp]]). */
  def write(panel: Seq[(Long, Array[Float])], k: Int, seed: Long,
            values: Map[Long, Int]): Map[Long, Int] = {
    require(panel.map(_._1).toSet == values.keySet,
      s"precomputed ${knob}s must cover exactly the panel's probe ids")
    val plain = spark.createDataFrame(values.toSeq).toDF("pid", knob)
    val rows = seal.fold(plain) { case (enc, _) =>
      plain.select(col("pid"), enc(col(knob)).as(valueCol)) }
    val fp = PolicySidecar.panelFp(panel, seed)
    val meta =
      if (keyedByK) spark.createDataFrame(Seq((k, fp, contentFp())))
        .toDF("k", "panel_fp", "data_fp")
      else spark.createDataFrame(Seq((fp, contentFp()))).toDF("panel_fp", "data_fp")
    StoreIO.commitStaged(Seq(
      StoreIO.Staged(s"${dir}__stage", dir, st => {
        rows.coalesce(1).write.mode("overwrite").parquet(s"$st/rows")
        meta.coalesce(1).write.mode("overwrite").parquet(s"$st/meta")
      })), marker)
    values
  }

  /** Freshness of the committed policy for (panel, k, seed): driver-side
    * file metadata plus one tiny `meta` read — no corpus jobs. A NULL
    * identity column is Absent, never Fresh. */
  def status(panel: Seq[(Long, Array[Float])], k: Int, seed: Long): PolicyStatus = {
    if (!new java.io.File(s"$dir/meta/_SUCCESS").exists()) return PolicyAbsent
    val m = spark.read.schema(metaSchema).parquet(s"$dir/meta").head(1).headOption match {
      case Some(r) if identityCols.forall(c => !r.isNullAt(r.fieldIndex(c))) => r
      case _ => return PolicyAbsent
    }
    if ((keyedByK && m.getAs[Int]("k") != k) ||
        m.getAs[Long]("panel_fp") != PolicySidecar.panelFp(panel, seed)) PolicyAbsent
    else if (m.getAs[String]("data_fp") == contentFp()) PolicyFresh
    else PolicyStale
  }

  /** The committed values — REFUSES unless Fresh: serving at a policy
    * measured on other content silently drops its recall evidence. */
  def read(panel: Seq[(Long, Array[Float])], k: Int, seed: Long): Map[Long, Int] =
    freshOr(panel, k, seed) {
      case PolicyStale => sys.error(s"$knob policy at $dir is STALE — $changes " +
        s"since calibration, so the stored ${knob}s no longer carry their " +
        s"recall evidence; $persistCall again")
      case _ => sys.error(s"no committed $knob policy for this panel" +
        (if (keyedByK) s" at k=$k" else "/knobs") + s" under $dir — $persistCall first")
    }

  /** [[read]] with LOUD self-healing: Fresh reads the values (one `meta`
    * read, zero calibration jobs — the reopen path); Absent or Stale logs
    * and runs `recalibrate`, which re-measures and re-persists. */
  def readOrRecalibrate(panel: Seq[(Long, Array[Float])], k: Int, seed: Long)(
      recalibrate: => Map[Long, Int]): Map[Long, Int] =
    freshOr(panel, k, seed) { status =>
      System.err.println(s"[graft] $owner: $knob policy $status for k=$k " +
        s"panel — recalibrating ${panel.length} probes and re-persisting")
      recalibrate
    }

  private def freshOr(panel: Seq[(Long, Array[Float])], k: Int, seed: Long)(
      otherwise: PolicyStatus => Map[Long, Int]): Map[Long, Int] =
    status(panel, k, seed) match {
      case PolicyFresh =>
        val v = spark.read.schema(rowsSchema).parquet(s"$dir/rows")
        seal.fold(v) { case (_, dec) =>
          v.select(col("pid"), dec(col(valueCol)).cast("int")) }
          .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
      case other => otherwise(other)
    }
}

private[store] object PolicySidecar {

  /** Panel identity of a policy: a per-probe hash of (pid, embedding float
    * bits), order-independent, folded from `seed` — k for depths,
    * [[GraphWalk.beamSeed]] for beams. A policy guarantees nothing for
    * other probes, another k or another knob set. */
  def panelFp(panel: Seq[(Long, Array[Float])], seed: Long): Long =
    panel.map { case (pid, pe) =>
      pid * 1000003L + java.util.Arrays.hashCode(pe).toLong
    }.sorted.foldLeft(seed)((acc, h) => acc * 6364136223846793005L + h)

  /** hits / (probes · k) rounded to 4 places exactly as Spark's `round`
    * rounds a DOUBLE (HALF_UP on its shortest decimal string) — the
    * rounding [[IvfIndex.calibrationSweep]] gets from Spark, so a sweep on
    * any index meets or misses a recall target alike. */
  def recall(hits: Long, probes: Int, k: Int): Double =
    java.math.BigDecimal.valueOf(hits.toDouble / (probes * k))
      .setScale(4, java.math.RoundingMode.HALF_UP).doubleValue()

  /** The SMALLEST rung of a (rung, hits, probes, recall) `sweep` whose
    * recall meets `target`. The target is checked before the sweep runs;
    * an unreachable one fails loudly with the deepest rung's recall. */
  def pickRung(target: Double, noun: String, remedy: String)(sweep: => DataFrame): Int = {
    require(target > 0 && target <= 1.0, s"recall target must be in (0, 1]: $target")
    val rungs = sweep.collect().map(r => (r.getInt(0), r.getDouble(3)))
    rungs.collectFirst { case (r, rec) if rec >= target => r }
      .getOrElse(sys.error(
        s"no ladder $noun reaches recall $target (deepest rung " +
          s"${rungs.last._1} measured ${rungs.last._2}) — $remedy; silently " +
          "serving below the requested recall is the failure this policy " +
          "knob exists to prevent"))
  }

  /** `ladder`, or by default the powers of two below `numCells` then
    * `numCells` itself — the full-probe rung, exact by construction, so
    * any target ≤ 1 is reachable. */
  def depthLadder(ladder: Seq[Int], numCells: Int): Seq[Int] =
    if (ladder.nonEmpty) ladder
    else Iterator.iterate(1)(_ * 2).takeWhile(_ < numCells).toSeq :+ numCells
}
