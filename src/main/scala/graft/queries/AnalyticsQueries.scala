package graft.queries

import graft.store.IvfIndex
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * Analytic-surface extensions beyond reference parity: explicit grouping
 * sets, ranking window functions, sliding frames, single-pass histograms,
 * and the persistent cell-partitioned IVF index driven end-to-end.
 *
 * Scale notes:
 *  - grouping sets / histogram are single-shuffle hash aggregates (partial
 *    map-side combine, then one exchange on the grouping keys);
 *  - ranking windows shuffle once on the partition key — the per-partition
 *    sort is the cost, no data explosion;
 *  - the IVF query's scan volume is nprobe/numCells of the corpus via
 *    partition pruning (see [[graft.store.IvfIndex]]).
 */
object AnalyticsQueries {
  import Registry.tbl

  /** q_ann_range's radius (plain L2; ~1–2 % of the synthetic corpus falls
    * inside at every fixture scale). One constant, interpolated into the
    * oracle as its exact double so both engines compare the same bound.
    * MUST initialize before `all` — the oracle strings capture it
    * eagerly. */
  private[queries] val RangeRadius: Double = 1.2

  val all: Seq[Q] = Seq(

    // Explicit GROUPING SETS with grouping indicators — finer control than
    // rollup/cube (q_rollup/q_cube): only the requested subtotal combos.
    Q(
      "q_grouping_sets",
      "explicit grouping sets ((flag,status),(flag),()) with grouping flags",
      (s, dir) => {
        val l = tbl(s, dir, "lineitem")
        l.groupingSets(
            Seq(Seq(col("l_returnflag"), col("l_linestatus")), Seq(col("l_returnflag")), Seq()),
            col("l_returnflag"), col("l_linestatus"))
          .agg(
            grouping(col("l_returnflag")).cast("int").as("g_flag"),
            grouping(col("l_linestatus")).cast("int").as("g_status"),
            round(sum("l_quantity"), 2).as("sum_qty"),
            count(lit(1)).as("n"))
          .select(col("l_returnflag"), col("l_linestatus"), col("g_flag"),
            col("g_status"), col("sum_qty"), col("n"))
          .orderBy(asc_nulls_first("l_returnflag"), asc_nulls_first("l_linestatus"),
            asc("g_flag"), asc("g_status"))
      },
      Some("""SELECT l_returnflag, l_linestatus,
             |  CAST(GROUPING(l_returnflag) AS INT) AS g_flag,
             |  CAST(GROUPING(l_linestatus) AS INT) AS g_status,
             |  round(sum(l_quantity), 2) AS sum_qty, CAST(count(*) AS BIGINT) AS n
             |FROM lineitem
             |GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
             |ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST,
             |  g_flag ASC, g_status ASC""".stripMargin)),

    // Ranking window family: dense_rank / ntile / percent_rank / cume_dist
    // per market segment. Total order (acctbal desc, custkey) keeps ntile
    // deterministic across engines.
    Q(
      "q_window_ranks",
      "dense_rank, ntile(4), percent_rank, cume_dist per market segment",
      (s, dir) => {
        val w = Window.partitionBy("c_mktsegment")
          .orderBy(desc("c_acctbal"), asc("c_custkey"))
        tbl(s, dir, "customer")
          .filter(col("c_custkey") < 400)
          .withColumn("drank", dense_rank().over(w))
          .withColumn("quartile", ntile(4).over(w))
          .withColumn("prank", round(percent_rank().over(w), 6))
          .withColumn("cdist", round(cume_dist().over(w), 6))
          .select(col("c_custkey"), col("c_mktsegment"),
            round(col("c_acctbal"), 2).as("acctbal"),
            col("drank"), col("quartile"), col("prank"), col("cdist"))
          .orderBy("c_mktsegment", "c_custkey")
      },
      Some("""WITH c AS (SELECT c_custkey, c_mktsegment, round(c_acctbal, 2) AS acctbal,
             |  c_acctbal AS raw FROM customer WHERE c_custkey < 400)
             |SELECT c_custkey, c_mktsegment, acctbal,
             |  CAST(dense_rank() OVER w AS INT) AS drank,
             |  CAST(ntile(4) OVER w AS INT) AS quartile,
             |  round(percent_rank() OVER w, 6) AS prank,
             |  round(cume_dist() OVER w, 6) AS cdist
             |FROM c WINDOW w AS (PARTITION BY c_mktsegment ORDER BY raw DESC, c_custkey)
             |ORDER BY c_mktsegment, c_custkey""".stripMargin)),

    // Sliding ROWS frame: 3-event moving average and frame extrema per user
    // over event time.
    Q(
      "q_moving_avg",
      "3-row moving average / min / max of event value per user",
      (s, dir) => {
        val w = Window.partitionBy("user_id").orderBy("tsu", "event_id")
          .rowsBetween(-2, Window.currentRow)
        EventsTable.load(s, dir)
          .filter(col("user_id") < 10)
          .select(col("event_id"), col("user_id"),
            unix_micros(col("ts")).as("tsu"), col("value"))
          .withColumn("mov_avg", round(avg("value").over(w), 4))
          .withColumn("mov_min", round(min("value").over(w), 4))
          .withColumn("mov_max", round(max("value").over(w), 4))
          .select("event_id", "user_id", "mov_avg", "mov_min", "mov_max")
          .orderBy("user_id", "event_id")
      },
      Some("""WITH e AS (SELECT event_id, user_id, epoch_us(ts) AS tsu, "value"
             |          FROM events WHERE user_id < 10)
             |SELECT event_id, user_id,
             |  round(avg("value") OVER w, 4) AS mov_avg,
             |  round(min("value") OVER w, 4) AS mov_min,
             |  round(max("value") OVER w, 4) AS mov_max
             |FROM e WINDOW w AS (PARTITION BY user_id ORDER BY tsu, event_id
             |                    ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
             |ORDER BY user_id, event_id""".stripMargin)),

    // Single-pass fixed-width histogram: one hash aggregate over the bucket
    // key (arithmetic bucketing pushes no data, shuffles only bucket counts).
    Q(
      "q_histogram",
      "order-value histogram: 60k-wide buckets, count + mass per bucket",
      (s, dir) =>
        tbl(s, dir, "orders")
          .withColumn("bucket",
            least(floor(col("o_totalprice") / 60000.0), lit(9.0)).cast("long"))
          .groupBy("bucket")
          .agg(count(lit(1)).as("n"), round(sum("o_totalprice"), 2).as("mass"))
          .orderBy("bucket"),
      Some("""SELECT CAST(least(floor(o_totalprice / 60000.0), 9.0) AS BIGINT) AS bucket,
             |  CAST(count(*) AS BIGINT) AS n, round(sum(o_totalprice), 2) AS mass
             |FROM orders GROUP BY 1 ORDER BY bucket""".stripMargin)),

    // Persistent IVF index end-to-end: TRAIN centroids — deterministic
    // farthest-first seeding (survives domain-sorted ingest; replayed in
    // the oracle as a recursive CTE) + 3 rounds of the cross-engine-
    // deterministic quantized Lloyd (integer dimension sums, so the oracle
    // reproduces them bit-for-bit by unrolling the same rounds in SQL),
    // build the cell-partitioned layout, then probe it.
    // The scan is PRUNED BY THE STORAGE LAYOUT: only the nprobe cell
    // directories are read — and trained centroids are what make that
    // pruning effective at scale (untrained first-k-rows centroids leave a
    // fat cell that a probe re-scans).
    Q(
      "q_ivf_index",
      "k-means-trained cell-partitioned IVF index, probe 4 of 16 cells, top-5",
      (s, dir) => {
        val base = graft.store.Scratch.dir("graft_ivf_q")
        val idx = new IvfIndex(s, base, numCells = 16)
        val vectors = tbl(s, dir, "embeddings")
          .select(col("vec_id").as("id"), col("embedding").as("emb"))
        idx.build(vectors)
        val qe = vectors.filter(col("id") === 0).head().getSeq[Float](1).toArray
        idx.query(qe, k = 5, nprobe = 4)
          .select(col("id"), col("cell"), round(col("distance"), 6).as("dist"))
      },
      Some(ivfProbeOracle(
        s"""SELECT a.vec_id AS id, a.cell, round(${OracleSql.l2Sq("a.embedding", "probe.qe")}, 6) AS dist
           |FROM assign a JOIN pcells ON a.cell = pcells.cid CROSS JOIN probe
           |ORDER BY ${OracleSql.l2Sq("a.embedding", "probe.qe")} ASC, a.vec_id LIMIT 5""".stripMargin))),

    // SQ8-quantized IVF probe — the same trained, cell-partitioned index,
    // served through its 1-byte/dim codes column: phase 1 ranks the probed
    // cells by EXACT integer L2 over SQ8 codes (the raw float column never
    // leaves disk — 4x less scan traffic, column-pruning asserted in
    // IvfIndexSpec), phase 2 exact-reranks the 64-row shortlist via an
    // In-pushed point read. Codes quantize through frozen per-dim (min,
    // max) index metadata with floor/clamp integer arithmetic, so the
    // oracle replays training AND quantization bit-for-bit. This is the
    // 100 TB serving shape: at petabyte scale the pruned cells themselves
    // outgrow page cache and the probe cost is the bytes of the CODES
    // column, not the floats.
    Q(
      "q_ivf_sq8_probe",
      "SQ8 codes probe of the trained IVF index: int8 shortlist + exact rerank, top-5",
      (s, dir) => {
        val base = graft.store.Scratch.dir("graft_ivf_sq8q")
        val idx = new IvfIndex(s, base, numCells = 16)
        val vectors = tbl(s, dir, "embeddings")
          .select(col("vec_id").as("id"), col("embedding").as("emb"))
        idx.build(vectors)
        val qe = vectors.filter(col("id") === 0).head().getSeq[Float](1).toArray
        idx.queryQuantized(qe, k = 5, nprobe = 4, shortlist = 64)
          .select(col("id"), col("cell"), round(col("distance"), 6).as("dist"))
      },
      Some {
        val dFinal = OracleSql.l2Sq("a.embedding", "probe.qe")
        // the Sq8Encode grid replayed relationally: per-dim (min, max) over
        // the build input, code = clamp(floor((x - mn) * 256 / (mx - mn)))
        def codeSql(x: String): String =
          s"CASE WHEN s.mx <= s.mn THEN 0 ELSE greatest(0, least(255, " +
            s"CAST(floor((CAST($x AS DOUBLE) - s.mn) * 256.0 / (s.mx - s.mn)) AS BIGINT))) END"
        ivfProbeOracle(
          s"""sstats AS MATERIALIZED (
             |  SELECT dm.d, min(CAST(e.embedding[dm.d] AS DOUBLE)) AS mn,
             |         max(CAST(e.embedding[dm.d] AS DOUBLE)) AS mx
             |  FROM embeddings e CROSS JOIN dims dm GROUP BY dm.d),
             |qcodes AS MATERIALIZED (
             |  SELECT s.d, ${codeSql("probe.qe[s.d]")} AS qc
             |  FROM sstats s CROSS JOIN probe),
             |cand AS MATERIALIZED (
             |  SELECT a.vec_id, ${codeSql("a.embedding[s.d]")} AS code, s.d
             |  FROM assign a JOIN pcells ON a.cell = pcells.cid CROSS JOIN sstats s),
             |qd AS (
             |  SELECT cand.vec_id, CAST(sum((code - qc) * (code - qc)) AS BIGINT) AS qdist
             |  FROM cand JOIN qcodes q ON q.d = cand.d GROUP BY cand.vec_id),
             |short AS (SELECT vec_id FROM qd ORDER BY qdist, vec_id LIMIT 64)
             |SELECT a.vec_id AS id, a.cell, round($dFinal, 6) AS dist
             |FROM assign a JOIN short USING (vec_id) CROSS JOIN probe
             |ORDER BY $dFinal ASC, a.vec_id LIMIT 5""".stripMargin,
          extraCte = true)
      }),

    // EXACT top-k through the IVF layout: per-cell radius metadata
    // (`_radii`, one row per cell per batch generation) plus a first
    // probe's kth-best distance prune cells by the triangle inequality —
    // d(q, x) >= d(q, centroid) - r_cell, so a pruned cell provably holds
    // no exact candidate. Unlike every approximate probe, the answer is
    // INDEPENDENT of training quality, so the oracle is plain brute force
    // (no k-means replay): exact answers at pruned-scan cost is the whole
    // point. On this near-equidistant synthetic fixture little prunes —
    // the clustered-fixture spec and the SURVEY §8.3 exact-pruned rows
    // measure the pruning; this row pins exactness.
    Q(
      "q_ann_exact_pruned",
      "exact top-5 kNN via triangle-inequality cell pruning on the IVF index",
      (s, dir) => {
        val base = graft.store.Scratch.dir("graft_ivf_exq")
        val idx = new IvfIndex(s, base, numCells = 16)
        val vectors = tbl(s, dir, "embeddings")
          .select(col("vec_id").as("id"), col("embedding").as("emb"))
        idx.build(vectors)
        val qe = vectors.filter(col("id") === 0).head().getSeq[Float](1).toArray
        idx.queryExact(qe, k = 5, probe0 = 4)
          .select(col("id"), round(col("distance"), 6).as("dist"))
      },
      Some {
        val d = OracleSql.l2Sq("e.embedding", "probe.qe")
        s"""WITH probe AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0)
           |SELECT e.vec_id AS id, round($d, 6) AS dist
           |FROM embeddings e CROSS JOIN probe
           |ORDER BY $d ASC, e.vec_id LIMIT 5""".stripMargin
      }),

    // EXACT range search (all rows within an L2 radius of the probe) —
    // the third classic vector-search surface after top-k and filtered
    // top-k, served from the same radius-pruned cell set. The row filter
    // compares SQUARED distance against radius² with the exact Scala
    // double interpolated into the oracle, so the boundary is bit-equal
    // across engines.
    Q(
      "q_ann_range",
      "exact radius search: every vector within L2 distance 1.2 of the probe",
      (s, dir) => {
        val base = graft.store.Scratch.dir("graft_ivf_rngq")
        val idx = new IvfIndex(s, base, numCells = 16)
        val vectors = tbl(s, dir, "embeddings")
          .select(col("vec_id").as("id"), col("embedding").as("emb"))
        idx.build(vectors)
        val qe = vectors.filter(col("id") === 0).head().getSeq[Float](1).toArray
        idx.rangeSearch(qe, radius = RangeRadius)
          .select(col("id"), round(col("distance"), 6).as("dist"))
      },
      Some {
        val d = OracleSql.l2Sq("e.embedding", "probe.qe")
        val r2 = java.lang.Double.toString(RangeRadius * RangeRadius)
        s"""WITH probe AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0)
           |SELECT e.vec_id AS id, round($d, 6) AS dist
           |FROM embeddings e CROSS JOIN probe
           |WHERE $d <= $r2
           |ORDER BY $d ASC, e.vec_id""".stripMargin
      }),

    // EXACT all-pairs-within-radius similarity SELF-JOIN over the IVF
    // layout — the near-duplicate join primitive: the qualifying cell-pair
    // frame (d(centroids) - r_a - r_b <= radius) broadcasts, the row
    // pairing is an equi-join on the cell key, so total compute is the sum
    // of qualifying block products instead of N²/2. Run within a filtered
    // slice (`where` on both sides) to show predicate composition; the
    // oracle is the brute pair join over the same slice.
    Q(
      "q_ann_self_join",
      "exact near-dup self-join: every pair within L2 1.2 in a 1/8 corpus slice",
      (s, dir) => {
        val base = graft.store.Scratch.dir("graft_ivf_sjq")
        val idx = new IvfIndex(s, base, numCells = 16)
        val vectors = tbl(s, dir, "embeddings")
          .select(col("vec_id").as("id"), col("embedding").as("emb"))
        idx.build(vectors)
        idx.selfJoinWithin(RangeRadius, where = Some(col("id") % 8 === 0))
          .select(col("id_l"), col("id_r"), round(col("distance"), 6).as("dist"))
      },
      Some {
        val d = OracleSql.l2Sq("a.embedding", "b.embedding")
        val r2 = java.lang.Double.toString(RangeRadius * RangeRadius)
        s"""SELECT a.vec_id AS id_l, b.vec_id AS id_r, round($d, 6) AS dist
           |FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
           |WHERE a.vec_id % 8 = 0 AND b.vec_id % 8 = 0 AND $d <= $r2
           |ORDER BY id_l, id_r""".stripMargin
      }),

    // EXACT index range JOIN — rangeSearch with a DataFrame of probes
    // (the decontamination shape: drop from a corpus everything within a
    // radius of any benchmark row). Candidate (probe, cell) pairs come
    // from a broadcast of the numCells-row centroid+radius metadata under
    // the probe scan; nothing is per-probe on the driver.
    Q(
      "q_ann_range_join",
      "index range join: all corpus rows within L2 1.2 of each of ~1% probes",
      (s, dir) => {
        val base = graft.store.Scratch.dir("graft_ivf_rjq")
        val idx = new IvfIndex(s, base, numCells = 16)
        val vectors = tbl(s, dir, "embeddings")
          .select(col("vec_id").as("id"), col("embedding").as("emb"))
        idx.build(vectors)
        val probes = tbl(s, dir, "embeddings")
          .filter(col("vec_id") % 101 === 0)
          .select(col("vec_id").as("qid"), col("embedding").as("qe"))
        idx.rangeJoin(probes, RangeRadius)
          .select(col("qid"), col("id"), round(col("distance"), 6).as("dist"))
      },
      Some {
        val d = OracleSql.l2Sq("e.embedding", "p.embedding")
        val r2 = java.lang.Double.toString(RangeRadius * RangeRadius)
        s"""SELECT p.vec_id AS qid, e.vec_id AS id, round($d, 6) AS dist
           |FROM embeddings p JOIN embeddings e ON $d <= $r2
           |WHERE p.vec_id % 101 = 0
           |ORDER BY qid, id""".stripMargin
      })
  )

  /** DuckDB replay of `IvfIndex.build` + the probe-cell choice, shared by
    * the IVF probe oracles: farthest-first seeding (recursive CTE) + the
    * unrolled quantized-Lloyd rounds + final assignment + the probe's
    * nprobe=4 cell list. Exposes CTEs `dims, cent, probe, ranked, assign,
    * pcells` to the caller's tail; with `extraCte` the tail may open with
    * its own CTE definitions (it is appended after a comma). */
  private def ivfProbeOracle(tail: String, extraCte: Boolean = false): String = {
        val iters = IvfIndex.TrainIters
        val scale = graft.operators.KMeans.QuantScale // 2^20, emitted as literal
        // One Lloyd round, unrolled: assign to c<t> (argmin L2, ties to the
        // lowest cid), per-(cell, dim) integer sums of round(x * 2^20)
        // (exact and order-independent — matches the Spark side's long-sum
        // aggregate), means re-assembled in dim order, empty cells keeping
        // their previous centroid.
        def round(t: Int): String = {
          val dAssign = OracleSql.l2Sq("e.embedding", "c.cemb")
          s"""a$t AS MATERIALIZED (
             |  SELECT vec_id, embedding, cid AS cell FROM (
             |    SELECT e.vec_id, e.embedding, c.cid,
             |           row_number() OVER (PARTITION BY e.vec_id ORDER BY $dAssign, c.cid) AS rn
             |    FROM embeddings e CROSS JOIN c$t c) WHERE rn = 1),
             |s$t AS (
             |  SELECT a.cell, dm.d,
             |         CAST(sum(CAST(round(CAST(a.embedding[dm.d] AS DOUBLE) * $scale) AS BIGINT)) AS BIGINT) AS q,
             |         count(*) AS n
             |  FROM a$t a CROSS JOIN dims dm GROUP BY a.cell, dm.d),
             |m$t AS (
             |  SELECT cell, list(CAST(CAST(q AS DOUBLE) / ($scale * n) AS FLOAT) ORDER BY d) AS cemb
             |  FROM s$t GROUP BY cell),
             |c${t + 1} AS MATERIALIZED (
             |  SELECT c.cid, coalesce(m.cemb, c.cemb) AS cemb
             |  FROM c$t c LEFT JOIN m$t m ON m.cell = c.cid)""".stripMargin
        }
        val dAssignF = OracleSql.l2Sq("e.embedding", "c.cemb")
        val dCent = OracleSql.l2Sq("cent.cemb", "probe.qe")
        val dSeed = OracleSql.l2Sq("e.embedding", "p.embedding")
        // farthest-first seed selection replayed as a recursive CTE (the
        // growing seed set carried as a list, like the MMR oracle); the
        // correlated subqueries reference the raw table, NOT materialized
        // CTEs (DuckDB 1.0 silently breaks that correlation)
        s"""WITH RECURSIVE dims AS (SELECT unnest(range(1, ${AnnQueries.EmbDim + 1})) AS d),
           |seedwalk AS (
           |  SELECT 1 AS step, [CAST((SELECT min(vec_id) FROM embeddings) AS BIGINT)] AS sids
           |  UNION ALL
           |  SELECT s.step + 1, list_append(s.sids, w.vid)
           |  FROM seedwalk s, LATERAL (
           |    SELECT e.vec_id AS vid
           |    FROM embeddings e
           |    WHERE NOT list_contains(s.sids, e.vec_id)
           |    ORDER BY (SELECT min($dSeed) FROM embeddings p
           |              WHERE list_contains(s.sids, p.vec_id)) DESC, e.vec_id
           |    LIMIT 1) w
           |  WHERE s.step < 16),
           |c0 AS MATERIALIZED (
           |  SELECT vec_id AS cid, embedding AS cemb FROM embeddings
           |  WHERE vec_id IN (SELECT unnest(sids) FROM seedwalk WHERE step = 16)),
           |${(0 until iters).map(round).mkString(",\n")},
           |cent AS MATERIALIZED (SELECT cid, cemb FROM c$iters),
           |probe AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
           |ranked AS (
           |  SELECT e.vec_id, e.embedding, c.cid,
           |         row_number() OVER (PARTITION BY e.vec_id ORDER BY $dAssignF, c.cid) AS rn
           |  FROM embeddings e CROSS JOIN cent c),
           |assign AS (SELECT vec_id, embedding, cid AS cell FROM ranked WHERE rn = 1),
           |pcells AS MATERIALIZED (SELECT cid FROM cent CROSS JOIN probe ORDER BY $dCent, cid LIMIT 4)${if (extraCte) "," else ""}
           |$tail""".stripMargin
  }
}
