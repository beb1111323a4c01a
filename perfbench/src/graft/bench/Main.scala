package graft.bench

import org.apache.spark.sql.SparkSession

import scala.jdk.CollectionConverters._

/** Entry point: `graft.bench.Main --workload <serve|attack> --seed <n>
  * --seconds <s> --trace <0|1> --out <dir> --work <dir>`. Prints one JSON
  * result as its last stdout line; writes a detailed report (box state,
  * sample counts, failures by op, set-up reps) and, when traced, every span
  * under `--out`. */
object Main {
  val Workloads: Seq[String] = Seq("serve", "attack")

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val workload = args("workload")
    require(Workloads.contains(workload), s"unknown workload $workload; one of ${Workloads.mkString(", ")}")
    val seed = args("seed").toLong
    val seconds = args("seconds").toInt
    val traced = args("trace") == "1"
    val out = args("out")
    val work = args("work")

    val box = Box.start()
    val cpus = Runtime.getRuntime.availableProcessors
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    try {
      val tracer = new Tracer(spark.sparkContext, traced)
      val run = new Run(spark, tracer, new Inputs(seed), s"$work/stores", seconds)
      val o = workload match {
        case "serve" => Serve.run(run)
        case "attack" => Attack.run(run, out)
      }
      run.phase("report")
      tracer.drain()
      val storedBytes = Box.bytesUnder(new java.io.File(o.storeDir))
      val e2e = Report.endToEnd(o, storedBytes)
      val layers = if (traced) Report.perLayer(tracer, o) else Seq.empty
      val failed = run.failed
      val boxEnd = box.end()
      val id = s"$workload-s$seed-t${if (traced) 1 else 0}"
      if (traced) Report.writeSpans(tracer, s"$out/traces/$workload-s$seed.jsonl")
      val overhead =
        if (traced) Report.overhead(e2e, s"$out/results/$workload-s$seed-t0.json") else Map.empty[String, Double]
      Report.writeDetail(s"$out/results/$id.json", workload, seed, seconds, o, e2e, layers,
        failed, run.attempted.get, boxEnd, overhead)
      failed.groupBy(_._1).toSeq.sortBy(_._1).foreach { case (op, fs) =>
        System.err.println(s"[perfbench] FAILED $op x${fs.length}: ${fs.head._2}")
      }
      System.err.println(s"[perfbench] box $boxEnd")
      val metrics = if (traced) layers else e2e
      println(Report.resultLine(failed.isEmpty, run.attempted.get, run.failedOps, metrics))
      Console.out.flush(); System.out.flush(); System.err.flush()
    } catch {
      case e: Throwable =>
        e.printStackTrace()
        System.err.flush()
        Runtime.getRuntime.halt(1)
    }
    // the result is out and the caller removes the work directory: end the
    // JVM without Spark's shutdown, which takes seconds and changes nothing
    Runtime.getRuntime.halt(0)
  }
}

/** The machine's state over a run, recorded so a contended run can be told
  * apart from a regression: processors, load average at start and end,
  * and the steal and busy shares of CPU time from /proc/stat. */
final class Box private (loadStart: Double, statStart: Option[Array[Long]]) {
  def end(): Map[String, Double] = {
    val (steal, busy) = (statStart, Box.procStat()) match {
      case (Some(a), Some(b)) if a.length >= 8 && b.length >= 8 =>
        val d = b.zip(a).map { case (x, y) => (x - y).toDouble }
        val tot = math.max(d.sum, 1.0)
        (100.0 * d(7) / tot, 100.0 * (tot - d(3) - d(4)) / tot)
      case _ => (-1.0, -1.0)
    }
    Map("nproc" -> Runtime.getRuntime.availableProcessors.toDouble,
      "load_start" -> loadStart, "load_end" -> Box.loadAvg(),
      "steal_pct" -> steal, "busy_pct" -> busy)
  }
}

object Box {
  def start(): Box = new Box(loadAvg(), procStat())

  def loadAvg(): Double =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage

  /** First line of /proc/stat: user nice system idle iowait irq softirq steal. */
  def procStat(): Option[Array[Long]] =
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      try Some(src.getLines().next().split("\\s+").drop(1).map(_.toLong)) finally src.close()
    } catch { case _: Exception => None }

  def files(f: java.io.File): Iterator[java.io.File] =
    if (f.isDirectory) Option(f.listFiles()).iterator.flatMap(_.iterator).flatMap(files)
    else if (f.isFile) Iterator(f) else Iterator.empty

  def bytesUnder(f: java.io.File): Long = files(f).map(_.length).sum

  def rmTree(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rmTree))
    f.delete(): Unit
  }
}

/** Turns an [[Outcome]] and the tracer's spans into metrics. */
object Report {
  type MetricRows = Seq[(String, Double, String)]

  /** The gated metrics: work and space a user pays for, which CPU time the
    * host steals from the box leaves nearly unchanged. */
  def endToEnd(o: Outcome, storedBytes: Long): MetricRows = Seq(
    ("setup_s", Metrics.median(o.setupMs) / 1000.0, "s"),
    ("cpu_ms_per_call", o.timedCpuMs / o.mixCalls, "ms"),
    ("answer_quality", o.quality, "ratio"),
    ("stored_bytes_per_user_byte", storedBytes.toDouble / o.userBytes, "ratio"),
    ("heap_live_mb", o.heapMb, "MB"))

  /** Wall-clock latency and rate of the primary calls. They follow the
    * host's load (see README), so they are reported, not gated. */
  def wallClock(o: Outcome): MetricRows = Seq(
    ("call_p50_ms", Metrics.median(o.callMs), "ms"),
    ("call_p90_ms", Metrics.pct(o.callMs, 0.9), "ms"),
    ("calls_per_s", o.callMs.length / o.timedSeconds, "1/s"))

  /** Timed calls, by layer: p50_ms, busy_s, jobs_per_call, driver_ms_per_call. */
  val TimedOps: Seq[String] = Seq(
    "store.collection.query_ivf", "store.collection.query_where",
    "store.collection.query_graph", "store.collection.get",
    "store.encrypted.query_indexed", "store.encrypted.extract_secure",
    "store.text.query_ranked", "store.text.boolean_query",
    "queries.hybrid_serve", "functions.embedder.embed_one",
    "attack.inversion.invert")

  /** Set-up calls: busy_s (per set-up) and jobs_per_call. */
  val SetupOps: Seq[String] = Seq(
    "functions.embedder.embed", "store.collection.add",
    "store.collection.attach_ivf", "store.collection.attach_graph",
    "store.text.build", "store.encrypted.store_indexed", "store.encrypted.store")

  /** Every per-layer metric, in order; a workload that never calls a layer
    * reports 0 for it. */
  def perLayer(t: Tracer, o: Outcome): MetricRows = {
    val spans = t.spans.asScala.toSeq
    val children = spans.groupBy(_.parent)
    val jobsOf = t.jobs.values().asScala.toSeq.groupBy(_.span)
    def subtree(s: Span): Seq[Span] = s +: children.getOrElse(s.id, Nil).flatMap(subtree)
    def jobs(s: Span): Seq[JobRec] = subtree(s).flatMap(x => jobsOf.getOrElse(x.id, Nil))
    def self(s: Span): Double = s.ms - children.getOrElse(s.id, Nil).map(_.ms).sum
    /** Span time covered by none of its jobs: work on the Spark driver. */
    def driverMs(s: Span): Double = {
      val iv = jobs(s).map(j => (math.max(j.startMs, s.startMs), math.min(if (j.endMs < 0) s.endMs else j.endMs, s.endMs)))
        .filter(p => p._2 > p._1).sortBy(_._1)
      var covered = 0L; var upTo = Long.MinValue
      iv.foreach { case (a, b) =>
        val from = math.max(a, upTo)
        if (b > from) { covered += b - from; upTo = b }
      }
      math.max(0.0, s.ms - covered)
    }
    def mean(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else xs.sum / xs.length
    val timed = spans.filter(_.phase == "timed").groupBy(_.name)
    val counted = spans.filter(s => s.phase == "timed" && s.request < o.countedRequests).groupBy(_.name)
    val setup = spans.filter(_.phase == "setup").groupBy(_.name)
    val reps = o.setupMs.length.max(1)

    val timedMetrics = TimedOps.flatMap { op =>
      val all = timed.getOrElse(op, Nil)
      val cnt = counted.getOrElse(op, Nil)
      Seq((s"$op.p50_ms", if (all.isEmpty) 0.0 else Metrics.median(all.map(_.ms)), "ms"),
        (s"$op.busy_s", all.map(self).sum / 1000.0, "s"),
        (s"$op.jobs_per_call", mean(cnt.map(jobs(_).length.toDouble)), "count"),
        (s"$op.driver_ms_per_call", mean(all.map(driverMs)), "ms"))
    }
    val setupMetrics = SetupOps.flatMap { op =>
      val all = setup.getOrElse(op, Nil)
      Seq((s"$op.busy_s", all.map(self).sum / 1000.0 / reps, "s"),
        (s"$op.jobs_per_call", mean(all.map(jobs(_).length.toDouble)), "count"))
    }
    def zeroJobFrac(op: String) = {
      val cnt = counted.getOrElse(op, Nil)
      (s"$op.zero_job_frac", mean(cnt.map(s => if (jobs(s).isEmpty) 1.0 else 0.0)), "ratio")
    }
    val rowsIn = {
      val cnt = counted.getOrElse("store.encrypted.query_indexed", Nil)
      ("store.encrypted.query_indexed.rows_in_per_call",
        mean(cnt.map(jobs(_).map(_.recordsRead.get).sum.toDouble)), "count")
    }
    // the scheduler underneath every layer, over the timed loop's window
    val (from, to) = timed.values.flatten match {
      case xs if xs.isEmpty => (0L, 0L)
      case xs => (xs.map(_.startMs).min, xs.map(_.endMs).max)
    }
    val window = t.jobs.values().asScala.toSeq.filter(j => j.startMs >= from && j.startMs <= to)
    val spark = Seq(
      ("spark.jobs", window.length.toDouble, "count"),
      ("spark.tasks", window.map(_.tasks.get).sum.toDouble, "count"),
      ("spark.task_busy_s", window.map(_.taskBusyMs.get).sum / 1000.0, "s"),
      ("spark.shuffle_bytes", window.map(_.shuffleBytes.get).sum.toDouble, "bytes"))
    val io = Seq(("store.io.files_on_disk", Box.files(new java.io.File(o.storeDir)).length.toDouble, "count"))
    wallClock(o).map { case (n, v, u) => (s"request.$n", v, u) } ++ timedMetrics ++
      Seq(zeroJobFrac("store.collection.query_ivf"), zeroJobFrac("store.collection.query_graph"),
        rowsIn) ++ setupMetrics ++ spark ++ io
  }

  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.math.BigDecimal.valueOf(v).toPlainString

  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"; case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""

  def metricsJson(ms: MetricRows): String =
    ms.map { case (n, v, u) => s"${str(n)}: {${str("value")}: ${num(v)}, ${str("unit")}: ${str(u)}}" }
      .mkString("{", ", ", "}")

  def resultLine(correct: Boolean, attempted: Long, failed: Int, ms: MetricRows): String =
    s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": ${metricsJson(ms)}}"""

  /** Traced minus untraced value per end-to-end metric, when the untraced
    * run at the same seed left its report in this checkout. */
  def overhead(traced: MetricRows, untracedReport: String): Map[String, Double] = {
    import graft.functions.ChromaWhere._
    val f = new java.io.File(untracedReport)
    if (!f.exists()) return Map.empty
    val untraced = parseJson(new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")) match {
      case JObj(fs) => fs.collectFirst { case ("end_to_end", JObj(ms)) => ms }.getOrElse(Vector.empty)
        .collect { case (n, JObj(v)) => n -> v.collectFirst {
          case ("value", JDbl(x)) => x
          case ("value", JInt(x)) => x.toDouble
        } }
        .collect { case (n, Some(x)) => n -> x }.toMap
      case _ => Map.empty[String, Double]
    }
    traced.collect { case (n, v, _) if untraced.contains(n) => n -> (v - untraced(n)) }.toMap
  }

  def writeDetail(path: String, workload: String, seed: Long, seconds: Int, o: Outcome,
                  e2e: MetricRows, layers: MetricRows, failed: Seq[(String, String)],
                  attempted: Long, box: Map[String, Double], overhead: Map[String, Double]): Unit = {
    val byOp = failed.groupBy(_._1).toSeq.sortBy(_._1).map { case (op, fs) =>
      s"${str(op)}: {${str("count")}: ${fs.length}, ${str("first")}: ${str(fs.head._2)}}"
    }.mkString("{", ", ", "}")
    def obj(m: Map[String, Double]) = m.toSeq.sortBy(_._1).map { case (k, v) => s"${str(k)}: ${num(v)}" }.mkString("{", ", ", "}")
    val json =
      s"""{${str("workload")}: ${str(workload)}, ${str("seed")}: $seed, ${str("seconds")}: $seconds,
         |${str("end_to_end")}: ${metricsJson(e2e)},
         |${str("per_layer")}: ${metricsJson(layers)},
         |${str("wall_clock")}: ${metricsJson(wallClock(o))},
         |${str("samples")}: {${str("calls")}: ${o.callMs.length}, ${str("setup_reps")}: ${o.setupMs.length}},
         |${str("call_ms")}: ${o.callMs.map(num).mkString("[", ", ", "]")},
         |${str("setup_ms")}: ${o.setupMs.map(num).mkString("[", ", ", "]")},
         |${str("attempted")}: $attempted, ${str("failed_by_op")}: $byOp,
         |${str("box")}: ${obj(box)},
         |${str("trace_overhead")}: ${obj(overhead)}}
         |""".stripMargin
    val f = new java.io.File(path)
    f.getParentFile.mkdirs()
    java.nio.file.Files.write(f.toPath, json.getBytes("UTF-8")): Unit
  }

  /** Every span, one JSON object per line, written once at the end. */
  def writeSpans(t: Tracer, path: String): Unit = {
    val spans = t.spans.asScala.toSeq.sortBy(_.startNs)
    val children = spans.groupBy(_.parent)
    val jobsOf = t.jobs.values().asScala.toSeq.groupBy(_.span)
    val lines = spans.map { s =>
      val self = s.ms - children.getOrElse(s.id, Nil).map(_.ms).sum
      val js = jobsOf.getOrElse(s.id, Nil)
      s"""{"id": ${s.id}, "name": ${str(s.name)}, "parent": ${s.parent}, "request": ${s.request}, """ +
        s""""phase": ${str(s.phase)}, "start_ms": ${s.startMs}, "end_ms": ${s.endMs}, "ms": ${num(s.ms)}, """ +
        s""""self_ms": ${num(self)}, "jobs": ${js.length}, "tasks": ${js.map(_.tasks.get).sum}}"""
    }
    val f = new java.io.File(path)
    f.getParentFile.mkdirs()
    java.nio.file.Files.write(f.toPath, lines.mkString("", "\n", "\n").getBytes("UTF-8")): Unit
  }
}
