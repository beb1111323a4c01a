package graft.bench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import graft.functions.HashEmbedder
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

import scala.jdk.CollectionConverters._

/** What a workload hands back for the end-to-end metrics. Latencies in ms. */
final case class Outcome(
    setupMs: Seq[Double],
    callMs: Seq[Double],
    /** Calls the CPU time is divided by: serve counts its requests at the
      * schedule's mix, attack its targets. */
    mixCalls: Double,
    timedSeconds: Double,
    /** JVM CPU time (all threads) spent during the timed loop, ms. */
    timedCpuMs: Double,
    /** JVM heap in use after a forced full GC at the end of the timed loop. */
    heapMb: Double,
    quality: Double,
    storeDir: String,
    userBytes: Long,
    /** Timed calls a count statistic may use: ids of the first requests,
      * a fixed number, so traced counts repeat exactly at a seed. */
    countedRequests: Long)

/** The state one benchmark run shares with its workload: the session, the
  * tracer, the seeded inputs, a scratch root inside the checkout and the
  * correctness ledger. */
final class Run(val spark: SparkSession, val tracer: Tracer, val inputs: Inputs,
                val root: String, val seconds: Int) {
  /** The embedder every workload uses: the hermetic 64-dim hash kernel. */
  val embedder: HashEmbedder = HashEmbedder(64)

  val attempted = new AtomicLong
  private val failures = new ConcurrentLinkedQueue[(String, String, String)]()

  /** Record why an operation failed: `op` is the span name of the call,
    * `subject` names the operation (its query or target). */
  def fail(op: String, subject: String, why: String): Unit = failures.add((op, subject, why)): Unit
  /** Failure reasons by op, as "subject: why". */
  def failed: Seq[(String, String)] =
    failures.asScala.toSeq.map { case (op, subject, why) => op -> s"$subject: $why" }
  /** Requests or targets that failed, each counted once however many
    * checks it failed. */
  def failedOps: Int = failures.asScala.map(_._2).toSet.size

  /** The corpus as (doc_id, text, lang, source). */
  def corpusFrame: DataFrame =
    spark.createDataFrame(Inputs.corpus.map(d => (d.id, d.text, d.lang, d.source)))
      .toDF("doc_id", "text", "lang", "source")

  /** Embed the corpus into collection rows (id, doc, meta, emb) and
    * materialize them, so the store writes that follow read a checkpoint
    * instead of re-running the embed stage. */
  def embeddedCorpus(): DataFrame =
    tracer.span("functions.embedder.embed") {
      embedder.embed(corpusFrame, "text", "emb")
        .select(col("doc_id").cast("string").as("id"), col("text").as("doc"),
          map(lit("lang"), col("lang"), lit("source"), col("source")).as("meta"),
          col("emb"))
        .localCheckpoint()
    }._1

  /** User bytes of the corpus: UTF-8 text + 4 bytes per dimension + meta. */
  def userBytes: Long = Inputs.corpus.map { d =>
    d.text.getBytes("UTF-8").length.toLong + 4L * embedder.dim +
      "lang".length + d.lang.length + "source".length + d.source.length
  }.sum

  /** Embeddings of the corpus computed outside Spark, by id (the gate's
    * ground truth). */
  lazy val truth: IndexedSeq[Array[Float]] = Inputs.corpus.map(d => embedder.embedOne(d.text))

  /** Run `setup` `reps` times, each into its own directory; every rep but
    * the last is removed once the next one is built. Returns the last
    * rep's result and every rep's wall time. */
  def setUp[A](reps: Int)(setup: String => A): (A, Seq[Double]) = {
    phase("setup")
    val times = scala.collection.mutable.ArrayBuffer.empty[Double]
    var last: Option[(A, String)] = None
    (0 until reps).foreach { i =>
      val dir = s"$root/setup-$i"
      val t0 = System.nanoTime()
      val a = setup(dir)
      times += (System.nanoTime() - t0) / 1e6
      last.foreach { case (_, d) => Box.rmTree(new java.io.File(d)) }
      last = Some(a -> dir)
    }
    (last.get._1, times.toSeq)
  }

  private val born = System.nanoTime()

  /** Enter a phase (setup, warmup, timed, gate); logged with its start. */
  def phase(name: String): Unit = {
    tracer.phase = name
    System.err.println(f"phase $name at ${(System.nanoTime() - born) / 1e9}%.1f s")
  }

  /** CPU time of the whole JVM so far, ms. Time the host steals from the
    * machine does not count, so a contended box inflates it far less than
    * wall time. */
  def cpuMs(): Double =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime / 1e6

  def deadline(): Long = System.nanoTime() + seconds * 1000000000L

  /** Heap in use after a full GC. The pause between two collections lets
    * Spark's context cleaner drop the blocks of unreachable RDDs and
    * broadcasts (earlier set-ups' among them) that the first one found. */
  def heapAfterGc(): Double = {
    val mem = java.lang.management.ManagementFactory.getMemoryMXBean
    (0 until 3).foreach { _ => System.gc(); Thread.sleep(700) }
    System.gc()
    mem.getHeapMemoryUsage.getUsed / 1048576.0
  }
}

object Metrics {
  /** Nearest-rank percentile of an unsorted sample. */
  def pct(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      s(math.min(s.length - 1, math.max(0, math.ceil(p * s.length).toInt - 1)))
    }

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      if (s.length % 2 == 1) s(s.length / 2) else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
    }

  def l2sq(a: Array[Float], b: Array[Float]): Double = {
    var s = 0.0; var i = 0
    while (i < a.length) { val d = a(i).toDouble - b(i).toDouble; s += d * d; i += 1 }
    s
  }
}
