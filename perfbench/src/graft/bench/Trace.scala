package graft.bench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One call into a layer: name, wall interval, the span that caused it and
  * the request it belongs to. `phase` says whether it ran during set-up or
  * during the timed loop. */
final class Span(val id: Long, val name: String, val parent: Long,
                 val request: Long, val phase: String,
                 val startNs: Long, val startMs: Long) {
  @volatile var endNs: Long = startNs
  @volatile var endMs: Long = startMs
  def ms: Double = (endNs - startNs) / 1e6
}

/** One Spark job, attributed to the span whose job group launched it. */
final class JobRec(val jobId: Int, val span: Long, val startMs: Long) {
  @volatile var endMs: Long = -1L
  val tasks = new AtomicLong
  val taskBusyMs = new AtomicLong
  val shuffleBytes = new AtomicLong
  val recordsRead = new AtomicLong
}

/** Bench-side span recorder. With tracing off, `span` only times the body
  * (the end-to-end numbers need the latency); with tracing on it also
  * keeps the span, sets the calling thread's Spark job group to the span
  * so a listener can attribute jobs, tasks, task time, shuffle bytes and
  * input rows to it. */
final class Tracer(sc: SparkContext, val enabled: Boolean) {
  private val ids = new AtomicLong(1L)
  private val current = new ThreadLocal[Span]
  val spans = new ConcurrentLinkedQueue[Span]()
  val jobs = new ConcurrentHashMap[Int, JobRec]()
  private val stageJob = new ConcurrentHashMap[Int, JobRec]()
  @volatile var phase: String = "setup"

  private val Group = "bench-span-"

  private object Listener extends SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val group = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      val span = group.filter(_.startsWith(Group)).map(_.stripPrefix(Group).toLong).getOrElse(0L)
      val j = new JobRec(e.jobId, span, e.time)
      jobs.put(e.jobId, j)
      e.stageIds.foreach(s => stageJob.put(s, j))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(stageJob.get(e.stageId)).foreach { j =>
        j.tasks.incrementAndGet()
        Option(e.taskMetrics).foreach { m =>
          j.taskBusyMs.addAndGet(m.executorRunTime)
          j.shuffleBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
          j.recordsRead.addAndGet(m.inputMetrics.recordsRead)
        }
      }
  }

  if (enabled) sc.addSparkListener(Listener)

  /** Run `body` as a span named `name`; returns its result and wall ms. */
  def span[A](name: String, request: Long = -1L)(body: => A): (A, Double) =
    if (!enabled) {
      val t0 = System.nanoTime()
      val r = body
      (r, (System.nanoTime() - t0) / 1e6)
    } else {
      val parent = current.get()
      val req = if (request >= 0) request else if (parent != null) parent.request else -1L
      val s = new Span(ids.getAndIncrement(), name, if (parent == null) 0L else parent.id,
        req, phase, System.nanoTime(), System.currentTimeMillis())
      current.set(s)
      sc.setJobGroup(Group + s.id, name, interruptOnCancel = false)
      val r = try body finally {
        s.endNs = System.nanoTime()
        s.endMs = System.currentTimeMillis()
        current.set(parent)
        if (parent == null) sc.clearJobGroup()
        else sc.setJobGroup(Group + parent.id, parent.name, interruptOnCancel = false)
        spans.add(s)
      }
      (r, s.ms)
    }

  /** Wait until the listener bus has delivered the end of every job it
    * saw start (events are asynchronous), bounded so a lost event cannot
    * hang the run. */
  def drain(): Unit = if (enabled) {
    val deadline = System.nanoTime() + 10000000000L
    var quietSince = System.nanoTime()
    var lastSeen = -1
    while (System.nanoTime() < deadline &&
      (jobs.values().stream().anyMatch(_.endMs < 0) ||
        System.nanoTime() - quietSince < 300000000L)) {
      val n = jobs.size()
      if (n != lastSeen) { lastSeen = n; quietSince = System.nanoTime() }
      Thread.sleep(50)
    }
  }
}
