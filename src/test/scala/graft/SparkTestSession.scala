package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for all suites (object = JVM-wide singleton). */
object SparkTestSession {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-test")
    .withExtensions(new graft.GraftExtensions)
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    // pin the FRAME lanes in every suite: the DF serving routes dispatch
    // driver-sized panels to their Seq twins by default (PanelDispatch),
    // which would turn every frame-route parity/plan assertion into a
    // trivially-true Seq-vs-Seq check — tests that want the dispatch set
    // the conf per-test (PanelDispatchSpec)
    .config(graft.store.PanelDispatch.FloorKey, "0")
    .getOrCreate()
}

trait SparkTest {
  lazy val spark: SparkSession = {
    val s = SparkTestSession.spark
    s.sparkContext.setLogLevel("WARN")
    s
  }
  def sf0001 = "/root/testdata/sf0.001"
  def sf001 = "/root/testdata/sf0.01"

  /** Run `body` under the hot-tier admission budget `bytes`
    * (`graft.hot.maxBytes`); 1 forces every routed entry onto its Spark
    * route. */
  def withHotBudget[A](bytes: Long)(body: => A): A = {
    val prev = System.getProperty("graft.hot.maxBytes")
    System.setProperty("graft.hot.maxBytes", bytes.toString)
    try body
    finally {
      if (prev == null) System.clearProperty("graft.hot.maxBytes")
      else System.setProperty("graft.hot.maxBytes", prev)
    }
  }

  /** Run `check` on the routed entries as they are (hot inside the
    * budget), then again with every entry forced onto its Spark route. */
  def onBothRoutes(check: => Unit): Unit = { check; withHotBudget(1L)(check) }
}
