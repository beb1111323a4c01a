package graft.store

import graft.SparkTest
import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

/**
 * Crash matrix for the [[StoreIO.commitStaged]] publish protocol: a
 * multi-output commit interrupted at ANY point must leave readers with
 * all-old or all-new after the next [[StoreIO.recover]] — never a mix.
 * Each test constructs the exact on-disk state a crash at that point
 * leaves behind, then recovers and asserts atomicity.
 */
class StoreIOSpec extends AnyFunSuite with SparkTest {

  private def tmp(): String =
    graft.store.Scratch.dir("graft_sio")

  private def write(n: Int, dest: String): Unit = {
    import spark.implicits._
    (1 to n).map(i => (i.toLong, s"v$i")).toDF("id", "v")
      .write.mode("overwrite").parquet(dest)
  }

  private def rows(path: String): Long = spark.read.parquet(path).count()

  /** Live state: destA=1 row, destB=2 rows. New state: 3 and 4 rows. */
  private def fixture(): (String, String, String, String) = {
    val base = tmp()
    val (a, b) = (s"$base/a", s"$base/b")
    write(1, a); write(2, b)
    (base, a, b, s"$base/_commit")
  }

  test("crash BEFORE the marker: live state untouched, stale stages inert") {
    val (base, a, b, marker) = fixture()
    // both stages written (one even complete) but no marker — the commit
    // never happened; recover must not publish anything
    write(3, s"$base/stage_a")
    write(4, s"$base/stage_b")
    StoreIO.recover(marker)
    assert(rows(a) == 1 && rows(b) == 2, "pre-marker crash must keep old state")
  }

  test("crash AFTER the marker, before any rename: recover publishes both") {
    val (base, a, b, marker) = fixture()
    write(3, s"$base/stage_a")
    write(4, s"$base/stage_b")
    java.nio.file.Files.write(java.nio.file.Paths.get(marker),
      s"$base/stage_a\t$a\n$base/stage_b\t$b".getBytes("UTF-8"))
    StoreIO.recover(marker)
    assert(rows(a) == 3 && rows(b) == 4, "post-marker crash must roll forward")
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(marker)))
  }

  test("crash BETWEEN the renames: recover finishes the remaining swap") {
    val (base, a, b, marker) = fixture()
    write(4, s"$base/stage_b")
    // dest a already swapped (stage gone, new data live), b still staged
    write(3, a)
    java.nio.file.Files.write(java.nio.file.Paths.get(marker),
      s"$base/stage_a\t$a\n$base/stage_b\t$b".getBytes("UTF-8"))
    StoreIO.recover(marker)
    assert(rows(a) == 3 && rows(b) == 4, "mid-rename crash must roll forward")
  }

  test("crash after all renames, before marker delete: recover is a no-op clear") {
    val (base, a, b, marker) = fixture()
    write(3, a); write(4, b)
    java.nio.file.Files.write(java.nio.file.Paths.get(marker),
      s"$base/stage_a\t$a\n$base/stage_b\t$b".getBytes("UTF-8"))
    StoreIO.recover(marker)
    assert(rows(a) == 3 && rows(b) == 4)
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(marker)))
  }

  test("a parked __old copy from a crashed legacy swap is cleaned up") {
    val (base, a, _, marker) = fixture()
    // legacy (dest-only) marker line: live parked at __old, stage complete
    require(new java.io.File(a).renameTo(new java.io.File(s"${a}__old")))
    write(3, s"${a}__stage")
    java.nio.file.Files.write(java.nio.file.Paths.get(marker), a.getBytes("UTF-8"))
    StoreIO.recover(marker)
    assert(rows(a) == 3)
    assert(!new java.io.File(s"${a}__old").exists(), "parked copy must clear")
    assert(!new java.io.File(s"${a}__stage").exists())
  }

  test("two concurrent recovers of the same crashed commit both succeed") {
    val (base, a, b, marker) = fixture()
    write(3, s"$base/stage_a")
    write(4, s"$base/stage_b")
    java.nio.file.Files.write(java.nio.file.Paths.get(marker),
      s"$base/stage_a\t$a\n$base/stage_b\t$b".getBytes("UTF-8"))
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val threads = (1 to 2).map { _ =>
      new Thread(() =>
        try StoreIO.recover(marker)
        catch { case t: Throwable => errs.add(t): Unit })
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    assert(errs.isEmpty, s"concurrent recover threw: ${errs.toArray.mkString(", ")}")
    assert(rows(a) == 3 && rows(b) == 4)
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(marker)))
  }

  test("an interrupted parallel commit awaits every writer and stays all-old or all-new") {
    val (base, a, b, marker) = fixture()
    val started = new java.util.concurrent.CountDownLatch(2)
    val gate = new java.util.concurrent.CountDownLatch(1)
    val running = new java.util.concurrent.atomic.AtomicInteger(0)
    def writer(n: Int): String => Unit = st => {
      running.incrementAndGet()
      try { started.countDown(); gate.await(); write(n, st) }
      finally { running.decrementAndGet(); () }
    }
    @volatile var runningAtReturn = -1
    @volatile var thrown: Option[Throwable] = None
    @volatile var flagRestored = false
    val committer = new Thread(() => {
      try StoreIO.commitStagedParallel(Seq(
        StoreIO.Staged(s"$base/stage_a", a, writer(3)),
        StoreIO.Staged(s"$base/stage_b", b, writer(4))), marker)
      catch { case t: Throwable => thrown = Some(t) }
      runningAtReturn = running.get()
      flagRestored = Thread.currentThread().isInterrupted
    })
    committer.start()
    assert(started.await(60, java.util.concurrent.TimeUnit.SECONDS),
      "both stage writers must start")
    committer.interrupt()
    // a commit that stops waiting on the interrupt returns while both
    // writers are still parked on the gate
    committer.join(500)
    gate.countDown()
    committer.join(120000)
    assert(!committer.isAlive, "the commit must return once its writers finish")
    assert(runningAtReturn == 0, s"$runningAtReturn stage writer(s) still running at return")
    assert(thrown.exists(_.isInstanceOf[InterruptedException]),
      s"the interrupt must surface, got $thrown")
    assert(flagRestored, "the interrupt flag must be restored")
    StoreIO.recover(marker)
    val state = (rows(a), rows(b))
    assert(state == ((1L, 2L)) || state == ((3L, 4L)), s"mixed state after recover: $state")
  }

  test("dedupById keeps one deterministic row per id under shuffled input") {
    import spark.implicits._
    def run(df: DataFrame) =
      StoreIO.dedupById(df, Seq("v")).orderBy("id").collect().map(_.toSeq).toSeq
    val rowsIn = Seq((1L, "b"), (1L, "a"), (2L, "z"), (2L, "z"), (3L, "m"))
    val r1 = run(rowsIn.toDF("id", "v").repartition(4))
    val r2 = run(scala.util.Random.shuffle(rowsIn).toDF("id", "v").repartition(2))
    assert(r1 == r2, "the surviving row must not depend on shuffle layout")
    assert(r1.map(_.head) == Seq(1L, 2L, 3L))
    assert(r1.head(1) == "a", "ties order by the payload JSON — lowest wins")
  }
}
