package graft.store

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/**
 * Shared filesystem protocol for the store modules — ONE copy of the
 * recursive delete and the copy-on-write stage-and-swap publish used by
 * [[VectorStore]] rewrites, [[EncryptedStore]] key rotation, and
 * [[GraphIndex]] inserts, so a fix to the protocol (crash windows, rename
 * failure handling) lands everywhere at once.
 */
private[store] object StoreIO {

  /** The COMMITTED `batch=N` dirs under `root` (_SUCCESS present), sorted
    * by name — the shared snapshot rule for every batch-keyed index tree
    * ([[IvfIndex]], [[TextIndex]]): dirs a concurrent writer is mid-write
    * have no _SUCCESS yet and are skipped. */
  def committedBatchDirs(root: String): Array[java.io.File] =
    Option(new java.io.File(root).listFiles()).getOrElse(Array.empty)
      .filter(f => f.isDirectory && f.getName.startsWith("batch=") &&
        new java.io.File(f, "_SUCCESS").exists())
      .sortBy(_.getName)

  /** Is `dir` a COMMITTED batch dir (_SUCCESS present)? The shared replay
    * test for the batch-keyed appenders ([[IvfIndex]], [[TextIndex]],
    * EncryptedStore): only a dir whose write COMPLETED proves the batch's
    * rows predate any pending delete. A bare dir without _SUCCESS is a
    * crashed PARTIAL first delivery — its rows may be arbitrarily stale or
    * missing, so the re-delivery must re-run the tombstone re-add check
    * rather than inherit the replay exemption. */
  def isCommittedDir(dir: String): Boolean =
    new java.io.File(dir, "_SUCCESS").exists()

  /** Total on-disk bytes under `root` (0 when absent) — the cheap,
    * jobless size probe behind the hot-tier admission budget: file
    * lengths are driver-side metadata, so deciding "does this index fit
    * in one JVM?" costs a directory walk, never a Spark job. */
  def treeBytes(root: String): Long = {
    def walk(f: java.io.File): Long =
      if (f.isFile) f.length()
      else Option(f.listFiles()).map(_.foldLeft(0L)(_ + walk(_))).getOrElse(0L)
    walk(new java.io.File(root))
  }

  /** Exact PHYSICAL row count under `root` from parquet footer metadata —
    * the [[graft.queries.Registry.tblRows]] discipline on a store tree: an
    * upper bound on any LIVE subset (tombstoned and uncommitted rows only
    * ever shrink the served set), read as driver-side metadata with no
    * Spark job. The small-panel dispatch uses it as the sound static test
    * for "shortlist ≥ every probe's routed candidate population" (full-
    * shortlist parity preconditions). 0 when absent. */
  def footerRowCount(root: String): Long = {
    val conf = new org.apache.hadoop.conf.Configuration()
    def walk(f: java.io.File): Long =
      if (f.isFile && f.getName.endsWith(".parquet")) {
        val rd = org.apache.parquet.hadoop.ParquetFileReader.open(
          org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
            new org.apache.hadoop.fs.Path(f.getPath), conf))
        try rd.getRecordCount finally rd.close()
      } else if (f.isDirectory)
        Option(f.listFiles()).map(_.foldLeft(0L)(_ + walk(_))).getOrElse(0L)
      else 0L
    walk(new java.io.File(root))
  }

  /** Recursive LISTING fingerprint under `root` (names + mtimes + sizes,
    * name-sorted) — the publish-identity walk of the hot tiers and the
    * policy-sidecar fences: part filenames carry per-write UUIDs, so a
    * same-mtime-tick republish can never alias the previous state (the
    * exactness argument mtime-of-dir fingerprints lack). Driver-side
    * metadata walk, no Spark job; empty string when absent. */
  def treeFp(root: String): String = {
    val b = new StringBuilder
    def walk(x: java.io.File): Unit = {
      b.append(x.getName).append(':').append(x.lastModified).append(':')
        .append(if (x.isFile) x.length else -1L).append(';')
      if (x.isDirectory)
        Option(x.listFiles()).getOrElse(Array.empty).sortBy(_.getName).foreach(walk)
    }
    val f = new java.io.File(root)
    if (f.exists()) walk(f)
    b.toString
  }

  /** The hot-tier admission budget in bytes (default 1 GiB), read from
    * the JVM property `graft.hot.maxBytes`. The hot tiers pin a whole
    * index (Graph/IVF) or a growing term cache (Text) in JVM memory —
    * the right call for a serving-sized index, an OOM for a 100 TB one.
    * Routing consults this budget and falls back to the Spark pruned
    * path when the on-disk tree is larger; the EXPLICIT `hotQuery`
    * entry points stay available regardless (the caller opted in). */
  def hotBudgetBytes(): Long =
    java.lang.Long.parseLong(
      System.getProperty("graft.hot.maxBytes", (1L << 30).toString))

  /** Read a single long from a small text file — the tombstone replay
    * fence's high-water mark. `default` when the file doesn't exist (no
    * compaction has applied a tombstone yet). */
  def readLongFile(p: String, default: Long): Long = {
    val f = java.nio.file.Paths.get(p)
    if (!java.nio.file.Files.exists(f)) default
    else new String(java.nio.file.Files.readAllBytes(f),
      java.nio.charset.StandardCharsets.UTF_8).trim.toLong
  }

  /** Write a single long as a small text file (a [[Staged]] writer: the
    * stage-then-rename publish makes the update atomic like the dirs it
    * commits beside). */
  def writeLongFile(p: String, v: Long): Unit =
    java.nio.file.Files.write(java.nio.file.Paths.get(p),
      v.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8)): Unit

  /** Small text-file twins of read/writeLongFile — the schema sidecar a
    * compact publishes beside a possibly-footerless merged generation. */
  def writeStringFile(p: String, v: String): Unit =
    java.nio.file.Files.write(java.nio.file.Paths.get(p),
      v.getBytes(java.nio.charset.StandardCharsets.UTF_8)): Unit

  def readStringFile(p: String): Option[String] = {
    val f = java.nio.file.Paths.get(p)
    if (!java.nio.file.Files.exists(f)) None
    else Some(new String(java.nio.file.Files.readAllBytes(f),
      java.nio.charset.StandardCharsets.UTF_8))
  }

  /** Does any parquet footer exist under `f`? The guard every whole-tree
    * read shares: an all-tombstoned compact publishes a bare-_SUCCESS
    * generation schema inference cannot read — such a tree must serve
    * canonical-empty frames, not AnalysisExceptions. Jobless driver walk. */
  def hasParquetFooter(f: java.io.File): Boolean = {
    val kids = Option(f.listFiles()).getOrElse(Array.empty[java.io.File])
    kids.exists(k => k.isFile && k.getName.endsWith(".parquet")) ||
      kids.exists(k => k.isDirectory && hasParquetFooter(k))
  }

  /** Recursively HARDLINK `src` into `dest` — the snapshot primitive:
    * O(#files) metadata work, zero data copied, and because every publish
    * in this package replaces files by whole-directory rename (never
    * in-place mutation), the linked inodes stay immutable while the live
    * tree moves on. Skips writer-transient names (lease files, commit
    * markers, stage dirs): a snapshot is a READ view, and a hardlinked
    * commit marker would make a later recover() replay renames against
    * the LIVE tree's absolute paths. */
  def hardlinkTree(src: java.io.File, dest: java.io.File): Unit = {
    val name = src.getName
    if (name.startsWith("_writer_lease") || name == "_commit" ||
        name.contains("__stage")) return
    if (src.isDirectory) {
      dest.mkdirs()
      val kids = src.listFiles()
      if (kids != null)
        kids.foreach(c => hardlinkTree(c, new java.io.File(dest, c.getName)))
    } else
      java.nio.file.Files.createLink(dest.toPath, src.toPath): Unit
  }

  def rmTree(f: java.io.File): Unit = {
    if (f.isDirectory) {
      // listFiles returns null if the dir vanished (a concurrent recover
      // clearing the same parked copy) — nothing left to delete then
      val kids = f.listFiles()
      if (kids != null) kids.foreach(rmTree)
    }
    f.delete(): Unit
  }

  /** Align an incoming batch to an index's stored row schema — the ONE
    * shared guard for every batch-keyed store ([[IvfIndex.appendBatch]],
    * [[GraphIndex.insert]], tombstone appends): columns the batch doesn't
    * carry land as typed NULLs so every batch dir shares one schema;
    * columns in `required` must be present (NULL-filling an index's spine
    * would silently route rows to a never-probed NULL partition or
    * collapse them under compaction dedup); unknown batch columns are a
    * caller bug, rejected loudly; present columns CAST only when the cast
    * is LOSSLESS (`Cast.canUpCast`) — a plain cast is non-ANSI and NULLs
    * unparseable values, and a same-name-different-type dir breaks every
    * later multi-dir read. */
  def alignToSchema(batch: DataFrame,
                    stored: Seq[org.apache.spark.sql.types.StructField],
                    required: Seq[String]): DataFrame = {
    val known = stored.map(_.name).toSet
    val unknown = batch.columns.filterNot(known)
    require(unknown.isEmpty,
      s"batch columns not in the index schema: ${unknown.mkString(", ")}")
    val missingRequired = required.filterNot(batch.columns.contains)
    require(missingRequired.isEmpty,
      s"batch is missing required columns: ${missingRequired.mkString(", ")}")
    val batchTypes = batch.schema.fields.map(f => f.name -> f.dataType).toMap
    batch.select(stored.map { f =>
      batchTypes.get(f.name) match {
        case None => lit(null).cast(f.dataType).as(f.name)
        case Some(t) if t == f.dataType => col(f.name)
        case Some(t) =>
          require(org.apache.spark.sql.catalyst.expressions.Cast.canUpCast(t, f.dataType),
            s"batch column ${f.name} has type $t, index stores ${f.dataType} — not a lossless cast")
          col(f.name).cast(f.dataType).as(f.name)
      }
    }.toSeq: _*)
  }

  /** One surviving row per `id`, DETERMINISTIC under intra-batch repeats:
    * ties order by the JSON of the payload columns, so two runs of the same
    * pipeline keep the same row whatever the shuffle layout (repeats with
    * identical payloads pick identically by construction). Chroma raises on
    * duplicate ids in a batch; deduping keeps appends idempotent instead. */
  def dedupById(df: DataFrame, payloadCols: Seq[String]): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("id").orderBy(asc_nulls_first("__tie"))
    df.withColumn("__tie", to_json(struct(payloadCols.map(col): _*)))
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn", "__tie")
  }

  /** Materialize `df` to `<dest>__stage`, then atomically swap it in for
    * the live `dest` (old data parked at `<dest>__old` during the swap and
    * removed after). Readers of `dest` never see a half-written dir; a
    * crash between the two renames leaves the data recoverable in
    * `<dest>__old`. */
  def stageAndSwap(df: DataFrame, dest: String): Unit = {
    df.write.mode("overwrite").parquet(s"${dest}__stage")
    swapStaged(dest)
  }

  /** Swap a COMPLETED `<dest>__stage` in for `dest` (idempotent: a missing
    * stage means the swap already happened — just clear the parked copy). */
  private def swapStaged(dest: String): Unit = swapFrom(s"${dest}__stage", dest)

  /** Publish a caller-populated `<dest>__stage` directory (hardlinked
    * snapshot files, a restored index tree) through the same serialized
    * swap protocol as [[stageAndSwap]] — the stage MUST be complete when
    * called; readers see either all old or all new. */
  def publishStagedDir(dest: String): Unit = swapStaged(dest)

  /** Per-destination monitors: two concurrent recover()s (or a recover
    * racing a writer) replaying the same crashed commit in one JVM must not
    * interleave inside a swap — the `stage.exists()` check is otherwise a
    * TOCTOU window in which the loser can park the freshly published dest
    * at `__old` and fail. Serialized per dest, the loser re-checks under
    * the lock, sees the stage gone, and only clears the parked copy.
    * STRIPED (not per-path interned) so the lock table stays bounded over a
    * driver lifetime that touches many store paths; a hash collision only
    * serializes two unrelated swaps, never deadlocks (single lock held).
    * Cross-JVM writers are outside the protocol's contract (single driver
    * owns a store; recover() runs at open, on that driver). */
  private val swapLocks = Array.fill(64)(new Object)

  private def swapFrom(stagePath: String, dest: String): Unit = {
    val h = new java.io.File(dest).getAbsolutePath.hashCode
    val lock = swapLocks(((h % 64) + 64) % 64)
    lock.synchronized {
      val stage = new java.io.File(stagePath)
      val old = new java.io.File(s"${dest}__old")
      val live = new java.io.File(dest)
      if (stage.exists()) {
        // a stage publishing INTO a tree that doesn't exist yet (the first
        // tombstone batch under `_tombstones/`) needs its parent created —
        // rename into a missing parent fails
        Option(live.getParentFile).foreach(_.mkdirs())
        if (live.exists()) {
          rmTree(old)
          require(live.renameTo(old) || !live.exists(), s"could not park $dest")
        }
        require(stage.renameTo(live) || (live.exists() && !stage.exists()),
          s"could not publish staged $dest")
      }
      rmTree(old)
    }
  }

  /** One output of [[commitStaged]]: `write` materializes the data at
    * `stage`, which is renamed to `dest` once EVERY stage in the commit has
    * completed. The plain-replace form stages at the SIBLING
    * `<dest>__stage`; appends of a new partition dir INTO a live
    * partitioned tree (the [[GraphIndex]] delta epochs) must stage OUTSIDE
    * that tree — a `epoch=N__stage` dir nested under the root would be
    * picked up by a concurrent reader's partition discovery as a bogus
    * partition value mid-write. */
  final case class Staged(stage: String, dest: String, write: String => Unit)

  /** [[commitStaged]] with the STAGE WRITERS overlapped from a bounded
    * driver thread pool (guide §2.6: actions are only sequential because
    * the driver calls them sequentially) — one writer's driver-side gaps
    * (planning, codegen, file commit) backfill with another's tasks.
    * OPT-IN PER CALL SITE, never the default: some commits chain their
    * stages (IvfIndex.compact's radii stage reads the just-staged merged
    * parquet), and only the caller knows its writers are independent.
    * The crash-consistency protocol is unchanged — the marker appears only
    * after EVERY writer returned, and a failure in any writer surfaces
    * only after all in-flight writers have been awaited (an abandoned
    * running writer would race session shutdown). That holds for ANY
    * failure the waiting thread sees, an interrupt included: the interrupt
    * is rethrown (flag restored) once the last writer has finished, and
    * the commit is abandoned before its marker. */
  def commitStagedParallel(outs: Seq[Staged], marker: String,
                           cleanup: Seq[String] = Seq.empty,
                           maxParallel: Int = 4): Unit = {
    val par = math.min(maxParallel, outs.length)
    if (par <= 1) return commitStaged(outs, marker, cleanup)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(par)
    try {
      val futs = outs.map(o => pool.submit(new java.util.concurrent.Callable[Unit] {
        def call(): Unit = runStageWriter(o)
      }))
      var first: Option[Throwable] = None
      var interrupted = false
      futs.foreach { f =>
        var pending = true
        while (pending) {
          try { f.get(); pending = false }
          catch {
            case e: Throwable =>
              if (e.isInstanceOf[InterruptedException]) interrupted = true
              if (first.isEmpty) first = Some(e match {
                case ee: java.util.concurrent.ExecutionException =>
                  Option(ee.getCause).getOrElse(ee)
                case other => other
              })
              pending = !f.isDone
          }
        }
      }
      if (interrupted) Thread.currentThread().interrupt()
      first.foreach(e => throw e)
    } finally pool.shutdown()
    finishCommit(outs, marker, cleanup)
  }

  /** Publish SEVERAL outputs as one crash-consistent unit (the
    * [[GraphIndex]] insert must swap vectors and edges together — a
    * vectors-only commit leaves permanently unwired nodes on replay).
    * Protocol: every stage is written FIRST — so all reads of the live
    * data happen before anything is deleted, and a recomputed cached
    * partition can never hit removed files — then a marker file records
    * the dests, then each dest swaps, then the marker clears. A crash
    * before the marker leaves the live state untouched (stale stages are
    * overwritten by the next writer); a crash after it is finished by
    * [[recover]] at the next open, so readers see either all old or all
    * new. `cleanup` dirs are removed AFTER every swap, still under the
    * marker's protection — a compaction that must drop its merged inputs
    * ([[TextIndex.compact]]) records them here, so a crash between the
    * publish and the input deletion can no longer leave merged AND
    * original data co-resident (doubling every aggregate) until the next
    * compaction: [[recover]] finishes the deletion at the next open. */
  def commitStaged(outs: Seq[Staged], marker: String,
                   cleanup: Seq[String] = Seq.empty): Unit = {
    outs.foreach(o => runStageWriter(o))
    finishCommit(outs, marker, cleanup)
  }

  /** The atomic publish shared by the sequential and overlapped commit
    * paths: marker staged and ATOMIC_MOVEd, then swaps, then cleanup. */
  private def finishCommit(outs: Seq[Staged], marker: String,
                           cleanup: Seq[String]): Unit = {
    // the marker must appear ATOMICALLY: a torn marker listing only some
    // dests would make recover() publish a partial commit — stage it and
    // ATOMIC_MOVE into place
    val mk = java.nio.file.Paths.get(marker)
    val mkStage = java.nio.file.Paths.get(s"$marker.tmp")
    java.nio.file.Files.write(mkStage,
      (outs.map(o => s"${o.stage}\t${o.dest}") ++ cleanup.map(p => s"RM\t$p"))
        .mkString("\n")
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    java.nio.file.Files.move(mkStage, mk,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    outs.foreach(o => swapFrom(o.stage, o.dest))
    cleanup.foreach(p => rmTree(new java.io.File(p)))
    java.nio.file.Files.deleteIfExists(mk): Unit
  }

  /** Run one stage writer, annotating ENVIRONMENT failures with filesystem
    * diagnostics. The r14 driver run died inside a staged dynamic-partition
    * write with a bare `Mkdirs failed to create file:/tmp/...` and nothing
    * to distinguish a commit-protocol bug from an exhausted /tmp — the
    * failure signatures below are all host-environment conditions (never
    * spec-expected), so ONLY they get wrapped; every other failure (require
    * refusals, analysis errors, plain task failures) propagates untouched
    * for the message-matching callers. */
  private def runStageWriter(o: Staged): Unit =
    try o.write(o.stage)
    catch {
      case e: Throwable if isEnvFailure(e) =>
        // nearest existing ancestor of the stage dir carries the fs stats
        var f = new java.io.File(o.stage).getAbsoluteFile
        while (f != null && !f.exists()) f = f.getParentFile
        val fsInfo = Option(f).map { d =>
          s"fs at $d: usable=${d.getUsableSpace / (1 << 20)} MiB of " +
            s"${d.getTotalSpace / (1 << 20)} MiB"
        }.getOrElse("stage filesystem not reachable")
        throw new java.io.IOException(
          s"staged write failed with a host-environment error " +
            s"(stage=${o.stage}, dest=${o.dest}; $fsInfo; " +
            s"tmpdir=${System.getProperty("java.io.tmpdir")}): ${e.getMessage}", e)
    }

  /** Does the failure chain carry a known environment signature? */
  private def isEnvFailure(e: Throwable): Boolean = {
    val sigs = Seq("Mkdirs failed", "No space left on device",
      "Too many open files", "Disk quota exceeded")
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null).take(16)
      .exists(t => Option(t.getMessage).exists(m => sigs.exists(m.contains)))
  }

  /** Finish an interrupted [[commitStaged]]: the marker only ever exists
    * once every stage dir completed, so each listed dest either still has
    * its stage (swap it in) or already swapped (clear the parked copy).
    * No-op without a marker. Lines are `stage\tdest`, `RM\tpath` (a
    * cleanup deletion, replayed in order after the swaps it follows), or
    * the legacy tab-less dest-only form (stage at `<dest>__stage`). */
  def recover(marker: String): Unit = {
    val mf = java.nio.file.Paths.get(marker)
    if (!java.nio.file.Files.exists(mf)) return
    // two concurrent opens may replay the same crashed commit: if the other
    // finished first (marker gone mid-read), everything is already
    // published — swapFrom tolerates the raced renames, and the final
    // delete must tolerate the raced marker removal the same way
    val content = try {
      new String(java.nio.file.Files.readAllBytes(mf),
        java.nio.charset.StandardCharsets.UTF_8)
    } catch { case _: java.nio.file.NoSuchFileException => return }
    content.split("\n").filter(_.nonEmpty).foreach { line =>
      line.split('\t') match {
        case Array("RM", p) => rmTree(new java.io.File(p))
        case Array(stage, dest) => swapFrom(stage, dest)
        case Array(dest) => swapStaged(dest)
        case other => sys.error(s"malformed marker line: $line")
      }
    }
    java.nio.file.Files.deleteIfExists(mf): Unit
  }
}
