package graft.store

import graft.functions.{VectorFunctions => VF}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}

/**
 * Parquet-backed vector-store collections — Spark-native rebuild of the
 * reference's ChromaDB surface:
 *
 *  - named collection create-or-get  (/root/reference/src/cod.py:79-84,
 *    /root/reference/src/chromadb_store.py:4)
 *  - add(id, document, metadata, embedding) with duplicate-id rejection
 *    (/root/reference/src/cod.py:92-97, Chroma add semantics)
 *  - point-get by id list + include-projection
 *    (/root/reference/src/cod.py:102-113, src/chromadb_store.py:10-12)
 *  - full-scan extraction — the "leak" premise (src/chromadb_store.py:10-12)
 *  - top-k nearest-neighbor query with distances, squared-L2 (the store's
 *    Chroma-default metric) or cosine (the attack's metric)
 *    (/root/reference/src/cod.py:123-139, src/app.py:52-59)
 *
 * Scale design: a collection is a parquet directory (at 100 TB: partitioned
 * by a metadata key and bucketed by id for point-get pushdown); `add` dedups
 * ids with the batch side broadcast (the store is only ever streamed);
 * `query` is one narrow
 * scan + TakeOrderedAndProject — no shuffle of the corpus. The in-memory
 * vs persisted duality of the reference (src/cod.py:56-62) maps to
 * `DataFrame.cache()` vs the parquet path.
 */
object VectorStore {
  /** An ANN index ATTACHED to a collection — the Chroma serving model,
    * where `collection.query` IS index-backed (hnswlib inside ChromaDB,
    * /root/reference/src/cod.py:125-129) and the caller never chooses
    * between brute force and the index. Attachment is in-process (the
    * index instance itself holds unserializable state — a GraphIndex's
    * bucket functions — exactly like its own constructor); a fresh
    * session re-attaches by reopening the index at its path. */
  sealed trait AttachedIndex
  /** Routed probes read `nprobe` cells of `idx`; with `quantShortlist`
    * set, the probe goes through the SQ8 codes route
    * ([[IvfIndex.queryQuantized]]): codes-only candidate scan + bounded
    * exact rerank — the 100 TB serving shape on the CLIENT path too. */
  final case class AttachedIvf(idx: IvfIndex, nprobe: Int,
                               quantShortlist: Option[Int] = None) extends AttachedIndex
  /** Routed probes beam-walk `idx` with the given budget. */
  final case class AttachedGraph(idx: GraphIndex, beamWidth: Int, hops: Int,
                                 refineRounds: Int = 1) extends AttachedIndex
}

final class VectorStore(spark: SparkSession, val basePath: String) {

  /** Collection record schema (reference data model, SURVEY.md §1.4). */
  val schema: StructType = StructType(Seq(
    StructField("id", StringType, nullable = false),
    StructField("doc", StringType, nullable = true),
    StructField("meta", MapType(StringType, StringType), nullable = true),
    StructField("emb", ArrayType(FloatType, containsNull = false), nullable = true)))

  private val attachedIdx =
    scala.collection.concurrent.TrieMap.empty[String, VectorStore.AttachedIndex]

  private def path(name: String): String = s"$basePath/$name"

  private def snapshotPath(name: String, tag: String): String =
    s"$basePath/__snapshots/$name/$tag"

  private def exists(name: String): Boolean =
    new java.io.File(s"${path(name)}/_SUCCESS").exists()

  /** Create-or-get by name (reference create/except-get, cod.py:79-84).
    * A fresh creation clears any ORPHANED metadata file (a crashed
    * create-with-metadata of an earlier collection of this name) so the
    * new collection cannot silently adopt a dead collection's dict.
    * Runs under the same writer lease as the metadata variant: lock-free,
    * this path could race a concurrent createOrGet(name, metadata) —
    * observe "not exists", then delete the metadata file the other
    * creator just wrote before its parquet landed. */
  def createOrGet(name: String): Collection =
    if (exists(name)) new Collection(name)
    else WriterLease.withLeaseFile(
      java.nio.file.Paths.get(basePath, s"_writer_lease_$name"),
      "VectorStore.createOrGet", path(name)) {
      createOrGetImpl(name, clearOrphanMeta = true)
    }

  private def createOrGetImpl(name: String, clearOrphanMeta: Boolean): Collection = {
    if (!exists(name)) {
      if (clearOrphanMeta) java.nio.file.Files.deleteIfExists(colMetaPath(name)): Unit
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
        .write.mode("overwrite").parquet(path(name))
    }
    new Collection(name)
  }

  /** Chroma `get_or_create_collection(name, metadata=...)`: on first
    * creation the collection-level metadata is persisted; when the
    * collection already exists its EXISTING metadata is kept and the
    * argument is ignored (chroma's get-or-create contract — replacing
    * metadata is [[Collection.modify]]'s job).
    *
    * Runs under the collection's writer lease (two racing creators
    * cannot interleave), and the metadata file is written BEFORE the
    * collection becomes visible: a crash between the two leaves a meta
    * file without a collection, which the next create-with-metadata
    * overwrites and [[dropCollection]] clears — never a collection whose
    * requested metadata was silently lost (the reverse order would,
    * since a later get-or-create keeps the existing, empty, state). */
  def createOrGet(name: String, metadata: Map[String, String]): Collection =
    WriterLease.withLeaseFile(
      java.nio.file.Paths.get(basePath, s"_writer_lease_$name"),
      "VectorStore.createOrGet", path(name)) {
      if (!exists(name)) {
        java.nio.file.Files.deleteIfExists(colMetaPath(name))
        if (metadata.nonEmpty) writeColMeta(name, metadata)
      }
      createOrGetImpl(name, clearOrphanMeta = false)
    }

  // ------------------------------------------------ collection metadata
  // One tab-separated URL-encoded line per key, written to a temp file and
  // ATOMIC_MOVE'd in — readers never see a torn metadata file. On object
  // storage the same write is a single conditional put.
  private def colMetaPath(name: String): java.nio.file.Path =
    java.nio.file.Paths.get(basePath, s"__colmeta_$name")

  private def writeColMeta(name: String, md: Map[String, String]): Unit = {
    val enc = md.toSeq.sortBy(_._1).map { case (k, v) =>
      java.net.URLEncoder.encode(k, "UTF-8") + "\t" + java.net.URLEncoder.encode(v, "UTF-8")
    }.mkString("\n")
    val tmp = java.nio.file.Paths.get(basePath, s"__colmeta_$name.tmp${System.nanoTime()}")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(basePath))
    java.nio.file.Files.writeString(tmp, enc)
    java.nio.file.Files.move(tmp, colMetaPath(name),
      java.nio.file.StandardCopyOption.ATOMIC_MOVE,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING): Unit
  }

  private def readColMeta(name: String): Map[String, String] = {
    val p = colMetaPath(name)
    if (!java.nio.file.Files.exists(p)) Map.empty
    else java.nio.file.Files.readString(p).split("\n").iterator
      .filter(_.nonEmpty)
      .map { line =>
        val Array(k, v) = line.split("\t", 2)
        java.net.URLDecoder.decode(k, "UTF-8") -> java.net.URLDecoder.decode(v, "UTF-8")
      }.toMap
  }

  private def rm(f: java.io.File): Unit = StoreIO.rmTree(f)

  /** Drop a collection AND its snapshots and metadata (leaving them behind
    * would let a later collection of the same name inherit dead state). */
  def dropCollection(name: String): Unit = {
    rm(new java.io.File(path(name)))
    rm(new java.io.File(s"$basePath/__snapshots/$name"))
    java.nio.file.Files.deleteIfExists(colMetaPath(name)): Unit
  }

  /** Chroma `client.list_collections()`: collection names on this store
    * (snapshots and staging dirs excluded), sorted. */
  def listCollections(): Seq[String] = {
    val base = new java.io.File(basePath)
    if (!base.isDirectory) Nil
    else base.listFiles()
      .filter(f => f.isDirectory && !f.getName.startsWith("__") &&
        // rewrite()'s staging/backup dirs carry _SUCCESS too — they are
        // transient (mid-CoW or post-crash), not collections
        !f.getName.endsWith("__stage") && !f.getName.endsWith("__old") &&
        new java.io.File(f, "_SUCCESS").exists())
      .map(_.getName).toSeq.sorted
  }

  /** Chroma `collection.modify(name=...)`: rename a collection (its
    * snapshots move with it; any stale snapshot dir under the target name
    * is removed first so the move cannot silently fail and attach a dead
    * collection's snapshots). */
  def renameCollection(from: String, to: String): Collection = {
    require(exists(from), s"no collection named $from")
    require(!exists(to), s"collection $to already exists")
    require(new java.io.File(path(from)).renameTo(new java.io.File(path(to))),
      s"rename $from -> $to failed")
    // clear stale target snapshots UNCONDITIONALLY (a crashed drop can
    // leave them behind) so a snapshot-less rename cannot inherit them
    rm(new java.io.File(s"$basePath/__snapshots/$to"))
    val snaps = new java.io.File(s"$basePath/__snapshots/$from")
    if (snaps.isDirectory) {
      new java.io.File(s"$basePath/__snapshots").mkdirs()
      require(snaps.renameTo(new java.io.File(s"$basePath/__snapshots/$to")),
        s"snapshot move $from -> $to failed")
    }
    // collection metadata travels with the collection; stale target
    // metadata (crashed drop) is cleared either way
    java.nio.file.Files.deleteIfExists(colMetaPath(to))
    if (java.nio.file.Files.exists(colMetaPath(from)))
      java.nio.file.Files.move(colMetaPath(from), colMetaPath(to)): Unit
    new Collection(to)
  }

  final class Collection private[VectorStore] (val name: String) {

    def df: DataFrame = spark.read.schema(schema).parquet(path(name))

    def count(): Long = df.count()

    /** Chroma `collection.metadata`: the collection-level metadata dict
      * (empty when none was ever set). */
    def metadata: Map[String, String] = readColMeta(name)

    /** Chroma `collection.modify(name=..., metadata=...)`: rename and/or
      * REPLACE the collection metadata (chroma modify overwrites the whole
      * dict, it does not merge). Null = leave unchanged. Returns the
      * (possibly renamed) collection handle. */
    def modify(newName: String = null,
               metadata: Map[String, String] = null): Collection = {
      Option(metadata).foreach { md =>
        withColLease("Collection.modify") {
          if (md.isEmpty) java.nio.file.Files.deleteIfExists(colMetaPath(name)): Unit
          else writeColMeta(name, md)
        }
      }
      Option(newName).map(renameCollection(name, _)).getOrElse(this)
    }

    /** Append rows, rejecting ids already present (Chroma add semantics).
      * NEVER broadcast the store side — it's the corpus (billions of ids at
      * 100 TB; broadcasting it to every executor on every append is the r1
      * defect this replaces). Instead: one column-pruned store scan finds
      * the COLLIDING ids via a semi-join against the broadcast batch (the
      * collision set is <= the batch size, so it is always small), then the
      * batch anti-joins the collisions WITHOUT a hint — AQE sees the tiny
      * runtime size and picks broadcast itself, and the store scan never
      * sits under a static BroadcastExchange. At scale, bucketing the store
      * by id turns the collision scan into a pruned per-bucket check. */
    /** Single-writer lease for this collection's mutators. The lease file
      * lives BESIDE the collection dir (not inside): [[rewrite]] swaps the
      * whole dir, which would erase an in-dir lease mid-hold. Nested index
      * operations take their own lease at the index path (reentrancy makes
      * the nesting safe either way). */
    private def withColLease[T](op: String)(body: => T): T =
      WriterLease.withLeaseFile(
        java.nio.file.Paths.get(basePath, s"_writer_lease_$name"),
        op, path(name))(body)

    def add(rows: DataFrame): Unit = withColLease("Collection.add") {
      val incoming = rows.select(col("id").cast(StringType).as("id"),
        col("doc"), col("meta"), col("emb"))
      attachedIdx.get(name) match {
        case None => freshRows(incoming).write.mode("append").parquet(path(name))
        case Some(ai) =>
          // materialize the (batch-bounded) fresh set ONCE so the store
          // append and the index append see the same rows — recomputing
          // after the append would find them all colliding
          val staged = freshRows(incoming).localCheckpoint()
          staged.write.mode("append").parquet(path(name))
          // re-adding an id whose DELETE is still pending in the index
          // (tombstoned, not yet compacted) must compact first: a direct
          // append would refuse (IVF) or silently skip (graph), leaving
          // the store serving a row the index never will. Chroma's
          // delete-then-add sequence is legal; this keeps it legal here.
          val irows = indexRowsOf(staged)
          ai match {
            case VectorStore.AttachedIvf(idx, _, _) =>
              if (idx.readdsTombstoned(irows)) idx.compact()
              idx.append(irows)
            case VectorStore.AttachedGraph(idx, _, _, _) =>
              if (idx.readdsTombstoned(irows)) idx.compact()
              idx.insert(irows)
          }
      }
    }

    /** The add() dedup plan, exposed for plan assertions: batch rows whose
      * id is NOT already in the store, one row per id even when the batch
      * itself repeats an id ([[StoreIO.dedupById]]'s deterministic pick). */
    private[graft] def freshRows(incoming: DataFrame): DataFrame = {
      val dedupedBatch = StoreIO.dedupById(incoming, Seq("doc", "meta", "emb"))
      val collisions = df.select("id")
        .join(broadcast(dedupedBatch.select("id")), Seq("id"), "left_semi")
      dedupedBatch.join(collisions, Seq("id"), "left_anti")
    }

    /** Chroma `collection.peek(limit)`: first rows by id — a bounded look,
      * never a full scan. */
    def peek(limit: Int = 10): DataFrame =
      df.orderBy(col("id")).limit(limit)

    /** get(): no ids -> full extraction (the leak); ids -> point lookup.
      * `include` projects columns (ids always included), mirroring
      * chromadb_store.py:10-12 / cod.py:108. `where`/`whereDocument`
      * complete the Chroma get() surface (metadata and document
      * predicates, applied before projection — they reach the parquet
      * scan as pushed filters); `limit`/`offset` page deterministically
      * by id. Offset paging is a SORT at the driver's k — fine for the
      * client-paging use it mirrors, not a scale path (a 100 TB scan
      * pages by id-range predicates instead). */
    def get(ids: Seq[String] = Nil,
            include: Seq[String] = Seq("doc", "meta", "emb"),
            where: Option[Column] = None,
            whereDocument: Option[Column] = None,
            limit: Int = -1, offset: Int = 0): DataFrame = {
      var base = if (ids.isEmpty) df else df.filter(col("id").isin(ids: _*))
      where.foreach(p => base = base.filter(p))
      whereDocument.foreach(p => base = base.filter(p))
      val proj = base.select((col("id") +: include.map(col)): _*)
      if (limit < 0 && offset <= 0) proj
      else {
        val w = org.apache.spark.sql.expressions.Window.orderBy(col("id"))
        val paged = proj.withColumn("__rn", row_number().over(w))
          .filter(col("__rn") > offset)
        (if (limit >= 0) paged.filter(col("__rn") <= offset + limit) else paged)
          .drop("__rn")
      }
    }

    /** Keyset pagination — the 100 TB form of [[get]]'s limit/offset
      * paging: `afterId` is the last id of the previous page (null/empty
      * for the first), the filter `id > afterId` reaches the parquet
      * scan as a pushed range predicate, and the page sort is bounded by
      * `pageSize` (TakeOrdered) — no global row_number window, no
      * offset-deep scan. Walking pages visits every row exactly once
      * (spec-pinned). */
    def getPage(afterId: String = null, pageSize: Int = 1000,
                include: Seq[String] = Seq("doc", "meta", "emb"),
                where: Option[Column] = None,
                whereDocument: Option[Column] = None): DataFrame = {
      require(pageSize > 0, "pageSize must be positive")
      var base = if (afterId == null || afterId.isEmpty) df
                 else df.filter(col("id") > afterId)
      where.foreach(p => base = base.filter(p))
      whereDocument.foreach(p => base = base.filter(p))
      base.orderBy(col("id")).limit(pageSize)
        .select((Seq("id") ++ include.filterNot(_ == "id")).map(col): _*)
    }

    /** [[getPage]] in the dict filter dialect — keyset pagination with
      * chroma-style filters (the JSON twin, completing the client
      * surface: get/getPage/query/queryBatch/delete all speak both). */
    def getPageJson(afterId: String = null, pageSize: Int = 1000,
                    include: Seq[String] = Seq("doc", "meta", "emb"),
                    whereJson: String = null,
                    whereDocumentJson: String = null): DataFrame =
      getPage(afterId, pageSize, include,
        Option(whereJson).map(graft.functions.ChromaWhere.where(_, metaKey)),
        Option(whereDocumentJson).map(graft.functions.ChromaWhere.whereDocument(_, col("doc"))))

    /** Resolve a chroma `where=` metadata key against this collection's
      * MAP<STRING,STRING> meta column. */
    private def metaKey(k: String): Column = element_at(col("meta"), lit(k))

    /** [[get]] taking chroma's dict filter dialect as JSON strings — the
      * exact client-API form (`collection.get(where={...},
      * where_document={...})`), translated by
      * [[graft.functions.ChromaWhere]]: metadata keys resolve into the
      * meta map, the document predicate applies to `doc`. Null = absent. */
    def getJson(whereJson: String = null, whereDocumentJson: String = null,
                ids: Seq[String] = Nil,
                include: Seq[String] = Seq("doc", "meta", "emb"),
                limit: Int = -1, offset: Int = 0): DataFrame =
      get(ids, include,
        Option(whereJson).map(graft.functions.ChromaWhere.where(_, metaKey)),
        Option(whereDocumentJson).map(graft.functions.ChromaWhere.whereDocument(_, col("doc"))),
        limit, offset)

    /** [[query]] taking chroma's dict filter dialect as JSON strings; the
      * translated predicates flow into the routed/pruned index scan exactly
      * like Column-form `where`/`whereDocument`, which an attached IVF
      * index filters on its hot tier. Against an attached GRAPH index the
      * dict form also compiles to a plain JVM evaluator
      * (ChromaWhere.compileWhere), so a FILTERED probe stays on the
      * sub-millisecond hot tier inside the beam walk. Falls back to the
      * Spark path whenever the hot tier declines (no payload/meta, over
      * byte budget). Answers are identical either way — the hot filter
      * applies the Catalyst cast/NULL semantics (ChromaWhereSpec pins the
      * parity, RoutedQuerySpec the end-to-end equality). */
    def queryJson(queryEmb: Array[Float], k: Int, metric: String = "l2",
                  whereJson: String = null,
                  whereDocumentJson: String = null): DataFrame = {
      if (metric == "l2" && (whereJson != null || whereDocumentJson != null)) {
        val wOk = Option(whereJson).map(graft.functions.ChromaWhere.compileWhere)
        val dOk = Option(whereDocumentJson).map(graft.functions.ChromaWhere.compileWhereDocument)
        attachedIdx.get(name) match {
          case Some(VectorStore.AttachedGraph(idx, beamWidth, hops, _)) =>
            idx.hotServeFiltered(queryEmb, k, beamWidth, hops, wOk, dOk) match {
              case Some(rows) =>
                import spark.implicits._
                return rows.toDF("id", "doc", "distance")
              case None => ()
            }
          case _ => ()
        }
      }
      query(queryEmb, k, metric,
        Option(whereJson).map(graft.functions.ChromaWhere.where(_, metaKey)),
        Option(whereDocumentJson).map(graft.functions.ChromaWhere.whereDocument(_, col("doc"))))
    }

    /** [[deleteWhere]] in the dict dialect (`collection.delete(where=...,
      * where_document=...)`). At least one filter must be present —
      * chroma's delete refuses an unfiltered full wipe through this form. */
    def deleteJson(whereJson: String = null, whereDocumentJson: String = null): Unit = {
      val ps = Option(whereJson).map(graft.functions.ChromaWhere.where(_, metaKey)).toSeq ++
        Option(whereDocumentJson).map(graft.functions.ChromaWhere.whereDocument(_, col("doc"))).toSeq
      require(ps.nonEmpty, "deleteJson requires a where and/or where_document filter")
      deleteWhere(ps.reduce(_ && _))
    }

    /** Copy-on-write rewrite with an atomic directory swap: the new version
      * is fully materialized to a staging dir (reading the live one), then
      * swapped in. Readers never see a half-written collection. At 100 TB
      * the identical pattern applies per id-bucket partition — only buckets
      * containing touched ids rewrite — or flips to merge-on-read delete
      * vectors; the collection-grain swap here is the same protocol at the
      * smallest unit. */
    private def rewrite(newDf: DataFrame): Unit =
      StoreIO.stageAndSwap(newDf, path(name))

    private def normalized(rows: DataFrame): DataFrame =
      rows.select(col("id").cast(StringType).as("id"),
        col("doc"), col("meta"), col("emb"))

    /** Chroma `update`: whole-row replacement for ids already present;
      * unknown ids are ignored (Chroma warns and skips). An attached index
      * REBUILDS afterwards — embeddings may have changed, and the CoW
      * rewrite already rewrote the whole collection, so the rebuild
      * matches the operation's cost shape. */
    def update(rows: DataFrame): Unit = withColLease("Collection.update") {
      val incoming = normalized(rows)
      // ids present in BOTH store and batch: one store scan with the small
      // batch broadcast (never broadcast the store side — it's the corpus)
      val touched = df.select("id")
        .join(broadcast(incoming.select("id")), Seq("id"), "left_semi")
      val replaced = incoming.join(broadcast(touched), Seq("id"), "left_semi")
      rewrite(df.join(broadcast(incoming.select("id")), Seq("id"), "left_anti")
        .unionByName(replaced))
      reindex()
    }

    /** Chroma `upsert`: replace rows whose id exists, append the rest.
      * Rebuilds an attached index like [[update]]. */
    def upsert(rows: DataFrame): Unit = withColLease("Collection.upsert") {
      val incoming = normalized(rows)
      rewrite(df.join(broadcast(incoming.select("id")), Seq("id"), "left_anti")
        .unionByName(incoming))
      reindex()
    }

    /** Compact the file layout to `numFiles` parquet files — small-file
      * management after many append/CoW cycles (each `add` appends files;
      * at 100 TB compaction runs per partition on a size trigger, exactly
      * this rewrite at partition grain). Contents are unchanged. */
    def compact(numFiles: Int): Unit = withColLease("Collection.compact") {
      rewrite(df.repartition(numFiles))
    }

    /** Chroma `delete(ids=...)`. */
    def delete(ids: Seq[String]): Unit =
      deleteWhere(col("id").isin(ids: _*))

    /** Chroma `delete(where=...)`: drop every row matching the predicate.
      * PROPAGATES into an attached index first (batch-keyed tombstones —
      * the index stops serving the rows immediately, its `compact()`
      * drops them physically), so a deleted document is never served from
      * either path. The matching set stays a distributed frame — never
      * collected. */
    def deleteWhere(cond: Column): Unit = withColLease("Collection.delete") {
      attachedIdx.get(name).foreach { ai =>
        val dead = df.filter(coalesce(cond, lit(false)))
          .select(xxhash64(col("id")).as("id"))
        ai match {
          case VectorStore.AttachedIvf(idx, _, _) => idx.delete(dead)
          case VectorStore.AttachedGraph(idx, _, _, _) => idx.delete(dead)
        }
      }
      rewrite(df.filter(!coalesce(cond, lit(false))))
    }

    /** Snapshot the collection under `tag`: parquet data files HARDLINK
      * into `__snapshots/<tag>/` — O(#files) metadata work, zero data
      * copied, and the copy-on-write [[rewrite]] swap never mutates file
      * contents, so a snapshot stays immutable while the live collection
      * moves on (deleting the live dir unlinks names, not the shared
      * inodes). On object storage at 100 TB the same operation is a
      * MANIFEST of immutable file paths; hardlinks are its filesystem
      * twin. Read back with [[readSnapshot]]; re-tagging overwrites. */
    def snapshot(tag: String): Unit = withColLease("Collection.snapshot") {
      require(tag.nonEmpty && !tag.contains('/'), s"bad snapshot tag: $tag")
      val dest = java.nio.file.Paths.get(snapshotPath(name, tag))
      rm(dest.toFile)
      java.nio.file.Files.createDirectories(dest)
      val src = new java.io.File(path(name))
      src.listFiles().filter(_.isFile).foreach { f =>
        java.nio.file.Files.createLink(dest.resolve(f.getName), f.toPath)
      }
      // an ATTACHED index snapshots WITH the collection: the whole index
      // tree (epoch/batch dirs, tombstone batches, entries, the replay
      // fence) hardlinks under __index/ — epoch dirs only ever change by
      // whole-directory swap, so the linked inodes pin exactly the epoch
      // set and tombstone state of this moment, whatever compactions or
      // deletes follow. A tiny manifest records how to route, so
      // [[querySnapshot]] serves the frozen view bit-for-bit.
      attachedIdx.get(name).foreach { ai =>
        val (idxPath, meta) = ai match {
          case VectorStore.AttachedIvf(idx, nprobe, qs) =>
            (idx.path, s"ivf\t$nprobe" + qs.map(sl => s"\t$sl").getOrElse(""))
          case VectorStore.AttachedGraph(idx, beamWidth, hops, _) =>
            (idx.path, s"graph\t$beamWidth\t$hops")
        }
        StoreIO.hardlinkTree(new java.io.File(idxPath),
          dest.resolve("__index").toFile)
        java.nio.file.Files.write(dest.resolve("__index_meta"),
          meta.getBytes(java.nio.charset.StandardCharsets.UTF_8)): Unit
      }
    }

    /** Query a snapshot EXACTLY as [[query]] would have at snapshot time:
      * if an index was attached, the probe routes through the snapshot's
      * pinned index tree (same epoch set, same tombstones, same entries);
      * otherwise brute-force over the snapshot rows. Mutations after the
      * snapshot — adds, deletes, compactions — cannot change the answer. */
    def querySnapshot(tag: String, queryEmb: Array[Float], k: Int,
                      metric: String = "l2",
                      where: Option[Column] = None,
                      whereDocument: Option[Column] = None): DataFrame = {
      val snap = java.nio.file.Paths.get(snapshotPath(name, tag))
      val metaF = snap.resolve("__index_meta")
      if (metric == "l2" && java.nio.file.Files.exists(metaF)) {
        val meta = new String(java.nio.file.Files.readAllBytes(metaF),
          java.nio.charset.StandardCharsets.UTF_8).split('\t')
        val idxPath = snap.resolve("__index").toString
        val ai = meta match {
          case Array("ivf", nprobe) =>
            // numCells only matters at build time; the snapshot is a
            // read-only view, so any value reopens it
            VectorStore.AttachedIvf(new IvfIndex(spark, idxPath, 1), nprobe.toInt)
          case Array("ivf", nprobe, qs) =>
            VectorStore.AttachedIvf(new IvfIndex(spark, idxPath, 1),
              nprobe.toInt, Some(qs.toInt))
          case Array("graph", beamWidth, hops) =>
            // k and the bucket functions only matter at build/insert time
            VectorStore.AttachedGraph(
              new GraphIndex(spark, idxPath, 1, Seq(_ => lit(0L))),
              beamWidth.toInt, hops.toInt)
          case other => sys.error(s"corrupt __index_meta: ${other.mkString("/")}")
        }
        routedQuery(ai, queryEmb, k, where, whereDocument)
      } else {
        val q = typedlit(queryEmb)
        val base = Seq(where, whereDocument).flatten
          .foldLeft(readSnapshot(tag))(_ filter _)
        val scored = metric match {
          case "l2" => base.withColumn("distance", VF.l2Sq(col("emb"), q))
          case "cosine" => base.withColumn("distance", -VF.cosine(col("emb"), q))
          case other => throw new IllegalArgumentException(s"unknown metric: $other")
        }
        scored.orderBy(asc("distance"), asc("id")).limit(k)
          .select(col("id"), col("doc"), col("distance"))
      }
    }

    /** Immutable read of a snapshot taken with [[snapshot]]. */
    def readSnapshot(tag: String): DataFrame =
      spark.read.schema(schema).parquet(snapshotPath(name, tag))

    def listSnapshots(): Seq[String] = {
      val dir = new java.io.File(s"$basePath/__snapshots/$name")
      if (!dir.isDirectory) Nil else dir.listFiles().filter(_.isDirectory).map(_.getName).toSeq.sorted
    }

    def dropSnapshot(tag: String): Unit = rm(new java.io.File(snapshotPath(name, tag)))

    /** Promote a snapshot to the LIVE collection — the restore half of
      * the backup story. The snapshot's row files hardlink into a staging
      * dir and swap in atomically ([[StoreIO.publishStagedDir]] — readers
      * never see a torn restore). If the snapshot pinned an attached
      * index tree and an index of the SAME kind is attached now, that
      * tree swaps back over the live index path the same way (under the
      * index writer lease), so routed queries serve the restored moment
      * immediately; otherwise the attached index rebuilds from the
      * restored rows. The snapshot itself is untouched — restore is
      * repeatable, and hardlinks mean a restore moves no data bytes. */
    def restoreSnapshot(tag: String): Unit = withColLease("Collection.restoreSnapshot") {
      val snap = new java.io.File(snapshotPath(name, tag))
      require(snap.isDirectory, s"no snapshot $tag for collection $name")
      val stage = new java.io.File(s"${path(name)}__stage")
      rm(stage)
      require(stage.mkdirs(), s"cannot stage restore at $stage")
      snap.listFiles().filter(_.isFile).foreach { f =>
        java.nio.file.Files.createLink(stage.toPath.resolve(f.getName), f.toPath)
      }
      StoreIO.publishStagedDir(path(name))

      val idxSnap = new java.io.File(snap, "__index")
      val metaF = new java.io.File(snap, "__index_meta")
      attachedIdx.get(name).foreach { ai =>
        val (idxPath, kind) = ai match {
          case VectorStore.AttachedIvf(idx, _, _) => (idx.path, "ivf")
          case VectorStore.AttachedGraph(idx, _, _, _) => (idx.path, "graph")
        }
        val snapKind =
          if (metaF.isFile)
            new String(java.nio.file.Files.readAllBytes(metaF.toPath),
              java.nio.charset.StandardCharsets.UTF_8).split('\t').head
          else ""
        if (idxSnap.isDirectory && snapKind == kind) {
          val l = WriterLease.acquire(idxPath, "Collection.restoreSnapshot")
          try {
            val istage = new java.io.File(s"${idxPath}__stage")
            rm(istage)
            StoreIO.hardlinkTree(idxSnap, istage)
            StoreIO.publishStagedDir(idxPath)
          } finally l.release()
        } else reindex() // snapshot predates the index or kinds differ
      }
    }

    // ------------------------------------------------------ index routing

    /** The collection's rows keyed by the index spine: a deterministic
      * 64-bit hash of the string id becomes the index's LONG `id`, the
      * string id rides along as `cid`, and doc/meta land as index metadata
      * so routed queries answer (and filter) without a second store read.
      * `src` is any frame with the collection schema. */
    private def indexRowsOf(src: DataFrame): DataFrame =
      src.select(xxhash64(col("id")).as("id"), col("emb"),
        col("id").as("cid"), col("doc"), col("meta"))

    private def requireUniqueKeys(rows: DataFrame): Unit =
      require(rows.groupBy("id").count().filter(col("count") > 1).isEmpty,
        "xxhash64 collision between collection ids — cannot key an index")

    /** Build an [[IvfIndex]] over this collection and ATTACH it: from now
      * on [[query]] routes through the index (Chroma's model — the caller
      * never chooses between brute force and the index), and
      * add/update/upsert/delete keep it in sync. Detach with
      * [[detachIndex]]; reopen-and-reattach with [[attach]]. */
    /** `codes`/`pqM` select the index's quantizer (IvfIndex.build) — a
      * quantized-routed collection can serve through SQ8 (default) or PQ
      * codes; the routed query path dispatches on the frozen sidecar.
      *
      * `recallTarget`: serve by POLICY instead of a hand-picked depth —
      * after the build, [[IvfIndex.calibrateNprobe]] sweeps probe depths
      * on a bounded self-panel (`calibrateK`/`calibratePanel`) and the
      * collection routes through the smallest depth whose measured
      * recall@k meets the target; the `nprobe` argument is ignored. One
      * bounded panel × corpus pass at attach time, zero serving-path
      * cost. */
    def attachIvfIndex(indexPath: String, numCells: Int, nprobe: Int,
                       quantizedShortlist: Option[Int] = None,
                       codes: String = "sq8", pqM: Int = 8,
                       recallTarget: Option[Double] = None,
                       calibrateK: Int = 10, calibratePanel: Int = 64): IvfIndex = {
      val rows = indexRowsOf(df)
      requireUniqueKeys(rows)
      val idx = new IvfIndex(spark, indexPath, numCells)
      idx.build(rows, codes = codes, pqM = pqM)
      val depth = recallTarget
        .map(t => idx.calibrateNprobe(calibrateK, t, calibratePanel))
        .getOrElse(nprobe)
      attach(VectorStore.AttachedIvf(idx, depth, quantizedShortlist))
      idx
    }

    /** The attached index configuration, if any — lets a caller observe
      * the routing policy (e.g. the calibrated nprobe) without reaching
      * into store internals. */
    def attachedConfig: Option[VectorStore.AttachedIndex] = attachedIdx.get(name)

    /** [[attachIvfIndex]]'s graph twin. `recallTarget` picks the serving
      * BEAM WIDTH by measurement ([[GraphIndex.calibrateBeam]] — the
      * `beamWidth` argument is then ignored); the graph has no
      * guaranteed-exact rung, so an unreachable target fails loudly at
      * attach time rather than silently under-serving forever. */
    def attachGraphIndex(indexPath: String, k: Int,
        bucketFns: Seq[Column => Column], beamWidth: Int, hops: Int,
        refineRounds: Int = 1,
        recallTarget: Option[Double] = None,
        calibrateK: Int = 10, calibratePanel: Int = 64): GraphIndex = {
      val rows = indexRowsOf(df)
      requireUniqueKeys(rows)
      val idx = new GraphIndex(spark, indexPath, k, bucketFns)
      idx.build(rows, refineRounds)
      val bw = recallTarget
        .map(t => idx.calibrateBeam(calibrateK, t, calibratePanel, hops = hops))
        .getOrElse(beamWidth)
      attach(VectorStore.AttachedGraph(idx, bw, hops, refineRounds))
      idx
    }

    /** Attach an ALREADY-BUILT index (a fresh session reopening the index
      * at its path — the caller supplies the same parameters the index's
      * own constructor needs).
      *
      * RECOVERY CONTRACT: [[add]] writes the store first, then the index —
      * two non-atomic writes, so a crash between them leaves rows durable
      * in the store but absent from the index (and silently unserved,
      * since l2 queries route through it). The STORE is authoritative:
      * attach reconciles by anti-joining store ids against the index's
      * live ids and inserting the missing tail (compacting first if any
      * of them sit under a pending tombstone — the routed-add discipline).
      * The same rule rolls back the other crash direction: deleteWhere
      * tombstones the index before rewriting the store, so a crash
      * in between re-adds the still-stored rows here. */
    def attach(ai: VectorStore.AttachedIndex): Unit = {
      val rows = indexRowsOf(df)
      ai match {
        case VectorStore.AttachedIvf(idx, _, _) =>
          val missing = rows.join(idx.liveIds, Seq("id"), "left_anti")
          if (!missing.isEmpty) {
            if (idx.readdsTombstoned(missing)) idx.compact()
            idx.append(missing)
          }
        case VectorStore.AttachedGraph(idx, _, _, _) =>
          val missing = rows.join(idx.vectors.select("id"), Seq("id"), "left_anti")
          if (!missing.isEmpty) {
            if (idx.readdsTombstoned(missing)) idx.compact()
            idx.insert(missing)
          }
      }
      attachedIdx.put(name, ai): Unit
    }

    def detachIndex(): Unit = attachedIdx.remove(name): Unit

    /** Rebuild the attached index from the current collection state
      * (update/upsert may have changed embeddings). */
    private def reindex(): Unit = attachedIdx.get(name).foreach {
      case VectorStore.AttachedIvf(idx, _, _) => idx.build(indexRowsOf(df))
      case VectorStore.AttachedGraph(idx, _, _, rr) => idx.build(indexRowsOf(df), rr)
    }

    /** Attached-index maintenance stats ([[IndexStats]]); None when no
      * index is attached. */
    def indexStats(): Option[IndexStats] = attachedIdx.get(name).map {
      case VectorStore.AttachedIvf(idx, _, _) => idx.stats()
      case VectorStore.AttachedGraph(idx, _, _, _) => idx.stats()
    }

    /** Auto-maintenance policy — the call a scheduler (or a streaming
      * maintainer's batch hook) runs periodically: compact the attached
      * index when pending tombstones exceed `maxPendingRatio` of live rows
      * (each pending delete costs query-time work until purged) or when
      * delta publish units exceed `maxUnits` (partition-discovery and
      * merge fan-in grow with them). For an attached IVF index the policy
      * additionally watches CELL GEOMETRY (`IvfIndex.balance`, one narrow
      * pass): when the fattest cell exceeds `maxCellImbalance`× the mean
      * (a hot cell defeats partition pruning) or more than `maxClipRate`
      * of values sit outside the frozen SQ8 grid (drifted values collapse
      * to code 0/255 and the quantized shortlist silently loses recall),
      * it RETRAINS instead of compacting — `IvfIndex.retrain` re-clusters
      * the live rows and re-freezes the grid, and subsumes a compaction.
      * This is Chroma's implicit keep-the-index-healthy-under-inserts
      * behavior (hnswlib, /root/reference/src/chromadb_store.py:4) made an
      * explicit, thresholded policy. Returns true iff maintenance ran.
      * Retrain/compact take the index writer lease, so a maintainer and
      * this policy cannot interleave; answers are unchanged by
      * construction (compact ≡ rebuild and full-depth probe ≡ brute force
      * before and after retrain, both spec-pinned). */
    def maintain(maxPendingRatio: Double = 0.2, maxUnits: Int = 8,
                 maxCellImbalance: Double = 3.0,
                 maxClipRate: Double = 0.05,
                 maxPqErrRatio: Double = 2.0): Boolean =
      attachedIdx.get(name).exists { ai =>
        val st = ai match {
          case VectorStore.AttachedIvf(idx, _, _) => idx.stats()
          case VectorStore.AttachedGraph(idx, _, _, _) => idx.stats()
        }
        val compactDue = st.pendingRatio > maxPendingRatio || st.units > maxUnits
        ai match {
          case VectorStore.AttachedIvf(idx, _, _) =>
            val bal = idx.balance()
            // the PQ drift analog of the SQ8 clip rate: mean reconstruction
            // error over build-time baseline — codebooks trained on last
            // year's data reconstruct this year's poorly, and the quantized
            // shortlist loses recall silently until a retrain re-fits them
            val retrainDue = bal.maxOverMean > maxCellImbalance ||
              bal.sq8ClipRate > maxClipRate ||
              bal.pqErrRatio > maxPqErrRatio
            if (retrainDue) idx.retrain()
            else if (compactDue) idx.compact()
            retrainDue || compactDue
          case VectorStore.AttachedGraph(idx, _, _, _) =>
            if (compactDue) idx.compact()
            compactDue
        }
      }

    /** Top-k nearest neighbors with distances. metric: "l2" (store default,
      * ascending) or "cosine" (attack metric, descending similarity).
      * `where` / `whereDocument` mirror Chroma's query predicates — a
      * metadata condition and a document-text condition — and are applied
      * BEFORE the vector math, so the filters push to the scan and the
      * distance kernel runs only on surviving rows (at 100 TB this is the
      * difference between scoring the corpus and scoring a slice).
      *
      * With an index ATTACHED, l2 queries ROUTE through it (cell-pruned
      * probe / beam walk instead of a corpus scan — the Chroma serving
      * model), predicates included: the index stores doc/meta, so `where`/
      * `whereDocument` apply inside the pruned index scan. Cosine queries
      * keep the exact brute-force path (the indexes are L2-keyed).
      *
      * Inside the hot budget an attached IVF index answers from its
      * JVM-resident rows, filters included when they fold at plan time
      * ([[IvfIndex.hotServe]]), and an attached graph index answers
      * unfiltered probes the same way: the DataFrame is then a local
      * relation BOUND AT CALL TIME (like
      * [[graft.operators.Percolate.matches]]'s eager stage), not a plan
      * re-evaluated per action. */
    def query(queryEmb: Array[Float], k: Int, metric: String = "l2",
              where: Option[Column] = None,
              whereDocument: Option[Column] = None): DataFrame =
      attachedIdx.get(name) match {
        case Some(ai) if metric == "l2" =>
          routedQuery(ai, queryEmb, k, where, whereDocument)
        case _ => bruteQuery(queryEmb, k, metric, where, whereDocument)
      }

    /** [[queryBatch]] in the dict filter dialect — and, like
      * [[queryJson]], FILTERED batches stay on the hot tier when the
      * attached index accepts (all probes share one JVM state load); any
      * per-probe decline falls the whole batch back to the Spark path so
      * the answer source is uniform. */
    def queryBatchJson(queryEmbs: Seq[Array[Float]], k: Int, metric: String = "l2",
                       whereJson: String = null,
                       whereDocumentJson: String = null): DataFrame = {
      require(queryEmbs.nonEmpty, "queryBatch needs at least one embedding")
      if (metric == "l2" && (whereJson != null || whereDocumentJson != null)) {
        val wOk = Option(whereJson).map(graft.functions.ChromaWhere.compileWhere)
        val dOk = Option(whereDocumentJson).map(graft.functions.ChromaWhere.compileWhereDocument)
        attachedIdx.get(name) match {
          case Some(VectorStore.AttachedGraph(idx, beamWidth, hops, _)) =>
            val per = queryEmbs.zipWithIndex.map { case (qe, i) =>
              idx.hotServeFiltered(qe, k, beamWidth, hops, wOk, dOk)
                .map(_.map { case (cid, doc, d) => (i.toLong, cid, doc, d) })
            }
            if (per.forall(_.isDefined)) {
              import spark.implicits._
              return per.flatMap(_.get).toDF("query_idx", "id", "doc", "distance")
            }
          case _ => ()
        }
      }
      queryBatch(queryEmbs, k, metric,
        Option(whereJson).map(graft.functions.ChromaWhere.where(_, metaKey)),
        Option(whereDocumentJson).map(graft.functions.ChromaWhere.whereDocument(_, col("doc"))))
    }

    /** Chroma `query(query_embeddings=[...])` — the reference API takes a
      * LIST of query embeddings; this is that surface. Output:
      * (query_idx, id, doc, distance), top-k per probe. Unfiltered l2
      * probes against an attached index serve from the hot tier (one
      * state load for the whole batch); the brute path scores every probe
      * in ONE corpus scan (broadcast probe frame + per-probe window), not
      * Q scans. */
    def queryBatch(queryEmbs: Seq[Array[Float]], k: Int, metric: String = "l2",
                   where: Option[Column] = None,
                   whereDocument: Option[Column] = None): DataFrame = {
      require(queryEmbs.nonEmpty, "queryBatch needs at least one embedding")
      val probes = queryEmbs.zipWithIndex.map { case (qe, i) => (i.toLong, qe) }
      val pred = (where.toSeq ++ whereDocument.toSeq).reduceOption(_ && _)
      import spark.implicits._
      attachedIdx.get(name) match {
        case Some(ai) if metric == "l2" =>
          val hotRows: Option[Seq[(Long, String, String, Double)]] = ai match {
            case VectorStore.AttachedIvf(idx, nprobe, None) =>
              idx.hotServeBatch(probes, k, nprobe, pred)
            case VectorStore.AttachedGraph(idx, beamWidth, hops, _) if pred.isEmpty =>
              idx.hotServeBatch(probes, k, beamWidth, hops)
            case _ => None
          }
          hotRows match {
            case Some(rows) => rows.toDF("query_idx", "id", "doc", "distance")
            case None =>
              // no routing payload, over budget, or a predicate the hot
              // tier declined: every probe takes the Spark route
              probes.map { case (qi, qe) =>
                sparkRoutedQuery(ai, qe, k, pred)
                  .select(lit(qi).as("query_idx"), col("id"), col("doc"), col("distance"))
              }.reduce(_ unionByName _)
          }
        case _ =>
          // brute: ONE scan for the whole batch
          val probeDf = broadcast(
            spark.createDataFrame(probes.map { case (i, qe) => (i, qe.toSeq) })
              .toDF("query_idx", "qe"))
          val base = Seq(where, whereDocument).flatten.foldLeft(df)(_ filter _)
          val qc = col("qe").cast("array<float>")
          val scored = metric match {
            case "l2" => base.crossJoin(probeDf)
              .withColumn("distance", VF.l2Sq(col("emb"), qc))
            case "cosine" => base.crossJoin(probeDf)
              .withColumn("distance", -VF.cosine(col("emb"), qc))
            case other => throw new IllegalArgumentException(s"unknown metric: $other")
          }
          val w = org.apache.spark.sql.expressions.Window
            .partitionBy("query_idx").orderBy(asc("distance"), asc("id"))
          scored.withColumn("rn", row_number().over(w))
            .filter(col("rn") <= k)
            .select(col("query_idx"), col("id"), col("doc"), col("distance"))
            .orderBy("query_idx", "distance", "id")
      }
    }

    private def bruteQuery(queryEmb: Array[Float], k: Int, metric: String,
                           where: Option[Column],
                           whereDocument: Option[Column]): DataFrame = {
      val q = typedlit(queryEmb)
      val base = Seq(where, whereDocument).flatten.foldLeft(df)(_ filter _)
      val scored = metric match {
        case "l2" =>
          base.withColumn("distance", VF.l2Sq(col("emb"), q))
            .orderBy(asc("distance"), asc("id"))
        case "cosine" =>
          base.withColumn("distance", -VF.cosine(col("emb"), q))
            .orderBy(asc("distance"), asc("id"))
        case other => throw new IllegalArgumentException(s"unknown metric: $other")
      }
      scored.limit(k).select(col("id"), col("doc"), col("distance"))
    }

    private def routedQuery(ai: VectorStore.AttachedIndex, qe: Array[Float],
                            k: Int, where: Option[Column],
                            whereDocument: Option[Column]): DataFrame = {
      val pred = (where.toSeq ++ whereDocument.toSeq).reduceOption(_ && _)
      val hotRows = ai match {
        // probes serve from the JVM-resident hot tier (the GraphIndex
        // discipline; bit-equal to the pruned scan), a predicate included
        // when it folds at plan time; the quantized route goes straight
        // to the two-phase codes probe
        case VectorStore.AttachedIvf(idx, nprobe, None) => idx.hotServe(qe, k, nprobe, pred)
        // unfiltered probes serve from the JVM-resident hot tier (zero
        // Spark jobs warm; answers bit-equal to the cold path —
        // RoutedQuerySpec pins it); predicates keep the pushed-down index
        // scan, which is where a filter belongs
        case VectorStore.AttachedGraph(idx, beamWidth, hops, _) if pred.isEmpty =>
          idx.hotServe(qe, k, beamWidth, hops)
        case _ => None
      }
      hotRows match {
        case Some(rows) =>
          import spark.implicits._
          rows.toDF("id", "doc", "distance")
        case None => sparkRoutedQuery(ai, qe, k, pred)
      }
    }

    /** [[routedQuery]]'s Spark route: the cell-pruned (or codes) IVF probe,
      * or the graph beam walk plus an In-pruned payload read. */
    private def sparkRoutedQuery(ai: VectorStore.AttachedIndex, qe: Array[Float],
                                 k: Int, pred: Option[Column]): DataFrame =
      ai match {
        case VectorStore.AttachedIvf(idx, nprobe, qs) =>
          val hits = qs match {
            case Some(sl) =>
              idx.queryQuantized(qe, k, nprobe, sl, pred, include = Seq("cid", "doc"))
            case None =>
              idx.query(qe, k, nprobe, pred, include = Seq("cid", "doc"))
          }
          hits.select(col("cid").as("id"), col("doc"), col("distance"))
        case VectorStore.AttachedGraph(idx, beamWidth, hops, _) =>
          val hits = idx.query(qe, k, beamWidth, hops, where = pred)
          val lids = hits.select("id").collect().map(_.getLong(0)).toSeq
          // payload comes from an In-PRUNED point read of the index's
          // own id-sorted vectors — never a store scan
          idx.vectors.filter(col("id").isin(lids: _*))
            .select(col("id"), col("cid"), col("doc"))
            .join(broadcast(hits.withColumnRenamed("dist", "distance")), "id")
            .orderBy(asc("distance"), asc("cid"))
            .select(col("cid").as("id"), col("doc"), col("distance"))
      }
  }
}

/**
 * Encrypted twin of [[VectorStore]] — what the reference's CyborgDB stub
 * intends (/root/reference/src/cyborgdb_store.py:1-11): vectors encrypted at
 * rest so full-scan extraction yields ciphertext useless to an inversion
 * attack. Uses Spark's built-in `aes_encrypt`/`aes_decrypt` (GCM, random IV
 * per row) over the JSON-serialized embedding; the document is encrypted the
 * same way. Only `id` remains plaintext (the lookup key).
 *
 * Schema: (id STRING, doc_ct BINARY, emb_ct BINARY).
 */
final class EncryptedStore(spark: SparkSession, basePath: String, key: String) {
  require(Set(16, 24, 32).contains(key.length), "AES key must be 16/24/32 bytes")

  private def path(name: String): String = s"$basePath/$name"
  private val keyCol = lit(key)

  private def encrypt(c: Column): Column = aes_encrypt(c.cast(StringType), keyCol, lit("GCM"))

  private def decryptStr(c: Column): Column =
    aes_decrypt(c, keyCol, lit("GCM")).cast(StringType)

  /** Pre-mutation fence, installed by [[Envelope.open]]: refuses writes
    * from a handle whose data key is no longer (or is about to stop
    * being) THE key — a stale handle appending old-key ciphertext into a
    * rotated collection is the mixed keyspace the envelope design rules
    * out. Runs INSIDE the per-collection lease, so it serializes against
    * [[Envelope.rotateData]]'s per-collection rotateKey commits (which
    * take the same lease). No-op for directly-keyed stores. */
  @volatile private[store] var mutationFence: Option[() => Unit] = None

  /** Single-writer lease for the encrypted twin's mutators — beside the
    * collection dir for the same swap reason as Collection's. */
  private def withEncLease[T](name: String, op: String)(body: => T): T =
    WriterLease.withLeaseFile(
      java.nio.file.Paths.get(basePath, s"_writer_lease_enc_$name"),
      // rootKey distinct from a plain Collection at the same basePath+name:
      // they hold DIFFERENT lease files, so thread-reentrancy must not
      // conflate them (a holder of one would silently skip the other)
      op, s"enc:${path(name)}") { mutationFence.foreach(_()); body }

  // tombstones and the compaction marker live BESIDE the collection dir:
  // compact() and rotateKey() swap the whole dir, which would silently
  // drop in-dir state
  private def tombstonePath(name: String) = s"$basePath/__enc_tombstones/$name"
  private def encMarker(name: String) = s"$basePath/__enc_commit_$name"

  /** Finish any interrupted staged publish on `name` (the [[compact]]/
    * [[rotateKey]] crash protocol) — [[Envelope.rotateData]]'s resume
    * must recover BEFORE it samples ciphertext to detect which key a
    * collection is on, including collections it will then skip. */
  private[store] def recoverCollection(name: String): Unit =
    StoreIO.recover(encMarker(name))

  /** Pending deletes (plaintext ids — the lookup key is the one column
    * stored in the clear). None while no delete is pending, so reads pay
    * nothing until one lands. */
  private def encTombstones(name: String): Option[DataFrame] = {
    val dirs = StoreIO.committedBatchDirs(tombstonePath(name))
    if (dirs.isEmpty) None
    else Some(spark.read.schema("id STRING")
      .parquet(dirs.map(_.getPath).toIndexedSeq: _*)
      .select("id").dropDuplicates("id"))
  }

  /** Live ciphertext rows: physical rows minus pending tombstones (the
    * GDPR read path — a deleted id stops being served from EVERY surface,
    * ciphertext extraction included, the moment its tombstone commits). */
  private def liveRaw(name: String): DataFrame = {
    StoreIO.recover(encMarker(name))
    // indexed layouts are batch-keyed (batch=N/cell=M): read only the
    // COMMITTED batch dirs, so a crashed half-written streaming append is
    // never served (flat layouts have no batch dirs and read whole-tree —
    // they are swapped atomically)
    val raw = rawTree(name)
    encTombstones(name).fold(raw)(ts =>
      raw.join(broadcast(ts), Seq("id"), "left_anti"))
  }

  private def encSchemaPath(name: String) = s"$basePath/__enc_schema_$name"

  /** The canonical-empty frame a fully-purged collection serves: schema
    * from the sidecar [[compact]] published beside the footerless merged
    * generation; the pre-sidecar core columns as the fallback for trees
    * compacted before the sidecar existed. */
  private def encEmptyFrame(name: String): DataFrame =
    spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      org.apache.spark.sql.types.StructType.fromDDL(
        StoreIO.readStringFile(encSchemaPath(name)).getOrElse(
          "id STRING, cell LONG, doc_ct BINARY, emb_ct BINARY, " +
            "codes_ct BINARY, batch LONG")))

  /** The whole committed ciphertext tree as a frame — canonical-empty
    * ([[encEmptyFrame]]) when no committed generation holds a parquet
    * footer: an all-tombstoned compact publishes a bare-_SUCCESS
    * generation that schema inference cannot read, and a fully-purged
    * collection must serve EMPTY answers, not AnalysisExceptions. Shared
    * by [[liveRaw]] and [[rotateKey]] (a purged collection's SIDECARS
    * still rotate on DEK compromise). */
  private def rawTree(name: String): DataFrame = {
    // empty-is-canonical applies only to a collection that EXISTS: an
    // all-tombstoned compact always leaves the collection dir (bare
    // _SUCCESS) — a missing dir is a typo'd name and must stay the loud
    // PATH_NOT_FOUND it always was, not an empty answer
    if (!new java.io.File(path(name)).exists())
      return spark.read.parquet(path(name))
    val batchDirs = StoreIO.committedBatchDirs(path(name))
    if (batchDirs.isEmpty) {
      if (StoreIO.hasParquetFooter(new java.io.File(path(name))))
        spark.read.parquet(path(name))
      else encEmptyFrame(name)
    } else {
      val withFooter = batchDirs.filter(StoreIO.hasParquetFooter)
      if (withFooter.nonEmpty)
        spark.read.option("basePath", path(name))
          .parquet(batchDirs.map(_.getPath).toIndexedSeq: _*)
      else encEmptyFrame(name)
    }
  }

  private def writeTombstoneBatch(name: String, ids: DataFrame): Unit = {
    val next = StoreIO.committedBatchDirs(tombstonePath(name))
      .map(_.getName.stripPrefix("batch=").toLong).foldLeft(-1L)(math.max) + 1
    // only KNOWN ids tombstone (Chroma ignores unknown ids; a tombstone
    // for a never-stored id would block a later add of that id for no
    // reason) — the matching set stays a distributed frame, read from
    // COMMITTED batch dirs only (liveRaw discipline: a crashed partial
    // append dir must not wedge deletes on a torn footer)
    val tsBatchDirs = StoreIO.committedBatchDirs(path(name))
    val known =
      if (tsBatchDirs.isEmpty) spark.read.parquet(path(name)).select("id")
      else spark.read.option("basePath", path(name))
        .parquet(tsBatchDirs.map(_.getPath).toIndexedSeq: _*).select("id")
    known
      .join(ids.select("id"), Seq("id"), "left_semi")
      .dropDuplicates("id")
      .write.mode("overwrite").parquet(s"${tombstonePath(name)}/batch=$next")
  }

  /** GDPR delete on the encrypted twin: the ids land as a tombstone batch
    * — every read surface ([[extractSecure]], [[open]], [[query]])
    * excludes them immediately; [[compact]] purges the ciphertext rows
    * physically. Write cost is O(batch). */
  def delete(name: String, ids: Seq[String]): Unit =
    withEncLease(name, "EncryptedStore.delete") {
      import spark.implicits._
      writeTombstoneBatch(name, ids.toDF("id"))
    }

  /** [[delete]] by predicate over the DECRYPTED view (the store holds the
    * key — deletion criteria are usually about content, which only exists
    * in the clear): matching ids are derived with one narrow scan and
    * never collected to the driver. */
  def deleteWhere(name: String, cond: Column): Unit =
    withEncLease(name, "EncryptedStore.deleteWhere") {
      writeTombstoneBatch(name,
        open(name).filter(coalesce(cond, lit(false))).select("id"))
    }

  /** Snapshot the encrypted collection under `tag`: ciphertext files
    * hardlink (zero data copied) and the PENDING TOMBSTONE state pins
    * with them, so the frozen view serves exactly what the live one
    * served at tag time — deletes already pending stay excluded, deletes
    * issued later do not reach it. NOTE the GDPR interplay, by design:
    * a snapshot holds references to ciphertext that a later
    * delete+compact purges from the LIVE store; full erasure requires
    * dropping (or re-tagging) snapshots that predate the delete —
    * the same contract as any backup, surfaced here explicitly. */
  def snapshot(name: String, tag: String): Unit =
    withEncLease(name, "EncryptedStore.snapshot") {
      require(tag.nonEmpty && !tag.contains('/'), s"bad snapshot tag: $tag")
      StoreIO.recover(encMarker(name))
      val dest = java.nio.file.Paths.get(s"$basePath/__enc_snapshots/$name/$tag")
      StoreIO.rmTree(dest.toFile)
      java.nio.file.Files.createDirectories(dest)
      StoreIO.hardlinkTree(new java.io.File(path(name)),
        dest.resolve("data").toFile)
      val tsDirs = StoreIO.committedBatchDirs(tombstonePath(name))
      tsDirs.foreach(d => StoreIO.hardlinkTree(d,
        dest.resolve("tombstones").resolve(d.getName).toFile))
    }

  /** Read a snapshot's live rows (decrypted), tombstone state included. */
  def openSnapshot(name: String, tag: String): DataFrame = {
    val snap = s"$basePath/__enc_snapshots/$name/$tag"
    val raw = spark.read.parquet(s"$snap/data")
    val tsDirs = StoreIO.committedBatchDirs(s"$snap/tombstones")
    val live =
      if (tsDirs.isEmpty) raw
      else raw.join(broadcast(
        spark.read.schema("id STRING").parquet(tsDirs.map(_.getPath).toIndexedSeq: _*)
          .select("id").dropDuplicates("id")), Seq("id"), "left_anti")
    live.select(
      col("id"),
      decryptStr(col("doc_ct")).as("doc"),
      from_json(decryptStr(col("emb_ct")), ArrayType(FloatType)).as("emb"))
  }

  def dropSnapshot(name: String, tag: String): Unit =
    StoreIO.rmTree(new java.io.File(s"$basePath/__enc_snapshots/$name/$tag"))

  /** Fold pending deletes into the physical store: rewrite without the
    * tombstoned rows and clear the tombstone dirs in ONE crash-consistent
    * commit ([[StoreIO.commitStaged]] + open-time recover), so a crash
    * can never re-apply a delete against re-added rows or leave purged
    * rows co-resident with their tombstones. After compact, the
    * ciphertext is GONE — the physical purge the GDPR story requires
    * (the reference's whole thesis is the encrypted path,
    * /root/reference/src/cyborgdb_store.py:1-11). */
  def compact(name: String): Unit = withEncLease(name, "EncryptedStore.compact") {
    StoreIO.recover(encMarker(name))
    val tsDirs = StoreIO.committedBatchDirs(tombstonePath(name))
    val batchDirs = StoreIO.committedBatchDirs(path(name))
    val live = liveRaw(name)
    if (live.columns.contains("cell")) {
      // indexed layout: fold every streaming batch dir AND the pending
      // tombstones into one merged batch=0 tree; the append fence advances
      // to the highest folded batch id IN THE SAME commit, so a replayed
      // micro-batch cannot re-land rows the merge already carries
      if (tsDirs.nonEmpty || batchDirs.length > 1) {
        val maxBatch = batchDirs.map(_.getName.stripPrefix("batch=").toLong)
          .foldLeft(encAppendHwm(name))(math.max)
        val folded = live.drop("batch")
        // pruning radii fold with the data: max over the generations
        // (deletes only SHRINK true radii — stale maxima stay sound) into
        // the merged batch=0, re-encrypted driver-side. An INCOMPLETE
        // sidecar (some batch never got its radii) must be DROPPED
        // instead: folding a partial set over merged data would fabricate
        // a bound the uncovered rows can exceed — unsound, unlike simply
        // having no radii at all.
        val (radStages, radCleanup) = encRadiiFoldStages(name, this)
        StoreIO.commitStaged(Seq(
          StoreIO.Staged(s"${path(name)}__stage", path(name),
            st => folded.write.mode("overwrite").partitionBy("cell")
              .parquet(s"$st/batch=0")),
          // schema sidecar: an all-tombstoned merge writes a footerless
          // bare-_SUCCESS generation — record the row schema (incl. the
          // batch partition column) so the purged tree can still serve
          // canonical-empty frames and rotate its sidecars
          StoreIO.Staged(s"${encSchemaPath(name)}__stage", encSchemaPath(name),
            st => StoreIO.writeStringFile(st, live.schema.toDDL)),
          StoreIO.Staged(s"${encAppendHwmPath(name)}__stage", encAppendHwmPath(name),
            st => StoreIO.writeLongFile(st, maxBatch))) ++ radStages,
          encMarker(name), cleanup = tsDirs.map(_.getPath).toSeq ++ radCleanup)
      }
    } else if (tsDirs.nonEmpty) {
      StoreIO.commitStaged(Seq(
        StoreIO.Staged(s"${path(name)}__stage", path(name),
          st => live.write.mode("overwrite").parquet(st)),
        StoreIO.Staged(s"${encSchemaPath(name)}__stage", encSchemaPath(name),
          st => StoreIO.writeStringFile(st, live.schema.toDDL))),
        encMarker(name), cleanup = tsDirs.map(_.getPath).toSeq)
    }
  }

  /** Encrypt and store (id, doc, emb) rows. */
  def store(rows: DataFrame, name: String): Unit =
    withEncLease(name, "EncryptedStore.store") {
      rows.select(
        col("id").cast(StringType).as("id"),
        encrypt(col("doc")).as("doc_ct"),
        encrypt(to_json(col("emb"))).as("emb_ct"))
        .write.mode("overwrite").parquet(path(name))
    }

  private def encCentroidPath(name: String) = s"$basePath/__enc_centroids/$name"
  private def encSq8Path(name: String) = s"$basePath/__enc_sq8/$name"
  private def encPqPath(name: String) = s"$basePath/__enc_pq/$name"
  private def encRadiiPath(name: String) = s"$basePath/__enc_radii/$name"

  /** (cell, rmax_ct) of an assigned PLAINTEXT frame — the per-cell
    * pruning radii behind the encrypted exact surfaces
    * ([[queryIndexedExact]]/[[rangeSearchIndexed]]/[[selfJoinIndexed]]),
    * ENCRYPTED like every geometry sidecar: plaintext cell radii beside
    * ciphertext would leak each cluster's spread. numCells rows, one
    * narrow aggregation over rows the writer (key holder) already has in
    * plaintext. */
  private def encCellRadii(assigned: DataFrame,
                           cents: Array[(Long, Array[Float])]): DataFrame =
    ExactPrune.cellRadiiFrame(assigned, cents)
      .select(col("cell"), encrypt(col("rmax")).as("rmax_ct"))

  /** The reference's CORE promise — encrypted vector SEARCH, not just
    * encrypted vector storage (cyborgdb_store.py:1-11 markets exactly
    * this) — re-expressed at Spark scale: ciphertext rows land
    * cell-partitioned by a trained IVF assignment, so [[queryIndexed]]
    * reads ONLY the probed partitions and decrypts ONLY those rows.
    * What's on disk: plaintext row id (the lookup key, same tradeoff as
    * [[store]]), an opaque cell number, and GCM ciphertext for document
    * and embedding; the centroids themselves are stored ENCRYPTED in a
    * sidecar, so without the key the index structure reveals only
    * "these rows cluster together" — no geometry. Training runs on the
    * writer's plaintext (the key holder — the reference's client-side
    * model), with [[graft.operators.KMeans]]'s farthest-first +
    * quantized Lloyd, the [[IvfIndex]] recipe.
    *
    * At 100 TB this is the difference between decrypting the corpus per
    * query ([[query]]'s brute path, key-holder batch analytics) and
    * decrypting ~nprobe/numCells of it (serving). */
  /** `codes`/`pqM` select the quantizer behind `codes_ct` — "sq8"
    * (default: per-dim grid, 1 byte/dim) or "pq" (per-subspace codebooks,
    * `pqM` bytes/vector — the 32× ciphertext-scan story). Either way the
    * quantizer sidecar stores ENCRYPTED: plaintext codebooks/grids beside
    * ciphertext would hand the attacker the quantized geometry. */
  /** `recallTarget`: serve by POLICY instead of a hand-picked depth —
    * after the build commit, [[calibrateNprobe]] sweeps probe depths on
    * a decrypt-bounded self-panel (`calibrateK`/`calibratePanel`) and
    * the chosen depth persists encrypted beside the sidecars;
    * [[queryIndexedAuto]] then routes through it. The plaintext
    * `attachIvfIndex(recallTarget=)` knob, writer-side (only a key
    * holder can measure recall). */
  def storeIndexed(rows: DataFrame, name: String, numCells: Int,
                   codes: String = "sq8", pqM: Int = 8,
                   recallTarget: Option[Double] = None,
                   calibrateK: Int = 10, calibratePanel: Int = 64): Unit =
    withEncLease(name, "EncryptedStore.storeIndexed") {
      require(codes == "sq8" || codes == "pq", s"codes must be sq8 or pq, got $codes")
      val v = rows.select(col("id").cast(StringType).as("id"),
        col("doc"), col("emb"))
        // deterministic numeric spine for the trainer (string ids)
        .withColumn("kid", xxhash64(col("id")))
        .persist()
      try {
        val seeds = graft.operators.KMeans.farthestFirstSeeds(v, "kid", "emb", numCells)
        val cents = graft.operators.KMeans.trainQuantized(
          v, "kid", "emb", numCells, IvfIndex.TrainIters, Some(seeds))
        val centDf = spark.createDataFrame(cents.toSeq.map { case (cid, c) => (cid, c.toSeq) })
          .toDF("cid", "cemb")
          .select(col("cid"), encrypt(to_json(col("cemb"))).as("cemb_ct"))
        // quantizer sidecar, ENCRYPTED like the centroids: plaintext codes
        // beside ciphertext would hand the attacker the quantized geometry —
        // the exact leak the store exists to prevent. SQ8 codes_ct rows are
        // ~1/7 the ciphertext of the JSON-float emb_ct; PQ's are ~1/30.
        // A rebuild switching kinds sweeps the other sidecar in the same
        // crash-consistent commit.
        val (codesStage, codesCt, otherSidecar) =
          if (codes == "sq8") {
            val sq8 = v.select(posexplode(col("emb")).as(Seq("d", "x")))
              .groupBy("d").agg(min(col("x").cast("double")).as("mn"),
                max(col("x").cast("double")).as("mx"))
              .collect().map(r => (r.getInt(0), r.getDouble(1), r.getDouble(2)))
              .sortBy(_._1)
            val mn = sq8.map(_._2); val mx = sq8.map(_._3)
            val sq8Df = spark.createDataFrame(Seq(
                (mn.mkString("[", ",", "]"), mx.mkString("[", ",", "]"))))
              .toDF("mn_j", "mx_j")
              .select(encrypt(col("mn_j")).as("mn_ct"), encrypt(col("mx_j")).as("mx_ct"))
            (StoreIO.Staged(s"${encSq8Path(name)}__stage", encSq8Path(name),
              st => sq8Df.coalesce(1).write.mode("overwrite").parquet(st)),
              encrypt(base64(VF.sq8Encode(col("emb"), mn, mx))).as("codes_ct"),
              encPqPath(name))
          } else {
            val books = graft.operators.ProductQuantizer.train(
              v.orderBy("kid"), "emb", pqM, IvfIndex.PqK, IvfIndex.TrainIters)
            val flat = graft.operators.ProductQuantizer.flatten(books)
            // baseline mean reconstruction error (the IvfIndex pq-drift
            // reference), encrypted like the codebooks — one pass over the
            // cached plaintext
            val baseErr = v.select(avg(VF.pqAdcDirect(
                VF.pqEncode(col("emb"), flat, pqM, IvfIndex.PqK), col("emb"),
                flat, IvfIndex.PqK)).as("e")).head().getDouble(0)
            val pqDf = spark.createDataFrame(Seq(
                (pqM, flat.mkString("[", ",", "]"), baseErr.toString)))
              .toDF("m", "books_j", "base_err_j")
              .select(col("m"), encrypt(col("books_j")).as("books_ct"),
                encrypt(col("base_err_j")).as("base_err_ct"))
            (StoreIO.Staged(s"${encPqPath(name)}__stage", encPqPath(name),
              st => pqDf.coalesce(1).write.mode("overwrite").parquet(st)),
              encrypt(base64(VF.pqEncode(col("emb"), flat, pqM, IvfIndex.PqK))).as("codes_ct"),
              encSq8Path(name))
          }
        // independent writers over the MATERIALIZED plaintext cache
        // (farthestFirstSeeds counted v) and driver-local sidecar frames —
        // overlap them (guide §2.6)
        StoreIO.commitStagedParallel(Seq(
          StoreIO.Staged(s"${encCentroidPath(name)}__stage", encCentroidPath(name),
            st => centDf.coalesce(1).write.mode("overwrite").parquet(st)),
          codesStage,
          // per-cell pruning radii for the exact surfaces, encrypted —
          // recomputed from the CACHED plaintext (reading them back off
          // the staged data would cost a decrypt pass); a rebuild replaces
          // the whole generation tree in this same commit
          StoreIO.Staged(s"${encRadiiPath(name)}__stage", encRadiiPath(name),
            st => encCellRadii(
              v.withColumn("cell", VF.nearestCentroid(col("emb"), cents)), cents)
              .coalesce(1).write.mode("overwrite").parquet(s"$st/batch=0")),
          StoreIO.Staged(s"${path(name)}__stage", path(name),
            // batch=0 level so streaming appendIndexedBatch shares one
            // uniform (batch, cell) tree with the build
            st => v.withColumn("cell", VF.nearestCentroid(col("emb"), cents))
              .select(col("id"), col("cell"),
                encrypt(col("doc")).as("doc_ct"),
                encrypt(to_json(col("emb"))).as("emb_ct"),
                codesCt)
              .write.mode("overwrite").partitionBy("cell").parquet(s"$st/batch=0"))),
          encMarker(name),
          // a REBUILD resets the append fence (the old generation's folded
          // batch ids must not fence a new stream starting from batch 0),
          // sweeps the other quantizer's sidecar, sweeps pending tombstone
          // dirs, and sweeps a stale serving policy (a depth calibrated
          // against the OLD cells says nothing about the new layout) —
          // the rebuild's input defines the new truth (IvfIndex.build's
          // contract)
          cleanup = Seq(encAppendHwmPath(name), otherSidecar, encPolicyPath(name)) ++
            StoreIO.committedBatchDirs(tombstonePath(name)).map(_.getPath),
          maxParallel = 4)
        recallTarget.foreach(t =>
          persistPolicyUnleased(name, calibrateK, t, calibratePanel): Unit)
      } finally v.unpersist(): Unit
    }

  // append replay fence for the indexed encrypted layout: highest batch
  // dir index already FOLDED by compact() — a checkpointed micro-batch
  // replayed after compaction merged its dir must not re-land its rows
  // (they already live in the merged batch=0). Monotone stream batch ids
  // make "id <= hwm" exactly "already physically applied".
  private def encAppendHwmPath(name: String) = s"$basePath/__enc_append_hwm_$name"
  private def encAppendHwm(name: String): Long =
    StoreIO.readLongFile(encAppendHwmPath(name), 0L)

  /** Batch-keyed encrypted append into a [[storeIndexed]] collection — the
    * streaming ingest path ([[graft.streaming.StreamOps.maintainEncrypted]]):
    * rows assign against the EXISTING encrypted centroids, quantize against
    * the frozen SQ8 grid, encrypt, and land under this batch's OWN
    * directory (`batch=<id+1>/cell=...`). Replaying a micro-batch
    * overwrites the same directory (idempotent; at-least-once stream →
    * exactly-once ciphertext contents), the compaction high-water mark
    * fences replays of already-folded batches, and fresh batches refuse
    * tombstoned or duplicate ids exactly like [[add]]/IvfIndex.appendBatch.
    * Queries stay cell-pruned throughout — `cell` remains a partition
    * column at every batch level. */
  /** Start a NEW stream lineage against an existing indexed collection:
    * clears the append-replay fence so a fresh checkpoint's batch ids
    * (restarting at 0) are accepted again. The fence cannot distinguish
    * "replay of a folded batch" from "first batches of a new stream" —
    * both present already-folded ids — so the operator states the intent
    * explicitly here, after terminating the old stream (the writer lease
    * serializes against any straggler). Same contract as reusing a
    * FileStreamSink directory with a fresh checkpoint. */
  def resetAppendFence(name: String): Unit =
    withEncLease(name, "EncryptedStore.resetAppendFence") {
      java.nio.file.Files.deleteIfExists(
        java.nio.file.Paths.get(encAppendHwmPath(name))): Unit
    }

  def appendIndexedBatch(rows: DataFrame, name: String, batchId: Long): Unit =
    withEncLease(name, "EncryptedStore.appendIndexed") {
      require(batchId >= 0, "batchId must be non-negative")
      if (batchId + 1 <= encAppendHwm(name))
        // fenced: either a replay of a compaction-folded batch (correct to
        // drop) or a NEW stream lineage reusing low batch ids (data loss —
        // call resetAppendFence after terminating the old stream). Loud so
        // the second case is diagnosable.
        System.err.println(s"[graft] EncryptedStore.appendIndexedBatch($name, " +
          s"batchId=$batchId) dropped by the append fence (hwm=${encAppendHwm(name)}); " +
          "if this is a NEW stream lineage, call resetAppendFence first")
      if (batchId + 1 > encAppendHwm(name)) {
        val cents = centroidsOf(name)
        require(cents.nonEmpty, s"$name has no encrypted centroid sidecar — storeIndexed() first")
        // codes recompute against the FROZEN quantizer (sq8 grid or pq
        // codebooks, whichever sidecar the build committed)
        val codesCt = sq8StatsOf(name) match {
          case Some((mn, mx)) =>
            encrypt(base64(VF.sq8Encode(col("emb"), mn, mx))).as("codes_ct")
          case None =>
            val books = pqBooksOf(name).getOrElse(
              sys.error(s"$name has no encrypted codes sidecar — storeIndexed() first"))
            encrypt(base64(VF.pqEncode(col("emb"),
              graft.operators.ProductQuantizer.flatten(books), books.length,
              IvfIndex.PqK))).as("codes_ct")
        }
        val incoming0 = StoreIO.dedupById(
          rows.select(col("id").cast(StringType).as("id"), col("doc"), col("emb")),
          Seq("doc", "emb"))
        val dir = s"${path(name)}/batch=${batchId + 1}"
        // committed dirs only (StoreIO.isCommittedDir): a crashed PARTIAL
        // first delivery must still re-run the check — see IvfIndex.appendBatch
        val isReplay = StoreIO.isCommittedDir(dir)
        if (!isReplay) encTombstones(name).foreach { ts =>
          require(incoming0.select("id").join(broadcast(ts), Seq("id"), "left_semi").isEmpty,
            "batch re-adds tombstoned ids — run compact() before re-adding deleted ids")
        }
        // duplicate-id rejection against the PHYSICAL store (plaintext id
        // column only — ciphertext untouched). The collision set comes from
        // the committed batch dirs EXCLUDING this batch's own dir — never
        // skipped on replay: a replayed micro-batch that dropped id X as a
        // collision on first delivery must drop it again, or the overwrite
        // stops being idempotent and X serves twice. (A crashed partial
        // dir lacks _SUCCESS and cannot veto fresh rows — the liveRaw
        // discipline.)
        val otherDirs = StoreIO.committedBatchDirs(path(name))
          .filter(_.getName != s"batch=${batchId + 1}")
        val incoming =
          if (otherDirs.isEmpty) incoming0
          else {
            val collisions = spark.read.option("basePath", path(name))
              .parquet(otherDirs.map(_.getPath).toIndexedSeq: _*).select("id")
              .join(broadcast(incoming0.select("id")), Seq("id"), "left_semi")
            incoming0.join(collisions, Seq("id"), "left_anti")
          }
        // one evaluation of the assign lineage for the radii AND data
        // writes (IvfIndex.appendBatch's discipline)
        val assigned = incoming
          .withColumn("cell", VF.nearestCentroid(col("emb"), cents)).persist()
        try {
          // radii FIRST, ciphertext second: an orphan radii generation
          // (crash before the data write) only inflates the pruning bound;
          // the reverse order would leave a committed batch without radii,
          // which [[encRadiiOf]] treats as pruning-disabled — sound either
          // way, this order degrades less
          encCellRadii(assigned, cents)
            .coalesce(1).write.mode("overwrite").parquet(s"${encRadiiPath(name)}/batch=${batchId + 1}")
          assigned
            .select(col("id"), col("cell"),
              encrypt(col("doc")).as("doc_ct"),
              encrypt(to_json(col("emb"))).as("emb_ct"),
              codesCt)
            .write.mode("overwrite").partitionBy("cell").parquet(dir)
        } finally assigned.unpersist(): Unit
      }
    }

  /** Decrypted SQ8 grid of an indexed collection (key holders only). */
  private def sq8StatsOf(name: String): Option[(Array[Double], Array[Double])] =
    if (!new java.io.File(s"${encSq8Path(name)}/_SUCCESS").exists()) None
    else {
      val r = spark.read.parquet(encSq8Path(name))
        .select(from_json(decryptStr(col("mn_ct")), ArrayType(DoubleType)).as("mn"),
          from_json(decryptStr(col("mx_ct")), ArrayType(DoubleType)).as("mx"))
        .head()
      Some((r.getSeq[Double](0).toArray, r.getSeq[Double](1).toArray))
    }

  /** Decrypted PQ codebooks plus the build-frozen baseline reconstruction
    * error of an indexed collection (key holders only), from ONE sidecar
    * decrypt — None unless the collection was stored with `codes = "pq"`.
    * The baseline is None for a sidecar written before the drift signal
    * existed (pre-`base_err_ct` schema): [[EncryptedStore.balanceIndexed]]
    * reports `pqErrRatio` 1.0 and [[rotateKey]] rotates without it, instead
    * of crashing on the missing column. */
  private def pqSidecarOf(name: String): Option[(graft.operators.ProductQuantizer.Codebooks, Option[Double])] =
    if (!new java.io.File(s"${encPqPath(name)}/_SUCCESS").exists()) None
    else {
      val df = spark.read.parquet(encPqPath(name))
      val hasErr = df.columns.contains("base_err_ct")
      val cols = Seq(col("m"),
          from_json(decryptStr(col("books_ct")), ArrayType(FloatType)).as("flat")) ++
        (if (hasErr) Seq(decryptStr(col("base_err_ct")).as("base_err_j")) else Nil)
      val r = df.select(cols: _*).head()
      val m = r.getInt(0)
      val flat = r.getSeq[Float](1).toArray
      val k = IvfIndex.PqK
      val subDim = flat.length / (m * k)
      val books = Array.tabulate(m)(mi => Array.tabulate(k)(c =>
        (c.toLong,
          java.util.Arrays.copyOfRange(flat, (mi * k + c) * subDim,
            (mi * k + c + 1) * subDim))))
      Some((books, if (hasErr) Some(r.getString(2).toDouble) else None))
    }

  /** Decrypted PQ codebooks of an indexed collection (key holders only) —
    * None unless the collection was stored with `codes = "pq"`. */
  private def pqBooksOf(name: String): Option[graft.operators.ProductQuantizer.Codebooks] =
    pqSidecarOf(name).map(_._1)

  /** Decrypted centroids of an indexed collection (key holders only). */
  private def centroidsOf(name: String): Array[(Long, Array[Float])] =
    spark.read.parquet(encCentroidPath(name))
      .select(col("cid"),
        from_json(decryptStr(col("cemb_ct")), ArrayType(FloatType)).as("cemb"))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray)).sortBy(_._1)

  /** Decrypted effective per-cell pruning radii (key holders only): per
    * cell, the max over every committed generation — deletes only SHRINK
    * a cell's true radius, so stale maxima stay sound and the next
    * compact/retrain re-tightens them. None when any committed ciphertext
    * batch has no radii generation (a pre-radii store, or a crash between
    * a batch commit and its radii write): the exact surfaces then decrypt
    * every cell rather than trust an unsound bound. */
  /** The staged fold of the radii generations into a single batch=0 dir
    * under `reEncryptor`'s key (`this` for [[compact]], the successor
    * store for [[rotateKey]]), plus the cleanup for an incomplete sidecar
    * that must be dropped rather than folded. Empty/empty when there is
    * no sidecar at all. */
  private def encRadiiFoldStages(name: String, reEncryptor: EncryptedStore)
      : (Seq[StoreIO.Staged], Seq[String]) = {
    val radDirs = StoreIO.committedBatchDirs(encRadiiPath(name))
    if (radDirs.isEmpty) (Seq.empty, Seq.empty)
    else encRadiiOf(name) match {
      case Some(rm) =>
        val rdf = spark.createDataFrame(rm.toSeq).toDF("cell", "rmax")
          .select(col("cell"), reEncryptor.encrypt(col("rmax")).as("rmax_ct"))
        (Seq(StoreIO.Staged(s"${encRadiiPath(name)}__stage", encRadiiPath(name),
          st => rdf.coalesce(1).write.mode("overwrite").parquet(s"$st/batch=0"))), Seq.empty)
      case None => (Seq.empty, Seq(encRadiiPath(name)))
    }
  }

  private def encRadiiOf(name: String): Option[Map[Long, Double]] = {
    val dataNames = StoreIO.committedBatchDirs(path(name)).map(_.getName)
    val radDirs = StoreIO.committedBatchDirs(encRadiiPath(name))
    val radNames = radDirs.map(_.getName).toSet
    if (dataNames.isEmpty || dataNames.exists(!radNames.contains(_))) None
    else Some(spark.read.option("basePath", encRadiiPath(name))
      .parquet(radDirs.map(_.getPath).toIndexedSeq: _*)
      .select(col("cell"), decryptStr(col("rmax_ct")).as("r"))
      .collect().map(r => (r.getLong(0), r.getString(1).toDouble))
      .groupBy(_._1).map { case (c, rs) => (c, rs.map(_._2).max) })
  }

  /** Cell-pruned kNN over a [[storeIndexed]] collection: the probe's
    * nprobe nearest cells come from the (tiny, decrypted-driver-side)
    * centroid sidecar; the scan reads only those PARTITIONS
    * (`PartitionFilters`, spec-asserted) and decryption runs only on the
    * surviving rows. Pending tombstones are excluded exactly as on the
    * flat layout. */
  def queryIndexed(name: String, queryEmb: Array[Float], k: Int,
                   nprobe: Int): DataFrame = {
    val cents = centroidsOf(name)
    require(cents.nonEmpty, s"$name has no encrypted centroid sidecar — storeIndexed() first")
    val cells = cents.map { case (cid, c) => (encL2sq(c, queryEmb), cid) }
      .sorted.take(nprobe).map(_._2).toSeq
    encQueryCells(name, queryEmb, k, cells)
  }

  /** The pruned live SCORED ciphertext frame every encrypted cell-scan
    * surface shares: partition-pruned scan, decrypt, SQUARED L2. */
  private def encScanCells(name: String, queryEmb: Array[Float],
                           cells: Seq[Long]): DataFrame =
    liveRaw(name)
      .filter(col("cell").isin(cells: _*)) // partition pruning, not a row filter
      .withColumn("emb", from_json(decryptStr(col("emb_ct")), ArrayType(FloatType)))
      .withColumn("distance", VF.l2Sq(col("emb"), typedlit(queryEmb)))

  /** [[queryIndexed]] over an EXPLICIT cell set — the shared tail of the
    * probed and exact encrypted surfaces. */
  private def encQueryCells(name: String, queryEmb: Array[Float], k: Int,
                            cells: Seq[Long]): DataFrame =
    encScanCells(name, queryEmb, cells)
      .orderBy(asc("distance"), asc("id"))
      .limit(k)
      .select(col("id"), decryptStr(col("doc_ct")).as("doc"), col("distance"))

  /** [[graft.store.IvfIndex.exactCandidateCells]] on ciphertext: the
    * `probe0` nearest cells plus every cell whose triangle-inequality
    * lower bound d(q, centroid) − r_cell does not beat the kth-best match
    * found in the probed cells. Driver-side over the DECRYPTED
    * centroid+radius sidecars (key holders only); without radii every
    * cell is a candidate. Package-private for the pruning specs. */
  private[graft] def encExactCandidateCells(name: String, queryEmb: Array[Float],
      k: Int, probe0: Int): Seq[Long] = {
    val cents = centroidsOf(name)
    require(cents.nonEmpty, s"$name has no encrypted centroid sidecar — storeIndexed() first")
    ExactPrune.topkCells(cents, encRadiiOf(name), queryEmb, k, probe0,
      cells => encQueryCells(name, queryEmb, k, cells)
        .select("distance").collect().map(_.getDouble(0)).toSeq)
  }

  /** EXACT top-k on ciphertext — brute-force answers at pruned-DECRYPT
    * cost, [[graft.store.IvfIndex.queryExact]]'s encrypted twin. Where
    * the plaintext win is scan bytes, here it is AES-GCM work: only the
    * candidate cells' rows decrypt, the candidate set provably contains
    * the exact answer, and the probed cells' ciphertext decrypts ONCE —
    * the τ probe's k collected rows are reused as the head start the
    * surviving-cell scan unions with, instead of re-decrypting the
    * (typically densest) probed cells a second time. Independent of
    * training quality (unlike [[queryIndexed]] at partial nprobe); a
    * pre-radii store degrades to the full decrypt — still exact. Same
    * output as [[queryIndexed]]. */
  def queryIndexedExact(name: String, queryEmb: Array[Float], k: Int,
                        probe0: Int = 4): DataFrame = {
    val cents = centroidsOf(name)
    require(cents.nonEmpty, s"$name has no encrypted centroid sidecar — storeIndexed() first")
    val ordered = ExactPrune.orderedCells(cents, queryEmb)
    encRadiiOf(name) match {
      case None => encQueryCells(name, queryEmb, k, ordered.map(_._2))
      case Some(rm) =>
        val p0 = ExactPrune.clampProbe(probe0, ordered.length)
        val probed = ordered.take(p0).map(_._2)
        val probeDf = encQueryCells(name, queryEmb, k, probed)
        val top = probeDf.collect()
        val tau = ExactPrune.tauOf(top.map(_.getDouble(2)).toSeq, k)
        val rest = ExactPrune.survivors(ordered.drop(p0), rm, tau)
        val topDf = spark.createDataFrame(
          java.util.Arrays.asList(top: _*), probeDf.schema)
        if (rest.isEmpty) topDf
        else topDf.union(encQueryCells(name, queryEmb, k, rest))
          .orderBy(asc("distance"), asc("id")).limit(k)
    }
  }

  // --------------------------------------- encrypted recall calibration

  /** The EXACT top-`k` members of an encrypted probe WITH their cells —
    * the sweep's per-probe exact arm, decrypt-bounded exactly like
    * [[queryIndexedExact]] (probe `probe0` cells for τ, decrypt only the
    * triangle-inequality survivors; a pre-radii store degrades to the
    * full decrypt — still exact). `excludeId` drops the self row (the
    * self-panel convention). Returns (id, cell, distance) sorted
    * (distance, xxhash64(id)). */
  private def encExactMembers(name: String, qe: Array[Float], k: Int,
      probe0: Int, excludeId: Option[String]): Seq[(String, Long, Double)] = {
    val cents = centroidsOf(name)
    require(cents.nonEmpty, s"$name has no encrypted centroid sidecar — storeIndexed() first")
    // ties break by kid = xxhash64(string id) — the SAME total order the
    // plaintext twin's exact arm uses (GroupedTopK over the long kid
    // spine), so the spec-pinned "encrypted sweep ≡ plaintext sweep
    // hit-for-hit" contract survives distance ties landing in different
    // cells; breaking by string id here would count a different member
    def cellsTop(cells: Seq[Long]): Seq[(String, Long, Long, Double)] = {
      if (cells.isEmpty) return Nil
      val base = encScanCells(name, qe, cells)
      excludeId.fold(base)(x => base.filter(col("id") =!= lit(x)))
        .orderBy(col("distance").asc, xxhash64(col("id")).asc).limit(k)
        .select(col("id"), xxhash64(col("id")), col("cell").cast("long"),
          col("distance"))
        .collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
        .toSeq
    }
    def topK(ms: Seq[(String, Long, Long, Double)]): Seq[(String, Long, Double)] =
      ms.sortBy { case (_, kid, _, d) => (d, kid) }.take(k)
        .map { case (id, _, cell, d) => (id, cell, d) }
    val ordered = ExactPrune.orderedCells(cents, qe)
    encRadiiOf(name) match {
      case None => topK(cellsTop(ordered.map(_._2)))
      case Some(rm) =>
        val p0 = ExactPrune.clampProbe(probe0, ordered.length)
        val probed = ordered.take(p0).map(_._2)
        val top = cellsTop(probed)
        // τ from the EXCLUDED probe is an upper bound on the excluded
        // problem's kth distance — exclusion can only widen τ, so the
        // survivor set still provably contains the exact answer
        val tau = ExactPrune.tauOf(top.map(_._4), k)
        val rest = ExactPrune.survivors(ordered.drop(p0), rm, tau)
        topK(top ++ cellsTop(rest))
    }
  }

  /** [[graft.store.IvfIndex.calibrationPanel]]'s encrypted twin — the
    * SAME rows the plaintext twin would draw: the store's trainer spine
    * is kid = xxhash64(string id), so ordering by (xxhash64(kid), kid)
    * selects row-for-row the panel an [[IvfIndex]] built over the
    * xxhash64-keyed rows would (EncryptedIndexSpec pins the equivalence).
    * Decrypts exactly `panelCap` embedding cells. */
  def calibrationPanel(name: String, panelCap: Int): Seq[(String, Array[Float])] = {
    val kid = xxhash64(col("id"))
    liveRaw(name)
      .orderBy(xxhash64(kid), kid).limit(panelCap)
      .select(col("id"),
        from_json(decryptStr(col("emb_ct")), ArrayType(FloatType)).as("emb"))
      .collect().map(r => (r.getString(0), r.getSeq[Float](1).toArray)).toSeq
  }

  /** Recall@`k` of every probe depth in `ladder` against the EXACT
    * answer, on CIPHERTEXT — [[graft.store.IvfIndex.calibrationSweep]]'s
    * encrypted twin, runnable only by a key holder (the writer): the
    * per-probe exact arm is the triangle-pruned exact probe
    * ([[encExactMembers]] — decrypts candidate cells only, never the
    * corpus), and every depth's hits come from the SAME nesting lemma as
    * the plaintext sweep — an exact member e is in depth p's top-k IFF
    * its cell's rank in the probe's centroid order is ≤ p, so hits(p) is
    * pure driver arithmetic over the members' cells. Total decrypt
    * volume: panel × (probe0 + surviving) cells. Exact integer hit
    * counts; returns (nprobe, hits, probes, recall) ordered by nprobe. */
  def calibrationSweep(name: String, panel: Seq[(String, Array[Float])], k: Int,
                       ladder: Seq[Int],
                       excludeSelf: Boolean = false): DataFrame = {
    require(panel.nonEmpty, "calibration needs a non-empty probe panel")
    require(panel.length <= 4096, "calibration panel is index-metadata scale")
    val cents = centroidsOf(name)
    require(cents.nonEmpty, s"$name has no encrypted centroid sidecar — storeIndexed() first")
    val steps = ladder.distinct.sorted
    require(steps.nonEmpty && steps.head >= 1 && steps.last <= cents.length,
      s"ladder must sit in [1, ${cents.length}]")
    val perProbe: Seq[Seq[Int]] = panel.map { case (pid, pe) =>
      val crank = encCellRank(cents, pe)
      encExactMembers(name, pe, k, probe0 = 4,
        excludeId = if (excludeSelf) Some(pid) else None)
        .map { case (_, cell, _) => crank(cell) }
    }
    val rows = steps.map { p =>
      val hits = perProbe.map(_.count(_ <= p)).sum
      (p, hits.toLong, panel.length.toLong, PolicySidecar.recall(hits, panel.length, k))
    }
    spark.createDataFrame(rows).toDF("nprobe", "hits", "probes", "recall")
  }

  /** The SMALLEST ladder depth whose panel recall@`k` meets `target` —
    * [[graft.store.IvfIndex.calibrateNprobe]]'s encrypted twin (the
    * self-panel, the default power-of-two ladder whose numCells rung is
    * exact by construction, the fail-loud unreachable-target contract).
    * Only a key holder can run it; serving itself stays on ciphertext. */
  def calibrateNprobe(name: String, k: Int, target: Double,
                      panelCap: Int = 64, ladder: Seq[Int] = Nil): Int =
    PolicySidecar.pickRung(target, "depth", "include numCells (the exact " +
        "rung, recall 1.0) in the ladder or lower the target") {
      val numCells = centroidsOf(name).length
      require(numCells > 0, s"$name has no encrypted centroid sidecar — storeIndexed() first")
      calibrationSweep(name, calibrationPanel(name, panelCap), k,
        PolicySidecar.depthLadder(ladder, numCells), excludeSelf = true)
    }

  /** PER-PROBE exact serving depths on CIPHERTEXT —
    * [[graft.store.IvfIndex.exactDepths]]'s encrypted twin, the policy the
    * plaintext side gained in r10 rebuilt for the key holder: probe p's
    * depth is the MAX cell rank (in p's centroid order) over its exact
    * top-`k` members, the smallest depth whose probed candidate set
    * provably contains the whole exact top-k (the nesting lemma —
    * candidates nest across depths, so an exact member is served at depth
    * d iff its cell ranks ≤ d). A GLOBAL policy ([[calibrateNprobe]])
    * carries every probe to the worst probe's depth — on ciphertext that
    * is not just wasted scan but wasted AES-GCM: a straddling probe
    * forces every probe's DECRYPT to its depth. Here each probe decrypts
    * exactly its own provably-needed cells.
    *
    * The exact arm is the decrypt-bounded triangle-pruned probe
    * ([[encExactMembers]] — probe `probe0` cells for τ, decrypt only the
    * surviving cells), so total decrypt volume is
    * panel × (probe0 + surviving) cells, never the corpus. Probes with
    * fewer than `k` candidates report numCells (only the full scan is
    * provably exact — the plaintext convention). `excludeSelfIds` maps a
    * probe id to the ROW id whose self-hit the exact arm must drop (the
    * self-panel convention; serving panels leave it empty).
    *
    * Returns (probe id → depth) ready for
    * [[queryIndexedBatch]]/[[queryIndexedBatchQuantized]]'s `depthOf` —
    * depth-for-depth equal to the plaintext twin's [[graft.store.IvfIndex.exactDepths]]
    * on the same kid-keyed data (spec-pinned, EncryptedIndexSpec). Key
    * holders only; serving itself stays on ciphertext. */
  def exactDepths(name: String, panel: Seq[(Long, Array[Float])], k: Int,
                  probe0: Int = 4,
                  excludeSelfIds: Map[Long, String] = Map.empty): Map[Long, Int] = {
    require(panel.nonEmpty, "exactDepths needs a non-empty probe panel")
    require(panel.length <= 4096, "calibration panel is index-metadata scale")
    val cents = centroidsOf(name)
    require(cents.nonEmpty, s"$name has no encrypted centroid sidecar — storeIndexed() first")
    val numCells = cents.length
    panel.map { case (pid, pe) =>
      val crank = encCellRank(cents, pe)
      val members = encExactMembers(name, pe, k, probe0,
        excludeId = excludeSelfIds.get(pid))
      pid -> (if (members.length < k) numCells
              else members.map { case (_, cell, _) => crank(cell) }.max)
    }.toMap
  }

  // ------------------------------ persisted per-probe depth policy

  private def encDepthsPath(name: String) = s"$basePath/__enc_depths/$name"

  /** Publish fingerprint of collection `name` — the
    * [[graft.store.IvfIndex]] hot-tier discipline on the encrypted
    * collection: a recursive LISTING walk (names + mtimes + sizes) over
    * the data tree, the tombstones, the append fence, and every geometry
    * sidecar, so any add/append/delete/compact/retrain — and a key
    * rotation, which rewrites every file — flips it. Driver-side
    * metadata, no Spark jobs. */
  private def encContentFp(name: String): String =
    Seq(path(name), tombstonePath(name), encCentroidPath(name),
      encSq8Path(name), encPqPath(name), encRadiiPath(name))
      .map(StoreIO.treeFp).mkString("|") + s"|${encAppendHwm(name)}"

  private def depthSidecar(name: String) = new PolicySidecar(spark,
    encDepthsPath(name), encMarker(name), s"EncryptedStore collection $name",
    "depth", "the collection changed (append/delete/compact/retrain/rotate)",
    () => encContentFp(name), seal = Some((encrypt _, decryptStr _)))

  /** Calibrate [[exactDepths]] for a STANDING probe panel and persist the
    * map as an ENCRYPTED `__enc_depths` sidecar —
    * [[graft.store.IvfIndex.persistDepthPolicy]]'s twin on ciphertext,
    * completing the reopenable-serving symmetry: a key-holding server
    * reopening the store serves the panel at the committed per-probe
    * depths with zero calibration (and zero corpus decrypt). The depth
    * VALUES encrypt like every sidecar (a plaintext map would leak each
    * probe's geometric difficulty); the meta row carries only hashes
    * (panel fingerprint + the publish fingerprint the fence compares).
    * Any content-changing commit — including [[rotateKey]], whose
    * re-encryption makes the old ciphertext unreadable ANYWAY — flips
    * the fence to stale, and the stale path never decrypts, so a policy
    * persisted under a rotated-away key can refuse or re-persist but
    * never crash mid-decrypt. `precomputed` must be this exact panel's
    * fresh [[exactDepths]] result. */
  def persistDepthPolicy(name: String, panel: Seq[(Long, Array[Float])], k: Int,
                         probe0: Int = 4,
                         precomputed: Option[Map[Long, Int]] = None): Map[Long, Int] =
    withEncLease(name, "EncryptedStore.persistDepthPolicy") {
      depthSidecar(name).write(panel, k, k,
        precomputed.getOrElse(exactDepths(name, panel, k, probe0)))
    }

  /** Freshness of the committed policy for (panel, k) — the
    * [[graft.store.IvfIndex.depthPolicyStatus]] fence on ciphertext.
    * Driver-side metadata plus one tiny parquet read; the ENCRYPTED rows
    * are never touched here, so the check works under any key. */
  def depthPolicyStatus(name: String, panel: Seq[(Long, Array[Float])],
                        k: Int): IvfIndex.PolicyStatus =
    depthSidecar(name).status(panel, k, k)

  /** The committed per-probe depths — REFUSES unless
    * [[IvfIndex.PolicyFresh]] (serving at stale depths silently drops the
    * exactness evidence; a stale-after-rotation policy must refuse BEFORE
    * any decrypt is attempted). Key holders only (the depth values
    * decrypt). */
  def depthPolicy(name: String, panel: Seq[(Long, Array[Float])],
                  k: Int): Map[Long, Int] =
    depthSidecar(name).read(panel, k, k)

  /** [[depthPolicy]] with LOUD self-healing — a fresh policy reads from
    * the sidecar (|panel| decrypts, zero calibration jobs); an absent or
    * stale one re-runs [[exactDepths]] on the CURRENT ciphertext and
    * re-persists under THIS store's key. */
  def depthPolicyOrRecalibrate(name: String, panel: Seq[(Long, Array[Float])],
                               k: Int, probe0: Int = 4): Map[Long, Int] =
    depthSidecar(name).readOrRecalibrate(panel, k, k)(
      persistDepthPolicy(name, panel, k, probe0))

  private def encPolicyPath(name: String) = s"$basePath/__enc_policy/$name"

  /** The persisted calibrated serving depth, if [[storeIndexed]] was
    * given a `recallTarget` (or [[persistCalibratedNprobe]] ran) —
    * encrypted like every sidecar; None on a store with no policy. */
  def calibratedNprobe(name: String): Option[Int] =
    if (!new java.io.File(s"${encPolicyPath(name)}/_SUCCESS").exists()) None
    else Some(
      spark.read.parquet(encPolicyPath(name))
        .select(decryptStr(col("nprobe_ct")).cast("int")).head().getInt(0))

  private def persistPolicyUnleased(name: String, k: Int, target: Double,
                                    panelCap: Int): Int = {
    val depth = calibrateNprobe(name, k, target, panelCap)
    val df = spark.createDataFrame(Seq(Tuple1(depth.toString)))
      .toDF("nprobe_j")
      .select(encrypt(col("nprobe_j")).as("nprobe_ct"))
    StoreIO.commitStaged(Seq(
      StoreIO.Staged(s"${encPolicyPath(name)}__stage", encPolicyPath(name),
        st => df.write.mode("overwrite").parquet(st))),
      encMarker(name))
    depth
  }

  /** Calibrate and persist the routed serving depth for `name` — the
    * policy half of `storeIndexed(recallTarget = ...)`, callable on its
    * own to (re)calibrate an existing store after drift or appends. */
  def persistCalibratedNprobe(name: String, k: Int, target: Double,
                              panelCap: Int = 64): Int =
    withEncLease(name, "EncryptedStore.persistCalibratedNprobe") {
      persistPolicyUnleased(name, k, target, panelCap)
    }

  /** [[queryIndexed]] at the PERSISTED calibrated depth — serve by
    * policy ("recall ≥ R") instead of a hand-picked nprobe, the
    * plaintext `attachIvfIndex(recallTarget=)` routing on ciphertext.
    * Fails loudly when no policy was ever calibrated. */
  def queryIndexedAuto(name: String, queryEmb: Array[Float], k: Int): DataFrame =
    queryIndexed(name, queryEmb, k,
      calibratedNprobe(name).getOrElse(sys.error(
        s"$name has no calibrated serving policy — storeIndexed(recallTarget = ...) " +
          "or persistCalibratedNprobe() first")))

  /** The cells an encrypted range probe must decrypt: centroid lower
    * bound within `radius` (every cell without radii metadata). */
  private[graft] def encRangeCandidateCells(name: String, queryEmb: Array[Float],
                                            radius: Double): Seq[Long] = {
    val cents = centroidsOf(name)
    require(cents.nonEmpty, s"$name has no encrypted centroid sidecar — storeIndexed() first")
    ExactPrune.rangeCells(cents, encRadiiOf(name), queryEmb, radius)
  }

  /** EXACT range search on ciphertext: every live row within PLAIN L2
    * `radius` of the probe, decrypting only the cells the centroid bound
    * cannot exclude — [[graft.store.IvfIndex.rangeSearch]]'s twin.
    * `distance` stays SQUARED like every surface. */
  def rangeSearchIndexed(name: String, queryEmb: Array[Float],
                         radius: Double): DataFrame = {
    require(radius >= 0.0, "radius must be non-negative")
    encScanCells(name, queryEmb, encRangeCandidateCells(name, queryEmb, radius))
      .filter(col("distance") <= lit(radius * radius))
      .orderBy(asc("distance"), asc("id"))
      .select(col("id"), decryptStr(col("doc_ct")).as("doc"), col("distance"))
  }

  /** All-pairs-within-radius similarity SELF-JOIN on ciphertext —
    * [[graft.store.IvfIndex.selfJoinWithin]]'s twin, the near-duplicate
    * sweep a key holder runs over an encrypted corpus without ever
    * materializing it decrypted on disk. Only cell pairs with
    * d(centroids) − r_a − r_b ≤ radius can hold a qualifying pair; the
    * union of participating cells decrypts ONCE per row (materialized via
    * localCheckpoint before the pair join — projection collapse would
    * otherwise re-run AES-GCM per PAIR, the per-pair-recompute trap), and
    * the row pairing is an equi-join on the cell key. Output
    * (id_l, id_r, distance ≤ radius²) with id_l < id_r (string order). */
  def selfJoinIndexed(name: String, radius: Double): DataFrame = {
    require(radius >= 0.0, "radius must be non-negative")
    import spark.implicits._
    val cents = centroidsOf(name)
    require(cents.nonEmpty, s"$name has no encrypted centroid sidecar — storeIndexed() first")
    val orient = ExactPrune.orient(
      ExactPrune.cellPairs(cents, encRadiiOf(name), radius))
    val cellsInvolved = orient.map(_._1).distinct
    val dec = liveRaw(name)
      .filter(col("cell").isin(cellsInvolved: _*))
      .select(col("id"), col("cell").cast("long").as("cell"),
        from_json(decryptStr(col("emb_ct")), ArrayType(FloatType)).as("emb"))
      .localCheckpoint()
    val pairsDf = orient.toDF("ca", "cb")
    dec.select(col("id").as("id_l"), col("cell").as("cell_l"), col("emb").as("emb_l"))
      .join(broadcast(pairsDf), col("cell_l") === col("ca"))
      .join(dec.select(col("id").as("id_r"), col("cell").as("cell_r"),
        col("emb").as("emb_r")), col("cb") === col("cell_r"))
      .filter(col("id_l") < col("id_r"))
      .withColumn("distance", VF.l2Sq(col("emb_l"), col("emb_r")))
      .filter(col("distance") <= lit(radius * radius))
      .select(col("id_l"), col("id_r"), col("distance"))
      .orderBy(asc("id_l"), asc("id_r"))
  }

  /** Phase 1 of [[queryIndexedQuantized]] as a lazy frame, exposed for the
    * plan assert: its scan must read (id, codes_ct) and neither emb_ct nor
    * doc_ct — the full-fat ciphertext stays on disk until the rerank. */
  private[graft] def encCodesShortlist(name: String, queryEmb: Array[Float],
                                       nprobe: Int, shortlist: Int): DataFrame = {
    val (score, cells) = encQuantProbe(name, queryEmb, nprobe)
    encCodesShortlistImpl(name, score, cells, shortlist)
  }

  /** One driver-side sidecar pass shared by both phases of an encrypted
    * quantized probe: the decrypted centroids pick the cells, and the
    * frozen quantizer (SQ8 grid or PQ codebooks, whichever sidecar is
    * committed) builds the phase-1 scoring column over the decrypted
    * codes_ct bytes. */
  private def encQuantProbe(name: String, queryEmb: Array[Float],
                            nprobe: Int): (Column, Seq[Long]) = {
    val score = sq8StatsOf(name) match {
      case Some((mn, mx)) =>
        VF.sq8L2(unbase64(decryptStr(col("codes_ct"))),
          lit(graft.functions.Sq8Encode.encode(queryEmb, mn, mx)))
      case None =>
        val books = pqBooksOf(name).getOrElse(
          sys.error(s"$name has no encrypted codes sidecar — storeIndexed() first"))
        VF.pqAdc(unbase64(decryptStr(col("codes_ct"))),
          graft.operators.ProductQuantizer.adcLut(queryEmb, books), IvfIndex.PqK)
    }
    val cents = centroidsOf(name)
    require(cents.nonEmpty, s"$name has no encrypted centroid sidecar — storeIndexed() first")
    def l2sq(a: Array[Float], b: Array[Float]): Double = {
      var acc = 0.0; var i = 0
      while (i < a.length) { val d = a(i).toDouble - b(i).toDouble; acc += d * d; i += 1 }
      acc
    }
    (score, cents.map { case (cid, c) => (l2sq(c, queryEmb), cid) }
      .sorted.take(nprobe).map(_._2).toSeq)
  }

  private def encCodesShortlistImpl(name: String, score: Column,
                                    cells: Seq[Long], shortlist: Int): DataFrame =
    liveRaw(name)
      .filter(col("cell").isin(cells: _*))
      .select(col("id"), score.as("qdist"))
      .orderBy(asc("qdist"), asc("id"))
      .limit(shortlist)

  /** [[queryIndexed]] through the encrypted SQ8 codes — cell pruning AND
    * quantized candidate ranking on the encrypted store: phase 1 decrypts
    * only the compact codes_ct of the probed cells (~1/7 the bytes of the
    * JSON-float emb_ct) and ranks by exact integer L2; phase 2 decrypts
    * the full embedding for the `shortlist` survivors only and re-ranks
    * exactly. With `shortlist` >= the probed cells' population the answer
    * IS [[queryIndexed]]'s (spec-pinned). At 100 TB the per-query decrypt
    * cost drops from nprobe/numCells of the full ciphertext to
    * nprobe/numCells of the codes plus a bounded-shortlist point read. */
  def queryIndexedQuantized(name: String, queryEmb: Array[Float], k: Int,
                            nprobe: Int, shortlist: Int = 256): DataFrame = {
    require(shortlist >= k, "shortlist must be at least k")
    val (score, cells) = encQuantProbe(name, queryEmb, nprobe)
    val shortIds = encCodesShortlistImpl(name, score, cells, shortlist)
      .select("id").collect().map(_.getString(0)).toSeq
    liveRaw(name)
      .filter(col("cell").isin(cells: _*))
      .filter(col("id").isin(shortIds: _*))
      .withColumn("emb", from_json(decryptStr(col("emb_ct")), ArrayType(FloatType)))
      .withColumn("distance", VF.l2Sq(col("emb"), typedlit(queryEmb)))
      .orderBy(asc("distance"), asc("id"))
      .limit(k)
      .select(col("id"), decryptStr(col("doc_ct")).as("doc"), col("distance"))
  }

  /** Cell-geometry health of a [[storeIndexed]] collection (key holders
    * only) — `IvfIndex.balance`'s encrypted twin, ONE decrypt pass at
    * maintenance cadence: max-over-mean live rows per cell, the SQ8 clip
    * rate against the decrypted grid, or the PQ reconstruction-error
    * ratio against the encrypted baseline. The numbers
    * [[retrainIndexed]]'s trigger policy decides on. */
  def balanceIndexed(name: String): IvfBalance = {
    require(new java.io.File(s"${encCentroidPath(name)}/_SUCCESS").exists(),
      s"$name has no encrypted centroid sidecar — storeIndexed() first")
    val sq8 = sq8StatsOf(name)
    val pqInfo = if (sq8.nonEmpty) None
      else pqSidecarOf(name).map { case (b, baseErr) =>
        (graft.operators.ProductQuantizer.flatten(b), baseErr)
      }
    val rows = liveRaw(name).select(
      col("cell").cast("long").as("cell") +:
        from_json(decryptStr(col("emb_ct")), ArrayType(FloatType)).as("emb") +:
        (if (pqInfo.nonEmpty) Seq(unbase64(decryptStr(col("codes_ct"))).as("codes"))
         else Nil): _*)
    val clipCol = sq8.fold(lit(0L)) { case (mn, mx) =>
      val embD = transform(col("emb"), x => x.cast("double"))
      (aggregate(zip_with(embD, typedlit(mn.toSeq),
          (x, m) => when(x < m, 1).otherwise(0)), lit(0), (a, v) => a + v) +
        aggregate(zip_with(embD, typedlit(mx.toSeq),
          (x, m) => when(x > m, 1).otherwise(0)), lit(0), (a, v) => a + v))
        .cast("long")
    }
    val errCol = pqInfo.fold(lit(0.0)) { case (flat, _) =>
      VF.pqAdcDirect(col("codes"), col("emb"), flat, IvfIndex.PqK)
    }
    val perCell = rows
      .groupBy("cell").agg(count(lit(1)).as("n"), sum(clipCol).as("clipped"),
        sum(size(col("emb")).cast("long")).as("vals"), sum(errCol).as("err"))
      .agg(max(col("n")).as("mx"), sum(col("n")).as("rows"),
        count(lit(1)).as("cells"), sum(col("clipped")).as("clipped"),
        sum(col("vals")).as("vals"), sum(col("err")).as("err"))
      .head()
    val n = perCell.getLong(1)
    if (n == 0L) IvfBalance(0L, 0, 0.0, 0.0)
    else {
      val cells = perCell.getLong(2).toInt
      val clipRate =
        if (perCell.getLong(4) == 0L) 0.0
        else perCell.getLong(3).toDouble / perCell.getLong(4)
      // degenerate-baseline rule shared with IvfIndex.balance: exact
      // build-input reconstruction makes any live error infinite drift;
      // a pre-base_err_ct sidecar has NO baseline — report 1.0 rather
      // than a spurious trigger off an unknowable reference
      val errRatio = pqInfo.fold(0.0) { case (_, baseOpt) =>
        val liveMean = perCell.getDouble(5) / n
        baseOpt.fold(1.0) { baseErr =>
          if (baseErr > 0.0) liveMean / baseErr
          else if (liveMean > 0.0) Double.PositiveInfinity
          else 1.0
        }
      }
      IvfBalance(n, cells, perCell.getLong(0) / (n.toDouble / cells), clipRate, errRatio)
    }
  }

  /** Re-train the collection's cells AND quantizer on its CURRENT live
    * rows — `IvfIndex.retrain`'s encrypted twin, the drift remedy
    * [[appendIndexedBatch]] cannot provide (appends assign against
    * centroids and a quantizer frozen at [[storeIndexed]] time). The live
    * ciphertext decrypts ONCE (key holder — the reference's client-side
    * model), materialized before the rebuild swaps the directories it was
    * read from, then republishes through [[storeIndexed]]'s
    * crash-consistent commit preserving the quantizer kind; pending
    * tombstones drop physically with the rebuild (its input is the LIVE
    * rows) and every row re-encrypts with a fresh random IV. */
  def retrainIndexed(name: String): Unit =
    withEncLease(name, "EncryptedStore.retrainIndexed") {
      val numCells = centroidsOf(name).length
      require(numCells > 0, s"$name has no encrypted centroid sidecar — storeIndexed() first")
      val (kind, m) = sq8StatsOf(name) match {
        case Some(_) => ("sq8", 8)
        case None => pqBooksOf(name).map(b => ("pq", b.length)).getOrElse(("sq8", 8))
      }
      val live = liveRaw(name).select(col("id"),
          decryptStr(col("doc_ct")).as("doc"),
          from_json(decryptStr(col("emb_ct")), ArrayType(FloatType)).as("emb"))
        // materialize the decrypted rows BEFORE storeIndexed's staged
        // commit replaces the directories this lazy frame reads from
        .localCheckpoint()
      storeIndexed(live, name, numCells, kind, m)
    }

  private def encL2sq(a: Array[Float], b: Array[Float]): Double =
    ExactPrune.l2sq(a, b)

  /** Cell rank in the SAME (squared distance, cid) total order the
    * serving path takes cells by ([[encProbeCells]]) — the calibrated
    * depths are statements about exactly those candidate sets. A
    * sqrt-ranked crank ([[ExactPrune.orderedCells]], fine for the τ
    * probes where order only affects cost) would agree everywhere
    * EXCEPT 1-ulp rounding ties — slack a provably-minimal per-probe
    * depth does not have (the plaintext twin's scoredPanel convention,
    * IvfIndex.scala). */
  private def encCellRank(cents: Array[(Long, Array[Float])],
                          pe: Array[Float]): Map[Long, Int] =
    cents.map { case (cid, c) => (encL2sq(c, pe), cid) }.sorted
      .zipWithIndex.map { case ((_, cid), r) => cid -> (r + 1) }.toMap

  private def encProbeCells(cents: Array[(Long, Array[Float])],
                            probes: Seq[(Long, Array[Float])],
                            nprobe: Int,
                            depthOf: Map[Long, Int] = Map.empty): Seq[(Long, Array[Float], Seq[Long])] =
    probes.map { case (pid, qe) =>
      (pid, qe, cents.map { case (cid, c) => (encL2sq(c, qe), cid) }
        .sorted.take(depthOf.getOrElse(pid, nprobe)).map(_._2).toSeq)
    }

  /** Batched [[queryIndexed]] — Q probes share ONE decrypt pass over the
    * UNION of their probed cells: the pruned ciphertext decrypts once per
    * ROW (the decrypted frame is materialized via localCheckpoint before
    * the probe join — projection collapse would otherwise inline the
    * AES-GCM decrypt into the join and re-decrypt each row once per
    * matching PROBE, the per-pair-recompute trap), then each row is scored
    * only against probes whose cell set contains it and cut to top-k by
    * the answers-not-candidates
    * [[graft.operators.GroupedTopK.topKRows]] tail (string-id spine —
    * ties break on the lexical id, matching [[queryIndexed]]): the
    * exchange carries at most k × probes × tasks ANSWER rows whose payload
    * is the still-ENCRYPTED doc_ct, so decrypted embeddings never transit
    * shuffle files at all and doc decryption is answer-bounded. The
    * rejected window formulation shipped the full decrypted candidate
    * volume to the reducers. Per-probe results are [[queryIndexed]]'s at
    * each probe's depth (spec-pinned, EncryptedIndexSpec). A bulk encrypted workload pays
    * ~one probe's decrypt cost for the whole batch instead of Q× it.
    * `depthOf` overrides the UNIFORM `nprobe` per probe — the
    * [[exactDepths]] policy: each probe DECRYPTS exactly its own
    * provably-needed cells instead of riding the worst probe's depth
    * (absent ids fall back to `nprobe`). Returns
    * (probe_id, id, doc, distance, rn). */
  def queryIndexedBatch(name: String, probes: Seq[(Long, Array[Float])], k: Int,
                        nprobe: Int,
                        depthOf: Map[Long, Int] = Map.empty): DataFrame = {
    require(probes.nonEmpty, "queryIndexedBatch needs at least one probe")
    val cents = centroidsOf(name)
    require(cents.nonEmpty, s"$name has no encrypted centroid sidecar — storeIndexed() first")
    val probeCells = encProbeCells(cents, probes, nprobe, depthOf)
    val unionCells = probeCells.flatMap(_._3).distinct
    val probeDf = spark.createDataFrame(
      probeCells.map { case (pid, qe, cells) => (pid, qe.toSeq, cells) })
      .toDF("probe_id", "qe", "probe_cells")
    val dec = liveRaw(name)
      .filter(col("cell").isin(unionCells: _*))
      .select(col("id"), col("cell").cast("long").as("cell"),
        col("doc_ct"),
        from_json(decryptStr(col("emb_ct")), ArrayType(FloatType)).as("emb"))
      .localCheckpoint()
    dec
      .join(broadcast(probeDf), array_contains(col("probe_cells"), col("cell")))
      .withColumn("distance", VF.l2Sq(col("emb"), col("qe").cast("array<float>")))
      .groupBy("probe_id")
      .agg(graft.operators.GroupedTopK.topKRows(k)(
        col("distance"), col("id"), col("doc_ct")).as("tk"))
      .select(col("probe_id"), posexplode(col("tk")).as(Seq("pos", "e")))
      .select(col("probe_id"), col("e.id").as("id"),
        decryptStr(col("e.payload")).as("doc"),
        col("e.score").as("distance"), (col("pos") + 1).cast("int").as("rn"))
  }

  /** The per-probe quantized scorer frame, dispatched on the frozen
    * sidecar (the IvfIndex.queryBatchQuantized discipline on ciphertext):
    * an SQ8 probe carries its encoded query bytes, a PQ probe its m·256
    * ADC lookup table. Shared by the Seq and DF batch routes. */
  private def encQuantProbeFrame(name: String,
      probeCells: Seq[(Long, Array[Float], Seq[Long])]): (DataFrame, Column) =
    sq8StatsOf(name) match {
      case Some((mn, mx)) =>
        (spark.createDataFrame(
          probeCells.map { case (pid, qe, cells) =>
            (pid, qe.toSeq, cells, graft.functions.Sq8Encode.encode(qe, mn, mx))
          }).toDF("probe_id", "qe", "probe_cells", "qcodes"),
          VF.sq8L2(col("codes"), col("qcodes")))
      case None =>
        val books = pqBooksOf(name).getOrElse(
          sys.error(s"$name has no encrypted codes sidecar — storeIndexed() first"))
        (spark.createDataFrame(
          probeCells.map { case (pid, qe, cells) =>
            (pid, qe.toSeq, cells,
              graft.operators.ProductQuantizer.adcLut(qe, books).toSeq)
          }).toDF("probe_id", "qe", "probe_cells", "qlut"),
          VF.pqAdcPair(col("codes"), col("qlut"), IvfIndex.PqK))
    }

  /** Batched [[queryIndexedQuantized]] — the `q_ann_ivf_batch` shape on
    * ciphertext: phase 1 decrypts only the compact codes_ct of the UNION
    * of probed cells ONCE (materialized, same per-pair-recompute guard as
    * [[queryIndexedBatch]]), ranks per probe by exact integer L2 and cuts
    * per-probe shortlists map-side through the
    * [[graft.operators.GroupedTopK.topKRows]] tail; phase 2 decrypts the
    * full embedding for the union of shortlist survivors only — one
    * In-pushed bounded pass — and finishes every probe exactly through
    * the same answer-volume tail (doc_ct payload — decrypted embeddings
    * never transit shuffle files, doc decryption is answer-bounded; the
    * [[queryIndexedBatch]] exposure argument). Per-probe answers equal
    * [[queryIndexedQuantized]]'s (spec-pinned). With
    * `shortlist` >= the probed cells' population the result is EXACTLY
    * [[queryIndexedBatch]]'s (spec-pinned). The id collect is bounded by
    * Q × `shortlist`. `depthOf` is the [[exactDepths]] per-probe override,
    * bounding each probe's codes_ct decrypt to its own cells. */
  def queryIndexedBatchQuantized(name: String, probes: Seq[(Long, Array[Float])],
                                 k: Int, nprobe: Int,
                                 shortlist: Int = 256,
                                 depthOf: Map[Long, Int] = Map.empty): DataFrame = {
    require(probes.nonEmpty, "queryIndexedBatchQuantized needs at least one probe")
    require(shortlist >= k, "shortlist must be at least k")
    val cents = centroidsOf(name)
    require(cents.nonEmpty, s"$name has no encrypted centroid sidecar — storeIndexed() first")
    val probeCells = encProbeCells(cents, probes, nprobe, depthOf)
    val unionCells = probeCells.flatMap(_._3).distinct
    val (probeDf, qdistCol) = encQuantProbeFrame(name, probeCells)
    val codes = liveRaw(name)
      .filter(col("cell").isin(unionCells: _*))
      .select(col("id"), col("cell").cast("long").as("cell"),
        unbase64(decryptStr(col("codes_ct"))).as("codes"))
      .localCheckpoint()
    // SQ8's integer L2 casts exactly into double (bounded by dim·255²),
    // so ordering over the cast equals ordering over the raw long
    val short = codes
      .join(broadcast(probeDf), array_contains(col("probe_cells"), col("cell")))
      .withColumn("qdist", qdistCol.cast("double"))
      .groupBy("probe_id")
      .agg(graft.operators.GroupedTopK.topKRows(shortlist)(
        col("qdist"), col("id"), lit(0)).as("tk"))
      .select(col("probe_id"), explode(col("tk")).as("e"))
      .select(col("probe_id"), col("e.id").as("id"))
      .collect()
    val shortIds = short.map(_.getString(1)).distinct.toSeq
    val keep = spark.createDataFrame(
      short.map(r => (r.getLong(0), r.getString(1))).toSeq.distinct.sortBy(identity))
      .toDF("probe_id", "id")
    val dec = liveRaw(name)
      .filter(col("cell").isin(unionCells: _*))
      .filter(col("id").isin(shortIds: _*))
      .select(col("id"), col("cell").cast("long").as("cell"),
        col("doc_ct"),
        from_json(decryptStr(col("emb_ct")), ArrayType(FloatType)).as("emb"))
      .localCheckpoint()
    dec
      .join(broadcast(probeDf), array_contains(col("probe_cells"), col("cell")))
      // restrict the rerank to each probe's OWN shortlist (a row may sit
      // in another probe's cells without having made its shortlist)
      .join(broadcast(keep), Seq("probe_id", "id"), "left_semi")
      .withColumn("distance", VF.l2Sq(col("emb"), col("qe").cast("array<float>")))
      .groupBy("probe_id")
      .agg(graft.operators.GroupedTopK.topKRows(k)(
        col("distance"), col("id"), col("doc_ct")).as("tk"))
      .select(col("probe_id"), posexplode(col("tk")).as(Seq("pos", "e")))
      .select(col("probe_id"), col("e.id").as("id"),
        decryptStr(col("e.payload")).as("doc"),
        col("e.score").as("distance"), (col("pos") + 1).cast("int").as("rn"))
  }

  /** [[queryIndexedBatchQuantized]] with the probes as a DATAFRAME — the
    * encrypted twin of [[graft.store.IvfIndex.queryBatchDF]], for probe
    * frames a driver panel cannot hold (an encrypted serving job at a
    * corpus-FRACTION probe count): NOTHING probe-sized ever touches the
    * driver, and DECRYPT STAYS BOUNDED — AES-GCM work, the encrypted
    * twin's scale cost, is paid exactly twice and never per pair:
    *
    *  1. cell routing against the decrypted centroid sidecar (numCells
    *     rows of key-holder metadata broadcast under the probe scan;
    *     [[CellRoute.routeCells]] — the routing exchange ships ≤ depth × P
    *     entries, per-probe cut map-side, duplicate probe_id refused);
    *  2. phase 1 decrypts ONLY the compact codes_ct of the routed cells,
    *     ONCE (materialized — the per-pair-recompute guard), scores each
    *     row against its routed probes through the broadcast-or-salted
    *     cell equi-join ([[CellRoute.routedJoin]] — no broadcast side
    *     that grows with P, no key-collapse to numCells tasks), and cuts
    *     per-probe shortlists through the bounded
    *     [[graft.operators.GroupedTopK.topKRows]] aggregate (string-id
    *     spine) — the exchange carries ≤ shortlist × P × tasks entries,
    *     never the candidate volume;
    *  3. phase 2 decrypts the full emb_ct ONLY for the DISTINCT shortlist
    *     survivors (a distributed semi-join, not an In literal — bounded
    *     by the answer, never the corpus), reranks exactly against each
    *     probe's own shortlist, and cuts top-k through the same tail with
    *     the doc CIPHERTEXT as payload — doc decryption is answer-bounded
    *     and decrypted embeddings never transit shuffle files.
    *
    * With `shortlist` ≥ the routed cells' population, per-probe answers ≡
    * [[queryIndexedBatch]]'s at equal depths (spec-pinned,
    * EncryptedIndexSpec). `useDepth` opts in to a `depth` INTEGER column
    * on `probes` as the per-probe policy ([[exactDepths]] routed through
    * the frame — null → nprobe, clamped to [0, numCells], non-integral
    * refused loudly). Key holders only; probe_id must be unique (refused
    * loudly). Output (probe_id, id, doc, distance, rn). */
  def queryIndexedBatchDF(name: String, probes: DataFrame, k: Int, nprobe: Int,
                          shortlist: Int = 256,
                          useDepth: Boolean = false): DataFrame = {
    require(shortlist >= k, "shortlist must be at least k")
    // finish an interrupted publish FIRST: the twin pick below reads the
    // tree's parquet footers, which must be the recovered tree's
    StoreIO.recover(encMarker(name))
    val cents = centroidsOf(name)
    require(cents.nonEmpty, s"$name has no encrypted centroid sidecar — storeIndexed() first")
    val numCells = cents.length
    // driver-sized panels serve through the Seq twins ([[PanelDispatch]] —
    // the queryBatchDF discipline; this route was the one r14 exemption and
    // the bench's single most expensive query). The twin is picked by the
    // shortlist regime, both parities spec-pinned (EncryptedIndexSpec):
    //  - `shortlist` ≥ the collection's PHYSICAL row count (free parquet-
    //    footer metadata, an upper bound on every probe's routed
    //    population): [[queryIndexedBatch]] — one bounded decrypt pass, the
    //    cheapest twin, answer-identical by the full-shortlist pin;
    //  - bounded shortlist: [[queryIndexedBatchQuantized]] — the SAME
    //    two-phase quantized-shortlist trade ("bounded-shortlist DF route
    //    must equal the quantized Seq batch"), so recall policy never
    //    shifts with panel size.
    // The depth-column contract is validated the same way on either lane.
    if (useDepth) CellRoute.requireDepthColumn(probes)
    val panelCols =
      if (useDepth)
        probes.select(col("probe_id"), col("qe").cast("array<float>").as("qe"),
          col("depth").cast("long").as("depth"))
      else probes.select(col("probe_id"), col("qe").cast("array<float>").as("qe"))
    PanelDispatch.smallPanel(spark, panelCols) match {
      case Some(rows) if rows.nonEmpty =>
        PanelDispatch.requireUniqueProbes(rows)
        // null depth falls back to nprobe (omitted from the map); the Seq
        // route's take(depth) reproduces the frame clamp at the edges
        val depthOf: Map[Long, Int] =
          if (!useDepth) Map.empty
          else rows.iterator.filterNot(_.isNullAt(2)).map(r =>
            r.getLong(0) -> math.min(r.getLong(2), numCells.toLong).toInt).toMap
        val panel = rows.map(r => (r.getLong(0), r.getSeq[Float](1).toArray)).toSeq
        return if (StoreIO.footerRowCount(path(name)) <= shortlist.toLong)
          queryIndexedBatch(name, panel, k, nprobe, depthOf)
        else
          queryIndexedBatchQuantized(name, panel, k, nprobe, shortlist, depthOf)
      case _ => ()
    }
    val routed = CellRoute.routeCells(spark, probes, cents, numCells,
      nprobe, useDepth).persist()
    try {
      // the distinct routed cells are ≤ numCells — a driver-BOUNDED
      // collect that turns back into a static partition-pruning filter
      val unionCells = routed.select("cell").distinct()
        .collect().map(_.getLong(0)).toSeq
      // phase 1 decrypt: codes_ct of the routed cells only, ONCE
      val codes = liveRaw(name)
        .filter(col("cell").isin(unionCells: _*))
        .select(col("id"), col("cell").cast("long").as("cell"),
          unbase64(decryptStr(col("codes_ct"))).as("codes"))
        .localCheckpoint()
      val (probeSide, qdistCol) = sq8StatsOf(name) match {
        case Some((mn, mx)) =>
          (routed.withColumn("qcodes", VF.sq8Encode(col("qe"), mn, mx)),
            VF.sq8L2(col("codes"), col("qcodes")).cast("double"))
        case None =>
          // no per-probe LUT without a driver pass — the direct ADC kernel
          // reconstructs lookups from the codebook tensor (the
          // queryBatchQuantizedDF convention): O(dim) compute per pair but
          // still only m decrypted code bytes read per row
          val books = pqBooksOf(name).getOrElse(
            sys.error(s"$name has no encrypted codes sidecar — storeIndexed() first"))
          (routed, VF.pqAdcDirect(col("codes"), col("qe"),
            graft.operators.ProductQuantizer.flatten(books), IvfIndex.PqK))
      }
      // the routing frame is persisted: its row count (≤ depth × P) is a
      // cached-scan job, and it picks the broadcast-vs-salted join route
      val routedRows = routed.count()
      val shortPairs = CellRoute.routedJoin(codes, probeSide, routedRows, numCells)
        .withColumn("qdist", qdistCol)
        .groupBy("probe_id")
        .agg(graft.operators.GroupedTopK.topKRows(shortlist)(
          col("qdist"), col("id"), lit(0)).as("tk"))
        .select(col("probe_id"), explode(col("tk")).as("e"))
        .select(col("probe_id"), col("e.id").as("id"))
        .persist()
      // phase 2 decrypt: emb_ct of the DISTINCT shortlist survivors only
      val dec = liveRaw(name)
        .filter(col("cell").isin(unionCells: _*))
        .join(shortPairs.select("id").distinct(), Seq("id"), "left_semi")
        .select(col("id"), col("cell").cast("long").as("cell"), col("doc_ct"),
          from_json(decryptStr(col("emb_ct")), ArrayType(FloatType)).as("emb"))
        .localCheckpoint()
      val out = CellRoute.routedJoin(dec, routed, routedRows, numCells)
        // restrict the rerank to each probe's OWN shortlist (a row may sit
        // in another probe's cells without having made its shortlist)
        .join(shortPairs, Seq("probe_id", "id"), "left_semi")
        .withColumn("distance", VF.l2Sq(col("emb"), col("qe")))
        .groupBy("probe_id")
        .agg(graft.operators.GroupedTopK.topKRows(k)(
          col("distance"), col("id"), col("doc_ct")).as("tk"))
        .select(col("probe_id"), posexplode(col("tk")).as(Seq("pos", "e")))
        .select(col("probe_id"), col("e.id").as("id"),
          decryptStr(col("e.payload")).as("doc"),
          col("e.score").as("distance"), (col("pos") + 1).cast("int").as("rn"))
      // materialize before releasing the shared frames (the caller gets a
      // plan over the checkpointed bounded answer, not the freed caches)
      val ck = out.localCheckpoint()
      shortPairs.unpersist()
      ck
    } finally { routed.unpersist(): Unit }
  }

  /** Incremental encrypted append with duplicate-id rejection — the
    * VectorStore.add discipline on the encrypted twin: collisions come from
    * a store-side semi-join against the broadcast batch (only plaintext ids
    * are read — column pruning keeps ciphertext untouched), never a
    * store-side broadcast. */
  def add(rows: DataFrame, name: String): Unit = withEncLease(name, "EncryptedStore.add") {
    // intra-batch id dedup happens on the PLAINTEXT — after encryption
    // every ciphertext is unique (random IV), so a post-encryption dedup
    // could not see duplicates at all
    val incoming = StoreIO.dedupById(
        rows.select(col("id").cast(StringType).as("id"), col("doc"), col("emb")),
        Seq("doc", "emb"))
      .select(col("id"),
        encrypt(col("doc")).as("doc_ct"),
        encrypt(to_json(col("emb"))).as("emb_ct"))
    // a FRESH add of a TOMBSTONED id would be silently swallowed by the
    // collision anti-join (the physical row still exists) and then purged
    // with it at compact — refuse loudly, like IvfIndex.appendBatch
    encTombstones(name).foreach { ts =>
      require(incoming.select("id").join(broadcast(ts), Seq("id"), "left_semi").isEmpty,
        "batch re-adds tombstoned ids — run compact() before re-adding deleted ids")
    }
    val collisions = spark.read.parquet(path(name)).select("id")
      .join(broadcast(incoming.select("id")), Seq("id"), "left_semi")
    incoming.join(collisions, Seq("id"), "left_anti")
      .write.mode("append").parquet(path(name))
  }

  /** Full extraction WITHOUT the key: ciphertext only — the defense.
    * Tombstoned rows are excluded here too: after a delete, not even the
    * ciphertext is served. */
  def extractSecure(name: String): DataFrame =
    liveRaw(name).select("id", "doc_ct", "emb_ct")

  /** Authorized read: decrypt back to (id, doc, emb). */
  def open(name: String): DataFrame =
    liveRaw(name).select(
      col("id"),
      decryptStr(col("doc_ct")).as("doc"),
      from_json(decryptStr(col("emb_ct")), ArrayType(FloatType)).as("emb"))

  /** kNN over the decrypted view (key holders only). */
  def query(name: String, queryEmb: Array[Float], k: Int): DataFrame = {
    val q = typedlit(queryEmb)
    open(name)
      .withColumn("distance", VF.l2Sq(col("emb"), q))
      .orderBy(asc("distance"), asc("id"))
      .limit(k)
      .select(col("id"), col("doc"), col("distance"))
  }

  /** Key rotation: decrypt with this store's key, re-encrypt under
    * `newKey`, atomically swap the collection directory (write-new +
    * rename, the Collection.rewrite discipline). Decrypt and re-encrypt
    * fuse into ONE narrow projection — rotating 100 TB is one read + one
    * write, no shuffle — and every row gets a fresh random IV. After the
    * swap only a store opened with `newKey` can read the collection. */
  def rotateKey(name: String, newKey: String): EncryptedStore =
      withEncLease(name, "EncryptedStore.rotateKey") {
    // an envelope-managed handle must rotate through Envelope.rotateData:
    // a direct per-collection rotation would change the ciphertext key
    // UNDER the wrapped DEK, bricking every future Envelope.open
    require(mutationFence.isEmpty,
      "this store is envelope-managed — rotate the data key via Envelope.rotateData " +
        "(a direct rotateKey would diverge from the wrapped DEK)")
    require(Set(16, 24, 32).contains(newKey.length), "AES key must be 16/24/32 bytes")
    StoreIO.recover(encMarker(name))
    val next = new EncryptedStore(spark, basePath, newKey)
    // rotation re-encrypts the PHYSICAL rows; pending tombstones ride
    // along untouched (still excluded at read, still purged at compact)
    // committed batch dirs only (the liveRaw discipline): a crashed
    // half-written streaming append must not get rotated INTO the store.
    // Pending tombstones still ride along — no tombstone anti-join here.
    // the shared committed-tree read ([[rawTree]]): canonical-empty when
    // fully purged — a purged indexed collection still rotates its
    // SIDECARS (centroids, quantizer grids, radii) on DEK compromise
    val raw = rawTree(name)
    val indexed = raw.columns.contains("cell")
    // codes_ct rotates as the base64 TEXT it encrypts (decryptStr yields
    // the base64 string back) — the code bytes themselves are untouched
    val hasCodes = raw.columns.contains("codes_ct")
    // an indexed layout's streaming batch dirs FOLD into batch=0 here —
    // rotation rewrites every row anyway — and the append fence advances
    // past the folded ids in the same commit (a micro-batch replayed
    // after rotation folded its dir must not re-land rows)
    val hasBatch = raw.columns.contains("batch")
    val reEnc = raw.select(
      (col("id") +: (if (indexed) Seq(col("cell")) else Nil)) ++ Seq(
        next.encrypt(decryptStr(col("doc_ct"))).as("doc_ct"),
        next.encrypt(decryptStr(col("emb_ct"))).as("emb_ct")) ++
        (if (hasCodes) Seq(next.encrypt(decryptStr(col("codes_ct"))).as("codes_ct"))
         else Nil): _*)
    if (indexed) {
      // an indexed layout rotates rows AND the sidecars (centroids, SQ8
      // grid), keeping the cell partitioning (queryIndexed must stay
      // partition-pruned under the new key)
      val cents = spark.read.parquet(encCentroidPath(name)).select(
        col("cid"), next.encrypt(decryptStr(col("cemb_ct"))).as("cemb_ct"))
      val sq8Stages =
        if (!new java.io.File(s"${encSq8Path(name)}/_SUCCESS").exists()) Seq.empty
        else Seq(StoreIO.Staged(s"${encSq8Path(name)}__stage", encSq8Path(name),
          st => spark.read.parquet(encSq8Path(name))
            .select(next.encrypt(decryptStr(col("mn_ct"))).as("mn_ct"),
              next.encrypt(decryptStr(col("mx_ct"))).as("mx_ct"))
            .write.mode("overwrite").parquet(st)))
      val pqStages =
        if (!new java.io.File(s"${encPqPath(name)}/_SUCCESS").exists()) Seq.empty
        else Seq(StoreIO.Staged(s"${encPqPath(name)}__stage", encPqPath(name),
          st => {
            // pre-base_err_ct sidecars (written before the drift signal)
            // rotate without the column instead of crashing the rotation
            val df = spark.read.parquet(encPqPath(name))
            val errCols =
              if (!df.columns.contains("base_err_ct")) Nil
              else Seq(next.encrypt(decryptStr(col("base_err_ct"))).as("base_err_ct"))
            df.select(Seq(col("m"),
                next.encrypt(decryptStr(col("books_ct"))).as("books_ct")) ++ errCols: _*)
              .write.mode("overwrite").parquet(st)
          }))
      // the pruning radii rotate like every geometry sidecar — folded to
      // the same batch=0 the rows fold to, re-encrypted under the NEW key
      // (an incomplete sidecar drops, see [[compact]])
      val (radStages, radCleanup) = encRadiiFoldStages(name, next)
      StoreIO.commitStaged(Seq(
        StoreIO.Staged(s"${encCentroidPath(name)}__stage", encCentroidPath(name),
          st => cents.write.mode("overwrite").parquet(st)),
        StoreIO.Staged(s"${path(name)}__stage", path(name),
          st => reEnc.write.mode("overwrite").partitionBy("cell")
            .parquet(if (hasBatch) s"$st/batch=0" else st))) ++
        sq8Stages ++ pqStages ++ radStages ++
        (if (!hasBatch) Seq.empty
         else {
           val maxBatch = StoreIO.committedBatchDirs(path(name))
             .map(_.getName.stripPrefix("batch=").toLong)
             .foldLeft(encAppendHwm(name))(math.max)
           Seq(StoreIO.Staged(s"${encAppendHwmPath(name)}__stage",
             encAppendHwmPath(name),
             st => StoreIO.writeLongFile(st, maxBatch)))
         }),
        encMarker(name), cleanup = radCleanup)
    } else StoreIO.stageAndSwap(reEnc, path(name))
    next
  }
}
