package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.{GenericArrayData, TypeUtils}
import org.apache.spark.sql.types._

/**
 * Bounded per-group top-k WITH PAYLOAD — the native generalization of
 * [[graft.operators.GroupedTopK]] to rows that must carry more than a
 * packable long (an `include` column set, a cell id, an embedding).
 *
 * Why this exists: the window formulation
 * (`row_number over (partition by g order by score) <= k`) shuffles EVERY
 * candidate row to its group's reducer — at a batched-probe serving
 * surface that is Σ per-probe probed-cell rows crossing the wire per
 * panel, the "shuffle the candidates" shape the engine measured and
 * rejected for its exact serving paths (SURVEY §8, q_ann_recall).
 * [[graft.operators.GroupedTopK]] fixes the volume but its typed-Aggregator
 * buffer carries only (score, id) — payload columns had to be re-joined
 * or bit-packed into the id. This TypedImperativeAggregate keeps the
 * map-side-bounded shuffle (each task ships at most k entries per group,
 * serialized as UnsafeRows) while carrying an ARBITRARY payload struct
 * through the aggregation, so the shuffle carries k × groups × tasks
 * ANSWER rows, payload included, and nothing ever re-scans or re-joins.
 *
 * Ordering is the total order (score asc, id asc) under the id type's OWN
 * ordering — LONG ids break ties numerically, STRING ids (the encrypted
 * store's spine) lexically, matching the single-probe `orderBy(score, id)`
 * sort on either spine (the per-probe parity specs pin it). Ids are unique within a group in every caller, so insertion and
 * merge order cannot change the result (safe under AQE re-planning and
 * speculative tasks). Null scores or ids never enter the buffer (a null
 * candidate is no candidate).
 *
 * Result: `array<struct<score double, id I, payload P>>` sorted
 * ascending — the [[graft.operators.GroupedTopK]] output contract plus the
 * payload field.
 */
case class TopKRows(
    score: Expression,
    id: Expression,
    payload: Expression,
    k: Int,
    override val mutableAggBufferOffset: Int = 0,
    override val inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[TopKRows.Buffer] {

  require(k >= 1, s"top-k needs k >= 1, got $k")

  // runs post-resolution (the constructor must not touch dataType — copy()
  // during analysis rebuilds the node over still-unresolved children)
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (org.apache.spark.sql.catalyst.expressions.RowOrdering.isOrderable(id.dataType))
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"top_k_rows needs an orderable id type, got ${id.dataType}")

  override def children: Seq[Expression] = Seq(score, id, payload)
  override def nullable: Boolean = false

  private def entryType: StructType = StructType(Seq(
    StructField("score", DoubleType, nullable = false),
    StructField("id", id.dataType, nullable = false),
    StructField("payload", payload.dataType, nullable = payload.nullable)))

  override def dataType: DataType = ArrayType(entryType, containsNull = false)

  // the id type's interpreted total order (Long ⇒ numeric, String/UTF8String
  // ⇒ lexical binary) — the SAME order a single-probe `orderBy(dist, id)`
  // sort uses, so the batch tails and the per-probe entry points they are
  // spec-pinned against can never disagree on ties
  @transient private lazy val idOrd: Ordering[Any] =
    TypeUtils.getInterpretedOrdering(id.dataType)

  override def createAggregationBuffer(): TopKRows.Buffer =
    new TopKRows.Buffer(k, idOrd)

  override def update(b: TopKRows.Buffer, input: InternalRow): TopKRows.Buffer = {
    val s = score.eval(input)
    val i = id.eval(input)
    if (s != null && i != null) {
      val sv = s.asInstanceOf[Double]
      // evaluate (and copy) the payload ONLY for rows that enter the
      // buffer — candidates past the current kth are pure comparisons.
      // The id copies too: a UTF8String id evaluated off an unsafe input
      // row aliases scan scratch that the next row overwrites.
      if (b.admits(sv, i))
        b.insert(sv, InternalRow.copyValue(i),
          InternalRow.copyValue(payload.eval(input)))
    }
    b
  }

  override def merge(b: TopKRows.Buffer, o: TopKRows.Buffer): TopKRows.Buffer = {
    o.foreach((s, i, p) => if (b.admits(s, i)) b.insert(s, i, p))
    b
  }

  override def eval(b: TopKRows.Buffer): Any =
    new GenericArrayData(b.sortedEntries.map { case (s, i, p) =>
      InternalRow(s, i, p)
    })

  private lazy val serProj = UnsafeProjection.create(
    Array[DataType](DoubleType, id.dataType, payload.dataType))

  override def serialize(b: TopKRows.Buffer): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    val out = new java.io.DataOutputStream(bos)
    val row = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(3)
    b.foreach { (s, i, p) =>
      row.update(0, s); row.update(1, i); row.update(2, p)
      val u = serProj(row)
      out.writeInt(u.getSizeInBytes)
      u.writeToStream(out, null)
    }
    out.flush()
    bos.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): TopKRows.Buffer = {
    val b = new TopKRows.Buffer(k, idOrd)
    val in = new java.io.DataInputStream(new java.io.ByteArrayInputStream(bytes))
    while (in.available() > 0) {
      val len = in.readInt()
      val buf = new Array[Byte](len)
      in.readFully(buf)
      val u = new UnsafeRow(3)
      u.pointTo(buf, len)
      // the UnsafeRow's id/payload views point into `buf`, which is owned
      // by this entry alone — still, copy so buffer entries never alias
      // serialization scratch
      b.insert(u.getDouble(0),
        InternalRow.copyValue(u.get(1, id.dataType)),
        InternalRow.copyValue(u.get(2, payload.dataType)))
    }
    b
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): TopKRows =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): TopKRows =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): TopKRows =
    copy(score = newChildren(0), id = newChildren(1), payload = newChildren(2))

  override def prettyName: String = "top_k_rows"
}

object TopKRows {

  /** Bounded buffer: the k smallest (score, id) entries, max-heap so the
    * current worst is O(1) to consult and O(log k) to evict. */
  final class Buffer(k: Int, idOrd: Ordering[Any]) {
    // max-heap by (score, id): peek() is the WORST kept entry. The
    // initial capacity is a HINT (the queue grows on demand) — capping it
    // matters because callers legally pass huge k as "effectively
    // unbounded" (a full-depth shortlist of 1<<20), and an eager k-sized
    // pointer array per group per task buffer would cost MBs apiece
    // before a single candidate arrives
    private val heap = new java.util.PriorityQueue[Entry](
      math.max(1, math.min(k, 1024)),
      (a: Entry, b: Entry) => {
        val c = java.lang.Double.compare(b.score, a.score)
        if (c != 0) c else idOrd.compare(b.id, a.id)
      })

    // strictly-better under the SAME total order the heap comparator and
    // final sort use (Double.compare: -0.0 < 0.0, NaN last) — raw IEEE
    // `<`/`==` here would let an early NaN block every later real
    // candidate and would tie -0.0 with 0.0, making the result depend on
    // arrival order and diverge from Spark's (score, id) sort
    private def beats(s: Double, i: Any, w: Entry): Boolean = {
      val c = java.lang.Double.compare(s, w.score)
      c < 0 || (c == 0 && idOrd.compare(i, w.id) < 0)
    }

    /** Would (s, i) enter the top-k right now? Cheap pre-check so callers
      * can skip payload evaluation for rejected candidates. */
    def admits(s: Double, i: Any): Boolean =
      heap.size < k || beats(s, i, heap.peek())

    def insert(s: Double, i: Any, p: Any): Unit = {
      if (heap.size < k) heap.add(new Entry(s, i, p))
      else if (beats(s, i, heap.peek())) {
        heap.poll()
        heap.add(new Entry(s, i, p))
      }
    }

    def foreach(f: (Double, Any, Any) => Unit): Unit = {
      val it = heap.iterator()
      while (it.hasNext) { val e = it.next(); f(e.score, e.id, e.payload) }
    }

    def sortedEntries: Array[(Double, Any, Any)] = {
      val arr = new Array[(Double, Any, Any)](heap.size)
      val it = heap.iterator()
      var i = 0
      while (it.hasNext) { val e = it.next(); arr(i) = (e.score, e.id, e.payload); i += 1 }
      java.util.Arrays.sort(arr.asInstanceOf[Array[AnyRef]],
        (x: AnyRef, y: AnyRef) => {
          val a = x.asInstanceOf[(Double, Any, Any)]
          val b = y.asInstanceOf[(Double, Any, Any)]
          val c = java.lang.Double.compare(a._1, b._1)
          if (c != 0) c else idOrd.compare(a._2, b._2)
        })
      arr
    }
  }

  private final class Entry(val score: Double, val id: Any, val payload: Any)
}
