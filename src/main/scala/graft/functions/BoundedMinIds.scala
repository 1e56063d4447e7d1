package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.functions.{call_function, lit}
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, LongType}

/** Bounded top-k-smallest selection as a native aggregate — the
  * scale-correct replacement for `row_number() OVER (PARTITION BY bucket
  * ORDER BY id) <= cap`.
  *
  * The window form SORTS the entire partition's membership on one reducer
  * before discarding rows beyond the cap: the OUTPUT is bounded but the
  * skewed sort is not (a degenerate LSH bucket with 1e8 members sorts 1e8
  * rows on a single task). This aggregate keeps the identical deterministic
  * semantics — the cap smallest ids per group — in O(cap) memory per group
  * with NO full sort: it runs inside ObjectHashAggregate, so each map task
  * reduces its slice of a hot group to at most `cap` ids before the shuffle
  * (partial aggregation), and the reducer merges bounded buffers.
  *
  * Buffer = a binary MAX-heap of the cap smallest values seen (root is the
  * current worst candidate, evicted when a smaller value arrives), held in
  * a primitive `long[]` and shuffled as its 8 bytes per value — no encoder,
  * no object per row. The kept SET is a pure function of the input multiset
  * — plan- and retry-stable — and the result array is sorted ascending for
  * deterministic output. Null inputs are skipped; a group with none left
  * yields an empty array.
  */
case class BoundedMinIds(child: Expression, cap: Int,
                         mutableAggBufferOffset: Int = 0, inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[BoundedMinIds.Heap] with UnaryLike[Expression] {
  require(cap > 0, "cap must be positive")
  import BoundedMinIds.Heap

  override def prettyName: String = "graft_min_ids"
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == LongType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_min_ids requires BIGINT input, got ${child.dataType.catalogString}")
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = false

  def createAggregationBuffer(): Heap = new Heap(0, new Array[Long](math.min(cap, 16)))

  private def siftUp(h: Array[Long], i0: Int): Unit = {
    var i = i0
    while (i > 0 && h((i - 1) / 2) < h(i)) {
      val p = (i - 1) / 2
      val t = h(p); h(p) = h(i); h(i) = t
      i = p
    }
  }

  private def siftDown(h: Array[Long], n: Int): Unit = {
    var i = 0
    var continue = true
    while (continue) {
      val l = 2 * i + 1
      val r = 2 * i + 2
      var m = i
      if (l < n && h(l) > h(m)) m = l
      if (r < n && h(r) > h(m)) m = r
      if (m == i) continue = false
      else { val t = h(m); h(m) = h(i); h(i) = t; i = m }
    }
  }

  private def push(b: Heap, v: Long): Heap = {
    if (b.n < cap) {
      if (b.n == b.heap.length)
        b.heap = java.util.Arrays.copyOf(b.heap, math.min(cap, math.max(16, b.heap.length * 2)))
      b.heap(b.n) = v
      siftUp(b.heap, b.n)
      b.n += 1
    } else if (v < b.heap(0)) {
      b.heap(0) = v
      siftDown(b.heap, b.n)
    }
    b
  }

  def update(b: Heap, input: InternalRow): Heap = {
    val v = child.eval(input)
    if (v == null) b else push(b, v.asInstanceOf[Long])
  }

  def merge(a: Heap, b: Heap): Heap = {
    var i = 0
    while (i < b.n) { push(a, b.heap(i)); i += 1 }
    a
  }

  def eval(b: Heap): Any = {
    val out = java.util.Arrays.copyOf(b.heap, b.n)
    java.util.Arrays.sort(out)
    UnsafeArrayData.fromPrimitiveArray(out)
  }

  /** The heap's values in heap order, 8 bytes each; the order is kept, so
    * the bytes read back as a valid heap.
    */
  def serialize(b: Heap): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(8 * b.n)
    bb.asLongBuffer().put(b.heap, 0, b.n)
    bb.array()
  }

  def deserialize(bytes: Array[Byte]): Heap = {
    val heap = new Array[Long](bytes.length / 8)
    java.nio.ByteBuffer.wrap(bytes).asLongBuffer().get(heap)
    new Heap(heap.length, heap)
  }

  override def withNewMutableAggBufferOffset(offset: Int): BoundedMinIds =
    copy(mutableAggBufferOffset = offset)
  override def withNewInputAggBufferOffset(offset: Int): BoundedMinIds =
    copy(inputAggBufferOffset = offset)
  override protected def withNewChildInternal(newChild: Expression): BoundedMinIds =
    copy(child = newChild)
}

object BoundedMinIds {
  /** The aggregation buffer: the first `n` slots of `heap` form the max-heap. */
  final class Heap(var n: Int, var heap: Array[Long])

  /** Builds `graft_min_ids(ids, cap)`: `cap` must be a constant positive int. */
  private[functions] def build(args: Seq[Expression]): BoundedMinIds = args match {
    case Seq(ids, c) if c.foldable && c.dataType == IntegerType =>
      BoundedMinIds(ids, c.eval().asInstanceOf[Int])
    case _ => throw new IllegalArgumentException(
      "graft_min_ids takes (ids, cap) with cap a constant int")
  }

  /** Column form: `minIds(cap)(col("doc_id"))` aggregates to `array<long>`
    * of the cap smallest values in the group. The aggregate resolves by
    * name in the active session, where this registers it.
    */
  def minIds(cap: Int)(c: Column): Column = {
    require(cap > 0, "cap must be positive")
    GraftFunctions.ensureRegistered(SparkSession.active)
    call_function("graft_min_ids", c, lit(cap))
  }
}
