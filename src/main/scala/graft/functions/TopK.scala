package graft.functions

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, RowOrdering, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.BinaryLike
import org.apache.spark.sql.catalyst.util.{GenericArrayData, TypeUtils}
import org.apache.spark.sql.types._

/** Bounded-heap top-k aggregate — the memory-safe replacement for the two
  * usual top-k-per-key shapes, both of which break at 100 TB:
  *
  *  - `row_number() OVER (PARTITION BY key ORDER BY v) <= k` sorts EVERY
  *    group's full row set (an exchange + per-partition sort over the
  *    whole input) to keep k rows;
  *  - `slice(sort_array(collect_list(v)), 1, k)` buffers ENTIRE groups in
  *    the aggregation state — one hot key OOMs an executor.
  *
  * This aggregate's state is a k-bounded min-heap per group, it runs
  * inside `ObjectHashAggregateExec` with a map-side PARTIAL pass (each
  * input partition contributes at most k candidates per key to the
  * shuffle), and merge is heap-union-truncate — state is O(k) per key by
  * construction, shuffle volume O(keys·k), and nothing ever sorts the
  * full input. Ordering is the element type's own Catalyst total order
  * (struct = lexicographic by field), so a caller packs
  * `struct(rankCol, tiebreak…, payload…)` and gets deterministic results.
  *
  * The aggregate is deterministic for a deterministic child: the heap's
  * insertion order varies with partitioning, but eval() emits the k
  * LARGEST elements in descending total order — a set + order both
  * independent of arrival order (ties in the total order are equal
  * values, indistinguishable in the output).
  */
case class TopKAgg(
    child: Expression,
    kExpr: Expression,
    override val mutableAggBufferOffset: Int = 0,
    override val inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[TopKAgg.Heap] with BinaryLike[Expression] {

  override def left: Expression = child
  override def right: Expression = kExpr

  lazy val k: Int = {
    require(kExpr.foldable, "top_k: k must be a literal")
    val v = kExpr.eval(InternalRow.empty)
    require(v != null, "top_k: k must not be null")
    val i = v.asInstanceOf[Number].intValue()
    require(i > 0 && i <= 1000000,
      s"top_k: k must be in [1, 1e6], got $i (the heap is O(k) PER GROUP)")
    i
  }

  @transient private lazy val ordering: Ordering[Any] =
    TypeUtils.getInterpretedOrdering(child.dataType)

  override def dataType: DataType = ArrayType(child.dataType, containsNull = false)
  override def nullable: Boolean = false
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    if (!RowOrdering.isOrderable(child.dataType))
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"top_k: type ${child.dataType.catalogString} is not orderable")
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
  }

  override def createAggregationBuffer(): TopKAgg.Heap =
    new TopKAgg.Heap(k, ordering)

  override def update(buf: TopKAgg.Heap, input: InternalRow): TopKAgg.Heap = {
    val v = child.eval(input)
    if (v != null) buf.offer(InternalRow.copyValue(v))
    buf
  }

  override def merge(buf: TopKAgg.Heap, other: TopKAgg.Heap): TopKAgg.Heap = {
    other.foreach(buf.offer) // elements already copied at their update()
    buf
  }

  override def eval(buf: TopKAgg.Heap): Any =
    new GenericArrayData(buf.sortedDesc())

  @transient private lazy val elemProj = UnsafeProjection.create(Array(child.dataType))

  override def serialize(buf: TopKAgg.Heap): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val out = new DataOutputStream(bos)
    out.writeInt(buf.size)
    buf.foreach { v =>
      val row = elemProj(InternalRow(v))
      out.writeInt(row.getSizeInBytes)
      out.write(row.getBytes)
    }
    out.flush()
    bos.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): TopKAgg.Heap = {
    val in = new DataInputStream(new ByteArrayInputStream(bytes))
    val buf = createAggregationBuffer()
    val n = in.readInt()
    var i = 0
    while (i < n) {
      val len = in.readInt()
      val rowBytes = new Array[Byte](len)
      in.readFully(rowBytes)
      val row = new UnsafeRow(1)
      row.pointTo(rowBytes, len)
      buf.offer(InternalRow.copyValue(row.get(0, child.dataType)))
      i += 1
    }
    buf
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): TopKAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): TopKAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): TopKAgg =
    copy(child = newLeft, kExpr = newRight)
  override def prettyName: String = "top_k"
}

object TopKAgg {
  /** k-bounded min-heap: head = smallest kept element, so an incoming
    * element beats the heap iff it exceeds the head. O(log k) offer. */
  final class Heap(k: Int, ord: Ordering[Any]) {
    private val q = new java.util.PriorityQueue[Any](math.max(k, 1), ord)
    def size: Int = q.size
    def offer(v: Any): Unit =
      if (q.size < k) q.offer(v)
      else if (ord.compare(v, q.peek()) > 0) { q.poll(); q.offer(v) }
    def foreach(f: Any => Unit): Unit = q.forEach(v => f(v))
    /** Largest first — the deterministic output order. */
    def sortedDesc(): Array[Any] = {
      val arr = q.toArray
      java.util.Arrays.sort(arr,
        ord.asInstanceOf[java.util.Comparator[AnyRef]].reversed())
      arr.asInstanceOf[Array[Any]]
    }
  }
}
