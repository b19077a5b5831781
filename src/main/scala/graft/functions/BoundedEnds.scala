package graft.functions

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._

/** Bounded both-ends aggregate: `(n_total, ids)` where `ids` is EXACTLY what
  * `sort_array(collect_list(v))` sliced to its k smallest + k largest
  * elements would produce (the whole sorted list when n_total ≤ 2k), in
  * O(k) memory per group.
  *
  * Why custom: the dedup bucket cap previously materialized the FULL sorted
  * id list per (band, bucket) in the aggregation buffer before slicing —
  * a pathological boilerplate bucket (10⁸ near-identical documents at
  * 100 TB) builds a multi-hundred-MB `collect_list` buffer and OOMs the
  * executor even though only 50 ids survive the slice. This aggregate's
  * buffer is a ≤ 2k+1-element sorted array with a constant-time-amortized
  * trim, merges map-side, and is EXACT (not a sketch): an element that is
  * neither among a partial buffer's k smallest nor its k largest can never
  * enter the global k smallest/largest, so dropping the (k+1)-th smallest
  * retained element whenever the buffer exceeds 2k preserves both end sets
  * precisely through any merge order.
  */
final class EndsBuffer(val k: Int) {
  var count: Long = 0L
  var n: Int = 0
  val arr: Array[Long] = new Array[Long](2 * k + 1)

  /** Insert keeping `arr[0..n)` sorted; trim the (k+1)-th smallest when
    * more than 2k elements are retained.
    */
  def add(v: Long): Unit = {
    var idx = java.util.Arrays.binarySearch(arr, 0, n, v)
    if (idx < 0) idx = -idx - 1
    System.arraycopy(arr, idx, arr, idx + 1, n - idx)
    arr(idx) = v
    n += 1
    if (n > 2 * k) {
      // element at index k is neither in the bottom-k nor the top-k
      System.arraycopy(arr, k + 1, arr, k, n - k - 1)
      n -= 1
    }
  }
}

case class BoundedEnds(
    child: Expression,
    k: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0
) extends TypedImperativeAggregate[EndsBuffer] with ExpectsInputTypes {

  require(k > 0, "bounded_ends requires k > 0")

  override def children: Seq[Expression] = Seq(child)
  // integral inputs are accepted and widened in update(); anything else
  // fails at ANALYSIS time instead of throwing a mid-query
  // ClassCastException from a blind Long cast
  override def inputTypes =
    Seq(org.apache.spark.sql.GraftBridge.integralType)
  override def nullable: Boolean = false
  override def dataType: DataType = StructType(Seq(
    StructField("n_total", LongType, nullable = false),
    StructField("ids", ArrayType(LongType, containsNull = false),
      nullable = false)))

  override def createAggregationBuffer(): EndsBuffer = new EndsBuffer(k)

  override def update(buf: EndsBuffer, input: InternalRow): EndsBuffer = {
    val v = child.eval(input)
    if (v != null) {
      buf.count += 1
      buf.add(v.asInstanceOf[Number].longValue) // widens INT/SHORT/BYTE
    }
    buf
  }

  override def merge(buf: EndsBuffer, other: EndsBuffer): EndsBuffer = {
    buf.count += other.count
    var i = 0
    while (i < other.n) { buf.add(other.arr(i)); i += 1 }
    buf
  }

  override def eval(buf: EndsBuffer): Any = {
    // retained n = min(count, 2k); when count ≤ 2k this is the full sorted
    // list, else exactly the k smallest followed by the k largest — the
    // same value as the sort_array(collect_list) + both-ends slice
    val ids = java.util.Arrays.copyOfRange(buf.arr, 0, buf.n)
    InternalRow(buf.count, new GenericArrayData(ids))
  }

  override def serialize(buf: EndsBuffer): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val out = new DataOutputStream(bos)
    out.writeLong(buf.count)
    out.writeInt(buf.n)
    var i = 0
    while (i < buf.n) { out.writeLong(buf.arr(i)); i += 1 }
    out.flush()
    bos.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): EndsBuffer = {
    val in = new DataInputStream(new ByteArrayInputStream(bytes))
    val buf = new EndsBuffer(k)
    buf.count = in.readLong()
    val n = in.readInt()
    var i = 0
    while (i < n) { buf.arr(i) = in.readLong(); i += 1 }
    buf.n = n
    buf
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): BoundedEnds =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): BoundedEnds =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): BoundedEnds =
    copy(child = newChildren.head)
  override def prettyName: String = "bounded_ends"
}

object BoundedEnds {
  /** Column API: (n_total, k-smallest ++ k-largest ids) per group. */
  def bounded_ends(c: Column, k: Int): Column = {
    import org.apache.spark.sql.GraftBridge
    GraftBridge.column(
      BoundedEnds(GraftBridge.expression(c), k).toAggregateExpression())
  }
}
