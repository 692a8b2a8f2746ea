package graft.functions

import java.nio.ByteBuffer

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, ImplicitCastInputTypes}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, LongType, StructField, StructType}

/** The bounded top-k of one group: its n best (score, id) pairs so far,
  * best first, in parallel primitive arrays that grow up to k. */
final class TopKBuffer(var n: Int, var s: Array[Double], var id: Array[Long])

/** Exact top-k of a group's (id, score) rows under `better`, best first,
  * as array<struct<id: bigint, s: double>> — the per-key heap of the kNN
  * and ANN searches ([[graft.neighbors.KNN.topKPerKey]]).
  *
  * A typed aggregate: partial buffers are built map-side and merged after
  * the shuffle, and the frame stays a lazy plan. A candidate that does not
  * beat a full buffer's worst entry is dropped after one comparison, the
  * rest insert in order, and two partial buffers merge in one pass over
  * their sorted entries. Entries `better` cannot tell apart are equal
  * (score, id) pairs, so the kept set and its order are those of any exact
  * top-k. The buffer reads its input row and serializes itself (n, scores,
  * ids), so no encoder projection is compiled for it.
  *
  * A NaN or null score, or a null id, fails the aggregate rather than rank
  * where the order leaves it. k ≤ 0 keeps nothing. */
case class TopK(id: Expression, score: Expression, k: Int,
                better: ((Double, Long), (Double, Long)) => Boolean,
                mutableAggBufferOffset: Int = 0, inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[TopKBuffer] with ImplicitCastInputTypes {

  override def children: Seq[Expression] = Seq(id, score)
  override def inputTypes: Seq[DataType] = Seq(LongType, DoubleType)
  override def nullable: Boolean = false
  override def dataType: DataType = TopK.Hits
  override def prettyName: String = "graft_topk"

  override def createAggregationBuffer(): TopKBuffer =
    new TopKBuffer(0, Array.emptyDoubleArray, Array.emptyLongArray)

  override def update(b: TopKBuffer, input: InternalRow): TopKBuffer = {
    val i = id.eval(input)
    val v = score.eval(input)
    if (i == null || v == null || v.asInstanceOf[Double].isNaN)
      throw new IllegalArgumentException(s"top-k: cannot rank score $v of id $i")
    add(b, v.asInstanceOf[Double], i.asInstanceOf[Long])
  }

  private def add(b: TopKBuffer, s: Double, i: Long): TopKBuffer = {
    if (k <= 0 || (b.n == k && !better((s, i), (b.s(k - 1), b.id(k - 1))))) return b
    if (b.n < k && b.n == b.s.length) {
      val cap = math.min(k, math.max(8, 2 * b.n))
      b.s = java.util.Arrays.copyOf(b.s, cap)
      b.id = java.util.Arrays.copyOf(b.id, cap)
    }
    // after every kept entry it does not beat, before the first it does
    var at = math.min(b.n, k - 1)
    while (at > 0 && better((s, i), (b.s(at - 1), b.id(at - 1)))) {
      b.s(at) = b.s(at - 1); b.id(at) = b.id(at - 1); at -= 1
    }
    b.s(at) = s; b.id(at) = i
    b.n = math.min(b.n + 1, k)
    b
  }

  override def merge(a: TopKBuffer, b: TopKBuffer): TopKBuffer = {
    val n = math.min(k, a.n + b.n)
    val out = new TopKBuffer(n, new Array[Double](n), new Array[Long](n))
    var i = 0
    var j = 0
    var o = 0
    while (o < n) {
      // a's entry first unless b's beats it (a before b on equal entries)
      if (i == a.n || (j < b.n && better((b.s(j), b.id(j)), (a.s(i), a.id(i))))) {
        out.s(o) = b.s(j); out.id(o) = b.id(j); j += 1
      } else {
        out.s(o) = a.s(i); out.id(o) = a.id(i); i += 1
      }
      o += 1
    }
    out
  }

  override def eval(b: TopKBuffer): Any =
    new GenericArrayData(Array.tabulate[Any](b.n)(x => InternalRow(b.id(x), b.s(x))))

  override def serialize(b: TopKBuffer): Array[Byte] = {
    val out = ByteBuffer.allocate(4 + 16 * b.n).putInt(b.n)
    (0 until b.n).foreach { x => out.putDouble(b.s(x)).putLong(b.id(x)) }
    out.array()
  }

  override def deserialize(bytes: Array[Byte]): TopKBuffer = {
    val in = ByteBuffer.wrap(bytes)
    val n = in.getInt()
    val b = new TopKBuffer(n, new Array[Double](n), new Array[Long](n))
    (0 until n).foreach { x => b.s(x) = in.getDouble(); b.id(x) = in.getLong() }
    b
  }

  override def withNewMutableAggBufferOffset(o: Int): TopK = copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): TopK = copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): TopK =
    copy(id = c(0), score = c(1))
}

object TopK {
  val Hits: DataType = ArrayType(StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("s", DoubleType, nullable = false))), containsNull = false)

  /** The aggregate as a column over `id` (bigint) and `score` (double). */
  def of(id: Column, score: Column, k: Int,
         better: ((Double, Long), (Double, Long)) => Boolean): Column =
    Bridge.column(TopK(Bridge.expression(id), Bridge.expression(score), k, better)
      .toAggregateExpression())
}
