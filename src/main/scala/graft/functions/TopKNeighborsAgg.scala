package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** Primitive-buffer k-bounded top-(score desc, neighbor asc) buffer —
  * the native twin of the `udaf(Aggregator)` form kept with the tests
  * (`graft.TopKNeighborsUdaf`), insert and merge semantics identical
  * line-for-line (binary search, ties after equals, `buf.last` reject
  * gate). */
final class TopKNeighborsBuf(val k: Int) extends Serializable {
  val scores = new Array[Double](k)
  val hasScore = new Array[Boolean](k) // false ⇒ null score (ranks last)
  val neighbors = new Array[Long](k)
  var size = 0

  /** < 0 iff a outranks b — the Aggregator twin's `cmp` verbatim: scores
    * descend via Double.compare with −0.0 normalized (NaN greatest,
    * like Spark's sort keys), null scores last, neighbor asc ties. */
  @inline def cmp(aNull: Boolean, a: Double, an: Long,
                  bNull: Boolean, b: Double, bn: Long): Int =
    if (!aNull && !bNull) {
      val c = java.lang.Double.compare(b + 0.0, a + 0.0)
      if (c != 0) c else java.lang.Long.compare(an, bn)
    } else if (!aNull) -1
    else if (!bNull) 1
    else java.lang.Long.compare(an, bn)

  def insert(sNull: Boolean, s: Double, n: Long): Unit = {
    // fast reject: cannot enter a full buffer (cmp takes "isNull"
    // flags — hasScore is the inverse)
    if (size >= k && cmp(!hasScore(size - 1), scores(size - 1),
        neighbors(size - 1), sNull, s, n) <= 0) {
      return
    }
    var lo = 0
    var hi = size
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (cmp(sNull, s, n, !hasScore(mid), scores(mid),
          neighbors(mid)) < 0) hi = mid
      else lo = mid + 1
    }
    val insertAt = lo
    val newSize = math.min(size + 1, k)
    // shift [insertAt, newSize-1) right by one
    var q = newSize - 1
    while (q > insertAt) {
      scores(q) = scores(q - 1)
      hasScore(q) = hasScore(q - 1)
      neighbors(q) = neighbors(q - 1)
      q -= 1
    }
    if (insertAt < k) {
      scores(insertAt) = s
      hasScore(insertAt) = !sNull
      neighbors(insertAt) = n
      size = newSize
    }
  }

  /** bounded sorted two-pointer merge, ties take the left buffer first
    * (== BoundedTopK.merge's `cmp(a(i), b(j)) <= 0`). */
  def mergeFrom(other: TopKNeighborsBuf): TopKNeighborsBuf = {
    if (other.size == 0) return this
    if (size == 0) return other
    val out = new TopKNeighborsBuf(k)
    var i = 0; var j = 0; var n = 0
    while (n < k && (i < size || j < other.size)) {
      val takeA = j >= other.size || (i < size &&
        cmp(!hasScore(i), scores(i), neighbors(i),
          !other.hasScore(j), other.scores(j), other.neighbors(j)) <= 0)
      if (takeA) {
        out.scores(n) = scores(i); out.hasScore(n) = hasScore(i)
        out.neighbors(n) = neighbors(i); i += 1
      } else {
        out.scores(n) = other.scores(j); out.hasScore(n) = other.hasScore(j)
        out.neighbors(n) = other.neighbors(j); j += 1
      }
      n += 1
    }
    out.size = n
    out
  }
}

/** Bounded top-k neighbors as a native [[TypedImperativeAggregate]] —
  * the round-6 hot-path replacement for the `udaf(Aggregator)` form of
  * [[TopKNeighbors.topk]] in the ANN rankings.
  *
  * Why: `udaf` wraps the Aggregator behind an ExpressionEncoder that
  * deserializes EVERY input row into a `ScoredNeighbor(Option[Double],
  * Long)` (two allocations + boxing) and keeps the buffer as an
  * immutable `Seq` rebuilt per accepted row. The ANN candidate sets
  * push 10⁷-10⁸ rows per query through that path at the 10×/30×
  * replicas — allocation, not comparison, dominated. This aggregate
  * reads the two child primitives straight off the InternalRow, keeps
  * the buffer as primitive arrays, and serializes it compactly at the
  * partial/final boundary. Semantics are the Aggregator form's exactly
  * (same cmp, same tie/NaN/null/signed-zero rules, same merge) —
  * pinned by the adversarial-ordering and window-parity suites, plus a
  * direct native≡udaf pin.
  */
case class TopKNeighborsAgg(score: Expression, neighbor: Expression,
                            k: Int,
                            mutableAggBufferOffset: Int = 0,
                            inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[TopKNeighborsBuf] {

  require(k >= 1, s"top-k needs k >= 1, got $k")

  override def children: Seq[Expression] = Seq(score, neighbor)
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(
    new StructType()
      .add("cosine", DoubleType, nullable = true)
      .add("neighbor", LongType, nullable = false),
    containsNull = false)

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (score.dataType == DoubleType && neighbor.dataType == LongType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult
        .TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult
      .TypeCheckFailure(s"topk_neighbors requires (double, bigint), " +
        s"got (${score.dataType.sql}, ${neighbor.dataType.sql})")

  override def createAggregationBuffer(): TopKNeighborsBuf =
    new TopKNeighborsBuf(k)

  override def update(buf: TopKNeighborsBuf,
                      input: InternalRow): TopKNeighborsBuf = {
    val n = neighbor.eval(input)
    if (n != null) { // null neighbor cannot rank (never occurs: ids
      // are join keys); the udaf form could not represent it either
      val s = score.eval(input)
      if (s == null) buf.insert(sNull = true, 0.0, n.asInstanceOf[Long])
      else buf.insert(sNull = false, s.asInstanceOf[Double],
        n.asInstanceOf[Long])
    }
    buf
  }

  override def merge(buf: TopKNeighborsBuf,
                     other: TopKNeighborsBuf): TopKNeighborsBuf =
    buf.mergeFrom(other)

  override def eval(buf: TopKNeighborsBuf): Any = {
    val out = new Array[Any](buf.size)
    var i = 0
    while (i < buf.size) {
      val row = new GenericInternalRow(2)
      if (buf.hasScore(i)) row.update(0, buf.scores(i))
      else row.setNullAt(0)
      row.update(1, buf.neighbors(i))
      out(i) = row
      i += 1
    }
    new GenericArrayData(out)
  }

  override def serialize(buf: TopKNeighborsBuf): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(8 + buf.size * 17)
    bb.putInt(buf.k); bb.putInt(buf.size)
    var i = 0
    while (i < buf.size) {
      bb.put(if (buf.hasScore(i)) 1.toByte else 0.toByte)
      bb.putDouble(buf.scores(i)); bb.putLong(buf.neighbors(i))
      i += 1
    }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): TopKNeighborsBuf = {
    val bb = java.nio.ByteBuffer.wrap(bytes)
    val kk = bb.getInt(); val size = bb.getInt()
    val buf = new TopKNeighborsBuf(kk)
    var i = 0
    while (i < size) {
      buf.hasScore(i) = bb.get() == 1
      buf.scores(i) = bb.getDouble()
      buf.neighbors(i) = bb.getLong()
      i += 1
    }
    buf.size = size
    buf
  }

  override def withNewMutableAggBufferOffset(newOffset: Int)
      : TopKNeighborsAgg = copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int)
      : TopKNeighborsAgg = copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): TopKNeighborsAgg =
    copy(score = newChildren(0), neighbor = newChildren(1))
}
