package graft.expr

import java.nio.ByteBuffer

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.BinaryLike
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._

/** Bounded top-k buffer: at most k (score, id) pairs, kept sorted by
  * the EXACT total order of
  * `row_number() OVER (ORDER BY score DESC, id ASC)` in Spark:
  * score DESC NULLS LAST with java.lang.Double.compare semantics
  * (NaN above +Inf) and -0.0 comparing equal to 0.0 (Spark's nan-safe
  * compare; stored values keep their original bits), then id ASC
  * NULLS FIRST. Nulls are
  * carried as per-entry flag bits so a group with fewer than k
  * non-null scores still ranks its null-score rows — bit-identical to
  * the window formulation on ANY input. Linear-shift insertion is O(k)
  * per accepted row; rows worse than the current k-th are rejected
  * with a single comparison. */
final class TopKBuf(val k: Int) {
  require(k >= 1, s"top-k bound must be >= 1, got $k")
  val scores = new Array[Double](k)
  val ids = new Array[Long](k)
  val flags = new Array[Byte](k) // bit0: score IS NULL, bit1: id IS NULL
  var n = 0

  // -0.0 collapses to 0.0 FOR COMPARISON only (Spark's nan-safe double
  // compare treats them equal, ties then break on id); the stored and
  // emitted value keeps its original bits, like the window formulation.
  @inline private def cmpNorm(v: Double): Double = if (v == 0.0) 0.0 else v

  /** Does (s, i) order strictly before the entry at `pos`? */
  @inline private def before(
      s: Double, sNull: Boolean, i: Long, iNull: Boolean, pos: Int): Boolean = {
    val pSNull = (flags(pos) & 1) != 0
    if (sNull != pSNull) return pSNull // DESC NULLS LAST
    if (!sNull) {
      val c = java.lang.Double.compare(cmpNorm(s), cmpNorm(scores(pos)))
      if (c != 0) return c > 0
    }
    val pINull = (flags(pos) & 2) != 0
    if (iNull != pINull) return iNull // ASC NULLS FIRST
    if (iNull) false else i < ids(pos)
  }

  def insert(s: Double, sNull: Boolean, i: Long, iNull: Boolean): Unit = {
    if (n == k && !before(s, sNull, i, iNull, n - 1)) return
    var pos = if (n < k) n else n - 1
    if (n < k) n += 1
    while (pos > 0 && before(s, sNull, i, iNull, pos - 1)) {
      scores(pos) = scores(pos - 1); ids(pos) = ids(pos - 1)
      flags(pos) = flags(pos - 1); pos -= 1
    }
    scores(pos) = s; ids(pos) = i
    flags(pos) = ((if (sNull) 1 else 0) | (if (iNull) 2 else 0)).toByte
  }

  /** Non-null convenience (tests, simple callers). */
  def insert(s: Double, i: Long): Unit = insert(s, sNull = false, i, iNull = false)
}

/** Top-k per group as a NATIVE aggregate — the scale-correct shape for
  * "k best rows per key" (reference analog: keep-latest collision
  * handling, child.py:185-188).
  *
  * The window formulation (`row_number() <= k`, see topk_group) must
  * shuffle EVERY input row to its group's partition and sort the whole
  * group before discarding all but k. This aggregate keeps a k-bounded
  * buffer per group and is map-side combinable: each input partition
  * sends at most k pairs per group across the wire, and no full-group
  * sort ever happens. At 100 TB with millions of rows per group that is
  * the difference between shuffling the corpus and shuffling k·groups.
  * Result order is pinned to (score DESC, id ASC), so it is bit-equal
  * to the window version and shares its oracle. */
case class TopKAgg(
    score: Expression,
    id: Expression,
    k: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[TopKBuf] with BinaryLike[Expression] {

  override def left: Expression = score
  override def right: Expression = id

  override def createAggregationBuffer(): TopKBuf = new TopKBuf(k)

  override def update(buf: TopKBuf, input: InternalRow): TopKBuf = {
    val s = score.eval(input)
    val i = id.eval(input)
    buf.insert(
      if (s == null) 0.0 else s.asInstanceOf[Double], s == null,
      if (i == null) 0L else i.asInstanceOf[Long], i == null)
    buf
  }

  override def merge(a: TopKBuf, b: TopKBuf): TopKBuf = {
    var i = 0
    while (i < b.n) {
      a.insert(b.scores(i), (b.flags(i) & 1) != 0, b.ids(i), (b.flags(i) & 2) != 0)
      i += 1
    }
    a
  }

  override def eval(buf: TopKBuf): Any =
    new GenericArrayData((0 until buf.n).map { i =>
      InternalRow(
        if ((buf.flags(i) & 1) != 0) null else buf.scores(i),
        if ((buf.flags(i) & 2) != 0) null else buf.ids(i))
    }.toArray[Any])

  override def serialize(buf: TopKBuf): Array[Byte] = {
    val bb = ByteBuffer.allocate(4 + buf.n * 17)
    bb.putInt(buf.n)
    var i = 0
    while (i < buf.n) {
      bb.put(buf.flags(i)); bb.putDouble(buf.scores(i)); bb.putLong(buf.ids(i))
      i += 1
    }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): TopKBuf = {
    val bb = ByteBuffer.wrap(bytes)
    val n = bb.getInt
    val buf = new TopKBuf(k)
    var i = 0
    // entries arrive already sorted; insert preserves order
    while (i < n) {
      val f = bb.get()
      buf.insert(bb.getDouble, (f & 1) != 0, bb.getLong, (f & 2) != 0)
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
    copy(score = newLeft, id = newRight)

  override def dataType: DataType = ArrayType(
    StructType(Seq(
      StructField("score", DoubleType, nullable = true),
      StructField("id", LongType, nullable = true))),
    containsNull = false)
  override def nullable: Boolean = false
  override def prettyName: String = "topk_pairs"
}
