package graft.expr

import java.nio.ByteBuffer
import java.nio.charset.StandardCharsets

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Bounded Misra–Gries frequency summary: at most m (key, counter)
  * entries with the classic guarantee
  * `true_count − n/(m+1) <= counter <= true_count` — so every key whose
  * true frequency exceeds n/(m+1) is GUARANTEED present (no false
  * negatives above the threshold). Counters only undercount; dropped
  * keys were below threshold.
  *
  * Merge follows the mergeable-summaries construction (Agarwal et al.,
  * PODS 2012): add counters keywise, then if more than m survive,
  * subtract the (m+1)-th largest counter from all and drop the
  * non-positive — the combined summary keeps the additive error bound,
  * so map-side partials merge freely across any partition shape.
  */
final class MGBuf(val m: Int) {
  require(m >= 1, s"misra-gries capacity must be >= 1, got $m")
  val counts = new java.util.HashMap[String, Long](m * 2)

  def add(key: String, by: Long): Unit = {
    if (counts.containsKey(key)) counts.put(key, counts.get(key) + by)
    else if (counts.size < m) counts.put(key, by)
    else {
      // Decrement-all by the new key's weight, capped at the smallest
      // current counter so no counter goes negative in one step; repeat
      // until the key is admitted or its weight is exhausted. For the
      // weight-1 updates of the query path this is the textbook single
      // decrement pass, amortized O(1) per input row.
      var w = by
      while (w > 0 && !counts.containsKey(key) && counts.size >= m) {
        var minC = Long.MaxValue
        val it0 = counts.values().iterator()
        while (it0.hasNext) { val c = it0.next(); if (c < minC) minC = c }
        val dec = math.min(w, minC)
        val it = counts.entrySet().iterator()
        while (it.hasNext) {
          val e = it.next()
          val nv = e.getValue - dec
          if (nv <= 0L) it.remove() else e.setValue(nv)
        }
        w -= dec
      }
      if (w > 0) add(key, w)
    }
  }

  /** Keep only the m largest counters, subtracting the (m+1)-th largest
    * from every survivor (the mergeable-summaries shrink step). */
  def shrinkToCapacity(): Unit = {
    if (counts.size <= m) return
    val vals = new Array[Long](counts.size)
    var i = 0
    val it0 = counts.values().iterator()
    while (it0.hasNext) { vals(i) = it0.next(); i += 1 }
    java.util.Arrays.sort(vals)
    val cut = vals(vals.length - m - 1) // (m+1)-th largest
    val it = counts.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      val nv = e.getValue - cut
      if (nv <= 0L) it.remove() else e.setValue(nv)
    }
  }
}

/** `misra_gries(key, m)` — ARRAY<STRUCT<word, lb>> of the bounded
  * summary, ordered (lb DESC, word ASC). The 100 TB heavy-hitter shape:
  * the full key stream NEVER shuffles — each partition keeps an
  * m-bounded map and ships at most m entries; the exact second pass
  * (see agg_heavy) then counts only the surviving candidates. */
case class MisraGriesAgg(
    child: Expression,
    m: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[MGBuf] with UnaryLike[Expression] {

  override def createAggregationBuffer(): MGBuf = new MGBuf(m)

  override def update(buf: MGBuf, input: InternalRow): MGBuf = {
    val v = child.eval(input)
    if (v != null) buf.add(v.asInstanceOf[UTF8String].toString, 1L)
    buf
  }

  override def merge(a: MGBuf, b: MGBuf): MGBuf = {
    val it = b.counts.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      a.counts.put(e.getKey, a.counts.getOrDefault(e.getKey, 0L) + e.getValue)
    }
    a.shrinkToCapacity()
    a
  }

  override def eval(buf: MGBuf): Any = {
    val entries = new Array[(String, Long)](buf.counts.size)
    var i = 0
    val it = buf.counts.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      entries(i) = (e.getKey, e.getValue)
      i += 1
    }
    val sorted = entries.sortBy { case (w, c) => (-c, w) }
    new GenericArrayData(sorted.map { case (w, c) =>
      InternalRow(UTF8String.fromString(w), c)
    }.toArray[Any])
  }

  override def serialize(buf: MGBuf): Array[Byte] = {
    var bytes = 4
    val it0 = buf.counts.keySet().iterator()
    while (it0.hasNext)
      bytes += 12 + it0.next().getBytes(StandardCharsets.UTF_8).length
    val bb = ByteBuffer.allocate(bytes)
    bb.putInt(buf.counts.size)
    val it = buf.counts.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      val kb = e.getKey.getBytes(StandardCharsets.UTF_8)
      bb.putInt(kb.length); bb.put(kb); bb.putLong(e.getValue)
    }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): MGBuf = {
    val bb = ByteBuffer.wrap(bytes)
    val n = bb.getInt
    val buf = new MGBuf(m)
    var i = 0
    while (i < n) {
      val kb = new Array[Byte](bb.getInt)
      bb.get(kb)
      buf.counts.put(new String(kb, StandardCharsets.UTF_8), bb.getLong)
      i += 1
    }
    buf
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): MisraGriesAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): MisraGriesAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildInternal(newChild: Expression): MisraGriesAgg =
    copy(child = newChild)

  override def dataType: DataType = ArrayType(
    StructType(Seq(
      StructField("word", StringType, nullable = false),
      StructField("lb", LongType, nullable = false))),
    containsNull = false)
  override def nullable: Boolean = false
  override def prettyName: String = "misra_gries"
}
