package graft.expr

import java.nio.ByteBuffer

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, XXH64}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Shared MinHash kernel. The per-slot hash is IDENTICAL to the builtin
  * `xxhash64(lit(i), shingle)` (XXH64 seed 42 over the int i, then the
  * UTF-8 bytes), so every formulation — builtin min-aggregates, the
  * test-side `MinHashAgg` Aggregator UDAF, the [[MinHashSketch]] native
  * aggregate, and the [[MinHashSig]] scalar — cross-validates
  * bit-for-bit (LlmSpec).
  */
object MinHash {
  val DefaultK = 16

  /** Fold one shingle into a k-slot minimum signature buffer. */
  def updateBuf(buf: Array[Long], u: UTF8String): Unit = {
    val k = buf.length
    var i = 0
    while (i < k) {
      val h = XXH64.hashUnsafeBytes(
        u.getBaseObject, u.getBaseOffset, u.numBytes, XXH64.hashInt(i, 42L))
      if (h < buf(i)) buf(i) = h
      i += 1
    }
  }

  /** Whole-array signature in one pass — called from generated code. */
  def sigOf(arr: ArrayData, k: Int): ArrayData = {
    val buf = Array.fill(k)(Long.MaxValue)
    val n = arr.numElements()
    var j = 0
    while (j < n) {
      val u = arr.getUTF8String(j)
      if (u != null) updateBuf(buf, u)
      j += 1
    }
    new GenericArrayData(buf)
  }
}

/** Scalar MinHash signature: ARRAY<STRING> shingles → ARRAY<LONG>[k]
  * minimum signature, computed per row with no explode, no aggregation,
  * no shuffle — the 100 TB shape for per-document sketches (a pure map;
  * signatures are partition-local and the document body never leaves the
  * scan). Single expression node, so Catalyst's projection collapse
  * cannot duplicate the shingle computation (a 16× cost).
  */
case class MinHashSig(child: Expression, k: Int = MinHash.DefaultK)
    extends UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(StringType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"minhash_sig requires ARRAY<STRING>, got $other")
    }

  override def nullSafeEval(input: Any): Any =
    MinHash.sigOf(input.asInstanceOf[ArrayData], k)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.expr.MinHash.sigOf($c, $k)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)

  override def prettyName: String = "minhash_sig"
}

/** MinHash signature as a NATIVE TypedImperativeAggregate over exploded
  * shingles — the aggregation-shaped formulation (SURVEY.md §2b UDAF
  * surface, scale notes in VERDICT r1).
  *
  * Why not `udaf(Aggregator)`: the Aggregator path round-trips the
  * Array[Long] buffer through a Catalyst ExpressionEncoder on EVERY
  * update row; combined with ObjectHashAggregate's 128-key sort-based
  * fallback that measured 264 s at sf0.1 (BENCH_r01). A
  * TypedImperativeAggregate keeps the buffer as a raw JVM object inside
  * the aggregation map and serializes only on spill/shuffle, with
  * map-side partial aggregation (16 longs per doc on the wire).
  */
case class MinHashSketch(
    child: Expression,
    k: Int = MinHash.DefaultK,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[Array[Long]] with UnaryLike[Expression] {

  override def createAggregationBuffer(): Array[Long] = Array.fill(k)(Long.MaxValue)

  override def update(buf: Array[Long], input: InternalRow): Array[Long] = {
    val v = child.eval(input)
    if (v != null) MinHash.updateBuf(buf, v.asInstanceOf[UTF8String])
    buf
  }

  override def merge(a: Array[Long], b: Array[Long]): Array[Long] = {
    var i = 0
    while (i < k) { if (b(i) < a(i)) a(i) = b(i); i += 1 }
    a
  }

  override def eval(buf: Array[Long]): Any = new GenericArrayData(buf)

  override def serialize(buf: Array[Long]): Array[Byte] = {
    val bb = ByteBuffer.allocate(k * 8)
    var i = 0
    while (i < k) { bb.putLong(buf(i)); i += 1 }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): Array[Long] = {
    val bb = ByteBuffer.wrap(bytes)
    val out = new Array[Long](k)
    var i = 0
    while (i < k) { out(i) = bb.getLong(); i += 1 }
    out
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): MinHashSketch =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): MinHashSketch =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildInternal(newChild: Expression): MinHashSketch =
    copy(child = newChild)

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = false
  override def prettyName: String = "minhash_sketch"
}
