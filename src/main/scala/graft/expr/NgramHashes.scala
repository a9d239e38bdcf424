package graft.expr

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, XXH64}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** Distinct xxhash64 values of a string's character 4-grams as ONE
  * native pass per row — the dedup_ngram postings kernel.
  *
  * Replaces `xxhash64(explode(array_distinct(transform(sequence(1,
  * greatest(length(text)-3, 1)), i -> substring(text, i, 4)))))`,
  * which allocates PER GRAM: `substring` copies 4 chars into a fresh
  * UTF8String (own byte[]), `transform` boxes them into a
  * GenericArrayData, and `array_distinct` builds another array plus a
  * boxed hash set — for a 5 KB document that is ~5,000 short-lived
  * objects per row BEFORE the explode even runs. BENCH_r11's trial-1
  * postings build spent 563 s (77 %) of task time in GC at the 12 g
  * heap ceiling on exactly this allocation storm.
  * This pass allocates two primitive long arrays per row and hashes
  * each gram IN PLACE off the input UTF8String's bytes — zero per-gram
  * objects, and a stop-word gram costs one probe of an open-addressed
  * long table, never a string.
  *
  * Exactness (same row set as the HOF chain by construction):
  * - Gram i (1-based, i ≤ max(numChars−3, 1)) is the byte slice
  *   covering code points [i, i+4) — identical to Spark's
  *   code-point-based `substring(text, i, 4)`, including the short
  *   tail (numChars < 4 hashes the whole string; "" hashes 0 bytes,
  *   matching `xxhash64(substring('', 1, 4))`).
  * - Each slice is hashed with [[XXH64.hashUnsafeBytes]] at Spark's
  *   string seed 42 — bit-identical to `xxhash64(gram)`, pinned by
  *   LlmSpec against the built-in on multi-byte UTF-8 inputs.
  * - Distinctness is on the hash where the HOF chain deduped the
  *   STRING then hashed — identical output unless two distinct grams
  *   of one document collide in 64 bits (~len²/2⁶⁴; the downstream
  *   join keyed on gram_h already accepted exactly this class).
  */
case class NgramHashes(child: Expression) extends UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"ngram_hashes requires STRING, got ${child.dataType}")

  override def nullSafeEval(s: Any): Any =
    NgramHashes.hashes(s.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev,
      s => s"${ev.value} = graft.expr.NgramHashes.hashes($s);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)

  override def prettyName: String = "ngram_hashes"
}

object NgramHashes {
  private final val N = 4
  private final val Seed = 42L // Spark's xxhash64 string seed

  /** Distinct 4-gram hashes in first-occurrence order. Called from
    * generated code. */
  def hashes(s: UTF8String): ArrayData = {
    val base = s.getBaseObject
    val off = s.getBaseOffset
    val nb = s.numBytes()
    // Code-point start offsets (one linear byte walk); starts(nc) = nb
    // closes the last slice.
    val nc = s.numChars()
    val starts = new Array[Int](nc + 1)
    var c = 0
    var b = 0
    while (b < nb) {
      starts(c) = b
      b += UTF8String.numBytesForFirstByte(Platform.getByte(base, off + b))
      c += 1
    }
    starts(nc) = nb
    val nGrams = math.max(nc - (N - 1), 1)
    // Open-addressed long set, power-of-two capacity ≥ 2×nGrams; a
    // parallel `used` bitmap-free byte of state rides in `filled` so
    // hash value 0 needs no sentinel gymnastics.
    var cap = 8
    while (cap < nGrams * 2) cap <<= 1
    val table = new Array[Long](cap)
    val filled = new Array[Boolean](cap)
    val out = new Array[Long](nGrams)
    val mask = cap - 1
    var k = 0
    var g = 0
    while (g < nGrams) {
      val s0 = starts(g)
      val s1 = starts(math.min(g + N, nc))
      val h = XXH64.hashUnsafeBytes(base, off + s0, s1 - s0, Seed)
      // finalizer-quality probe spread: xxhash64 output is already
      // well-mixed, index straight off the low bits
      var idx = (h & mask).toInt
      var dup = false
      while (filled(idx) && !dup) {
        if (table(idx) == h) dup = true
        else idx = (idx + 1) & mask
      }
      if (!dup) {
        filled(idx) = true
        table(idx) = h
        out(k) = h
        k += 1
      }
      g += 1
    }
    UnsafeArrayData.fromPrimitiveArray(java.util.Arrays.copyOf(out, k))
  }
}
