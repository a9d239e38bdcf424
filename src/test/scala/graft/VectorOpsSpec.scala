package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** DotProductF64 must be a drop-in for the HOF fold it replaced:
  * bit-identical values (same left-to-right IEEE accumulation) and
  * identical null semantics, or the six oracle-verified similarity
  * queries would silently drift. */
class VectorOpsSpec extends AnyFunSuite {
  import SharedSpark.{spark, sf}

  /** The higher-order-function formulation dot64 replaced: zip_with +
    * aggregate fold — same IEEE order, but interpreted per element and
    * outside whole-stage codegen. */
  private def hof(x: org.apache.spark.sql.Column,
      y: org.apache.spark.sql.Column) =
    aggregate(zip_with(x, y, (p, q) => p * q), lit(0.0), (acc, v) => acc + v)
  private def native(a: org.apache.spark.sql.Column,
      b: org.apache.spark.sql.Column) = call_function("dot64", a, b)

  test("dot64 is bit-identical to the HOF fold on every corpus embedding pair") {
    import spark.implicits._
    val e = Tables.t(spark, sf, "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))
    val a = e.select(col("vec_id").as("a_id"), col("emb").as("ea"))
    val b = e.select(col("vec_id").as("b_id"), col("emb").as("eb"))
    // All pairs at sf0.001 (50 vectors → 2,500 pairs): compare raw
    // BITS, not values, so a ±0.0 or ulp drift cannot hide.
    val rows = a.crossJoin(b)
      .select(native(col("ea"), col("eb")).as("n"),
        hof(col("ea"), col("eb")).as("h"))
      .as[(Option[Double], Option[Double])].collect()
    assert(rows.nonEmpty)
    rows.foreach { case (n, h) =>
      assert(n.isDefined === h.isDefined)
      (n, h) match {
        case (Some(x), Some(y)) =>
          assert(java.lang.Double.doubleToRawLongBits(x) ===
            java.lang.Double.doubleToRawLongBits(y), s"$x vs $y")
        case _ =>
      }
    }
  }

  test("dot64 null semantics match the HOF chain: null array, null element, length mismatch") {
    import spark.implicits._
    val df = Seq(
      (Some(Seq(Some(1.0), Some(2.0))), Some(Seq(Some(3.0), Some(4.0)))),
      (None, Some(Seq(Some(1.0)))), // null array
      (Some(Seq(Some(1.0), None)), Some(Seq(Some(3.0), Some(4.0)))), // null elem
      (Some(Seq(Some(1.0))), Some(Seq(Some(3.0), Some(4.0)))), // length mismatch
      (Some(Seq.empty[Option[Double]]), Some(Seq.empty[Option[Double]])) // empty
    ).toDF("a", "b")
      .select(col("a").cast("array<double>").as("a"),
        col("b").cast("array<double>").as("b"))
    val out = df.select(native(col("a"), col("b")).as("n"),
      hof(col("a"), col("b")).as("h"))
      .as[(Option[Double], Option[Double])].collect()
    assert(out(0) === ((Some(11.0), Some(11.0))))
    assert(out(1) === ((None, None)))
    assert(out(2) === ((None, None)))
    assert(out(3) === ((None, None)))
    assert(out(4) === ((Some(0.0), Some(0.0))))
    out.foreach { case (n, h) => assert(n === h) }
  }

  test("dot64 is callable from plain SQL via the extension registry") {
    val r = spark.sql(
      "SELECT dot64(array(1.0d, 2.0d), array(3.0d, 4.0d))").head.getDouble(0)
    assert(r === 11.0)
  }

  // ── SqDistI64: the ml_knn per-pair kernel ────────────────────────────
  private def sqHof(a: org.apache.spark.sql.Column,
      b: org.apache.spark.sql.Column) = aggregate(
    zip_with(a, b, (x, y) => (x - y) * (x - y)), lit(0L), (acc, v) => acc + v)
  private def sqNative(a: org.apache.spark.sql.Column,
      b: org.apache.spark.sql.Column) = call_function("sqdist_i64", a, b)

  test("sqdist_i64 equals the HOF fold on every corpus grid-vector pair") {
    import spark.implicits._
    val e = Tables.t(spark, sf, "embeddings")
      .select(col("vec_id"), transform(col("embedding"),
        v => floor(v.cast("double") * 1e6 + lit(0.5)).cast("long")).as("g"))
    val a = e.select(col("vec_id").as("a_id"), col("g").as("ga"))
    val b = e.select(col("vec_id").as("b_id"), col("g").as("gb"))
    // All pairs at sf0.001 (50 vectors → 2,500 pairs) — exact longs,
    // so plain equality IS bit equality.
    val rows = a.crossJoin(b)
      .select(sqNative(col("ga"), col("gb")).as("n"),
        sqHof(col("ga"), col("gb")).as("h"))
      .as[(Option[Long], Option[Long])].collect()
    assert(rows.nonEmpty)
    rows.foreach { case (n, h) => assert(n === h) }
    // sanity: distinct vectors are at positive distance
    assert(rows.count { case (n, _) => n.exists(_ > 0L) } > 0)
  }

  test("sqdist_i64 null semantics match the HOF chain: null array, null element, length mismatch") {
    import spark.implicits._
    val df = Seq(
      (Some(Seq(Some(1L), Some(5L))), Some(Seq(Some(3L), Some(1L)))),
      (None, Some(Seq(Some(1L)))), // null array
      (Some(Seq(Some(1L), None)), Some(Seq(Some(3L), Some(4L)))), // null elem
      (Some(Seq(Some(1L))), Some(Seq(Some(3L), Some(4L)))), // length mismatch
      (Some(Seq.empty[Option[Long]]), Some(Seq.empty[Option[Long]])) // empty
    ).toDF("a", "b")
      .select(col("a").cast("array<bigint>").as("a"),
        col("b").cast("array<bigint>").as("b"))
    val out = df.select(sqNative(col("a"), col("b")).as("n"),
      sqHof(col("a"), col("b")).as("h"))
      .as[(Option[Long], Option[Long])].collect()
    assert(out(0) === ((Some(20L), Some(20L))))
    assert(out(1) === ((None, None)))
    assert(out(2) === ((None, None)))
    assert(out(3) === ((None, None)))
    assert(out(4) === ((Some(0L), Some(0L))))
    out.foreach { case (n, h) => assert(n === h) }
  }

  test("sqdist_i64 is callable from plain SQL and throws on overflow like the ANSI chain") {
    val r = spark.sql(
      "SELECT sqdist_i64(array(1L, 5L), array(3L, 1L))").head.getLong(0)
    assert(r === 20L)
    // ANSI-aligned overflow: (0 - (2^32+1))^2 overflows a long; the
    // HOF chain raises under ANSI mode, so must the native kernel.
    val ex = intercept[Exception] {
      spark.sql("SELECT sqdist_i64(array(0L), array(4294967297L))").head
    }
    def causes(t: Throwable): Seq[Throwable] =
      if (t == null) Nil else t +: causes(t.getCause)
    assert(causes(ex).exists(_.isInstanceOf[ArithmeticException]),
      s"expected an ArithmeticException in the cause chain, got $ex")
  }
}
