package graft

import graft.expr.Sanitize
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Behavior pins for filename sanitization — semantics from the
  * reference (child.py:20-33), cases mirroring tests/test_basic.py:18-80. */
class SanitizeSpec extends AnyFunSuite {
  import SharedSpark.spark

  // (input, expected) — reference-pinned behavior.
  val cases: Seq[(String, String)] = Seq(
    ("file@name!.zip", "file-name-.zip"),
    ("   file name with spaces.txt   ", "file name with spaces.txt"),
    ("file.name.with.dots.zip", "file.name.with.dots.zip"),
    ("___filename--.txt", "___filename--.txt"),
    ("file/name\\with?illegal%chars*here:too|and\"quotes<and>more.txt",
      "file-name-with-illegal-chars-here-too-and-quotes-and-more.txt"),
    ("filename\u0000with\u001Fcontrolchars.txt",
      "filename-with-controlchars.txt"),
    ("fileñame😀with_unicode_chars.txt",
      "file-ame-with_unicode_chars.txt"),
    ("-filename-.txt-", "-filename-.txt-"),
    ("file--name---with--multiple---hyphens.txt",
      "file--name---with--multiple---hyphens.txt"),
  )

  test("reference-pinned cases via the Spark expression") {
    val df = spark.createDataFrame(cases).toDF("raw", "expected")
    val got = df.select(col("expected"), Sanitize.sanitize(col("raw")).as("got"))
      .collect()
    got.foreach(r => assert(r.getString(1) === r.getString(0)))
  }

  test("scala twin agrees with the pinned cases") {
    cases.foreach { case (in, out) => assert(Sanitize.sanitizeString(in) === out) }
  }

  /** Seeded fuzz corpus: mixed ASCII, unicode, control chars, emoji. */
  private def fuzzStrings(n: Int): Seq[String] = {
    val rnd = new scala.util.Random(42)
    val pool = "abzAZ09._- /\\?%*:|\"<>\t\n\u0000\u001F\u007Fñé名😀♪  "
    (1 to n).map { _ =>
      val len = rnd.nextInt(30)
      (1 to len).map(_ => pool(rnd.nextInt(pool.length))).mkString
    }
  }

  test("idempotence, ASCII closure, no edge spaces (fuzz)") {
    fuzzStrings(500).foreach { s =>
      val once = Sanitize.sanitizeString(s)
      assert(Sanitize.sanitizeString(once) === once)
      assert(once.forall(c => c.isLetterOrDigit && c < 128 || "._- ".contains(c)))
      assert(!once.startsWith(" ") && !once.endsWith(" "))
    }
  }

  test("spark expression agrees with scala twin (fuzz)") {
    val inputs = fuzzStrings(300) ++
      Seq("", " ", "ñ", "a\tb", "名前.txt", "x" * 300, "..--__  zz", "😀😀")
    val df = spark.createDataFrame(inputs.map(Tuple1(_))).toDF("raw")
    val got = df.select(Sanitize.sanitize(col("raw"))).collect().map(_.getString(0))
    assert(got.toSeq === inputs.map(Sanitize.sanitizeString))
  }

  test("native codegen expression agrees with the regexp_replace chain (fuzz)") {
    val inputs = fuzzStrings(400) ++ cases.map(_._1)
    val df = spark.createDataFrame(inputs.map(Tuple1(_))).toDF("raw")
    val both = df.select(
      Sanitize.sanitize(col("raw")).as("native"),
      Sanitize.sanitizeRegex(col("raw")).as("regex")).collect()
    both.foreach(r => assert(r.getString(0) === r.getString(1)))
  }
}
