package graft.expr

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Filename sanitization — reference semantics (child.py:20-33), pinned by
  * its table tests (tests/test_basic.py:18-80):
  *   - every codepoint outside [A-Za-z0-9._- ] (incl. non-ASCII and
  *     control chars) becomes a single '-';
  *   - then leading/trailing SPACES (only) are stripped.
  *
  * The reference runs three regex passes (non-ASCII, disallowed, control);
  * all three fold into one negated character class, since each pass maps
  * offenders to the same '-'. One pass over the string, executed by
  * Spark's native codegen'd RegExpReplace + StringTrim — no UDF, stays
  * inside whole-stage codegen.
  *
  * Java regex negated classes are codepoint-aware, so an emoji (surrogate
  * pair in UTF-16) yields ONE hyphen — matching Python re / RE2 on UTF-8.
  */
object Sanitize {
  val DisallowedClass = "[^A-Za-z0-9._\\- ]"

  /** Built-in chain (regexp_replace + trim) — kept as the reference
    * implementation the native expression is cross-checked against. */
  def sanitizeRegex(c: Column): Column =
    trim(regexp_replace(c, DisallowedClass, "-"), " ")

  /** Registers nothing: GraftExtensions injects `sanitize_filename`.
    * Kept for existing callers; fails fast on a session built without
    * the extension. */
  def register(spark: org.apache.spark.sql.SparkSession): Unit =
    require(spark.catalog.functionExists("sanitize_filename"),
      "sanitize_filename needs spark.sql.extensions=graft.GraftExtensions")

  /** Native single-pass Catalyst expression ([[SanitizeFilename]]),
    * injected by GraftExtensions. */
  def sanitize(c: Column): Column =
    call_function("sanitize_filename", c)

  /** Scala-side twin for property tests (one output char per codepoint). */
  def sanitizeString(s: String): String = {
    val sb = new StringBuilder
    s.codePoints().forEach { cp =>
      val ok = (cp >= 'A' && cp <= 'Z') || (cp >= 'a' && cp <= 'z') ||
        (cp >= '0' && cp <= '9') || cp == '.' || cp == '_' ||
        cp == '-' || cp == ' '
      sb.append(if (ok) cp.toChar else '-')
    }
    val str = sb.result()
    var b = 0; var e = str.length
    while (b < e && str.charAt(b) == ' ') b += 1
    while (e > b && str.charAt(e - 1) == ' ') e -= 1
    str.substring(b, e)
  }
}
