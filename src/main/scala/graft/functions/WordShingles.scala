package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.functions.lit
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.{ArrayType, IntegerType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Word n-gram shingles of a string as a static kernel call from Catalyst
  * ([[WordShinglesUtil.wordShingles]]): the same value as
  * `transform(sequence(0, size(toks)-n), i => concat_ws(" ",
  * slice(toks, i+1, n)))` over `filter(split(c, "\\s+"), length > 0)` —
  * i.e. T−n+1 shingles of n consecutive whitespace tokens joined by single
  * spaces, empty array when the text has fewer than n tokens.
  *
  * Tokenization parity matters: `split(c, "\\s+")` splits on the Java regex
  * ASCII class `[ \\t\\n\\x0B\\f\\r]` — NOT `Character.isWhitespace` (which
  * also matches U+2028 etc.) — so the scanner tests exactly those five
  * chars. The HOF shape re-enters the lambda interpreter once per shingle
  * per row (plus a slice + concat allocation each); this is one scan for
  * token boundaries and one substring per shingle.
  */
object WordShinglesUtil {

  /** Exactly the Java-regex `\s` class `split` uses (ASCII, no Unicode
    * whitespace) — Character.isWhitespace would diverge on U+2028 etc. */
  @inline private def isRegexSpace(c: Char): Boolean =
    c == ' ' || c == '\t' || c == '\n' || c == '\u000B' || c == '\f' || c == '\r'

  def shingles(u: UTF8String, n: Int): ArrayData = {
    val s = u.toString
    // token boundaries: maximal runs of non-\s chars
    val starts = new java.util.ArrayList[Integer]()
    val ends = new java.util.ArrayList[Integer]()
    val len = s.length
    var i = 0
    while (i < len) {
      while (i < len && isRegexSpace(s.charAt(i))) i += 1
      if (i < len) {
        starts.add(i)
        while (i < len && !isRegexSpace(s.charAt(i))) i += 1
        ends.add(i)
      }
    }
    val t = starts.size()
    if (t < n) return new GenericArrayData(Array.empty[Any])
    val out = new Array[Any](t - n + 1)
    val sb = new java.lang.StringBuilder()
    var k = 0
    while (k <= t - n) {
      sb.setLength(0)
      var j = 0
      while (j < n) {
        if (j > 0) sb.append(' ')
        sb.append(s, starts.get(k + j), ends.get(k + j))
        j += 1
      }
      out(k) = UTF8String.fromString(sb.toString)
      k += 1
    }
    new GenericArrayData(out)
  }

  def wordShingles(c: Column, n: Int): Column = {
    require(n >= 1, "shingle width must be >= 1")
    Bridge.staticCall(this, "shingles", ArrayType(StringType, containsNull = false),
      Seq(c -> StringType, lit(n) -> IntegerType))
  }
}
