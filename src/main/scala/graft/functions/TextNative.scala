package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native codegen'd twins of the hot text-analysis column chains
  * (guide §"eliminate non-codegen expressions in the hot path").
  *
  * The pure-Column formulations in [[TextFunctions]] build on `split` +
  * higher-order `filter`/`aggregate` lambdas; HOFs run INTERPRETED (they
  * block whole-stage codegen), and because every Column reference copies its
  * expression subtree, a query like q_lang_id evaluates `split(lower(text))`
  * ~20× per row (see plans/r07/q_lang_id_before.txt). Each kernel here is
  * one tight Java scan per row, called through [[Bridge.staticCall]] (null in
  * gives null out), and value-identical to its Column twin (equality property
  * tests in TextNativeSpec pin this):
  *
  *  - tokenization parity: Java regex `\s` = `[ \t\n\x0B\f\r]` exactly (NOT
  *    `Character.isWhitespace`), empty tokens dropped — the [[WordShinglesUtil]]
  *    scanner contract;
  *  - `\p{P}` parity: Unicode general-category family P via
  *    `Character.getType` over CODE POINTS (the regex engine also iterates
  *    code points);
  *  - sort parity: bag-of-words keys sort tokens in UTF8String binary order
  *    (what `array_sort` uses), not `String.compareTo` (which diverges on
  *    supplementary planes).
  */
object TextNativeUtil {

  @inline private def isRegexSpace(c: Char): Boolean =
    c == ' ' || c == '\t' || c == '\n' || c == '\u000B' || c == '\f' || c == '\r'

  private val enSet: java.util.HashSet[String] = {
    val s = new java.util.HashSet[String]()
    TextFunctions.EnStopwords.foreach(s.add); s
  }
  private val trSet: java.util.HashSet[String] = {
    val s = new java.util.HashSet[String]()
    TextFunctions.TrStopwords.foreach(s.add); s
  }

  /** One pass over an (already-lowercased) string: (n_tokens, n_en, n_tr). */
  def stopStats(u: UTF8String): InternalRow = {
    val s = u.toString
    val len = s.length
    var n = 0; var en = 0; var tr = 0
    var i = 0
    while (i < len) {
      while (i < len && isRegexSpace(s.charAt(i))) i += 1
      if (i < len) {
        val start = i
        while (i < len && !isRegexSpace(s.charAt(i))) i += 1
        n += 1
        val tok = s.substring(start, i)
        if (enSet.contains(tok)) en += 1
        if (trSet.contains(tok)) tr += 1
      }
    }
    new GenericInternalRow(Array[Any](n, en, tr))
  }

  /** Token count: number of maximal non-`\s` runs. */
  def tokenCount(u: UTF8String): Int = {
    val s = u.toString
    val len = s.length
    var n = 0; var i = 0
    while (i < len) {
      while (i < len && isRegexSpace(s.charAt(i))) i += 1
      if (i < len) { n += 1; while (i < len && !isRegexSpace(s.charAt(i))) i += 1 }
    }
    n
  }

  /** Count of code points in Unicode general-category family P — the match
    * count of `regexp_count(c, "\p{P}")` (each match is one code point). */
  def punctCount(u: UTF8String): Int = {
    val s = u.toString
    val len = s.length
    var n = 0; var i = 0
    while (i < len) {
      val cp = s.codePointAt(i)
      val t = Character.getType(cp)
      if (t == Character.CONNECTOR_PUNCTUATION || t == Character.DASH_PUNCTUATION ||
          t == Character.START_PUNCTUATION || t == Character.END_PUNCTUATION ||
          t == Character.INITIAL_QUOTE_PUNCTUATION || t == Character.FINAL_QUOTE_PUNCTUATION ||
          t == Character.OTHER_PUNCTUATION) n += 1
      i += Character.charCount(cp)
    }
    n
  }

  /** Match count of `[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]`: maximal ASCII-alpha
    * runs + maximal digit runs + single other non-`\s` code points (regex
    * alternation is leftmost-greedy, so runs always win over the 1-char
    * class; `\s` here is the ASCII class — Pattern without
    * UNICODE_CHARACTER_CLASS). */
  def subwordCount(u: UTF8String): Int = {
    val s = u.toString
    val len = s.length
    var n = 0; var i = 0
    while (i < len) {
      val c = s.charAt(i)
      if ((c >= 'A' && c <= 'Z') || (c >= 'a' && c <= 'z')) {
        n += 1
        while (i < len && { val x = s.charAt(i)
          (x >= 'A' && x <= 'Z') || (x >= 'a' && x <= 'z') }) i += 1
      } else if (c >= '0' && c <= '9') {
        n += 1
        while (i < len && { val x = s.charAt(i); x >= '0' && x <= '9' }) i += 1
      } else if (isRegexSpace(c)) {
        i += 1
      } else {
        // one match per CODE POINT (the regex `.`-like class consumes a full
        // surrogate pair as one match)
        n += 1
        i += Character.charCount(s.codePointAt(i))
      }
    }
    n
  }

  /** Sorted-distinct-token key: same value as
    * `array_join(array_sort(array_distinct(tokens(c))), " ")` — distinct
    * whitespace tokens in UTF8String (binary) order, single-space joined. */
  def bowKey(u: UTF8String): UTF8String = {
    val s = u.toString
    val set = new java.util.HashSet[UTF8String]()
    val toks = new java.util.ArrayList[UTF8String]()
    val len = s.length
    var i = 0
    while (i < len) {
      while (i < len && isRegexSpace(s.charAt(i))) i += 1
      if (i < len) {
        val start = i
        while (i < len && !isRegexSpace(s.charAt(i))) i += 1
        val t = UTF8String.fromString(s.substring(start, i))
        if (set.add(t)) toks.add(t)
      }
    }
    java.util.Collections.sort(toks)
    val sb = new java.lang.StringBuilder()
    var k = 0
    while (k < toks.size()) {
      if (k > 0) sb.append(' ')
      sb.append(toks.get(k).toString)
      k += 1
    }
    UTF8String.fromString(sb.toString)
  }

  /** `\p{L}\p{N}` membership for one code point — exactly the char classes
    * the canon filter's `rlike("[\\p{L}\\p{N}]")` tests. */
  @inline private def isLetterOrNumber(cp: Int): Boolean =
    Character.isLetter(cp) || {
      val t = Character.getType(cp)
      t == Character.DECIMAL_DIGIT_NUMBER || t == Character.LETTER_NUMBER ||
        t == Character.OTHER_NUMBER
    }

  /** Canonical signature-token string: same value as
    * `array_join(array_sort(filter(split(c, " "), t => t.rlike("[\p{L}\p{N}]"))), " ")`
    * — tokens split at SINGLE SPACES only (the normalizer collapses
    * whitespace upstream; a literal-space split keeps that contract), kept
    * when they contain at least one letter/number code point, sorted in
    * UTF8String (binary) order, space-joined. Duplicates kept (filter ≠
    * distinct). */
  def canonSig(u: UTF8String): UTF8String = {
    val s = u.toString
    val toks = new java.util.ArrayList[UTF8String]()
    val len = s.length
    var i = 0
    while (i <= len) {
      val start = i
      while (i < len && s.charAt(i) != ' ') i += 1
      // token = [start, i); test for any \p{L}\p{N} code point
      var j = start
      var keep = false
      while (!keep && j < i) {
        val cp = s.codePointAt(j)
        if (isLetterOrNumber(cp)) keep = true
        j += Character.charCount(cp)
      }
      if (keep) toks.add(UTF8String.fromString(s.substring(start, i)))
      i += 1 // skip the separator (or step past end to terminate)
    }
    java.util.Collections.sort(toks)
    val sb = new java.lang.StringBuilder()
    var k = 0
    while (k < toks.size()) {
      if (k > 0) sb.append(' ')
      sb.append(toks.get(k).toString)
      k += 1
    }
    UTF8String.fromString(sb.toString)
  }

  private def call(method: String, returns: DataType, c: Column): Column =
    Bridge.staticCall(this, method, returns, Seq(c -> StringType))

  /** struct<n:int,en:int,tr:int> token/stopword counts of an ALREADY-LOWERED
    * string — callers pass `lower(c)` (lowercasing stays the builtin, so its
    * Unicode semantics are Spark's own). */
  def stopTokenStats(c: Column): Column = call("stopStats", StructType(
    Seq("n", "en", "tr").map(StructField(_, IntegerType, nullable = false))), c)
  def tokenCountCol(c: Column): Column = call("tokenCount", IntegerType, c)
  def punctCountCol(c: Column): Column = call("punctCount", IntegerType, c)
  def subwordCountCol(c: Column): Column = call("subwordCount", IntegerType, c)
  def bowKeyCol(c: Column): Column = call("bowKey", StringType, c)
  def canonSigCol(c: Column): Column = call("canonSig", StringType, c)
}
