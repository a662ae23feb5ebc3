package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis scalar functions for large-scale training-data pipelines:
  * language ID, quality scoring, token counting, fingerprinting, and
  * token-with-offset explosion (the reference's E1 operator,
  * ner_address_parser.py:53-61). All pure Catalyst built-ins — codegen'd,
  * shuffle-free, and pushdown-friendly.
  */
object TextFunctions {

  /** Whitespace tokens (empty tokens dropped). */
  def tokens(c: Column): Column = filter(split(c, "\\s+"), t => length(t) > 0)

  /** E1 `whitespace_tokens_with_offsets`: array<struct<tok,start,end>> with
    * character offsets into the ORIGINAL string, computed by scanning for
    * each token's position (running sum via aggregate — no UDF). */
  def tokensWithOffsets(c: Column): Column = {
    // aggregate over tokens, carrying (pos, acc array); each step finds the
    // token at/after pos via instr on the remaining suffix.
    val toks = tokens(c)
    aggregate(
      toks,
      struct(lit(0).cast("int").as("pos"),
        expr("CAST(array() AS array<struct<tok:string,start:int,end:int>>)").as("out")),
      (acc, t) => {
        // suffix length bound = length(c): a fixed literal would silently
        // zero `instr` (and corrupt offsets) past that many chars
        val rel = instr(substring(c, acc.getField("pos") + 1, length(c)), t)
        val start = acc.getField("pos") + rel - 1
        val endp = (start + length(t)).cast("int")
        struct(endp.as("pos"),
          array_append(acc.getField("out"),
            struct(t.as("tok"), start.cast("int").as("start"), endp.as("end"))).as("out"))
      },
      acc => acc.getField("out"))
  }

  /** Token count: whitespace tokens — native one-scan expression
    * ([[TextNativeUtil.tokenCount]]; the `size(filter(split))` twin runs
    * interpreted). */
  def tokenCount(c: Column): Column = TextNativeUtil.tokenCountCol(c)

  /** BPE-ish subword-unit count: alpha runs + digit runs + single other
    * non-space chars (a cheap, deterministic proxy for tokenizer load) —
    * native scan ([[TextNativeUtil.subwordCount]]), same count as the regex
    * twin. */
  def subwordCount(c: Column): Column = TextNativeUtil.subwordCountCol(c)

  /** Tiny English stopword list for the language-ID heuristic. */
  val EnStopwords: Seq[String] = Seq(
    "the", "a", "an", "of", "and", "or", "to", "in", "is", "it", "on", "for",
    "with", "as", "at", "by", "this", "that", "be", "are")

  /** Turkish stopword/indicator list (reference-domain twin). */
  val TrStopwords: Seq[String] = Seq(
    "ve", "bir", "bu", "da", "de", "ile", "mah", "mahallesi", "cadde", "sokak",
    "no", "kat", "daire", "adres", "icin", "gibi")

  /** (n_tokens, n_en_stopwords, n_tr_stopwords) of the lowered text in ONE
    * native scan — the shared kernel of [[langId]]/[[enStopwordRatio]].
    * `lower` stays the Spark builtin, so Unicode case semantics are Spark's. */
  private def stopStats(c: Column): Column = TextNativeUtil.stopTokenStats(lower(c))

  private def ratioOf(stats: Column, field: String): Column =
    when(stats.getField("n") === 0, 0.0)
      .otherwise(stats.getField(field) * lit(1.0) / stats.getField("n"))

  /** n-gram-free stopword-ratio language ID: returns `en`, `tr`, or `und`.
    * Same values as the HOF twin (codegen CSE collapses the repeated stats
    * references to one scan; the twin re-ran `split(lower(c))` ~20×/row —
    * plans/r07/q_lang_id_before.txt). */
  def langId(c: Column): Column = {
    val st = stopStats(c)
    val en = ratioOf(st, "en")
    val tr = ratioOf(st, "tr")
    when(en >= tr && en > 0.03, "en").when(tr > en && tr > 0.03, "tr").otherwise("und")
  }

  /** English stopword ratio (exposed for quality scoring). */
  def enStopwordRatio(c: Column): Column = ratioOf(stopStats(c), "en")

  /** Punctuation character ratio — native `\p{P}` code-point scan
    * ([[TextNativeUtil.punctCount]]). */
  def punctRatio(c: Column): Column =
    when(length(c) === 0, 0.0)
      .otherwise(TextNativeUtil.punctCountCol(c) * lit(1.0) / length(c))

  /** Mean token length. */
  def meanTokenLen(c: Column): Column = {
    val toks = tokens(c)
    when(size(toks) === 0, 0.0)
      .otherwise(aggregate(toks, lit(0L), (a, t) => a + length(t)) * lit(1.0) / size(toks))
  }

  /** Composite document-quality score in [0,1]: length sweet spot, low
    * punctuation noise, sane mean token length, some stopwords (C4-style
    * heuristics re-expressed as columns). */
  def qualityScore(c: Column): Column = {
    val lenScore = least(length(c) / lit(500.0), lit(1.0))
    val punctScore = greatest(lit(1.0) - punctRatio(c) * 5.0, lit(0.0))
    val mtl = meanTokenLen(c)
    val tokScore = when(mtl >= 3 && mtl <= 10, 1.0).otherwise(0.5)
    val stopScore = least(enStopwordRatio(c) * 10.0, lit(1.0))
    round(lenScore * 0.3 + punctScore * 0.3 + tokScore * 0.2 + stopScore * 0.2, 6)
  }

  /** Rolling-hash fingerprint of the token sequence: order-aware,
    * whitespace-insensitive document identity. Chained `xxhash64(acc, tok)`
    * instead of a polynomial hash — same collision behavior, and no Long
    * overflow under ANSI mode. */
  def rollingFingerprint(c: Column): Column =
    aggregate(tokens(c), lit(1469598103934665603L), (acc, t) => xxhash64(acc, t))

  /** Word n-gram shingles — native kernel; see
    * [[WordShinglesUtil.wordShingles]]. */
  def shingles(c: Column, n: Int): Column =
    WordShinglesUtil.wordShingles(c, n)
}
