package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.{DoubleType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** A scored pair; `is_match` is the thresholded decision. */
case class ScoredPair(block_key: String, url_a: String, url_b: String,
                      jw: Double, lev_sim: Double, jaccard: Double, num_sim: Double,
                      score: Double, is_match: Boolean)

/** Batched pairwise scoring kernel (north-rule operator; the reference's
  * closest analogue is the batched `process_batch` kernel shape of its NER CLI,
  * ner_address_parser.py:115-128, per SURVEY.md §3.2).
  *
  * Runs as one native projection ([[ScoringUtil.scorePairCol]]) over the
  * candidate pairs: for each pair it computes Jaro-Winkler + Levenshtein
  * similarity on the token-sorted canonical string (sorting makes the
  * metrics order-invariant — surface realizations reorder admin segments
  * freely) and token-set Jaccard on the raw token sets, then a convex
  * combination. Pure CPU per row, no per-row allocation beyond the token
  * arrays, no shuffle: scoring scales linearly with candidate pairs and
  * parallelizes perfectly.
  *
  * Jaro-Winkler is implemented as a plain Scala function (not a UDF) — it is
  * not a Spark built-in; Levenshtein is in-kernel too so the three metrics
  * share one tokenization pass.
  */
object Scoring {

  /** Standard Jaro similarity. */
  def jaro(s1: String, s2: String): Double = {
    if (s1 == s2) return 1.0
    val l1 = s1.length; val l2 = s2.length
    if (l1 == 0 || l2 == 0) return 0.0
    val matchDist = math.max(math.max(l1, l2) / 2 - 1, 0)
    val m1 = new Array[Boolean](l1)
    val m2 = new Array[Boolean](l2)
    var matches = 0
    var i = 0
    while (i < l1) {
      val lo = math.max(0, i - matchDist)
      val hi = math.min(l2 - 1, i + matchDist)
      var j = lo
      var done = false
      while (!done && j <= hi) {
        if (!m2(j) && s1.charAt(i) == s2.charAt(j)) {
          m1(i) = true; m2(j) = true; matches += 1; done = true
        }
        j += 1
      }
      i += 1
    }
    if (matches == 0) return 0.0
    var k = 0
    var transpositions = 0
    i = 0
    while (i < l1) {
      if (m1(i)) {
        while (!m2(k)) k += 1
        if (s1.charAt(i) != s2.charAt(k)) transpositions += 1
        k += 1
      }
      i += 1
    }
    val m = matches.toDouble
    // transpositions = floor(mismatched-position count / 2) — the convention
    // used by Apache Commons Text and DuckDB (not the fractional-half variant)
    (m / l1 + m / l2 + (m - transpositions / 2) / m) / 3.0
  }

  /** Jaro-Winkler with the standard 0.1 prefix scale, max prefix 4,
    * boost threshold 0.7. */
  def jaroWinkler(s1: String, s2: String): Double = {
    val j = jaro(s1, s2)
    if (j <= 0.7) return j
    var p = 0
    val maxP = math.min(4, math.min(s1.length, s2.length))
    while (p < maxP && s1.charAt(p) == s2.charAt(p)) p += 1
    j + p * 0.1 * (1.0 - j)
  }

  def jaroWinkler(s1: UTF8String, s2: UTF8String): Double = jaroWinkler(s1.toString, s2.toString)

  /** Levenshtein distance, two-row DP. */
  def levenshtein(s1: String, s2: String): Int = {
    if (s1 == s2) return 0
    val l1 = s1.length; val l2 = s2.length
    if (l1 == 0) return l2
    if (l2 == 0) return l1
    var prev = Array.tabulate(l2 + 1)(identity)
    var cur = new Array[Int](l2 + 1)
    var i = 1
    while (i <= l1) {
      cur(0) = i
      var j = 1
      while (j <= l2) {
        val cost = if (s1.charAt(i - 1) == s2.charAt(j - 1)) 0 else 1
        cur(j) = math.min(math.min(cur(j - 1) + 1, prev(j) + 1), prev(j - 1) + cost)
        j += 1
      }
      val t = prev; prev = cur; cur = t
      i += 1
    }
    prev(l2)
  }

  def levSim(s1: String, s2: String): Double = {
    val ml = math.max(s1.length, s2.length)
    if (ml == 0) 1.0 else 1.0 - levenshtein(s1, s2).toDouble / ml
  }

  /** Token-set Jaccard over whitespace tokens. */
  def tokenJaccard(a: Array[String], b: Array[String]): Double = {
    if (a.isEmpty && b.isEmpty) return 1.0
    val sa = a.toSet
    val sb = b.toSet
    val inter = sa.intersect(sb).size
    val union = sa.size + sb.size - inter
    if (union == 0) 1.0 else inter.toDouble / union
  }

  /** Score a pair of pre-canonicalized strings (null-safe: external inputs
    * may carry null text through extraction). */
  def scoreCanon(canonA0: String, canonB0: String): (Double, Double, Double, Double, Double) = {
    val canonA = if (canonA0 == null) "" else canonA0
    val canonB = if (canonB0 == null) "" else canonB0
    val ta = if (canonA.isEmpty) Array.empty[String] else canonA.split(" ")
    val tb = if (canonB.isEmpty) Array.empty[String] else canonB.split(" ")
    val jw = jaroWinkler(canonA, canonB)
    val lv = levSim(canonA, canonB)
    val jc = tokenJaccard(ta, tb)
    // Numeric tokens (building no, postcode, numeric street names) are strong
    // identity evidence: "no 12" vs "no 47" at the same street is a different
    // entity even though the character metrics barely move. Weighting their
    // agreement separately is what keeps precision high inside dense blocks.
    val ns = tokenJaccard(ta.filter(_.forall(_.isDigit)), tb.filter(_.forall(_.isDigit)))
    val score = 0.3 * jw + 0.2 * lv + 0.2 * jc + 0.3 * ns
    (jw, lv, jc, ns, score)
  }

  /** Kernel adapter for the Catalyst call: one InternalRow of the five
    * metric doubles, null canons mapped to "" exactly as [[scoreCanon]]. */
  def scoreRow(a: UTF8String, b: UTF8String): InternalRow = {
    val (jw, lv, jc, ns, s) =
      scoreCanon(if (a == null) null else a.toString, if (b == null) null else b.toString)
    new GenericInternalRow(Array[Any](jw, lv, jc, ns, s))
  }

  /** Scoring as a PROJECTION: the same [[scoreCanon]] kernel called from
    * Catalyst ([[ScoringUtil.scorePairCol]]) instead of a Dataset
    * mapPartitions. The typed form paid DeserializeToObject →
    * case-class allocation → SerializeFromObject per pair — ~half the
    * measured scoring stage at sf0.1 (OPTIMIZATION_r07.md); the projection
    * keeps the stage codegen'd end to end and column-prunable. Output
    * schema and every value are identical to the typed form (the
    * call reaches scoreCanon itself; ScoringExprSpec pins row identity
    * against the typed form kept as its test-side witness). */
  def scoreDF(pairs: DataFrame, threshold: Double = 0.85): DataFrame = {
    // two-step projection: the struct is materialized ONCE and fields are
    // extracted from the attribute — CollapseProject keeps the split (the
    // child is non-cheap and referenced six times), so single evaluation is
    // structural, not a codegen-CSE accident
    pairs.select(col("block_key"), col("url_a"), col("url_b"),
        ScoringUtil.scorePairCol(col("canon_a"), col("canon_b")).as("__m"))
      .select(col("block_key"), col("url_a"), col("url_b"),
        col("__m.jw").as("jw"),
        col("__m.lev_sim").as("lev_sim"),
        col("__m.jaccard").as("jaccard"),
        col("__m.num_sim").as("num_sim"),
        col("__m.score").as("score"),
        (col("__m.score") >= threshold).as("is_match"))
  }
}

object ScoringUtil {
  /** struct<jw,lev_sim,jaccard,num_sim,score> of two canon strings through
    * the SAME [[Scoring.scoreCanon]] kernel, so values can never diverge
    * from the typed test-side witness. Null canons reach the kernel (which
    * maps them to ""), and the struct is never null. */
  def scorePairCol(a: Column, b: Column): Column =
    Bridge.staticCall(Scoring, "scoreRow", StructType(
        Seq("jw", "lev_sim", "jaccard", "num_sim", "score")
          .map(StructField(_, DoubleType, nullable = false))),
      Seq(a -> StringType, b -> StringType), propagateNull = false)

  /** Jaro-Winkler similarity of two strings (null in gives null out), the
    * scoring kernel's [[Scoring.jaroWinkler]]: one static call inside the
    * generated loop, where a ScalaUDF would box rows and block fusion. */
  def jaroWinklerCol(a: Column, b: Column): Column =
    Bridge.staticCall(Scoring, "jaroWinkler", DoubleType, Seq(a -> StringType, b -> StringType))
}
