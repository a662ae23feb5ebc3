package perfbench

/** Output checks recomputed in plain Scala, with no Spark operator. */
object Truth {

  /** Word 3-grams over whitespace tokens, as the dedup operators define
    * them: no shingles when a text has fewer than three tokens. */
  def shingles(text: String, n: Int = 3): Set[String] = {
    val toks = text.split("\\s+").filter(_.nonEmpty)
    if (toks.length < n) Set.empty
    else toks.sliding(n).map(_.mkString(" ")).toSet
  }

  def jaccard(a: String, b: String): Double = {
    val (x, y) = (shingles(a), shingles(b))
    if (x.isEmpty && y.isEmpty) 1.0
    else x.intersect(y).size.toDouble / x.union(y).size
  }

  def hamming(a: Long, b: Long): Int = java.lang.Long.bitCount(a ^ b)

  /** Pairwise precision/recall/F1 of a clustering against gold labels,
    * counted over unordered pairs of items. */
  final case class PairScore(tp: Double, predicted: Double, gold: Double) {
    def f1: Double = Stats.f1(tp, predicted, gold)
  }

  def pairScore(rows: Seq[(String, Long)]): PairScore = {
    def pairs(groups: Iterable[Int]) = groups.map(n => Stats.choose2(n)).sum
    // rows: (predicted cluster, gold cluster)
    PairScore(
      pairs(rows.groupBy(identity).values.map(_.size)),
      pairs(rows.groupBy(_._1).values.map(_.size)),
      pairs(rows.groupBy(_._2).values.map(_.size)))
  }
}
