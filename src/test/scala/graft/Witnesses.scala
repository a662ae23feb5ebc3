package graft

import org.apache.spark.sql.{Column, DataFrame, Dataset, Row}
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions.{EnStopwords, TrStopwords, tokens}
import graft.operators.{Scoring, ScoredPair}

/** The formulations the native expressions and operators replaced, kept as
  * independent equality witnesses: each spec pins a pipeline path to its
  * twin here value for value. Never called by a pipeline.
  *
  * Most are interpreted higher-order-function (HOF) Column chains that the
  * native one-scan expressions made redundant; `bagOfWordsColumns` is the
  * join formulation of `Dedup.bagOfWords`, `frequencyOrderedPrefixByString`
  * the string-keyed frequency pass of `Dedup.frequencyOrderedPrefix`, and
  * [[score]] is the typed `mapPartitions` form of `Scoring.scoreDF`. */
object Witnesses {

  // ----------------------------- TextFunctions ------------------------------

  /** Twin of `TextFunctions.tokenCount`. */
  def tokenCountColumns(c: Column): Column = size(tokens(c))

  /** Twin of `TextFunctions.subwordCount`. */
  def subwordCountColumns(c: Column): Column =
    regexp_count(c, lit("[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"))

  /** Stopword ratio of the lowered tokens: the shared body of
    * [[langIdColumns]]/[[enStopwordRatioColumns]]. */
  private def stopRatioColumns(c: Column, words: Seq[String]): Column = {
    val toks = tokens(lower(c))
    val stopList = array(words.map(lit): _*)
    when(size(toks) === 0, 0.0)
      .otherwise(size(filter(toks, t => array_contains(stopList, t))) * lit(1.0) / size(toks))
  }

  /** Twin of `TextFunctions.langId`. */
  def langIdColumns(c: Column): Column = {
    val en = stopRatioColumns(c, EnStopwords)
    val tr = stopRatioColumns(c, TrStopwords)
    when(en >= tr && en > 0.03, "en").when(tr > en && tr > 0.03, "tr").otherwise("und")
  }

  /** Twin of `TextFunctions.enStopwordRatio`. */
  def enStopwordRatioColumns(c: Column): Column = stopRatioColumns(c, EnStopwords)

  /** Twin of `TextFunctions.punctRatio`. */
  def punctRatioColumns(c: Column): Column =
    when(length(c) === 0, 0.0)
      .otherwise(regexp_count(c, lit("\\p{P}")) * lit(1.0) / length(c))

  /** Twin of `TextFunctions.shingles`. */
  def shinglesColumns(c: Column, n: Int): Column = {
    val toks = tokens(c)
    when(size(toks) < n, array().cast("array<string>"))
      .otherwise(transform(sequence(lit(0), size(toks) - n),
        i => concat_ws(" ", slice(toks, i + 1, lit(n)))))
  }

  // -------------------------------- Linkage ---------------------------------

  /** Twin of the native `canon` column of `Linkage.prepare`. */
  def canonColumns(norm: Column): Column =
    array_join(array_sort(
      filter(split(norm, " "), t => t.rlike("[\\p{L}\\p{N}]"))), " ")

  // --------------------------------- Dedup ----------------------------------

  /** Twin of `Dedup.bagOfWords`: the join formulation, with the HOF bow key
    * (so it also witnesses `BowKeyExpr`). */
  def bagOfWordsColumns(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val key = md5(array_join(array_sort(array_distinct(tokens(col(textCol)))), " "))
    val withH = df.select(col(idCol), key.as("bow_hash"))
    val reps = withH.groupBy("bow_hash").agg(min(col(idCol)).as("rep_id"))
    withH.join(reps, "bow_hash").select(col(idCol), col("bow_hash"), col("rep_id"))
  }

  /** Twin of `Dedup.minhashSignature`: one interpreted `transform` traversal
    * per hash function, each re-hashing every shingle's bytes. */
  def minhashSignatureColumns(shingleCol: Column, numHashes: Int): Column = {
    val safe = when(size(shingleCol) === 0, array(lit(""))).otherwise(shingleCol)
    array((0 until numHashes).map { i =>
      array_min(transform(safe, s => hash(s, lit(i)).cast("long")))
    }: _*)
  }

  /** Twin of `Dedup.frequencyOrderedPrefix`: the string-keyed frequency
    * pass it replaced, counting `f` per distinct shingle string and joining
    * the counts back on the string. */
  def frequencyOrderedPrefixByString(sets: DataFrame, threshold: Double): DataFrame = {
    val exploded = sets.select(col("id"), col("nsh"), explode(col("sh")).as("shingle"))
    val freq = exploded.groupBy("shingle").agg(count(lit(1)).as("f"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("id").orderBy(col("f"), col("shingle"))
    exploded.join(freq, "shingle")
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= col("nsh") - ceil(col("nsh") * threshold) + 1)
      .select(col("shingle"), col("id"), col("nsh"), col("rk"))
  }

  /** Twin of `Dedup.cosine`. */
  def cosineColumns(a: Column, b: Column): Column = {
    def dot(x: Column, y: Column): Column =
      aggregate(zip_with(x, y, (u, v) => u * v), lit(0.0d), (acc, p) => acc + p)
    dot(a, b) / sqrt(dot(a, a)) / sqrt(dot(b, b))
  }

  /** Twin of `Dedup.hyperplaneSignature`. */
  def hyperplaneSignatureColumns(v: Column, planes: Int): Column =
    aggregate(
      sequence(lit(0), lit(planes - 1)), lit(0L),
      (acc, p) => {
        val proj = aggregate(
          zip_with(v, sequence(lit(0), size(v) - 1),
            (x, d) => x * when(hash(p, d).bitwiseAND(1) === 1, 1.0).otherwise(-1.0)),
          lit(0.0d), (a2, x) => a2 + x)
        acc.bitwiseOR(when(proj > 0, call_function("shiftleft", lit(1L), p)).otherwise(0L))
      })

  // ------------------------------- Similarity -------------------------------

  /** Twin of `Similarity.assignCells`: the literal-array HOF fold. The fold
    * was already shuffle-free (it replaced the round-3 crossJoin+Window
    * shape); the native expression removes its nCells×dim interpreted
    * lambda entries. */
  def assignCellsColumns(corpus: DataFrame, idCol: String, vecCol: String,
                         cents: Array[Row]): DataFrame = {
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.graftbridge.Bridge
    val vecType = corpus.schema(corpus.schema.fieldIndex(vecCol)).dataType
    val centArr = array(cents.zipWithIndex.map { case (r, i) =>
      struct(lit(i).as("cell"),
        Bridge.column(Literal.create(r.get(0), vecType)).as("cvec"))
    }: _*)
    val base = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("vec"))
    val scoredArr = transform(centArr,
      c => struct(graft.operators.Dedup.cosine(col("vec"), c.getField("cvec")).as("d"),
        c.getField("cell").as("cell")))
    // init d = -2.0 < any cosine, so the first real cell always wins once
    val best = aggregate(scoredArr,
      struct(lit(-2.0).as("d"), lit(-1).as("cell")),
      (acc, s) => when(s.getField("d") > acc.getField("d"), s).otherwise(acc))
    base.withColumn("cell", best.getField("cell"))
  }

  // -------------------------------- Scoring ---------------------------------

  /** One candidate pair entering the typed scorer. */
  case class CandPair(block_key: String, url_a: String, url_b: String,
                      canon_a: String, canon_b: String)

  /** Twin of `Scoring.scoreDF`: the typed `mapPartitions` form, running the
    * same `Scoring.scoreCanon` kernel. */
  def score(pairs: Dataset[CandPair], threshold: Double = 0.85): Dataset[ScoredPair] = {
    import pairs.sparkSession.implicits._
    pairs.mapPartitions(_.map { p =>
      val (jw, lv, jc, ns, s) = Scoring.scoreCanon(p.canon_a, p.canon_b)
      ScoredPair(p.block_key, p.url_a, p.url_b, jw, lv, jc, ns, s, s >= threshold)
    })
  }
}
