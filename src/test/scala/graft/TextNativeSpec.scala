package graft

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.StringType
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.{TextFunctions, TextNativeUtil}
import graft.operators.Dedup

/** Equality property tests pinning the native one-scan text expressions to
  * their interpreted Column-twin witnesses (round-7 optimization: the bench
  * text queries ran interpreted HOF chains — see OPTIMIZATION_r07.md). Any
  * divergence on any input is a correctness bug: the DuckDB oracles for
  * q_lang_id/q_quality/q_token_count/q_dedup_bow hash the twin semantics. */
class TextNativeSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  val sfDir = "/root/testdata/sf0.001"
  lazy val docs = spark.read.parquet(s"$sfDir/documents.parquet").persist()

  /** Adversarial fuzz strings: every regex-\s char, NON-\s Unicode whitespace
    * (U+00A0, U+2028 — Java \s must NOT split there), Turkish dotted İ (whose
    * lowercase is 2 chars), supplementary code points, Unicode punctuation
    * from every P subcategory, empties, runs. Deterministic seed. */
  def fuzz: Seq[String] = {
    val pool = Array(
      " ", "\t", "\n", "\u000B", "\f", "\r", " ", " ",
      "a", "B", "z", "0", "9", "ç", "ğ", "ş", "İ", "ı", "é",
      ".", ",", ";", ":", "-", "_", "(", ")", "«", "»", "“", "”", "‿", "‽",
      "😀", "𝐀", "the", "of", "ve", "mah", "and", "no")
    val rnd = new scala.util.Random(4207)
    (0 until 600).map { _ =>
      val n = rnd.nextInt(40)
      (0 until n).map(_ => pool(rnd.nextInt(pool.length))).mkString
    } ++ Seq("", " ", "\u000B\u000B", "the of and", "ve bu da", null)
  }

  def assertCols(in: Seq[String], a: org.apache.spark.sql.Column,
                 b: org.apache.spark.sql.Column, what: String): Unit = {
    val bad = in.toDF("t").select(col("t"), a.as("x"), b.as("y"))
      .filter(!(col("x") <=> col("y"))).collect()
    assert(bad.isEmpty,
      s"$what diverges on ${bad.length} inputs, e.g. ${bad.take(3).mkString(" | ")}")
  }

  test("native tokenCount == HOF twin (corpus + fuzz)") {
    val c = col("t")
    assertCols(fuzz, TextFunctions.tokenCount(c), Witnesses.tokenCountColumns(c), "tokenCount")
    val bad = docs.select(TextFunctions.tokenCount(col("text")).as("x"),
      Witnesses.tokenCountColumns(col("text")).as("y"))
      .filter(!(col("x") <=> col("y"))).count()
    assert(bad == 0)
  }

  test("native subwordCount == regexp twin (corpus + fuzz)") {
    val c = col("t")
    assertCols(fuzz, TextFunctions.subwordCount(c), Witnesses.subwordCountColumns(c), "subwordCount")
    val bad = docs.select(TextFunctions.subwordCount(col("text")).as("x"),
      Witnesses.subwordCountColumns(col("text")).as("y"))
      .filter(!(col("x") <=> col("y"))).count()
    assert(bad == 0)
  }

  test("native langId == HOF twin (corpus + fuzz)") {
    val c = col("t")
    assertCols(fuzz, TextFunctions.langId(c), Witnesses.langIdColumns(c), "langId")
    val bad = docs.select(TextFunctions.langId(col("text")).as("x"),
      Witnesses.langIdColumns(col("text")).as("y"))
      .filter(!(col("x") <=> col("y"))).count()
    assert(bad == 0)
  }

  test("native stopword/punct ratios == twins (corpus + fuzz)") {
    val c = col("t")
    assertCols(fuzz, TextFunctions.enStopwordRatio(c),
      Witnesses.enStopwordRatioColumns(c), "enStopwordRatio")
    assertCols(fuzz, TextFunctions.punctRatio(c),
      Witnesses.punctRatioColumns(c), "punctRatio")
    val bad = docs.select(
      TextFunctions.enStopwordRatio(col("text")).as("x1"),
      Witnesses.enStopwordRatioColumns(col("text")).as("y1"),
      TextFunctions.punctRatio(col("text")).as("x2"),
      Witnesses.punctRatioColumns(col("text")).as("y2"))
      .filter(!(col("x1") <=> col("y1")) || !(col("x2") <=> col("y2"))).count()
    assert(bad == 0)
  }

  test("native bow key == array_sort(array_distinct(tokens)) twin (corpus + fuzz)") {
    val c = col("t")
    val twin = array_join(array_sort(array_distinct(TextFunctions.tokens(c))), " ")
    assertCols(fuzz, TextNativeUtil.bowKeyCol(c), twin, "bowKey")
    val twinD = array_join(array_sort(array_distinct(TextFunctions.tokens(col("text")))), " ")
    val bad = docs.select(TextNativeUtil.bowKeyCol(col("text")).as("x"), twinD.as("y"))
      .filter(!(col("x") <=> col("y"))).count()
    assert(bad == 0)
  }

  test("native canon signature == filter/rlike twin (pages corpus + fuzz)") {
    val c = col("t")
    assertCols(fuzz, TextNativeUtil.canonSigCol(c),
      Witnesses.canonColumns(c), "canonSig")
    // the real hot path: block-normalized page extracts
    val pages = graft.operators.Linkage.extract(
      graft.sources.Pages.synthesize(spark, 1800L).toDF())
      .withColumn("norm", graft.operators.Blocking.blockNorm(col("extracted")))
    val bad = pages.select(TextNativeUtil.canonSigCol(col("norm")).as("x"),
      Witnesses.canonColumns(col("norm")).as("y"))
      .filter(!(col("x") <=> col("y"))).count()
    assert(bad == 0)
  }

  test("block-key kernel == Column-chain twin in both families (pages + edge cases, codegen and interpreted)") {
    val norms = graft.operators.Linkage.prepare(
      graft.sources.Pages.synthesize(spark, 600L).toDF()).select("norm").as[String].collect()
    val edges = Seq(
      "ataturk mah gazi sk no 5 konak izmir",       // no postcode
      "gazi sk no 5 355101 izmir",                  // 6-digit run only
      "gazi sk no 5 355101 izmir 35510",            // 6-digit run, then a postcode
      "sk 12 konak 35210",                          // sk as the first token
      "ataturk cad 5 gazi sk 35210",                // cad before sk
      "gazi sk 3 ataturk cad 35210",                // sk before cad
      "ataturk mah  sk 35210",                      // empty token before sk
      "1445 sk no 3 35210", "1445 sk no 3",         // numeric street
      "3gazi sk 35210", "_x mah 35210", "ğazi sk",  // token not led by an a-z letter
      "cad", "mah", "35210", "a35210b sk", "gazi sk ", "",
      null)
    val all = norms.toSeq ++ edges
    val df = spark.sparkContext.parallelize(all, 2).toDF("norm")
    for (ph <- Seq("soundex", "metaphone")) {
      val out = df.select(graft.operators.Blocking.blockKey(col("norm"), ph).as("k"),
        Witnesses.blockKeyColumns(col("norm"), ph).as("w"))
      val plan = out.queryExecution.executedPlan.toString
      assert(plan.contains("*(1) Project") &&
        plan.contains(s"static_invoke(graft.operators.Blocking.${ph}Key("), plan)
      val rows = out.as[(String, String)].collect().toSeq
      assert(rows.length == all.length)
      all.lazyZip(rows).foreach { case (in, (k, w)) =>
        // the twin's "_" (no postcode, no phonetic key) is the kernel's ""
        assert(k == w || (w == "_" && k == ""), s"$ph: kernel $k vs twin $w on: $in")
        val lit = Bridge.column(Literal.create(in, StringType))
        val v = Bridge.expression(graft.operators.Blocking.blockKey(lit, ph))
          .eval(InternalRow.empty)
        assert(v.toString == k, s"$ph: interpreted $v vs codegen $k on: $in")
      }
      assert(rows.count(_._2 == "_") >= 2, s"$ph: the empty-key edge is not exercised")
    }
  }

  test("window-min dedup == join formulation (exact + bow, corpus with planted dups)") {
    val planted = docs.select(col("doc_id"), col("text"))
      .union(docs.filter(col("doc_id") < 10)
        .select(col("doc_id") + 100000L, col("text")))
    // bow: new single-window native-key operator vs the old join witness
    val a = Dedup.bagOfWords(planted, "doc_id", "text").orderBy("doc_id")
    val b = Witnesses.bagOfWordsColumns(planted, "doc_id", "text").orderBy("doc_id")
    assert(a.collect().toSeq == b.collect().toSeq)
    // exact: window form vs the join form it replaced (inlined here)
    val withH = planted.select(col("doc_id"), md5(col("text")).as("content_hash"))
    val reps = withH.groupBy("content_hash").agg(min(col("doc_id")).as("rep_id"))
    val oldExact = withH.join(reps, "content_hash")
      .select(col("doc_id"), col("content_hash"), col("rep_id")).orderBy("doc_id")
    val newExact = Dedup.exact(planted, "doc_id", "text").orderBy("doc_id")
    assert(newExact.collect().toSeq == oldExact.collect().toSeq)
  }
}
