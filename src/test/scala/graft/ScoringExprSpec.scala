package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.Witnesses.CandPair
import graft.operators.{Linkage, Scoring}
import graft.sources.Pages

/** Pins the scoring-expression path
  * ([[graft.operators.ScoringUtil.scorePairCol]]) to the typed mapPartitions
  * witness: same rows, same schema, on the real candidate pairs and on
  * null/empty edge canons (r7 optimization — the typed form paid object
  * ser/de per pair). */
class ScoringExprSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  test("expression scoring == typed kernel scoring on real candidate pairs") {
    val prep = Linkage.prepare(Pages.synthesize(spark, 1800L).toDF()).persist()
    val cand = Linkage.candidates(prep).persist()
    val viaExpr = Scoring.scoreDF(cand, 0.85).orderBy("url_a", "url_b").collect().toSeq
    val viaTyped = Witnesses.score(
      cand.select("block_key", "url_a", "url_b", "canon_a", "canon_b").as[CandPair], 0.85)
      .toDF().orderBy("url_a", "url_b").collect().toSeq
    assert(viaExpr.nonEmpty)
    assert(viaExpr == viaTyped)
    // schema parity: names, types, order
    val se = Scoring.scoreDF(cand, 0.85).schema
    val st = Witnesses.score(
      cand.select("block_key", "url_a", "url_b", "canon_a", "canon_b").as[CandPair], 0.85)
      .toDF().schema
    assert(se.fields.map(f => (f.name, f.dataType)).toSeq ==
      st.fields.map(f => (f.name, f.dataType)).toSeq)
    cand.unpersist(); prep.unpersist()
  }

  test("expression scoring handles null/empty canons like the kernel") {
    val edge = Seq(
      ("k", "a", "b", null.asInstanceOf[String], "x y"),
      ("k", "c", "d", "", ""),
      ("k", "e", "f", "1 2 3", null.asInstanceOf[String]),
      ("k", "g", "h", "ankara cad 12", "ankara cad 12"))
      .toDF("block_key", "url_a", "url_b", "canon_a", "canon_b")
    val viaExpr = Scoring.scoreDF(edge, 0.85).orderBy("url_a").collect().toSeq
    val viaTyped = Witnesses.score(edge.as[CandPair], 0.85)
      .toDF().orderBy("url_a").collect().toSeq
    assert(viaExpr == viaTyped)
  }
}
