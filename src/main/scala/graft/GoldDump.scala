package graft

import graft.operators.{GoldEval, NerOutputs}
import graft.sources.Gazetteer

/** Diagnostic main: per-type gold-corpus PRF of the rule extractor
  * (the q_gold_eval surface as a CLI — dev aid for extraction tuning).
  *
  * `GoldDump miss TYPE` lists the false negatives and false positives for
  * one entity type under the same leave-one-corpus-out protocol — the raw
  * material for closing a recall tail (each line shows the gold span text
  * in its sentence context, so the missing evidence pattern is readable).
  * `GoldDump sent NEEDLE` drills into the gold sentences containing NEEDLE;
  * `GoldDump spans SENTENCE...` prints the extracted spans for ad-hoc
  * sentences under corpus 0's held-out index.
  *
  * Usage: `sbt "runMain graft.GoldDump spans '16 eylul mah inkilap cad 3'"`
  */
object GoldDump {
  def main(args: Array[String]): Unit = {
    if (args.length >= 2 && args(0) == "miss") { missReport(args(1)); return }
    if (args.length >= 2 && args(0) == "sent") { sentReport(args.drop(1).mkString(" ")); return }
    if (args.length >= 2 && args(0) == "spans") { spansReport(args.drop(1)); return }
    val spark = Sessions.local("graft-golddump", "8")
    GoldEval.evaluate(spark).orderBy("entity_type")
      .collect().foreach(r => println("GOLDPRF " + r.mkString(" | ")))
    GoldEval.evaluateByCorpus(spark)
      .collect().foreach(r => println("GOLDCORPUS " + r.mkString(" | ")))
    spark.stop()
  }

  private type Corpora = Seq[(String, Seq[(Long, Array[String], Array[String])])]

  private def corpora(): Corpora =
    GoldEval.DefaultPaths.zipWithIndex.map { case (p, i) => (p, GoldEval.readGold(p, i)) }

  /** Predicted spans of `canon` under the held-out index for `path`. */
  private def predictor(byCorpus: Corpora, path: String): Array[String] => Seq[(String, Int, Int)] = {
    val (rows, anchors) = GoldEval.minedFor(byCorpus, path)
    val idx = Gazetteer.buildIndex(rows)
    canon => NerOutputs.spans(canon, idx, tarifAnchors = anchors, aux = GoldEval.realIndex)
  }

  /** Driver-side FN/FP listing for one type (corpora are 3 tiny files). */
  private def missReport(tpe: String): Unit = {
    val byCorpus = corpora()
    var fn = 0; var fp = 0; var tp = 0
    byCorpus.foreach { case (path, sents) =>
      val predict = predictor(byCorpus, path)
      sents.foreach { case (sid, toks, tags) =>
        val canon = toks.map(GoldEval.canonToken)
        val pred = predict(canon).filter(_._1 == tpe).map { case (_, s, e) => (s, e) }.toSet
        val gold = GoldEval.tagsToSpans(tags)
          .filter(_._1 == tpe).map { case (_, s, e) => (s, e) }.toSet
        def show(kind: String, s: Int, e: Int): Unit =
          println(f"$kind $sid%7d [${canon.slice(s, e).mkString(" ")}]  ctx: " +
            canon.slice(math.max(0, s - 3), math.min(toks.length, e + 3)).mkString(" "))
        (gold -- pred).foreach { case (s, e) => fn += 1; show("MISS ", s, e) }
        (pred -- gold).foreach { case (s, e) => fp += 1; show("FALSE", s, e) }
        tp += (gold & pred).size
      }
    }
    println(s"SUMMARY $tpe tp=$tp fn=$fn fp=$fp")
  }

  /** Full pred-vs-gold span listing for sentences whose canonical text
    * contains `needle` — the single-sentence drill-down behind a `miss`
    * line. */
  private def sentReport(needle: String): Unit = {
    val byCorpus = corpora()
    byCorpus.foreach { case (path, sents) =>
      // filter FIRST: mining + index build are the expensive part and most
      // corpora contain no match for a single-sentence drill-down
      val hits = sents.filter { case (_, toks, _) =>
        toks.map(GoldEval.canonToken).mkString(" ").contains(needle) }
      if (hits.nonEmpty) {
        val predict = predictor(byCorpus, path)
        hits.foreach { case (sid, toks, tags) =>
          val canon = toks.map(GoldEval.canonToken)
          println(s"SENT $sid: ${canon.mkString(" ")}")
          GoldEval.tagsToSpans(tags).sortBy(_._2).foreach { case (t, s, e) =>
            println(s"  GOLD $t [${canon.slice(s, e).mkString(" ")}]") }
          predict(canon).sortBy(_._2).foreach { case (t, s, e) =>
            println(s"  PRED $t [${canon.slice(s, e).mkString(" ")}]") }
        }
      }
    }
  }

  /** Extracted spans for ad-hoc sentences (not in any corpus) under the
    * index that holds corpus 0 out. */
  private def spansReport(sentences: Seq[String]): Unit = {
    val byCorpus = corpora()
    val predict = predictor(byCorpus, byCorpus.head._1)
    sentences.foreach { s =>
      val toks = s.split(" ")
      println(s"<$s> -> " + predict(toks.map(GoldEval.canonToken)).map { case (t, a, b) =>
        s"$t=[${toks.slice(a, b).mkString(" ")}]" }.mkString(" | "))
    }
  }
}
