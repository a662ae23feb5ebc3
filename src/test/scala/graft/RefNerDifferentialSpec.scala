package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.TextFunctions
import graft.operators.NerOutputs

/** Differential test of the NER output surface (E1–E4) against the EXECUTED
  * reference helpers: `tools/gen_ref_ner_fixture.py` ran the reference's
  * whitespace_tokens_with_offsets / spans_to_bio / aggregate_entities /
  * join_entities_flat (extracted via `ast` — the module's torch import is
  * absent in the sandbox; the helpers are pure stdlib) on 500 seeded fuzz
  * cases and recorded every output. The engine must reproduce:
  *  - E1: the (token, start, end) triples of the Catalyst
  *    [[TextFunctions.tokensWithOffsets]] column, evaluated through Spark;
  *  - E2: BIO tags from [[NerOutputs.spansToBio]] (char spans mapped to
  *    token indices by the reference's any-overlap rule — partial-token
  *    char boundaries included);
  *  - E3: entity records from [[NerOutputs.aggregateEntities]] (text slice,
  *    char offsets) for boundary-snapped spans;
  *  - E4: the first-appearance-ordered `TYPE=text | …` flat join.
  */
class RefNerDifferentialSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  val fixture = Paths.get("src/test/resources/ref_ner.json")

  private case class Span(label: String, start: Int, end: Int, snapped: Boolean)
  private case class Case(text: String, spans: Seq[Span], tokens: Seq[String],
                          offsets: Seq[(Int, Int)], tags: Seq[String],
                          entities: Seq[(String, String, Int, Int)], flat: String)

  private lazy val cases: Seq[Case] = {
    val m = new com.fasterxml.jackson.databind.ObjectMapper()
    val root = m.readTree(Files.readAllBytes(fixture))
    (0 until root.size()).map { i =>
      val c = root.get(i)
      def strs(f: String) = (0 until c.get(f).size()).map(c.get(f).get(_).asText())
      Case(
        c.get("text").asText(),
        (0 until c.get("spans").size()).map { k =>
          val s = c.get("spans").get(k)
          Span(s.get("entity_group").asText(), s.get("start").asInt(),
            s.get("end").asInt(), s.get("snapped").asBoolean())
        },
        strs("tokens"),
        (0 until c.get("offsets").size()).map { k =>
          val o = c.get("offsets").get(k)
          (o.get(0).asInt(), o.get(1).asInt())
        },
        strs("tags"),
        (0 until c.get("entities").size()).map { k =>
          val e = c.get("entities").get(k)
          (e.get("type").asText(), e.get("text").asText(),
            e.get("start").asInt(), e.get("end").asInt())
        },
        c.get("flat").asText())
    }
  }

  test("E1: tokensWithOffsets column equals the executed reference tokenizer") {
    assert(Files.exists(fixture), "regenerate with tools/gen_ref_ner_fixture.py")
    val got = cases.map(_.text).zipWithIndex.toDF("text", "id")
      .select(col("id"), TextFunctions.tokensWithOffsets(col("text")).as("t"))
      .as[(Int, Seq[(String, Int, Int)])].collect().toMap
    cases.zipWithIndex.foreach { case (c, i) =>
      val want = c.tokens.zip(c.offsets).map { case (t, (s, e)) => (t, s, e) }
      assert(got(i) == want, s"E1 drift on <${c.text}>")
    }
  }

  test("E2-E4: BIO projection, entity aggregation, flat join equal the executed reference") {
    assert(Files.exists(fixture), "regenerate with tools/gen_ref_ner_fixture.py")
    cases.foreach { c =>
      // char span → token span by the reference's any-overlap rule
      val tokenSpans = c.spans.sortBy(_.start).map { sp =>
        val idxs = c.offsets.zipWithIndex.collect {
          case ((ts, te), k) if ts < sp.end && te > sp.start => k
        }
        (sp, idxs.head, idxs.last + 1)
      }
      val tags = NerOutputs.spansToBio(c.tokens.length,
        tokenSpans.map { case (sp, s, e) => (sp.label, s, e) })
      assert(tags.toSeq == c.tags, s"E2 drift on <${c.text}> ${c.spans}")

      // E3: snapped spans slice to whole tokens — char offsets must agree
      val ents = NerOutputs.aggregateEntities(c.tokens.toArray,
        tokenSpans.map { case (sp, s, e) => (sp.label, s, e) })
      assert(ents.length == c.entities.length,
        s"E3 entity count drift on <${c.text}>: ${ents.length} vs ${c.entities.length}")
      ents.zip(c.spans.sortBy(_.start)).zip(c.entities).foreach {
        case ((got, sp), want) if sp.snapped =>
          assert((got.entity_type, got.text, got.start, got.end) == want,
            s"E3 drift on <${c.text}> $sp")
        case ((got, sp), want) => // nudged span: type still agrees
          assert(got.entity_type == want._1, s"E3 type drift on <${c.text}> $sp")
      }

      // E4: flat join ordering — exact for all-snapped cases
      if (c.spans.forall(_.snapped)) {
        assert(NerOutputs.joinEntitiesFlat(ents) == c.flat,
          s"E4 drift on <${c.text}>")
      }
    }
  }
}
