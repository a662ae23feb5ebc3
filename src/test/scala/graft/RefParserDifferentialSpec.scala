package graft

import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite

import graft.functions.TrText
import graft.operators.StaticParser
import graft.sources.{GazRow, Gazetteer}

/** Differential test against the RUNNING reference parser on its REAL data:
  * `tools/gen_ref_parse_fixture.py` executed the reference's
  * `StaticAddressParser` (static_parser.py) over the actual 73,305-row PTT
  * gazetteer (`turkiye_posta_kodlari.xlsx`) on 2,000 seeded fuzz addresses —
  * every template family: canonical order, Turkish title/lower casing,
  * keyword variants (mahallesi/Mh.), reversed order, missing levels,
  * mismatched hierarchies, noise prefixes, comma/postcode forms. The engine
  * must reproduce the reference's (province, district, neighbourhood) triple
  * byte-for-byte on ALL cases, including the None outcomes.
  *
  * This closes the loop the 6 hand-picked parse cases left open: the parser's
  * restriction semantics (P3 ranking, P4 hierarchy order, P6 first-province
  * rule) are exercised against the executed reference at scale, on the same
  * gazetteer rows the reference ships.
  */
class RefParserDifferentialSpec extends AnyFunSuite {

  val gazFixture = Paths.get("src/main/resources/graft/ref_gaz_raw.tsv.gz")
  val caseFixture = Paths.get("src/test/resources/ref_parse.json")

  test("2000-case differential vs the executed reference parser on the real PTT gazetteer") {
    assert(Files.exists(gazFixture) && Files.exists(caseFixture),
      "fixtures not present; regenerate with tools/gen_ref_parse_fixture.py")

    // the production loader mirrors the reference ETL (map.py:129-155): N10
    // normalize each level, drop standalone "mah" tokens from the
    // neighbourhood, skip incomplete rows, preserve xlsx row order
    // (first-province rule) — [[Gazetteer.rowsFromRawTsv]]
    val rows = Gazetteer.realRows
    assert(rows.length > 70000, s"gazetteer fixture too small: ${rows.length}")
    val idx = Gazetteer.buildIndex(rows)

    val root = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(Files.readAllBytes(caseFixture))
    def opt(n: com.fasterxml.jackson.databind.JsonNode): Option[String] =
      if (n.isNull) None else Some(n.asText())
    val cases = (0 until root.size()).map { i =>
      val c = root.get(i)
      (c.get("input").asText(), opt(c.get("province")),
        opt(c.get("district")), opt(c.get("neighbourhood")))
    }.toVector
    assert(cases.length == 2000, s"fixture parse found ${cases.length} cases")

    var bad = 0
    cases.foreach { case (in, ep, ed, en) =>
      val (p, d, n) = StaticParser.parseOne(in, idx)
      if ((p, d, n) != ((ep, ed, en))) {
        bad += 1
        if (bad <= 10) info(s"DRIFT <$in>: got ($p, $d, $n) want ($ep, $ed, $en)")
      }
    }
    info(s"$bad / ${cases.length} divergent")
    assert(bad == 0, s"$bad of ${cases.length} cases diverge from the executed reference parser")
  }
}
