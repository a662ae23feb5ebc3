package graft

import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.StaticParser

/** Differential test of `suggest()` against the EXECUTED reference helper
  * (test_static_parser.py:63-71) on 300 seeded cases whose key pools are
  * real PTT neighbourhood names: exact, truncated, typo'd, first-token and
  * unrelated targets. Top-5 lists must match VERBATIM — including tie
  * order, which pins the reference's stable-sort semantics (ties keep the
  * caller's key order, they are NOT re-sorted alphabetically).
  */
class RefSuggestDifferentialSpec extends AnyFunSuite {

  val fixture = Paths.get("src/test/resources/ref_suggest.json.gz")

  test("300-case suggest differential vs the executed reference helper") {
    assert(Files.exists(fixture), "regenerate with tools/gen_ref_suggest_fixture.py")
    val m = new com.fasterxml.jackson.databind.ObjectMapper()
    val root = m.readTree(new java.util.zip.GZIPInputStream(Files.newInputStream(fixture)))
    var bad = 0
    (0 until root.size()).foreach { i =>
      val c = root.get(i)
      def strs(f: String) = (0 until c.get(f).size()).map(c.get(f).get(_).asText())
      val got = StaticParser.suggest(strs("keys"), c.get("target").asText())
      val want = strs("top")
      if (got != want) {
        bad += 1
        if (bad <= 5) info(s"DRIFT target=<${c.get("target").asText()}> got=$got want=$want")
      }
    }
    info(s"$bad / ${root.size()} divergent")
    assert(bad == 0, s"$bad of ${root.size()} suggest cases diverge from the executed reference")
  }
}
