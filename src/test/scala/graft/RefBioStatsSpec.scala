package graft

import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite

import graft.sources.Bio

/** Distribution differential against the EXECUTED reference BIO generators:
  * `tools/gen_ref_bio_stats.py` ran the reference A2E and F2J synthesizers
  * for 20,000 samples each and recorded per-type presence rates, the
  * street-family mix, admin order, numeric co-occurrence, and mean token
  * length. The engine's generator is a counter-hash-RNG reimplementation, so
  * SEQUENCES cannot match — fidelity is judged on rates: each must sit
  * within a two-sample binomial tolerance (4σ + 1pp slack; both corpora are
  * n=20,000, so σ ≤ 0.5pp per rate). This checks the generator against the
  * reference's actual behavior, not just its config constants.
  */
class RefBioStatsSpec extends AnyFunSuite {

  val fixture = Paths.get("src/test/resources/ref_bio_stats.json")
  val N = 20000

  private def rates(samples: Seq[graft.sources.BioSample]): Map[String, Double] = {
    val n = samples.length.toDouble
    def has(tg: Array[String], t: String) = tg.contains(s"B-$t")
    def first(tg: Array[String], t: String) = tg.indexOf(s"B-$t")
    val types = Bio.EntityTypes
    val m = scala.collection.mutable.Map[String, Double]()
    types.foreach { t =>
      m(s"p_${t.toLowerCase}") = samples.count(s => has(s.tags, t)) / n
    }
    m("p_cad_and_sk") = samples.count(s => has(s.tags, "CADDE") && has(s.tags, "SOKAK")) / n
    m("p_cad_only") = samples.count(s => has(s.tags, "CADDE") && !has(s.tags, "SOKAK")) / n
    m("p_sk_only") = samples.count(s => has(s.tags, "SOKAK") && !has(s.tags, "CADDE")) / n
    m("p_district_first") = samples.count { s =>
      val (i, p) = (first(s.tags, "ILCE"), first(s.tags, "IL"))
      i >= 0 && p >= 0 && i < p
    } / n
    m("p_province_first") = samples.count { s =>
      val (i, p) = (first(s.tags, "ILCE"), first(s.tags, "IL"))
      i >= 0 && p >= 0 && p < i
    } / n
    m("p_bina_and_daire") = samples.count(s =>
      has(s.tags, "BINA_NO") && has(s.tags, "DAIRE_NO")) / n
    m("avg_tokens") = samples.map(_.tokens.length).sum / n
    m.toMap
  }

  private def check(group: String, ours: Map[String, Double],
                    ref: com.fasterxml.jackson.databind.JsonNode): Unit = {
    val nRef = ref.get("n").asDouble()
    var checked = 0
    ref.fieldNames().forEachRemaining { k =>
      if (k != "n" && k != "avg_tokens") {
        val pr = ref.get(k).asDouble()
        val po = ours.getOrElse(k, Double.NaN)
        val p = (pr + po) / 2
        val tol = 4 * math.sqrt(math.max(p * (1 - p), 1e-6) * (1 / nRef + 1.0 / N)) + 0.01
        assert(math.abs(pr - po) <= tol,
          f"$group.$k: engine $po%.4f vs executed reference $pr%.4f (tol $tol%.4f)")
        checked += 1
      }
    }
    // token-length means track loosely (vocabularies differ by design; the
    // shape families must still land in the same regime)
    val ar = ref.get("avg_tokens").asDouble()
    val ao = ours("avg_tokens")
    assert(math.abs(ar - ao) <= 3.0, f"$group.avg_tokens: $ao%.2f vs $ar%.2f")
    info(f"$group: $checked rates within tolerance; avg_tokens $ao%.2f vs $ar%.2f")
  }

  test("A2E + F2J rate parity with the executed reference generators") {
    assert(Files.exists(fixture), "regenerate with tools/gen_ref_bio_stats.py")
    val root = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(Files.readAllBytes(fixture))
    val a2e = (0 until N).map(i => Bio.sampleOf(42L, i.toLong))
    val f2j = (0 until N).map(i => Bio.sampleF2J(42L, i.toLong))
    check("a2e", rates(a2e), root.get("a2e"))
    check("f2j", rates(f2j), root.get("f2j"))
  }
}
