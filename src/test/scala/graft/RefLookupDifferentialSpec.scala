package graft

import java.nio.file.{Files, Paths}
import java.security.MessageDigest

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.Gazetteer

/** Differential test of the G5–G9 DataFrame operators against the EXECUTED
  * reference lookup API on its real data: `tools/gen_ref_lookup_fixture.py`
  * ran the reference `Turkey` tree (map.py) over the actual 73,305-row PTT
  * xlsx and recorded every query mode's output (large lists as count + md5 +
  * head/tail digests). The engine ingests the same raw rows through its own
  * [[Gazetteer.etl]] and must reproduce each answer exactly: all four
  * neighbourhoods_of restriction modes, the per-province district and
  * neighbourhood counts and districts_of lists for all 81 provinces, the full
  * duplicate-districts-across-provinces map, and the province list.
  */
class RefLookupDifferentialSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  val gazFixture = Paths.get("src/main/resources/graft/ref_gaz_raw.tsv.gz")
  val lookupFixture = Paths.get("src/test/resources/ref_lookup.json")

  private def md5Of(names: Seq[String]): String =
    MessageDigest.getInstance("MD5")
      .digest(names.sorted.mkString("\n").getBytes("UTF-8"))
      .map("%02x".format(_)).mkString

  /** The raw fixture rows ingested through the production ETL operator. */
  private def realGaz(): DataFrame = {
    val src = scala.io.Source.fromInputStream(
      new java.util.zip.GZIPInputStream(Files.newInputStream(gazFixture)), "UTF-8")
    val raw = try src.getLines().map { l =>
      val fs = l.split("\t", -1)
      (fs(0), fs(1), fs(2), "")
    }.toVector finally src.close()
    Gazetteer.etl(raw.toDF("province", "district", "neighbourhood", "postcode"))
  }

  // fixture JSON access: jackson ships with Spark
  private lazy val root = {
    val m = new com.fasterxml.jackson.databind.ObjectMapper()
    m.readTree(Files.readAllBytes(lookupFixture))
  }
  private def digestMatches(node: com.fasterxml.jackson.databind.JsonNode,
                            names: Seq[String], what: String): Unit = {
    assert(node.get("n").asInt() == names.length, s"$what: count")
    assert(node.get("md5").asText() == md5Of(names), s"$what: content hash")
  }

  test("G5-G9 on the real PTT gazetteer equal the executed reference lookup API") {
    assert(Files.exists(gazFixture) && Files.exists(lookupFixture),
      "fixtures not present; regenerate with tools/gen_ref_lookup_fixture.py")
    val gaz = realGaz().persist()

    // provinces + countrywide neighbourhoods (mode 4)
    digestMatches(root.get("provinces"),
      Gazetteer.provinces(gaz).as[String].collect().toSeq, "provinces")
    digestMatches(root.get("all_neighbourhoods"),
      Gazetteer.neighbourhoodsOf(gaz, None, None).as[String].collect().toSeq,
      "all neighbourhoods")

    // per-province counts, all 81 provinces in one pass
    val counts = Gazetteer.adminCounts(gaz)
      .as[(String, Long, Long)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    val dc = root.get("district_count"); val nc = root.get("neighbourhood_count")
    dc.fieldNames().forEachRemaining { p =>
      val (d, n) = counts.getOrElse(p, (-1L, -1L))
      assert(d == dc.get(p).asLong(), s"district_count($p)")
      assert(n == nc.get(p).asLong(), s"neighbourhood_count($p)")
    }
    assert(counts.size == dc.size(), "province set differs")

    // districts_of: each province's list has district_count distinct rows, sorted
    dc.fieldNames().forEachRemaining { p =>
      val ds = Gazetteer.districtsOf(gaz, p).as[String].collect().toSeq
      assert(ds.length == dc.get(p).asLong(), s"districts_of($p): count")
      assert(ds.distinct == ds && ds.sorted == ds, s"districts_of($p): distinct, sorted")
    }

    // duplicate districts across provinces: full map equality
    val dups = Gazetteer.duplicateDistrictsAcrossProvinces(gaz)
      .as[(String, Seq[String])].collect().toMap
    val refDups = root.get("duplicate_districts")
    assert(dups.size == refDups.size(), s"dup count ${dups.size} vs ${refDups.size()}")
    refDups.fieldNames().forEachRemaining { d =>
      val want = (0 until refDups.get(d).size()).map(refDups.get(d).get(_).asText())
      assert(dups.getOrElse(d, Nil) == want, s"duplicate_districts($d)")
    }

    // neighbourhoods_of: pair mode, province-only mode, district-only mode
    def run(p: Option[String], d: Option[String]): Seq[String] =
      Gazetteer.neighbourhoodsOf(gaz, p, d).as[String].collect().toSeq
    root.get("pairs").forEach { c =>
      digestMatches(c.get("neighbourhoods"),
        run(Some(c.get("province").asText()), Some(c.get("district").asText())),
        s"pair ${c.get("province").asText()}/${c.get("district").asText()}")
    }
    root.get("prov_only").forEach { c =>
      digestMatches(c.get("neighbourhoods"),
        run(Some(c.get("province").asText()), None),
        s"prov ${c.get("province").asText()}")
    }
    root.get("dist_only").forEach { c =>
      digestMatches(c.get("neighbourhoods"),
        run(None, Some(c.get("district").asText())),
        s"dist ${c.get("district").asText()}")
    }
    gaz.unpersist()
  }
}
