package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.StaticParser
import graft.sources.Gazetteer

/** Parser cases ported from the reference's test/test_static_parser.py:15-23,
  * run against the synthesized gazetteer. Expected values are the
  * static-normalized forms (the reference compares normalized tree keys). */
class StaticParserSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  val cases: Seq[(String, String, String, String)] = Seq(
    ("Caferağa Mah., Kadıköy / İstanbul No:12 D:5", "istanbul", "kadikoy", "caferaga"),
    ("Etiler mahallesi Beşiktaş İstanbul sk. 14", "istanbul", "besiktas", "etiler"),
    ("Kızılay Çankaya / Ankara cd:5 sk:9", "ankara", "cankaya", "kizilay"),
    ("Acıbadem Mah Kadıköy İstanbul 3blok", "istanbul", "kadikoy", "acibadem"),
    ("Levent mah. Besiktas / Istanbul", "istanbul", "besiktas", "levent"),
    ("Etlik mh keçiören ankara no:10", "ankara", "kecioren", "etlik"),
  )

  lazy val idx = Gazetteer.buildIndex()

  test("kernel: 6 reference parser cases") {
    for ((in, p, d, n) <- cases) {
      val (gp, gd, gn) = StaticParser.parseOne(in, idx)
      assert(gp.contains(p) && gd.contains(d) && gn.contains(n),
        s"\n inp: $in\n got: ($gp, $gd, $gn)\n exp: ($p, $d, $n)")
    }
  }

  test("Dataset operator: parse adds province/district/neighbourhood columns") {
    val bIdx = StaticParser.broadcastIndex(spark)
    val df = cases.map(_._1).toDF("addr")
    val parsed = StaticParser.parse(df, "addr", bIdx)
    assert(parsed.columns.toSeq == Seq("addr", "province", "district", "neighbourhood"))
    val got = parsed.collect().map(r => (r.getString(1), r.getString(2), r.getString(3)))
    cases.zip(got).foreach { case ((in, p, d, n), (gp, gd, gn)) =>
      assert(gp == p && gd == d && gn == n, s"\n inp: $in\n got: ($gp, $gd, $gn)")
    }
  }

  test("best_match ranking: longest match wins, then earliest position") {
    // "16 eylul" (2 tokens) must beat single-token names; earliest wins ties.
    val index = Gazetteer.buildTokenIndex(Seq("16 eylul", "eylul", "inonu"))
    val toks = "x inonu 16 eylul y".split(" ")
    assert(StaticParser.bestMatch(toks, index, None).contains(("16 eylul", 2, 4)))
    // tie on length → earliest
    val toks2 = "inonu a eylul".split(" ")
    assert(StaticParser.bestMatch(toks2, index, None).contains(("inonu", 0, 1)))
  }

  test("hierarchy: province inferred from district when absent") {
    // District-only input: first province containing the district (row order).
    val (p, d, _) = StaticParser.parseOne("bornova kazimdirik sk 3", idx)
    assert(p.contains("izmir") && d.contains("bornova"))
  }

  test("restriction: neighbourhood outside (province,district) pair is rejected") {
    // 'etiler' exists only under istanbul/besiktas; with bornova/izmir context
    // the allowed set excludes it.
    val (p, d, n) = StaticParser.parseOne("etiler izmir bornova", idx)
    assert(p.contains("izmir") && d.contains("bornova") && n.isEmpty)
  }

  test("G2 ETL: raw gazetteer input normalizes to the synthesized rows") {
    import spark.implicits._
    // raw (un-normalized) input in the PTT table's shape
    val raw = Gazetteer.RawPools.flatMap { case (p, d, ns) =>
      ns.map(n => (p, d, n + " Mah", "35000")) // trailing standalone 'mah' stripped
    }.toDF("province", "district", "neighbourhood", "postcode")
    val out = Gazetteer.etl(raw)
    assert(out.count() == Gazetteer.rows.size)
    val got = out.select("province", "district", "neighbourhood")
      .as[(String, String, String)].collect().toSet
    assert(got == Gazetteer.rows.map(r => (r.province, r.district, r.neighbourhood)).toSet)
  }

  test("static normalization is a no-op on already-normalized gazetteer keys") {
    for (r <- Gazetteer.rows) {
      assert(graft.functions.TrText.normalizeStaticS(r.province) == r.province)
      assert(graft.functions.TrText.normalizeStaticS(r.district) == r.district)
      assert(graft.functions.TrText.normalizeStaticS(r.neighbourhood) == r.neighbourhood)
    }
  }

  test("suggest: composite-score top-k over gazetteer keys") {
    val keys = Gazetteer.rows.map(_.neighbourhood).distinct
    val got = StaticParser.suggest(keys, "caferaga", 3)
    assert(got.head == "caferaga")
    assert(got.length == 3)
  }

  test("G6/G8 relational lookups") {
    val gaz = Gazetteer.dataFrame(spark)
    assert(Gazetteer.provinces(gaz).count() == 6)
    assert(Gazetteer.neighbourhoodsOf(gaz, Some("izmir"), Some("bornova")).count() == 4)
    // 'inonu' appears under two İzmir districts but only one province → no dupes
    assert(Gazetteer.duplicateDistrictsAcrossProvinces(gaz).count() == 0)
    assert(Gazetteer.adminCounts(gaz).count() == 6)
    assert(Gazetteer.subsetView(gaz, Seq("izmir", "ankara")).select("province").distinct().count() == 2)
  }

  test("G10 tree string: reference `- key` indented format, insertion order") {
    val full = Gazetteer.treeString()
    assert(full.startsWith(
      "- izmir\n  - bornova\n    - kazimdirik\n    - erzene\n    - mevlana\n    - ataturk\n  - karsiyaka\n"))
    assert(full.linesIterator.count(_.startsWith("- ")) == 6) // one per province
    val one = Gazetteer.treeString(province = Some("ankara"))
    assert(one.startsWith("- ankara\n") && !one.contains("- izmir"))
    assert(one.linesIterator.count(_.startsWith("    - ")) ==
      Gazetteer.rows.count(_.province == "ankara"))
  }

  test("gazetteer index memos stay bounded; a stopped session's broadcast is dropped") {
    import graft.sources.GazRow
    val bound = SessionMemo.Bound
    // a fresh rows sequence per call (identity-keyed) must not pin every
    // index it was handed: the memos are cleared when they reach the bound
    for (i <- 0 until bound + 20) {
      StaticParser.broadcastIndex(spark, Seq(GazRow("il", s"ilce$i", "mah", "35000")))
      val (nIdx, nBcast, _) = StaticParser.indexMemoState(spark)
      assert(nIdx <= bound && nBcast <= bound, s"call $i: memos at $nIdx / $nBcast")
    }
    // the stable call sites still memoize after a clear
    assert(StaticParser.broadcastIndex(spark) eq StaticParser.broadcastIndex(spark))

    // a stopped session needs its own SparkContext, which this JVM's shared
    // one rules out: the eviction is observed in a child JVM (local[1])
    val rt = java.lang.management.ManagementFactory.getRuntimeMXBean
    val jvmArgs = scala.jdk.CollectionConverters.ListHasAsScala(rt.getInputArguments)
      .asScala.filterNot(a => a.startsWith("-Xmx") || a.startsWith("-agentlib")).toSeq
    val cmd = Seq(s"${System.getProperty("java.home")}/bin/java") ++ jvmArgs ++
      Seq("-Xmx1g", "-cp", System.getProperty("java.class.path"),
        "graft.StaticParserMemoProbe")
    val out = new StringBuilder
    val code = scala.sys.process.Process(cmd)
      .!(scala.sys.process.ProcessLogger(l => out.append(l).append('\n'), _ => ()))
    val line = out.toString.linesIterator.find(_.startsWith("MEMO "))
    assert(code == 0 && line.contains("MEMO held_before=true held_after=false bcast=1"),
      s"exit $code, probe said: $line")
  }
}

/** Child-JVM half of the memo test: memoize a broadcast under one session,
  * stop it, broadcast under a new session, and report whether the stopped
  * session still holds a memo entry. */
object StaticParserMemoProbe {
  def main(args: Array[String]): Unit = {
    def session(name: String) = org.apache.spark.sql.SparkSession.builder()
      .master("local[1]").appName(name)
      .config("spark.ui.enabled", "false").getOrCreate()
    val first = session("memo-probe-1")
    StaticParser.broadcastIndex(first)
    val heldBefore = StaticParser.indexMemoState(first)._3
    first.stop()
    val second = session("memo-probe-2")
    StaticParser.broadcastIndex(second)
    val (_, nBcast, heldAfter) = StaticParser.indexMemoState(first)
    println(s"MEMO held_before=$heldBefore held_after=$heldAfter bcast=$nBcast")
    second.stop()
  }
}
