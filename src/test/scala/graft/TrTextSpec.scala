package graft

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.StringType
import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.functions.{TrNormalize, TrText}

object SparkTestSession {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-test")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
}

/** Golden pairs ported verbatim from the reference's test/test_normalize.py
  * (20 full-pipeline + 20 punctuation-only), plus the static-pipeline probes
  * recorded in SURVEY.md §2.1, plus idempotence properties
  * (ref normalize_address.py:290-296). */
class TrTextSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  val fullGolden: Seq[(String, String)] = Seq(
    ("Mahmudiye Mah. Caddebostan Cad. No:5/7 D:3 Sok. 2",
     "mahmudiye mah caddebostan cad no : 5 / 7 d : 3 sk 2"),
    ("İNCİRLİ MH: 23. SOK-14, CADDESI_ 7 MAHALLESi 9",
     "incirli mah : 23 sk - 14 cad _ 7 mah 9"),
    ("Atatürk MAHALLESİ: 10 sk. / cd. 5 sokagi-3",
     "atatürk mah : 10 sk / cad 5 sk - 3"),
    ("Dr. Sadık AHmet Caddesı- No:12 Sokullu Sk:3 Mah.: 4",
     "dr sadık ahmet cad - no : 12 sokullu sk : 3 mah : 4"),
    ("MAHL 7. CD / SOKAĞI 22, Mahalle 5",
     "mah 7 cad / sk 22 mah 5"),
    ("İstiklal mahallesi. Cumhuriyet CADDE:45 sk-9 mh 1",
     "istiklal mah cumhuriyet cad : 45 sk - 9 mah 1"),
    ("Cevizlik Mh. 15_Sok./ Caddesi: 120 Mahallesi:Atatürk",
     "cevizlik mah 15 _ sk / cad : 120 mah : atatürk"),
    ("SOK:5; MAH-3. Cd 4 (Caddebostan değil) Mahallesi 7",
     "sk : 5 ; mah - 3 cad 4 ( caddebostan değil ) mah 7"),
    ("Mahallesi:Atatürk Cd.No.12 Sokagi-3 MHL 2",
     "mah : atatürk cad no 12 sk - 3 mah 2"),
    ("mhl. 2. Sokrates Sok. CADDESI/7 IŞIK MAHAL 4-6",
     "mah 2 sokrates sk cad / 7 ışık mah 4 - 6"),
    ("MAH: Aydıntepe, Caddesi - 34 / SOK 9",
     "mah : aydıntepe cad - 34 / sk 9"),
    ("Mahl 3 sk: 18; CADDESI: 200, mahallesi 1",
     "mah 3 sk : 18 ; cad : 200 mah 1"),
    ("Mh 10 Sok-2 Cd:7 Mahallesi: Gazi",
     "mah 10 sk - 2 cad : 7 mah : gazi"),
    ("Mahallesi: Güzelyurt / Caddesi_5 / Sokak-3",
     "mah : güzelyurt / cad _ 5 / sk - 3"),
    ("MHL: 1, SOKAĞA 2, CD. 3 mahal 4",
     "mah : 1 sk 2 cad 3 mah 4"),
    ("mahalle: Cumhuriyet; cadde- 10; sokak/ 2",
     "mah : cumhuriyet ; cad - 10 ; sk / 2"),
    ("MAHALLesI 12 SOK: 3 CD: 5",
     "mah 12 sk : 3 cad : 5"),
    ("mhl- 8 / sokak: 4 / caddesi 12 / mahal 1 \n Yeniköy apartmanı",
     "mah - 8 / sk : 4 / cad 12 / mah 1 yeniköy apartmanı"),
    ("mh. 1 sk. 2 cd. 3 Mahallesi: 'Yeni'",
     "mah 1 sk 2 cad 3 mah : ' yeni '"),
    ("Mahl: 9, Cad-7; Sok./11 Mahalle 3",
     "mah : 9 cad - 7 ; sk / 11 mah 3"),
  )

  val punctGolden: Seq[(String, String)] = Seq(
    ("Mahmudiye Mah. Caddebostan Cad. No:5/7 D:3 Sok. 2",
     "Mahmudiye Mah Caddebostan Cad No : 5 / 7 D : 3 Sok 2"),
    ("İNCİRLİ MH: 23. SOK-14, CADDESI_ 7 MAHALLESi 9",
     "İNCİRLİ MH : 23 SOK - 14 CADDESI _ 7 MAHALLESi 9"),
    ("Atatürk MAHALLESİ: 10 sk. / cd. 5 sokagi-3",
     "Atatürk MAHALLESİ : 10 sk / cd 5 sokagi - 3"),
    ("Dr. Sadık AHmet Caddesı- No:12 Sokullu Sk:3 Mah.: 4",
     "Dr Sadık AHmet Caddesı - No : 12 Sokullu Sk : 3 Mah : 4"),
    ("MAHL 7. CD / SOKAĞI 22, Mahalle 5",
     "MAHL 7 CD / SOKAĞI 22 Mahalle 5"),
    ("İstiklal mahallesi. Cumhuriyet CADDE:45 sk-9 mh 1",
     "İstiklal mahallesi Cumhuriyet CADDE : 45 sk - 9 mh 1"),
    ("Cevizlik Mh. 15_Sok./ Caddesi: 120 Mahallesi:Atatürk",
     "Cevizlik Mh 15 _ Sok / Caddesi : 120 Mahallesi : Atatürk"),
    ("SOK:5; MAH-3. Cd 4 (Caddebostan değil) Mahallesi 7",
     "SOK : 5 ; MAH - 3 Cd 4 ( Caddebostan değil ) Mahallesi 7"),
    ("Mahallesi:Atatürk Cd.No.12 Sokagi-3 MHL 2",
     "Mahallesi : Atatürk Cd No 12 Sokagi - 3 MHL 2"),
    ("mhl. 2. Sokrates Sok. CADDESI/7 IŞIK MAHAL 4-6",
     "mhl 2 Sokrates Sok CADDESI / 7 IŞIK MAHAL 4 - 6"),
    ("MAH: Aydıntepe, Caddesi - 34 / SOK 9",
     "MAH : Aydıntepe Caddesi - 34 / SOK 9"),
    ("Mahl 3 sk: 18; CADDESI: 200, mahallesi 1",
     "Mahl 3 sk : 18 ; CADDESI : 200 mahallesi 1"),
    ("Mh 10 Sok-2 Cd:7 Mahallesi: Gazi",
     "Mh 10 Sok - 2 Cd : 7 Mahallesi : Gazi"),
    ("Mahallesi: Güzelyurt / Caddesi_5 / Sokak-3",
     "Mahallesi : Güzelyurt / Caddesi _ 5 / Sokak - 3"),
    ("MHL: 1, SOKAĞA 2, CD. 3 mahal 4",
     "MHL : 1 SOKAĞA 2 CD 3 mahal 4"),
    ("mahalle: Cumhuriyet; cadde- 10; sokak/ 2",
     "mahalle : Cumhuriyet ; cadde - 10 ; sokak / 2"),
    ("MAHALLesI 12 SOK: 3 CD: 5",
     "MAHALLesI 12 SOK : 3 CD : 5"),
    ("mhl- 8 / sokak: 4 / caddesi 12 / mahal 1",
     "mhl - 8 / sokak : 4 / caddesi 12 / mahal 1"),
    ("mh. 1 sk. 2 cd. 3 Mahallesi: 'Yeni'",
     "mh 1 sk 2 cd 3 Mahallesi : ' Yeni '"),
    ("Mahl: 9, Cad-7; Sok./11 Mahalle 3",
     "Mahl : 9 Cad - 7 ; Sok / 11 Mahalle 3"),
  )

  // Probe-verified against the running reference (SURVEY.md §2.1).
  val staticGolden: Seq[(String, String)] = Seq(
    ("Caferağa Mah., Kadıköy / İstanbul No:12 D:5",
     "caferaga mah kadikoy / istanbul no : 12 d : 5"),
    ("B3Blok izmir2 3atatürk", "b 3 blok izmir 2 3 ataturk"),
  )

  private def runColumn(f: Column => Column, inputs: Seq[String]): Seq[String] = {
    inputs.toDF("s").select(f(col("s")).as("o")).as[String].collect().toSeq
  }

  /** (kernel method name, kernel, Column builder) per mode. */
  private val modes: Seq[(String, String => String, Column => Column)] = Seq(
    ("normalizeFullS", TrText.normalizeFullS(_: String), TrNormalize.full),
    ("normalizeStaticS", TrText.normalizeStaticS(_: String), TrNormalize.static),
    ("normalizePunctOnlyS", TrText.normalizePunctOnlyS(_: String), TrNormalize.punct))

  /** Every mode of [[TrNormalize]] on `inputs` plus a null equals its kernel
    * (null for null), row for row, through BOTH eval paths: a DataFrame over
    * an RDD (whole-stage codegen, with the kernel's static call in the plan;
    * over a local Seq the optimizer's `ConvertToLocalRelation` would
    * evaluate it interpreted) and `Expression.eval`. */
  private def assertTrNormalizeEqualsKernels(inputs: Seq[String]): Unit = {
    val all = inputs :+ null
    val df = spark.sparkContext.parallelize(all, 2).toDF("s")
    for ((mode, kernel, column) <- modes) {
      val want = all.map(in => if (in == null) null else kernel(in))
      val out = df.select(column(col("s")))
      val plan = out.queryExecution.executedPlan.toString
      assert(plan.contains("*(1) Project") &&
        plan.contains(s"static_invoke(graft.functions.TrText.$mode("),
        s"$mode: not codegen'd:\n$plan")
      val coded = out.as[String].collect().toSeq
      assert(coded.length == all.length, s"$mode: ${coded.length} rows")
      all.lazyZip(want).lazyZip(coded).foreach { (in, w, c) =>
        assert(c == w, s"$mode: codegen != kernel on: $in")
        val v = Bridge.expression(column(Bridge.column(Literal.create(in, StringType))))
          .eval(InternalRow.empty)
        assert(Option(v).map(_.toString).orNull == w, s"$mode: interpreted != kernel on: $in")
      }
    }
  }

  test("full pipeline: 20 golden pairs (Column)") {
    val got = runColumn(TrNormalize.full, fullGolden.map(_._1))
    fullGolden.zip(got).foreach { case ((in, exp), out) =>
      assert(out == exp, s"\n inp: $in\n got: $out\n exp: $exp")
    }
  }

  test("punct-only pipeline: 20 golden pairs (Column)") {
    val got = runColumn(TrNormalize.punct, punctGolden.map(_._1))
    punctGolden.zip(got).foreach { case ((in, exp), out) =>
      assert(out == exp, s"\n inp: $in\n got: $out\n exp: $exp")
    }
  }

  test("static pipeline: probe goldens (Column)") {
    val got = runColumn(TrNormalize.static, staticGolden.map(_._1))
    staticGolden.zip(got).foreach { case ((in, exp), out) =>
      assert(out == exp, s"\n inp: $in\n got: $out\n exp: $exp")
    }
  }

  test("NFKC probe: ligature/№/fraction handling matches reference") {
    // Probe-verified: "ﬁne №5 ½" → full "fine no 5 1⁄2" (SURVEY.md §2.1).
    val got = runColumn(TrNormalize.full, Seq("ﬁne №5 ½"))
    assert(got.head == "fine no 5 1⁄2")
  }

  test("Scala kernels agree with TrNormalize on all goldens (codegen and interpreted)") {
    assertTrNormalizeEqualsKernels((fullGolden ++ punctGolden ++ staticGolden).map(_._1))
  }

  val addressish: Gen[String] = {
    val frag = Gen.oneOf(
      "Mah.", "mahallesi", "MAHALLESİ", "mh", "Cad.", "caddesi", "CD", "sokak",
      "Sok.", "sk", "SOKAĞI", "No:5/7", "D:3", "Kat:2", "İstanbul", "Kadıköy",
      "ağaçlı", "IŞIK", "B3Blok", "izmir2", "15_Sok.", "x.y-z", "  ", ",", ";", "(a)", "'q'")
    Gen.chooseNum(1, 8).flatMap(n => Gen.listOfN(n, frag).map(_.mkString(" ")))
  }

  private def samples(n: Int): Seq[String] =
    Gen.listOfN(n, addressish).pureApply(Gen.Parameters.default, Seed(42L))

  test("idempotence: full, static, punct-only (property)") {
    for (s <- samples(200)) {
      assert(TrText.normalizeFullS(TrText.normalizeFullS(s)) == TrText.normalizeFullS(s), s"full not idempotent on: $s")
      assert(TrText.normalizeStaticS(TrText.normalizeStaticS(s)) == TrText.normalizeStaticS(s), s"static not idempotent on: $s")
      assert(TrText.normalizePunctOnlyS(TrText.normalizePunctOnlyS(s)) == TrText.normalizePunctOnlyS(s), s"punct not idempotent on: $s")
    }
  }

  test("Scala kernel / TrNormalize agreement (property)") {
    assertTrNormalizeEqualsKernels(samples(60))
  }

  test("metaphone: published vectors, expression == kernel, codegen plan") {
    import graft.functions.MetaphoneUtil
    // the commonly published classic-Metaphone vector set (Philips 1990 /
    // Apache Commons Codec conventions, max length 4)
    val vectors = Seq(
      "howl" -> "HL", "testing" -> "TSTN", "the" -> "0", "quick" -> "KK",
      "brown" -> "BRN", "fox" -> "FKS", "jumped" -> "JMPT", "over" -> "OFR",
      "lazy" -> "LS", "dogs" -> "TKS", "knight" -> "NT", "wright" -> "RT",
      "school" -> "SKL", "philips" -> "FLPS", "" -> "", "a" -> "A")
    vectors.foreach { case (in, want) =>
      assert(MetaphoneUtil.metaphone(in) == want,
        s"metaphone($in) = ${MetaphoneUtil.metaphone(in)}, want $want")
    }
    // near-miss street names collide (the blocking property soundex gives);
    // distinct names separate
    assert(MetaphoneUtil.metaphone("istasyon") == MetaphoneUtil.metaphone("istasiyon"))
    assert(MetaphoneUtil.metaphone("gazi") != MetaphoneUtil.metaphone("fatih"))

    // expression path == kernel path, and the plan stays codegen'd
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val df = vectors.map(_._1).filter(_.nonEmpty).toDF("s")
      .select(col("s"), MetaphoneUtil.metaphoneCol(col("s")).as("m"))
    val got = df.as[(String, String)].collect().toMap
    vectors.filter(_._1.nonEmpty).foreach { case (in, want) =>
      assert(got(in) == want.toUpperCase, s"expr metaphone($in) = ${got(in)}")
    }
    // codegen: a range-backed projection (literal frames are LocalTableScan)
    val gen = spark.range(50)
      .select(MetaphoneUtil.metaphoneCol(concat(lit("street"), col("id"))).as("m"))
    assert(gen.queryExecution.executedPlan.toString.contains("*(1)"),
      "metaphone expression fell out of WholeStageCodegen")
    assert(gen.distinct().count() >= 1)
  }
}
