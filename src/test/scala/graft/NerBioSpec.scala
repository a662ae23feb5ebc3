package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.TrText
import graft.operators.{Eval, GoldEval, Goldset, Linkage, NerOutputs, StaticParser}
import graft.sources.{Bio, Gazetteer, Pages}

class NerBioSpec extends AnyFunSuite with TempDirs {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  lazy val idx = Gazetteer.buildIndex()

  test("NER spans + BIO + entities on a known address") {
    val norm = TrText.normalizeStaticS("Caferağa Mah. Kadıköy İstanbul No:12 34710")
    val tokens = norm.split(" ")
    val sps = NerOutputs.spans(tokens, idx)
    val byType = sps.map { case (t, s, e) => t -> tokens.slice(s, e).mkString(" ") }.toMap
    assert(byType("IL") == "istanbul")
    assert(byType("ILCE") == "kadikoy")
    // spans follow the gold annotation convention: keyword inside the span
    assert(byType("MAHALLE") == "caferaga mah")
    assert(byType("POSTA_KODU") == "34710")
    assert(byType("BINA_NO") == "no : 12")

    val tags = NerOutputs.spansToBio(tokens.length, sps)
    assert(tags.length == tokens.length)
    assert(tags(tokens.indexOf("caferaga")) == "B-MAHALLE")
    assert(tags(tokens.indexOf("istanbul")) == "B-IL")

    val ents = NerOutputs.aggregateEntities(tokens, sps)
    // char offsets slice back to the entity text
    ents.foreach(e => assert(norm.substring(e.start, e.end) == e.text))
    // entities sorted by start
    assert(ents.map(_.start) == ents.map(_.start).sorted)

    val flat = NerOutputs.joinEntitiesFlat(ents)
    assert(flat.contains("MAHALLE=caferaga") && flat.contains("|"))
    assert(NerOutputs.entitiesJson(ents).startsWith("[{\"type\""))
  }

  test("round-3b surface forms: numeric decision table, positional admin, floors") {
    def sp(text: String): Seq[(String, String)] = {
      val toks = text.split(" ")
      NerOutputs.spans(toks, idx).map { case (t, s, e) =>
        t -> toks.slice(s, e).mkString(" ") }
    }
    // letter slash-suffix joins the keyword building number; digit stays flat
    assert(sp("yali cad no 9 / d").contains("BINA_NO" -> "no 9 / d"))
    assert(sp("yali cad no : 6 / 3").contains("BINA_NO" -> "no : 6"))
    assert(sp("yali cad no : 6 / 3").contains("DAIRE_NO" -> "/ 3"))
    // official door-number phrases: dis kapi = building, ic kapi = flat;
    // dangling "ic kapi no :" (value dropped / followed by a postcode) still
    // spans; bare "kapi 6" is a flat number
    assert(sp("yucel sk dis kapi no : 8 b daire no : 4")
      .contains("BINA_NO" -> "dis kapi no : 8 b"))
    assert(sp("koop cad dis kapi no : 35 ic kapi no : 09760 aydin")
      .contains("DAIRE_NO" -> "ic kapi no :"))
    assert(sp("koop cad dis kapi no : 35 ic kapi no : 09760 aydin")
      .contains("BINA_NO" -> "dis kapi no : 35"))
    assert(sp("2691 sk kapi 6 bina b").contains("DAIRE_NO" -> "kapi 6"))
    // bina/n/numara keyword family; bare defective forms
    assert(sp("sema cad bina no : 19 daire no : 2").contains("BINA_NO" -> "bina no : 19"))
    assert(sp("guzel sk n : 5").contains("BINA_NO" -> "n : 5"))
    assert(sp("orhan sk no daire 1").contains("BINA_NO" -> "no"))
    assert(sp("nokta sk no / 5").contains("BINA_NO" -> "no / 5"))
    // slashed numeric street names are ONE span; digit-led names complete
    assert(sp("dere mah 367 / 2 sk no 4").contains("SOKAK" -> "367 / 2 sk"))
    assert(sp("girne 2103 sk no 16").contains("SOKAK" -> "2103 sk"))
    assert(sp("cumhur mah 30 agustos sk").contains("SOKAK" -> "30 agustos sk"))
    // floor family incl. dangling forms — measured F1 1.0 on the corpora
    assert(sp("apak apartmani kat - 1").contains("KAT" -> "kat - 1"))
    assert(sp("apak apartmani giris kat").contains("KAT" -> "giris kat"))
    assert(sp("cam sitesi kat : daire : 35").contains("KAT" -> "kat :"))
    assert(sp("cam sitesi k 6 d 17").contains("KAT" -> "k 6"))
    assert(sp("cam sitesi k 6 d 17").contains("DAIRE_NO" -> "d 17"))
    // date-named neighbourhood crosses the digit
    assert(sp("16 eylul mah inkilap cad 3").contains("MAHALLE" -> "16 eylul mah"))
    // single-letter blok label claims exactly "<x> blok"
    assert(sp("gultekin best a blok kat 2").contains("BINA_ADI" -> "a blok"))
    // apartman typo fuzz (edit distance 1)
    assert(sp("gul aprtmani no 4").contains("BINA_ADI" -> "gul aprtmani"))
    // adjacent site keywords chain
    assert(sp("koyici evleri sitesi no 3").contains("SITE_ADI" -> "koyici evleri sitesi"))
  }

  test("aux real-gazetteer surface: walk stop, restricted probe, admin-tail retype") {
    assume(GoldEval.realIndex.nonEmpty, "bundled PTT extract absent")
    assert(Gazetteer.realRows.size > 70000, s"real rows: ${Gazetteer.realRows.size}")
    def sp(text: String): Seq[(String, String)] = {
      val toks = text.split(" ")
      NerOutputs.spans(toks, idx, aux = GoldEval.realIndex).map { case (t, s, e) =>
        t -> toks.slice(s, e).mkString(" ") }
    }
    // a real district the working index doesn't know still bounds the
    // mah-walk ("alasehir" stays out of the MAHALLE span) AND is claimed as
    // the ILCE when the real table confirms it is a district of the
    // preceding province span
    val walk = sp("manisa alasehir fatih mah ziya gokalp cad")
    assert(walk.contains("MAHALLE" -> "fatih mah"), walk)
    assert(!walk.exists(_._2 == "alasehir fatih mah"), walk)
    assert(walk.contains("ILCE" -> "alasehir"), walk)
    // hierarchy-restricted bare-name probe: a real neighbourhood of the
    // sentence's (positionally recognized) district, no mah keyword needed
    assert(sp("karsisi akcoban tavukculuk mermerli menemen izmir")
      .contains("MAHALLE" -> "mermerli"))
    // admin-tail retype: cankaya names an Ankara district AND a Konak
    // neighbourhood — in the "<x> <ilce> <il>" tail it is the MAHALLE
    assert(sp("daire : 6 cankaya konak izmir").contains("MAHALLE" -> "cankaya"))
    // the site-name walk extension stops at closed-class admin names
    assert(sp("akasya sk bodrum / mugla platin residance sit")
      .contains("SITE_ADI" -> "platin residance sit"))
    // aux is additive-only here: without it the walk absorbs the district
    val noAux = NerOutputs.spans(
      "manisa alasehir fatih mah ziya gokalp cad".split(" "), idx)
    assert(noAux.exists { case (t, _, _) => t == "MAHALLE" })
  }

  test("spans: adversarial fuzz never throws and always yields well-formed spans") {
    // the extractor runs inside a mapPartitions kernel at 10^12-page scale —
    // ONE unguarded index on a weird token sequence fails a whole task. Fuzz
    // with keyword-dense random sequences including every boundary shape.
    val vocab = Array("mah", "cad", "sk", "no", "kat", "daire", "d", "k", ":",
      "/", "-", "(", ")", "bina", "blok", "sitesi", "evleri", "sit", "n",
      "oda", "numara", "apartmani", "izmir", "bornova", "5", "12", "34710",
      "367", "a", "b", "guzel", "yali", "bir", "zemin", "giris", "ust", "en",
      "karsisi", "yani", "bulvari", "")
    val rnd = new scala.util.Random(20260816)
    (1 to 4000).foreach { _ =>
      val n = rnd.nextInt(14)
      val toks = Array.fill(n)(vocab(rnd.nextInt(vocab.length)))
      val sps = NerOutputs.spans(toks, idx) // must not throw
      sps.foreach { case (tpe, s, e) =>
        assert(s >= 0 && e <= toks.length && s < e,
          s"malformed span ($tpe,$s,$e) on [${toks.mkString(" ")}]")
      }
      // BIO projection and entity aggregation stay in bounds too
      NerOutputs.spansToBio(toks.length, sps)
      NerOutputs.aggregateEntities(toks, sps)
    }
  }

  test("NER batch operator over pages + CSV roundtrip") {
    val pages = Pages.synthesize(spark, 120).toDF()
    val prep = Linkage.extract(pages)
      .withColumn("norm", TrText.normalizeStatic(col("extracted")))
    val bIdx = StaticParser.broadcastIndex(spark)
    val out = NerOutputs.process(prep, "url", "norm", bIdx).persist()
    assert(out.count() == 120)
    assert(out.filter(length(col("pred_tags")) > 0).count() == 120)
    // every page embeds a gazetteer neighbourhood → MAHALLE should be common
    assert(out.filter(col("entities_flat").contains("MAHALLE=")).count() >= 100)
    out.unpersist()

    // CSV in → CSV out (E7/E8 shape)
    val inCsv = tmpDir("nercsv-in")
    val outCsv = tmpDir("nercsv-out") + "/out"
    prep.select(col("url"), col("extracted").as("address"))
      .write.option("header", "true").mode("overwrite").csv(inCsv)
    NerOutputs.runCsv(spark, inCsv, outCsv, "address", bIdx)
    val back = spark.read.option("header", "true").csv(outCsv)
    assert(back.count() == 120)
    assert(back.columns.toSet == Set("url", "address", "pred_tags", "entities_json", "entities_flat"))
  }

  test("process/runCsv thread the aux closed-class index into the kernel") {
    assume(GoldEval.realIndex.nonEmpty, "bundled PTT extract absent")
    val bIdx = StaticParser.broadcastIndex(spark)
    val bAux = GoldEval.realIndex.map(spark.sparkContext.broadcast(_))
    // a district only the real table knows: aux must flow through the
    // executor-side batch kernel, not just the local spans() surface
    val norm = "manisa alasehir fatih mah ziya gokalp cad"
    val df = Seq(("u1", norm)).toDF("url", "norm")

    val withAux = NerOutputs.process(df, "url", "norm", bIdx, bAux = bAux)
      .collect().head
    val noAux = NerOutputs.process(df, "url", "norm", bIdx).collect().head
    assert(withAux.entities_flat.contains("ILCE=alasehir"), withAux.entities_flat)
    assert(withAux.entities_flat.contains("MAHALLE=fatih mah"), withAux.entities_flat)
    assert(!noAux.entities_flat.contains("ILCE=alasehir"), noAux.entities_flat)
    // the batch kernel must agree exactly with the spans-level aux surface
    val toks = norm.split(" ")
    val expected = NerOutputs.joinEntitiesFlat(NerOutputs.aggregateEntities(
      toks, NerOutputs.spans(toks, idx, aux = GoldEval.realIndex)))
    assert(withAux.entities_flat == expected)

    // same plumbing through the CSV surface (normalization is a no-op here)
    val inCsv = tmpDir("nercsv-aux-in")
    val outCsv = tmpDir("nercsv-aux-out") + "/out"
    df.select(col("url"), col("norm").as("address"))
      .write.option("header", "true").mode("overwrite").csv(inCsv)
    NerOutputs.runCsv(spark, inCsv, outCsv, "address", bIdx, bAux = bAux)
    val back = spark.read.option("header", "true").csv(outCsv).collect().head
    assert(back.getAs[String]("entities_flat").contains("ILCE=alasehir"))
  }

  test("runCsv: row↔prediction alignment survives repartition + reorder") {
    // The round-3 shape joined two plan branches on monotonically_increasing_id,
    // which only aligned because file-scan layout is deterministic; the kernel
    // now emits each row's predictions in the same pass. This test scrambles
    // partitioning and in-partition order, then checks every output row's
    // predictions against a driver-side recompute from ITS OWN address.
    val pages = Pages.synthesize(spark, 150).toDF()
    val bIdx = StaticParser.broadcastIndex(spark)
    val scrambled = Linkage.extract(pages)
      .select(col("url"), col("extracted").as("address"))
      .repartition(7, col("url"))
      .sortWithinPartitions(desc("address"))
    val inCsv = tmpDir("neralign-in")
    val outCsv = tmpDir("neralign-out") + "/out"
    scrambled.write.option("header", "true").mode("overwrite").csv(inCsv)
    NerOutputs.runCsv(spark, inCsv, outCsv, "address", bIdx)
    val rows = spark.read.option("header", "true").csv(outCsv).collect()
    assert(rows.length == 150)
    val idx = bIdx.value
    rows.foreach { r =>
      val addr = r.getAs[String]("address")
      val norm = TrText.normalizeStaticS(addr)
      val tokens = if (norm == null) Array.empty[String]
                   else norm.split(" ").filter(_.nonEmpty)
      val sps = NerOutputs.spans(tokens, idx)
      val expected = NerOutputs.entitiesJson(NerOutputs.aggregateEntities(tokens, sps))
      // CSV round-trips empty strings as null — normalize both sides
      def nz(s: String) = Option(s).getOrElse("")
      assert(nz(r.getAs[String]("entities_json")) == nz(expected),
        s"prediction misaligned for url=${r.getAs[String]("url")}")
    }
  }

  test("runCsv: an input CSV that already has a __norm column survives intact") {
    // withColumn replaces an existing column in place — runCsv must pick a
    // collision-free working name so the user's __norm data is neither
    // clobbered nor positionally mis-dropped
    val pages = Pages.synthesize(spark, 30).toDF()
    val bIdx = StaticParser.broadcastIndex(spark)
    val inCsv = tmpDir("nernorm-in")
    val outCsv = tmpDir("nernorm-out") + "/out"
    Linkage.extract(pages)
      .select(col("url"), col("extracted").as("address"),
        concat(lit("user-"), col("url")).as("__norm"))
      .write.option("header", "true").mode("overwrite").csv(inCsv)
    NerOutputs.runCsv(spark, inCsv, outCsv, "address", bIdx)
    val back = spark.read.option("header", "true").csv(outCsv)
    assert(back.columns.toSet ==
      Set("url", "address", "__norm", "pred_tags", "entities_json", "entities_flat"))
    assert(back.count() == 30)
    // the user's __norm values came through untouched
    assert(back.filter(col("__norm") === concat(lit("user-"), col("url"))).count() == 30)
  }

  test("BIO synthesis: deterministic, tag-consistent, CoNLL roundtrip") {
    val ds = Bio.synthesize(spark, 200).persist()
    val rows = ds.collect()
    assert(rows.length == 200)
    rows.foreach { s =>
      assert(s.tokens.length == s.tags.length)
      assert(s.tags.forall(t => t == "O" || t.startsWith("B-") || t.startsWith("I-")))
      // I- never follows O or start
      s.tags.zipWithIndex.foreach { case (t, i) =>
        if (t.startsWith("I-"))
          assert(i > 0 && (s.tags(i - 1).endsWith(t.drop(2)) && s.tags(i - 1) != "O"),
            s"dangling $t in ${s.tags.mkString(",")}")
      }
      if (s.group == "A2E") assert(s.tags.contains("B-MAHALLE"))
    }
    // determinism
    val again = Bio.synthesize(spark, 200).collect()
    assert(rows.map(_.raw).sameElements(again.map(_.raw)))

    val dir = tmpDir("conll") + "/corpus"
    Bio.writeConll(ds, dir)
    val back = Bio.readConll(spark, dir).collect().sortBy(_.sample_id)
    assert(back.length == 200)
    back.zip(rows.sortBy(_.sample_id)).foreach { case (b, o) =>
      assert(b.tokens.sameElements(o.tokens) && b.tags.sameElements(o.tags))
      assert(b.group == o.group)
    }
    // S8 stats (named access — the battery is wide)
    val st = Bio.stats(ds).collect()(0)
    assert(st.getAs[Long]("n") == 200)
    assert(st.getAs[Long]("n_a2e") + st.getAs[Long]("n_f2j") == 200)
    // postcode is OPTIONAL at the reference's p=.10 before-admin rate
    // (round-2 always emitted one — groupA2E_config.py:52)
    val pc = st.getAs[Long]("has_postcode")
    assert(pc > 0 && pc < st.getAs[Long]("n_a2e"),
      s"postcode rate off: $pc of ${st.getAs[Long]("n_a2e")} A2E samples")
    ds.unpersist()
  }

  test("S5/S6 F2J generator covers the full 13-type label space; S8 battery") {
    val ds = Bio.synthesize(spark, 3000).persist()
    val rows = ds.collect()
    // BIO well-formedness holds for BOTH generator families
    rows.foreach { s =>
      s.tags.zipWithIndex.foreach { case (t, i) =>
        if (t.startsWith("I-"))
          assert(i > 0 && s.tags(i - 1).endsWith(t.drop(2)) && s.tags(i - 1) != "O",
            s"dangling $t in [${s.group}] ${s.tags.mkString(",")}")
      }
    }
    val allTags = rows.flatMap(_.tags).toSet
    Bio.EntityTypes.foreach { t =>
      assert(allTags.contains(s"B-$t"), s"type $t never emitted")
    }
    // F2J blend ≈ 12%
    val f2j = rows.count(_.group == "F2J")
    assert(f2j == 3000 * 3 / 25, s"F2J blend $f2j")

    // noise injector: noisy samples end with a country token and carry the
    // minimum separator count (≥3 A2E / ≥4 F2J) as O tokens
    val country = Set("tr", "türkiye")
    val noisy = rows.filter(s => s.tags.last == "O" && country(s.tokens.last.toLowerCase(
      java.util.Locale.forLanguageTag("tr"))))
    assert(noisy.length >= 100, s"only ${noisy.length} noisy samples of 3000")
    def sepCount(s: graft.sources.BioSample) = s.tokens.zip(s.tags).count {
      case (tk, tg) => tg == "O" && Set("-", "/", "|")(tk) }
    // A2E always has ≥5 B- boundaries → the ≥3 minimum is always reachable
    noisy.filter(_.group == "A2E").foreach { s =>
      assert(sepCount(s) >= 3, s"only ${sepCount(s)} separators: ${s.tokens.mkString(" ")}")
    }
    // F2J: the BIO-safe injector can only insert before B-/O tokens, so a
    // TARIF-only sample (one B-, all I-) may not reach 4 — assert the bulk does
    val f2jNoisy = noisy.filter(_.group == "F2J")
    assert(f2jNoisy.nonEmpty)
    assert(f2jNoisy.count(sepCount(_) >= 4) * 2 >= f2jNoisy.length,
      s"most F2J noisy samples missed the 4-separator minimum")

    // S8 battery sanity: breakdowns partition their families
    val st = Bio.stats(ds).collect()(0)
    def g(c: String) = st.getAs[Long](c)
    assert(g("cad_and_sk") + g("cad_only") + g("sk_only") <= g("n"))
    assert(g("district_first") + g("province_first") <=
      math.min(g("n_il"), g("n_ilce")))
    assert(g("postcode_before_admin") + g("postcode_after_admin") <= g("n_posta_kodu"))
    assert(g("nbhd_bare") + g("nbhd_with_kw") == g("n_mahalle"))
    assert(g("noise_tail") >= noisy.length) // country tail may also come from ref-style O tails
    Seq("n_site_adi", "n_bina_adi", "n_bulvar", "n_tarif", "n_kat", "n_daire_no")
      .foreach(c => assert(g(c) > 0, s"$c is zero"))

    // round-3 A2E fidelity distributions (groupA2E_config.py), ±tolerance on
    // 2640 A2E samples. Shuffle is the OBSERVATIONAL rule (a shuffle can land
    // on the unshuffled order), so its measured rate sits under p=.20.
    val nA2E = g("n_a2e").toDouble
    def rate(c: String) = g(c) / nA2E
    assert(rate("segments_shuffled") > 0.05 && rate("segments_shuffled") < 0.25,
      s"shuffle rate ${rate("segments_shuffled")}")
    assert(rate("nbhd_repeated") > 0.08 && rate("nbhd_repeated") < 0.35,
      s"repeat-nbhd rate ${rate("nbhd_repeated")}") // .15 repeat + prepend-with-nbhd
    assert(rate("has_postcode") > 0.05 && rate("has_postcode") < 0.16,
      s"postcode rate ${rate("has_postcode")}") // p=.10, A2E only
    // avenue/street mix: both .45 / only-avenue .20 / only-street .35
    val withStreets = (g("cad_and_sk") + g("cad_only") + g("sk_only")).toDouble
    assert(math.abs(g("cad_and_sk") / withStreets - 0.45) < 0.08)
    assert(math.abs(g("cad_only") / withStreets - 0.20) < 0.08)
    // top-10 avenue tally (S8): at most 10 rows, descending, real names
    val top = Bio.topAvenues(ds).collect()
    assert(top.length <= 10 && top.nonEmpty)
    assert(top.map(_.getLong(1)).toSeq == top.map(_.getLong(1)).toSeq.sortBy(-_))
    val firstToks = Bio.AvenueNames.map(_.split(" ").head).toSet ++
      Bio.AvenueNames.map(n => n.split(" ").head.toUpperCase(
        java.util.Locale.forLanguageTag("tr"))).toSet
    top.foreach(r => assert(firstToks.contains(r.getString(0)), r.toString))
    ds.unpersist()
  }

  test("NER extraction covers the F2J types (SITE_ADI/BINA_ADI/BULVAR/TARIF/KAT/DAIRE_NO)") {
    // "Turgut Özal": not a gazetteer name — a gazetteer admin hit (e.g.
    // "Atatürk" is a Bornova neighbourhood) would cover the name token first
    val norm = TrText.normalizeStaticS(
      "Folkart sitesi B blok daire: 3 Turgut Özal bulvarı kat: 2 Migros market karşısı")
    val tokens = norm.split(" ")
    val sps = NerOutputs.spans(tokens, idx)
    val byType = sps.groupBy(_._1).map { case (t, xs) =>
      t -> xs.map { case (_, s, e) => tokens.slice(s, e).mkString(" ") } }
    assert(byType("SITE_ADI").contains("folkart sitesi"), byType.toString)
    assert(byType("BINA_ADI").contains("b blok"))
    assert(byType("DAIRE_NO").contains("daire : 3"))
    // round-3: keyword anchors absorb up to nameWalk=2 name tokens (the gold
    // corpora tag the full name — "turgut ozal bulvari" is ONE span)
    assert(byType("BULVAR").contains("turgut ozal bulvari"))
    assert(byType("KAT").contains("kat : 2"))
    assert(byType("TARIF").exists(_.contains("karsisi")))
    // keyword-first blok form
    val norm2 = TrText.normalizeStaticS("Ege Perla rezidans blok: A94 d: 17")
    val t2 = norm2.split(" ")
    val by2 = NerOutputs.spans(t2, idx).groupBy(_._1).map { case (t, xs) =>
      t -> xs.map { case (_, s, e) => t2.slice(s, e).mkString(" ") } }
    assert(by2("BINA_ADI").contains("blok : a 94"), by2.toString)
    assert(by2("DAIRE_NO").contains("d : 17"))
    assert(by2("SITE_ADI").contains("ege perla rezidans"))
  }

  test("gold-corpus eval: reference gold CoNLL files load and score") {
    // the three real annotated corpora shipped with the reference
    val yegeb = GoldEval.readGold(GoldEval.DefaultPaths(0), 0)
    val tugce = GoldEval.readGold(GoldEval.DefaultPaths(1), 1)
    val baris = GoldEval.readGold(GoldEval.DefaultPaths(2), 2)
    info(s"sentences: yegeb=${yegeb.length} tugce=${tugce.length} baris=${baris.length}")
    assert(yegeb.length >= 200 && tugce.length >= 100)
    // every loaded sentence is well-formed BIO after noise folding
    (yegeb ++ tugce ++ baris).foreach { case (sid, toks, tags) =>
      assert(toks.length == tags.length)
      tags.zipWithIndex.foreach { case (t, i) =>
        if (t.startsWith("I-"))
          assert(i > 0 && tags(i - 1).endsWith(t.drop(2)) && tags(i - 1) != "O",
            s"dangling $t in sent $sid")
      }
    }
    // label noise is folded: the documented strays never survive
    val allTags = (yegeb ++ tugce ++ baris).flatMap(_._3).toSet
    assert(allTags.forall(t => t == "O" ||
      graft.sources.Bio.EntityTypes.contains(t.drop(2))), allTags.toString)

    val prf = GoldEval.evaluate(spark).persist()
    val micro = prf.filter(col("entity_type") === "__micro__")
      .select("precision", "recall", "f1", "n_gold")
      .as[(Double, Double, Double, Long)].head()
    info(f"rule-based extractor on gold: P=${micro._1}%.4f R=${micro._2}%.4f F1=${micro._3}%.4f over ${micro._4} gold entities")
    prf.orderBy("entity_type").collect().foreach(r => info(r.toString))
    assert(micro._4 >= 1000, s"only ${micro._4} gold entities loaded")
    // round-3: leave-one-corpus-out name mining + keyword-first evidence
    // order (nameWalk=4) + TARIF head-noun anchors + all-occurrence admin
    // spans + positional bare-MAHALLE/ILCE + dictionary ILCE sweep + the
    // numeric-form decision table (no/bina/daire/kat/slash) measured 0.8882
    // micro F1 0.8927 (P .920 / R .867) at round-4 HEAD — above the
    // reference's fine-tuned BERT
    // (0.7492 on a 20-sample slice). Deterministic pipeline; the gate sits
    // just under the measured value.
    assert(micro._3 >= 0.90, f"gold micro F1 ${micro._3}%.4f regressed") // 0.9012 at round-6 HEAD
    // per-HELD-OUT-corpus: the two substantive corpora each clear the bar on
    // their own (corpus 2, baris_250, has only 2 usable sentences — reported
    // but not gated)
    val byCorpus = GoldEval.evaluateByCorpus(spark)
      .select("corpus", "n_gold", "f1").as[(Int, Long, Double)].collect()
    byCorpus.foreach(r => info(s"held-out corpus ${r._1}: n_gold=${r._2} f1=${r._3}"))
    byCorpus.filter(_._2 >= 100).foreach { case (c, _, f1) =>
      assert(f1 >= 0.85, s"held-out corpus $c micro F1 $f1") // measured .874/.900
    }
    prf.unpersist()

    // TYPE-only token confusion (the notebook cell-28 view): diagonal must
    // dominate for the types the extractor handles well
    val cm = GoldEval.confusion(spark).persist()
    val asMap = cm.collect().map(r =>
      (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    def diag(t: String) = asMap.getOrElse((t, t), 0L)
    def rowTotal(t: String) = asMap.collect { case ((g, _), n) if g == t => n }.sum
    assert(diag("O") > 0 && diag("MAHALLE") >= 0)
    Seq("SOKAK", "IL", "POSTA_KODU").foreach { t =>
      assert(diag(t) * 2 >= rowTotal(t), s"$t diagonal ${diag(t)} / ${rowTotal(t)}")
    }
    cm.unpersist()
  }

  test("entity-level PRF (V2): self-eval is perfect; perturbed eval degrades") {
    val gold = Bio.synthesize(spark, 100).flatMap { s =>
      // gold spans from BIO tags
      val out = scala.collection.mutable.ArrayBuffer[(Long, String, Int, Int)]()
      var i = 0
      while (i < s.tags.length) {
        if (s.tags(i).startsWith("B-")) {
          val t = s.tags(i).drop(2)
          var j = i + 1
          while (j < s.tags.length && s.tags(j) == s"I-$t") j += 1
          out += ((s.sample_id, t, i, j)); i = j
        } else i += 1
      }
      out
    }.toDF("sent_id", "entity_type", "start", "end").persist()

    val perfect = Eval.entityPRF(gold, gold)
    assert(perfect.filter(col("f1") =!= 1.0).count() == 0)

    val shifted = gold.withColumn("start",
      when(col("entity_type") === "MAHALLE", col("start") + 1).otherwise(col("start")))
    val degraded = Eval.entityPRF(shifted, gold)
    val mahF1 = degraded.filter(col("entity_type") === "MAHALLE").select("f1").as[Double].head()
    val microF1 = degraded.filter(col("entity_type") === "__micro__").select("f1").as[Double].head()
    assert(mahF1 == 0.0 && microF1 < 1.0 && microF1 > 0.0)
    gold.unpersist()
  }

  test("confusion matrix (V3) shape") {
    val toks = Seq((1L, 0, "IL", "IL"), (1L, 1, "IL", "ILCE"), (1L, 2, "O", "O"))
      .toDF("sent_id", "pos", "gold_type", "pred_type")
    val cm = Eval.confusionMatrix(toks).collect()
    assert(cm.map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet ==
      Set(("IL", "IL", 1L), ("IL", "ILCE", 1L), ("O", "O", 1L)))
  }

  test("goldset classification (Q1-Q3): deterministic priority classes") {
    val df = Seq(
      "Erzene mahallesi 123 sokak Gazi caddesi no:4",  // nbhd+street+avenue → A
      "Erzene mah 123 sk no:4",                        // nbhd+street+no → B
      "Erzene mahalle Gazi cadde 5",                   // nbhd+avenue → C
      "Okul yanı Erzene mah",                          // tarif → I
      "Folkart sitesi B blok daire 3",                 // site+flat → G
      "hiçbir şey yok burada").toDF("address")         // → J
    val got = Goldset.classify(df, "address").select("gold_class").as[String].collect()
    assert(got.sameElements(Array("A", "B", "C", "I", "G", "J")), got.mkString(","))
    val st = Goldset.tokenStats(Goldset.classify(df, "address"), "address")
    assert(st.count() == 6)
  }
}
