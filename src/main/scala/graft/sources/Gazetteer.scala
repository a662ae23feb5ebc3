package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.{TrNormalize, TrText}

/** One gazetteer row, keys pre-normalized with the static pipeline
  * (ref data/ptt_data/map.py:129-155: every key runs through
  * `normalize_static_parser`; standalone `mah` token stripped from
  * neighbourhood names, map.py:211-215). */
case class GazRow(province: String, district: String, neighbourhood: String, postcode: String)

/** Deterministic synthesized gazetteer with the shape of the reference's PTT
  * table `(il, ilçe, semt_bucak_belde, Mahalle, PK)` (ref data/ptt_data/map.py:82-88).
  *
  * Seed data is the reference's own public fallback pools
  * (data/synth/config/general_config.py:11-41) — 6 provinces, 18 districts,
  * 45 neighbourhoods — with deterministic province-prefixed postcodes. No
  * external data; the sandbox can't read the xlsx and doesn't need to: the
  * parser's semantics are fully determined by the normalized key tree.
  *
  * At real scale the gazetteer is still broadcast-sized (73k rows in the
  * reference ≪ the 10 MB broadcast threshold), so every lookup the reference
  * does via in-process hash maps maps to a broadcast hash join / broadcast
  * map here — never a shuffle.
  */
object Gazetteer {

  /** Raw (un-normalized) pools, verbatim from the reference's fallback config. */
  val RawPools: Seq[(String, String, Seq[String])] = Seq(
    ("İzmir", "Bornova", Seq("Kazımdirik", "Erzene", "Mevlana", "Atatürk")),
    ("İzmir", "Karşıyaka", Seq("Bostanlı", "Mavikent", "İmbatlı")),
    ("İzmir", "Çeşme", Seq("16 Eylül", "İnönü", "Alaçatı")),
    ("İzmir", "Konak", Seq("Alsancak", "Güzelyalı")),
    ("İzmir", "Buca", Seq("Kuruçeşme", "İnönü")),
    ("İstanbul", "Kadıköy", Seq("Caferağa", "Osmanağa", "Moda", "Acıbadem")),
    ("İstanbul", "Beşiktaş", Seq("Etiler", "Levent", "Gayrettepe")),
    ("İstanbul", "Üsküdar", Seq("Altunizade", "Beylerbeyi")),
    ("Ankara", "Çankaya", Seq("Bahçelievler", "Ayrancı", "Kızılay")),
    ("Ankara", "Keçiören", Seq("Etlik", "Kuşcağız")),
    ("Ankara", "Yenimahalle", Seq("Demetevler", "Ragıp Tüzün")),
    ("Manisa", "Yunusemre", Seq("Keçiliköy")),
    ("Manisa", "Şehzadeler", Seq("Adnan Menderes")),
    ("Aydın", "Efeler", Seq("Zafer", "Güzelhisar")),
    ("Aydın", "Kuşadası", Seq("İkiçeşmelik")),
    ("Muğla", "Bodrum", Seq("Yalıkavak", "Gümbet")),
    ("Muğla", "Fethiye", Seq("Taşyaka", "Karagözler")),
    ("Muğla", "Menteşe", Seq("Kötekli", "Emirbeyazıt")),
  )

  /** Official-style province→postcode prefixes for the pool provinces. */
  val ProvincePrefix: Map[String, String] = Map(
    "İzmir" -> "35", "İstanbul" -> "34", "Ankara" -> "06",
    "Manisa" -> "45", "Aydın" -> "09", "Muğla" -> "48")

  /** G3: strip tokens that are exactly `mah` (keeps `mahalle(si)`),
    * ref data/ptt_data/map.py:211-215. */
  def stripStandaloneMah(s: String): String =
    s.split(" ").filter(_ != "mah").mkString(" ")

  /** The normalized gazetteer rows, in deterministic insertion order (this
    * order defines "first province containing district", ref
    * static_parser.py:171-180 + SURVEY.md §2.2 P6). */
  lazy val rows: Seq[GazRow] =
    RawPools.zipWithIndex.flatMap { case ((prov, dist, nbhds), di) =>
      nbhds.zipWithIndex.map { case (n, ni) =>
        val p = TrText.normalizeStaticS(prov)
        val d = TrText.normalizeStaticS(dist)
        val nb = stripStandaloneMah(TrText.normalizeStaticS(n))
        val pc = ProvincePrefix(prov) + f"${(di % 10) * 100 + ni * 10}%03d"
        GazRow(p, d, nb, pc)
      }
    }

  // ----------------------- real PTT gazetteer rows --------------------------

  /** The reference ETL (map.py:129-155,211-215) over a raw
    * `province \t district \t neighbourhood` extract of the PTT xlsx:
    * static-normalize each level, strip standalone `mah` tokens from the
    * neighbourhood, drop incomplete rows, preserve file order (the
    * first-province rule, P6). Shared by [[realRows]] and the executed-
    * reference differential specs so both read the identical row set. */
  def rowsFromRawTsv(in: java.io.InputStream): Seq[GazRow] = {
    val src = scala.io.Source.fromInputStream(in, "UTF-8")
    try {
      src.getLines().flatMap { l =>
        val fs = l.split("\t", -1)
        if (fs.length < 3) None
        else {
          val p = TrText.normalizeStaticS(fs(0).trim)
          val d = TrText.normalizeStaticS(fs(1).trim)
          val n = stripStandaloneMah(TrText.normalizeStaticS(fs(2).trim))
          if (p.isEmpty || d.isEmpty || n.isEmpty) None
          else Some(GazRow(p, d, n, ""))
        }
      }.toVector
    } finally src.close()
  }

  /** The REAL 73,305-row PTT gazetteer (turkiye_posta_kodlari.xlsx), read
    * from the bundled raw extract when present (empty otherwise, so nothing
    * hard-depends on it). Closed-class reference data like [[AllProvinces]]:
    * the reference's own parser loads this exact table before seeing any
    * input (map.py:82-88), so the NER surface may consult it without
    * breaking leave-one-corpus-out discipline — it is the engine's static
    * data source, not corpus-mined annotation knowledge. */
  lazy val realRows: Seq[GazRow] =
    Option(getClass.getResourceAsStream("/graft/ref_gaz_raw.tsv.gz")) match {
      case Some(s) => rowsFromRawTsv(new java.util.zip.GZIPInputStream(s))
      case None    => Seq.empty
    }

  // ------------------- reference-scale synthesized gazetteer ----------------

  /** The reference's real gazetteer is the 73,305-row PTT xlsx
    * (data/ptt_data/map.py:82-88); the 41-row pool gazetteer above cannot
    * exercise parser candidate density, broadcast-index size, or first-token
    * bucket collisions at that scale. [[rowsFull]] expands combinatorially
    * (already in normalized form — the parts are canonical ascii lowercase)
    * to exactly the PTT row count: 81 provinces × 12 districts × ~75
    * neighbourhoods, with deliberately shared first tokens (two-token names
    * "yesil tepe" / "yesil dere" land in one index bucket, like the real
    * table's "yeni X" families).
    *
    * Generated first tokens are disjoint from the pool gazetteer's names and
    * the reference test-case vocabulary, so all reference parser cases
    * resolve identically against the merged index (GazScaleSpec asserts it). */
  private val GenPrefix: IndexedSeq[String] = IndexedSeq(
    "yesil", "karli", "tasli", "kumlu", "sazli", "dagli", "soguk", "derin",
    "uzunlu", "sarpli", "genisli", "ulucak", "karaca", "akca", "bozca", "gokce",
    "demirli", "bakirli", "tunclu", "altinli", "gumuslu", "kayali", "camli",
    "meseli", "kavakli", "ihlamur", "sogutlu", "cinarli", "ardicli", "fundali",
    "begonya", "sarmasik")
  private val GenSuffix: IndexedSeq[String] = IndexedSeq(
    "koy", "tepe", "dere", "pinar", "yaka", "oba", "yurt", "kent", "cesme",
    "hisar", "oren", "yazi", "alan", "belen", "cayir", "bag", "burun", "agac",
    "tas", "yolu", "han", "konak", "saray", "bahce", "duzu", "sirti", "kuyu",
    "golu", "ova", "yayla")

  /** Third name component: 80 syllables → 32×30×80 = 76,800 distinct
    * combinations (the PTT table has ~50k+ distinct neighbourhood names; a
    * 2-part scheme tops out at 960 distinct strings and the DEDUPLICATED
    * token index would stay unrealistically sparse). */
  private val GenTail: IndexedSeq[String] =
    (for { c <- "bcdfgklmnprstvyz"; v <- "aeiou" } yield s"$c$v").toIndexedSeq

  private def part2(i: Int): String =
    GenSuffix((i / GenPrefix.size) % GenSuffix.size) +
      GenTail((i / (GenPrefix.size * GenSuffix.size)) % GenTail.size)
  private def fused(i: Int): String = GenPrefix(i % GenPrefix.size) + part2(i)
  private def twoToken(i: Int): String = GenPrefix(i % GenPrefix.size) + " " + part2(i)

  /** PTT-scale gazetteer: the pool rows plus a deterministic combinatorial
    * expansion to exactly 73,305 rows (the reference xlsx row count). */
  lazy val rowsFull: Seq[GazRow] = {
    val target = 73305
    val poolProvs = RawPools.map(_._1).distinct // 6
    val nProv = 81
    val distPerProv = 12
    val provNames: IndexedSeq[String] =
      poolProvs.map(TrText.normalizeStaticS).toIndexedSeq ++
        (0 until (nProv - poolProvs.size)).map(i => fused(i))

    // districts: pool districts stay attached to their pool provinces; every
    // province is padded with generated districts up to distPerProv
    val poolDistsByProv: Map[String, Seq[String]] =
      RawPools.groupBy(p => TrText.normalizeStaticS(p._1))
        .map { case (p, g) => p -> g.map(x => TrText.normalizeStaticS(x._2)).distinct }
    // GENERATED districts only — pool (province, district) pairs keep exactly
    // their pool neighbourhood sets, so every parser restriction the
    // reference cases exercise is byte-identical against the merged index
    var dCounter = 100 // offset so district names differ from province names
    val genDistricts: IndexedSeq[(String, String)] = provNames.flatMap { p =>
      val nPool = poolDistsByProv.getOrElse(p, Nil).size
      (nPool until distPerProv).map { _ =>
        dCounter += 1; (p, fused(dCounter))
      }
    }

    // neighbourhoods: fill to the exact target; ~60% fused single-token,
    // ~40% two-token names sharing first tokens (index-bucket stress)
    val nGen = target - rows.size
    val perDist = nGen / genDistricts.size
    val extra = nGen - perDist * genDistricts.size
    var h = 0
    val gen = genDistricts.zipWithIndex.flatMap { case ((p, d), di) =>
      val n = perDist + (if (di < extra) 1 else 0)
      (0 until n).map { k =>
        h += 1
        val name = if (k % 5 < 3) fused(h) else twoToken(h)
        val pc = f"${10 + (provNames.indexOf(p) % 71)}%02d${(di * 7 + k) % 1000}%03d"
        GazRow(p, d, name, pc)
      }
    }
    rows ++ gen
  }
  def dataFrame(spark: SparkSession): DataFrame = {
    import spark.implicits._
    rows.toDF()
  }

  /** G2 `_build` as a DataFrame ETL over a RAW gazetteer table
    * (province, district, neighbourhood, postcode) — the path a full-scale
    * PTT-shaped input takes: static-normalize every key, drop rows with
    * empty keys, strip standalone `mah` from neighbourhoods, dedupe
    * (ref data/ptt_data/map.py:129-155,211-215, all in Catalyst columns). */
  def etl(raw: DataFrame): DataFrame = {
    def norm(c: String) = TrNormalize.static(col(c))
    raw.select(
        norm("province").as("province"),
        norm("district").as("district"),
        array_join(filter(split(norm("neighbourhood"), " "), t => t =!= "mah"), " ")
          .as("neighbourhood"),
        col("postcode").cast("string").as("postcode"))
      .filter(col("province") =!= "" && col("district") =!= "" && col("neighbourhood") =!= "")
      .dropDuplicates("province", "district", "neighbourhood", "postcode")
  }

  // ------------------------- G5–G9 query operators -------------------------
  // Relational forms of the reference's lookup API (data/ptt_data/map.py:224-287).
  // Each takes the gazetteer DataFrame so callers can substitute a full-scale
  // table; predicates push down to the scan.

  /** G5: distinct provinces. */
  def provinces(gaz: DataFrame): DataFrame =
    gaz.select("province").distinct().orderBy("province")

  /** G5: districts of a province. */
  def districtsOf(gaz: DataFrame, province: String): DataFrame =
    gaz.filter(col("province") === province).select("district").distinct().orderBy("district")

  /** G6: neighbourhoods, 4 restriction modes (ref map.py:236-268). */
  def neighbourhoodsOf(gaz: DataFrame, province: Option[String], district: Option[String]): DataFrame = {
    val base = (province, district) match {
      case (Some(p), Some(d)) => gaz.filter(col("province") === p && col("district") === d)
      case (Some(p), None)    => gaz.filter(col("province") === p)
      case (None, Some(d))    => gaz.filter(col("district") === d)
      case (None, None)       => gaz
    }
    base.select("neighbourhood").distinct().orderBy("neighbourhood")
  }

  /** G7: per-province district/neighbourhood counts (ref map.py:271-277). */
  def adminCounts(gaz: DataFrame): DataFrame =
    gaz.groupBy("province").agg(
      countDistinct("district").as("n_districts"),
      countDistinct(struct(col("district"), col("neighbourhood"))).as("n_neighbourhoods"))
      .orderBy("province")

  /** G8: districts that appear in more than one province (ref map.py:279-287). */
  def duplicateDistrictsAcrossProvinces(gaz: DataFrame): DataFrame =
    gaz.groupBy("district").agg(collect_set("province").as("provinces"))
      .filter(size(col("provinces")) > 1)
      .select(col("district"), array_sort(col("provinces")).as("provinces"))
      .orderBy("district")

  /** G9: read-only view restricted to a set of provinces (ref map.py:314-337). */
  def subsetView(gaz: DataFrame, wanted: Seq[String]): DataFrame =
    gaz.filter(col("province").isin(wanted: _*))

  /** G10 `print_tree` (ref map.py:289-300): the hierarchy as the reference's
    * `- key` / indented-children text, optionally restricted to one province.
    * Returned (not printed) so callers choose the sink; assembled on the
    * driver — the gazetteer is broadcast-sized by design, and a tree PRINT
    * is a debug surface, not a data path. Insertion order is the row order,
    * like the reference's dict iteration. */
  def treeString(rs: Seq[GazRow] = rows, province: Option[String] = None): String = {
    val filtered = province match {
      case Some(p) => rs.filter(_.province == p)
      case None    => rs
    }
    // group into the nested tree preserving first-appearance order (the
    // reference's insertion-ordered dicts), then emit depth-first
    val tree = scala.collection.mutable.LinkedHashMap[String,
      scala.collection.mutable.LinkedHashMap[String, scala.collection.mutable.ArrayBuffer[String]]]()
    filtered.foreach { r =>
      tree.getOrElseUpdate(r.province, scala.collection.mutable.LinkedHashMap())
        .getOrElseUpdate(r.district, scala.collection.mutable.ArrayBuffer()) += r.neighbourhood
    }
    val sb = new StringBuilder
    tree.foreach { case (p, ds) =>
      sb.append(s"- $p\n")
      ds.foreach { case (d, ns) =>
        sb.append(s"  - $d\n")
        ns.foreach(n => sb.append(s"    - $n\n"))
      }
    }
    sb.toString
  }

  // ----------------------- broadcastable parser index -----------------------

  /** First-token inverted index: token → candidates (token_list, full_name),
    * sorted by token-length desc (ref static_parser.py:149-162). */
  type TokenIndex = Map[String, Array[(Array[String], String)]]

  /** All broadcast state the parse kernel needs; built once on the driver from
    * the (tiny) gazetteer and shipped via `sparkContext.broadcast`. */
  case class Index(
      provIndex: TokenIndex,
      distIndex: TokenIndex,
      nbhdIndex: TokenIndex,
      provToDistricts: Map[String, Set[String]],
      distToFirstProv: Map[String, String],
      pairToNbhds: Map[(String, String), Set[String]],
      distToNbhdUnion: Map[String, Set[String]]) extends Serializable

  /** The real 81 Turkish province names in static-normalized form — the
    * closed-class `il` column of the reference's PTT gazetteer
    * (data/ptt_data/turkiye_posta_kodlari.xlsx, 73,306 rows incl. header;
    * the same table map.py:82-88 loads, so the reference's own parser
    * always knows every one of them). Closed-class reference data, like
    * the keyword families — NOT corpus-mined annotation knowledge, so the
    * NER surface may use it without breaking leave-one-corpus-out
    * discipline. */
  val AllProvinces: Seq[String] = Seq(
    "adana", "adiyaman", "afyonkarahisar", "agri", "aksaray", "amasya",
    "ankara", "antalya", "ardahan", "artvin", "aydin", "balikesir",
    "bartin", "batman", "bayburt", "bilecik", "bingol", "bitlis",
    "bolu", "burdur", "bursa", "canakkale", "cankiri", "corum",
    "denizli", "diyarbakir", "duzce", "edirne", "elazig", "erzincan",
    "erzurum", "eskisehir", "gaziantep", "giresun", "gumushane", "hakkari",
    "hatay", "igdir", "isparta", "istanbul", "izmir", "kahramanmaras",
    "karabuk", "karaman", "kars", "kastamonu", "kayseri", "kilis",
    "kirikkale", "kirklareli", "kirsehir", "kocaeli", "konya", "kutahya",
    "malatya", "manisa", "mardin", "mersin", "mugla", "mus",
    "nevsehir", "nigde", "ordu", "osmaniye", "rize", "sakarya",
    "samsun", "sanliurfa", "siirt", "sinop", "sirnak", "sivas",
    "tekirdag", "tokat", "trabzon", "tunceli", "usak", "van",
    "yalova", "yozgat", "zonguldak")

  /** [[AllProvinces]] as a Set for O(1) membership in token sweeps. */
  val AllProvinceSet: Set[String] = AllProvinces.toSet

  def buildTokenIndex(names: Iterable[String]): TokenIndex =
    names.toSeq.distinct.flatMap { name =>
      val toks = name.split(" ").filter(_.nonEmpty)
      if (toks.isEmpty) None else Some(toks(0) -> (toks, name))
    }.groupBy(_._1)
      .map { case (t, xs) => t -> xs.map(_._2).sortBy { case (tk, n) => (-tk.length, n) }.toArray }

  /** Build the parser index from gazetteer rows (driver-side; rows are
    * broadcast-sized by design — see class doc). */
  def buildIndex(rs: Seq[GazRow] = rows): Index = {
    val provs = rs.map(_.province).distinct
    val dists = rs.map(_.district).distinct
    val nbhds = rs.map(_.neighbourhood).distinct
    Index(
      provIndex = buildTokenIndex(provs),
      distIndex = buildTokenIndex(dists),
      nbhdIndex = buildTokenIndex(nbhds),
      provToDistricts = rs.groupBy(_.province).map { case (p, g) => p -> g.map(_.district).toSet },
      distToFirstProv = {
        // first province containing the district, by gazetteer row order (P6)
        val m = scala.collection.mutable.LinkedHashMap[String, String]()
        rs.foreach(r => if (!m.contains(r.district)) m(r.district) = r.province)
        m.toMap
      },
      pairToNbhds = rs.groupBy(r => (r.province, r.district))
        .map { case (k, g) => k -> g.map(_.neighbourhood).toSet },
      distToNbhdUnion = rs.groupBy(_.district).map { case (d, g) => d -> g.map(_.neighbourhood).toSet })
  }
}
