package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.TextFunctions
import graft.operators.{Dedup, Similarity}

/** Training-data pipeline operators over the driver testdata tables. */
class PipelineOpsSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  val sfDir = "/root/testdata/sf0.001"
  lazy val docs = spark.read.parquet(s"$sfDir/documents.parquet").persist()
  lazy val emb = spark.read.parquet(s"$sfDir/embeddings.parquet").persist()

  test("text functions: tokens, offsets, counts, lang, quality") {
    val r = docs.limit(5).select(
      col("text"),
      TextFunctions.tokenCount(col("text")).as("tc"),
      TextFunctions.subwordCount(col("text")).as("swc"),
      TextFunctions.langId(col("text")).as("lang"),
      TextFunctions.qualityScore(col("text")).as("q"),
      TextFunctions.tokensWithOffsets(col("text")).as("off")).collect()
    r.foreach { row =>
      val text = row.getString(0)
      val tc = row.getInt(1)
      assert(tc == text.trim.split("\\s+").length)
      assert(row.getInt(2) >= tc) // subwords >= whitespace tokens
      // language distribution asserted corpus-wide below (per-doc can be 'und')
      val q = row.getDouble(4)
      assert(q >= 0.0 && q <= 1.0)
      val offs = row.getSeq[org.apache.spark.sql.Row](5)
      assert(offs.length == tc)
      offs.foreach { o =>
        val (tok, s, e) = (o.getString(0), o.getInt(1), o.getInt(2))
        assert(text.substring(s, e) == tok, s"offset mismatch: '$tok' vs '${text.substring(s, e)}'")
      }
    }
  }

  test("lang id: English-stopword corpus labels mostly en") {
    val n = docs.count()
    val en = docs.filter(TextFunctions.langId(col("text")) === "en").count()
    assert(en >= n * 0.8, s"only $en of $n docs labeled en")
    // Turkish address text labels tr
    val tr = Seq("atatürk mahallesi cadde sokak no 5 kat 2 daire 3 adres bilgisi ve bu")
      .toDF("t").select(TextFunctions.langId(col("t"))).as[String].head()
    assert(tr == "tr")
  }

  test("rolling fingerprint: whitespace-insensitive, content-sensitive") {
    val df = Seq("a b c", "a  b   c", "a b d").toDF("t")
      .select(TextFunctions.rollingFingerprint(col("t")).as("f")).as[Long].collect()
    assert(df(0) == df(1) && df(0) != df(2))
  }

  test("exact + bag-of-words dedup find planted duplicates") {
    val planted = docs.select(col("doc_id"), col("text"))
      .union(docs.limit(3).select(col("doc_id") + 100000, col("text")))
    val ex = Dedup.exact(planted, "doc_id", "text")
    assert(ex.filter(col("doc_id") =!= col("rep_id")).count() == 3)
    val bow = Dedup.bagOfWords(planted, "doc_id", "text")
    assert(bow.filter(col("doc_id") =!= col("rep_id")).count() >= 3)
  }

  /** Plain-Scala Jaccard of two distinct shingle sets, the independent
    * reference for [[Dedup.verifiedJaccard]]: two empty sets are identical
    * (1.0), and the ratio is the same double division Spark runs. */
  private def jaccardRef(a: Set[String], b: Set[String]): Double =
    if (a.isEmpty && b.isEmpty) 1.0
    else {
      val inter = (a intersect b).size
      inter * 1.0 / (a.size + b.size - inter)
    }

  /** Spark's `round(x, 6)` on a double (HALF_UP on its decimal form). */
  private def round6(d: Double): Double =
    BigDecimal(d).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble

  test("verifiedJaccard == plain-Scala Jaccard under the threshold filter") {
    // the one verification of every Jaccard path, against an independent
    // reference: overlap, zero overlap, one side empty, both empty, and
    // identical sets (a pair on the 1.0 boundary besides the empty rule)
    val fixture = Seq(
      1L -> Seq("a b c", "b c d", "c d e"), 2L -> Seq("a b c", "b c d", "x y z"),
      3L -> Seq("p q r"), 4L -> Seq.empty[String], 5L -> Seq.empty[String],
      6L -> Seq("c d e", "b c d", "a b c"))
    val sets = fixture.toDF("id", "sh").withColumn("nsh", size(col("sh")))
    val pairs = Seq((1L, 2L), (1L, 3L), (4L, 5L), (1L, 4L), (2L, 3L), (1L, 6L))
    val cand = pairs.toDF("id_a", "id_b")
    val bySet = fixture.map { case (id, sh) => id -> sh.toSet }.toMap
    val ref = pairs.map { case (a, b) => (a, b, jaccardRef(bySet(a), bySet(b))) }
    // one row per candidate, before any filter
    val all = Dedup.verifiedJaccard(cand, sets)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(all == ref.toSet)
    for (t <- Seq(0.1, 0.5, 1.0)) {
      val got = Dedup.verifiedJaccard(cand, sets)
        .filter(col("jaccard") >= t)
        .select(col("id_a"), col("id_b"), round(col("jaccard"), 6).as("j"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      val want = ref.filter(_._3 >= t).map { case (a, b, j) => (a, b, round6(j)) }.toSet
      assert(got == want, s"threshold $t")
    }
  }

  test("Jaccard families: minhash pairs exact, n-gram pairs == brute force") {
    // the shingle sets are collected from Dedup.shingleSets itself, so only
    // candidate generation and verification are under test here
    val sets = Dedup.shingleSets(docs, "doc_id", "text", 3).collect()
      .map(r => r.getLong(0) -> r.getSeq[String](1).toSet).toMap
    assert(sets.size == 500)

    // MinHash is approximate in RECALL only: every emitted pair must carry
    // its exact Jaccard and pass the threshold
    val mh = Dedup.minhashPairs(docs, "doc_id", "text", threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    Dedup.releaseCaches(spark)
    mh.foreach { case (a, b, j) =>
      val exact = jaccardRef(sets(a), sets(b))
      assert(a < b && j == round6(exact) && exact >= 0.5, s"minhash pair ($a, $b, $j) vs $exact")
    }

    // brute force over all 124,750 unordered pairs; documents without a
    // shingle are outside the n-gram operator's domain (it pairs only
    // nsh > 0, so two empty documents are not reported as duplicates)
    val ids = sets.keys.toArray.sorted
    val allPairs = for {
      i <- ids.indices.iterator; j <- (i + 1 until ids.length).iterator
    } yield (ids(i), ids(j))
    val scored = allPairs.filter { case (a, b) => sets(a).nonEmpty && sets(b).nonEmpty }
      .map { case (a, b) => (a, b, jaccardRef(sets(a), sets(b))) }.toVector
    assert(ids.length.toLong * (ids.length - 1) / 2 == 124750L)
    for (t <- Seq(0.8, 0.5)) {
      val want = scored.filter(_._3 >= t).map { case (a, b, j) => (a, b, round6(j)) }.sorted
      val got = Dedup.ngramJaccardPairs(docs, "doc_id", "text", threshold = t)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toVector.sorted
      Dedup.releaseCaches(spark)
      assert(got == want, s"threshold $t: ${got.size} pairs vs ${want.size} brute force")
      if (t == 0.5) {
        val found = mh.map(p => (p._1, p._2)).toSet
        val hit = want.count { case (a, b, _) => found((a, b)) }
        info(s"minhash recall at 0.5 vs brute force: $hit/${want.size}")
      }
    }
  }

  test("frequency prefix on 64-bit keys ≡ the string-keyed prefix, row for row") {
    // the prefix relation, not only the verified pairs: equal prefix rows
    // give equal candidates. A boilerplate sentence in every document makes
    // its shingles the most frequent, and the copies tie many counts.
    val boiler = "all rights reserved terms of use apply to every page of this site"
    val boilerplate = docs.select(col("doc_id"), concat_ws(" ", col("text"), lit(boiler)).as("text"))
      .union(docs.limit(20).select((col("doc_id") + 100000).as("doc_id"), col("text")))
    def rowsOf(df: org.apache.spark.sql.DataFrame): Vector[String] =
      df.collect().map(_.mkString("|")).toVector.sorted
    for ((name, corpus) <- Seq("sf0.001" -> docs, "boilerplate" -> boilerplate); t <- Seq(0.8, 0.5)) {
      val sets = Dedup.shingleSets(corpus, "doc_id", "text", 3).filter(col("nsh") > 0).persist()
      val got = Dedup.frequencyOrderedPrefix(sets, t)
      val want = Witnesses.frequencyOrderedPrefixByString(sets, t)
      val (g, w) = (rowsOf(got), rowsOf(want))
      assert(g.nonEmpty && g == w, s"$name at $t: ${g.size} prefix rows vs ${w.size} string-keyed")
      val (gc, wc) = (rowsOf(Dedup.ppjoinCandidates(got, t, 1000)),
        rowsOf(Dedup.ppjoinCandidates(want, t, 1000)))
      assert(gc.nonEmpty && gc == wc, s"$name at $t: ${gc.size} candidates vs ${wc.size}")
      sets.unpersist()
    }
  }

  test("native minhash signature ≡ Column formulation (value-identical)") {
    // The native MinHashSig expression must produce EXACTLY the signatures
    // the interpreted array/transform/hash construction produced (band
    // buckets — and therefore candidate pairs — depend on every bit). Run
    // both over real document shingles plus edge shapes: empty text, single
    // token, repeated shingles, unicode.
    import graft.functions.TextFunctions
    val edge = Seq((900001L, ""), (900002L, "tek"), (900003L, "a a a a a"),
      (900004L, "çiğdem ölüdeniz ğüşİı"), (900005L, "  "))
      .toDF("doc_id", "text")
    val both = docs.select("doc_id", "text").limit(200).union(edge)
      .select(col("doc_id"),
        array_distinct(TextFunctions.shingles(col("text"), 3)).as("sh"))
      .select(
        Dedup.minhashSignature(col("sh"), 64).as("native"),
        Witnesses.minhashSignatureColumns(col("sh"), 64).as("column"))
    assert(both.filter(not(col("native") === col("column"))).count() == 0)
    // and the non-default width used nowhere else (guards the loop bounds)
    val w8 = docs.select("text").limit(50)
      .select(array_distinct(TextFunctions.shingles(col("text"), 2)).as("sh"))
      .select(Dedup.minhashSignature(col("sh"), 8).as("n"),
        Witnesses.minhashSignatureColumns(col("sh"), 8).as("c"))
    assert(w8.filter(not(col("n") === col("c"))).count() == 0)
  }

  test("native hyperplane signature ≡ Column formulation (value-identical)") {
    // Bucket membership depends on every bit, so the native HyperplaneSig
    // must reproduce the HOF construction exactly: float→double promotion,
    // left-to-right sum order, sign convention. Real embeddings plus edge
    // vectors (all-zero → every proj 0, no bit set; single-dim; negatives).
    val edge = Seq(
      (800001L, Array.fill(32)(0.0f)),
      (800002L, Array(1.0f)),
      (800003L, Array(-0.5f, 0.25f, -0.125f)),
      // NaN poisons every projection; Spark's nan-safe GreaterThan makes the
      // witness set EVERY bit — the native expression must agree
      (800004L, Array(1.0f, Float.NaN, 2.0f)))
      .toDF("vec_id", "embedding")
    val both = emb.select("vec_id", "embedding").limit(200)
      .union(edge)
      .select(
        Dedup.hyperplaneSignature(col("embedding"), 24).as("native"),
        Witnesses.hyperplaneSignatureColumns(col("embedding"), 24).as("column"))
    assert(both.filter(not(col("native") <=> col("column"))).count() == 0)
    // non-default plane count (guards shift/loop bounds up to bit 47)
    val w48 = emb.select("embedding").limit(50)
      .select(Dedup.hyperplaneSignature(col("embedding"), 48).as("n"),
        Witnesses.hyperplaneSignatureColumns(col("embedding"), 48).as("c"))
    assert(w48.filter(not(col("n") <=> col("c"))).count() == 0)
  }

  test("native word shingles ≡ Column formulation (tokenizer-parity edges)") {
    // Tokenization must match split("\\s+") EXACTLY — the Java regex ASCII
    // \s class, not Character.isWhitespace (U+2028/U+00A0 distinguish them).
    // Shingle strings feed hashes, so "close" breaks band buckets.
    val edge = Seq("", " ", "tek", "  a  b\t\nc  ", "a b c d e",
      "a b c", "a b c d", "çok uzun bir cümle örneği",
      "xy\fz w", "a b").toDF("text")
    val both = docs.select("text").limit(300).union(edge)
      .repartition(3) // codegen path, not ConvertToLocalRelation pre-eval
      .select(
        TextFunctions.shingles(col("text"), 3).as("n3"),
        Witnesses.shinglesColumns(col("text"), 3).as("c3"),
        TextFunctions.shingles(col("text"), 2).as("n2"),
        Witnesses.shinglesColumns(col("text"), 2).as("c2"))
    assert(both.filter(not(col("n3") <=> col("c3"))).count() == 0)
    assert(both.filter(not(col("n2") <=> col("c2"))).count() == 0)
  }

  test("native cosine ≡ Column formulation (value-identical incl. null/NaN edges)") {
    // Every ANN oracle (q_ann_threshold/topk, q_embed_dedup) hashes rounded
    // cosine values, so the native CosineSim must be BIT-identical to the
    // zip_with/aggregate math: float-multiply products, left-to-right sums,
    // division order, null poisoning (null element OR length mismatch), and
    // 0/0 → NaN for zero vectors.
    val pairs = emb.select(col("vec_id"), col("embedding")).limit(120)
      .crossJoin(emb.select(col("embedding").as("b")).limit(15))
    val real = pairs.select(
      Dedup.cosine(col("embedding"), col("b")).as("n"),
      Witnesses.cosineColumns(col("embedding"), col("b")).as("c"))
    assert(real.filter(not(col("n") <=> col("c"))).count() == 0)
    // non-zero-norm edges: both formulations are defined — must agree exactly
    val edge = Seq(
      (Array(1.0f, Float.NaN), Array(1.0f, 1.0f)), // NaN element → NaN
      (Array(1.0f, 2.0f), Array(3.0f, 4.0f)),
      (Array(1.0f), Array(1.0f, 1.0f)))            // length mismatch → null
      .toDF("a", "b").repartition(2)
      .select(Dedup.cosine(col("a"), col("b")).as("n"),
        Witnesses.cosineColumns(col("a"), col("b")).as("c"))
    assert(edge.filter(not(col("n") <=> col("c"))).count() == 0,
      edge.collect().mkString(";"))

    // zero-norm vectors: the HOF formulation is NOT defined under Spark 4's
    // ANSI default — sqrt(dot(v,v)) = 0 and Divide throws DIVIDE_BY_ZERO —
    // so one degenerate row would kill a whole 100-TB job. The native
    // expression deliberately returns NULL instead: null FAILS a >=
    // threshold filter and sorts LAST under desc top-k windows — "matches
    // nothing". (NaN would do the opposite: Spark treats NaN as greater
    // than every numeric, so a NaN cosine would match everything.) Pin BOTH
    // behaviors so the divergence stays a documented decision.
    val zeros = Seq((Array(0.0f, 0.0f), Array(1.0f, 2.0f)),
      (Array.empty[Float], Array.empty[Float]))
      .toDF("a", "b").repartition(2)
    val nat = zeros.select(Dedup.cosine(col("a"), col("b")).as("n")).collect()
    assert(nat.forall(_.isNullAt(0)), s"native on zero-norm: ${nat.mkString(",")}")
    // and null genuinely matches nothing through the operators' own shapes
    assert(zeros.filter(Dedup.cosine(col("a"), col("b")) >= 0.0).count() == 0)
    val thrown = intercept[Exception] {
      zeros.select(Witnesses.cosineColumns(col("a"), col("b")).as("c")).collect()
    }
    assert(thrown.getMessage.contains("DIVIDE_BY_ZERO"),
      s"expected ANSI divide-by-zero from the HOF shape, got: ${thrown.getMessage.take(120)}")
  }

  test("native expressions ≡ Column formulations on seeded random fuzz") {
    // 400 random strings (unusual whitespace mixes, unicode, repeats) and
    // 200 random vectors (varied dims, negatives, tiny/huge magnitudes) —
    // the corpus-based property tests above can't cover these shapes
    val rnd = new scala.util.Random(20260817L)
    val wsPool = " \t\n\f  "
    val tokPool = Vector("ev", "mahalle", "çiğdem", "x", "1071", "İzmİr",
      "a-b", "12.5", "über", "şğü", "", "longtokenwithmanychars")
    val fuzzStrings = (1 to 400).map { _ =>
      (1 to rnd.nextInt(14)).map { _ =>
        tokPool(rnd.nextInt(tokPool.size)) +
          (1 to rnd.nextInt(3)).map(_ => wsPool(rnd.nextInt(wsPool.length))).mkString
      }.mkString
    }
    val sf = fuzzStrings.toDF("text").repartition(4)
      .select(
        TextFunctions.shingles(col("text"), 3).as("sh_n"),
        Witnesses.shinglesColumns(col("text"), 3).as("sh_c"))
      .withColumn("sig_n", Dedup.minhashSignature(col("sh_n"), 32))
      .withColumn("sig_c", Witnesses.minhashSignatureColumns(col("sh_c"), 32))
    assert(sf.filter(not(col("sh_n") <=> col("sh_c"))).count() == 0, "shingle fuzz")
    assert(sf.filter(not(col("sig_n") <=> col("sig_c"))).count() == 0, "minhash fuzz")

    val fuzzVecs = (1 to 200).map { i =>
      val dim = 1 + rnd.nextInt(48)
      (i.toLong, Array.fill(dim)((rnd.nextGaussian() *
        math.pow(10, rnd.nextInt(7) - 3)).toFloat))
    }
    val vf = fuzzVecs.toDF("id", "v").repartition(4)
      .select(
        Dedup.hyperplaneSignature(col("v"), 24).as("hp_n"),
        Witnesses.hyperplaneSignatureColumns(col("v"), 24).as("hp_c"),
        Dedup.cosine(col("v"), reverse(col("v"))).as("cos_n"),
        Witnesses.cosineColumns(col("v"), reverse(col("v"))).as("cos_c"))
    assert(vf.filter(not(col("hp_n") <=> col("hp_c"))).count() == 0, "hyperplane fuzz")
    assert(vf.filter(not(col("cos_n") <=> col("cos_c"))).count() == 0, "cosine fuzz")
  }

  test("minhash LSH finds planted near-duplicates") {
    // plant: copy 3 docs with one word changed (high shingle overlap)
    val mutated = docs.limit(3)
      .select((col("doc_id") + 100000).as("doc_id"),
        concat(col("text"), lit(" extraword")).as("text"))
    val planted = docs.select("doc_id", "text").union(mutated)
    val pairs = Dedup.minhashPairs(planted, "doc_id", "text", threshold = 0.6).persist()
    val plantedFound = pairs
      .filter(col("id_b") === col("id_a") + 100000).count()
    assert(plantedFound == 3, s"found $plantedFound of 3 planted near-dups")
    // verification step keeps jaccard >= threshold only
    assert(pairs.filter(col("jaccard") < 0.6).count() == 0)
    pairs.unpersist()
  }

  test("minhash clusters: planted dup lands with its source") {
    val mutated = docs.limit(2)
      .select((col("doc_id") + 100000).as("doc_id"), col("text"))
    val planted = docs.select("doc_id", "text").union(mutated)
    val cl = Dedup.minhashClusters(planted, "doc_id", "text", threshold = 0.6)
    val m = cl.as[(Long, Long)].collect().toMap
    assert(m(100000L) == m(0L) && m(100001L) == m(1L))
  }

  test("clusters API symmetry: simhash/ngram/embedding copies land with sources") {
    val copies = docs.limit(2)
      .select((col("doc_id") + 100000).as("doc_id"), col("text"))
    val planted = docs.select("doc_id", "text").union(copies)
    val sim = Dedup.simhashClusters(planted, "doc_id", "text", maxHamming = 0)
      .as[(Long, Long)].collect().toMap
    assert(sim(100000L) == sim(0L) && sim(100001L) == sim(1L))
    val ng = Dedup.ngramJaccardClusters(planted, "doc_id", "text", threshold = 0.8)
      .as[(Long, Long)].collect().toMap
    assert(ng(100000L) == ng(0L) && ng(100001L) == ng(1L))
    val embPlanted = emb.select(col("vec_id"), col("embedding"))
      .union(emb.limit(2).select(col("vec_id") + 100000, col("embedding")))
    val ec = Dedup.embeddingClusters(embPlanted, "vec_id", "embedding", threshold = 0.999)
      .as[(Long, Long)].collect().toMap
    assert(ec(100000L) == ec(0L) && ec(100001L) == ec(1L))
    // every input row appears exactly once
    assert(Dedup.simhashClusters(planted, "doc_id", "text").count() == planted.count())
  }

  test("simhash: exact copies at hamming 0; perturbed copy within band reach") {
    val copies = docs.limit(3)
      .select((col("doc_id") + 100000).as("doc_id"), col("text"))
    val planted = docs.select("doc_id", "text").union(copies)
    val pairs = Dedup.simhashPairs(planted, "doc_id", "text", maxHamming = 0)
    assert(pairs.filter(col("id_b") === col("id_a") + 100000).count() == 3)
    // a lightly perturbed copy stays hamming-close (guaranteed findable <= 3)
    val mut = docs.limit(1)
      .select((col("doc_id") + 200000).as("doc_id"),
        concat(col("text"), lit(" zz")).as("text"))
    val pairs2 = Dedup.simhashPairs(docs.select("doc_id", "text").union(mut),
      "doc_id", "text", maxHamming = 16)
    info(s"perturbed-copy detections: ${pairs2.filter(col("id_b") === 200000).count()}")
  }

  test("ngram jaccard pairs: planted near-dup found, threshold respected") {
    val mutated = docs.limit(3)
      .select((col("doc_id") + 100000).as("doc_id"),
        concat(col("text"), lit(" tailword")).as("text"))
    val planted = docs.select("doc_id", "text").union(mutated)
    val pairs = Dedup.ngramJaccardPairs(planted, "doc_id", "text", threshold = 0.5).persist()
    assert(pairs.filter(col("id_b") === col("id_a") + 100000).count() == 3)
    assert(pairs.filter(col("jaccard") < 0.5).count() == 0)
    pairs.unpersist()
  }

  test("dedup candidate joins: salted ≡ unsalted on a forced hot bucket") {
    // 40 identical copies of one document share EVERY band bucket of every
    // LSH family — exactly the hot-bucket pathology the salted triangle join
    // bounds (round-4 verdict item 1). Output must be row-identical whether
    // the family fans over many salt tasks (maxBucket=5 ⇒ s=9 buckets for
    // the 41-member key) or none (maxBucket huge ⇒ s=1, the plain join).
    val fam = docs.limit(1).select(col("text"))
      .crossJoin(spark.range(40).select(col("id").as("k")))
      .select((col("k") + 300000).as("doc_id"), col("text"))
    val planted = docs.limit(50).select("doc_id", "text").union(fam)
    def rowsOf(df: org.apache.spark.sql.DataFrame): Set[String] =
      df.collect().map(_.mkString("|")).toSet
    // salting only engages in the shuffle-join regime (broadcast joins
    // spread fan-out by construction) — force it so the triangle actually runs
    val thr = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {

    val mhS = rowsOf(Dedup.minhashPairs(planted, "doc_id", "text", threshold = 0.6, maxBucket = 5))
    val mhU = rowsOf(Dedup.minhashPairs(planted, "doc_id", "text", threshold = 0.6, maxBucket = 1 << 28))
    assert(mhS.nonEmpty && mhS == mhU, s"minhash salted=${mhS.size} unsalted=${mhU.size}")

    val shS = rowsOf(Dedup.simhashPairs(planted, "doc_id", "text", maxHamming = 3, maxBucket = 5))
    val shU = rowsOf(Dedup.simhashPairs(planted, "doc_id", "text", maxHamming = 3, maxBucket = 1 << 28))
    assert(shS.nonEmpty && shS == shU, s"simhash salted=${shS.size} unsalted=${shU.size}")

    val ngS = rowsOf(Dedup.ngramJaccardPairs(planted, "doc_id", "text", threshold = 0.8, maxBucket = 5))
    val ngU = rowsOf(Dedup.ngramJaccardPairs(planted, "doc_id", "text", threshold = 0.8, maxBucket = 1 << 28))
    assert(ngS.nonEmpty && ngS == ngU, s"ngram salted=${ngS.size} unsalted=${ngU.size}")

    val efam = emb.limit(1).select(col("embedding"))
      .crossJoin(spark.range(30).select(col("id").as("k")))
      .select((col("k") + 300000).as("vec_id"), col("embedding"))
    val eplanted = emb.limit(40).select("vec_id", "embedding").union(efam)
    val emS = rowsOf(Dedup.embeddingPairs(eplanted, "vec_id", "embedding", threshold = 0.99, maxBucket = 5))
    val emU = rowsOf(Dedup.embeddingPairs(eplanted, "vec_id", "embedding", threshold = 0.99, maxBucket = 1 << 28))
    assert(emS.nonEmpty && emS == emU, s"embedding salted=${emS.size} unsalted=${emU.size}")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thr)
    Dedup.releaseCaches(spark)
  }

  test("q_embed_dedup oracle margin: no natural pair within 0.005 of the threshold") {
    // The q_embed_dedup DuckDB oracle equates banded-LSH + verify with exact
    // all-pairs SQL. That equality needs LSH recall = 1 on this input, which
    // holds because planted dups are IDENTICAL vectors and no NATURAL pair
    // sits in [0.985, 0.99) where banding could probabilistically miss. Guard
    // that measured data property so a future change to embedding synthesis
    // or band parameters fails HERE with a clear message instead of as an
    // oracle hash mismatch (round-4 ADVICE).
    for (sf <- Seq("sf0.01", "sf0.1")) {
      val full = spark.read.parquet(s"/root/testdata/$sf/embeddings.parquet")
        .select(col("vec_id").as("id"), col("embedding").as("vec"))
      val near = full.as("a").join(full.as("b"), col("a.id") < col("b.id"))
        .select(Dedup.cosine(col("a.vec"), col("b.vec")).as("cos"))
        .filter(col("cos") >= 0.985 && col("cos") < 0.99)
        .count()
      assert(near == 0,
        s"$near natural $sf pairs in [0.985, 0.99): the q_embed_dedup exact-SQL " +
          "oracle is no longer sound — re-measure or change band parameters")
    }
  }

  test("embedding cosine: planted identical vector is found") {
    val planted = emb.select(col("vec_id"), col("embedding"))
      .union(emb.limit(2).select(col("vec_id") + 100000, col("embedding")))
    val pairs = Dedup.embeddingPairs(planted, "vec_id", "embedding", threshold = 0.999)
    assert(pairs.filter(col("id_b") === col("id_a") + 100000).count() == 2)
  }

  test("embedding LSH recall: PERTURBED near-duplicates (cos ~0.99) are found") {
    // round-1 flaw: a single 12-bit bucket has ~0.58 recall at cos 0.99 and
    // the old test only planted identical vectors (cos 1.0, always collide).
    // Perturb each dimension by ±7% (deterministic by parity): cosine lands
    // ~0.995-0.999, strictly < 1, so banding is genuinely exercised.
    val nPlant = 40
    val perturbed = emb.filter(col("vec_id") < nPlant)
      .select((col("vec_id") + 100000).as("vec_id"),
        transform(col("embedding"),
          (x, i) => (x * when(pmod(i, lit(2)) === 0, 1.07).otherwise(0.93)).cast("float"))
          .as("embedding"))
    val planted = emb.select(col("vec_id"), col("embedding")).union(perturbed)
    val pairs = Dedup.embeddingPairs(planted, "vec_id", "embedding", threshold = 0.98)
      .persist()
    // sanity: the planted pairs really are non-identical near-dups
    val found = pairs.filter(col("id_b") === col("id_a") + 100000).persist()
    assert(found.filter(col("cos") >= 0.999999).count() == 0, "perturbation was a no-op")
    val recall = found.count().toDouble / nPlant
    info(f"banded hyperplane LSH recall at cos~0.99: $recall%.3f")
    assert(recall >= 0.95, f"recall $recall%.2f < 0.95 — banding broken")
    found.unpersist(); pairs.unpersist()
  }

  test("brute-force ANN topk: self-consistent and ranked") {
    val topk = Similarity.bruteForceTopK(emb, "vec_id", "embedding", Seq(0L, 1L, 2L), k = 5)
      .persist()
    assert(topk.groupBy("query_id").count().filter(col("count") =!= 5).count() == 0)
    // ranks are 1..5 with non-increasing cosine
    val rows = topk.orderBy("query_id", "rank").as[(Long, Long, Double, Int)].collect()
    rows.groupBy(_._1).foreach { case (_, rs) =>
      assert(rs.map(_._4).toSeq == (1 to 5))
      assert(rs.map(_._3).toSeq == rs.map(_._3).sortBy(-_).toSeq)
    }
    topk.unpersist()
  }

  test("IVF ANN: high recall vs brute force on planted structure") {
    val queries = Seq(0L, 1L, 2L, 3L, 4L)
    val bf = Similarity.bruteForceTopK(emb, "vec_id", "embedding", queries, k = 5)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val ivf = Similarity.ivfTopK(emb, "vec_id", "embedding", queries, k = 5,
      nCells = 8, nprobe = 4)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val recall = (bf & ivf).size.toDouble / bf.size
    info(f"IVF recall@5 vs brute force: $recall%.2f")
    assert(recall >= 0.5, f"IVF recall $recall%.2f too low")
  }
}
