package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Blocking, ConnectedComponents, Eval, Linkage, Scoring, Similarity, StaticParser}
import graft.sources.Pages

/** The north-rule gates: pairwise F1 ≥ 0.99 on labeled pairs at shared
  * blocking keys; byte-identical extracted text per url; cluster sanity. */
class LinkageSpec extends AnyFunSuite with TempDirs {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  val N = 1800L // 600 entities × 3 variants
  lazy val pages = Pages.synthesize(spark, N, seed = 42L).toDF().persist()

  test("pages synthesis is deterministic and well-formed") {
    val again = Pages.synthesize(spark, N, seed = 42L).toDF()
    assert(pages.count() == N)
    assert(again.select(md5(col("text"))).as[String].collect().sorted.sameElements(
      pages.select(md5(col("text"))).as[String].collect().sorted))
    assert(pages.select("url").distinct().count() == N)
    assert(pages.filter(col("lang") === "tr").count() == N)
  }

  test("extraction: byte-identical per url, non-empty, address-bearing") {
    val ex = Linkage.extract(pages)
    assert(ex.filter(length(col("extracted")) > 0).count() == N)
    // determinism across independent runs
    val a = Linkage.extract(pages).select("url", "extracted")
    val b = Linkage.extract(Pages.synthesize(spark, N, 42L).toDF()).select("url", "extracted")
    assert(a.except(b).count() == 0 && b.except(a).count() == 0)
  }

  test("same-entity pages share a blocking key") {
    val prep = Linkage.prepare(pages)
      .withColumn("gold", Pages.goldEntityId(col("url")))
    val span = prep.groupBy("gold").agg(countDistinct("block_key").as("nk")).persist()
    // every variant of an entity derives the same composite key
    assert(span.filter(col("nk") =!= 1).count() == 0)
    span.unpersist()
  }

  test("pairwise F1 >= 0.99 on labeled pairs at shared blocking keys") {
    val prep = Linkage.prepare(pages)
    val sc = Linkage.scored(prep).persist()
    val labeled = sc
      .withColumn("gold_a", Pages.goldEntityId(col("url_a")))
      .withColumn("gold_b", Pages.goldEntityId(col("url_b")))
      .withColumn("is_pos", col("gold_a") === col("gold_b"))
    val agg = labeled.agg(
      sum(when(col("is_pos") && col("is_match"), 1).otherwise(0)).as("tp"),
      sum(when(!col("is_pos") && col("is_match"), 1).otherwise(0)).as("fp"),
      sum(when(col("is_pos") && !col("is_match"), 1).otherwise(0)).as("fn"),
      count(lit(1)).as("n")).head()
    val (tp, fp, fn, n) = (agg.getLong(0), agg.getLong(1), agg.getLong(2), agg.getLong(3))
    val p = tp.toDouble / (tp + fp)
    val r = tp.toDouble / (tp + fn)
    val f1 = 2 * p * r / (p + r)
    info(f"pairs=$n tp=$tp fp=$fp fn=$fn precision=$p%.4f recall=$r%.4f f1=$f1%.4f")
    // meaningful gate needs both classes present among candidate pairs
    assert(tp + fn >= 1000, s"too few positive labeled pairs: ${tp + fn}")
    assert(fp + (n - tp - fp - fn) >= 50, "no negative labeled pairs at shared keys")
    assert(f1 >= 0.99, f"pairwise F1 $f1%.4f < 0.99 (p=$p%.4f r=$r%.4f)")
    sc.unpersist()
  }

  test("clustering: clusters are pure and complete wrt gold entities") {
    val idx = StaticParser.broadcastIndex(spark)
    val ents = Linkage.entities(pages, idx).persist()
    assert(ents.count() == N)
    val withGold = ents.withColumn("gold", Pages.goldEntityId(col("url")))
    // purity: no predicted entity spans two gold entities
    val impure = withGold.groupBy("entity_id").agg(countDistinct("gold").as("ng"))
      .filter(col("ng") > 1).count()
    // completeness: variants of one gold entity land in one cluster
    val split = withGold.groupBy("gold").agg(countDistinct("entity_id").as("ne"))
      .filter(col("ne") > 1).count()
    val nGold = withGold.select("gold").distinct().count()
    info(s"gold=$nGold impure=$impure split=$split")
    assert(impure == 0, s"$impure merged clusters")
    assert(split <= (nGold * 0.01).ceil.toLong, s"$split split entities of $nGold")
    ents.unpersist()
  }

  test("connected components: known graph") {
    val edges = Seq((1L, 2L), (2L, 3L), (7L, 8L), (10L, 10L), (4L, 5L), (5L, 6L), (6L, 4L))
      .toDF("src", "dst")
    val comps = ConnectedComponents.run(edges)
    val m = comps.as[(Long, Long)].collect().toMap
    assert(m(1L) == 1L && m(2L) == 1L && m(3L) == 1L)
    assert(m(7L) == 7L && m(8L) == 7L)
    assert(m(4L) == 4L && m(5L) == 4L && m(6L) == 4L)
    assert(!m.contains(10L) || m(10L) == 10L) // self-loop dropped
  }

  test("connected components on STRING node ids (url-scale collision safety)") {
    // north-rule 10^12 pages: 64-bit hash ids collide ~2.7e4 times; the
    // pipeline clusters on raw urls, so CC must be type-generic
    val edges = Seq(("u/b", "u/a"), ("u/a", "u/c"), ("x/2", "x/1"))
      .toDF("src", "dst")
    val m = ConnectedComponents.run(edges).as[(String, String)].collect().toMap
    assert(m("u/a") == "u/a" && m("u/b") == "u/a" && m("u/c") == "u/a")
    assert(m("x/1") == "x/1" && m("x/2") == "x/1")
    // the dictionary-id variant (the iteration runs on dense longs, ~5x less
    // CC shuffle width at scale) must produce the identical mapping
    val md = ConnectedComponents.runOnStrings(edges).as[(String, String)].collect().toMap
    assert(md == m, s"dictionary CC diverged: $md vs $m")
  }

  test("dictionary ids survive cache invalidation mid-iteration (recompute-proof)") {
    // Round-2 used monotonically_increasing_id pinned by persist+count; on a
    // real cluster a lost block recomputes and CAN renumber. The fix derives
    // mid = global sort rank of the key — a pure function of the key set. We
    // prove it by nuking every cached block after every star round, forcing
    // each subsequent dictionary read through full lineage recompute, and
    // asserting components unchanged vs the direct string run.
    val sc = Linkage.scored(Linkage.prepare(pages)).filter(col("is_match"))
      .select(col("url_a").as("src"), col("url_b").as("dst")).persist()
    val direct = ConnectedComponents.run(sc).as[(String, String)].collect().toMap
    val hostile = ConnectedComponents
      .runOnStrings(sc, onRound = _ => spark.catalog.clearCache())
      .as[(String, String)].collect().toMap
    assert(hostile == direct,
      s"renumbered under invalidation: ${hostile.toSet.diff(direct.toSet).take(3)} ...")
    // and the dictionary itself is deterministic across independent builds
    val ids = sc.select(col("src").as("id"))
      .union(sc.select(col("dst").as("id"))).distinct()
    val d1 = ConnectedComponents.stringDictionary(ids)
      .as[(String, Long)].collect().toMap
    val d2 = ConnectedComponents.stringDictionary(ids)
      .as[(String, Long)].collect().toMap
    assert(d1 == d2, "stringDictionary is not deterministic across builds")
    assert(d1.values.toSeq.sorted == (0L until d1.size.toLong),
      "mids are not dense 0..n-1")
    sc.unpersist()
  }

  test("dictionary CC equals direct string CC on a real match graph") {
    val sc = Linkage.scored(Linkage.prepare(pages)).filter(col("is_match"))
      .select(col("url_a").as("src"), col("url_b").as("dst")).persist()
    val direct = ConnectedComponents.run(sc).as[(String, String)].collect().toMap
    val viaDict = ConnectedComponents.runOnStrings(sc).as[(String, String)].collect().toMap
    assert(viaDict == direct,
      s"diverged on ${viaDict.toSet.diff(direct.toSet).take(3)} ...")
    sc.unpersist()
  }

  test("metaphone blocking: pipeline holds the F1 gate on the alternate phonetic") {
    // the north star names BOTH phonetic families ("via Soundex/Metaphone");
    // the pipeline must hold its quality gate under either
    val cfg = Linkage.Config(phonetic = "metaphone")
    val small = Pages.synthesize(spark, 3000).toDF()
    val prep = Linkage.prepare(small, cfg).persist()
    // same-entity pages share a metaphone block key
    val keysPerEntity = prep
      .withColumn("gold", Pages.goldEntityId(col("url")))
      .groupBy("gold").agg(countDistinct("block_key").as("nk"), count(lit(1)).as("n"))
    val split = keysPerEntity.filter(col("nk") > 1).count()
    val total = keysPerEntity.count()
    assert(split <= total / 20, s"$split of $total entities split across metaphone keys")
    // pairwise F1 at shared keys stays over the north-rule bar
    val sc = Linkage.scored(prep, cfg)
    val gold = sc.select(col("url_a"), col("url_b"),
      (Pages.goldEntityId(col("url_a")) === Pages.goldEntityId(col("url_b"))).as("is_pos"))
    val m = Eval.pairwiseMetrics(sc.select("url_a", "url_b", "is_match"), gold)
      .select("f1").as[Double].head()
    info(f"metaphone-blocked pairwise F1 = $m%.4f")
    assert(m >= 0.99, f"metaphone pipeline F1 $m%.4f under the 0.99 gate")
    prep.unpersist()
  }

  test("block-local union-find CC equals the star iteration on the match graph") {
    // the match graph is block-partitioned BY CONSTRUCTION (each record has
    // one block key; pairs form only inside a block) — under that property
    // runGrouped is one shuffle instead of ~4 per star round
    val sc = Linkage.scored(Linkage.prepare(pages)).filter(col("is_match"))
      .select(col("block_key"), col("url_a").as("src"), col("url_b").as("dst"))
      .persist()
    val star = ConnectedComponents
      .runOnStrings(sc.select("src", "dst")).as[(String, String)].collect().toMap
    val grouped = ConnectedComponents
      .runGrouped(sc, "block_key").as[(String, String)].collect().toMap
    assert(grouped == star,
      s"grouped CC diverged: ${grouped.toSet.diff(star.toSet).take(3)} ...")
    sc.unpersist()
  }

  test("resumable components stage equals the star iteration when hot blocks are salted") {
    import graft.plans.{ResumableLinkage, Snapshots}
    import org.apache.spark.sql.catalyst.plans.logical.Join
    val small = Pages.synthesize(spark, 600).toDF()
    val largest = Linkage.prepare(small).groupBy("block_key").count()
      .agg(max("count")).head().getLong(0)
    val cfg = Linkage.Config(maxBlock = math.max(1, (largest / 2).toInt))
    assert(largest > cfg.maxBlock)
    // shuffle regime: the broadcast regime never salts
    val thr = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val joins = Linkage.candidates(Linkage.prepare(small), cfg)
        .queryExecution.optimizedPlan.collect { case j: Join => j }
      assert(joins.exists(_.condition.exists(_.references.map(_.name).toSet("__i"))),
        "the salted triangle did not run")
      val root = tmpDir("salted-cc")
      ResumableLinkage.run(spark, small, "salted-600", root,
        StaticParser.broadcastIndex(spark), cfg).count()
      def snapshot(stage: String) = spark.read.parquet(Snapshots.dataPath(root, stage, 0))
      val committed = snapshot("components").as[(String, String)].collect()
      val star = ConnectedComponents.runOnStrings(snapshot("scored").filter(col("is_match"))
        .select(col("url_a").as("src"), col("url_b").as("dst")))
        .as[(String, String)].collect().toMap
      assert(star.nonEmpty && committed.length == star.size && committed.toMap == star,
        s"${committed.toSet.diff(star.toSet).take(3)} vs ${star.toSet.diff(committed.toSet).take(3)}")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thr)
  }

  test("grouped CC equals star CC on randomized block-partitioned graphs") {
    // the real match graph exercises one shape; random graphs exercise the
    // precondition's full space — chains, cliques, duplicate and reversed
    // edges, singleton groups (self-loops are deliberately excluded below:
    // outside the precondition, the clusterers legitimately differ there) —
    // per trial, both clusterers must produce the identical map
    val rnd = new scala.util.Random(20260817)
    (1 to 3).foreach { trial =>
      val edges = (0 until 40).flatMap { g =>
        val n = 1 + rnd.nextInt(8)
        val nodes = (0 until n).map(k => s"t${trial}_g${g}_n$k")
        // no self-loops: candidatePairs can never emit (x, x), and the two
        // clusterers legitimately differ there (union-find keeps a
        // self-loop-only node as a singleton; the star iteration drops it)
        val random = (0 until rnd.nextInt(6)).map { _ =>
          (nodes(rnd.nextInt(n)), nodes(rnd.nextInt(n))) }
          .filter { case (a, b) => a != b }
        val chain = nodes.sliding(2).collect {
          case Seq(a, b) if rnd.nextBoolean() => (a, b) }.toSeq
        (chain ++ random).map { case (a, b) => (s"grp$g", a, b) }
      }
      val df = edges.toDF("block_key", "src", "dst")
      val grouped = ConnectedComponents.runGrouped(df, "block_key")
        .as[(String, String)].collect().toMap
      val star = ConnectedComponents.runOnStrings(df.select("src", "dst"))
        .as[(String, String)].collect().toMap
      assert(grouped == star, s"trial $trial: " +
        s"${grouped.toSet.diff(star.toSet).take(3)} vs ${star.toSet.diff(grouped.toSet).take(3)}")
    }
  }

  test("entity ids are urls (no hash-derived ids reach clustering)") {
    val ents = Linkage.entities(pages, StaticParser.broadcastIndex(spark))
    assert(ents.schema("entity_id").dataType.typeName == "string")
    // every entity id is one of the member urls of its own cluster
    val bad = ents.groupBy("entity_id").agg(collect_set("url").as("urls"))
      .filter(!array_contains(col("urls"), col("entity_id"))).count()
    assert(bad == 0, s"$bad entity ids are not member urls")
  }

  test("saltedSelfJoin: all three plan paths yield identical pairs") {
    // 3 keys × 100 rows, maxBlock 10 ⇒ every key is hot (s = 10 each)
    val df = (0 until 300).map(i => (f"id$i%03d", s"k${i % 3}", s"p$i"))
      .toDF("id", "k", "norm")
    def pairs(maxBlock: Int, cap: Int): Set[String] =
      Blocking.saltedSelfJoin(df, Seq("k"), "id", Seq("norm"), maxBlock, cap)
        .collect().map(_.mkString("|")).toSet
    // broadcast regime: probe and salt skipped, plain broadcast join
    val bcast = pairs(maxBlock = 10, cap = 100000)
    assert(bcast.size == 3 * 100 * 99 / 2)
    // shuffle regime: probe decides between plain / split / window fallback
    val thr = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val plain = pairs(maxBlock = 100000, cap = 100000) // no hot keys: plain join
      val split = pairs(maxBlock = 10, cap = 100000)     // hot set collected: split
      val fallback = pairs(maxBlock = 10, cap = 2)       // 3 hot keys > cap 2: window triangle
      assert(plain == bcast, s"plain=${plain.size} bcast=${bcast.size}")
      assert(split == bcast, s"split=${split.size} bcast=${bcast.size}")
      assert(fallback == bcast, s"fallback=${fallback.size} bcast=${bcast.size}")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thr)
  }

  test("saltedSelfJoin fuzz: pair-set equality with the local reference join " +
    "across key distributions, payload arities, regimes, maxBlock and cap") {
    // property-grade evidence for the operator five pipelines inherit from
    // (round-5 verdict item 5): seeded random trials × {uniform, zipf,
    // all-hot, empty, multi-membership} key distributions × payload arity
    // 0-3 × 1-2 key columns × maxBlock {1,7,100000} × cap {1,100000} ×
    // BOTH regimes — every trial compared to an independent driver-local
    // reference (Scala groupBy + all ordered pairs), not to another Spark plan
    val rnd = new scala.util.Random(20260817)
    case class R(id: String, k1: String, k2: String, p: IndexedSeq[String])
    val thr = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      for (trial <- 0 until 20) {
        val dist = trial % 5 // 0 uniform, 1 zipf, 2 all-hot, 3 empty, 4 multi-membership
        val nKeyCols = 1 + trial % 2
        val nPay = rnd.nextInt(4)
        val maxBlock = Seq(1, 7, 100000)(trial % 3)
        val cap = Seq(1, 100000)((trial / 3) % 2)
        val n = if (dist == 3) 0 else 40 + rnd.nextInt(60)
        def oneKey(): String = dist match {
          case 1 => s"k${math.min(9, (math.pow(rnd.nextDouble(), 3) * 10).toInt)}"
          case 2 => "hot"
          case _ => s"k${rnd.nextInt(10)}"
        }
        val rows: Seq[R] = (0 until n).flatMap { i =>
          val id = f"id$i%04d"
          val pay = IndexedSeq.fill(3)(s"p${rnd.nextInt(5)}")
          val memberships = if (dist == 4) 1 + rnd.nextInt(2) else 1
          // multi-membership rows of one id carry DISTINCT keys (the LSH
          // shape: one doc in several band buckets), suffix-disambiguated
          (0 until memberships).map { m =>
            val k1 = if (dist != 2 && rnd.nextInt(20) == 0) null else oneKey() + (if (m > 0) "m" else "")
            R(id, k1, s"b${rnd.nextInt(3)}", pay)
          }
        }
        val df = spark.createDataFrame(
          spark.sparkContext.parallelize(rows.map(r =>
            org.apache.spark.sql.Row(r.id, r.k1, r.k2, r.p(0), r.p(1), r.p(2))), 3),
          org.apache.spark.sql.types.StructType(
            Seq("id", "k1", "k2", "p0", "p1", "p2").map(c =>
              org.apache.spark.sql.types.StructField(c,
                org.apache.spark.sql.types.StringType, nullable = true))))
        val keyCols = Seq("k1", "k2").take(nKeyCols)
        val payCols = Seq("p0", "p1", "p2").take(nPay)
        // independent reference: group rows by key tuple, all ordered pairs
        val expected: Set[Seq[String]] = rows
          .filter(_.k1 != null)
          .groupBy(r => Seq(r.k1, r.k2).take(nKeyCols))
          .flatMap { case (k, rs) =>
            for (a <- rs; b <- rs if a.id < b.id)
              yield k ++ Seq(a.id, b.id) ++
                (0 until nPay).flatMap(i => Seq(a.p(i), b.p(i)))
          }.toSet
        for (regime <- Seq("10485760", "-1")) {
          spark.conf.set("spark.sql.autoBroadcastJoinThreshold", regime)
          val got = Blocking.saltedSelfJoin(df, keyCols, "id", payCols, maxBlock, cap)
            .collect().map(_.toSeq.map(String.valueOf).toSeq).toSet
          assert(got == expected,
            s"trial=$trial dist=$dist keys=$nKeyCols pay=$nPay maxBlock=$maxBlock " +
              s"cap=$cap regime=$regime: got=${got.size} expected=${expected.size} " +
              s"missing=${expected.diff(got).take(2)} extra=${got.diff(expected).take(2)}")
        }
      }
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thr)
  }

  test("runGrouped validate: rejects a graph whose node spans two groups") {
    // node "x" bridges groups g1 and g2: a–x–b is ONE component, but the
    // grouped union-find (correct only for block-partitioned graphs) would
    // split it — validate=true must fail fast instead
    val bad = Seq(("g1", "a", "x"), ("g2", "x", "b")).toDF("block_key", "src", "dst")
    val e = intercept[IllegalArgumentException] {
      ConnectedComponents.runGrouped(bad, "block_key", validate = true).count()
    }
    assert(e.getMessage.contains("precondition violated"))
    // and the silent-hazard shape it guards: without validate, x lands in
    // one group's component and the other side splits
    val comps = ConnectedComponents.runGrouped(bad, "block_key")
      .as[(String, String)].collect().toMap
    assert(comps.values.toSet.size == 2, "expected the documented silent split")
    // a genuinely block-partitioned graph passes validation unchanged
    val good = Seq(("g1", "a", "x"), ("g1", "x", "b"), ("g2", "c", "d"))
      .toDF("block_key", "src", "dst")
    val ok = ConnectedComponents.runGrouped(good, "block_key", validate = true)
      .as[(String, String)].collect().toMap
    assert(ok("b") == "a" && ok("x") == "a" && ok("d") == "c")
  }

  test("brute-force ANN paths reject an unbroadcastable query set") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val tooMany = (0L until (Similarity.MaxBruteForceQueries + 1).toLong)
    val e1 = intercept[IllegalArgumentException] {
      Similarity.bruteForceTopK(emb, "vec_id", "embedding", tooMany)
    }
    assert(e1.getMessage.contains("nested-loop"))
    val e2 = intercept[IllegalArgumentException] {
      Similarity.thresholdPairs(emb, "vec_id", "embedding", tooMany, 0.5)
    }
    assert(e2.getMessage.contains("nested-loop"))
  }

  test("salted candidate pairs equal unsalted pairs (skew correctness)") {
    val df = (0 until 300).map(i => (s"id$i%03d".format(i), s"k${i % 3}", s"payload$i"))
      .toDF("url", "block_key", "norm")
    def pairSet(maxBlock: Int): Set[(String, String)] =
      Blocking.candidatePairs(df, "block_key", "url", Seq("norm"), maxBlock)
        .select(least(col("url_a"), col("url_b")), greatest(col("url_a"), col("url_b")))
        .as[(String, String)].collect().toSet
    // shuffle regime so maxBlock=10 actually salts (broadcast regime skips it)
    val thr = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val unsalted = pairSet(maxBlock = 100000) // s = 1 everywhere
      val salted = pairSet(maxBlock = 10)       // s = 10 per block
      assert(unsalted.nonEmpty)
      assert(salted == unsalted, s"salted=${salted.size} unsalted=${unsalted.size}")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thr)
  }

  test("scoring metrics: reference values") {
    assert(Scoring.jaroWinkler("martha", "marhta") > 0.95)
    assert(math.abs(Scoring.jaro("dixon", "dicksonx") - 0.76666) < 1e-4)
    assert(Scoring.levenshtein("kitten", "sitting") == 3)
    assert(Scoring.tokenJaccard(Array("a", "b", "c"), Array("b", "c", "d")) == 0.5)
    assert(Scoring.jaroWinkler("", "") == 1.0)
    assert(Scoring.levSim("", "") == 1.0)
  }

  test("one-pass labeled pairwise metrics == join formulation (q_linkage_f1 shape)") {
    // r7 optimization: q_linkage_f1 labels the scored pairs by projection
    // instead of joining the relation with itself — must be row-identical
    val sc = Linkage.scored(Linkage.prepare(pages)).persist()
    val gold = sc.select(col("url_a"), col("url_b"),
      (Pages.goldEntityId(col("url_a")) === Pages.goldEntityId(col("url_b"))).as("is_pos"))
    val viaJoin = Eval.pairwiseMetrics(sc.select("url_a", "url_b", "is_match"), gold)
      .collect().toSeq
    val viaLabel = Eval.pairwiseMetricsLabeled(sc.select(col("is_match"),
      (Pages.goldEntityId(col("url_a")) === Pages.goldEntityId(col("url_b"))).as("is_pos")))
      .collect().toSeq
    assert(viaLabel == viaJoin)
    sc.unpersist()
  }
}
