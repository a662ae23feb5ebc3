package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.{TextFunctions, TrNormalize, TrText}
import graft.operators._
import graft.sources.{Gazetteer, Pages}

/** The driver-facing query catalog: one entry per operator family from
  * SURVEY.md §2, each over the read-only testdata tables where a DuckDB
  * oracle exists, plus the record-linkage pipeline queries over the
  * synthesized pages table (no SQL equivalent → rows-only checks).
  *
  * Conventions for oracle parity:
  *  - every computed column is aliased identically in Spark and SQL;
  *  - every query has a deterministic total ORDER BY;
  *  - floating-point outputs are rounded (sums to 2 decimals, ratios to 6 or
  *    coarser) so IEEE association order can't flip the comparison;
  *  - string ops on testdata are ASCII, so NFKC is the identity on both sides.
  */
object Queries {

  private def t(dir: String, name: String)(implicit spark: SparkSession): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  /** Pages-table size for pipeline queries, derived from the sf directory. */
  def pagesFor(dir: String): Long =
    if (dir.contains("sf0.1")) 60000L else if (dir.contains("sf0.01")) 6000L else 1800L

  // Shared linkage pipeline, one persisted copy per (session, scale): six
  // catalog queries read the prepared pages and three the scored pairs.
  private val prepCache = new SessionMemo[Long, DataFrame](_.unpersist(false))
  private val scoredCache = new SessionMemo[Long, DataFrame](_.unpersist(false))

  def preparedFor(s: SparkSession, dir: String): DataFrame =
    prepCache.getOrElseUpdate(s, pagesFor(dir))(
      Linkage.prepare(Pages.synthesize(s, pagesFor(dir)).toDF())
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))

  def scoredFor(s: SparkSession, dir: String): DataFrame =
    scoredCache.getOrElseUpdate(s, pagesFor(dir))(
      Linkage.scored(preparedFor(s, dir))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))

  /** Drop the memoized prepared/scored pipeline for `s` and unpersist its
    * cache blocks. Bench's cold-throughput pass calls this before each
    * sample so every run pays the full synthesize→extract→normalize→block→
    * pair→score path (the memo would otherwise turn samples 2+ into
    * cache-read measurements). */
  def resetPipelineCache(s: SparkSession): Unit = {
    prepCache.drop(s)
    scoredCache.drop(s)
  }

  /** Presentation sort over an expensive subtree: materialize the rows once
    * (session-tracked persist — freed by `Dedup.releaseCaches`, which Bench
    * and Verify call after every query) so the range partitioner's sampling
    * pass does not re-execute the whole child. A global `orderBy` samples its
    * child RDD to pick range bounds and then runs it again for the real
    * shuffle; for children that end in joins/kernels past the last exchange
    * that is a full second execution — measured 2× on q_entities
    * (4.1 s → 1.7 s, OPTIMIZATION_r07.md). Results are unchanged: the sort
    * itself is the query's deterministic presentation order. */
  private def sortedOnce(df: DataFrame, cols: String*): DataFrame =
    operators.Dedup.trackPersist(df).orderBy(cols.map(col): _*)

  /** One-time bucketed-layout write for q_bucketed_join, memoized per
    * (session, dir) and re-written when either table has been dropped:
    * returns the (orders, lineitem) catalog table names.
    * Names and paths derive from the sanitized dir string, so distinct data
    * dirs can never collide (the former `math.abs(dir.hashCode)` could).
    * The files live under the context's `SparkFiles` root, which Spark
    * deletes when the context stops. */
  private val bucketedCache = new SessionMemo[String, (String, String)]()

  private def bucketedFor(s: SparkSession, dir: String): (String, String) = {
    val tag = dir.replaceAll("[^A-Za-z0-9]", "_")
    val (ot, lt) = (s"g_orders_b_$tag", s"g_lineitem_b_$tag")
    // a memoized layout is served only while both tables still exist: a
    // caller (or a catalog reset) may drop them mid-session, and a dangling
    // name would fail the query instead of re-writing the layout
    if (!s.catalog.tableExists(ot) || !s.catalog.tableExists(lt)) bucketedCache.remove(s, dir)
    bucketedCache.getOrElseUpdate(s, dir) {
      implicit val sp: SparkSession = s
      val tmp = s"${org.apache.spark.SparkFiles.getRootDirectory()}/graft_bucketed_$tag"
      graft.plans.Bucketed.writeBucketed(
        t(dir, "orders").select("o_orderkey", "o_custkey"),
        ot, s"$tmp/orders", 8, Seq("o_orderkey"))
      graft.plans.Bucketed.writeBucketed(
        t(dir, "lineitem").select("l_orderkey", "l_quantity", "l_extendedprice"),
        lt, s"$tmp/lineitem", 8, Seq("l_orderkey"))
      (ot, lt)
    }
  }

  /** Fixed classifier fixture: one address per class A–J (all single-spaced,
    * so the oracle's space-anchored Turkish-keyword patterns are exact).
    * Declared BEFORE impls/oracles — both capture it at object init. */
  val GoldsetFixture: Seq[String] = Seq(
    "Erzene mahallesi 123 sokak Gazi caddesi no:4", // A
    "Erzene mah 123 sk no:4",                       // B
    "Erzene mahalle Gazi cadde 5",                  // C
    "Erzene mah 123 sokak",                         // D
    "Erzene mahallesi",                             // E
    "Folkart sitesi B blok",                        // F
    "Folkart sitesi B blok daire 3",                // G
    "Gazi caddesi 12",                              // H
    "Okul yanı Erzene mah",                         // I
    "hic bir sey yok burada")                       // J

  // ------------------------------------------------------------------------
  // Spark implementations
  // ------------------------------------------------------------------------

  val impls: Map[String, (SparkSession, String) => DataFrame] = Map(
    // --- normalization family (N-ops) ---
    "q_norm_punct" -> ((s, dir) => {
      implicit val sp = s
      t(dir, "customer").select(col("c_custkey"),
        TrNormalize.punct(col("c_name")).as("norm"))
        .orderBy("c_custkey")
    }),
    "q_tr_lower" -> ((s, dir) => {
      implicit val sp = s
      t(dir, "nation").select(col("n_nationkey"),
        TrText.trLower(col("n_name")).as("lname")).orderBy("n_nationkey")
    }),
    "q_norm_full_tr" -> ((s, dir) => {
      // full Turkish canon chain over synthesized addresses (keyed by page id;
      // no DuckDB oracle — lookbehind/lookahead regexes are not RE2-able)
      implicit val sp = s
      sortedOnce(Pages.synthesize(s, math.min(pagesFor(dir), 6000L)).toDF()
        .select(col("url"), TrNormalize.full(col("text")).as("norm")), "url")
    }),

    // --- string similarity (scoring family) ---
    "q_levenshtein" -> ((s, dir) => {
      implicit val sp = s
      t(dir, "part").select(col("p_partkey"),
        levenshtein(col("p_name"), col("p_type")).as("lev")).orderBy("p_partkey")
    }),
    "q_token_jaccard" -> ((s, dir) => {
      implicit val sp = s
      val a = array_distinct(split(col("p_name"), " "))
      val b = array_distinct(split(col("p_type"), " "))
      t(dir, "part").select(col("p_partkey"),
        round(size(array_intersect(a, b)) * lit(1.0) / size(array_union(a, b)), 6)
          .as("jacc")).orderBy("p_partkey")
    }),
    "q_jaro_winkler" -> ((s, dir) => {
      implicit val sp = s
      t(dir, "part").select(col("p_partkey"),
        round(graft.operators.ScoringUtil.jaroWinklerCol(
          col("p_name"), col("p_brand")), 4).as("jw")).orderBy("p_partkey")
    }),
    "q_soundex" -> ((s, dir) => {
      implicit val sp = s
      t(dir, "customer").select(col("c_custkey"),
        soundex(regexp_replace(col("c_name"), "[^A-Za-z]", "")).as("sdx"))
        .orderBy("c_custkey")
    }),
    // classic Metaphone as a native codegen expression — the alternate
    // phonetic block-key family the north star names (no DuckDB metaphone,
    // so rows-only; MetaphoneSpec pins the classic-algorithm goldens)
    "q_metaphone" -> ((s, dir) => {
      implicit val sp = s
      t(dir, "customer").select(col("c_custkey"),
        graft.functions.MetaphoneUtil.metaphoneCol(
          regexp_replace(col("c_name"), "[^A-Za-z]", "")).as("mph"))
        .orderBy("c_custkey")
    }),

    // --- relational core: agg / having / window / join / set / sort-limit ---
    "q_agg_lineitem" -> ((s, dir) => {
      implicit val sp = s
      t(dir, "lineitem").groupBy("l_returnflag", "l_linestatus").agg(
        sum("l_quantity").as("sum_qty"),
        count(lit(1)).as("n"),
        countDistinct("l_orderkey").as("n_orders"),
        round(avg("l_discount"), 4).as("avg_disc"))
        .orderBy("l_returnflag", "l_linestatus")
    }),
    "q_group_having" -> ((s, dir) => {
      implicit val sp = s
      // orders-per-customer keeps the HAVING selective but non-empty at
      // every scale factor (supplier-per-nation was empty at sf0.001)
      t(dir, "orders").groupBy("o_custkey").agg(count(lit(1)).as("n"))
        .filter(col("n") > 5).orderBy("o_custkey")
    }),
    "q_topk_window" -> ((s, dir) => {
      implicit val sp = s
      val w = Window.partitionBy("o_custkey")
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      t(dir, "orders").withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 3)
        .select(col("o_custkey"), col("o_orderkey"), col("rk"))
        .orderBy("o_custkey", "rk")
    }),
    "q_join_agg" -> ((s, dir) => {
      implicit val sp = s
      t(dir, "orders").join(broadcast(t(dir, "customer")),
          col("o_custkey") === col("c_custkey"))
        .groupBy("c_mktsegment").agg(
          count(lit(1)).as("n"),
          round(sum("o_totalprice"), 2).as("revenue"))
        .orderBy("c_mktsegment")
    }),
    "q_bucketed_join" -> ((s, dir) => {
      implicit val sp = s
      // co-located join: both sides bucketed+sorted on the join key at write
      // time, so the join AND the bucket-key aggregation plan with NO
      // Exchange (PlanSpec asserts it; only the final presentation ORDER BY
      // shuffles). The 100-TB posture for every repeated equi-join in the
      // pipeline — see plans/Bucketed.scala. Results are layout-invariant,
      // hence the plain-SQL oracle. The one-time layout write is memoized per
      // (session, dir) — paying the bucket shuffle ONCE is the operator's
      // entire point, and re-writing both tables per invocation made a
      // catalog query carry a write side effect (r6 verdict item 4). Table
      // names/paths derive from the sanitized dir (collision-free across
      // data dirs — r6 ADVICE: hashCode collisions silently shared a path).
      val (ordersTbl, lineitemTbl) = bucketedFor(s, dir)
      s.table(lineitemTbl)
        .join(s.table(ordersTbl), col("l_orderkey") === col("o_orderkey"))
        .groupBy("o_orderkey").agg(
          round(sum("l_quantity"), 2).as("sum_qty"),
          round(sum("l_extendedprice"), 2).as("sum_price"),
          count(lit(1)).as("n_lines"))
        .orderBy("o_orderkey")
    }),
    "q_set_ops" -> ((s, dir) => {
      implicit val sp = s
      t(dir, "customer").select(col("c_mktsegment").as("v")).distinct()
        .union(t(dir, "orders").select(col("o_orderpriority").as("v")).distinct())
        .distinct().orderBy("v")
    }),
    "q_sort_limit" -> ((s, dir) => {
      implicit val sp = s
      t(dir, "part").orderBy(col("p_retailprice").desc, col("p_partkey"))
        .select("p_partkey", "p_retailprice").limit(10)
    }),
    "q_events_window" -> ((s, dir) => {
      implicit val sp = s
      t(dir, "events")
        .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
        .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("sum_value"))
        .select(col("w.start").as("bucket"), col("event_type"), col("n"), col("sum_value"))
        .orderBy("bucket", "event_type")
    }),
    "q_extract_regex" -> ((s, dir) => {
      implicit val sp = s
      t(dir, "events").select(col("event_id"),
        regexp_extract(col("props"), "(\\d+)", 1).as("num")).orderBy("event_id")
    }),

    // --- text analysis over documents ---
    "q_token_count" -> ((s, dir) => {
      implicit val sp = s
      t(dir, "documents").select(col("doc_id"),
        TextFunctions.tokenCount(col("text")).as("n_tokens"),
        TextFunctions.subwordCount(col("text")).as("n_subwords"))
        .orderBy("doc_id")
    }),
    "q_lang_id" -> ((s, dir) => {
      implicit val sp = s
      t(dir, "documents").select(col("doc_id"),
        TextFunctions.langId(col("text")).as("lang")).orderBy("doc_id")
    }),
    "q_quality" -> ((s, dir) => {
      implicit val sp = s
      t(dir, "documents").select(col("doc_id"),
        round(TextFunctions.punctRatio(col("text")), 6).as("punct_ratio"),
        round(TextFunctions.enStopwordRatio(col("text")), 6).as("stop_ratio"))
        .orderBy("doc_id")
    }),
    "q_rolling_fp" -> ((s, dir) => {
      implicit val sp = s
      t(dir, "documents").select(col("doc_id"),
        TextFunctions.rollingFingerprint(col("text")).as("fp")).orderBy("doc_id")
    }),
    "q_tokens_offsets" -> ((s, dir) => {
      implicit val sp = s
      sortedOnce(t(dir, "documents").select(col("doc_id"),
        posexplode(TextFunctions.tokensWithOffsets(col("text"))))
        .select(col("doc_id"), col("pos"),
          col("col.tok").as("tok"), col("col.start").as("start"), col("col.end").as("end")),
        "doc_id", "pos")
    }),

    // --- dedup family over documents ---
    "q_dedup_exact" -> ((s, dir) => {
      implicit val sp = s
      Dedup.exact(t(dir, "documents"), "doc_id", "text").orderBy("doc_id")
    }),
    "q_dedup_bow" -> ((s, dir) => {
      implicit val sp = s
      Dedup.bagOfWords(t(dir, "documents"), "doc_id", "text").orderBy("doc_id")
    }),
    "q_minhash_pairs" -> ((s, dir) => {
      implicit val sp = s
      // plain orderBy, NOT sortedOnce: past the last exchange these pair
      // queries only re-run a cheap final aggregate on the sampling pass —
      // the persist costs more than it saves (A/B in OPTIMIZATION_r07.md)
      Dedup.minhashPairs(t(dir, "documents"), "doc_id", "text", threshold = 0.5)
        .orderBy("id_a", "id_b")
    }),
    "q_simhash_pairs" -> ((s, dir) => {
      implicit val sp = s
      Dedup.simhashPairs(t(dir, "documents"), "doc_id", "text", maxHamming = 3)
        .orderBy("id_a", "id_b")
    }),
    "q_ngram_jaccard" -> ((s, dir) => {
      implicit val sp = s
      sortedOnce(Dedup.ngramJaccardPairs(t(dir, "documents"), "doc_id", "text",
        threshold = 0.8), "id_a", "id_b")
    }),
    "q_embed_dedup" -> ((s, dir) => {
      implicit val sp = s
      // the natural corpus has no near-identical vectors; plant 20
      // deterministic duplicates (id + 10^6) so the operator's recall is
      // actually exercised — it must find exactly these
      val base = t(dir, "embeddings").select(col("vec_id"), col("embedding"))
      val planted = base.union(base.filter(col("vec_id") < 20)
        .select(col("vec_id") + 1000000L, col("embedding")))
      // round cos to 2dp for the cross-engine oracle hash (the exact all-
      // pairs SQL twin is sound here: the planted dups are IDENTICAL vectors
      // — always found, every band signature equal — and the natural corpus
      // has zero pairs within 0.985 of the 0.99 threshold, measured, so LSH
      // recall is exactly 1 on this input and output = the SQL's answer)
      Dedup.embeddingPairs(planted, "vec_id", "embedding", threshold = 0.99)
        .withColumn("cos", round(col("cos"), 2))
        .orderBy("id_a", "id_b")
    }),

    // --- similarity search over embeddings ---
    "q_ann_threshold" -> ((s, dir) => {
      implicit val sp = s
      Similarity.thresholdPairs(t(dir, "embeddings"), "vec_id", "embedding",
          queryIds = (0L until 8L), minCos = 0.2)
        .withColumn("cos", round(col("cos"), 2))
        .orderBy("query_id", "neighbor_id")
    }),
    "q_ann_topk" -> ((s, dir) => {
      implicit val sp = s
      // cos rounded to 2dp for the oracle hash; rank long to match DuckDB's
      // row_number type. Rank order is decided by the full-precision cosine
      // (neighbor_id tie-break) — safe cross-engine: the smallest consecutive
      // top-k cosine gap on this data is ~2e-4, far above float error.
      Similarity.bruteForceTopK(t(dir, "embeddings"), "vec_id", "embedding",
          queryIds = (0L until 8L), k = 5)
        .withColumn("cos", round(col("cos"), 2))
        .withColumn("rank", col("rank").cast("long"))
        .orderBy("query_id", "rank")
    }),
    "q_ann_ivf" -> ((s, dir) => {
      implicit val sp = s
      Similarity.ivfTopK(t(dir, "embeddings"), "vec_id", "embedding",
        queryIds = (0L until 8L), k = 5, nCells = 16, nprobe = 4)
        .orderBy("query_id", "rank")
    }),

    // --- gazetteer lookups (G-ops; synthesized table, rows-only) ---
    "q_gaz_admin_counts" -> ((s, dir) => Gazetteer.adminCounts(Gazetteer.dataFrame(s))),
    "q_gaz_nbhds" -> ((s, dir) =>
      Gazetteer.neighbourhoodsOf(Gazetteer.dataFrame(s), Some("izmir"), None)),

    // --- record-linkage pipeline over synthesized pages (rows-only);
    //     prepared/scored stages are shared via preparedFor/scoredFor ---
    "q_pages_extract" -> ((s, dir) =>
      preparedFor(s, dir).select("url", "extracted").orderBy("url")),
    "q_pages_parse" -> ((s, dir) => {
      sortedOnce(
        StaticParser.parse(preparedFor(s, dir).select("url", "extracted"), "extracted",
          StaticParser.broadcastIndex(s))
          .select("url", "province", "district", "neighbourhood"), "url")
    }),
    "q_parse_full_gaz" -> ((s, dir) => {
      // hierarchical parse against the reference-scale (73,305-row) gazetteer
      sortedOnce(
        StaticParser.parse(preparedFor(s, dir).select("url", "extracted"), "extracted",
          StaticParser.broadcastIndex(s, Gazetteer.rowsFull))
          .select("url", "province", "district", "neighbourhood"), "url")
    }),
    "q_block_stats" -> ((s, dir) =>
      preparedFor(s, dir)
        .groupBy("block_key").agg(count(lit(1)).as("n")).orderBy("block_key")),
    "q_scored_pairs" -> ((s, dir) =>
      scoredFor(s, dir)
        .select(col("url_a"), col("url_b"), round(col("score"), 4).as("score"),
          col("is_match")).orderBy("url_a", "url_b")),
    "q_entities" -> ((s, dir) =>
      sortedOnce(Linkage.entitiesFrom(preparedFor(s, dir), scoredFor(s, dir),
        StaticParser.broadcastIndex(s)), "url")),

    // --- NER output surface (E2-E8), BIO corpus (S1-S9), goldset (Q1-Q3),
    //     eval (V2) — rows-only ---
    "q_ner_outputs" -> ((s, dir) => {
      val prep = Linkage.extract(Pages.synthesize(s, math.min(pagesFor(dir), 6000L)).toDF())
        .withColumn("norm", TrNormalize.static(col("extracted")))
      NerOutputs.process(prep, "url", "norm", StaticParser.broadcastIndex(s)).toDF()
        .select("url", "pred_tags", "entities_flat").orderBy("url")
    }),
    "q_bio_stats" -> ((s, dir) =>
      graft.sources.Bio.stats(graft.sources.Bio.synthesize(s, math.min(pagesFor(dir), 20000L)))),
    "q_bio_avenues" -> ((s, dir) =>
      // S8 top-10 avenue tally (ref generate_A2E_BIO_synth.py:270-274)
      graft.sources.Bio.topAvenues(
        graft.sources.Bio.synthesize(s, math.min(pagesFor(dir), 20000L)))),
    "q_gold_eval" -> ((s, dir) =>
      // per-type + micro PRF of the rule extractor on the reference's real
      // gold corpora (the reference's own published-metric surface)
      GoldEval.evaluate(s).orderBy("entity_type")),
    "q_gold_confusion" -> ((s, dir) =>
      // TYPE-only token confusion matrix on the same corpora (notebook cell 28)
      GoldEval.confusion(s)),
    "q_gold_by_corpus" -> ((s, dir) =>
      // per-HELD-OUT-corpus micro PRF under the leave-one-out protocol
      GoldEval.evaluateByCorpus(s)),
    "q_minhash_clusters" -> ((s, dir) => {
      implicit val sp = s
      sortedOnce(Dedup.minhashClusters(t(dir, "documents"), "doc_id", "text",
        threshold = 0.5), "id")
    }),
    "q_goldset_classes" -> ((s, dir) => {
      val ex = Linkage.extract(Pages.synthesize(s, pagesFor(dir)).toDF())
      Goldset.tokenStats(Goldset.classify(ex, "extracted"), "extracted")
    }),
    "q_goldset_fixture" -> ((s, dir) => {
      // classifier over a fixed address fixture covering every class A–J —
      // DuckDB-oracled (the VALUES twin runs the same priority CASE in RE2)
      import s.implicits._
      Goldset.classify(GoldsetFixture.toDF("addr"), "addr")
        .select("addr", "gold_class").orderBy("addr")
    }),
    "q_incremental_state" -> ((s, dir) => {
      // two-batch incremental linkage over a split of the pages table; the
      // final scored state must equal the full recompute (asserted in
      // SnapshotStreamingSpec; here the state is the checkable output)
      import s.implicits._
      val n = math.min(pagesFor(dir), 6000L)
      val all = Pages.synthesize(s, n).toDF()
      val a = all.filter(Pages.goldEntityId(col("url")) < n / 6)
      val b = all.filter(Pages.goldEntityId(col("url")) >= n / 6)
      val s1 = graft.streaming.IncrementalLinkage.step(
        Linkage.prepare(a).limit(0), s.emptyDataset[ScoredPair].toDF(), a)
      val s2 = graft.streaming.IncrementalLinkage.step(s1.prepared, s1.scored, b)
      s2.scored.select(col("url_a"), col("url_b"),
        round(col("score"), 4).as("score"), col("is_match")).orderBy("url_a", "url_b")
    }),
    "q_incremental_dedup" -> ((s, dir) => {
      // two-batch incremental MinHash dedup over a split of the documents
      // table; the accumulated pair state must equal the full-corpus
      // minhashPairs run (asserted in IncrementalDedupSpec — here the state
      // is the checkable output; no DuckDB oracle: engine-hash LSH)
      implicit val sp = s
      val docs = t(dir, "documents")
      val a = docs.filter(col("doc_id") % 3 =!= 0)
      val b = docs.filter(col("doc_id") % 3 === 0)
      val fam = graft.streaming.IncrementalDedup.MinHash(threshold = 0.5)
      val st0 = graft.streaming.IncrementalDedup.empty(fam, docs)
      val s1 = graft.streaming.IncrementalDedup.step(fam, st0, a)
      val s2 = graft.streaming.IncrementalDedup.step(fam, s1.state, b)
      s2.state.pairs.orderBy("id_a", "id_b")
    }),
    "q_incremental_simhash" -> ((s, dir) => {
      // two-batch incremental SimHash over the same split; accumulated pairs
      // must equal the full-corpus simhashPairs run (IncrementalDedupSpec);
      // no DuckDB oracle: engine-hash LSH
      implicit val sp = s
      val docs = t(dir, "documents")
      val a = docs.filter(col("doc_id") % 3 =!= 0)
      val b = docs.filter(col("doc_id") % 3 === 0)
      val fam = graft.streaming.IncrementalDedup.SimHash()
      val st0 = graft.streaming.IncrementalDedup.empty(fam, docs)
      val s1 = graft.streaming.IncrementalDedup.step(fam, st0, a)
      val s2 = graft.streaming.IncrementalDedup.step(fam, s1.state, b)
      s2.state.pairs.orderBy("id_a", "id_b")
    }),
    "q_incremental_cc" -> ((s, dir) => {
      // incremental connected components over a DuckDB-expressible graph:
      // consecutive-custkey chain edges within each nation, split into two
      // hash-interleaved batches so cross-batch merging is exercised — the
      // accumulated assignment must label every customer with its nation's
      // minimum custkey (singleton nations cluster with themselves), which
      // the oracle states directly as MIN OVER (PARTITION BY nation)
      implicit val sp = s
      val cust = t(dir, "customer").select(col("c_custkey"), col("c_nationkey"))
      val w = Window.partitionBy("c_nationkey").orderBy("c_custkey")
      val edges = cust.withColumn("nxt", lead("c_custkey", 1).over(w))
        .filter(col("nxt").isNotNull)
        .select(col("c_custkey").as("src"), col("nxt").as("dst"))
      val a = edges.filter(pmod(xxhash64(col("src"), col("dst")), lit(2)) === 0)
      val b = edges.filter(pmod(xxhash64(col("src"), col("dst")), lit(2)) === 1)
      var assign = graft.streaming.IncrementalCC.empty(edges)
      assign = graft.streaming.IncrementalCC.step(assign, a).assign
      assign = graft.streaming.IncrementalCC.step(assign, b).assign
      cust.select(col("c_custkey").as("id"))
        .join(assign, Seq("id"), "left")
        .select(col("id"), coalesce(col("component"), col("id")).as("component"))
        .orderBy("id")
    }),
    "q_incremental_ngram" -> ((s, dir) => {
      // two-batch incremental n-gram Jaccard (exact PPJoin under the
      // content-hash prefix order) over the same split; accumulated pairs
      // must equal the frequency-ordered full ngramJaccardPairs run
      // (IncrementalDedupSpec); no DuckDB oracle: the hash prefix order and
      // salted candidate join are engine constructions — the VERIFIED pair
      // set itself is oracled via q_ngram_jaccard's brute-force SQL twin
      implicit val sp = s
      val docs = t(dir, "documents")
      val a = docs.filter(col("doc_id") % 3 =!= 0)
      val b = docs.filter(col("doc_id") % 3 === 0)
      val fam = graft.streaming.IncrementalDedup.Ngram(threshold = 0.8)
      val st0 = graft.streaming.IncrementalDedup.empty(fam, docs)
      val s1 = graft.streaming.IncrementalDedup.step(fam, st0, a)
      val s2 = graft.streaming.IncrementalDedup.step(fam, s1.state, b)
      s2.state.pairs.orderBy("id_a", "id_b")
    }),
    "q_incremental_embed" -> ((s, dir) => {
      // two-batch incremental embedding-LSH dedup with the q_embed_dedup
      // planted duplicates split across batches; accumulated pairs must
      // equal the full embeddingPairs run (IncrementalDedupSpec); no DuckDB
      // oracle: engine-hash LSH banding
      implicit val sp = s
      val base = t(dir, "embeddings").select(col("vec_id"), col("embedding"))
      val vecs = base.union(base.filter(col("vec_id") < 20)
        .select((col("vec_id") + 1000000L).as("vec_id"), col("embedding")))
      val a = vecs.filter(col("vec_id") % 3 =!= 0)
      val b = vecs.filter(col("vec_id") % 3 === 0)
      val fam = graft.streaming.IncrementalDedup.Embed(threshold = 0.99)
      val st0 = graft.streaming.IncrementalDedup.empty(fam, vecs)
      val s1 = graft.streaming.IncrementalDedup.step(fam, st0, a)
      val s2 = graft.streaming.IncrementalDedup.step(fam, s1.state, b)
      s2.state.pairs.withColumn("cos", round(col("cos"), 2))
        .orderBy("id_a", "id_b")
    }),
    "q_linkage_f1" -> ((s, dir) => {
      // The gold label is a pure function of the pair's OWN urls, so labeling
      // is a projection of the scored relation — one cache scan + one
      // aggregate. The former pred-join-gold formulation scanned the cache
      // twice and paid a (url_a, url_b) shuffle join for an identity attach
      // (row-identical by construction; LinkageSpec pins the equality).
      val sc = scoredFor(s, dir)
      Eval.pairwiseMetricsLabeled(sc.select(col("is_match"),
        (Pages.goldEntityId(col("url_a")) === Pages.goldEntityId(col("url_b"))).as("is_pos")))
    })
  )

  // ------------------------------------------------------------------------
  // DuckDB oracle SQL (only for queries whose semantics are SQL-expressible
  // over the same parquet tables; RE2 quirks: no lookaround → capture-group
  // twins of the lookahead patterns, global flag 'g' explicit). Whitespace
  // tokenization uses the explicit class '[ \t\n\x0b\f\r]+' — Java's \s (the
  // engine tokenizer) includes vertical tab, RE2's \s does not, so a bare
  // '\s+' oracle would silently rely on the corpus never containing VT
  // (ADVICE r5); the explicit class makes both tokenizers agree on ANY input.
  // ------------------------------------------------------------------------

  private val normPunctSql =
    """WITH t0 AS (SELECT c_custkey, trim(regexp_replace(c_name, '\s+', ' ', 'g')) AS s FROM customer),
      |t1 AS (SELECT c_custkey, trim(regexp_replace(regexp_replace(s, '\s*([,;:/\-\._])\s*', ' \1 ', 'g'), '\s+', ' ', 'g')) AS s FROM t0),
      |t2 AS (SELECT c_custkey, trim(regexp_replace(regexp_replace(regexp_replace(s, '[.,]', ' ', 'g'), '(\p{P})', ' \1 ', 'g'), '\s+', ' ', 'g')) AS s FROM t1),
      |t3 AS (SELECT c_custkey, trim(regexp_replace(regexp_replace(regexp_replace(s, '([A-Za-zÇĞİÖŞÜçğıöşü])(\d)', '\1 \2', 'g'), '(\d)([A-Za-zÇĞİÖŞÜçğıöşü])', '\1 \2', 'g'), '\s+', ' ', 'g')) AS s FROM t2)
      |SELECT c_custkey, s AS norm FROM t3 ORDER BY c_custkey""".stripMargin

  val oracles: Map[String, String] = Map(
    "q_norm_punct" -> normPunctSql,
    // chain edges make each nation ONE component labeled by its min custkey;
    // a singleton nation is its own component — exactly MIN OVER (PARTITION)
    "q_incremental_cc" ->
      """SELECT c_custkey AS id,
        | MIN(c_custkey) OVER (PARTITION BY c_nationkey) AS component
        |FROM customer ORDER BY id""".stripMargin,
    "q_tr_lower" ->
      "SELECT n_nationkey, lower(translate(n_name, 'İI', 'iı')) AS lname FROM nation ORDER BY n_nationkey",
    "q_levenshtein" ->
      "SELECT p_partkey, levenshtein(p_name, p_type) AS lev FROM part ORDER BY p_partkey",
    "q_token_jaccard" ->
      """SELECT p_partkey, round(len(list_filter(a, x -> list_contains(b, x))) * 1.0 /
        | len(list_distinct(list_concat(a, b))), 6) AS jacc
        |FROM (SELECT p_partkey, list_distinct(string_split(p_name, ' ')) AS a,
        |             list_distinct(string_split(p_type, ' ')) AS b FROM part)
        |ORDER BY p_partkey""".stripMargin,
    "q_jaro_winkler" ->
      "SELECT p_partkey, round(jaro_winkler_similarity(p_name, p_brand), 4) AS jw FROM part ORDER BY p_partkey",
    "q_agg_lineitem" ->
      """SELECT l_returnflag, l_linestatus, sum(l_quantity) AS sum_qty, count(*) AS n,
        | count(DISTINCT l_orderkey) AS n_orders, round(avg(l_discount), 4) AS avg_disc
        |FROM lineitem GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus""".stripMargin,
    "q_group_having" ->
      "SELECT o_custkey, count(*) AS n FROM orders GROUP BY o_custkey HAVING count(*) > 5 ORDER BY o_custkey",
    "q_topk_window" ->
      """SELECT o_custkey, o_orderkey, rk FROM (
        | SELECT o_custkey, o_orderkey,
        |  row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rk
        | FROM orders) WHERE rk <= 3 ORDER BY o_custkey, rk""".stripMargin,
    "q_join_agg" ->
      """SELECT c_mktsegment, count(*) AS n, round(sum(o_totalprice), 2) AS revenue
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,
    "q_bucketed_join" ->
      """SELECT o_orderkey, round(sum(l_quantity), 2) AS sum_qty,
        | round(sum(l_extendedprice), 2) AS sum_price, count(*) AS n_lines
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY o_orderkey ORDER BY o_orderkey""".stripMargin,
    "q_set_ops" ->
      """SELECT DISTINCT c_mktsegment AS v FROM customer
        |UNION SELECT DISTINCT o_orderpriority AS v FROM orders ORDER BY v""".stripMargin,
    "q_sort_limit" ->
      "SELECT p_partkey, p_retailprice FROM part ORDER BY p_retailprice DESC, p_partkey LIMIT 10",
    "q_events_window" ->
      """SELECT time_bucket(INTERVAL 1 HOUR, ts) AS bucket, event_type,
        | count(*) AS n, round(sum(value), 2) AS sum_value
        |FROM events GROUP BY 1, 2 ORDER BY bucket, event_type""".stripMargin,
    "q_extract_regex" ->
      "SELECT event_id, regexp_extract(props, '(\\d+)', 1) AS num FROM events ORDER BY event_id",
    "q_token_count" ->
      """SELECT doc_id, len(list_filter(string_split_regex(text, '[ \t\n\x0b\f\r]+'), x -> len(x) > 0)) AS n_tokens,
        | len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS n_subwords
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q_lang_id" ->
      s"""WITH r AS (SELECT doc_id,
         | len(list_filter(string_split_regex(lower(text), '[ \\t\\n\\x0b\\f\\r]+'), x -> list_contains(${duckList(TextFunctions.EnStopwords)}, x))) * 1.0
         |   / len(list_filter(string_split_regex(lower(text), '[ \\t\\n\\x0b\\f\\r]+'), x -> len(x) > 0)) AS enr,
         | len(list_filter(string_split_regex(lower(text), '[ \\t\\n\\x0b\\f\\r]+'), x -> list_contains(${duckList(TextFunctions.TrStopwords)}, x))) * 1.0
         |   / len(list_filter(string_split_regex(lower(text), '[ \\t\\n\\x0b\\f\\r]+'), x -> len(x) > 0)) AS trr
         |FROM documents)
         |SELECT doc_id, CASE WHEN enr >= trr AND enr > 0.03 THEN 'en'
         |  WHEN trr > enr AND trr > 0.03 THEN 'tr' ELSE 'und' END AS lang
         |FROM r ORDER BY doc_id""".stripMargin,
    "q_quality" ->
      """SELECT doc_id,
        | round(len(regexp_extract_all(text, '\p{P}')) * 1.0 / len(text), 6) AS punct_ratio,
        | round(len(list_filter(string_split_regex(lower(text), '[ \t\n\x0b\f\r]+'),
        |   x -> list_contains(['the','a','an','of','and','or','to','in','is','it','on','for','with','as','at','by','this','that','be','are'], x))) * 1.0
        |   / len(list_filter(string_split_regex(lower(text), '[ \t\n\x0b\f\r]+'), x -> len(x) > 0)), 6) AS stop_ratio
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q_dedup_exact" ->
      """SELECT doc_id, md5(text) AS content_hash,
        | min(doc_id) OVER (PARTITION BY md5(text)) AS rep_id
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q_dedup_bow" ->
      """WITH h AS (SELECT doc_id,
        |  md5(array_to_string(list_sort(list_distinct(list_filter(string_split_regex(text, '[ \t\n\x0b\f\r]+'), x -> len(x) > 0))), ' ')) AS bow_hash
        | FROM documents)
        |SELECT doc_id, bow_hash, min(doc_id) OVER (PARTITION BY bow_hash) AS rep_id
        |FROM h ORDER BY doc_id""".stripMargin,
    // token offsets: documents are single-space tokenized (verified corpus
    // property), so start = windowed Σ(len+1) of preceding tokens; the Spark
    // side's instr-fold handles arbitrary whitespace and must agree here
    "q_tokens_offsets" ->
      """WITH l AS (SELECT doc_id, string_split(text, ' ') AS ls FROM documents),
        |t AS (SELECT doc_id, unnest(ls) AS tok,
        |  CAST(generate_subscripts(ls, 1) - 1 AS INTEGER) AS pos FROM l),
        |o AS (SELECT doc_id, pos, tok,
        |  CAST(coalesce(sum(len(tok) + 1) OVER (PARTITION BY doc_id ORDER BY pos
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS INTEGER) AS "start" FROM t)
        |SELECT doc_id, pos, tok, "start", CAST("start" + len(tok) AS INTEGER) AS "end"
        |FROM o ORDER BY doc_id, pos""".stripMargin,
    // classifier fixture: same priority CASE over the same VALUES; Turkish
    // keywords use space-anchored groups (RE2 \b is ASCII-only)
    "q_goldset_fixture" -> {
      val values = GoldsetFixture.map(a => s"('$a')").mkString(",\n ")
      s"""WITH a(addr) AS (VALUES\n $values),
         |m AS (SELECT addr,
         | regexp_matches(addr, '\\bmah(alle(si)?)?\\b|\\bmh\\b', 'i') AS nbhd,
         | regexp_matches(addr, '\\bsok(ak)?\\b|\\bsk\\b', 'i') AS street,
         | regexp_matches(addr, '\\bcad(de(si)?)?\\b|\\bcd\\b', 'i') AS avenue,
         | regexp_matches(addr, '(^| )(bulvarı?|blv)( |$$)', 'i') AS blvd,
         | regexp_matches(addr, '\\bsite(si)?\\b|\\bblok\\b|\\bapartman\\b|\\bplaza\\b', 'i') AS site,
         | regexp_matches(addr, '\\bno\\s*[:.]?\\s*\\d+', 'i') AS bno,
         | regexp_matches(addr, '\\bdaire\\b|\\bd\\s*[:.]\\s*\\d+|\\bkat\\b', 'i') AS flat,
         | regexp_matches(addr, '(^| )(karşısı|yanı|arkası|yakını?)( |$$)', 'i') AS tarif
         | FROM a)
         |SELECT addr, CASE
         | WHEN tarif THEN 'I'
         | WHEN site AND flat THEN 'G'
         | WHEN site THEN 'F'
         | WHEN nbhd AND avenue AND street THEN 'A'
         | WHEN nbhd AND street AND bno THEN 'B'
         | WHEN nbhd AND avenue THEN 'C'
         | WHEN nbhd AND street THEN 'D'
         | WHEN nbhd THEN 'E'
         | WHEN street OR avenue OR blvd THEN 'H'
         | ELSE 'J' END AS gold_class
         |FROM m ORDER BY addr""".stripMargin
    },
    // gazetteer lookups: the 41-row normalized gazetteer embedded as a
    // VALUES twin (the q_goldset_fixture pattern) — keys are ascii after
    // static normalization, so the literals are collation-safe
    "q_gaz_admin_counts" ->
      s"""WITH gaz(province, district, neighbourhood, postcode) AS (VALUES
         | $gazValues)
         |SELECT province, count(DISTINCT district) AS n_districts,
         | count(DISTINCT district || '|' || neighbourhood) AS n_neighbourhoods
         |FROM gaz GROUP BY province ORDER BY province""".stripMargin,
    "q_gaz_nbhds" ->
      s"""WITH gaz(province, district, neighbourhood, postcode) AS (VALUES
         | $gazValues)
         |SELECT DISTINCT neighbourhood FROM gaz WHERE province = 'izmir'
         |ORDER BY neighbourhood""".stripMargin,
    "q_ann_threshold" ->
      """SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        | round(round(list_cosine_similarity(q.embedding, c.embedding), 6), 2) AS cos
        |FROM embeddings q JOIN embeddings c ON q.vec_id < 8 AND q.vec_id <> c.vec_id
        |WHERE list_cosine_similarity(q.embedding, c.embedding) >= 0.2
        |ORDER BY query_id, neighbor_id""".stripMargin,
    // the Spark side is round(round(cos,6),2) — the operators emit 6dp, the
    // catalog re-rounds to 2dp for the hash — so the oracle mirrors the SAME
    // composition; a single round(·,2) would diverge whenever a cosine lands
    // within float error of a .xx5 boundary AFTER the 6dp step
    "q_ann_topk" ->
      """WITH ranked AS (
        | SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |  list_cosine_similarity(q.embedding, c.embedding) AS c,
        |  row_number() OVER (PARTITION BY q.vec_id
        |   ORDER BY list_cosine_similarity(q.embedding, c.embedding) DESC, c.vec_id) AS rank
        | FROM embeddings q JOIN embeddings c ON q.vec_id < 8 AND q.vec_id <> c.vec_id)
        |SELECT query_id, neighbor_id, round(round(c, 6), 2) AS cos, rank
        |FROM ranked WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin,
    // PPJoin prefix filtering is EXACT (nothing pruned that could pass the
    // threshold), so the brute-force all-pairs twin must match row-for-row:
    // word-3-grams from the same regex-\s tokenization, distinct per doc,
    // |a∩b| counted from the exploded shingle relation (the engine's own
    // verification shape), jaccard filtered UNROUNDED at 0.8 then rounded to
    // 6dp — mirroring Spark's filter-then-round composition.
    "q_ngram_jaccard" ->
      """WITH toks AS (
        | SELECT doc_id, list_filter(string_split_regex(text, '[ \t\n\x0b\f\r]+'), x -> len(x) > 0) AS ls
        | FROM documents),
        |g AS (
        | SELECT doc_id, list_distinct(list_transform(range(1, len(ls) - 1),
        |   i -> ls[i] || ' ' || ls[i+1] || ' ' || ls[i+2])) AS shl
        | FROM toks),
        |s AS (
        | SELECT doc_id, len(shl) AS nsh, unnest(shl) AS shingle FROM g WHERE len(shl) > 0),
        |inter AS (
        | SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.nsh AS nsh_a, b.nsh AS nsh_b,
        |  count(*) AS i
        | FROM s a JOIN s b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        | GROUP BY 1, 2, 3, 4)
        |SELECT id_a, id_b, round(i * 1.0 / (nsh_a + nsh_b - i), 6) AS jaccard
        |FROM inter WHERE i * 1.0 / (nsh_a + nsh_b - i) >= 0.8
        |ORDER BY id_a, id_b""".stripMargin,
    "q_embed_dedup" ->
      """WITH planted AS (
        | SELECT vec_id, embedding FROM embeddings
        | UNION ALL
        | SELECT vec_id + 1000000 AS vec_id, embedding FROM embeddings WHERE vec_id < 20)
        |SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        | round(round(list_cosine_similarity(a.embedding, b.embedding), 6), 2) AS cos
        |FROM planted a JOIN planted b ON a.vec_id < b.vec_id
        |WHERE list_cosine_similarity(a.embedding, b.embedding) >= 0.99
        |ORDER BY id_a, id_b""".stripMargin
  )

  private def duckList(xs: Seq[String]): String =
    xs.map(x => s"'$x'").mkString("[", ",", "]")

  /** The 41-row normalized gazetteer as a SQL VALUES body (oracle twin for
    * the G-op queries; declared lazy — `oracles` captures it at first use). */
  private lazy val gazValues: String =
    Gazetteer.rows.map(r =>
      s"('${r.province}', '${r.district}', '${r.neighbourhood}', '${r.postcode}')")
      .mkString(",\n ")
}
