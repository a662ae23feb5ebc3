package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Optimization-round side benchmark (guide §1.4): isolates sub-phases of the
  * expensive catalog queries with the noop sink so the seconds can be
  * attributed to operators, not the sink. NOT part of the frozen Bench
  * contract — numbers here feed OPTIMIZATION_r07.md only.
  *
  * Usage: runMain graft.BenchExtra [phase-prefix]
  */
object BenchExtra {

  private def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  def main(args: Array[String]): Unit = {
    val prefix = if (args.nonEmpty) args(0) else ""
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val reps = sys.env.getOrElse("SPARK_GRAFT_EXTRA_REPS", "3").toInt
    val spark = Sessions.local("graft-bench-extra", cpus)
    import spark.implicits._

    // per-job timing listener: attributes wall time to jobs inside a phase
    val jobStart = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String)]()
    if (sys.env.getOrElse("SPARK_GRAFT_EXTRA_JOBLOG", "0") == "1")
      spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
          jobStart.put(js.jobId, (System.nanoTime(),
            Option(js.properties.getProperty("spark.job.description")).getOrElse("?")))
        override def onJobEnd(je: org.apache.spark.scheduler.SparkListenerJobEnd): Unit = {
          val st = jobStart.remove(je.jobId)
          if (st != null) {
            val d = (System.nanoTime() - st._1) / 1e9
            if (d > 0.02) println(f"  JOB ${je.jobId}%4d ${d}%7.3f s  ${st._2}")
          }
        }
      })

    def t(name: String)(body: => Unit): Unit = {
      if (prefix.isEmpty || name.startsWith(prefix)) {
        spark.sparkContext.setJobDescription(name)
        val ts = (1 to reps).map { _ =>
          graft.operators.Dedup.releaseCaches(spark)
          val t0 = System.nanoTime()
          body
          (System.nanoTime() - t0) / 1e9
        }
        graft.operators.Dedup.releaseCaches(spark)
        println(f"EXTRA $name%-42s ${ts.map(x => f"$x%.3f").mkString(" ")} min=${ts.min}%.3f")
        spark.sparkContext.setJobDescription(null)
      }
    }

    def docs = spark.read.parquet(s"$sfDir/documents.parquet")

    // ---- text family ----
    t("lang_id.full") { noop(SparkEntry.queries("q_lang_id")(spark, sfDir)) }
    t("quality.full") { noop(SparkEntry.queries("q_quality")(spark, sfDir)) }
    t("token_count.full") { noop(SparkEntry.queries("q_token_count")(spark, sfDir)) }
    t("dedup_exact.full") { noop(SparkEntry.queries("q_dedup_exact")(spark, sfDir)) }
    t("dedup_bow.full") { noop(SparkEntry.queries("q_dedup_bow")(spark, sfDir)) }

    // ---- ngram jaccard phases ----
    t("ngram.sets") {
      noop(graft.operators.Dedup.shingleSets(docs, "doc_id", "text", 3)
        .filter(col("nsh") > 0))
    }
    t("ngram.full") { noop(SparkEntry.queries("q_ngram_jaccard")(spark, sfDir)) }
    // finer phase split: freq aggregate / prefix relation / candidates
    t("ngram.freq") {
      val sets = graft.operators.Dedup.shingleSets(docs, "doc_id", "text", 3)
        .filter(col("nsh") > 0)
      val exploded = sets.select(col("id"), col("nsh"), explode(col("sh")).as("shingle"))
      noop(exploded.groupBy("shingle").agg(count(lit(1)).as("f")))
    }
    t("ngram.prefix") {
      val sets = graft.operators.Dedup.trackPersist(
        graft.operators.Dedup.shingleSets(docs, "doc_id", "text", 3)
          .filter(col("nsh") > 0))
      val exploded = sets.select(col("id"), col("nsh"), explode(col("sh")).as("shingle"))
      val freq = exploded.groupBy("shingle").agg(count(lit(1)).as("f"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("id").orderBy(col("f"), col("shingle"))
      noop(exploded.join(freq, "shingle")
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") <= col("nsh") - ceil(col("nsh") * 0.8) + 1)
        .select(col("shingle"), col("id"), col("nsh"), col("rk")))
    }
    t("ngram.prefix_windowf") {
      // A/B: attach f via count() over (partition by shingle) — one exchange
      // by shingle instead of the freq aggregate + join re-exchange
      val sets = graft.operators.Dedup.trackPersist(
        graft.operators.Dedup.shingleSets(docs, "doc_id", "text", 3)
          .filter(col("nsh") > 0))
      val exploded = sets.select(col("id"), col("nsh"), explode(col("sh")).as("shingle"))
      val wf = org.apache.spark.sql.expressions.Window.partitionBy("shingle")
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("id").orderBy(col("f"), col("shingle"))
      noop(exploded.withColumn("f", count(lit(1)).over(wf))
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") <= col("nsh") - ceil(col("nsh") * 0.8) + 1)
        .select(col("shingle"), col("id"), col("nsh"), col("rk")))
    }
    t("ngram.cand") {
      val sets = graft.operators.Dedup.trackPersist(
        graft.operators.Dedup.shingleSets(docs, "doc_id", "text", 3)
          .filter(col("nsh") > 0))
      val exploded = sets.select(col("id"), col("nsh"), explode(col("sh")).as("shingle"))
      val freq = exploded.groupBy("shingle").agg(count(lit(1)).as("f"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("id").orderBy(col("f"), col("shingle"))
      val prefix = graft.operators.Dedup.trackPersist(exploded.join(freq, "shingle")
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") <= col("nsh") - ceil(col("nsh") * 0.8) + 1)
        .select(col("shingle"), col("id"), col("nsh"), col("rk")))
      noop(graft.operators.Dedup.ppjoinCandidates(prefix, 0.8, 1000))
    }

    t("ngram.counts") {
      val sets = graft.operators.Dedup.trackPersist(
        graft.operators.Dedup.shingleSets(docs, "doc_id", "text", 3)
          .filter(col("nsh") > 0))
      val exploded = sets.select(col("id"), col("nsh"), explode(col("sh")).as("shingle"))
      val freq = exploded.groupBy("shingle").agg(count(lit(1)).as("f"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("id").orderBy(col("f"), col("shingle"))
      val prefix = graft.operators.Dedup.trackPersist(exploded.join(freq, "shingle")
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") <= col("nsh") - ceil(col("nsh") * 0.8) + 1)
        .select(col("shingle"), col("id"), col("nsh"), col("rk")))
      val cand = graft.operators.Dedup.trackPersist(
        graft.operators.Dedup.ppjoinCandidates(prefix, 0.8, 1000))
      val nSets = sets.count(); val nExpl = exploded.count()
      val nPrefix = prefix.count(); val nCand = cand.count()
      val nCandIds = cand.select(explode(array(col("id_a"), col("id_b"))).as("id"))
        .distinct().count()
      println(s"NGRAM COUNTS sets=$nSets exploded=$nExpl prefix=$nPrefix cand=$nCand candIds=$nCandIds")
    }

    // ---- minhash phases ----
    t("minhash.sets") {
      noop(graft.operators.Dedup.shingleSets(docs, "doc_id", "text", 3))
    }
    t("minhash.banded") {
      val sets = graft.operators.Dedup.shingleSets(docs, "doc_id", "text", 3)
      noop(graft.operators.Dedup.minhashBanded(sets, 64, 16))
    }
    t("minhash.full") { noop(SparkEntry.queries("q_minhash_pairs")(spark, sfDir)) }

    // ---- simhash phases ----
    t("simhash.banded") {
      noop(graft.operators.Dedup.simhashBanded(docs, "doc_id", "text"))
    }
    t("simhash.full") { noop(SparkEntry.queries("q_simhash_pairs")(spark, sfDir)) }
    t("simhash.filter_before_dedup") {
      // A/B: hamming is a function of the pair alone (same sim values in
      // every band collision), so filter-then-dedup ≡ dedup-then-filter —
      // and the dropDuplicates exchange then carries only matching pairs
      val banded = graft.operators.Dedup.trackPersist(
        graft.operators.Dedup.simhashBanded(docs, "doc_id", "text"))
      noop(graft.operators.Blocking.saltedSelfJoin(
          banded, Seq("band", "bucket"), "id", Seq("sim"), 1000)
        .select(col("id_a"), col("id_b"),
          bit_count(col("sim_a").bitwiseXOR(col("sim_b"))).as("hamming"))
        .filter(col("hamming") <= 3)
        .dropDuplicates("id_a", "id_b")
        .orderBy("id_a", "id_b"))
    }

    // ---- pipeline family (shared caches warm: build them once first) ----
    Queries.preparedFor(spark, sfDir).count()
    Queries.scoredFor(spark, sfDir).count()
    t("entities.cc_only") {
      val matched = Queries.scoredFor(spark, sfDir).filter(col("is_match"))
      noop(graft.operators.ConnectedComponents.runGrouped(
        matched.select(col("block_key"), col("url_a").as("src"), col("url_b").as("dst")),
        "block_key"))
    }
    t("entities.cc_exchange_only") {
      // floor: the same scan + exchange without the typed union-find kernel
      val matched = Queries.scoredFor(spark, sfDir).filter(col("is_match"))
      noop(matched.select(col("block_key"), col("url_a").as("src"), col("url_b").as("dst"))
        .repartition(col("block_key")))
    }
    t("entities.join_no_parse") {
      val prepared = Queries.preparedFor(spark, sfDir)
      val matched = Queries.scoredFor(spark, sfDir).filter(col("is_match"))
      val comps = graft.operators.ConnectedComponents.runGrouped(
        matched.select(col("block_key"), col("url_a").as("src"), col("url_b").as("dst")),
        "block_key")
      noop(prepared
        .join(comps.withColumnRenamed("id", "url"), Seq("url"), "left")
        .withColumn("entity_id", coalesce(col("component"), col("url")))
        .select("url", "extracted", "entity_id"))
    }
    t("entities.parse_only") {
      noop(graft.operators.StaticParser.parse(
        Queries.preparedFor(spark, sfDir).select("url", "extracted"), "extracted",
        graft.operators.StaticParser.broadcastIndex(spark)))
    }
    t("entities.full") { noop(SparkEntry.queries("q_entities")(spark, sfDir)) }

    t("parse_full_gaz.build_index_driver") {
      val idx = graft.sources.Gazetteer.buildIndex(graft.sources.Gazetteer.rowsFull)
      val b = spark.sparkContext.broadcast(idx)
      b.destroy()
    }
    t("parse_full_gaz.full") { noop(SparkEntry.queries("q_parse_full_gaz")(spark, sfDir)) }

    t("linkage_f1.full") { noop(SparkEntry.queries("q_linkage_f1")(spark, sfDir)) }
    t("linkage_f1.single_pass") {
      val sc = Queries.scoredFor(spark, sfDir)
      val j = sc.select(col("is_match"),
        (graft.sources.Pages.goldEntityId(col("url_a")) ===
          graft.sources.Pages.goldEntityId(col("url_b"))).as("is_pos"))
      noop(j.agg(
        sum(when(col("is_pos") && col("is_match"), 1L).otherwise(0L)).as("tp"),
        sum(when(!col("is_pos") && col("is_match"), 1L).otherwise(0L)).as("fp"),
        sum(when(col("is_pos") && !col("is_match"), 1L).otherwise(0L)).as("fn"))
        .withColumn("precision", round(coalesce(col("tp") / (col("tp") + col("fp")), lit(0.0)), 6))
        .withColumn("recall", round(coalesce(col("tp") / (col("tp") + col("fn")), lit(0.0)), 6))
        .withColumn("f1", round(coalesce(
          lit(2) * col("tp") / (lit(2) * col("tp") + col("fp") + col("fn")), lit(0.0)), 6)))
    }

    // ---- sort-strategy A/B for the pair queries ----
    t("ab.simhash.sortedOnce") {
      noop(SparkEntry.queries("q_simhash_pairs")(spark, sfDir))
    }
    t("ab.simhash.plain_sort") {
      noop(graft.operators.Dedup.simhashPairs(
        spark.read.parquet(s"$sfDir/documents.parquet"), "doc_id", "text", maxHamming = 3)
        .orderBy("id_a", "id_b"))
    }
    t("ab.simhash.no_sort") {
      noop(graft.operators.Dedup.simhashPairs(
        spark.read.parquet(s"$sfDir/documents.parquet"), "doc_id", "text", maxHamming = 3))
    }
    t("ab.minhash.sortedOnce") {
      noop(SparkEntry.queries("q_minhash_pairs")(spark, sfDir))
    }
    t("ab.minhash.plain_sort") {
      noop(graft.operators.Dedup.minhashPairs(
        spark.read.parquet(s"$sfDir/documents.parquet"), "doc_id", "text", threshold = 0.5)
        .orderBy("id_a", "id_b"))
    }
    t("ab.minhash.no_sort") {
      noop(graft.operators.Dedup.minhashPairs(
        spark.read.parquet(s"$sfDir/documents.parquet"), "doc_id", "text", threshold = 0.5))
    }

    t("ab.ngram.sortedOnce") {
      noop(SparkEntry.queries("q_ngram_jaccard")(spark, sfDir))
    }
    t("ab.ngram.plain_sort") {
      noop(graft.operators.Dedup.ngramJaccardPairs(
        spark.read.parquet(s"$sfDir/documents.parquet"), "doc_id", "text", threshold = 0.8)
        .orderBy("id_a", "id_b"))
    }
    t("ab.entities.sortedOnce") {
      noop(SparkEntry.queries("q_entities")(spark, sfDir))
    }
    t("ab.entities.plain_sort") {
      noop(graft.operators.Linkage.entitiesFrom(
        Queries.preparedFor(spark, sfDir), Queries.scoredFor(spark, sfDir),
        graft.operators.StaticParser.broadcastIndex(spark)).orderBy("url"))
    }
    t("ab.parsefull.sortedOnce") {
      noop(SparkEntry.queries("q_parse_full_gaz")(spark, sfDir))
    }
    t("ab.parsefull.plain_sort") {
      val b = graft.operators.StaticParser.broadcastIndex(spark, graft.sources.Gazetteer.rowsFull)
      noop(graft.operators.StaticParser.parse(
        Queries.preparedFor(spark, sfDir).select("url", "extracted"), "extracted", b)
        .select("url", "province", "district", "neighbourhood").orderBy("url"))
    }

    // ---- orderBy range-sampling double-execution probes ----
    t("entities.full_no_sort") {
      noop(graft.operators.Linkage.entitiesFrom(
        Queries.preparedFor(spark, sfDir), Queries.scoredFor(spark, sfDir),
        graft.operators.StaticParser.broadcastIndex(spark)))
    }
    t("entities.full_ckpt_sort") {
      val out = graft.operators.Linkage.entitiesFrom(
        Queries.preparedFor(spark, sfDir), Queries.scoredFor(spark, sfDir),
        graft.operators.StaticParser.broadcastIndex(spark))
      noop(graft.operators.Dedup.trackPersist(out).orderBy("url"))
    }
    t("simhash.full_no_sort") {
      noop(graft.operators.Dedup.simhashPairs(docs, "doc_id", "text", maxHamming = 3))
    }
    t("simhash.full_ckpt_sort") {
      val p = graft.operators.Dedup.simhashPairs(docs, "doc_id", "text", maxHamming = 3)
      noop(graft.operators.Dedup.trackPersist(p).orderBy("id_a", "id_b"))
    }
    t("ngram.full_no_sort") {
      noop(graft.operators.Dedup.ngramJaccardPairs(docs, "doc_id", "text", threshold = 0.8))
    }
    t("minhash.full_no_sort") {
      noop(graft.operators.Dedup.minhashPairs(docs, "doc_id", "text", threshold = 0.5))
    }
    t("parse_full_gaz.prebuilt_index") {
      val b = graft.operators.StaticParser.broadcastIndex(spark, graft.sources.Gazetteer.rowsFull)
      noop(graft.operators.StaticParser.parse(
        Queries.preparedFor(spark, sfDir).select("url", "extracted"), "extracted", b)
        .select("url", "province", "district", "neighbourhood").orderBy("url"))
    }

    // ---- cold-pipeline phase isolation (pages_per_sec metric) ----
    val nP = Queries.pagesFor(sfDir)
    t("cold.synthesize") {
      noop(graft.sources.Pages.synthesize(spark, nP).toDF())
    }
    t("cold.extract") {
      noop(graft.operators.Linkage.extract(graft.sources.Pages.synthesize(spark, nP).toDF()))
    }
    t("cold.norm") {
      noop(graft.operators.Linkage.extract(graft.sources.Pages.synthesize(spark, nP).toDF())
        .withColumn("norm", graft.operators.Blocking.blockNorm(col("extracted"))))
    }
    t("cold.prepared") {
      noop(graft.operators.Linkage.prepare(graft.sources.Pages.synthesize(spark, nP).toDF()))
    }
    t("cold.prepared_persisted") {
      Queries.resetPipelineCache(spark)
      noop(Queries.preparedFor(spark, sfDir))
      Queries.resetPipelineCache(spark)
    }
    t("cold.candidates") {
      Queries.resetPipelineCache(spark)
      noop(graft.operators.Linkage.candidates(Queries.preparedFor(spark, sfDir)))
      Queries.resetPipelineCache(spark)
    }
    t("cold.scored_nosort") {
      Queries.resetPipelineCache(spark)
      noop(graft.operators.Linkage.scored(Queries.preparedFor(spark, sfDir)))
      Queries.resetPipelineCache(spark)
    }
    t("cold.scored_fresh") {
      Queries.resetPipelineCache(spark)
      noop(SparkEntry.queries("q_scored_pairs")(spark, sfDir))
      Queries.resetPipelineCache(spark)
    }

    t("agg_lineitem.full") { noop(SparkEntry.queries("q_agg_lineitem")(spark, sfDir)) }
    t("agg_lineitem.advisory4m") {
      spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "4m")
      try noop(SparkEntry.queries("q_agg_lineitem")(spark, sfDir))
      finally spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "64m")
    }
    t("agg_lineitem.advisory1m") {
      spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "1m")
      try noop(SparkEntry.queries("q_agg_lineitem")(spark, sfDir))
      finally spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "64m")
    }
    t("topk_window.advisory1m") {
      spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "1m")
      try noop(SparkEntry.queries("q_topk_window")(spark, sfDir))
      finally spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "64m")
    }
    t("ngram.advisory1m") {
      spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "1m")
      try noop(SparkEntry.queries("q_ngram_jaccard")(spark, sfDir))
      finally spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "64m")
    }
    t("agg_lineitem.split1m") {
      spark.conf.set("spark.sql.files.maxPartitionBytes", "1m")
      try noop(SparkEntry.queries("q_agg_lineitem")(spark, sfDir))
      finally spark.conf.set("spark.sql.files.maxPartitionBytes", 128L * 1024 * 1024)
    }
    t("agg_lineitem.manual_twolevel") {
      // A/B: pre-aggregate by (flag, status, orderkey) then combine — no
      // Expand row-doubling, one exchange with map-side partial aggregation
      noop(spark.read.parquet(s"$sfDir/lineitem.parquet")
        .groupBy("l_returnflag", "l_linestatus", "l_orderkey").agg(
          sum("l_quantity").as("qty_o"), count(lit(1)).as("n_o"),
          sum("l_discount").as("disc_o"))
        .groupBy("l_returnflag", "l_linestatus").agg(
          sum("qty_o").as("sum_qty"),
          sum("n_o").as("n"),
          count(lit(1)).as("n_orders"),
          round(sum("disc_o") / sum("n_o"), 4).as("avg_disc"))
        .orderBy("l_returnflag", "l_linestatus"))
    }
    t("agg_lineitem.no_distinct") {
      noop(spark.read.parquet(s"$sfDir/lineitem.parquet")
        .groupBy("l_returnflag", "l_linestatus").agg(
          sum("l_quantity").as("sum_qty"), count(lit(1)).as("n"),
          round(avg("l_discount"), 4).as("avg_disc")))
    }
    t("scored_pairs.full") { noop(SparkEntry.queries("q_scored_pairs")(spark, sfDir)) }
    t("topk_window.full") { noop(SparkEntry.queries("q_topk_window")(spark, sfDir)) }
    t("topk_window.sortedOnce") {
      val w = org.apache.spark.sql.expressions.Window.partitionBy("o_custkey")
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      noop(graft.operators.Dedup.trackPersist(
        spark.read.parquet(s"$sfDir/orders.parquet")
          .withColumn("rk", row_number().over(w))
          .filter(col("rk") <= 3)
          .select(col("o_custkey"), col("o_orderkey"), col("rk")))
        .orderBy("o_custkey", "rk"))
    }

    spark.stop()
  }
}
