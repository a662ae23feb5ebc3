package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Blocking, Dedup, Linkage}
import graft.sources.Pages

/** Physical-plan shape assertions: the properties that decide whether the
  * operators survive a 100× scale-up — pushdown, broadcast selection, and
  * the absence of any quadratic join strategy. */
class PlanSpec extends AnyFunSuite with TempDirs {
  lazy val spark = SparkTestSession.spark

  val sfDir = "/root/testdata/sf0.001"

  private def plan(df: DataFrame): String = df.queryExecution.executedPlan.toString

  test("parquet scans prune columns (ReadSchema contains only used columns)") {
    spark.catalog.clearCache() // other suites may have cached this table
    val p = plan(SparkEntry.queries("q_token_count")(spark, sfDir))
    val read = "ReadSchema: ([^\\n]*)".r.findFirstMatchIn(p).map(_.group(1)).getOrElse("")
    assert(read.contains("doc_id") && read.contains("text"))
    assert(!read.contains("lang") && !read.contains("source") && !read.contains("n_chars"),
      s"unpruned scan: $read")
  }

  test("dimension join is broadcast, not shuffle") {
    val p = plan(SparkEntry.queries("q_join_agg")(spark, sfDir))
    assert(p.contains("BroadcastHashJoin"), s"expected broadcast join:\n$p")
    assert(!p.contains("SortMergeJoin"))
  }

  test("filter pushdown reaches the parquet scan") {
    import org.apache.spark.sql.functions._
    val df = spark.read.parquet(s"$sfDir/lineitem.parquet")
      .filter(col("l_quantity") > 40).select("l_orderkey", "l_quantity")
    val p = plan(df)
    assert(p.contains("PushedFilters: [IsNotNull(l_quantity), GreaterThan(l_quantity,40.0)]"),
      s"no pushdown:\n$p")
  }

  test("bucketed co-located join: no Exchange for join OR bucket-key agg; equal to plain join") {
    import org.apache.spark.sql.functions._
    val sqlc = spark.conf
    val prevThresh = sqlc.get("spark.sql.autoBroadcastJoinThreshold")
    val prevAqe = sqlc.get("spark.sql.adaptive.enabled")
    try {
      // force the shuffle-join regime (the only one available at 100 TB)
      // and a static plan so the Exchange assertion reads the real layout
      sqlc.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      sqlc.set("spark.sql.adaptive.enabled", "false")
      val tmp = tmpDir("graft_bucketed_spec")
      val left = spark.read.parquet(s"$sfDir/lineitem.parquet")
        .select("l_orderkey", "l_quantity")
      val right = spark.read.parquet(s"$sfDir/orders.parquet")
        .select("o_orderkey", "o_custkey")
      graft.plans.Bucketed.writeBucketed(left, "spec_li_b", s"$tmp/li", 4, Seq("l_orderkey"))
      graft.plans.Bucketed.writeBucketed(right, "spec_or_b", s"$tmp/or", 4, Seq("o_orderkey"))
      val joined = spark.table("spec_li_b")
        .join(spark.table("spec_or_b"), col("l_orderkey") === col("o_orderkey"))
        .groupBy("o_orderkey").agg(round(sum("l_quantity"), 2).as("sum_qty"))
      val p = plan(joined)
      assert(!p.contains("Exchange"), s"bucketed join/agg shuffled:\n$p")
      assert(p.contains("SortMergeJoin"), s"expected bucket-pairwise SMJ:\n$p")
      // layout changes nothing about the answer
      val plainRows = left.join(right, col("l_orderkey") === col("o_orderkey"))
        .groupBy("o_orderkey").agg(round(sum("l_quantity"), 2).as("sum_qty"))
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toMap
      val bucketRows = joined.collect().map(r => (r.getLong(0), r.getDouble(1))).toMap
      assert(bucketRows == plainRows)
    } finally {
      sqlc.set("spark.sql.autoBroadcastJoinThreshold", prevThresh)
      sqlc.set("spark.sql.adaptive.enabled", prevAqe)
      spark.sql("DROP TABLE IF EXISTS spec_li_b")
      spark.sql("DROP TABLE IF EXISTS spec_or_b")
    }
  }

  test("RunLinkage components stage: one shuffle Exchange, no localCheckpoint relation") {
    // the stage's plan is read from its snapshot write: the star iteration
    // (localCheckpoint per round, several exchanges) must not come back
    import scala.jdk.CollectionConverters._
    import org.apache.spark.sql.execution.{LogicalRDD, QueryExecution}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.util.QueryExecutionListener
    val done = new java.util.concurrent.ConcurrentLinkedQueue[QueryExecution]()
    val listener = new QueryExecutionListener {
      def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = done.add(qe)
      def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    def componentsWrite: Option[(QueryExecution, InsertIntoHadoopFsRelationCommand)] =
      done.asScala.iterator.flatMap(qe => qe.logical.collectFirst {
        case w: InsertIntoHadoopFsRelationCommand
          if w.outputPath.toString.contains("/components/snap=") => (qe, w)
      }).nextOption()
    val root = tmpDir("graft_components_plan")
    spark.listenerManager.register(listener)
    try {
      graft.plans.ResumableLinkage.run(spark, Pages.synthesize(spark, 300).toDF(),
        "plan-300", root, graft.operators.StaticParser.broadcastIndex(spark)).count()
      // listener callbacks arrive on the listener bus, after the action returns
      val deadline = System.nanoTime() + 60L * 1000000000L
      while (componentsWrite.isEmpty && System.nanoTime() < deadline) Thread.sleep(50)
    } finally spark.listenerManager.unregister(listener)
    val (qe, write) = componentsWrite.getOrElse(fail("components snapshot write not observed"))
    val checkpoints = write.query.collect { case r: LogicalRDD => r }
    assert(checkpoints.isEmpty, s"localCheckpoint relation in the components stage:\n${write.query}")
    val exchanges = new AdaptiveSparkPlanHelper {}
      .collect(qe.executedPlan) { case e: ShuffleExchangeExec => e }
    assert(exchanges.size == 1, s"${exchanges.size} shuffle exchanges:\n${qe.executedPlan}")
  }

  test("single evaluation: score_pair once per pair, canon_sig_native once per record") {
    // both kernels are non-cheap and deterministic, so the optimizer may
    // inline a reference to them; a refactor that collapses the two-step
    // scoring projection or re-derives canon would evaluate them again
    def calls(plan: LogicalPlan, name: String): Int = plan.flatMap(_.expressions)
      .map(_.collect { case e if e.prettyName == name => e }.size).sum
    val prepared = Linkage.prepare(Pages.synthesize(spark, 300).toDF())
    val prepPlan = prepared.queryExecution.optimizedPlan
    assert(calls(prepPlan, "canon_sig_native") == 1, prepPlan.toString)
    val scored = Linkage.scored(prepared).queryExecution.optimizedPlan
    assert(calls(scored, "score_pair") == 1, scored.toString)
    // on a lazy input the pair self-join prepares the pages on each of its
    // sides (a persisted or committed input holds none): one canon per scan
    // of the pages
    val scans = scored.collectLeaves().size
    assert(scans == 2 && calls(scored, "canon_sig_native") == scans, scored.toString)
  }

  test("no quadratic join strategy anywhere in the linkage pair plan") {
    val prep = Linkage.prepare(Pages.synthesize(spark, 300).toDF())
    val p = plan(Blocking.candidatePairs(prep, "block_key", "url", Seq("norm"), 50))
    assert(!p.contains("CartesianProduct"), "cartesian in pair join")
    assert(!p.contains("BroadcastNestedLoopJoin"), "nested-loop in pair join")
  }

  test("no quadratic join strategy in prefix-filtered ngram jaccard") {
    import org.apache.spark.sql.catalyst.plans.logical.Join
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val df = Dedup.ngramJaccardPairs(docs, "doc_id", "text")
    val p = plan(df)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"quadratic strategy:\n${p.take(2000)}")
    // the prefix-shingle self-join must be salt-keyed too (round-4 verdict:
    // the AQE-coalescing 207-s failure mode could recur verbatim here)
    val joins = df.queryExecution.optimizedPlan.collect { case j: Join => j }
    // with the hot threshold forced to 1 row IN THE SHUFFLE REGIME, shared
    // prefix shingles route through the salt-keyed triangle (the exploded-
    // verification joins also reference "shingle"; the SELF-join is the one
    // that carries salt keys)
    val thr = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val hotNg = Dedup.ngramJaccardPairs(docs, "doc_id", "text", maxBucket = 1)
      val hotJoins = hotNg.queryExecution.optimizedPlan.collect { case j: Join => j }
      val saltKeyed = hotJoins.exists(_.condition.exists { c =>
        val refs = c.references.map(_.name).toSet
        refs.contains("shingle") && refs.contains("__i") && refs.contains("__j")
      })
      assert(saltKeyed, "forced-hot prefix-shingle self-join is not salt-keyed")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thr)
    Dedup.releaseCaches(spark)
  }

  test("banded LSH joins carry no payload and use no quadratic strategy") {
    import org.apache.spark.sql.catalyst.plans.logical.Join
    // the banded self-join must move ONLY (id, band, bucket) — at 100 TB a
    // set/vector payload through that shuffle is the bottleneck. Asserted on
    // the optimized logical plan (join strategy varies with input size:
    // broadcast here, sort-merge at scale — the payload property must hold
    // for both).
    def bandedJoinInputs(df: DataFrame, payload: String): Unit = {
      val joins = df.queryExecution.optimizedPlan.collect { case j: Join => j }
      val banded = joins.filter(_.condition.exists(_.references.exists(_.name == "bucket")))
      assert(banded.nonEmpty, "no banded join found in the optimized plan")
      banded.foreach { j =>
        val cols = (j.left.output ++ j.right.output).map(_.name)
        assert(!cols.contains(payload),
          s"'$payload' carried through the banded join: $cols")
      }
      val p = plan(df)
      assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
    }
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    bandedJoinInputs(Dedup.minhashPairs(docs, "doc_id", "text"), "sh")
    bandedJoinInputs(Dedup.embeddingPairs(emb, "vec_id", "embedding"), "vec")
    bandedJoinInputs(Dedup.simhashPairs(docs, "doc_id", "text"), "text")

    // with the hot-key threshold forced to 1 row, real duplicate families
    // make the driver probe take the HOT path: the triangle fan-out must
    // appear, salt-keyed on (__i, __j), and still payload-free
    def saltKeyed(df: DataFrame): Boolean =
      df.queryExecution.optimizedPlan.collect { case j: Join => j }.exists {
        _.condition.exists { c =>
          val refs = c.references.map(_.name).toSet
          refs.contains("__i") && refs.contains("__j")
        }
      }
    // salting engages only in the shuffle-join regime (a broadcast self-join
    // spreads fan-out by construction) — disable broadcast to assert the
    // shuffle-regime properties: the forced-hot triangle is salt-keyed and
    // pinned, and the cold plain join is pinned too
    val thr = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val hotMh = Dedup.minhashPairs(docs, "doc_id", "text", maxBucket = 1)
      assert(saltKeyed(hotMh), "forced-hot minhash plan has no salt-keyed join")
      // the hot-path triangle is always partition-pinned against AQE coalescing
      assert(plan(hotMh).contains("REPARTITION_BY_NUM"),
        "forced-hot plan carries no pinned repartition")
      assert(!plan(hotMh).contains("CartesianProduct"))
      val pinned = Dedup.minhashPairs(docs, "doc_id", "text")
      assert(plan(pinned).contains("REPARTITION_BY_NUM"),
        "cold pair join not pinned when the input cannot broadcast")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thr)
    Dedup.releaseCaches(spark)
  }

  test("Jaccard verification: minhash size prune below the pair dedup; no explode, no union") {
    import org.apache.spark.sql.catalyst.expressions.Explode
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Filter, Generate, Join, Union}
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    // optimized plans read while the operators' persisted state is
    // registered — the shipped shape (sets/banded/prefix are cache leaves)
    val mh = Dedup.minhashPairs(docs, "doc_id", "text").queryExecution.optimizedPlan
    val ng = Dedup.ngramJaccardPairs(docs, "doc_id", "text").queryExecution.optimizedPlan
    Dedup.releaseCaches(spark)

    // the pair dedup is the Aggregate grouping by exactly (id_a, id_b); the
    // optimizer may fold the prune's Filter into the self-join's condition,
    // where the two sides' sizes are still named __nsh_l/__nsh_r
    val pairDedup = mh.collect {
      case a: Aggregate if a.groupingExpressions.map(_.references.map(_.name).mkString)
          == Seq("id_a", "id_b") => a
    }
    assert(pairDedup.size == 1, s"no single pair-dedup aggregate:\n$mh")
    def bothSizes(c: org.apache.spark.sql.catalyst.expressions.Expression): Boolean = {
      val refs = c.references.map(_.name).toSet
      (refs("nsh_a") || refs("__nsh_l")) && (refs("nsh_b") || refs("__nsh_r"))
    }
    val pruned = pairDedup.head.child.exists {
      case f: Filter => bothSizes(f.condition)
      case j: Join => j.condition.exists(bothSizes)
      case _ => false
    }
    assert(pruned, s"no size prune over both sides' nsh below the pair dedup:\n$mh")

    for ((name, p) <- Seq("minhashPairs" -> mh, "ngramJaccardPairs" -> ng)) {
      val explodes = p.collect {
        case g: Generate if g.generator.isInstanceOf[Explode] &&
          g.generator.references.exists(_.name == "sh") => g
      }
      assert(explodes.isEmpty, s"$name explodes the shingle sets:\n$p")
      assert(p.collect { case u: Union => u }.isEmpty, s"$name plan has a Union:\n$p")
    }
  }

  test("n-gram frequency pass counts on a 64-bit key and reads MinHash's shingle-set cache") {
    import org.apache.spark.sql.catalyst.plans.logical.Aggregate
    import org.apache.spark.sql.execution.columnar.InMemoryRelation
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.types.{LongType, StringType}
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val session = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    val cm = session.sharedState.cacheManager
    Dedup.minhashPairs(docs, "doc_id", "text")
    val ng = Dedup.ngramJaccardPairs(docs, "doc_id", "text").queryExecution.optimizedPlan
    def cachedAs(df: DataFrame): Boolean =
      cm.lookupCachedData(session, df.queryExecution.analyzed).isDefined
    val sets = Dedup.shingleSets(docs, "doc_id", "text", 3)
    val (setsCached, filteredCached) = (cachedAs(sets), cachedAs(sets.filter(col("nsh") > 0)))
    // the plans the read cached relations were optimized to (the prefix
    // relation is one), each relation once
    val cached = ng.collect { case r: InMemoryRelation => (r.cacheBuilder: AnyRef, r.cacheBuilder.logicalPlan) }
      .foldLeft(List.empty[(AnyRef, LogicalPlan)])((seen, c) =>
        if (seen.exists(_._1 eq c._1)) seen else c :: seen)
    val aggs = (ng +: cached.map(_._2)).flatMap(_.collect { case a: Aggregate => a })
    Dedup.releaseCaches(spark)

    val freq = aggs.filter(_.aggregateExpressions.exists(_.name == "f"))
    assert(freq.size == 1, s"${freq.size} frequency aggregates:\n${freq.mkString("\n")}")
    val keys = freq.head.groupingExpressions
    assert(keys.size == 1 && keys.head.dataType == LongType,
      s"frequency aggregate groups by $keys, not one long key")
    val byShingle = aggs.filter(_.groupingExpressions.exists(e =>
      e.dataType == StringType && e.references.exists(_.name == "shingle")))
    assert(byShingle.isEmpty, s"an aggregate groups by the shingle string: $byShingle")

    // after minhashPairs on the same docs, one cached shingle-set relation
    // serves both operators: n-gram's nsh > 0 filter reads MinHash's cache
    // instead of caching its own copy on top of it
    assert(setsCached && !filteredCached,
      s"shingleSets cached: $setsCached; its nsh > 0 filter cached too: $filteredCached")
  }

  test("incremental dedup deltas inherit the banded-join plan properties") {
    import org.apache.spark.sql.catalyst.plans.logical.Join
    import graft.streaming.IncrementalDedup
    // the per-batch candidate join must keep the full operators' scale
    // posture: no quadratic strategy, no set/vector payload through the
    // banded shuffle — the untouched-bucket anti-work happens via a
    // LEFT-SEMI key probe, which must also stay payload-free
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select("vec_id", "embedding")
    def check(df: DataFrame, payload: String, key: String = "bucket"): Unit = {
      val joins = df.queryExecution.optimizedPlan.collect { case j: Join => j }
      val banded = joins.filter(_.condition.exists(_.references.exists(_.name == key)))
      assert(banded.nonEmpty, "no banded join in the incremental delta plan")
      banded.foreach { j =>
        val cols = (j.left.output ++ j.right.output).map(_.name)
        assert(!cols.contains(payload),
          s"'$payload' carried through an incremental banded join: $cols")
      }
      val p = plan(df)
      assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
    }
    val a = docs.filter(org.apache.spark.sql.functions.col("doc_id") % 2 === 0)
    val b = docs.filter(org.apache.spark.sql.functions.col("doc_id") % 2 =!= 0)
    // the shipped deltas localCheckpoint their candidate frames (plan
    // truncation — see the IncrementalDedup scaladoc), which REPLACES the
    // banded join's tree with a LogicalRDD leaf in the delta's outputs; the
    // assertions therefore inspect the UN-truncated candidate seams the
    // deltas checkpoint (same plan, pre-truncation)
    // the second batch's candidates against the first batch's state
    def cand(fam: IncrementalDedup.Family, all: DataFrame, a: DataFrame,
             b: DataFrame): DataFrame = {
      val st = IncrementalDedup.step(fam, IncrementalDedup.empty(fam, all), a).state
      IncrementalDedup.candidates(fam, st, b)._3
    }
    val mhd = cand(IncrementalDedup.MinHash(), docs, a, b)
    // SimHash verifies inside its candidate join: its candidates are its pairs
    val shd = cand(IncrementalDedup.SimHash(), docs, a, b)
    val ea = emb.filter(org.apache.spark.sql.functions.col("vec_id") % 2 === 0)
    val eb = emb.filter(org.apache.spark.sql.functions.col("vec_id") % 2 =!= 0)
    val emd = cand(IncrementalDedup.Embed(), emb, ea, eb)
    val ngd = cand(IncrementalDedup.Ngram(), docs, a, b)
    // the delta frames are persisted by the operator, which would make the
    // optimizer substitute InMemoryRelation and HIDE the join tree from the
    // assertion — release the caches first (queryExecution is lazy; nothing
    // has forced these frames' own plans yet), then inspect the real tree
    Dedup.releaseCaches(spark)
    check(mhd, "sh")
    check(shd, "text")
    check(emd, "vec")
    // the PPJoin family's bucket identity is the prefix shingle itself
    check(ngd, "sh", key = "shingle")
  }

  test("q_bucketed_join rebuilds its layout when the memoized tables are dropped") {
    val q = SparkEntry.queries("q_bucketed_join")
    val first = q(spark, sfDir).collect().toSeq
    val tables = spark.catalog.listTables().collect().map(_.name)
      .filter(n => n.startsWith("g_orders_b_") || n.startsWith("g_lineitem_b_"))
    assert(tables.length >= 2, s"bucketed tables not in the catalog: ${tables.toSeq}")
    tables.foreach(t => spark.sql(s"DROP TABLE IF EXISTS `$t`"))
    // served from the memo without revalidation, this would name tables
    // that no longer exist and fail analysis
    val again = q(spark, sfDir)
    assert(again.collect().toSeq == first)
    tables.foreach(t => assert(spark.catalog.tableExists(t), s"$t was not rebuilt"))
  }

  test("IVF cell assignment is a shuffle-free projection (no Exchange/Window)") {
    import org.apache.spark.sql.functions._
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val sample = graft.operators.Similarity.centroids(emb, "vec_id", "embedding", 16)
      .orderBy("cell").collect().map(r => org.apache.spark.sql.Row(r.get(1)))
    val assigned = graft.operators.Similarity.assignCells(emb, "vec_id", "embedding", sample)
    val p = plan(assigned)
    assert(!p.contains("Exchange") && !p.contains("Window"),
      s"assignment stage shuffles or sorts:\n${p.take(1500)}")

    // equality witness: the windowed crossJoin argmax it replaced (round-3
    // verdict item 2) — same cell per row, same tie-break (d desc, cell asc)
    val cents = graft.operators.Similarity.centroids(emb, "vec_id", "embedding", 16)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("neighbor_id").orderBy(col("d").desc, col("cell"))
    val witness = emb.select(col("vec_id").as("neighbor_id"), col("embedding").as("vec"))
      .crossJoin(broadcast(cents))
      .withColumn("d", graft.operators.Dedup.cosine(col("vec"), col("cvec")))
      .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select(col("neighbor_id"), col("cell").as("cell_w"))
    val diff = assigned.select("neighbor_id", "cell")
      .join(witness, "neighbor_id")
      .filter(col("cell") =!= col("cell_w")).count()
    assert(diff == 0, s"$diff rows assigned to a different cell than the windowed argmax")

    // native NearestCentroid ≡ the literal-array HOF fold it replaced, on
    // real embeddings PLUS the degenerate shapes the windowed join above
    // can't exercise (all-zero vector → every cosine NaN → nan-safe fold
    // lands in cell 0; NaN element; negative single-dim)
    import spark.implicits._
    val edge = Seq(
      (900001L, Array.fill(32)(0.0f)),     // zero norm → every cosine null → cell -1
      (900002L, Array.fill(32)(Float.NaN)), // NaN → nan-safe fold → cell 0
      (900003L, Array.tabulate(32)(i => if (i == 0) -1.0f else 0.0f)),
      (900004L, null.asInstanceOf[Array[Float]])) // null vec → cell -1, not null
      .toDF("vec_id", "embedding")
    val both = emb.select("vec_id", "embedding").limit(300).union(edge)
    val nat = graft.operators.Similarity.assignCells(both, "vec_id", "embedding", sample)
      .select(col("neighbor_id"), col("cell"))
    val fold = Witnesses
      .assignCellsColumns(both, "vec_id", "embedding", sample)
      .select(col("neighbor_id"), col("cell").as("cell_f"))
    val d2 = nat.join(fold, "neighbor_id").filter(col("cell") =!= col("cell_f")).count()
    assert(d2 == 0, s"$d2 rows: native NearestCentroid != HOF fold")
  }

  test("q_jaro_winkler runs as a native expression (no ScalaUDF in the plan)") {
    val df = SparkEntry.queries("q_jaro_winkler")(spark, sfDir)
    val p = plan(df)
    assert(!p.contains("ScalaUDF") && !df.queryExecution.optimizedPlan.toString.contains("UDF"),
      s"udf in jaro-winkler plan:\n${p.take(1200)}")
    // and the expression agrees with the scoring kernel on adversarial cases
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val cases = Seq(("martha", "marhta"), ("dixon", "dicksonx"), ("", ""),
      ("a", ""), ("same", "same"), ("abcdef", "uvwxyz"))
    val got = cases.toDF("a", "b")
      .select(graft.functions.JaroWinklerExpr.jaroWinkler(col("a"), col("b")))
      .as[Double].collect()
    val want = cases.map { case (a, b) => graft.operators.Scoring.jaroWinkler(a, b) }
    assert(got.toSeq == want, s"expr != kernel: $got vs $want")
  }

  test("normalizer chain stays in one WholeStageCodegen span") {
    import org.apache.spark.sql.functions._
    val df = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(graft.functions.TrText.normalizeFull(col("text")).as("n"))
    val p = plan(df)
    // '*(n)' prefixes mark WholeStageCodegen stages in toString form; the
    // whole chain must sit in stage 1 over the scan
    assert(p.contains("*(1) Project"), s"no codegen:\n${p.take(800)}")
  }
}
