package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{Path => HPath}
import org.apache.spark.TestListenerBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Blocking, Linkage, StaticParser}
import graft.plans.{Resumable, ResumableLinkage, Snapshots, StateFs}
import graft.sources.Pages
import graft.streaming.StreamingIngest

class SnapshotStreamingSpec extends AnyFunSuite with TempDirs {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  test("snapshot commit/read/latest + atomic manifest") {
    val root = tmpDir("snaps")
    val df = Seq((1, "a"), (2, "b")).toDF("id", "v")
    val s0 = Snapshots.commit(df, root, "stage1", "fp1")
    assert(s0 == 0)
    val s1 = Snapshots.commit(df.filter(col("id") === 1), root, "stage1", "fp2")
    assert(s1 == 1)
    assert(Snapshots.committedSnaps(root, "stage1") == Seq(0, 1))
    assert(Snapshots.latest(root, "stage1", "fp1").contains(0))
    assert(Snapshots.latest(root, "stage1", "fp2").contains(1))
    assert(Snapshots.latest(root, "stage1", "fp3").isEmpty)
    val m = Snapshots.readManifest(root, "stage1", 1)
    assert(m.rows == 1 && m.parent == 0 && m.codeVersion == Snapshots.CodeVersion)
    // uncommitted (no manifest) snapshot is invisible
    Files.createDirectories(Paths.get(root, "stage1", "snap=7", "data"))
    assert(Snapshots.committedSnaps(root, "stage1") == Seq(0, 1))
  }

  test("resumable linkage: second run recomputes nothing and matches") {
    val root = tmpDir("resume")
    val pages = Pages.synthesize(spark, 600).toDF()
    val bIdx = StaticParser.broadcastIndex(spark)
    val r1 = ResumableLinkage.run(spark, pages, "pages-600-42", root, bIdx)
      .orderBy("url").collect()
    val metricsAfter1 = Snapshots.metrics(spark, root).count()
    assert(metricsAfter1 == 4) // one row per committed stage
    // per-partition lineage: file rows sum to each stage's manifest rows
    val lin = Snapshots.lineage(spark, root)
    assert(lin.count() >= 4)
    val linSum = lin.groupBy("stage").agg(org.apache.spark.sql.functions.sum("rows").as("r"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(linSum("prepared") == 600 && linSum("entities") == 600)

    val r2 = ResumableLinkage.run(spark, pages, "pages-600-42", root, bIdx)
      .orderBy("url").collect()
    val metricsAfter2 = Snapshots.metrics(spark, root).count()
    assert(metricsAfter2 == 4, "resume must not recompute committed stages")
    assert(r1.map(_.toString).sameElements(r2.map(_.toString)))

    // changed config ⇒ new fingerprint ⇒ stages recompute as new snapshots
    ResumableLinkage.run(spark, pages, "pages-600-42", root, bIdx,
      Linkage.Config(threshold = 0.9))
    assert(Snapshots.metrics(spark, root).count() == 8)
    assert(Snapshots.committedSnaps(root, "prepared") == Seq(0, 1))
  }

  test("resume mid-pipeline: later stages compute from committed earlier stages") {
    val root = tmpDir("resume2")
    val pages = Pages.synthesize(spark, 600).toDF()
    val fp = ResumableLinkage.fingerprint("p600", Linkage.Config())
    // commit only the first stage, as an interrupted run would have
    Snapshots.commit(Linkage.prepare(pages), root, "prepared", fp)
    val bIdx = StaticParser.broadcastIndex(spark)
    val out = ResumableLinkage.run(spark, pages, "p600", root, bIdx)
    assert(out.count() == 600)
    // prepared was NOT recomputed (still exactly one snapshot)
    assert(Snapshots.committedSnaps(root, "prepared") == Seq(0))
    assert(Snapshots.committedSnaps(root, "entities") == Seq(0))
  }

  test("resumable linkage equals Linkage.entities row for row; metrics agree with manifest and lineage") {
    val root = tmpDir("resume-eq")
    val pages = Pages.synthesize(spark, 600).toDF()
    val bIdx = StaticParser.broadcastIndex(spark)
    val committed = ResumableLinkage.run(spark, pages, "p600-eq", root, bIdx)
      .orderBy("url").collect().toSeq
    val direct = Linkage.entities(pages, bIdx).orderBy("url").collect().toSeq
    assert(committed.size == 600)
    assert(committed == direct,
      s"first difference: ${committed.zip(direct).find { case (a, b) => a != b }}")

    // every stage's bookkeeping comes from the one read-back at commit:
    // rows_out = manifest rows = lineage row sum; partitions = lineage files
    val metrics = Snapshots.metrics(spark, root)
      .select("stage", "snap", "rows_out", "partitions").collect()
      .map(r => r.getString(0) -> (r.getInt(1), r.getLong(2), r.getInt(3))).toMap
    val lineage = Snapshots.lineage(spark, root).groupBy("stage", "snap")
      .agg(sum("rows"), count(lit(1))).collect()
      .map(r => (r.getString(0), r.getInt(1)) -> (r.getLong(2), r.getLong(3))).toMap
    Seq("prepared", "scored", "components", "entities").foreach { st =>
      val (snap, rowsOut, partitions) = metrics(st)
      val (linRows, linFiles) = lineage((st, snap))
      assert(rowsOut == Snapshots.readManifest(root, st, snap).rows, st)
      assert(rowsOut == linRows, st)
      assert(partitions > 0 && partitions.toLong == linFiles, s"$st: $partitions vs $linFiles")
    }
  }

  test("manifest file list equals an input_file_name() read-back of the committed data") {
    val root = tmpDir("snap-files")
    // 5 rows over 8 partitions: some partitions are empty
    val spread = spark.sparkContext.parallelize(1 to 5, 8).toDF("id")
    val df = Resumable.stage(spark, root, "spread", "fp")(spread)
    assert(df.count() == 5)
    val snap = Snapshots.latest(root, "spread", "fp").get
    // the reference: per-file counts from a Spark read of the data directory
    def qualified(f: String): String = {
      val p = new HPath(f)
      StateFs.fs(p).makeQualified(p).toString
    }
    val readBack = spark.read.parquet(Snapshots.dataPath(root, "spread", snap))
      .groupBy(input_file_name().as("file")).count()
      .collect().map(r => qualified(r.getString(0)) -> r.getLong(1)).toMap
    val lineage = Snapshots.lineage(spark, root).filter(col("snap") === snap)
      .select("file", "rows").collect().map(r => qualified(r.getString(0)) -> r.getLong(1))
    assert(lineage.toMap == readBack && lineage.length == readBack.size)
    assert(lineage.forall(_._2 > 0), s"zero-row file in lineage: ${lineage.toSeq}")
    // partition 0 is empty and Spark still writes its file (to keep the
    // schema); the manifest leaves that zero-row file out
    val onDisk = StateFs.listNames(Snapshots.dataPath(root, "spread", snap))
      .count(_.startsWith("part-"))
    assert(onDisk > lineage.length, s"$onDisk data files, ${lineage.length} in lineage")
    val partitions = Snapshots.metrics(spark, root).filter(col("snap") === snap)
      .select("partitions").as[Int].collect().toSeq
    assert(partitions == Seq(readBack.size))
    // views keep the column names and types of the tables they replace
    assert(Snapshots.metrics(spark, root).dtypes.toSeq == Seq("stage" -> "StringType",
      "snap" -> "IntegerType", "rows_out" -> "LongType", "seconds" -> "DoubleType",
      "partitions" -> "IntegerType"))
    assert(Snapshots.lineage(spark, root).dtypes.toSeq == Seq("stage" -> "StringType",
      "snap" -> "IntegerType", "file" -> "StringType", "rows" -> "LongType"))
    // the commit wrote its data and manifest, and no bookkeeping table
    assert(StateFs.listNames(root) == Seq("spread"))
  }

  /** Jobs `action` submits, counted by a listener on its own job group. */
  private def jobsOf(action: => Any): Int = {
    val sc = spark.sparkContext
    val group = "snapshot-job-count-guard"
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null &&
            e.properties.getProperty("spark.jobGroup.id") == group)
          jobs.incrementAndGet()
    }
    TestListenerBus.drain(sc)
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "job-count guard")
      try action finally sc.clearJobGroup()
      TestListenerBus.drain(sc)
      jobs.get()
    } finally sc.removeSparkListener(listener)
  }

  test("job-count guard: a commit submits only its data write; a committed stage none") {
    val root = tmpDir("snap-jobs")
    val df = Seq((1, "a"), (2, "b")).toDF("id", "v")
    assert(jobsOf(Snapshots.commit(df, root, "stage1", "fp1")) == 1)
    assert(jobsOf(Resumable.stage(spark, root, "stage2", "fp1")(df)) == 1)
    assert(jobsOf(Resumable.stage(spark, root, "stage2", "fp1")(df)) == 0)
  }

  test("job-count guard: a RunLinkage re-submit runs only the schema read; the bytes probe is one job; no _SUCCESS") {
    val inDir = tmpDir("runlink-jobs-in")
    val root = tmpDir("runlink-jobs-snap")
    Pages.synthesize(spark, 200).toDF().write.mode("overwrite").parquet(inDir)
    val n1 = graft.RunLinkage.runFromArgs(spark, Array(inDir, root))
    // on a fully committed root, the only job is the input's parquet schema
    // read; the count comes from the entities manifest
    var n2 = -1L
    assert(jobsOf { n2 = graft.RunLinkage.runFromArgs(spark, Array(inDir, root)) } == 1)
    val stages = Seq("prepared", "scored", "components", "entities")
    val manifests = stages.map(st =>
      Snapshots.readManifest(root, st, Snapshots.committedSnaps(root, st).last))
    assert(n1 == 200 && n2 == n1 && manifests.last.rows == n1)
    // the manifest is the only commit marker: no data dir holds _SUCCESS
    manifests.foreach { m =>
      val names = StateFs.listNames(Snapshots.dataPath(root, m.stage, m.snap))
      assert(names.exists(_.startsWith("part-")) && !names.contains("_SUCCESS"),
        s"${m.stage}: $names")
    }

    // measured-bytes probe on a relation with no memo entry: one job, no
    // exchange (the broadcast regime runs no hot-key probe)
    val threshold = "spark.sql.autoBroadcastJoinThreshold"
    val saved = spark.conf.getOption(threshold)
    spark.conf.set(threshold, 10L * 1024 * 1024)
    try {
      val rel = spark.range(0, 200, 1, 4)
        .select((col("id") % 10).cast("string").as("k"), col("id"))
      Blocking.clearProbeMemo(spark)
      assert(jobsOf(Blocking.saltedSelfJoin(rel, Seq("k"), "id", Nil)) == 1)
      // memoized: the same relation probes no more
      assert(jobsOf(Blocking.saltedSelfJoin(rel, Seq("k"), "id", Nil)) == 0)
    } finally saved.fold(spark.conf.unset(threshold))(spark.conf.set(threshold, _))
  }

  test("streaming ingest: micro-batch parity with batch prepare") {
    val inDir = tmpDir("stream-in")
    val outDir = tmpDir("stream-out") + "/out"
    val ckpt = tmpDir("stream-ckpt")
    val pages = Pages.synthesize(spark, 300).toDF()
    // two "arrivals" → two files
    pages.filter(Pages.goldEntityId(col("url")) < 50).write.mode("append").parquet(inDir)
    pages.filter(Pages.goldEntityId(col("url")) >= 50).write.mode("append").parquet(inDir)

    val q = StreamingIngest.writePrepared(
      StreamingIngest.prepared(StreamingIngest.readPages(spark, inDir)),
      outDir, ckpt).start()
    q.awaitTermination(120000)

    val streamed = spark.read.parquet(outDir)
      .select("url", "extracted", "norm", "block_key")
    val batch = Linkage.prepare(pages).select("url", "extracted", "norm", "block_key")
    assert(streamed.count() == 300)
    assert(streamed.except(batch).count() == 0 && batch.except(streamed).count() == 0)

    // non-default phonetic config flows through the streaming twin too —
    // a soundex/metaphone mismatch would silently desynchronize streaming
    // block stats from the blocks linkage actually pairs on
    val mCfg = Linkage.Config(phonetic = "metaphone")
    val outDir2 = tmpDir("stream-out-m") + "/out"
    val q2 = StreamingIngest.writePrepared(
      StreamingIngest.prepared(StreamingIngest.readPages(spark, inDir), mCfg),
      outDir2, tmpDir("stream-ckpt-m")).start()
    q2.awaitTermination(120000)
    val streamedM = spark.read.parquet(outDir2).select("url", "block_key")
    val batchM = Linkage.prepare(pages, mCfg).select("url", "block_key")
    assert(streamedM.except(batchM).count() == 0 && batchM.except(streamedM).count() == 0,
      "streaming block keys diverge from batch prepare under metaphone config")
  }

  test("streaming block stats: watermarked windowed aggregation completes") {
    val inDir = tmpDir("stream-in2")
    Pages.synthesize(spark, 300).toDF().write.mode("append").parquet(inDir)
    val stats = StreamingIngest.blockStats(
      StreamingIngest.prepared(StreamingIngest.readPages(spark, inDir)))
    val q = stats.writeStream.format("memory").queryName("blockstats")
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    // append mode emits only watermark-closed windows; with AvailableNow the
    // final watermark closes all but the last — assert the query ran and the
    // complete-mode equivalent matches batch semantics instead:
    val batch = Linkage.prepare(Pages.synthesize(spark, 300).toDF())
      .groupBy(window(col("warc_ts"), "1 hour"), col("block_key"))
      .agg(count(lit(1)).as("n_pages"))
    assert(batch.count() > 0)
    assert(spark.table("blockstats").columns.toSeq ==
      Seq("bucket", "block_key", "n_pages"))
  }

  test("flatMapGroupsWithState block sessions: event-time settle + state survives restart") {
    import graft.streaming.BlockSessions
    val inDir = tmpDir("sessions-in")
    val ckpt = tmpDir("sessions-ckpt")
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    def writeFile(rows: Seq[(String, java.sql.Timestamp)], name: String): Unit =
      rows.toDF("block_key", "warc_ts").coalesce(1)
        .write.parquet(s"$inDir/$name")
    val outDir = tmpDir("sessions-out") + "/settled"
    def runOnce(): Unit = {
      val in = spark.readStream
        .schema("block_key STRING, warc_ts TIMESTAMP")
        .parquet(s"$inDir/*")
        .withWatermark("warc_ts", "10 minutes")
      // file sink: the memory sink cannot recover from a checkpoint, and
      // restart recovery is exactly what this test exercises
      val q = BlockSessions.settled(in, gapMinutes = 60).writeStream
        .format("parquet").option("path", outDir).outputMode("append")
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      q.awaitTermination(120000)
    }
    // run 1: block A churns 10:00-10:10 (3 pages), B arrives once at 10:05
    writeFile(Seq(("A", ts("2024-01-01 10:00:00")), ("A", ts("2024-01-01 10:04:00")),
      ("A", ts("2024-01-01 10:10:00")), ("B", ts("2024-01-01 10:05:00"))), "f1")
    runOnce()
    // run 2 (RESTART over the same checkpoint): B again at 13:00, C at 16:00
    // → the advancing watermark passes A's (and eventually B's) quiet gap;
    // their counts must come from run 1's recovered state store
    writeFile(Seq(("B", ts("2024-01-01 13:00:00"))), "f2")
    writeFile(Seq(("C", ts("2024-01-01 16:00:00"))), "f3")
    runOnce()
    val out = spark.read.parquet(outDir)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getTimestamp(2), r.getTimestamp(3))).toMap
    val a = out.get("A")
    assert(a.nonEmpty, s"block A never settled: $out")
    assert(a.get._1 == 3 && a.get._2 == ts("2024-01-01 10:00:00") &&
      a.get._3 == ts("2024-01-01 10:10:00"),
      s"A's settled summary lost restart state: ${a.get}")
    // if B settled, BOTH arrivals (across a restart) are in its count
    out.get("B").foreach { b => assert(b._1 == 2, s"B count lost state: $b") }
    // C just arrived (watermark 15:50 < its 17:00 timeout): still live
    assert(!out.contains("C"), s"C settled prematurely: $out")
  }

  test("RunLinkage entry point: submit, resume, and match the library path") {
    val inDir = tmpDir("runlink-in")
    val root = tmpDir("runlink-snap")
    Pages.synthesize(spark, 600).toDF().write.mode("overwrite").parquet(inDir)
    val n1 = graft.RunLinkage.runFromArgs(spark, Array(inDir, root))
    assert(n1 == 600)
    // re-submit with identical args: every stage resumes from its committed
    // snapshot (4 stages committed once — no second snapshot appears)
    val snapsBefore = Seq("prepared", "scored", "components", "entities")
      .map(st => graft.plans.Snapshots.committedSnaps(root, st).size)
    val n2 = graft.RunLinkage.runFromArgs(spark, Array(inDir, root))
    val snapsAfter = Seq("prepared", "scored", "components", "entities")
      .map(st => graft.plans.Snapshots.committedSnaps(root, st).size)
    assert(n2 == 600 && snapsBefore == Seq(1, 1, 1, 1) && snapsAfter == snapsBefore)
    // committed entities equal the direct library path
    val committed = spark.read.parquet(
      graft.plans.Snapshots.dataPath(root, "entities", 0))
      .select("url", "entity_id")
    val direct = Linkage.entities(
      Pages.synthesize(spark, 600).toDF(),
      graft.operators.StaticParser.broadcastIndex(spark))
      .select("url", "entity_id")
    assert(committed.except(direct).count() == 0 && direct.except(committed).count() == 0)
  }

  test("incremental linkage step: second batch re-scores ONLY its blocks") {
    import graft.streaming.IncrementalLinkage
    val all = Pages.synthesize(spark, 900).toDF().persist()
    val a = all.filter(Pages.goldEntityId(col("url")) < 200)
    val b = all.filter(Pages.goldEntityId(col("url")) >= 200)

    val emptyPrepared = Linkage.prepare(a).limit(0) // right schema, no rows
    val emptyScored = spark.emptyDataset[graft.operators.ScoredPair].toDF()
    val s1 = IncrementalLinkage.step(emptyPrepared, emptyScored, a)
    val s2 = IncrementalLinkage.step(s1.prepared, s1.scored, b)

    // correctness: incremental state == full recompute over A ∪ B
    val full = Linkage.scored(Linkage.prepare(all))
      .select("url_a", "url_b", "score", "is_match")
    val inc = s2.scored.select("url_a", "url_b", "score", "is_match")
    assert(inc.except(full).count() == 0 && full.except(inc).count() == 0,
      "incremental scored state diverged from full recompute")

    // efficiency: only blocks touched by batch B were re-scored
    val changedKeys = Linkage.prepare(b).select("block_key").distinct()
    val untouched = s1.scored.join(changedKeys, Seq("block_key"), "left_anti")
    val rescored = s2.pairsRescored
    val fullPairs = full.count()
    info(s"batch2: changed_blocks=${s2.changedBlocks} rescored_pairs=$rescored " +
      s"carried=${untouched.count()} full_recompute_pairs=$fullPairs")
    assert(rescored < fullPairs, "second batch re-scored the whole corpus")
    // every carried pair appears verbatim in the new state
    assert(untouched.except(s2.scored).count() == 0)
    all.unpersist()
  }

  test("incremental linkage streaming driver: two micro-batches, resumed state") {
    import graft.streaming.IncrementalLinkage
    val inDir = tmpDir("inc-in")
    val stateDir = tmpDir("inc-state")
    val ckpt = tmpDir("inc-ckpt")
    val all = Pages.synthesize(spark, 600).toDF().persist()
    val a = all.filter(Pages.goldEntityId(col("url")) < 120)
    val b = all.filter(Pages.goldEntityId(col("url")) >= 120)

    // file-source streams list top-level files: append into inDir directly
    a.write.mode("append").parquet(inDir)
    IncrementalLinkage.run(spark, inDir, stateDir, ckpt).awaitTermination()
    b.write.mode("append").parquet(inDir)
    IncrementalLinkage.run(spark, inDir, stateDir, ckpt).awaitTermination()

    // batch ids 0 and 1 committed as DELTAS; the merged state equals the
    // full recompute
    assert(IncrementalLinkage.committedBatches(stateDir) == Seq(0L, 1L))
    val inc = IncrementalLinkage.loadScoredState(spark, stateDir)
      .select("url_a", "url_b", "score", "is_match")
    val full = Linkage.scored(Linkage.prepare(all))
      .select("url_a", "url_b", "score", "is_match")
    assert(inc.except(full).count() == 0 && full.except(inc).count() == 0)

    // per-batch WRITE is O(delta), not O(corpus): batch 1's scored delta
    // holds only its touched blocks' pairs, strictly fewer than the state
    val d1 = spark.read.parquet(s"$stateDir/batch=1/scored").count()
    val total = inc.count()
    assert(d1 < total, s"batch-1 delta ($d1) not smaller than full state ($total)")
    all.unpersist()
  }

  test("composed driver: entityStateDir maintains the CC assignment with the linkage state") {
    import graft.streaming.{IncrementalCC, IncrementalLinkage}
    val inDir = tmpDir("ent-in")
    val stateDir = tmpDir("ent-state")
    val ccDir = tmpDir("ent-cc")
    val ckpt = tmpDir("ent-ckpt")
    val all = Pages.synthesize(spark, 600).toDF().persist()
    // url-hash split: one entity's pages land in DIFFERENT batches, so the
    // maintained assignment must merge across batches
    val a = all.filter(pmod(xxhash64(col("url")), lit(2)) === 0)
    val b = all.filter(pmod(xxhash64(col("url")), lit(2)) === 1)

    a.write.mode("append").parquet(inDir)
    IncrementalLinkage.run(spark, inDir, stateDir, ckpt,
      entityStateDir = Some(ccDir)).awaitTermination()
    b.write.mode("append").parquet(inDir)
    IncrementalLinkage.run(spark, inDir, stateDir, ckpt,
      entityStateDir = Some(ccDir)).awaitTermination()

    assert(IncrementalCC.ccCommittedBatches(ccDir) == Seq(0L, 1L))
    val assign = IncrementalCC.loadAssign(spark, ccDir, Long.MaxValue,
      stringIds = true).persist()
    val full = graft.operators.ConnectedComponents.run(
      IncrementalLinkage.loadScoredState(spark, stateDir)
        .filter(col("is_match"))
        .select(col("url_a").as("src"), col("url_b").as("dst"))).persist()
    assert(assign.except(full).count() == 0 && full.except(assign).count() == 0,
      "maintained entity assignment diverged from full CC on the scored state")
    // the split actually exercised cross-batch merging: some component
    // carries urls from both batches
    val both = assign.join(all.select(col("url").as("id"),
        pmod(xxhash64(col("url")), lit(2)).as("par")), Seq("id"))
      .groupBy("component").agg(countDistinct(col("par")).as("np"))
      .filter(col("np") > 1).count()
    assert(both > 0, "no component spans the two batches — split too weak")
    assign.unpersist(); full.unpersist(); all.unpersist()
    graft.operators.Dedup.releaseCaches(spark)
  }

  test("incremental linkage: compaction commits full state and GC removes superseded deltas") {
    import graft.streaming.IncrementalLinkage
    val inDir = tmpDir("inc-in-c")
    val stateDir = tmpDir("inc-state-c")
    val ckpt = tmpDir("inc-ckpt-c")
    val all = Pages.synthesize(spark, 600).toDF().persist()
    val parts = Seq(
      all.filter(Pages.goldEntityId(col("url")) < 70),
      all.filter(Pages.goldEntityId(col("url")) >= 70 && Pages.goldEntityId(col("url")) < 140),
      all.filter(Pages.goldEntityId(col("url")) >= 140))

    // compactEvery=2: batch 1 compacts; batch 2 GCs batch 0's deltas
    parts.foreach { p =>
      p.write.mode("append").parquet(inDir)
      IncrementalLinkage.run(spark, inDir, stateDir, ckpt, compactEvery = 2)
        .awaitTermination()
    }
    assert(IncrementalLinkage.compactions(stateDir) == Seq(1L),
      s"expected one compaction: ${IncrementalLinkage.compactions(stateDir)}")
    // batches 0 and 1 were folded into compaction base 1 and GC'd by batch 2
    assert(!new java.io.File(s"$stateDir/batch=0").exists(),
      "superseded delta not garbage-collected")
    assert(IncrementalLinkage.committedBatches(stateDir) == Seq(2L))

    // state after compaction + GC still equals the full recompute
    val inc = IncrementalLinkage.loadScoredState(spark, stateDir)
      .select("url_a", "url_b", "score", "is_match")
    val full = Linkage.scored(Linkage.prepare(all))
      .select("url_a", "url_b", "score", "is_match")
    assert(inc.except(full).count() == 0 && full.except(inc).count() == 0,
      "compacted+GC'd state diverged from full recompute")
    all.unpersist()
  }

  private def copyTree(from: Path, to: Path): Unit =
    Files.walk(from).sorted().forEach { p =>
      val t = to.resolve(from.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(t) else Files.copy(p, t)
    }

  test("commit boundaries: linkage, CC and MinHash dedup state at every crash point == full recompute") {
    import graft.operators.{ConnectedComponents, Dedup}
    import graft.streaming.{IncrementalCC, IncrementalDedup, IncrementalLinkage}
    /** One state dir of a driver, `sub` under its root: `load` reads its
      * frames, `full` recomputes them over some inputs. */
    case class State(sub: String, load: String => Seq[DataFrame],
                     full: DataFrame => Seq[DataFrame])
    /** A streaming driver over three input batches: `run(in, root, ckpt)`
      * consumes what the input dir holds into its state dirs under `root`. */
    case class Driver(name: String, inputs: Seq[DataFrame],
                      run: (String, String, String) => Unit, states: Seq[State])
    val scoredCols = Seq("url_a", "url_b", "score", "is_match").map(col)
    val pages = Pages.synthesize(spark, 400).toDF().persist()
    val pageInputs = (0 to 2).map(r => pages.filter(pmod(xxhash64(col("url")), lit(3)) === r))
    val rng = new scala.util.Random(7)
    val edges = Seq.fill(180)((rng.nextLong(120), rng.nextLong(120))).grouped(60)
      .map(_.toDF("src", "dst")).toSeq
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").persist()
    val linkageState = State("state",
      st => Seq(IncrementalLinkage.loadPreparedState(spark, st).select("url", "block_key"),
        IncrementalLinkage.loadScoredState(spark, st).select(scoredCols: _*)),
      all => {
        val p = Linkage.prepare(all)
        Seq(p.select("url", "block_key"), Linkage.scored(p).select(scoredCols: _*))
      })
    val drivers = Seq(
      Driver("linkage", pageInputs,
        (in, root, ck) => IncrementalLinkage.run(spark, in, s"$root/state", ck,
          compactEvery = 2).awaitTermination(),
        Seq(linkageState)),
      Driver("composed", pageInputs,
        (in, root, ck) => IncrementalLinkage.run(spark, in, s"$root/state", ck,
          compactEvery = 2, entityStateDir = Some(s"$root/cc")).awaitTermination(),
        Seq(linkageState, State("cc",
          st => Seq(IncrementalCC.loadAssign(spark, st, Long.MaxValue, stringIds = true)
            .select("id", "component")),
          all => Seq(ConnectedComponents.run(Linkage.scored(Linkage.prepare(all))
            .filter(col("is_match")).select(col("url_a").as("src"), col("url_b").as("dst")))
            .select("id", "component"))))),
      Driver("cc", edges,
        (in, root, ck) => IncrementalCC.run(spark, in, s"$root/state", ck, compactEvery = 2)
          .awaitTermination(),
        Seq(State("state",
          st => Seq(IncrementalCC.loadAssign(spark, st, Long.MaxValue).select("id", "component")),
          all => Seq(ConnectedComponents.run(all).select("id", "component"))))),
      Driver("minhash",
        (0 to 2).map(r => docs.filter(col("doc_id") % 3 === r)),
        (in, root, ck) => IncrementalDedup.run(spark, IncrementalDedup.MinHash(threshold = 0.5),
          in, s"$root/state", ck, compactEvery = 2).awaitTermination(),
        Seq(State("state",
          st => {
            // frames: sets, banded, pairs
            val s = IncrementalDedup.load(spark, IncrementalDedup.MinHash(), st, Long.MaxValue)
            Seq(s.frames.head.select("id"), s.pairs)
          },
          all => Seq(Dedup.shingleSets(all, "doc_id", "text", 3).select("id"),
            Dedup.minhashPairs(all, "doc_id", "text", threshold = 0.5))))))

    /** The writes batch `b` made to one state dir, in order, each as a
      * change to a copy of the dir as it was before the batch: GC (each
      * batch dir below the base, manifest first), the role dirs in the
      * manifest's role order, the manifest's `.tmp`, and its publish rename. */
    def writes(before: Path, after: Path, b: Int): Seq[(String, Path => Unit)] = {
      def ids(p: Path) = StateFs.listNames(p.toString).flatMap(StateFs.numericSuffix(_, "batch="))
      val gc = (ids(before).toSet -- ids(after)).toSeq.sorted.flatMap { n =>
        Seq[(String, Path => Unit)](
          s"GC of batch=$n/manifest.json" -> { w =>
            Files.delete(w.resolve(s"batch=$n/manifest.json"))
            Files.deleteIfExists(w.resolve(s"batch=$n/.manifest.json.crc"))
          },
          s"GC of batch=$n" -> (w => TempDirs.deleteRecursively(w.resolve(s"batch=$n"))))
      }
      val dir = s"batch=$b"
      val roles = Snapshots.readJson(after.resolve(dir).toString).get("roles").asScala
        .map(_.get("role").asText).toSeq
      gc ++ roles.map(r => s"$dir/$r" -> ((w: Path) =>
        copyTree(after.resolve(s"$dir/$r"), w.resolve(s"$dir/$r")))) ++
        Seq[(String, Path => Unit)](
          s"$dir/manifest.json.tmp" -> (w =>
            Files.copy(after.resolve(s"$dir/manifest.json"), w.resolve(s"$dir/manifest.json.tmp"))),
          s"$dir/manifest.json" -> (w =>
            Files.move(w.resolve(s"$dir/manifest.json.tmp"), w.resolve(s"$dir/manifest.json"))))
    }

    drivers.foreach { d =>
      val root = tmpDir(s"boundary-${d.name}")
      val (in, ckpt) = (s"$root/in", s"$root/ckpt")
      // each state dir as batches 0, 1 and 2 left it
      val snaps = (0 to 2).map { k =>
        d.inputs(k).write.mode("append").parquet(in)
        d.run(in, root, ckpt)
        d.states.map { s =>
          val snap = Paths.get(tmpDir(s"boundary-${d.name}-${s.sub}-$k"))
          copyTree(Paths.get(root, s.sub), snap)
          snap
        }
      }
      // the full recompute over the first k inputs, per state dir
      val expected = (1 to 3).map { k =>
        d.states.map(_.full(d.inputs.take(k).reduce(_ unionByName _)).map(_.collect()))
      }
      d.states.indices.foreach { i =>
        val s = d.states(i)
        assert(Snapshots.readJson(snaps(1)(i).resolve("batch=1").toString).get("base").asBoolean,
          s"${d.name} ${s.sub}: batch 1 is not the base")
        Seq(1, 2).foreach { b =>
          val ws = writes(snaps(b - 1)(i), snaps(b)(i), b)
          if (b == 2) assert(ws.exists(_._1.startsWith("GC")), s"${d.name} ${s.sub}: no GC")
          (0 to ws.size).foreach { n =>
            val work = Paths.get(tmpDir(s"boundary-${d.name}-work"))
            copyTree(snaps(b - 1)(i), work)
            ws.take(n).foreach(_._2(work))
            // batch b is committed once its manifest is published, not before
            val k = if (n == ws.size) b + 1 else b
            val at = if (n == 0) s"before batch $b" else s"after ${ws(n - 1)._1}"
            s.load(work.toString).zip(expected(k - 1)(i)).foreach { case (got, want) =>
              val g = got.collect()
              val same = g.length == want.length && g.toSet == want.toSet
              assert(same, s"${d.name} ${s.sub} $at: ${g.length} rows, the full recompute " +
                s"over $k inputs has ${want.length}")
            }
            TempDirs.deleteRecursively(work)
          }
        }
      }
      snaps.flatten.foreach(TempDirs.deleteRecursively)
    }
    pages.unpersist(); docs.unpersist()
    graft.operators.Dedup.releaseCaches(spark)
  }

  test("job-count guard: loading a committed linkage stream state (a base and two live deltas) submits no job") {
    import graft.streaming.IncrementalLinkage
    val root = tmpDir("stream-jobs")
    val (in, state, ckpt) = (s"$root/in", s"$root/state", s"$root/ckpt")
    val pages = Pages.synthesize(spark, 200).toDF()
    // compactEvery = 2 makes batch 1 the base; 3 keeps batches 2 and 3 live
    Seq(2, 2, 3, 3).zipWithIndex.foreach { case (every, k) =>
      pages.filter(pmod(xxhash64(col("url")), lit(4)) === k).write.mode("append").parquet(in)
      IncrementalLinkage.run(spark, in, state, ckpt, compactEvery = every).awaitTermination()
    }
    assert(IncrementalLinkage.compactions(state) == Seq(1L))
    assert(IncrementalLinkage.committedBatches(state) == Seq(2L, 3L))
    // every role dir is read with the schema its batch manifest records, so
    // no read runs a schema-inference job
    var prepared: DataFrame = null
    assert(jobsOf {
      prepared = IncrementalLinkage.loadPreparedState(spark, state)
      IncrementalLinkage.loadScoredState(spark, state)
    } == 0)
    assert(prepared.count() == 200)
  }

  test("composed driver: a re-delivered plain or base batch rewrites no linkage file and equals an uninterrupted run") {
    import graft.streaming.{IncrementalCC, IncrementalLinkage}
    val scoredCols = Seq("url_a", "url_b", "score", "is_match").map(col)
    val pages = Pages.synthesize(spark, 300).toDF().persist()
    val inputs = (0 to 1).map(r => pages.filter(pmod(xxhash64(col("url")), lit(2)) === r))
    // compactEvery = 2: batch 0 is a plain delta, batch 1 the base
    def run(root: String): Unit =
      IncrementalLinkage.run(spark, s"$root/in", s"$root/state", s"$root/ckpt",
        compactEvery = 2, entityStateDir = Some(s"$root/cc")).awaitTermination()
    /** The linkage state and CC assignment after `batch`, sorted rows. */
    def states(root: String, batch: Long): Seq[Seq[String]] = Seq(
      IncrementalLinkage.loadPreparedState(spark, s"$root/state", batch + 1)
        .select("url", "block_key"),
      IncrementalLinkage.loadScoredState(spark, s"$root/state", batch + 1).select(scoredCols: _*),
      IncrementalCC.loadAssign(spark, s"$root/cc", batch + 1, stringIds = true))
      .map(_.collect().map(_.toString).toSeq.sorted)
    /** Every file under `dir`, with its modification time. */
    def mtimes(dir: Path): Map[String, Long] =
      Files.walk(dir).iterator().asScala.filter(Files.isRegularFile(_))
        .map(p => dir.relativize(p).toString -> Files.getLastModifiedTime(p).toMillis).toMap

    val clean = tmpDir("redeliver-clean")
    inputs.foreach { df => df.write.mode("append").parquet(s"$clean/in"); run(clean) }
    val root = tmpDir("redeliver")
    inputs.indices.foreach { b =>
      inputs(b).write.mode("append").parquet(s"$root/in")
      run(root)
      // the checkpoint lost batch b's commit; after the base batch, the
      // crash also came before CC published its batch-b manifest
      val commit = Paths.get(root, "ckpt", "commits", b.toString)
      Files.delete(commit)
      Files.deleteIfExists(Paths.get(root, "ckpt", "commits", s".$b.crc"))
      if (b == 1) {
        Files.delete(Paths.get(root, "cc", "batch=1", "manifest.json"))
        Files.deleteIfExists(Paths.get(root, "cc", "batch=1", ".manifest.json.crc"))
      }
      val linkageBatch = Paths.get(root, "state", s"batch=$b")
      val before = mtimes(linkageBatch)
      run(root) // re-delivers batch b
      assert(Files.exists(commit), s"batch $b was not re-delivered")
      assert(mtimes(linkageBatch) == before, s"the re-delivered batch $b rewrote linkage files")
      assert(Files.exists(Paths.get(root, "cc", s"batch=$b", "manifest.json")),
        s"CC did not commit the re-delivered batch $b")
      assert(states(root, b) == states(clean, b),
        s"state after the re-delivered batch $b differs from the uninterrupted run")
    }
    assert(IncrementalLinkage.compactions(s"$root/state") == Seq(1L))
    pages.unpersist()
    graft.operators.Dedup.releaseCaches(spark)
  }

  test("incremental linkage: round-2 full-rewrite state dirs fail at run, naming the state dir") {
    import graft.streaming.IncrementalLinkage
    val stateDir = tmpDir("inc-state-r2")
    Seq((1, "a")).toDF("x", "y").write.parquet(s"$stateDir/prepared_0")
    Seq((1, "a")).toDF("x", "y").write.parquet(s"$stateDir/scored_0")
    val e = intercept[IllegalStateException](
      IncrementalLinkage.run(spark, tmpDir("inc-in-r2"), stateDir, tmpDir("inc-ckpt-r2")))
    assert(e.getMessage.contains(stateDir) && e.getMessage.contains("prepared_0"),
      e.getMessage)
  }

  test("a compaction marker without its cbase_ dirs fails to load; a later batch neither loads nor GCs") {
    import graft.streaming.{IncrementalCC, IncrementalLinkage}
    val root = tmpDir("old-layout")
    val (inDir, stateDir, ccDir) = (s"$root/in", s"$root/state", s"$root/cc")
    // the previous engine's layout, written by hand: per-role delta dirs with
    // _SUCCESS for batches 0 and 1, and a compacted_1 marker over state kept
    // elsewhere (as the earlier linkage and CC layouts had it): no cbase_ dirs
    def previousLayout(dir: String, roles: Seq[String]): Unit = {
      for (r <- roles; b <- 0 to 1) Seq((b, r)).toDF("b", "r").write.parquet(s"$dir/${r}_delta_$b")
      Files.write(Paths.get(dir, "compacted_1"), Array.empty[Byte])
    }
    previousLayout(stateDir, Seq("prepared", "scored", "changed"))
    previousLayout(ccDir, Seq("remap", "fresh"))
    def listing(dir: String): Set[String] =
      Files.walk(Paths.get(dir)).iterator().asScala.map(_.toString).toSet
    val before = Seq(stateDir, ccDir).map(listing)
    Seq[(String, () => Any)](
        stateDir -> (() => IncrementalLinkage.loadPreparedState(spark, stateDir)),
        stateDir -> (() => IncrementalLinkage.loadScoredState(spark, stateDir)),
        ccDir -> (() => IncrementalCC.loadAssign(spark, ccDir, Long.MaxValue, stringIds = true)))
      .foreach { case (dir, load) =>
        val e = intercept[IllegalStateException](load())
        assert(e.getMessage.contains(dir) && e.getMessage.contains("compacted_1"), e.getMessage)
      }
    Pages.synthesize(spark, 100).toDF().write.parquet(inDir)
    intercept[IllegalStateException](IncrementalLinkage.run(spark, inDir, stateDir,
      s"$root/ckpt", compactEvery = 2, entityStateDir = Some(ccDir)))
    // an entity dir of the previous layout fails the composed driver before
    // its first batch, under a fresh linkage state dir too
    val fresh = s"$root/fresh-state"
    val e = intercept[IllegalStateException](IncrementalLinkage.run(spark, inDir, fresh,
      s"$root/ckpt-fresh", compactEvery = 2, entityStateDir = Some(ccDir)))
    assert(e.getMessage.contains(ccDir), e.getMessage)
    assert(!Files.exists(Paths.get(fresh)), "the composed driver wrote linkage state")
    assert(Seq(stateDir, ccDir).map(listing) == before,
      "a batch ran GC over a layout it cannot read")
  }

  test("snapshot commit of a zero-row frame: manifest rows = 0, schema kept, resumes empty") {
    val root = tmpDir("snap-empty")
    val df = Seq((1L, "a")).toDF("id", "v").limit(0)
    val snap = Snapshots.commit(df, root, "empty", "fp")
    val m = Snapshots.readManifest(root, "empty", snap)
    assert(m.rows == 0 && m.files.isEmpty && m.schema.contains(df.schema), m.toString)
    val back = Resumable.stage(spark, root, "empty", "fp")(fail("recomputed a committed stage"))
    assert(back.schema.map(f => f.name -> f.dataType) == df.schema.map(f => f.name -> f.dataType))
    assert(back.count() == 0)
  }
}
