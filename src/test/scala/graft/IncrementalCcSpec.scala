package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{ConnectedComponents, Dedup}
import graft.streaming.{IncrementalCC, IncrementalDedup}

/** Incremental connected components: folding batches of an append-only edge
  * stream must accumulate to EXACTLY the full-recompute assignment
  * ([[ConnectedComponents.run]] on all edges), labels included (min member).
  */
class IncrementalCcSpec extends AnyFunSuite with TempDirs {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def assignOf(edges: Seq[(Long, Long)]): org.apache.spark.sql.DataFrame =
    ConnectedComponents.run(edges.toDF("src", "dst"))

  private def foldBatches(batches: Seq[Seq[(Long, Long)]]): IncrementalCC.Step = {
    var st = IncrementalCC.Step(
      IncrementalCC.empty(batches.flatten.toDF("src", "dst")), 0L, 0L)
    batches.foreach { b =>
      st = IncrementalCC.step(st.assign, b.toDF("src", "dst"))
    }
    st
  }

  private def assertEqual(inc: org.apache.spark.sql.DataFrame,
                          full: org.apache.spark.sql.DataFrame,
                          what: String): Unit = {
    val i = inc.persist(); val f = full.persist()
    assert(i.except(f).count() == 0 && f.except(i).count() == 0,
      s"$what: incremental assignment diverged from full recompute")
    i.unpersist(); f.unpersist()
  }

  test("random graphs, 4-batch folds == full recompute (5 seeds)") {
    (1 to 5).foreach { seed =>
      val rng = new scala.util.Random(seed)
      // ~sqrt-density keeps a mix of large components, chains and singleton
      // pairs; ids beyond the edge count keep some nodes first-seen late
      val edges = Seq.fill(300)((rng.nextInt(200).toLong, rng.nextInt(200).toLong))
        .filter { case (a, b) => a != b }
      val batches = edges.grouped((edges.size + 3) / 4).toSeq
      val st = foldBatches(batches)
      assertEqual(st.assign, assignOf(edges), s"seed=$seed")
      Dedup.releaseCaches(spark)
    }
  }

  test("adversarial chain merge: batch 2 fuses every batch-1 fragment") {
    // batch 1: even path edges → 50 two-node fragments; batch 2: odd path
    // edges → ONE 100-node component labeled by the global min (0)
    val path = (0L until 99L).map(i => (i, i + 1))
    val st1 = IncrementalCC.step(
      IncrementalCC.empty(path.toDF("src", "dst")),
      path.zipWithIndex.filter(_._2 % 2 == 0).map(_._1).toDF("src", "dst"))
    assert(st1.newNodes == 100 && st1.labelsRetired == 50)
    val st2 = IncrementalCC.step(st1.assign,
      path.zipWithIndex.filter(_._2 % 2 == 1).map(_._1).toDF("src", "dst"))
    val out = st2.assign.persist()
    assert(out.count() == 100)
    assert(out.select("component").distinct().count() == 1)
    assert(out.agg(max("component")).head().getLong(0) == 0L)
    assert(st2.newNodes == 0)
    out.unpersist()
    assertEqual(st2.assign, assignOf(path), "chain merge")
    Dedup.releaseCaches(spark)
  }

  test("re-delivered and empty batches are no-ops (idempotent fold)") {
    val b1 = Seq((1L, 2L), (3L, 4L), (10L, 11L))
    val b2 = Seq((2L, 3L)) // merges {1,2} with {3,4}
    val st1 = IncrementalCC.step(
      IncrementalCC.empty(b1.toDF("src", "dst")), b1.toDF("src", "dst"))
    val st2 = IncrementalCC.step(st1.assign, b2.toDF("src", "dst"))
    // re-deliver batch 1 in full, then an empty batch: nothing changes
    val st3 = IncrementalCC.step(st2.assign, b1.toDF("src", "dst"))
    assert(st3.labelsRetired == 0 && st3.newNodes == 0)
    val st4 = IncrementalCC.step(st3.assign,
      b1.toDF("src", "dst").filter(lit(false)))
    assert(st4.labelsRetired == 0 && st4.newNodes == 0)
    assertEqual(st4.assign, assignOf(b1 ++ b2), "re-delivery")
    Dedup.releaseCaches(spark)
  }

  test("string node ids: url-keyed edges fold identically") {
    val edges = Seq(("u/a", "u/b"), ("u/b", "u/c"), ("u/x", "u/y"))
    val batches = Seq(Seq(edges(0)), Seq(edges(1), edges(2)))
    var assign = IncrementalCC.empty(edges.toDF("src", "dst"))
    batches.foreach { b =>
      assign = IncrementalCC.step(assign, b.toDF("src", "dst")).assign
    }
    val full = ConnectedComponents.run(edges.toDF("src", "dst"))
    assertEqual(assign, full, "string ids")
    Dedup.releaseCaches(spark)
  }

  test("streaming drive: persisted deltas + restart + compaction == full recompute") {
    val root = tmpDir("inc_cc_stream")
    val inDir = s"$root/in"; val stateDir = s"$root/state"; val ckpt = s"$root/ckpt"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(inDir))
    val rng = new scala.util.Random(42)
    val edges = Seq.fill(240)((rng.nextInt(150).toLong, rng.nextInt(150).toLong))
      .filter { case (a, b) => a != b }
    val batches = edges.grouped((edges.size + 2) / 3).toSeq
    def writeBatch(i: Int): Unit = {
      val tmp = s"$root/tmp_$i"
      batches(i).toDF("src", "dst").coalesce(1).write.parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .find(_.getName.endsWith(".parquet")).get.toPath
      java.nio.file.Files.move(part,
        java.nio.file.Paths.get(s"$inDir/edges_$i.parquet"))
    }
    // run 1: two files (one AvailableNow micro-batch each... or one batch —
    // either way the ledger records them); restart with a third, compacting
    writeBatch(0); writeBatch(1)
    graft.streaming.IncrementalCC.run(spark, inDir, stateDir, ckpt,
      compactEvery = 2).awaitTermination()
    assert(graft.streaming.IncrementalCC.ccCommittedBatches(stateDir).nonEmpty)
    writeBatch(2)
    graft.streaming.IncrementalCC.run(spark, inDir, stateDir, ckpt,
      compactEvery = 2).awaitTermination()
    val assign = graft.streaming.IncrementalCC.loadAssign(spark, stateDir,
      Long.MaxValue)
    assertEqual(assign, assignOf(edges), "streaming CC state")
    assert(graft.streaming.IncrementalCC.ccCompactions(stateDir).nonEmpty,
      "no compaction marker")
    // a later batch GCs the deltas the compaction superseded
    val extra = Seq((1000L, 1001L))
    val tmp = s"$root/tmp_x"
    extra.toDF("src", "dst").coalesce(1).write.parquet(tmp)
    java.nio.file.Files.move(
      new java.io.File(tmp).listFiles().find(_.getName.endsWith(".parquet")).get.toPath,
      java.nio.file.Paths.get(s"$inDir/edges_x.parquet"))
    graft.streaming.IncrementalCC.run(spark, inDir, stateDir, ckpt,
      compactEvery = 2).awaitTermination()
    // run 1 = batch 0 (both files, one AvailableNow micro-batch), run 2 =
    // batch 1 (compacts at base 1, folding batches 0-1 into assign_1), run 3
    // = batch 2 (GCs the superseded deltas 0 and 1 at its start). Exact
    // post-GC state: ONLY batch 2's deltas remain committed.
    assert(graft.streaming.IncrementalCC.ccCompactions(stateDir) == Seq(1L),
      "expected exactly the run-2 compaction marker")
    assert(graft.streaming.IncrementalCC.ccCommittedBatches(stateDir) == Seq(2L),
      "superseded deltas (batches 0, 1) not GC'd, or batch 2 missing")
    val assign2 = graft.streaming.IncrementalCC.loadAssign(spark, stateDir,
      Long.MaxValue)
    assertEqual(assign2, assignOf(edges ++ extra), "post-GC CC state")
    Dedup.releaseCaches(spark)
  }

  test("retract: splits confined to affected components, equals recompute on remaining edges") {
    // one 10-node path (splits when its middle goes), one pair where the
    // retraction strands a survivor as a singleton, one component retracted
    // whole, and one untouched component that must pass through verbatim
    val edges = (0L until 9L).map(i => (i, i + 1)) ++
      Seq((50L, 51L), (60L, 61L), (62L, 61L), (70L, 71L), (71L, 72L))
    val assign = IncrementalCC.step(
      IncrementalCC.empty(edges.toDF("src", "dst")), edges.toDF("src", "dst")).assign
    val retracted = Seq(5L, 51L, 70L, 71L, 72L).toDF("id")
    val out = IncrementalCC.retract(assign, edges.toDF("src", "dst"), retracted)
      .persist()
    // expected: full CC on the remaining edges + self rows for surviving
    // assigned nodes that lost every edge
    val rset = Set(5L, 51L, 70L, 71L, 72L)
    val remaining = edges.filter { case (a, b) => !rset(a) && !rset(b) }
    val cc = ConnectedComponents.run(remaining.toDF("src", "dst")).persist()
    val expected = cc.unionByName(
      assign.join(retracted, Seq("id"), "left_anti")
        .join(cc, Seq("id"), "left_anti")
        .select(col("id"), col("id").as("component")))
    assertEqual(out, expected, "retraction")
    // the path split: 0-4 labeled 0, 6-9 labeled 6; stranded 50 is its own
    assert(out.filter(col("id") === 9L).head().getLong(1) == 6L)
    assert(out.filter(col("id") === 4L).head().getLong(1) == 0L)
    assert(out.filter(col("id") === 50L).head().getLong(1) == 50L)
    // untouched component kept verbatim (min label 60)
    assert(out.filter(col("id") === 62L).head().getLong(1) == 60L)
    // retracted nodes are gone
    assert(out.join(retracted, Seq("id"), "left_semi").count() == 0)
    // and the state remains steppable: a new edge re-merges the split halves
    val after = IncrementalCC.step(out, Seq((4L, 6L)).toDF("src", "dst")).assign
    assert(after.filter(col("id") === 9L).head().getLong(1) == 0L)
    out.unpersist(); cc.unpersist()
    Dedup.releaseCaches(spark)
  }

  test("maintains linkage entities: per-batch match-edge deltas fold == full CC") {
    // the full incremental entity-resolution composition: pages arrive in
    // batches → IncrementalLinkage re-scores only touched blocks →
    // IncrementalCC folds each batch's MATCH edges into the entity
    // assignment. Sound because linkage scoring is deterministic over
    // immutable records: a touched block re-emits its old matches verbatim
    // (a re-delivered edge is an idempotent no-op here) and never retracts
    // one — the append-only property CC's merge-only step needs.
    import graft.operators.Linkage
    import graft.sources.Pages
    import graft.streaming.{IncrementalCC, IncrementalLinkage}
    val all = Pages.synthesize(spark, 1800L).toDF()
    // split by url hash so records of one entity land in different batches
    val batches = (0 to 2).map(r =>
      all.filter(pmod(xxhash64(col("url")), lit(3)) === r))

    var prep = Linkage.prepare(all).limit(0)
    var scored = spark.emptyDataset[graft.operators.ScoredPair].toDF()
    var assign = IncrementalCC.empty(
      all.select(col("url").as("src"), col("url").as("dst")))
    batches.foreach { b =>
      val d = IncrementalLinkage.delta(prep, b)
      val dP = d.rescored.persist() // feeds both the kept-union and the fold
      prep = prep.unionByName(d.bPrep)
      scored = scored.join(d.changed, Seq("block_key"), "left_anti")
        .unionByName(dP)
      assign = IncrementalCC.step(assign, dP.filter(col("is_match"))
        .select(col("url_a").as("src"), col("url_b").as("dst"))
        .localCheckpoint()).assign
    }
    val full = ConnectedComponents.run(scored.filter(col("is_match"))
      .select(col("url_a").as("src"), col("url_b").as("dst")))
    assertEqual(assign, full, "linkage entity maintenance")
    Dedup.releaseCaches(spark)
  }

  test("composes with incremental minhash pairs: clusters == minhashClusters") {
    // the production composition: IncrementalDedup keeps the near-dup PAIRS
    // current; IncrementalCC folds each batch's pair delta into the cluster
    // assignment — together they maintain what Dedup.minhashClusters
    // recomputes from scratch
    val base = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id"), col("text"))
    val docs = base.union(base.filter(col("doc_id") < 12)
      .select((col("doc_id") + 100000L).as("doc_id"), col("text"))).persist()

    val fam = IncrementalDedup.MinHash(threshold = 0.5)
    var dst = IncrementalDedup.empty(fam, docs)
    var assign = IncrementalCC.empty(
      docs.select(col("doc_id").as("src"), col("doc_id").as("dst")))
    (0 to 2).foreach { r =>
      val batch = docs.filter(col("doc_id") % 3 === r)
      val d = IncrementalDedup.delta(fam, dst, batch)
      dst = IncrementalDedup.State(dst.frames.zip(d.frames).map {
        case (prev, inc) => prev.unionByName(inc) })
      // truncate the dedup-delta lineage before the fold, as the production
      // composition does by reading the persisted pair delta back from
      // parquet — folding the raw plan multiplies it through the CC step
      assign = IncrementalCC.step(assign,
        d.pairs.select(col("id_a").as("src"), col("id_b").as("dst"))
          .localCheckpoint()).assign
    }
    // full-shape twin: singletons cluster with themselves (the *Clusters
    // operators' left-join/coalesce tail)
    val incClusters = docs.select(col("doc_id").as("id"))
      .join(assign, Seq("id"), "left")
      .select(col("id"), coalesce(col("component"), col("id")).as("cluster"))
    val full = Dedup.minhashClusters(docs, "doc_id", "text", threshold = 0.5)
    assertEqual(incClusters, full, "minhash cluster maintenance")
    docs.unpersist()
    Dedup.releaseCaches(spark)
  }
}
