package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Dedup
import graft.streaming.IncrementalDedup

/** Incremental MinHash dedup: touched-bucket increments must accumulate to
  * EXACTLY the full-corpus [[Dedup.minhashPairs]] result (the
  * IncrementalLinkage equality pattern applied to banded LSH state). */
class IncrementalDedupSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  // sf0.001 documents + planted exact duplicates whose ids land in a
  // DIFFERENT (%3) batch than their originals ((id+100000) % 3 == (id+1) % 3),
  // so cross-batch pairing is actually exercised
  lazy val docs = {
    val base = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id"), col("text"))
    base.union(base.filter(col("doc_id") < 12)
      .select((col("doc_id") + 100000L).as("doc_id"), col("text"))).persist()
  }

  test("3-batch incremental state == full-corpus minhashPairs (row-identical)") {
    val batches = (0 to 2).map(r => docs.filter(col("doc_id") % 3 === r))
    val fam = IncrementalDedup.MinHash(threshold = 0.5)
    var st = IncrementalDedup.empty(fam, docs)
    var added = 0L
    batches.foreach { b =>
      val s = IncrementalDedup.step(fam, st, b)
      st = s.state
      added += s.pairsAdded
      assert(s.touchedBuckets > 0)
    }
    val inc = st.pairs.persist()
    val full = Dedup.minhashPairs(docs, "doc_id", "text", threshold = 0.5).persist()
    assert(inc.except(full).count() == 0 && full.except(inc).count() == 0,
      "incremental pair state diverged from full recompute")
    // each pair emitted exactly once (by the batch of its later member):
    // the running pairsAdded total IS the full pair count, no dedup needed
    assert(added == full.count(), s"pairsAdded sum $added != full ${full.count()}")
    // the planted cross-batch duplicates were all found at jaccard 1
    assert(inc.filter(col("id_b") >= 100000L && col("id_a") < 100000L &&
      col("jaccard") === 1.0).count() >= 12)
    inc.unpersist(); full.unpersist()
    Dedup.releaseCaches(spark)
  }

  test("streaming drive: persisted deltas + restart resume == full recompute") {
    val root = java.nio.file.Files.createTempDirectory("inc_dedup_stream").toString
    val inDir = s"$root/in"; val stateDir = s"$root/state"; val ckpt = s"$root/ckpt"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(inDir))
    def docsFull(r: Int) = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .filter(col("doc_id") % 3 === r)
    // write each batch as ONE parquet file directly in the stream dir
    def writeBatch(r: Int): Unit = {
      val tmp = s"$root/tmp_$r"
      docsFull(r).coalesce(1).write.parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .find(_.getName.endsWith(".parquet")).get.toPath
      java.nio.file.Files.move(part,
        java.nio.file.Paths.get(s"$inDir/docs_$r.parquet"))
    }
    // run 1: two input files (one micro-batch under AvailableNow)
    val fam = IncrementalDedup.MinHash(threshold = 0.5)
    writeBatch(0); writeBatch(1)
    IncrementalDedup.run(spark, fam, inDir, stateDir, ckpt, compactEvery = 2).awaitTermination()
    val afterRun1 = IncrementalDedup.committedBatches(stateDir)
    assert(afterRun1.nonEmpty, "no committed deltas after run 1")
    // restart with one NEW file: the checkpoint's ledger skips the consumed
    // ones; this batch crosses the compactEvery threshold and compacts
    writeBatch(2)
    IncrementalDedup.run(spark, fam, inDir, stateDir, ckpt, compactEvery = 2).awaitTermination()
    // frames: sets, banded, pairs
    val st = IncrementalDedup.load(spark, fam, stateDir, Long.MaxValue)
    val all = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select("doc_id", "text")
    val full = Dedup.minhashPairs(all, "doc_id", "text", threshold = 0.5).persist()
    val inc = st.pairs.persist()
    assert(inc.except(full).count() == 0 && full.except(inc).count() == 0,
      "persisted streaming state diverged from full recompute")
    assert(st.frames.head.count() == all.count(), "sets state incomplete after resume")
    assert(IncrementalDedup.compactions(stateDir).nonEmpty, "no compaction marker")
    // crash-window correctness: the compaction batch writes only the base
    // and commits it by its manifest. A reader before that manifest
    // (simulated by deleting it) sees the first run's batch alone: the
    // identical, duplication-free recompute over its two files.
    val base = IncrementalDedup.compactions(stateDir).last
    java.nio.file.Files.delete(java.nio.file.Paths.get(stateDir, s"batch=$base", "manifest.json"))
    val firstRun = all.filter((col("doc_id") % 3).isin(0, 1))
    val fullFirst = Dedup.minhashPairs(firstRun, "doc_id", "text", threshold = 0.5)
    val stNoManifest = IncrementalDedup.load(spark, fam, stateDir, Long.MaxValue)
    assert(stNoManifest.pairs.except(fullFirst).count() == 0 &&
      fullFirst.except(stNoManifest.pairs).count() == 0,
      "pre-manifest crash window state diverged from the first run's recompute")
    assert(stNoManifest.frames.head.count() == firstRun.count(),
      "pre-manifest crash window sets state duplicated or incomplete")
    inc.unpersist(); full.unpersist()
    Dedup.releaseCaches(spark)
  }

  test("3-batch incremental simhash state == full-corpus simhashPairs") {
    val batches = (0 to 2).map(r => docs.filter(col("doc_id") % 3 === r))
    val fam = IncrementalDedup.SimHash()
    var st = IncrementalDedup.empty(fam, docs)
    var added = 0L
    batches.foreach { b =>
      val s = IncrementalDedup.step(fam, st, b)
      st = s.state
      added += s.pairsAdded
    }
    val inc = st.pairs.persist()
    val full = Dedup.simhashPairs(docs, "doc_id", "text").persist()
    assert(inc.except(full).count() == 0 && full.except(inc).count() == 0,
      "incremental simhash pairs diverged from full recompute")
    assert(added == full.count(), s"pairsAdded sum $added != full ${full.count()}")
    // planted cross-batch duplicates found at hamming 0
    assert(inc.filter(col("id_b") >= 100000L && col("id_a") < 100000L &&
      col("hamming") === 0).count() >= 12)
    inc.unpersist(); full.unpersist()
    Dedup.releaseCaches(spark)
  }

  test("3-batch incremental embed state == full-corpus embeddingPairs") {
    val base = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    // planted identical vectors land in a different (%3) batch than their
    // originals, so cross-batch pairing is exercised (natural corpus has no
    // pair at cos >= 0.99 — the q_embed_dedup margin property)
    val vecs = base.union(base.filter(col("vec_id") < 20)
      .select((col("vec_id") + 1000000L).as("vec_id"), col("embedding"))).persist()
    val batches = (0 to 2).map(r => vecs.filter(col("vec_id") % 3 === r))
    val fam = IncrementalDedup.Embed(threshold = 0.99)
    var st = IncrementalDedup.empty(fam, vecs)
    var added = 0L
    batches.foreach { b =>
      val s = IncrementalDedup.step(fam, st, b)
      st = s.state
      added += s.pairsAdded
    }
    val inc = st.pairs.persist()
    val full = Dedup.embeddingPairs(vecs, "vec_id", "embedding",
      threshold = 0.99).persist()
    assert(inc.except(full).count() == 0 && full.except(inc).count() == 0,
      "incremental embed pairs diverged from full recompute")
    assert(added == full.count(), s"pairsAdded sum $added != full ${full.count()}")
    assert(inc.filter(col("id_b") >= 1000000L && col("id_a") < 1000000L).count() >= 20)
    vecs.unpersist()
    inc.unpersist(); full.unpersist()
    Dedup.releaseCaches(spark)
  }

  test("3-batch incremental ngram state == full-corpus ngramJaccardPairs") {
    // the full operator ranks prefixes by ADAPTIVE corpus frequency; the
    // incremental one by the content-hash order — the prefix filter is
    // complete under any fixed total order and verification is exact, so
    // the outputs must be row-identical despite different candidate sets
    val batches = (0 to 2).map(r => docs.filter(col("doc_id") % 3 === r))
    val fam = IncrementalDedup.Ngram(threshold = 0.5)
    var st = IncrementalDedup.empty(fam, docs)
    var added = 0L
    batches.foreach { b =>
      val s = IncrementalDedup.step(fam, st, b)
      st = s.state
      added += s.pairsAdded
      assert(s.touchedBuckets > 0)
    }
    val inc = st.pairs.persist()
    val full = Dedup.ngramJaccardPairs(docs, "doc_id", "text", threshold = 0.5).persist()
    assert(inc.except(full).count() == 0 && full.except(inc).count() == 0,
      "incremental ngram pairs diverged from frequency-ordered full recompute")
    assert(added == full.count(), s"pairsAdded sum $added != full ${full.count()}")
    // planted cross-batch duplicates found at jaccard 1
    assert(inc.filter(col("id_b") >= 100000L && col("id_a") < 100000L &&
      col("jaccard") === 1.0).count() >= 12)
    inc.unpersist(); full.unpersist()
    Dedup.releaseCaches(spark)
  }

  test("simhash/embed streaming drives: persisted deltas + restart == full recompute") {
    val root = java.nio.file.Files.createTempDirectory("inc_fam_stream").toString
    val all = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select("doc_id", "text")
    def writeBatch(dir: String, df: org.apache.spark.sql.DataFrame, name: String): Unit = {
      val tmp = s"$root/tmp_$name"
      df.coalesce(1).write.parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .find(_.getName.endsWith(".parquet")).get.toPath
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir))
      java.nio.file.Files.move(part, java.nio.file.Paths.get(s"$dir/$name.parquet"))
    }

    // --- simhash driver: run 1 (two files), restart with a third (compacts)
    val sIn = s"$root/s_in"; val sState = s"$root/s_state"; val sCkpt = s"$root/s_ckpt"
    (0 to 1).foreach(r => writeBatch(sIn, all.filter(col("doc_id") % 3 === r), s"d$r"))
    val sFam = IncrementalDedup.SimHash()
    IncrementalDedup.run(spark, sFam, sIn, sState, sCkpt, compactEvery = 2)
      .awaitTermination()
    writeBatch(sIn, all.filter(col("doc_id") % 3 === 2), "d2")
    IncrementalDedup.run(spark, sFam, sIn, sState, sCkpt, compactEvery = 2)
      .awaitTermination()
    // frames: banded, pairs
    val sState2 = IncrementalDedup.load(spark, sFam, sState, Long.MaxValue)
    val sFull = Dedup.simhashPairs(all, "doc_id", "text").persist()
    val sInc = sState2.pairs.persist()
    assert(sInc.except(sFull).count() == 0 && sFull.except(sInc).count() == 0,
      "persisted simhash streaming state diverged from full recompute")
    assert(sState2.frames.head.select("id").distinct().count() == all.count())
    assert(IncrementalDedup.compactions(sState).nonEmpty, "no simhash compaction")
    sInc.unpersist(); sFull.unpersist()

    // --- embed driver over the embeddings stream (planted duplicates)
    val base = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    val vecs = base.union(base.filter(col("vec_id") < 20)
      .select((col("vec_id") + 1000000L).as("vec_id"), col("embedding"))).persist()
    val eIn = s"$root/e_in"; val eState = s"$root/e_state"; val eCkpt = s"$root/e_ckpt"
    (0 to 1).foreach(r => writeBatch(eIn, vecs.filter(col("vec_id") % 3 === r), s"v$r"))
    val eFam = IncrementalDedup.Embed(threshold = 0.99)
    IncrementalDedup.run(spark, eFam, eIn, eState, eCkpt).awaitTermination()
    writeBatch(eIn, vecs.filter(col("vec_id") % 3 === 2), "v2")
    IncrementalDedup.run(spark, eFam, eIn, eState, eCkpt).awaitTermination()
    val eState2 = IncrementalDedup.load(spark, eFam, eState, Long.MaxValue)
    val eFull = Dedup.embeddingPairs(vecs, "vec_id", "embedding",
      threshold = 0.99).persist()
    val eInc = eState2.pairs.persist()
    assert(eInc.except(eFull).count() == 0 && eFull.except(eInc).count() == 0,
      "persisted embed streaming state diverged from full recompute")
    assert(eInc.count() >= 20, "planted duplicates not all found")
    vecs.unpersist(); eInc.unpersist(); eFull.unpersist()

    // --- ngram driver: run 1 (two files), restart with a third (compacts)
    val nIn = s"$root/n_in"; val nState = s"$root/n_state"; val nCkpt = s"$root/n_ckpt"
    (0 to 1).foreach(r => writeBatch(nIn, all.filter(col("doc_id") % 3 === r), s"n$r"))
    val nFam = IncrementalDedup.Ngram(threshold = 0.5)
    IncrementalDedup.run(spark, nFam, nIn, nState, nCkpt, compactEvery = 2)
      .awaitTermination()
    writeBatch(nIn, all.filter(col("doc_id") % 3 === 2), "n2")
    IncrementalDedup.run(spark, nFam, nIn, nState, nCkpt, compactEvery = 2)
      .awaitTermination()
    // frames: sets, prefix, pairs
    val nState2 = IncrementalDedup.load(spark, nFam, nState, Long.MaxValue)
    val nFull = Dedup.ngramJaccardPairs(all, "doc_id", "text", threshold = 0.5).persist()
    val nInc = nState2.pairs.persist()
    assert(nInc.except(nFull).count() == 0 && nFull.except(nInc).count() == 0,
      "persisted ngram streaming state diverged from full recompute")
    // sets state carries every doc with a non-empty shingle set (the same
    // nsh > 0 domain the full operator works over)
    assert(nState2.frames.head.count() ==
      Dedup.shingleSets(all, "doc_id", "text", 3).filter(col("nsh") > 0).count(),
      "ngram sets state incomplete")
    assert(IncrementalDedup.compactions(nState).nonEmpty, "no ngram compaction")
    nInc.unpersist(); nFull.unpersist()
    Dedup.releaseCaches(spark)
  }

  test("adversarial split shapes: empty and all-duplicate batches == full recompute") {
    // the split shapes a production stream actually produces: an EMPTY
    // micro-batch (quiet source interval — drives the salted join's probes
    // over a 0-row relation), a batch that is ONLY duplicates of accumulated
    // docs, and a tail batch with everything else. Equality must hold and
    // per-pair emission stay exactly-once across all of them.
    val empty = docs.filter(lit(false))
    val dupsOnly = docs.filter(col("doc_id") >= 100000L)
    val bulk = docs.filter(col("doc_id") < 100000L && col("doc_id") % 2 === 0)
    val rest = docs.filter(col("doc_id") < 100000L && col("doc_id") % 2 =!= 0)

    val fam = IncrementalDedup.MinHash(threshold = 0.5)
    var st = IncrementalDedup.empty(fam, docs)
    var added = 0L
    Seq(bulk, empty, rest, dupsOnly).foreach { b =>
      val s = IncrementalDedup.step(fam, st, b)
      st = s.state
      added += s.pairsAdded
    }
    val inc = st.pairs.persist()
    val full = Dedup.minhashPairs(docs, "doc_id", "text", threshold = 0.5).persist()
    assert(inc.except(full).count() == 0 && full.except(inc).count() == 0,
      "adversarial-split incremental state diverged from full recompute")
    assert(added == full.count(), s"pairsAdded sum $added != full ${full.count()}")
    inc.unpersist(); full.unpersist()

    // same shapes through the simhash family (signature-in-band state)
    val sFam = IncrementalDedup.SimHash()
    var sst = IncrementalDedup.empty(sFam, docs)
    var sAdded = 0L
    Seq(dupsOnly, empty, bulk, rest).foreach { b =>
      val s = IncrementalDedup.step(sFam, sst, b)
      sst = s.state
      sAdded += s.pairsAdded
    }
    val sInc = sst.pairs.persist()
    val sFull = Dedup.simhashPairs(docs, "doc_id", "text").persist()
    assert(sInc.except(sFull).count() == 0 && sFull.except(sInc).count() == 0,
      "adversarial-split simhash state diverged from full recompute")
    assert(sAdded == sFull.count(), s"simhash pairsAdded $sAdded != ${sFull.count()}")
    sInc.unpersist(); sFull.unpersist()

    // same shapes through the PPJoin family (prefix-shingle buckets)
    val nFam = IncrementalDedup.Ngram(threshold = 0.5)
    var nst = IncrementalDedup.empty(nFam, docs)
    var nAdded = 0L
    Seq(empty, rest, dupsOnly, bulk).foreach { b =>
      val s = IncrementalDedup.step(nFam, nst, b)
      nst = s.state
      nAdded += s.pairsAdded
    }
    val nInc = nst.pairs.persist()
    val nFull = Dedup.ngramJaccardPairs(docs, "doc_id", "text", threshold = 0.5).persist()
    assert(nInc.except(nFull).count() == 0 && nFull.except(nInc).count() == 0,
      "adversarial-split ngram state diverged from full recompute")
    assert(nAdded == nFull.count(), s"ngram pairsAdded $nAdded != ${nFull.count()}")
    nInc.unpersist(); nFull.unpersist()
    Dedup.releaseCaches(spark)
  }

  /** One family's table row: its ingest frame (planted duplicates of the
    * first documents at ids ≥ `planted`), and its full batch operator at the
    * family's tuning values. */
  case class Case(fam: IncrementalDedup.Family, input: DataFrame, idCol: String,
                  planted: Long, full: DataFrame => DataFrame)

  lazy val vecs = {
    val base = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    base.union(base.filter(col("vec_id") < 20)
      .select((col("vec_id") + 1000000L).as("vec_id"), col("embedding"))).persist()
  }

  lazy val cases = Seq(
    Case(IncrementalDedup.MinHash(threshold = 0.5), docs, "doc_id", 100000L,
      Dedup.minhashPairs(_, "doc_id", "text", threshold = 0.5)),
    Case(IncrementalDedup.SimHash(), docs, "doc_id", 100000L,
      Dedup.simhashPairs(_, "doc_id", "text")),
    Case(IncrementalDedup.Embed(threshold = 0.99), vecs, "vec_id", 1000000L,
      Dedup.embeddingPairs(_, "vec_id", "embedding", threshold = 0.99)),
    Case(IncrementalDedup.Ngram(threshold = 0.5), docs, "doc_id", 100000L,
      Dedup.ngramJaccardPairs(_, "doc_id", "text", threshold = 0.5)))

  def assertSameRows(got: DataFrame, want: DataFrame, what: String): Unit = {
    val g = got.select(want.columns.map(col).toIndexedSeq: _*).persist()
    val w = want.persist()
    assert(g.count() == w.count() && g.except(w).isEmpty && w.except(g).isEmpty,
      s"$what: ${g.count()} rows, expected ${w.count()}")
    g.unpersist(); w.unpersist()
  }

  test("retraction: filtered state == accumulation without the retracted docs") {
    // per family: accumulate everything, retract the planted duplicates —
    // state must be row-identical to the full operator over the surviving
    // corpus, and a LATER step against the retracted state must stay exact
    cases.foreach { c =>
      val name = c.fam.productPrefix
      val isPlanted = col(c.idCol) >= c.planted
      val planted = c.input.filter(isPlanted).select(col(c.idCol).as("id"))
      var st = IncrementalDedup.empty(c.fam, c.input)
      (0 to 1).foreach { r =>
        st = IncrementalDedup.step(c.fam, st, c.input.filter(col(c.idCol) % 2 === r)).state
      }
      // the planted ids are in the state before retraction (non-vacuous)
      assert(st.pairs.filter(col("id_b") >= c.planted).count() > 0,
        s"$name: no planted pair accumulated")
      val cut = IncrementalDedup.retract(st, planted)
      assertSameRows(cut.pairs, c.full(c.input.filter(!isPlanted)),
        s"$name retracted pairs vs the full operator on the survivors")
      cut.frames.init.foreach { f =>
        assert(f.join(planted, Seq("id"), "left_semi").isEmpty,
          s"$name: a per-doc frame keeps a retracted id")
      }
      // re-ingest the SAME ids after retraction (the precondition is
      // restored): accumulated pairs equal the full run on the whole corpus
      val again = IncrementalDedup.step(c.fam, cut, c.input.filter(isPlanted)).state
      assertSameRows(again.pairs, c.full(c.input),
        s"$name post-retraction re-ingest vs the full operator")
      Dedup.releaseCaches(spark)
    }
  }

  test("persisted layout: each family's role dirs are pinned and load == in-memory steps") {
    // a two-batch run per family leaves exactly these dirs; a renamed role
    // would make an existing state dir list no committed batch and load as
    // empty, which drives that write and read with the same code never see
    val roles = Map("MinHash" -> Seq("sets", "banded", "pairs"),
      "SimHash" -> Seq("banded", "pairs"), "Embed" -> Seq("vecs", "banded", "pairs"),
      "Ngram" -> Seq("sets", "prefix", "pairs"))
    cases.foreach { c =>
      val name = c.fam.productPrefix
      val root = java.nio.file.Files.createTempDirectory(s"inc_layout_$name").toString
      val (in, state, ckpt) = (s"$root/in", s"$root/state", s"$root/ckpt")
      val batches = (0 to 1).map(r => c.input.filter(col(c.idCol) % 2 === r))
      batches.foreach { b =>
        b.write.mode("append").parquet(in)
        IncrementalDedup.run(spark, c.fam, in, state, ckpt).awaitTermination()
      }
      def visible(dir: String) = new java.io.File(dir).list().filterNot(_.startsWith(".")).toSet
      assert(visible(state) == Set("batch=0", "batch=1"),
        s"$name state dir holds ${visible(state).toSeq.sorted}")
      Seq("batch=0", "batch=1").foreach { b =>
        assert(visible(s"$state/$b") == roles(name).toSet + "manifest.json",
          s"$name $b holds ${visible(s"$state/$b").toSeq.sorted}")
      }
      assert(IncrementalDedup.committedBatches(state) == Seq(0L, 1L))
      val inMemory = batches.foldLeft(IncrementalDedup.empty(c.fam, c.input)) {
        (st, b) => IncrementalDedup.step(c.fam, st, b).state
      }
      val loaded = IncrementalDedup.load(spark, c.fam, state, Long.MaxValue)
      assert(loaded.frames.size == roles(name).size)
      roles(name).zip(loaded.frames.zip(inMemory.frames)).foreach { case (r, (got, want)) =>
        assertSameRows(got, want, s"$name loaded $r vs two in-memory steps")
      }
      Dedup.releaseCaches(spark)
    }
  }

  test("a small batch touches few buckets and re-pairs only those") {
    // batches 1+2 = the accumulated corpus; batch 3 = 4 fresh planted docs
    val first = docs.filter(col("doc_id") < 100000L)
    val tiny = docs.filter(col("doc_id") < 4)
      .select((col("doc_id") + 200000L).as("doc_id"), col("text"))
    val fam = IncrementalDedup.MinHash(threshold = 0.5)
    val s1 = IncrementalDedup.step(fam, IncrementalDedup.empty(fam, docs), first)
    // frames: sets, banded, pairs
    val totalBuckets = s1.state.frames(1).select("band", "bucket").distinct().count()
    val s2 = IncrementalDedup.step(fam, s1.state, tiny)
    // per-batch work is bounded by the batch's bucket footprint (≤ docs ×
    // bands), independent of the accumulated corpus's bucket count
    assert(s2.touchedBuckets <= 4 * 16,
      s"tiny batch touched ${s2.touchedBuckets} buckets")
    assert(s2.touchedBuckets < totalBuckets,
      "touched-bucket footprint not smaller than the accumulated state")
    // each planted doc pairs with (at least) its identical original
    assert(s2.pairsAdded >= 4)
    val fresh = s2.state.pairs.filter(col("id_b") >= 200000L)
    assert(fresh.filter(col("jaccard") === 1.0).count() >= 4)
    Dedup.releaseCaches(spark)
  }
}
