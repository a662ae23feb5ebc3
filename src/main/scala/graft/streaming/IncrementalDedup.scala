package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types._

import graft.operators.{Blocking, Dedup}

/** Incremental near-duplicate detection over batches of documents: each
  * batch indexes the NEW documents only and forms candidate pairs only
  * inside the buckets the batch touches — the operator a continuously-fed
  * training-data pipeline needs, where re-pairing the full corpus every
  * batch is O(corpus) work for an O(batch) change.
  *
  * One operator serves four [[Family]] values, the filter-and-verify split of
  * the set-similarity-join literature: a family supplies its per-batch index
  * (per-doc frames, then the frame keyed by bucket), its candidate generator
  * and its exact verifier; everything else is written once here.
  *  - [[MinHash]]: shingle sets + MinHash band rows, exact Jaccard.
  *  - [[SimHash]]: 4×16-bit band rows carrying the signature; the Hamming
  *    check runs inside the candidate join, so there is no verifier.
  *  - [[Embed]]: vectors + hyperplane band rows, exact cosine.
  *  - [[Ngram]]: shingle sets + hash-ordered prefix rows (the prefix shingle
  *    is the bucket), exact Jaccard — an exact incremental PPJoin.
  *
  * Scale rationale (the [[IncrementalLinkage]] touched-block pattern applied
  * to bucketed state): per-batch COMPUTE is bounded by Σ(touched bucket)² —
  * via [[Blocking.saltedSelfJoin]] each task further capped at
  * O(maxBucket²) — independent of the accumulated corpus size; untouched
  * buckets cost one left-semi key probe, no payload ever re-shuffles, and
  * verification attaches only the CANDIDATES' own per-doc state (a second
  * left-semi, build side = candidate ids) — never the accumulated corpus.
  * Unlike linkage blocks (re-SCORED on every touch, needing a last-touch
  * merge), dedup state is APPEND-ONLY: documents are immutable, so a pair's
  * score never changes and each unordered pair is emitted exactly once — by
  * the batch that brings the LATER of its two documents. The streaming
  * driver persists it on the shared [[PersistedDeltas]] layout, one role per
  * state frame: per batch only the batch's index frames and fresh pairs, and
  * the state is their plain union over the latest compaction base.
  *
  * Equality guarantee (IncrementalDedupSpec): after any batch split of a
  * corpus, `state.pairs` is row-identical to the family's full operator
  * ([[Dedup.minhashPairs]], [[Dedup.simhashPairs]], [[Dedup.embeddingPairs]],
  * [[Dedup.ngramJaccardPairs]]) at the same tuning values — index frames
  * come from the same shared expressions, candidates inside a touched bucket
  * see every accumulated member, and verification reads the same per-doc
  * state. A family value fixes its tuning values for every step of a state.
  *
  * The n-gram family differs from its full operator in one place: the
  * frequency-ADAPTIVE prefix order of [[Dedup.ngramJaccardPairs]] is not
  * incremental (a batch can change which shingles form an OLD document's
  * prefix), but the prefix-filter completeness lemma holds for ANY fixed
  * total order: under the content-hash order ([[Dedup.hashOrderedPrefix]]) a
  * document's prefix is a pure function of the document, the size/positional
  * prunes stay sound, and exact Jaccard verification makes the accumulated
  * pairs IDENTICAL to the frequency-ordered full recompute — the order only
  * steers pruning efficiency, never the output.
  *
  * Precondition: batches carry DISJOINT document ids (append-only corpus; a
  * re-delivered id would duplicate its index rows and re-emit its pairs).
  */
object IncrementalDedup {

  /** Accumulated state: one frame per role of its family, in role order —
    * per-doc frames (each with an `id` column; the last is keyed by bucket)
    * and `pairs` (id_a, id_b, score) last, append-only. */
  case class State(frames: Seq[DataFrame]) { val pairs: DataFrame = frames.last }

  case class Step(state: State, touchedBuckets: Long, pairsAdded: Long)

  /** One batch's increment alone (what the streaming driver persists): the
    * batch's index frames and its freshly verified pairs, in role order. */
  case class Delta(frames: Seq[DataFrame], touchedBuckets: Long, pairsAdded: Long) {
    val pairs: DataFrame = frames.last
  }

  /** A dedup family: its ingest columns and tuning values (case-class
    * fields), its persisted roles, its bucket key, its per-batch index, its
    * candidate generator over the touched buckets' rows and its verifier. */
  sealed trait Family extends Product with Serializable {
    /** Persisted role names: per-doc frames, the keyed frame, then "pairs". */
    private[streaming] val roles: Seq[String]
    private[streaming] val keys: Seq[String] = Seq("band", "bucket")
    /** The ingest columns (id, text or vector), also the streaming schema. */
    private[streaming] def input: StructType
    private[streaming] def stream(spark: SparkSession, inDir: String): DataFrame
    /** The batch's frames for every role but `pairs`, in role order. */
    private[streaming] def index(batch: DataFrame): Seq[DataFrame]
    /** Candidate pairs (id_a, id_b, …) from the touched buckets' rows. */
    private[streaming] def generate(affected: DataFrame): DataFrame
    /** Exact verification of checkpointed candidates against the first
      * per-doc frame restricted to their ids; None when `generate` verifies. */
    private[streaming] def verify: Option[(DataFrame, DataFrame) => DataFrame]
    /** The score column of `pairs`, for the empty state's schema. */
    private[streaming] def score: Column
  }

  /** The families over (id, text) documents. */
  sealed trait TextFamily extends Family {
    val idCol: String
    val textCol: String
    private[streaming] def input: StructType =
      StructType(Seq(StructField(idCol, LongType), StructField(textCol, StringType)))
    private[streaming] def stream(spark: SparkSession, inDir: String): DataFrame =
      StreamingIngest.readDocs(spark, inDir)
  }

  /** MinHash LSH ≡ [[Dedup.minhashPairs]]: roles sets (id, sh, nsh), banded
    * (id, band, bucket), pairs (id_a, id_b, jaccard). */
  case class MinHash(idCol: String = "doc_id", textCol: String = "text",
                     shingleN: Int = 3, numHashes: Int = 64, bands: Int = 16,
                     threshold: Double = 0.7, maxBucket: Int = 1000) extends TextFamily {
    private[streaming] val roles = Seq("sets", "banded", "pairs")
    private[streaming] def index(batch: DataFrame): Seq[DataFrame] = {
      val sets = Dedup.shingleSets(batch, idCol, textCol, shingleN)
      Seq(sets, Dedup.minhashBanded(sets, numHashes, bands))
    }
    private[streaming] def generate(affected: DataFrame): DataFrame =
      Dedup.embedCandidates(affected, maxBucket)
    private[streaming] def verify = Some(jaccardAt(threshold))
    private[streaming] def score: Column = lit(0.0d).as("jaccard")
  }

  /** SimHash ≡ [[Dedup.simhashPairs]]: roles banded (id, sim, band, bucket)
    * — the 8-byte signature rides the band rows, so there is no separate
    * per-doc frame — and pairs (id_a, id_b, hamming). */
  case class SimHash(idCol: String = "doc_id", textCol: String = "text",
                     maxHamming: Int = 3, maxBucket: Int = 1000) extends TextFamily {
    private[streaming] val roles = Seq("banded", "pairs")
    private[streaming] def index(batch: DataFrame): Seq[DataFrame] =
      Seq(Dedup.simhashBanded(batch, idCol, textCol))
    // the popcount runs in the candidate join, before the new-member filter
    private[streaming] def generate(affected: DataFrame): DataFrame =
      Dedup.simhashPairsFromBanded(affected, maxHamming, maxBucket)
    private[streaming] def verify = None
    private[streaming] def score: Column = lit(0).cast("int").as("hamming")
  }

  /** Embedding LSH ≡ [[Dedup.embeddingPairs]] over (id, float-vector) rows:
    * roles vecs (id, vec), banded (id, band, bucket), pairs (id_a, id_b, cos). */
  case class Embed(idCol: String = "vec_id", vecCol: String = "embedding",
                   planes: Int = 24, bands: Int = 4, threshold: Double = 0.95,
                   maxBucket: Int = 1000) extends Family {
    private[streaming] val roles = Seq("vecs", "banded", "pairs")
    private[streaming] def input: StructType = StructType(Seq(
      StructField(idCol, LongType), StructField(vecCol, ArrayType(FloatType))))
    private[streaming] def stream(spark: SparkSession, inDir: String): DataFrame =
      StreamingIngest.readVecs(spark, inDir, idCol, vecCol)
    private[streaming] def index(batch: DataFrame): Seq[DataFrame] = {
      // persisted: both roles project the signed vectors
      val sigs = Dedup.trackPersist(Dedup.embedSigs(batch, idCol, vecCol, planes))
      Seq(sigs.select("id", "vec"), Dedup.embedBanded(sigs, planes, bands))
    }
    private[streaming] def generate(affected: DataFrame): DataFrame =
      Dedup.embedCandidates(affected, maxBucket)
    private[streaming] def verify =
      Some((cand: DataFrame, vecs: DataFrame) => Dedup.embedVerify(cand, vecs, threshold))
    private[streaming] def score: Column = lit(0.0d).as("cos")
  }

  /** Exact n-gram Jaccard (PPJoin) ≡ [[Dedup.ngramJaccardPairs]]: roles sets
    * (id, sh, nsh) of the non-empty documents, prefix (shingle, id, nsh, rk)
    * under the content-hash order — the prefix shingle is the bucket — and
    * pairs (id_a, id_b, jaccard). A pair's prefix overlap, prune outcome and
    * Jaccard are pure functions of its two documents, so it is a surviving
    * candidate exactly when both are present and one is new. */
  case class Ngram(idCol: String = "doc_id", textCol: String = "text",
                   n: Int = 3, threshold: Double = 0.5,
                   maxBucket: Int = 1000) extends TextFamily {
    private[streaming] val roles = Seq("sets", "prefix", "pairs")
    override private[streaming] val keys = Seq("shingle")
    private[streaming] def index(batch: DataFrame): Seq[DataFrame] = {
      val sets = Dedup.shingleSets(batch, idCol, textCol, n).filter(col("nsh") > 0)
      Seq(sets, Dedup.hashOrderedPrefix(sets, threshold))
    }
    private[streaming] def generate(affected: DataFrame): DataFrame =
      Dedup.ppjoinCandidates(affected, threshold, maxBucket)
    private[streaming] def verify = Some(jaccardAt(threshold))
    private[streaming] def score: Column = lit(0.0d).as("jaccard")
  }

  private def jaccardAt(threshold: Double): (DataFrame, DataFrame) => DataFrame =
    (cand, sets) => Dedup.verifiedJaccard(cand, sets)
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("jaccard"), 6).as("jaccard"))

  /** Empty state with schemas derived from `like` (any frame with the
    * family's ingest columns — typically the first batch). */
  def empty(family: Family, like: DataFrame): State = {
    val docs = family.index(like.limit(0))
    State(docs :+ docs.head.select(col("id").as("id_a"), col("id").as("id_b"),
      family.score).limit(0))
  }

  /** One incremental step: pairs involving at least one `batch` document are
    * found, verified, and appended — the same union fold [[load]] applies to
    * persisted deltas. Intermediates are persisted via Dedup's tracked cache
    * — release with [[Dedup.releaseCaches]] once outputs are materialized. */
  def step(family: Family, prev: State, batch: DataFrame): Step = {
    val d = delta(family, prev, batch)
    Step(State(PersistedDeltas.union(Seq(prev.frames, d.frames))),
      d.touchedBuckets, d.pairsAdded)
  }

  /** The batch increment against accumulated state (see [[step]]). */
  def delta(family: Family, prev: State, batch: DataFrame): Delta = {
    val (fresh, touched, raw) = candidates(family, prev, batch)
    val pairs = Dedup.trackPersist(family.verify.fold(raw) { verify =>
      // localCheckpoint (EAGER), not a mere persist: verification reads the
      // candidate set once and the restricted state twice (one attach join
      // per side), and each restricted-state copy nests the candidate-id
      // union — two more candidate references — so the analyzed plan would
      // hold the salted join tree five times. Persist caches EXECUTION but
      // Catalyst would still re-optimize every copy (the former exploded
      // verification multiplied it ~14x: 1.2 s -> 8.9 s per step before
      // truncation). Both frames are O(candidates).
      val cand = raw.localCheckpoint()
      // verification state restricted to the candidates' OWN documents (one
      // streamed left-semi over the accumulated per-doc frame, build side =
      // candidate ids): without it both attach joins would read — and in the
      // shuffle regime move — the whole corpus's sets or vectors, making
      // per-batch verification O(corpus) instead of O(candidates)
      verify(cand, prev.frames.head.unionByName(fresh.head)
        .join(candidateIds(cand), Seq("id"), "left_semi").localCheckpoint())
    })
    // bookkeeping counts folded into ONE action (the IncrementalLinkage
    // cross-join pattern); also materializes the pairs' persist
    val r = touched.agg(count(lit(1))).crossJoin(pairs.agg(count(lit(1)))).head()
    Delta(fresh :+ pairs, r.getLong(0), r.getLong(1))
  }

  /** The batch's index frames (persisted), the buckets it touches, and its
    * UN-truncated candidate pairs — the seam [[delta]] checkpoints and
    * PlanSpec inspects (the checkpoint hides the bucket join's plan from the
    * delta's outputs). Only touched buckets can produce a new pair; their
    * existing members join by a left-semi key probe (no payload
    * re-shuffle), and `affected` is persisted — it feeds the salted join's
    * hot probe and both join branches. */
  private[graft] def candidates(family: Family, prev: State,
      batch: DataFrame): (Seq[DataFrame], DataFrame, DataFrame) = {
    val fresh = family.index(batch).map(Dedup.trackPersist)
    val touched = fresh.last.select(family.keys.map(col): _*).distinct()
    val affected = Dedup.trackPersist(prev.frames.init.last
      .join(touched, family.keys, "left_semi").unionByName(fresh.last))
    (fresh, touched, keepPairsWithNewMember(family.generate(affected),
      fresh.head.select("id").distinct()))
  }

  /** The candidates' own document ids — the build side of the left-semi
    * that keeps per-batch verification O(candidates) instead of attaching
    * from the whole accumulated per-doc state. */
  private def candidateIds(cand: DataFrame): DataFrame =
    cand.select(col("id_a").as("id"))
      .union(cand.select(col("id_b").as("id"))).distinct()

  /** Keep pairs with ≥1 batch member: an old×old pair inside a touched
    * bucket was already emitted by the batch that brought its later doc
    * (state is append-only — see class doc). Two skinny equi-joins, no
    * driver work. Non-pair columns pass through. */
  private def keepPairsWithNewMember(cand: DataFrame, newIds: DataFrame): DataFrame =
    cand
      .join(newIds.select(col("id").as("id_a"), lit(1).as("__new_a")), Seq("id_a"), "left")
      .join(newIds.select(col("id").as("id_b"), lit(1).as("__new_b")), Seq("id_b"), "left")
      .filter(col("__new_a").isNotNull || col("__new_b").isNotNull)
      // restore the input's column ORDER (a join key moves to first
      // position): persisted deltas are read back positionally by except()
      // and the families' empty-state schemas
      .select(cand.columns.map(col).toIndexedSeq: _*)

  /** Retract documents from any family's state — the takedown path beside
    * the append-only [[step]]: the ids leave every per-doc frame, and every
    * pair with a retracted member leaves `pairs`. EXACT by purity: every
    * state row (per-doc sets/bands/vectors/prefixes, per-pair score) is a
    * pure function of its own doc(s), so removal is a row filter and the
    * result is row-identical to having accumulated the corpus without the
    * retracted docs (IncrementalDedupSpec); later steps against the filtered
    * state stay exact for the same reason. A retracted id may even be
    * re-ingested later — its rows are gone, so the disjoint-ids precondition
    * is restored. The CLUSTER view is the one state that can SPLIT on
    * retraction: rebuild it with [[IncrementalCC.retract]], feeding the
    * surviving `pairs` as the edge relation. */
  def retract(state: State, ids: DataFrame): State = {
    val pairs = state.pairs
      .join(ids.select(col("id").as("id_a")), Seq("id_a"), "left_anti")
      .join(ids.select(col("id").as("id_b")), Seq("id_b"), "left_anti")
      .select(state.pairs.columns.map(col).toIndexedSeq: _*)
    State(state.frames.init.map(_.join(ids.select(col("id")), Seq("id"), "left_anti")) :+ pairs)
  }

  // ------------------------- persisted state layout -------------------------
  // Each family's state is append-only, so it persists on the shared
  // [[PersistedDeltas]] engine with a plain-union fold, one role per frame.

  private def store(family: Family) = new PersistedDeltas(family.roles, PersistedDeltas.union)

  private def emptyInput(spark: SparkSession, family: Family): DataFrame =
    spark.createDataFrame(new java.util.ArrayList[Row](), family.input)

  /** Committed plain-delta batches of a state dir written by [[run]]. */
  def committedBatches(stateDir: String): Seq[Long] = PersistedDeltas.committedBatches(stateDir)

  /** Committed compaction base batches of a state dir written by [[run]]. */
  def compactions(stateDir: String): Seq[Long] = PersistedDeltas.compactions(stateDir)

  /** Accumulated state before `beforeBatch`: the latest compaction base
    * unioned with the live committed deltas (empty-state schemas when none
    * exist). */
  def load(spark: SparkSession, family: Family, stateDir: String, beforeBatch: Long): State =
    store(family).load(spark, stateDir, beforeBatch).map(State(_))
      .getOrElse(empty(family, emptyInput(spark, family)))

  /** Streaming driver: file-source stream of the family's ingest rows →
    * foreachBatch incremental delta, persisted by [[PersistedDeltas.run]].
    * Per-batch state I/O is O(delta) + one O(state) union read; restart
    * resumes from the checkpoint's consumed-file ledger — exactly-once per
    * batch. */
  def run(spark: SparkSession, family: Family, inDir: String, stateDir: String,
          checkpoint: String, compactEvery: Int = 8): StreamingQuery =
    store(family).run(family.stream(spark, inDir), stateDir, checkpoint, compactEvery,
      sp => empty(family, emptyInput(sp, family)).frames) { (batch, prev) =>
      delta(family, State(prev), batch.select(family.input.fieldNames.map(col).toIndexedSeq: _*)).frames
    }
}
