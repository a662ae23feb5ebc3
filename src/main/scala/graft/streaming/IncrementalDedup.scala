package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.operators.{Blocking, Dedup}

/** Incremental MinHash near-duplicate detection over batches of documents:
  * each batch computes band signatures for the NEW documents only and forms
  * candidate pairs only inside the buckets the batch touches — the operator a
  * continuously-fed training-data pipeline needs, where re-pairing the full
  * corpus's bands every batch is O(corpus) work for an O(batch) change.
  *
  * Scale rationale (the [[IncrementalLinkage]] touched-block pattern applied
  * to banded LSH state): per-batch COMPUTE is bounded by Σ(touched bucket)²
  * — via [[Blocking.saltedSelfJoin]] each task further capped at
  * O(maxBucket²) — independent of the accumulated corpus size; untouched
  * buckets cost one left-semi key probe, no payload ever re-shuffles, and
  * verification attaches only the CANDIDATES' own per-doc state (a second
  * left-semi, build side = candidate ids) — never the accumulated corpus.
  * Unlike linkage blocks (re-SCORED on every touch, needing a last-touch
  * merge), dedup state is APPEND-ONLY: documents are immutable, so a pair's
  * jaccard never changes and each unordered pair is emitted exactly once —
  * by the batch that brings the LATER of its two documents. The streaming
  * drivers persist it on the shared [[PersistedDeltas]] layout: per batch
  * only the (new sets, new banded, fresh pairs) deltas, and the state is
  * their plain union over the latest compaction base — no supersede logic.
  *
  * Equality guarantee (IncrementalDedupSpec): after any batch split of a
  * corpus, `state.pairs` is row-identical to [[Dedup.minhashPairs]] on the
  * full corpus — signatures/buckets come from the same shared expressions
  * ([[Dedup.shingleSets]]/[[Dedup.minhashBanded]]), candidates inside a
  * touched bucket see every accumulated member, and verification reads the
  * same per-doc shingle state.
  *
  * Precondition: batches carry DISJOINT document ids (append-only corpus; a
  * re-delivered id would duplicate its band rows and re-emit its pairs).
  *
  * The same touched-bucket core serves the whole banded-LSH dedup family:
  * [[simhashStep]] (4×16-bit bands, Hamming verification from signatures
  * riding the band rows) and [[embedStep]] (hyperplane bands, exact-cosine
  * verification against accumulated vectors) — and, with "bucket" = prefix
  * shingle, the exact n-gram Jaccard join too ([[ngramStep]]). The
  * frequency-ADAPTIVE prefix order of [[Dedup.ngramJaccardPairs]] is not
  * incremental (a batch can change which shingles form an OLD document's
  * prefix), but the prefix-filter completeness lemma holds for ANY fixed
  * total order: under the content-hash order
  * ([[Dedup.hashOrderedPrefix]]) a document's prefix is a pure function of
  * the document, the size/positional prunes stay sound, and exact Jaccard
  * verification makes the accumulated pairs IDENTICAL to the
  * frequency-ordered full recompute — the order only steers pruning
  * efficiency, never the output.
  */
object IncrementalDedup {

  /** Accumulated dedup state:
    *  - `sets`   (id, sh: array&lt;string&gt;, nsh: int) — per-doc shingle
    *    state, the verification input;
    *  - `banded` (id, band: int, bucket: int) — LSH band membership, the
    *    candidate generator;
    *  - `pairs`  (id_a, id_b, jaccard) — verified near-dup pairs, append-only.
    */
  case class State(sets: DataFrame, banded: DataFrame, pairs: DataFrame)

  case class Step(state: State, touchedBuckets: Long, pairsAdded: Long)

  /** One batch's increment alone (what the streaming driver persists):
    * the batch's shingle sets, band rows, and freshly verified pairs. */
  case class Delta(sets: DataFrame, banded: DataFrame, pairs: DataFrame,
                   touchedBuckets: Long, pairsAdded: Long)

  /** Empty state with schemas derived from `like` (any frame with the id and
    * text columns — typically the first batch). */
  def empty(like: DataFrame, idCol: String, textCol: String,
            shingleN: Int = 3, numHashes: Int = 64, bands: Int = 16): State = {
    val sets = Dedup.shingleSets(like.limit(0), idCol, textCol, shingleN)
    val banded = Dedup.minhashBanded(sets, numHashes, bands)
    val pairs = sets.select(col("id").as("id_a"), col("id").as("id_b"),
      lit(0.0d).as("jaccard")).limit(0)
    State(sets, banded, pairs)
  }

  /** One incremental step: near-dup pairs involving at least one `batch`
    * document are found, verified, and appended. Parameters must match
    * across every step of a state (and match [[Dedup.minhashPairs]] for the
    * equality guarantee). Intermediates are persisted via Dedup's tracked
    * cache — release with [[Dedup.releaseCaches]] once outputs are
    * materialized. */
  def step(prev: State, batch: DataFrame, idCol: String, textCol: String,
           shingleN: Int = 3, numHashes: Int = 64, bands: Int = 16,
           threshold: Double = 0.7, maxBucket: Int = 1000): Step = {
    val d = delta(prev, batch, idCol, textCol, shingleN, numHashes, bands,
      threshold, maxBucket)
    Step(State(prev.sets.unionByName(d.sets),
        prev.banded.unionByName(d.banded),
        prev.pairs.unionByName(d.pairs)),
      d.touchedBuckets, d.pairsAdded)
  }

  /** The batch increment against accumulated state (see [[step]]). */
  def delta(prev: State, batch: DataFrame, idCol: String, textCol: String,
            shingleN: Int = 3, numHashes: Int = 64, bands: Int = 16,
            threshold: Double = 0.7, maxBucket: Int = 1000): Delta = {
    // batch-local state from the SAME expressions as the full operator;
    // persisted: each feeds the probe + both sides of the salted join, the
    // verification branches, and the returned accumulated state
    val newSets = Dedup.trackPersist(
      Dedup.shingleSets(batch, idCol, textCol, shingleN))
    val newBanded = Dedup.trackPersist(
      Dedup.minhashBanded(newSets, numHashes, bands))

    val (touched, rawCand) = minhashCandidates(prev, newSets, newBanded, maxBucket)
    // localCheckpoint (EAGER), not a mere persist: verification reads the
    // candidate set once and the restricted state twice (one attach join per
    // side), and each restricted-state copy nests the candidate-id union —
    // two more candidate references — so the analyzed plan would hold the
    // salted join tree five times. Persist caches EXECUTION but Catalyst
    // would still re-optimize every copy (the former exploded verification
    // multiplied it ~14x: 1.2 s -> 8.9 s per step before truncation). Both
    // frames are O(candidates).
    val cand = rawCand.localCheckpoint()

    // verification state restricted to the candidates' OWN documents (one
    // streamed left-semi over the accumulated sets, build side = candidate
    // ids): without it both attach joins would read — and in the shuffle
    // regime move — the whole corpus's shingle arrays, making per-batch
    // verification O(corpus) instead of O(candidates)
    val verifySets = prev.sets.unionByName(newSets)
      .join(candidateIds(cand), Seq("id"), "left_semi").localCheckpoint()
    val fresh = Dedup.trackPersist(
      Dedup.verifiedJaccard(cand, verifySets)
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("jaccard"), 6).as("jaccard")))

    val (tb, np) = stats(touched, fresh)
    Delta(newSets, newBanded, fresh, tb, np)
  }

  // --------------- the touched-bucket core, shared by all families ---------

  /** Buckets the batch touches (no other bucket can produce a new pair) and
    * the candidate-generation relation: existing members of touched buckets
    * (left-semi: key-colocated probe, no payload re-shuffle) plus the batch's
    * own rows. `affected` is persisted — it feeds the salted join's hot
    * probe and both join branches. `keys` is the family's bucket identity:
    * (band, bucket) for the banded LSH families, the prefix shingle for the
    * PPJoin family. */
  private def touchedAffected(prevBanded: DataFrame, newBanded: DataFrame,
                              keys: Seq[String] = Seq("band", "bucket")): (DataFrame, DataFrame) = {
    val touched = newBanded.select(keys.map(col): _*).distinct()
    val affected = Dedup.trackPersist(
      prevBanded.join(touched, keys, "left_semi")
        .unionByName(newBanded))
    (touched, affected)
  }

  /** The MinHash batch's touched buckets and UN-truncated candidate frame —
    * the seam [[delta]] checkpoints and PlanSpec inspects (the checkpoint
    * hides the banded join's plan from the delta's outputs). */
  private[graft] def minhashCandidates(prev: State, newSets: DataFrame,
      newBanded: DataFrame, maxBucket: Int): (DataFrame, DataFrame) = {
    val (touched, affected) = touchedAffected(prev.banded, newBanded)
    val cand0 = Blocking.saltedSelfJoin(affected, Seq("band", "bucket"), "id",
        Seq.empty, maxBucket)
      .select("id_a", "id_b")
      .dropDuplicates("id_a", "id_b")
    (touched, keepPairsWithNewMember(cand0, newSets.select("id"))
      .select("id_a", "id_b"))
  }

  /** Embedding twin of [[minhashCandidates]] (PlanSpec seam). */
  private[graft] def embedCandidatesOf(prev: EmbedState, newSigs: DataFrame,
      newBanded: DataFrame, maxBucket: Int): (DataFrame, DataFrame) = {
    val (touched, affected) = touchedAffected(prev.banded, newBanded)
    (touched, keepPairsWithNewMember(
      Dedup.embedCandidates(affected, maxBucket), newSigs.select("id")))
  }

  /** PPJoin twin of [[minhashCandidates]] (PlanSpec seam). */
  private[graft] def ngramCandidates(prev: NgramState, newSets: DataFrame,
      newPrefix: DataFrame, threshold: Double,
      maxBucket: Int): (DataFrame, DataFrame) = {
    val (touched, affected) = touchedAffected(prev.prefix, newPrefix,
      keys = Seq("shingle"))
    (touched, keepPairsWithNewMember(
      Dedup.ppjoinCandidates(affected, threshold, maxBucket),
      newSets.select("id")))
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

  /** Bookkeeping counts folded into ONE action (the IncrementalLinkage
    * cross-join pattern); also materializes `fresh`'s persist. */
  private def stats(touched: DataFrame, fresh: DataFrame): (Long, Long) = {
    val r = touched.agg(count(lit(1)).as("tb"))
      .crossJoin(fresh.agg(count(lit(1)).as("np"))).head()
    (r.getLong(0), r.getLong(1))
  }

  // ----------------------------- SimHash family ----------------------------

  /** Incremental SimHash state. The per-doc verification payload (the 8-byte
    * signature) rides inside the band rows, so unlike MinHash there is no
    * separate per-doc frame: `banded` (id, sim, band, bucket) IS the whole
    * non-pair state. */
  case class SimhashState(banded: DataFrame, pairs: DataFrame)
  case class SimhashStep(state: SimhashState, touchedBuckets: Long, pairsAdded: Long)

  def simhashEmpty(like: DataFrame, idCol: String, textCol: String): SimhashState = {
    val banded = Dedup.simhashBanded(like.limit(0), idCol, textCol)
    SimhashState(banded,
      like.limit(0).select(col(idCol).as("id_a"), col(idCol).as("id_b"),
        lit(0).cast("int").as("hamming")).limit(0))
  }

  case class SimhashDelta(banded: DataFrame, pairs: DataFrame,
                          touchedBuckets: Long, pairsAdded: Long)

  /** One SimHash increment: candidates only inside buckets the batch touches,
    * Hamming verification from the signatures riding the band rows, pairs
    * appended exactly once (by the batch bringing the later member).
    * Accumulated `pairs` equal [[Dedup.simhashPairs]] on the full corpus
    * (IncrementalDedupSpec) — banding and verification use the same shared
    * expressions ([[Dedup.simhashBanded]]/[[Dedup.simhashPairsFromBanded]]).
    * Precondition: batches carry disjoint ids (append-only corpus). */
  def simhashStep(prev: SimhashState, batch: DataFrame, idCol: String,
                  textCol: String, maxHamming: Int = 3,
                  maxBucket: Int = 1000): SimhashStep = {
    val d = simhashDelta(prev, batch, idCol, textCol, maxHamming, maxBucket)
    SimhashStep(SimhashState(prev.banded.unionByName(d.banded),
      prev.pairs.unionByName(d.pairs)), d.touchedBuckets, d.pairsAdded)
  }

  /** The SimHash batch increment against accumulated state (see
    * [[simhashStep]]). */
  def simhashDelta(prev: SimhashState, batch: DataFrame, idCol: String,
                   textCol: String, maxHamming: Int = 3,
                   maxBucket: Int = 1000): SimhashDelta = {
    val newBanded = Dedup.trackPersist(Dedup.simhashBanded(batch, idCol, textCol))
    val (touched, affected) = touchedAffected(prev.banded, newBanded)
    // verification is a per-row popcount — cheap enough to run BEFORE the
    // new-member filter (no vectors/sets to re-attach, unlike the other two)
    val fresh = Dedup.trackPersist(keepPairsWithNewMember(
      Dedup.simhashPairsFromBanded(affected, maxHamming, maxBucket),
      newBanded.select("id").distinct()))
    val (tb, np) = stats(touched, fresh)
    SimhashDelta(newBanded, fresh, tb, np)
  }

  // ---------------------------- embedding family ---------------------------

  /** Incremental embedding-LSH state: `vecs` (id, vec) for exact-cosine
    * verification, `banded` (id, band, bucket) for candidate generation,
    * `pairs` (id_a, id_b, cos) append-only. */
  case class EmbedState(vecs: DataFrame, banded: DataFrame, pairs: DataFrame)
  case class EmbedStep(state: EmbedState, touchedBuckets: Long, pairsAdded: Long)

  def embedEmpty(like: DataFrame, idCol: String, vecCol: String,
                 planes: Int = 24, bands: Int = 4): EmbedState = {
    val sigs = Dedup.embedSigs(like.limit(0), idCol, vecCol, planes)
    EmbedState(sigs.select("id", "vec"),
      Dedup.embedBanded(sigs, planes, bands),
      sigs.select(col("id").as("id_a"), col("id").as("id_b"),
        lit(0.0d).as("cos")).limit(0))
  }

  case class EmbedDelta(vecs: DataFrame, banded: DataFrame, pairs: DataFrame,
                        touchedBuckets: Long, pairsAdded: Long)

  /** One embedding-LSH increment: hyperplane signatures for the batch only,
    * candidates only inside touched buckets, exact cosine against the
    * accumulated vector state. Accumulated `pairs` equal
    * [[Dedup.embeddingPairs]] on the full corpus (IncrementalDedupSpec) —
    * signatures, banding, candidate join and verification all come from the
    * shared expressions ([[Dedup.embedSigs]]/[[Dedup.embedBanded]]/
    * [[Dedup.embedCandidates]]/[[Dedup.embedVerify]]).
    * Precondition: batches carry disjoint ids (append-only corpus). */
  def embedStep(prev: EmbedState, batch: DataFrame, idCol: String,
                vecCol: String, planes: Int = 24, bands: Int = 4,
                threshold: Double = 0.95, maxBucket: Int = 1000): EmbedStep = {
    val d = embedDelta(prev, batch, idCol, vecCol, planes, bands, threshold, maxBucket)
    EmbedStep(EmbedState(prev.vecs.unionByName(d.vecs),
      prev.banded.unionByName(d.banded),
      prev.pairs.unionByName(d.pairs)), d.touchedBuckets, d.pairsAdded)
  }

  /** The embedding batch increment against accumulated state (see
    * [[embedStep]]). */
  def embedDelta(prev: EmbedState, batch: DataFrame, idCol: String,
                 vecCol: String, planes: Int = 24, bands: Int = 4,
                 threshold: Double = 0.95, maxBucket: Int = 1000): EmbedDelta = {
    val newSigs = Dedup.trackPersist(Dedup.embedSigs(batch, idCol, vecCol, planes))
    val newVecs = newSigs.select("id", "vec")
    val newBanded = Dedup.trackPersist(Dedup.embedBanded(newSigs, planes, bands))
    val (touched, rawCand) = embedCandidatesOf(prev, newSigs, newBanded, maxBucket)
    // filter to ≥1 new member BEFORE re-attaching vectors: old×old pairs in
    // touched buckets never pay the cosine. Checkpoint (plan truncation) and
    // restrict the vector state to the candidates' own ids (see the MinHash
    // delta) — exact-cosine verification touches O(candidates) vectors, not
    // the accumulated corpus.
    val cand = rawCand.localCheckpoint()
    val verifyVecs = prev.vecs.unionByName(newVecs)
      .join(candidateIds(cand.select("id_a", "id_b")), Seq("id"), "left_semi")
      .localCheckpoint()
    val fresh = Dedup.trackPersist(
      Dedup.embedVerify(cand, verifyVecs, threshold))
    val (tb, np) = stats(touched, fresh)
    EmbedDelta(newVecs, newBanded, fresh, tb, np)
  }

  // ----------------------------- n-gram family -----------------------------

  /** Incremental n-gram Jaccard state: `sets` (id, sh, nsh) for exact
    * verification, `prefix` (shingle, id, nsh, rk) hash-ordered prefix rows
    * for candidate generation ([[Dedup.hashOrderedPrefix]] — the "banded"
    * role, with the prefix shingle as the bucket), `pairs` append-only. */
  case class NgramState(sets: DataFrame, prefix: DataFrame, pairs: DataFrame)
  case class NgramStep(state: NgramState, touchedBuckets: Long, pairsAdded: Long)
  case class NgramDelta(sets: DataFrame, prefix: DataFrame, pairs: DataFrame,
                        touchedBuckets: Long, pairsAdded: Long)

  def ngramEmpty(like: DataFrame, idCol: String, textCol: String,
                 n: Int = 3, threshold: Double = 0.5): NgramState = {
    val sets = Dedup.shingleSets(like.limit(0), idCol, textCol, n)
      .filter(col("nsh") > 0)
    NgramState(sets, Dedup.hashOrderedPrefix(sets, threshold),
      sets.select(col("id").as("id_a"), col("id").as("id_b"),
        lit(0.0d).as("jaccard")).limit(0))
  }

  /** One EXACT incremental PPJoin step: prefixes under the content-hash
    * shingle order are a pure function of each document, so a batch never
    * changes an old document's prefix — candidate pairs arise only in prefix
    * buckets (shingles) the batch touches, and exact Jaccard verification
    * runs against the accumulated shingle state. Accumulated `pairs` equal
    * the frequency-ordered [[Dedup.ngramJaccardPairs]] on the full corpus
    * (IncrementalDedupSpec): the prefix filter is complete under ANY fixed
    * total order, the size/positional prunes are order-sound, and
    * verification is order-independent — the order steers pruning
    * efficiency only. Per-pair emission is exactly-once (by the batch that
    * brings the later member): a pair's prefix overlap, prune outcome and
    * jaccard are all pure functions of its two documents, so the pair is a
    * surviving candidate exactly when both members are present and one is
    * new.
    * Precondition: `n`/`threshold` fixed across every step of a state
    * (prefix lengths are derived from `threshold`); batches carry disjoint
    * ids (append-only corpus). */
  def ngramStep(prev: NgramState, batch: DataFrame, idCol: String,
                textCol: String, n: Int = 3, threshold: Double = 0.5,
                maxBucket: Int = 1000): NgramStep = {
    val d = ngramDelta(prev, batch, idCol, textCol, n, threshold, maxBucket)
    NgramStep(NgramState(prev.sets.unionByName(d.sets),
      prev.prefix.unionByName(d.prefix),
      prev.pairs.unionByName(d.pairs)), d.touchedBuckets, d.pairsAdded)
  }

  /** The PPJoin batch increment against accumulated state (see
    * [[ngramStep]]). */
  def ngramDelta(prev: NgramState, batch: DataFrame, idCol: String,
                 textCol: String, n: Int = 3, threshold: Double = 0.5,
                 maxBucket: Int = 1000): NgramDelta = {
    val newSets = Dedup.trackPersist(
      Dedup.shingleSets(batch, idCol, textCol, n).filter(col("nsh") > 0))
    val newPrefix = Dedup.trackPersist(
      Dedup.hashOrderedPrefix(newSets, threshold))
    val (touched, rawCand) = ngramCandidates(prev, newSets, newPrefix,
      threshold, maxBucket)
    // checkpointed (plan truncation) + verification state restricted to the
    // candidates' own ids (see the MinHash delta): per-batch verification
    // attaches O(candidates) shingle sets, never the accumulated corpus
    val cand = rawCand.localCheckpoint()
    val verifySets = prev.sets.unionByName(newSets)
      .join(candidateIds(cand), Seq("id"), "left_semi").localCheckpoint()
    val fresh = Dedup.trackPersist(
      Dedup.verifiedJaccard(cand, verifySets)
        .filter(col("jaccard") >= threshold)
        .select(col("id_a"), col("id_b"), round(col("jaccard"), 6).as("jaccard")))
    val (tb, np) = stats(touched, fresh)
    NgramDelta(newSets, newPrefix, fresh, tb, np)
  }

  // ------------------------------ retraction -------------------------------

  /** Retract documents from MinHash state — the takedown path beside the
    * append-only [[step]]. EXACT by purity: every state row (per-doc
    * sets/bands, per-pair jaccard) is a pure function of its own doc(s), so
    * removal is a row filter and the result is row-identical to having
    * accumulated the corpus without the retracted docs
    * (IncrementalDedupSpec); later steps against the filtered state stay
    * exact for the same reason. A retracted id may even be re-ingested
    * later — its rows are gone, so the disjoint-ids precondition is
    * restored. The CLUSTER view is the one state that can SPLIT on
    * retraction: rebuild it with [[IncrementalCC.retract]], feeding the
    * surviving `pairs` as the edge relation. */
  def retract(state: State, ids: DataFrame): State = State(
    antiId(state.sets, ids), antiId(state.banded, ids),
    antiPair(state.pairs, ids))

  /** SimHash twin of [[retract]]. */
  def simhashRetract(state: SimhashState, ids: DataFrame): SimhashState =
    SimhashState(antiId(state.banded, ids), antiPair(state.pairs, ids))

  /** Embedding twin of [[retract]]. */
  def embedRetract(state: EmbedState, ids: DataFrame): EmbedState =
    EmbedState(antiId(state.vecs, ids), antiId(state.banded, ids),
      antiPair(state.pairs, ids))

  /** PPJoin twin of [[retract]] (hash-ordered prefixes are per-doc pure, so
    * the filter argument holds for them too). */
  def ngramRetract(state: NgramState, ids: DataFrame): NgramState =
    NgramState(antiId(state.sets, ids), antiId(state.prefix, ids),
      antiPair(state.pairs, ids))

  private def antiId(df: DataFrame, ids: DataFrame): DataFrame =
    df.join(ids.select(col("id")), Seq("id"), "left_anti")

  private def antiPair(pairs: DataFrame, ids: DataFrame): DataFrame =
    pairs.join(ids.select(col("id").as("id_a")), Seq("id_a"), "left_anti")
      .join(ids.select(col("id").as("id_b")), Seq("id_b"), "left_anti")
      .select(pairs.columns.map(col).toIndexedSeq: _*)

  // ------------------------- persisted state layout -------------------------
  // Each family's state is append-only, so it persists on the shared
  // [[PersistedDeltas]] engine with a plain-union fold, one role per frame.

  private val Minhash = new PersistedDeltas(Seq("sets", "banded", "pairs"), PersistedDeltas.union)
  private val Simhash = new PersistedDeltas(Seq("banded", "pairs"), PersistedDeltas.union)
  private val Embed = new PersistedDeltas(Seq("vecs", "banded", "pairs"), PersistedDeltas.union)
  private val Ngram = new PersistedDeltas(Seq("sets", "prefix", "pairs"), PersistedDeltas.union)

  /** Committed batches of a MinHash state dir (one written by [[run]]). */
  def committedBatches(stateDir: String): Seq[Long] = Minhash.committedBatches(stateDir)

  def compactions(stateDir: String): Seq[Long] = PersistedDeltas.compactions(stateDir)

  /** Accumulated state before `beforeBatch`: the latest compaction base
    * unioned with the live committed deltas (empty-state schemas when none
    * exist). */
  def loadState(spark: SparkSession, stateDir: String, beforeBatch: Long,
                idCol: String, textCol: String,
                shingleN: Int = 3, numHashes: Int = 64, bands: Int = 16): State =
    Minhash.load(spark, stateDir, beforeBatch) match {
      case Some(Seq(sets, banded, pairs)) => State(sets, banded, pairs)
      case _ => empty(emptyDocs(spark, idCol, textCol), idCol, textCol,
        shingleN, numHashes, bands)
    }

  /** SimHash twin of [[loadState]] (banded + pairs roles only). */
  def loadSimhashState(spark: SparkSession, stateDir: String, beforeBatch: Long,
                       idCol: String, textCol: String): SimhashState =
    Simhash.load(spark, stateDir, beforeBatch) match {
      case Some(Seq(banded, pairs)) => SimhashState(banded, pairs)
      case _ => simhashEmpty(emptyDocs(spark, idCol, textCol), idCol, textCol)
    }

  /** Embedding twin of [[loadState]] (vecs + banded + pairs roles). */
  def loadEmbedState(spark: SparkSession, stateDir: String, beforeBatch: Long,
                     idCol: String, vecCol: String,
                     planes: Int = 24, bands: Int = 4): EmbedState =
    Embed.load(spark, stateDir, beforeBatch) match {
      case Some(Seq(vecs, banded, pairs)) => EmbedState(vecs, banded, pairs)
      case _ => embedEmpty(emptyVecs(spark, idCol, vecCol), idCol, vecCol,
        planes, bands)
    }

  /** PPJoin twin of [[loadState]] (sets + prefix + pairs roles). */
  def loadNgramState(spark: SparkSession, stateDir: String, beforeBatch: Long,
                     idCol: String, textCol: String,
                     n: Int = 3, threshold: Double = 0.5): NgramState =
    Ngram.load(spark, stateDir, beforeBatch) match {
      case Some(Seq(sets, prefix, pairs)) => NgramState(sets, prefix, pairs)
      case _ => ngramEmpty(emptyDocs(spark, idCol, textCol), idCol, textCol,
        n, threshold)
    }

  private def emptyDocs(spark: SparkSession, idCol: String, textCol: String): DataFrame =
    spark.createDataFrame(new java.util.ArrayList[org.apache.spark.sql.Row](),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField(idCol, org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField(textCol, org.apache.spark.sql.types.StringType))))

  private def emptyVecs(spark: SparkSession, idCol: String, vecCol: String): DataFrame =
    spark.createDataFrame(new java.util.ArrayList[org.apache.spark.sql.Row](),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField(idCol, org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField(vecCol,
          org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.FloatType)))))

  /** Streaming driver: file-source document stream → foreachBatch
    * incremental delta, persisted by [[PersistedDeltas.run]]. Per-batch
    * state I/O is O(delta) + one O(state) union read; restart resumes from
    * the checkpoint's consumed-file ledger — exactly-once per batch. */
  def run(spark: SparkSession, inDir: String, stateDir: String,
          checkpoint: String, idCol: String = "doc_id", textCol: String = "text",
          shingleN: Int = 3, numHashes: Int = 64, bands: Int = 16,
          threshold: Double = 0.7, maxBucket: Int = 1000,
          compactEvery: Int = 8): StreamingQuery =
    Minhash.run(StreamingIngest.readDocs(spark, inDir), stateDir, checkpoint, compactEvery,
      sp => {
        val e = empty(emptyDocs(sp, idCol, textCol), idCol, textCol, shingleN, numHashes, bands)
        Seq(e.sets, e.banded, e.pairs)
      }) { case (batch, Seq(sets, banded, pairs)) =>
      val d = delta(State(sets, banded, pairs), batch.select(idCol, textCol), idCol, textCol,
        shingleN, numHashes, bands, threshold, maxBucket)
      Seq(d.sets, d.banded, d.pairs)
    }

  /** SimHash streaming driver — the [[run]] shape over the two-role SimHash
    * state (signatures ride the band rows, so there is no sets frame). */
  def simhashRun(spark: SparkSession, inDir: String, stateDir: String,
                 checkpoint: String, idCol: String = "doc_id",
                 textCol: String = "text", maxHamming: Int = 3,
                 maxBucket: Int = 1000, compactEvery: Int = 8): StreamingQuery =
    Simhash.run(StreamingIngest.readDocs(spark, inDir), stateDir, checkpoint, compactEvery,
      sp => {
        val e = simhashEmpty(emptyDocs(sp, idCol, textCol), idCol, textCol)
        Seq(e.banded, e.pairs)
      }) { case (batch, Seq(banded, pairs)) =>
      val d = simhashDelta(SimhashState(banded, pairs), batch.select(idCol, textCol),
        idCol, textCol, maxHamming, maxBucket)
      Seq(d.banded, d.pairs)
    }

  /** Embedding streaming driver — the [[run]] shape over (id, vector)
    * streams (vecs + banded + pairs roles). */
  def embedRun(spark: SparkSession, inDir: String, stateDir: String,
               checkpoint: String, idCol: String = "vec_id",
               vecCol: String = "embedding", planes: Int = 24, bands: Int = 4,
               threshold: Double = 0.95, maxBucket: Int = 1000,
               compactEvery: Int = 8): StreamingQuery =
    Embed.run(StreamingIngest.readVecs(spark, inDir, idCol, vecCol), stateDir, checkpoint,
      compactEvery, sp => {
        val e = embedEmpty(emptyVecs(sp, idCol, vecCol), idCol, vecCol, planes, bands)
        Seq(e.vecs, e.banded, e.pairs)
      }) { case (batch, Seq(vecs, banded, pairs)) =>
      val d = embedDelta(EmbedState(vecs, banded, pairs), batch.select(idCol, vecCol),
        idCol, vecCol, planes, bands, threshold, maxBucket)
      Seq(d.vecs, d.banded, d.pairs)
    }

  /** PPJoin streaming driver — the [[run]] shape over the three-role n-gram
    * state (shingle sets + hash-ordered prefix rows + pairs). */
  def ngramRun(spark: SparkSession, inDir: String, stateDir: String,
               checkpoint: String, idCol: String = "doc_id",
               textCol: String = "text", n: Int = 3, threshold: Double = 0.5,
               maxBucket: Int = 1000, compactEvery: Int = 8): StreamingQuery =
    Ngram.run(StreamingIngest.readDocs(spark, inDir), stateDir, checkpoint, compactEvery,
      sp => {
        val e = ngramEmpty(emptyDocs(sp, idCol, textCol), idCol, textCol, n, threshold)
        Seq(e.sets, e.prefix, e.pairs)
      }) { case (batch, Seq(sets, prefix, pairs)) =>
      val d = ngramDelta(NgramState(sets, prefix, pairs), batch.select(idCol, textCol),
        idCol, textCol, n, threshold, maxBucket)
      Seq(d.sets, d.prefix, d.pairs)
    }
}
