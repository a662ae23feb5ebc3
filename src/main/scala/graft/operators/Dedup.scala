package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.functions.TextFunctions

/** Deduplication operators for large-scale training-data pipelines: exact,
  * bag-of-words, MinHash+LSH, SimHash, n-gram Jaccard, embedding-cosine.
  *
  * Scale posture: every variant is blocking-based — candidate pairs only ever
  * form inside hash buckets (LSH bands, SimHash prefixes, cosine LSH bands),
  * so cost is Σ block² not n², and each groupBy/join shuffles on a well-spread
  * key. Every candidate self-join routes through
  * [[Blocking.saltedSelfJoin]], so a hot bucket's quadratic fan-out is capped
  * at O(maxBucket²) per task and the join partitioning is pinned against
  * AQE's amplification-blind coalescing. Candidate JOINS carry only scalar
  * columns (id, band, bucket, and set sizes as pruning payload) — never the
  * shingle sets or embedding vectors themselves (payload through the banded
  * shuffle is what kills these at 100 TB). Verification attaches per-id
  * state to candidates that are already DEDUPLICATED AND PRUNED, via two
  * skinny equi-joins, and counts set overlap in-row with `array_intersect`
  * ([[verifiedJaccard]]). By volume: the former exploded-relation form
  * moved |cand| × |sh_a| shingles into its second join, plus the exploded
  * (id, shingle) relation twice, plus an aggregate exchange keyed by the
  * pair; the attach form moves the same |cand| × |sh_a| shingles (as
  * arrays) and the sets twice, with no aggregate and no explode.
  * Signatures are pure Catalyst columns (codegen'd); nothing collects to the
  * driver.
  */
object Dedup {

  // Per-id state (shingle sets, signatures) is persisted inside the pair
  // operators because three plan branches read it; the operators return lazy
  // DataFrames, so the caller releases them with [[releaseCaches]] (Bench
  // between queries, Verify after each write). One entry per session and
  // canonicalized plan, the identity Spark's CacheManager caches by, so
  // persisting an already-cached plan again adds nothing to release.
  private val persisted =
    new graft.SessionMemo[org.apache.spark.sql.catalyst.plans.logical.LogicalPlan, DataFrame](
      _.unpersist(false))

  /** Persist `df` and track it for [[releaseCaches]]. A frame already
    * cached is returned as it is: its cache is someone's to release. */
  private[graft] def trackPersist(df: DataFrame): DataFrame =
    if (df.storageLevel != StorageLevel.NONE) df
    else {
      val p = df.persist(StorageLevel.MEMORY_AND_DISK)
      persisted.getOrElseUpdate(p.sparkSession, p.queryExecution.analyzed.canonicalized)(p)
      p
    }

  /** Unpersist every intermediate this session's dedup calls pinned. Safe to
    * call once the returned DataFrames have been materialized (a later action
    * would recompute, not fail). */
  def releaseCaches(spark: org.apache.spark.sql.SparkSession): Unit = persisted.drop(spark)

  /** Heavy per-row signature work must not inherit a single-file scan's
    * partitioning (one parquet file = one partition = one core). Spread to
    * the cluster's default parallelism before computing signatures; the
    * shuffle moves only (id, text) and is trivially repaid. (Unconditional —
    * checking `rdd.getNumPartitions` first would instantiate the physical
    * plan twice.)
    *
    * HASH partitioning on the unique id, not keyless round-robin: a keyless
    * `repartition(n)` first locally SORTS its input rows so retried map
    * tasks reproduce the same row-to-partition assignment
    * (`spark.sql.execution.sortBeforeRepartition`, SPARK-23207) — a
    * payload-row sort per task that at corpus scale is pure overhead.
    * Hashing the id is deterministic without any sort, and ids are unique
    * by contract, so the spread is collision-uniform. Every caller
    * pre-projects to (`id`, payload). */
  private def spread(df: DataFrame): DataFrame =
    df.repartition(df.sparkSession.sparkContext.defaultParallelism, col("id"))

  // ------------------------------ exact ------------------------------------

  /** Exact dedup: representative = min id per content hash, as ONE window
    * pass (`min over (partition by hash)` — the same shape as the DuckDB
    * oracle). The former groupBy+self-join formulation scanned the input
    * twice and paid an aggregate exchange PLUS a join; at corpus scale the
    * reps relation is itself corpus-sized (one row per distinct hash), so
    * the join was a second full shuffle, not a broadcast. One hash exchange
    * + sort replaces both. Output: one row per input row with its cluster
    * representative (min id). */
  def exact(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val h = md5(col(textCol))
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("content_hash"))
    df.select(col(idCol), h.as("content_hash"))
      .select(col(idCol), col("content_hash"), min(col(idCol)).over(w).as("rep_id"))
  }

  /** Bag-of-words dedup: identical sorted-distinct token set ⇒ duplicate
    * (whitespace/ordering-insensitive exact dedup). Key built by the native
    * one-scan [[graft.functions.TextNativeUtil.bowKey]] (the
    * array_sort∘array_distinct∘filter∘split chain ran interpreted, and the
    * join formulation evaluated it up to four times per row —
    * plans/r07/q_dedup_bow_before.txt); same single-window shape as
    * [[exact]]. */
  def bagOfWords(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val key = md5(graft.functions.TextNativeUtil.bowKeyCol(col(textCol)))
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("bow_hash"))
    df.select(col(idCol), key.as("bow_hash"))
      .select(col(idCol), col("bow_hash"), min(col(idCol)).over(w).as("rep_id"))
  }

  // --------------------- shared Jaccard verification -----------------------

  /** Exact Jaccard for deduplicated candidate pairs: each side's (sh, nsh)
    * attaches by id with one equi-join, and |a∩b| is
    * `size(array_intersect(sh_a, sh_b))` — exact because `sh` is
    * `array_distinct` ([[shingleSets]]). Jaccard = inter / (nsh_a + nsh_b −
    * inter); two empty sets are identical (1.0). No explode, no aggregate, no
    * union: every candidate row is verified in place (a zero-overlap pair
    * gets 0), so the result is correct under any threshold filter. The one
    * verification of all four Jaccard paths (the full MinHash and n-gram
    * operators and their incremental deltas).
    *
    * @param cand candidate pairs (id_a, id_b), already deduplicated; other
    *             columns are ignored
    * @param sets per-id state (id, sh: array<string>, nsh: int)
    * @return (id_a, id_b, jaccard) — one row per candidate */
  private[graft] def verifiedJaccard(cand: DataFrame, sets: DataFrame): DataFrame = {
    def side(s: String): DataFrame = sets.select(col("id").as(s"id_$s"),
      col("sh").as(s"sh_$s"), col("nsh").as(s"nsh_$s"))
    val union = col("nsh_a") + col("nsh_b") - col("inter")
    cand.select("id_a", "id_b")
      .join(side("a"), "id_a")
      .join(side("b"), "id_b")
      // two projections, so the ratio reads `inter` as an attribute: one
      // projection would intersect twice per output row (CollapseProject
      // keeps the split — `inter` is non-cheap and referenced twice)
      .select(col("id_a"), col("id_b"), col("nsh_a"), col("nsh_b"),
        size(array_intersect(col("sh_a"), col("sh_b"))).as("inter"))
      .select(col("id_a"), col("id_b"),
        when(col("nsh_a") + col("nsh_b") === 0, 1.0) // both empty ⇒ identical
          .otherwise(col("inter") * lit(1.0) / union).as("jaccard"))
  }

  /** The size prune of every Jaccard join: |a∩b|/|a∪b| ≤ min/max of the
    * set sizes, so a pair whose size ratio is below `threshold` can never
    * verify (the rounded divisions are monotone, so the prune is sound on
    * doubles too). Two empty sets pass (their Jaccard is 1.0); the `when`
    * keeps the division away from a zero maximum. */
  private def sizeRatioAtLeast(threshold: Double): Column = {
    val hi = greatest(col("nsh_a"), col("nsh_b"))
    when(hi === 0, lit(true))
      .otherwise(least(col("nsh_a"), col("nsh_b")) * lit(1.0) / hi >= threshold)
  }

  // ------------------------------ MinHash ----------------------------------

  /** MinHash signature from an ALREADY MATERIALIZED shingle-array column:
    * `numHashes` permutations approximated by seeded murmur3 (standard
    * one-hash-function-per-permutation construction).
    *
    * Taking the shingle column (an attribute reference) instead of the text
    * matters: embedding the shingle-construction subtree here would
    * re-evaluate it once per hash function per row (64× the tokenize/slice
    * work — measured 140 s vs ~4 s on the sf0.1 corpus). */
  def minhashSignature(shingleCol: Column, numHashes: Int = 64): Column = {
    val safe = when(size(shingleCol) === 0, array(lit(""))).otherwise(shingleCol)
    graft.functions.MinHashUtil.minhashSig(safe, numHashes)
  }

  /** Per-id shingle state (id, sh: array<string>, nsh: int) — the shared
    * input of the MinHash signature branch and of [[verifiedJaccard]].
    * Exposed package-private so the incremental dedup operator builds
    * byte-identical state for its equality guarantee. */
  private[graft] def shingleSets(df: DataFrame, idCol: String, textCol: String,
                                 shingleN: Int): DataFrame =
    spread(df.select(col(idCol).as("id"), col(textCol).as("text")))
      .select(col("id"), array_distinct(TextFunctions.shingles(col("text"), shingleN)).as("sh"))
      .withColumn("nsh", size(col("sh")))

  /** LSH band relation (id, [carry…], band, bucket) from shingle state:
    * bucket = hash of the band's signature slice. Only scalar columns ever
    * enter a self-join — `carry` names scalar columns of `sets` that ride
    * along as pruning payload ([[minhashPairs]] carries `nsh`), never the
    * array. Shared with the incremental operator, whose persisted state keeps
    * the plain (id, band, bucket) layout (same expressions ⇒ same buckets ⇒
    * equality by construction). */
  private[graft] def minhashBanded(sets: DataFrame, numHashes: Int, bands: Int,
                                   carry: Seq[String] = Seq.empty): DataFrame = {
    val rowsPerBand = numHashes / bands
    sets
      .withColumn("sig", minhashSignature(col("sh"), numHashes))
      .select((col("id") +: carry.map(col)) :+
        posexplode(transform(sequence(lit(0), lit(bands - 1)),
          b => hash(slice(col("sig"), b * rowsPerBand + 1, lit(rowsPerBand)), b))): _*)
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "bucket")
  }

  /** MinHash + LSH banding: signatures split into `bands` bands of
    * `numHashes/bands` rows; docs sharing any band bucket become candidate
    * pairs; candidates are verified with exact shingle-set Jaccard
    * ([[verifiedJaccard]]) and kept at `threshold`.
    * Returns verified near-duplicate pairs (id_a < id_b, jaccard).
    *
    * The banded self-join runs through [[Blocking.saltedSelfJoin]]: a hot
    * band bucket (a boilerplate duplicate family sharing one signature slice)
    * otherwise concentrates its quadratic candidate fan-out in ONE task —
    * `maxBucket` bounds every task at O(maxBucket²) pairs. The 4-byte `nsh`
    * rides the band rows as payload, so the size prune (min/max ≥ threshold,
    * sound because Jaccard ≤ min/max) filters the band collisions BEFORE the
    * pair dropDuplicates — the SimHash pattern: the dedup exchange shuffles
    * only pairs that can still verify, and verification needs no size
    * re-join. The shingle arrays attach only to the surviving pairs. */
  def minhashPairs(df: DataFrame, idCol: String, textCol: String,
                   shingleN: Int = 3, numHashes: Int = 64, bands: Int = 16,
                   threshold: Double = 0.7, maxBucket: Int = 1000): DataFrame = {
    // per-id shingle state: the signature input and the verification state
    val sets = trackPersist(shingleSets(df, idCol, textCol, shingleN))

    // PERSISTED (skinny: 16 × (id, nsh, band, bucket) rows/doc) because the
    // salted self-join's driver-side hot-key probe plus its two join sides
    // would otherwise re-run the signature computation per consumer.
    val banded = trackPersist(minhashBanded(sets, numHashes, bands, carry = Seq("nsh")))

    val cand = Blocking.saltedSelfJoin(banded, Seq("band", "bucket"), "id",
        Seq("nsh"), maxBucket)
      .filter(sizeRatioAtLeast(threshold))
      .select(col("id_a"), col("id_b"))
      .dropDuplicates("id_a", "id_b") // same pair may collide in several bands

    verifiedJaccard(cand, sets)
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("jaccard"), 6).as("jaccard"))
  }

  /** Near-dup pairs → connected components → one (id, cluster) row per input
    * row; singletons cluster with themselves. Shared tail of every
    * `*Clusters` operator. */
  private def clustersFromPairs(df: DataFrame, idCol: String, pairs: DataFrame): DataFrame = {
    val comps = ConnectedComponents.run(
      pairs.select(col("id_a").as("src"), col("id_b").as("dst")))
    df.select(col(idCol).as("id"))
      .join(comps, Seq("id"), "left")
      .withColumn("cluster", coalesce(col("component"), col("id")))
      .select("id", "cluster")
  }

  /** MinHash dedup to clusters: LSH pairs → connected components → rep ids. */
  def minhashClusters(df: DataFrame, idCol: String, textCol: String,
                      threshold: Double = 0.7): DataFrame =
    clustersFromPairs(df, idCol, minhashPairs(df, idCol, textCol, threshold = threshold))

  /** SimHash dedup to clusters (pairs within `maxHamming` merge). */
  def simhashClusters(df: DataFrame, idCol: String, textCol: String,
                      maxHamming: Int = 3): DataFrame =
    clustersFromPairs(df, idCol, simhashPairs(df, idCol, textCol, maxHamming))

  /** n-gram Jaccard dedup to clusters. */
  def ngramJaccardClusters(df: DataFrame, idCol: String, textCol: String,
                           n: Int = 3, threshold: Double = 0.5): DataFrame =
    clustersFromPairs(df, idCol, ngramJaccardPairs(df, idCol, textCol, n, threshold))

  /** Embedding-cosine dedup to clusters. */
  def embeddingClusters(df: DataFrame, idCol: String, vecCol: String,
                        threshold: Double = 0.95): DataFrame =
    clustersFromPairs(df, idCol, embeddingPairs(df, idCol, vecCol, threshold = threshold))

  // ------------------------------ SimHash ----------------------------------

  /** 64-bit SimHash of the distinct token set: per-bit weighted vote of
    * token xxhash64 values, as the native kernel
    * [[graft.functions.SimHashUtil.simhash]] (the pure-Column HOF formulation
    * runs interpreted and was ~40× slower). */
  def simhash(textCol: Column): Column =
    graft.functions.SimHashUtil.simhash64(textCol)

  /** SimHash band rows (id, sim, band, bucket) — 4×16-bit bands of the 64-bit
    * signature; the 8-byte `sim` rides along so verification needs no re-join.
    * Shared by [[simhashPairs]] and the incremental form
    * ([[graft.streaming.IncrementalDedup.SimHash]]) so the two can never
    * band differently. */
  private[graft] def simhashBanded(df: DataFrame, idCol: String,
                                   textCol: String): DataFrame = {
    val withSim = spread(df.select(col(idCol).as("id"), col(textCol).as("text")))
      .select(col("id"), simhash(col("text")).as("sim"))
    withSim.select(col("id"), col("sim"),
      posexplode(transform(sequence(lit(0), lit(3)),
        b => call_function("shiftright", col("sim"), b * 16).bitwiseAND(0xffffL))))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "bucket")
  }

  /** Candidate generation + Hamming verification over prepared band rows
    * (the shared tail of the full and incremental SimHash operators).
    *
    * The Hamming filter runs BEFORE the pair dropDuplicates: hamming is a
    * pure function of the pair (every band collision of (id_a, id_b) carries
    * the same two sim values), so the two orders are row-identical — and
    * filtering first means the dedup exchange shuffles only the matching
    * pairs instead of every banded collision (at corpus scale the collision
    * set is the dominant relation here; measured 1.19 → 0.93 s at sf0.1). */
  private[graft] def simhashPairsFromBanded(banded: DataFrame, maxHamming: Int,
                                            maxBucket: Int): DataFrame =
    Blocking.saltedSelfJoin(banded, Seq("band", "bucket"), "id", Seq("sim"), maxBucket)
      .select(col("id_a"), col("id_b"),
        bit_count(col("sim_a").bitwiseXOR(col("sim_b"))).as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .dropDuplicates("id_a", "id_b")

  /** SimHash near-dup pairs: block on 16-bit prefix bands (4 bands ⇒ any pair
    * within Hamming distance 3 shares at least one identical band), verify
    * exact Hamming distance ≤ maxHamming. The banded self-join is skew-salted
    * ([[Blocking.saltedSelfJoin]]); the 8-byte `sim` rides as payload —
    * verification is a per-row xor/popcount, no re-join needed. */
  def simhashPairs(df: DataFrame, idCol: String, textCol: String,
                   maxHamming: Int = 3, maxBucket: Int = 1000): DataFrame = {
    // persisted: the salted join's hot probe + both sides would otherwise
    // re-hash every document per consumer (skinny 4-rows/doc relation)
    val banded = trackPersist(simhashBanded(df, idCol, textCol))
    simhashPairsFromBanded(banded, maxHamming, maxBucket)
  }

  // --------------------------- n-gram Jaccard ------------------------------

  /** Exact n-gram Jaccard similarity join via PREFIX FILTERING (PPJoin-style;
    * see the set-similarity-join literature in PAPERS.md).
    *
    * A pair with Jaccard ≥ t must share at least one shingle among either
    * side's prefix of size `|x| - ceil(t·|x|) + 1` when shingles are sorted
    * in a global order. Ordering by ascending corpus frequency makes prefixes
    * the RAREST shingles, so candidate buckets stay tiny even when every
    * document has the same length (a length-bucket scheme degenerates to
    * all-pairs there). The prefix relation is [[frequencyOrderedPrefix]].
    *
    * Beyond the prefix filter this applies the two standard PPJoin prunes
    * BEFORE verification: the size filter (min/max ≥ t) and the POSITIONAL
    * filter — for the first shared prefix shingle at in-doc ranks (ra, rb),
    * overlap ≤ 1 + min(nsh_a − ra, nsh_b − rb), which must reach
    * α = ⌈t/(1+t)·(nsh_a+nsh_b)⌉ (the overlap equivalent of Jaccard ≥ t);
    * ranks follow one global order, so the globally-first shared shingle
    * minimizes BOTH ranks — min(ra)/min(rb) come from the same row and the
    * bound is sound. Verification then intersects each surviving pair's two
    * sets in-row ([[verifiedJaccard]]); the prefix self-join itself carries
    * only (shingle, id, nsh, rk), no arrays.
    *
    * The persisted state is the UNFILTERED [[shingleSets]] relation, the same
    * plan [[minhashPairs]] persists: after a MinHash call on the same input
    * this operator reads MinHash's cache instead of building a second one,
    * and the `nsh > 0` domain filter runs over the cached rows (a filter
    * inside the cached plan would be pushed into the scan, where it builds
    * every document's shingles a second time). */
  def ngramJaccardPairs(df: DataFrame, idCol: String, textCol: String,
                        n: Int = 3, threshold: Double = 0.5,
                        maxBucket: Int = 1000): DataFrame = {
    // prefix filtering is complete only for threshold > 0: a pair sharing
    // no shingle has Jaccard 0 and never meets in a prefix bucket
    require(threshold > 0, "ngramJaccardPairs: threshold must be > 0")
    val sets = trackPersist(shingleSets(df, idCol, textCol, n)).filter(col("nsh") > 0)

    // PERSISTED: the prefix relation (frequency aggregate, join back, rank
    // window) is the most expensive subtree here and feeds the salted join's
    // hot probe plus both join sides — recomputing it per consumer tripled
    // the query.
    val prefix = trackPersist(frequencyOrderedPrefix(sets, threshold))

    verifiedJaccard(ppjoinCandidates(prefix, threshold, maxBucket), sets)
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("jaccard"), 6).as("jaccard"))
  }

  /** PPJoin candidate tail shared by the frequency-ordered full operator and
    * the hash-ordered incremental one: docs sharing any prefix shingle, with
    * the size + positional prunes applied before verification. Both prunes
    * are sound under ANY fixed total order — ranks follow one global order,
    * so the globally-first shared prefix shingle minimizes BOTH ranks and
    * min(ra)/min(rb) come from the same row.
    *
    * The prefix self-join is skew-salted ([[Blocking.saltedSelfJoin]]):
    * frequency-ordered prefixes are the RAREST shingles so hot keys are
    * unlikely by design (hash-ordered prefixes lack even that bias), but an
    * adversarial corpus (one boilerplate phrase in every document's prefix)
    * would otherwise put that shingle's whole quadratic fan-out in one task —
    * and the explicit repartition pin inside saltedSelfJoin also protects
    * this join from AQE's amplification-blind coalescing (the documented
    * 207-s-on-1-task failure mode).
    *
    * @param prefix prefix rows (shingle, id, nsh, rk) ranked under ONE fixed
    *               global shingle order
    * @return deduplicated candidate pairs (id_a, id_b), the input of
    *         [[verifiedJaccard]] */
  private[graft] def ppjoinCandidates(prefix: DataFrame, threshold: Double,
                                      maxBucket: Int): DataFrame = {
    val alpha = ceil(lit(threshold) / (1 + threshold) * (col("nsh_a") + col("nsh_b")))
    Blocking.saltedSelfJoin(prefix, Seq("shingle"), "id", Seq("nsh", "rk"), maxBucket)
      .groupBy(col("id_a"), col("id_b"), col("nsh_a"), col("nsh_b"))
      .agg(min(col("rk_a")).as("ra"), min(col("rk_b")).as("rb"))
      .filter(sizeRatioAtLeast(threshold))
      .filter(lit(1) + least(col("nsh_a") - col("ra"), col("nsh_b") - col("rb")) >= alpha)
      .select("id_a", "id_b")
  }

  /** Prefix rows (shingle, id, nsh, rk) under the corpus-FREQUENCY total
    * order: shingles rank within each document by (f, shingle) ascending,
    * and each document keeps its first `nsh - ceil(nsh·t) + 1`.
    *
    * `f` is counted per 8-byte `xxhash64(shingle)` key, not per shingle
    * string: the aggregate exchange moves (long, count) rows and the join
    * back builds a long-keyed relation, instead of shuffling and hashing
    * every distinct shingle. Without a 64-bit collision `f` is the exact
    * shingle count and the rows are those of a string-keyed count. A
    * collision only merges two shingles' counts; (f, shingle) is then still
    * ONE fixed total order over all shingles — the string breaks every tie —
    * and prefix filtering plus both prunes of [[ppjoinCandidates]] are
    * complete and sound under any fixed total order. Frequency only decides
    * how rare the prefixes are, so the verified pairs cannot change.
    *
    * The exploded rows keep `sets`' id partitioning. When AQE broadcasts
    * the counts (the aggregate's measured size decides), the join back
    * streams those rows and the rank window needs no exchange by id, so the
    * count aggregate is the only shuffle. Long keys also shrink that
    * broadcast relation (4.2 against 18.9 MB on perfbench's `dedup_docs`).
    *
    * @param sets per-id state (id, sh, nsh) with nsh > 0 */
  private[graft] def frequencyOrderedPrefix(sets: DataFrame, threshold: Double): DataFrame = {
    val exploded = sets.select(col("id"), col("nsh"), explode(col("sh")).as("shingle"))
      .withColumn("key", xxhash64(col("shingle")))
    val freq = exploded.groupBy("key").agg(count(lit(1)).as("f"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("id").orderBy(col("f"), col("shingle"))
    exploded.join(freq, "key")
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= col("nsh") - ceil(col("nsh") * threshold) + 1)
      .select(col("shingle"), col("id"), col("nsh"), col("rk"))
  }

  /** Prefix rows under the CONTENT-HASH total order (xxhash64 asc, shingle
    * asc as the collision tie-break): each document's ranked shingle list —
    * hence its prefix — is a pure function of the document alone, never of
    * the corpus. That order stability is what makes an EXACT incremental
    * PPJoin possible ([[graft.streaming.IncrementalDedup.Ngram]]): the
    * prefix-filter completeness lemma holds for ANY fixed total order;
    * frequency ordering is only the pruning heuristic that makes prefixes
    * the rarest shingles. The price is pruning quality — hash order scatters
    * prefixes uniformly instead of picking rare shingles, so candidate
    * volume rises on skew-frequency corpora; the skew-salted self-join still
    * bounds every task at O(maxBucket²), and exact verification keeps the
    * output identical either way.
    *
    * Unlike the frequency path this needs NO corpus aggregate, NO join and
    * NO rank window: the order is computed inside the row (sort the shingle
    * array by hash, slice the prefix, posexplode) — the whole relation is a
    * shuffle-free projection of the sets state. */
  private[graft] def hashOrderedPrefix(sets: DataFrame, threshold: Double): DataFrame = {
    val sorted = transform(
      array_sort(transform(col("sh"), s => struct(xxhash64(s).as("h"), s.as("s")))),
      x => x.getField("s"))
    val plen = (col("nsh") - ceil(col("nsh") * threshold) + 1).cast("int")
    sets.select(col("id"), col("nsh"), posexplode(slice(sorted, lit(1), plen)))
      .select(col("col").as("shingle"), col("id"), col("nsh"),
        (col("pos") + 1).cast("int").as("rk"))
  }

  // ------------------------- embedding cosine ------------------------------

  /** Cosine similarity of two float-array columns — native codegen'd
    * expression ([[graft.functions.CosineSim]]): one fused loop per pair
    * instead of three interpreted zip_with/aggregate folds. */
  def cosine(a: Column, b: Column): Column =
    graft.functions.CosineSim.cosineSim(a, b)

  /** Random-hyperplane signature: bit p of the result is the sign of the
    * projection of `v` onto deterministic hyperplane p (plane weights are
    * ±1 from a hash of (plane, dim) — no RNG state, reproducible anywhere).
    * Native codegen'd expression; see [[graft.functions.HyperplaneSig]]. */
  def hyperplaneSignature(v: Column, planes: Int): Column =
    graft.functions.HyperplaneUtil.hyperplaneSig(v, planes)

  /** Embedding near-dup pairs via BANDED random-hyperplane LSH + exact cosine
    * verification.
    *
    * Banding matters for recall: requiring all `planes` bits equal (round-1
    * design) has collision probability (1−θ/π)^planes — ≈0.58 at cos 0.99 and
    * ≈0.28 at cos 0.95 with 12 planes. With `bands` independent bands of
    * `planes/bands` bits, a pair is a candidate when ANY band matches:
    * 1−(1−p^6)^4 ≈ 0.997 at cos 0.99 and ≈0.95 at cos 0.95 (24 planes,
    * 4×6 default). Exact cosine on the candidates keeps precision exact.
    * The banded self-join carries only (id, band, bucket); vectors are
    * re-attached to the deduplicated pairs by id. */
  def embeddingPairs(df: DataFrame, idCol: String, vecCol: String,
                     planes: Int = 24, bands: Int = 4,
                     threshold: Double = 0.95, maxBucket: Int = 1000): DataFrame = {
    val withSig = trackPersist(embedSigs(df, idCol, vecCol, planes))

    // Banded is persisted for the same probe/branch-reuse reason as the
    // MinHash path (withSig is already cached; this additionally skips
    // re-exploding).
    val banded = trackPersist(embedBanded(withSig, planes, bands))
    val cand = embedCandidates(banded, maxBucket)
    embedVerify(cand, withSig.select(col("id"), col("vec")), threshold)
  }

  /** Per-doc embedding state (id, vec, sig) — the hyperplane signature input
    * to banding. Shared with the incremental form so signatures can never
    * diverge. */
  private[graft] def embedSigs(df: DataFrame, idCol: String, vecCol: String,
                               planes: Int): DataFrame =
    spread(df.select(col(idCol).as("id"), col(vecCol).as("vec")))
      .select(col("id"), col("vec"), hyperplaneSignature(col("vec"), planes).as("sig"))

  /** Hyperplane-LSH band rows (id, band, bucket) from signed projections. */
  private[graft] def embedBanded(withSig: DataFrame, planes: Int,
                                 bands: Int): DataFrame = {
    require(planes % bands == 0, "planes must be divisible by bands")
    val bits = planes / bands
    val mask = (1L << bits) - 1
    withSig.select(col("id"),
      posexplode(transform(sequence(lit(0), lit(bands - 1)),
        b => call_function("shiftright", col("sig"), b * bits).bitwiseAND(mask))))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "bucket")
  }

  /** Skew-salted banded self-join → deduplicated candidate id pairs: an
    * embedding duplicate family shares all band buckets, so without salting
    * one bucket would hold the family's entire quadratic candidate fan-out
    * in a single task. Also the candidate generator of the incremental
    * MinHash family, whose band rows carry no payload
    * ([[graft.streaming.IncrementalDedup.MinHash]]). */
  private[graft] def embedCandidates(banded: DataFrame, maxBucket: Int): DataFrame =
    Blocking.saltedSelfJoin(banded, Seq("band", "bucket"), "id", Seq.empty, maxBucket)
      .select(col("id_a"), col("id_b"))
      .dropDuplicates("id_a", "id_b")

  /** Exact-cosine verification: vectors re-attach to the deduplicated pairs
    * by skinny equi-joins (never through the banded shuffle). */
  private[graft] def embedVerify(cand: DataFrame, vecs: DataFrame,
                                 threshold: Double): DataFrame =
    cand
      .join(vecs.select(col("id").as("id_a"), col("vec").as("vec_a")), "id_a")
      .join(vecs.select(col("id").as("id_b"), col("vec").as("vec_b")), "id_b")
      .select(col("id_a"), col("id_b"), cosine(col("vec_a"), col("vec_b")).as("cos"))
      .filter(col("cos") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("cos"), 6).as("cos"))
}
