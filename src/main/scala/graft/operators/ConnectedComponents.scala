package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Iterative DataFrame-based connected components via alternating
  * large-star / small-star (Kiveris et al., "Connected Components in
  * MapReduce and Beyond", SoCC'14 — see PAPERS.md). North-rule operator;
  * the reference has no clustering at all (its `matching/` module is an
  * empty stub, SURVEY.md §0).
  *
  * Everything is expressed as groupBy/min + join — no collect_set, so no
  * per-node neighbor list ever materializes in one task (a celebrity node
  * with 10^8 neighbors would OOM any list-based formulation). Convergence is
  * O(log n) rounds; each round shuffles the (shrinking) edge set.
  * `localCheckpoint` after each round truncates lineage — without it the
  * plan doubles every iteration and the driver dies on plan compilation
  * long before the data hurts.
  */
object ConnectedComponents {

  /** large-star: for every node u, attach all strictly-greater neighbours to
    * m(u) = min(Γ(u) ∪ u). */
  private def largeStar(edges: DataFrame): DataFrame = {
    val sym = edges.select(col("src"), col("dst"))
      .union(edges.select(col("dst").as("src"), col("src").as("dst")))
    val minN = sym.groupBy("src").agg(min(col("dst")).as("mn"))
      .select(col("src"), least(col("src"), col("mn")).as("m"))
    sym.filter(col("dst") > col("src"))
      .join(minN, "src")
      .select(col("dst").as("src"), col("m").as("dst"))
      .distinct()
  }

  /** small-star: orient edges to (u ≥ v); attach each smaller neighbour and u
    * itself to m(u) = min of the smaller neighbours. */
  private def smallStar(edges: DataFrame): DataFrame = {
    val oriented = edges.select(
      greatest(col("src"), col("dst")).as("src"),
      least(col("src"), col("dst")).as("dst"))
    val minN = oriented.groupBy("src").agg(min(col("dst")).as("m"))
    oriented.join(minN, "src")
      .select(col("dst").as("src"), col("m").as("dst"))
      .union(minN.select(col("src"), col("m").as("dst")))
      .filter(col("src") =!= col("dst"))
      .distinct()
  }

  /** Order-free fingerprint of an edge set, used for the convergence test
    * (one small aggregate per round — no edge-set comparison join). */
  private def fingerprint(edges: DataFrame): (Long, Long) = {
    // bit_xor: order-free and overflow-free under ANSI mode (sum of hashes
    // overflows Long); valid as a set fingerprint because edges are distinct.
    val r = edges.agg(
      count(lit(1)).as("n"),
      coalesce(bit_xor(xxhash64(col("src"), col("dst"))), lit(0L)).as("h")).head()
    (r.getLong(0), r.getLong(1))
  }

  /** @param edges DataFrame with `src`, `dst` columns (undirected) of any
    *               orderable type — longs OR strings: min/least/greatest are
    *               type-generic, so node ids can be the url strings
    *               themselves. At 10^12 nodes a 64-bit hash id collides
    *               ~n²/2⁶⁵ ≈ 2.7×10⁴ times, each silently merging two
    *               unrelated entities — carrying the natural string key is
    *               the collision-FREE choice (the shuffle payload grows by
    *               the key width; correctness is not negotiable here). For
    *               string keys at scale prefer [[runOnStrings]], which runs
    *               the iteration on dense dictionary longs instead.
    * @return DataFrame (id, component) covering every node that appears in
    *         `edges`; `component` is the minimum node id of the component.
    * @throws IllegalStateException when `maxIter` rounds do not converge. */
  def run(edges: DataFrame, maxIter: Int = 50,
          onRound: Int => Unit = _ => ()): DataFrame = {
    var e = edges.select(col("src"), col("dst"))
      .filter(col("src") =!= col("dst"))
      .distinct()
      .localCheckpoint()
    var fp = fingerprint(e)
    var converged = false
    var it = 0
    while (!converged && it < maxIter) {
      val next = smallStar(largeStar(e)).localCheckpoint()
      val nfp = fingerprint(next)
      converged = nfp == fp
      fp = nfp
      e = next
      it += 1
      onRound(it) // test seam: inject cache invalidation mid-iteration
    }
    // an unconverged graph is not a star yet: its labels would be wrong
    if (!converged)
      throw new IllegalStateException(s"connected components did not converge in $maxIter rounds")
    // Converged state is a star per component: (member, root). Roots appear
    // only on the dst side; add their self-mapping.
    val members = e.select(col("src").as("id"), col("dst").as("component"))
    val roots = e.select(col("dst").as("id"), col("dst").as("component")).distinct()
    members.union(roots).distinct()
  }

  /** Deterministic dense dictionary over string keys: (id → mid) where
    * mid = prefixOffset(bucket(id)) + rankWithinBucket(id), with
    * bucket(id) = xxhash64(id) mod P. Every term is a PURE FUNCTION of the
    * key set: unlike `monotonically_increasing_id` (whose value depends on
    * which task computes a row, so a lost-block recompute can renumber) —
    * and unlike `spark_partition_id` after a repartition (AQE may lay out
    * partitions differently across executions of the same subtree) —
    * recomputing any partition, on any executor, at any time, yields the
    * SAME mapping. No persist/checkpoint pinning is required for
    * correctness (the persist at the call site is purely a perf hint).
    *
    * Shape at scale: one hash exchange on the bucket column, a
    * within-bucket `row_number` window (hash-uniform buckets — no
    * single-partition window, no skew), and one P-row collect for the
    * prefix offsets (P = shuffle partitions, driver-side cost ~KB). */
  private[graft] def stringDictionary(ids: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val p = ids.sparkSession.sessionState.conf.numShufflePartitions
    // persisted so the subtree (edge scan + union + distinct + window) runs
    // ONCE: the counts collect below materializes it, and the returned dict
    // projection reads the cache instead of re-shuffling the edge set
    val bucketed = ids
      .withColumn("b", pmod(xxhash64(col("id")), lit(p.toLong)))
      .withColumn("rn",
        row_number().over(Window.partitionBy(col("b")).orderBy(col("id"))))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // per-bucket counts → prefix offsets; tiny (≤P rows) and itself
    // deterministic, so the literal map baked here matches ANY re-execution.
    val counts = bucketed.groupBy("b").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).sortBy(_._1)
    var acc = 0L
    val offsets: Map[Long, Long] =
      counts.map { case (b, c) => val o = acc; acc += c; b -> o }.toMap
    val dict = bucketed.select(col("id"),
      (element_at(typedLit(offsets), col("b")) + col("rn") - 1).as("mid"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    dict.count() // materialize from the cached bucketed, then drop the wide cache
    bucketed.unpersist(false)
    dict
  }

  /** Connected components over STRING node ids via a dense dictionary: the
    * O(log n) star iteration shuffles its edge set every round, and an 8-byte
    * dictionary long is ~5× narrower than a url — at 10^12 nodes that is the
    * difference between CC shuffling ~8 TB and ~40 TB per round. The
    * dictionary id is the key's bucket-major dense rank ([[stringDictionary]]):
    * unique by construction (no birthday collisions, unlike a 64-bit hash)
    * AND a pure function of the key set, so executor loss + lineage recompute
    * cannot renumber ids mid-run — the round-2 `monotonically_increasing_id`
    * + persist pinning relied on cache retention, which is best-effort. The
    * representative is re-derived as the MINIMUM member string after the
    * loop, so the output is deterministic and identical to running [[run]]
    * on the strings directly.
    *
    * @param edges (src, dst) string columns.
    * @return (id, component): both strings; component = min member string. */
  def runOnStrings(edges: DataFrame,
                   onRound: Int => Unit = _ => ()): DataFrame = {
    // stringDictionary returns an already-persisted, materialized dict
    val dict = stringDictionary(
      edges.select(col("src").as("id"))
        .union(edges.select(col("dst").as("id")))
        .distinct())

    val midEdges = edges
      .join(dict.select(col("id").as("src"), col("mid").as("msrc")), "src")
      .join(dict.select(col("id").as("dst"), col("mid").as("mdst")), "dst")
      .select(col("msrc").as("src"), col("mdst").as("dst"))
    val comps = run(midEdges, onRound = onRound) // (id: mid, component: mid)

    val members = comps
      .join(dict.select(col("mid").as("id"), col("id").as("member")), "id")
      .select(col("member"), col("component"))
    val reps = members.groupBy("component").agg(min(col("member")).as("rep"))
    val out = members.join(reps, "component")
      .select(col("member").as("id"), col("rep").as("component"))
    // dict stays persisted until LRU eviction as a perf hint only — since
    // mids are sort-rank-derived, eviction/recompute yields the SAME mapping
    out
  }

  /** Connected components of an edge relation whose graph is PARTITIONED by
    * a grouping key — no edge may span two groups. The linkage match graph
    * has this property BY CONSTRUCTION: every record carries exactly one
    * block key and candidate pairs only form inside a block, so components
    * cannot cross blocks. Under that precondition ONE hash exchange on the
    * group key plus an in-task union-find per group replaces the O(log n)
    * alternating-star rounds, each of which shuffles the edge set ~4 times —
    * at 10^12 pages that is one pass over the edges instead of ~20
    * edge-set-sized shuffles. Per-task memory is O(nodes of one group),
    * bounded by block size.
    *
    * The precondition is the caller's to guarantee (a violating edge set
    * silently yields split components) — LinkageSpec proves equality with
    * [[runOnStrings]] on the real match graph; general graphs (e.g. LSH
    * band buckets, where one doc joins several buckets) must use [[run]].
    * `validate = true` turns the silent hazard into a loud one: it counts
    * nodes that appear under more than one group key (the exact way a graph
    * violates block-partitioning — such a node bridges two groups and the
    * grouped union-find would split its true component) and fails fast when
    * any exist. One extra node-set aggregate; off by default for the
    * proven-by-construction pipeline call sites, on for exploratory callers.
    *
    * @param edges (groupCol, src, dst) string columns; no self-loops (the
    *              pair join never emits (x, x) — on a self-loop-only node
    *              this keeps a singleton where the star iteration drops it)
    * @param validate fail fast if any node spans two group keys
    * @return (id, component): component = min member string, identical to
    *         [[runOnStrings]] output under the precondition. */
  def runGrouped(edges: DataFrame, groupCol: String,
                 validate: Boolean = false): DataFrame = {
    import edges.sparkSession.implicits._
    if (validate) {
      val nodes = edges.select(col(groupCol).cast("string").as("g"), col("src").as("id"))
        .union(edges.select(col(groupCol).cast("string").as("g"), col("dst").as("id")))
      val spanning = nodes.groupBy("id").agg(countDistinct(col("g")).as("ng"))
        .filter(col("ng") > 1).count()
      require(spanning == 0,
        s"runGrouped precondition violated: $spanning node(s) appear under more " +
          "than one group key — components would be silently split; use run/" +
          "runOnStrings for graphs that are not partitioned by the group key")
    }
    edges.select(col(groupCol).cast("string"), col("src"), col("dst"))
      .as[(String, String, String)]
      .groupByKey(_._1)
      .flatMapGroups { (_, it) =>
        // union-find with path compression; union-by-min keeps every root
        // the minimum member of its set, so find(x) IS the representative
        val parent = scala.collection.mutable.HashMap[String, String]()
        def find(x: String): String = {
          var r = x
          while (parent(r) != r) r = parent(r)
          var c = x
          while (parent(c) != r) { val n = parent(c); parent(c) = r; c = n }
          r
        }
        it.foreach { case (_, a, b) =>
          if (!parent.contains(a)) parent(a) = a
          if (!parent.contains(b)) parent(b) = b
          val ra = find(a); val rb = find(b)
          if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
        }
        parent.keysIterator.map(k => (k, find(k))).toSeq
      }.toDF("id", "component")
  }
}
