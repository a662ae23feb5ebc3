package graft.streaming

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

import graft.operators.{ConnectedComponents, Dedup}

/** Incremental connected components over an APPEND-ONLY edge stream — the
  * cluster-maintenance half of continuous dedup/entity-resolution: the
  * incremental pair operators ([[IncrementalDedup]], [[IncrementalLinkage]])
  * keep the match/near-dup PAIRS current per batch, and this keeps the
  * (id, component) assignment current without re-running components over the
  * accumulated edge set.
  *
  * Why an exact incremental form exists at all: new edges can only MERGE
  * components, never split them (edges are never retracted). So a batch's
  * entire effect on the partition is captured by the CONTRACTED graph — map
  * each batch endpoint to its current component label and connect those
  * labels. Running the full star-iteration operator on that contracted
  * relation (≤ 2·|batch| nodes, independent of the accumulated graph) yields
  * exactly the label merges the batch causes; everything else is label
  * substitution.
  *
  * Label invariant: `component` is the MINIMUM member id of its component
  * (the [[ConnectedComponents.run]] convention). It survives merging by
  * construction — every label is its component's min member, so the min over
  * merged labels IS the min over the merged membership. This is what makes
  * the accumulated state row-identical to a full recompute, not merely the
  * same partition under different names.
  *
  * Per-batch cost at scale: one STREAMED pass of the assignment through a
  * left-semi endpoint lookup whose build side is the batch's node set (the
  * assignment is never the build side and never shuffles — see the
  * build-side note in [[delta]]), a star iteration over the contracted
  * graph (tiny for steady-state batches; gracefully degrades to the full
  * operator's cost when the "batch" IS the corpus, e.g. a bulk load), and
  * one label-substitution join against the assignment keyed on `component`
  * — the remap side is ≤ 2·|batch| rows, which Catalyst's size estimation
  * (or AQE at runtime) broadcasts for steady-state batches, leaving the
  * assignment unshuffled; the full scan of the assignment is the price of a
  * MATERIALIZED assignment (the alternative — folding remap deltas at read
  * time, which the streaming driver's persisted layout does between
  * compactions — trades it for read amplification).
  *
  * Unlike the dedup states there is NO disjointness precondition: edges may
  * be re-delivered, duplicate, span batches arbitrarily, or connect nodes
  * both already present — a duplicate edge contracts to a self-loop and is
  * dropped, so the step is idempotent on re-delivered input. That
  * idempotence is what makes the LINKAGE composition sound, not just the
  * dedup one: [[IncrementalLinkage]] re-scores every pair of a touched
  * block, but scoring is deterministic over immutable records, so a
  * re-scored old match re-emits VERBATIM (an idempotent no-op here) and is
  * never retracted — feeding each batch's `rescored.filter(is_match)` edges
  * into [[step]] maintains the entity assignment exactly
  * (IncrementalCcSpec "maintains linkage entities").
  */
object IncrementalCC {

  /** `assign` is the maintained (id, component) state; the counts are
    * observability only (labels retired by merges, nodes first seen). */
  case class Step(assign: DataFrame, labelsRetired: Long, newNodes: Long)

  /** Empty assignment with id/component typed like `edges`' endpoints
    * (type-generic: longs or strings, matching [[ConnectedComponents.run]]). */
  def empty(edgesLike: DataFrame): DataFrame =
    edgesLike.select(col("src").as("id"), col("src").as("component")).limit(0)

  /** A batch's entire effect on the assignment, in O(batch) rows: labels
    * retired by merges (`remap`: old label → merged label) and first-seen
    * nodes under their merged labels (`fresh`). [[applyDelta]] folds it into
    * any assignment; the streaming driver persists exactly these two frames
    * per batch. */
  case class Delta(remap: DataFrame, fresh: DataFrame,
                   labelsRetired: Long, newNodes: Long)

  /** One incremental step: fold `edges` (src, dst) into the `prev`
    * assignment. Returns the updated assignment plus merge/insert counts.
    *
    * Equality guarantee (IncrementalCcSpec): after any batch split of an
    * edge set, `assign` is row-identical to
    * `ConnectedComponents.run(allEdges)`.
    *
    * Precondition: `prev` carries min-member component labels (the output
    * of [[ConnectedComponents.run]]/`runOnStrings` or of this step). */
  def step(prev: DataFrame, edges: DataFrame): Step = {
    val d = delta(prev, edges)
    Step(applyDelta(prev, d), d.labelsRetired, d.newNodes)
  }

  /** The batch increment against the `prev` assignment (see [[step]]). */
  def delta(prev: DataFrame, edges: DataFrame): Delta = {
    val e = edges.select(col("src"), col("dst")).filter(col("src") =!= col("dst"))

    // current component of every batch endpoint; a first-seen node is its
    // own component. Persisted: feeds the contraction (twice) and the
    // new-node insert. BUILD-SIDE discipline: a LeftOuter lookup
    // `nodes.join(prev, "left")` would build/shuffle the ASSIGNMENT (outer
    // joins build right) — instead the assignment streams once through a
    // left-semi whose build side is the batch's node set, and the found
    // O(batch) rows drive everything else.
    val nodes = e.select(col("src").as("id"))
      .union(e.select(col("dst").as("id"))).distinct()
    val found = Dedup.trackPersist(prev.join(nodes, Seq("id"), "left_semi"))
    val looked = Dedup.trackPersist(
      found.select(col("id"), col("component").as("comp0"),
          lit(true).as("existed"))
        .unionByName(nodes.join(found.select("id"), Seq("id"), "left_anti")
          .select(col("id"), col("id").as("comp0"), lit(false).as("existed"))))

    // the contracted graph: batch edges lifted to component labels; an edge
    // inside one existing component contracts to a dropped self-loop
    val compEdges = e
      .join(looked.select(col("id").as("src"), col("comp0").as("ca")), "src")
      .join(looked.select(col("id").as("dst"), col("comp0").as("cb")), "dst")
      .select(col("ca").as("src"), col("cb").as("dst"))
      .filter(col("src") =!= col("dst"))

    // star iteration on ≤ 2·|batch| contracted nodes; labels that survive
    // map to themselves and need no remap row.
    // localCheckpoint (EAGER) on both O(batch) delta frames, not a mere
    // persist: the fold's lineage embeds `prev` through looked/found, so an
    // un-truncated assignment would carry the whole prior fold's plan
    // multiple times PER STEP — exponential logical-plan growth that OOMs
    // plan-string generation after a handful of batches (caught by the
    // 5-seed fold test). Checkpointed, each step adds one join + one union.
    val remap = ConnectedComponents.run(compEdges)
      .filter(col("id") =!= col("component"))
      .select(col("id").as("component"), col("component").as("newComp"))
      .localCheckpoint()

    val fresh = looked.filter(!col("existed"))
      .join(remap.withColumnRenamed("component", "comp0"), Seq("comp0"), "left")
      .select(col("id"),
        coalesce(col("newComp"), col("comp0")).as("component"))
      .localCheckpoint()

    // observability counts folded into one action over the checkpointed
    // (already materialized) delta frames
    val r = remap.agg(count(lit(1)).as("m"))
      .crossJoin(fresh.agg(count(lit(1)).as("n"))).head()
    Delta(remap, fresh, r.getLong(0), r.getLong(1))
  }

  /** Label substitution over the assignment (the remap side is ≤ 2·|batch|
    * rows → broadcast; the assignment is never shuffled) plus the batch's
    * first-seen nodes. */
  def applyDelta(prev: DataFrame, d: Delta): DataFrame =
    prev.join(d.remap, Seq("component"), "left")
      .select(col("id"),
        coalesce(col("newComp"), col("component")).as("component"))
      .unionByName(d.fresh)

  /** Retract nodes from the assignment — the takedown path a production
    * pipeline needs beside the append-only [[step]]. Removing a node can
    * SPLIT its component, which no label algebra fixes in place, but the
    * damage is confined: only components CONTAINING a retracted node can
    * change (an untouched component cannot contain a retracted label either
    * — its label is its min member). So the recompute runs only on the
    * affected components' REMAINING edges; every other row passes through
    * untouched. Survivors of an affected component that lose all their
    * edges stay in the assignment as their own singleton components (they
    * were seen; they are merely unlinked now).
    *
    * @param assign the maintained (id, component) state (min-member labels)
    * @param edges  the ACCUMULATED edge relation (e.g. the persisted pair
    *               deltas of [[IncrementalDedup]], or the linkage scored
    *               state filtered to matches) — CC state alone cannot split;
    *               cost is one scan of it plus CC over the affected
    *               subgraph, never the full graph
    * @param ids    nodes to retract (column `id`). Evaluated by SEVERAL join
    *               branches (affected probe, survivor filter) — pass a
    *               deterministic or persisted frame (the saltedSelfJoin
    *               precondition); a nondeterministic sample could retract
    *               different ids in different branches */
  def retract(assign: DataFrame, edges: DataFrame, ids: DataFrame): DataFrame = {
    val rid = ids.select(col("id"))
    // localCheckpoint (eager) the two small driver frames: the result embeds
    // `assign` once (in keep) instead of four times — the same
    // exponential-lineage hazard the step's delta frames guard against
    val affected = assign.join(rid, Seq("id"), "left_semi")
      .select(col("component")).distinct().localCheckpoint()
    val keep = assign.join(affected, Seq("component"), "left_anti")
    // members of affected components that survive the retraction
    val survivors = assign.join(affected, Seq("component"), "left_semi")
      .join(rid, Seq("id"), "left_anti")
      .select(col("id")).localCheckpoint()
    val subEdges = edges
      .select(col("src"), col("dst")).filter(col("src") =!= col("dst"))
      .join(survivors.select(col("id").as("src")), Seq("src"), "left_semi")
      .join(survivors.select(col("id").as("dst")), Seq("dst"), "left_semi")
    val recomputed = Dedup.trackPersist(ConnectedComponents.run(subEdges))
    val singletons = survivors.join(recomputed, Seq("id"), "left_anti")
      .select(col("id"), col("id").as("component"))
    // the key join moved `component` first — restore (id, component) order
    keep.select(col("id"), col("component"))
      .unionByName(recomputed.select(col("id"), col("component")))
      .unionByName(singletons)
  }

  // ------------------------- persisted state layout -------------------------
  // The streaming drivers persist the assignment on the shared
  // [[PersistedDeltas]] layout with roles `remap` and `fresh` (one batch's
  // [[Delta]]). UNLIKE the dedup families it does not fold by union: remaps
  // are label SUBSTITUTIONS that compose in batch order, so the fold applies
  // the parts ascending. A compaction base is the delta that takes the empty
  // assignment to the folded one: no remap rows, `fresh` = the assignment.

  private val Log = new PersistedDeltas(Seq("remap", "fresh"), { parts =>
    Seq(parts.head.head.limit(0), parts.tail.foldLeft(parts.head(1)) { (assign, p) =>
      applyDelta(assign, Delta(p.head, p(1), 0L, 0L))
    })
  })

  def ccCommittedBatches(stateDir: String): Seq[Long] = PersistedDeltas.committedBatches(stateDir)

  def ccCompactions(stateDir: String): Seq[Long] = PersistedDeltas.compactions(stateDir)

  /** Assignment state before `beforeBatch`: the last compacted assignment
    * (empty when none) with every later committed delta folded in ascending
    * batch order — ≤ compactEvery−1 chained substitutions per read. */
  def loadAssign(spark: SparkSession, stateDir: String,
                 beforeBatch: Long, stringIds: Boolean = false): DataFrame =
    Log.load(spark, stateDir, beforeBatch).map(_(1))
      .getOrElse(emptyAssign(spark, stringIds))

  private def emptyAssign(spark: SparkSession, stringIds: Boolean): DataFrame = {
    val t = if (stringIds) StringType else LongType
    spark.createDataFrame(new java.util.ArrayList[Row](),
      StructType(Seq(StructField("id", t), StructField("component", t))))
  }

  /** The empty (remap, fresh) prior state of a first batch. */
  private def empties(spark: SparkSession, stringIds: Boolean): Seq[DataFrame] = {
    val assign = emptyAssign(spark, stringIds)
    Seq(assign.select(col("id").as("component"), col("component").as("newComp")), assign)
  }

  /** The batch's (remap, fresh) against the prior state. The prior
    * assignment is pinned: the delta's endpoint lookup and a compaction
    * batch's folded write (the same plan, so it hits the cache) both read
    * the fold of the base and up to compactEvery−1 substitutions. */
  private def deltaFrames(prev: Seq[DataFrame], edges: DataFrame): Seq[DataFrame] = {
    val d = delta(Dedup.trackPersist(prev(1)), edges)
    Seq(d.remap, d.fresh)
  }

  /** The per-batch persisted-state body of a composed driver
    * ([[IncrementalLinkage.run]]'s `entityStateDir`): fold the batch's edges
    * and commit the O(delta) remap/fresh deltas, compacting on cadence. A
    * re-delivered batch (the caller's checkpoint crashed mid-commit) writes
    * only if its manifest is missing, from the same prior state. */
  private[streaming] def persistCcStep(sp: SparkSession, stateDir: String, batchId: Long,
      edges: DataFrame, stringIds: Boolean, compactEvery: Int): Unit =
    Log.persistStep(sp, stateDir, batchId, compactEvery, empties(sp, stringIds))(
      deltaFrames(_, edges))

  /** Streaming driver: file-source edge stream → foreachBatch incremental
    * delta (the [[IncrementalDedup.run]] shape with the CC fold). Per-batch
    * state I/O is O(delta); a compaction batch additionally writes the
    * folded O(state) assignment. Restart resumes from the checkpoint's
    * consumed-file ledger — exactly-once per batch. */
  def run(spark: SparkSession, inDir: String, stateDir: String, checkpoint: String,
          stringIds: Boolean = false, compactEvery: Int = 8): StreamingQuery =
    Log.run(StreamingIngest.readEdges(spark, inDir, stringIds), stateDir, checkpoint,
      compactEvery, empties(_, stringIds))((batch, prev) => deltaFrames(prev, batch))
}
