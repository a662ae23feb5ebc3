package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.operators.{Linkage, Scoring}

/** Incremental linkage over a stream of page micro-batches: each batch
  * re-pairs and re-scores ONLY the blocks it touches, carrying every other
  * block's scored pairs forward untouched.
  *
  * Scale rationale: a naive streaming design re-runs the full pair join per
  * batch — O(total²/blocks) work for a batch that touched 0.01% of blocks.
  * Here the per-batch COMPUTE is bounded by Σ(touched block)², independent of
  * the accumulated corpus size; untouched blocks cost one anti-join probe.
  * Within a touched block old×old pairs are re-scored along with new pairs —
  * redundant but bounded (the scorer is linear in pairs) and it keeps the
  * state model trivial: "every block scored as of its last touch".
  *
  * The streaming driver persists the state on the shared
  * [[PersistedDeltas]] layout, so the per-batch WRITE is O(delta) too. Its
  * roles are `prepared` (the batch's prepared rows), `scored` (the touched
  * blocks' re-scored pairs) and `changed` (the touched block keys — tiny).
  * Prepared rows are append-only and fold by union; scored state folds by
  * last touch: a block's pairs come from the latest part whose `changed`
  * holds it ([[loadScoredState]]). A compaction base is that fold written
  * out, with `changed` = every known block.
  */
object IncrementalLinkage {

  case class Step(prepared: DataFrame, scored: DataFrame,
                  changedBlocks: Long, pairsRescored: Long)

  /** The per-batch increment: the batch's prepared rows, the touched block
    * keys, and the re-scored pairs of the touched blocks. */
  case class Delta(bPrep: DataFrame, changed: DataFrame, rescored: DataFrame)

  /** Compute one batch's delta against the accumulated prepared state. */
  def delta(prevPrepared: DataFrame, batch: DataFrame,
            cfg: Linkage.Config = Linkage.Config()): Delta = {
    val bPrep = Linkage.prepare(batch, cfg)
    val changed = bPrep.select("block_key").distinct()
    // records that participate in re-pairing: the batch + every existing
    // record in a touched block (left-semi: key-colocated probe, no payload)
    val affected = prevPrepared
      .join(changed, Seq("block_key"), "left_semi")
      .unionByName(bPrep)
    val rescored = Scoring.scoreDF(
      graft.operators.Blocking.candidatePairs(
        affected, "block_key", "url", payloadCols = Seq("canon"), cfg.maxBlock),
      cfg.threshold)
    Delta(bPrep, changed, rescored)
  }

  /** One incremental step with in-memory state (the batch-equality surface;
    * the streaming driver below persists deltas instead of merged state).
    *
    * @param prevPrepared accumulated prepared records (empty on first batch)
    * @param prevScored   accumulated scored pairs (empty on first batch)
    * @param batch        the new micro-batch of raw pages
    */
  def step(prevPrepared: DataFrame, prevScored: DataFrame, batch: DataFrame,
           cfg: Linkage.Config = Linkage.Config()): Step = {
    val d = delta(prevPrepared, batch, cfg)
    // untouched blocks keep their pairs verbatim (anti-join on the key)
    val kept = prevScored.join(d.changed, Seq("block_key"), "left_anti")
    // bookkeeping counts folded into ONE action (two 1-row aggregates meet
    // in a cross join — a single driver round-trip per micro-batch)
    val stats = d.changed.agg(count(lit(1)).as("cb"))
      .crossJoin(d.rescored.agg(count(lit(1)).as("pr"))).head()
    Step(prevPrepared.unionByName(d.bPrep), kept.unionByName(d.rescored),
      stats.getLong(0), stats.getLong(1))
  }

  private def emptyPages(spark: SparkSession): DataFrame =
    spark.createDataFrame(new java.util.ArrayList[org.apache.spark.sql.Row](),
      StreamingIngest.pageSchema)

  private def emptyScored(spark: SparkSession): DataFrame = {
    import spark.implicits._
    spark.emptyDataset[graft.operators.ScoredPair].toDF()
  }

  // ----------------------------- state layout ------------------------------

  private val Log = new PersistedDeltas(Seq("prepared", "scored", "changed"), { parts =>
    def tagged(role: Int) = parts.zipWithIndex
      .map { case (p, i) => p(role).withColumn("part", lit(i)) }.reduce(_ unionByName _)
    val lastTouch = tagged(2).groupBy("block_key").agg(max(col("part")).as("part"))
    Seq(parts.map(_.head).reduce(_ unionByName _),
      tagged(1).join(lastTouch, Seq("block_key", "part")).drop("part"),
      parts.map(_(2)).reduce(_ unionByName _).distinct())
  })

  /** Committed plain-delta batches still present, ascending. */
  def committedBatches(stateDir: String): Seq[Long] = PersistedDeltas.committedBatches(stateDir)

  /** Committed compaction base batches, ascending. */
  def compactions(stateDir: String): Seq[Long] = PersistedDeltas.compactions(stateDir)

  /** Accumulated prepared state before `beforeBatch`: prepared rows are
    * append-only (a page belongs to exactly one batch), so the state is the
    * plain union of the base and the live deltas. */
  def loadPreparedState(spark: SparkSession, stateDir: String,
                        beforeBatch: Long = Long.MaxValue,
                        cfg: Linkage.Config = Linkage.Config()): DataFrame =
    Log.load(spark, stateDir, beforeBatch).map(_.head)
      .getOrElse(Linkage.prepare(emptyPages(spark), cfg))

  /** Accumulated scored state before `beforeBatch`: last-touch merge — a
    * block's pairs come from the latest part whose `changed` set contains
    * the block (later touches fully re-score a block, superseding earlier
    * pairs). One small join against the per-block max-part map; no
    * full-state rewrite ever happened to produce it. */
  def loadScoredState(spark: SparkSession, stateDir: String,
                      beforeBatch: Long = Long.MaxValue): DataFrame =
    Log.load(spark, stateDir, beforeBatch).map(_(1)).getOrElse(emptyScored(spark))

  /** Streaming driver: file-source pages stream → foreachBatch incremental
    * delta; state is per-batch delta parquet + periodic compaction (see
    * class doc), so a restart resumes from the last committed batch
    * (checkpoint tracks which input files are consumed — exactly-once per
    * batch) and per-batch state I/O is O(delta), not O(corpus).
    *
    * With `entityStateDir` set, each batch ALSO folds its re-scored MATCH
    * edges into a persisted [[IncrementalCC]] assignment there — the full
    * production composition (pages → touched-block re-scoring → maintained
    * entity clusters) in one exactly-once foreachBatch. Sound because
    * scoring is deterministic over immutable records: a touched block
    * re-emits its old matches verbatim (idempotent no-ops for the CC fold)
    * and never retracts one. Query the maintained entities with
    * [[IncrementalCC.loadAssign]] (string ids = urls). */
  def run(spark: SparkSession, inDir: String, stateDir: String,
          checkpoint: String, cfg: Linkage.Config = Linkage.Config(),
          compactEvery: Int = 8,
          entityStateDir: Option[String] = None): StreamingQuery = {
    entityStateDir.foreach(PersistedDeltas.checkLayout)
    Log.run(StreamingIngest.readPages(spark, inDir), stateDir, checkpoint, compactEvery,
      sp => {
        val prepared = Linkage.prepare(emptyPages(sp), cfg)
        Seq(prepared, emptyScored(sp), prepared.select("block_key"))
      },
      andThen = (sp, batchId, frames) => entityStateDir.foreach { ccDir =>
        // the CC fold sees only this batch's re-scored matches: old matches
        // of untouched blocks are already in the assignment, and a touched
        // block's re-emitted matches are idempotent no-ops. The edges come
        // from the batch's persisted scored delta, so the fold's several
        // evaluations of its edge input re-run no touched-block re-scoring.
        IncrementalCC.persistCcStep(sp, ccDir, batchId,
          frames(1).filter(col("is_match"))
            .select(col("url_a").as("src"), col("url_b").as("dst")),
          stringIds = true, compactEvery)
      }) { case (batch, Seq(prevPrepared, _, _)) =>
      // persisted in role order, so the batch's prepared rows are cached
      // before the re-scored and changed frames that read them
      val d = delta(prevPrepared, batch, cfg)
      Seq(d.bPrep, d.rescored, d.changed)
    }
  }
}
