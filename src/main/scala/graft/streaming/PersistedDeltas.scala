package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.operators.Dedup
import graft.plans.StateFs

/** The persisted-delta state layout every streaming state shares
  * ([[IncrementalDedup]]'s four families, [[IncrementalLinkage]],
  * [[IncrementalCC]]): per-batch deltas, a periodic compaction base, and GC.
  * A module supplies its role names and how its state folds; this owns the
  * directory names, the commit order and the crash argument.
  *
  * Layout of a state dir, for each role `r`:
  *  - `r_delta_N`: batch N's plain delta. Batch N is committed once every
  *    role dir has `_SUCCESS`; a batch missing one is ignored.
  *  - every `compactEvery` live batches, batch N also writes the fold of the
  *    prior state with its own delta (read back from the just-written delta
  *    parquet, which truncates the plan) into `cbase_r_delta_N`, then
  *    publishes the empty `compacted_N` marker LAST (tmp + rename).
  *  - the state before batch B is `fold([latest base < B] ++ committed
  *    deltas after it and before B)`, ascending. The base's own delta is not
  *    live once its marker exists; before that, the older base plus the
  *    plain deltas is the same state. So a reader between any two writes
  *    sees the correct state, never the pre-batch rows twice.
  *  - GC runs at the start of a later batch, never in the batch that wrote
  *    the marker: foreachBatch re-delivers a batch whose commit crashed, and
  *    re-running it needs its pre-batch inputs. It deletes the deltas up to
  *    and including the base, then older bases, then their markers.
  *
  * An older layout fails loudly instead of loading as partial or empty
  * state: a `r_N` full-rewrite dir (round-2 linkage), or a marker whose base
  * dirs are incomplete (the earlier linkage and CC layouts compacted into
  * other dirs). There is no migration.
  *
  * @param fold the state of ascending parts, each one frame per role: a base
  *             (itself a folded state) or a delta. A single part is the state.
  */
private[streaming] final class PersistedDeltas(roles: Seq[String],
    fold: Seq[Seq[DataFrame]] => Seq[DataFrame]) {
  import PersistedDeltas._

  private def delta(role: String) = s"${role}_delta_"
  private def base(role: String) = s"cbase_${delta(role)}"

  /** Batch ids whose every role dir has `_SUCCESS`, ascending. */
  def committedBatches(dir: String): Seq[Long] =
    StateFs.listNames(dir).flatMap(StateFs.numericSuffix(_, delta(roles.head)))
      .filter(b => roles.forall(r => StateFs.exists(dir, s"${delta(r)}$b/_SUCCESS")))
      .sorted

  /** The latest compaction base before `beforeBatch`, its dirs checked. */
  private def latestBase(dir: String, beforeBatch: Long): Option[Long] = {
    val b = compactions(dir).filter(_ < beforeBatch).lastOption
    b.foreach { n =>
      val missing = roles.map(r => s"${base(r)}$n")
        .filterNot(d => StateFs.exists(dir, s"$d/_SUCCESS"))
      if (missing.nonEmpty) throw new IllegalStateException(
        s"state dir $dir: marker $Marker$n lacks ${missing.mkString(", ")} " +
          "(an older state layout); refusing to load partial state")
    }
    b
  }

  private def read(spark: SparkSession, dir: String, prefix: String => String,
                   b: Long): Seq[DataFrame] =
    roles.map(r => spark.read.parquet(s"$dir/${prefix(r)}$b"))

  /** Batch `b`'s plain delta frames, in role order. */
  def readDelta(spark: SparkSession, dir: String, b: Long): Seq[DataFrame] =
    read(spark, dir, delta, b)

  /** The parts the state before `beforeBatch` folds, and how many of them
    * are live deltas. */
  private def parts(spark: SparkSession, dir: String,
                    beforeBatch: Long): (Seq[Seq[DataFrame]], Int) = {
    val b = latestBase(dir, beforeBatch)
    val live = committedBatches(dir).filter(n => n < beforeBatch && b.forall(n > _))
    (b.map(read(spark, dir, base, _)).toSeq ++ live.map(readDelta(spark, dir, _)),
      live.size)
  }

  private def folded(ps: Seq[Seq[DataFrame]]): Seq[DataFrame] =
    if (ps.size == 1) ps.head else fold(ps)

  /** The state before `beforeBatch`; None when nothing has committed. */
  def load(spark: SparkSession, dir: String, beforeBatch: Long): Option[Seq[DataFrame]] =
    Some(parts(spark, dir, beforeBatch)._1).filter(_.nonEmpty).map(folded)

  /** Fail on dirs of the round-2 full-rewrite layout (`r_N`). */
  private def checkLayout(dir: String): Unit = {
    val older = StateFs.listNames(dir)
      .filter(n => roles.exists(r => StateFs.numericSuffix(n, s"${r}_").isDefined))
    if (older.nonEmpty) throw new IllegalStateException(
      s"state dir $dir holds ${older.sorted.mkString(", ")} from an older " +
        "state layout, which this version does not read")
  }

  private def gc(dir: String, currentBatch: Long): Unit =
    latestBase(dir, currentBatch).foreach { n =>
      val names = StateFs.listNames(dir)
      def below(prefixes: Seq[String], limit: Long) = names.filter(name =>
        prefixes.exists(p => StateFs.numericSuffix(name, p).exists(_ < limit)))
      (below(roles.map(delta), n + 1) ++ below(roles.map(base), n) ++
        below(Seq(Marker), n)).foreach(StateFs.deleteRecursive(dir, _))
    }

  /** One batch's commit: GC, load the prior state (or `empties`), write the
    * plain delta `deltaOf(prev)`, and on the cadence the base and marker. */
  def persistStep(spark: SparkSession, dir: String, batchId: Long, compactEvery: Int,
                  empties: => Seq[DataFrame])(deltaOf: Seq[DataFrame] => Seq[DataFrame]): Unit = {
    gc(dir, batchId)
    val (ps, live) = parts(spark, dir, batchId)
    val prev = if (ps.isEmpty) empties else folded(ps)
    roles.zip(deltaOf(prev)).foreach { case (r, df) =>
      df.write.mode("overwrite").parquet(s"$dir/${delta(r)}$batchId")
    }
    if (compactEvery > 0 && live + 1 >= compactEvery) {
      roles.zip(fold(Seq(prev, readDelta(spark, dir, batchId)))).foreach { case (r, df) =>
        df.write.mode("overwrite").parquet(s"$dir/${base(r)}$batchId")
      }
      StateFs.publish(dir, s"$Marker$batchId", Array.empty[Byte])
    }
  }

  /** The streaming driver of every module: check `dir`'s layout, then per
    * micro-batch commit `deltaOf(batch, prev)`, run `andThen` (a composed
    * second state) and release Dedup's tracked caches. AvailableNow: a run
    * consumes what is in the input and stops; the checkpoint's file ledger
    * makes each batch exactly-once across restarts. */
  def run(stream: DataFrame, dir: String, checkpoint: String, compactEvery: Int,
          empties: SparkSession => Seq[DataFrame],
          andThen: (SparkSession, Long) => Unit = (_, _) => ())(
          deltaOf: (DataFrame, Seq[DataFrame]) => Seq[DataFrame]): StreamingQuery = {
    checkLayout(dir)
    stream.writeStream
      .foreachBatch { (batch: Dataset[Row], batchId: Long) =>
        val sp = batch.sparkSession
        persistStep(sp, dir, batchId, compactEvery, empties(sp))(deltaOf(batch.toDF(), _))
        andThen(sp, batchId)
        Dedup.releaseCaches(sp)
      }
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .start()
  }
}

private[streaming] object PersistedDeltas {
  private val Marker = "compacted_"

  /** Committed compaction markers, ascending (a `.tmp` left by a crash
    * before the publish rename is not a marker). */
  def compactions(dir: String): Seq[Long] =
    StateFs.listNames(dir).flatMap(StateFs.numericSuffix(_, Marker)).sorted

  /** The fold of append-only states: per role, the union of every part. */
  def union(parts: Seq[Seq[DataFrame]]): Seq[DataFrame] =
    parts.transpose.map(_.reduce(_ unionByName _))
}
