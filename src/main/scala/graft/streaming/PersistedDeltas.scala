package graft.streaming

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType

import graft.operators.Dedup
import graft.plans.{Snapshots, StateFs}

/** The persisted-delta state every streaming state shares
  * ([[IncrementalDedup]]'s four families, [[IncrementalLinkage]],
  * [[IncrementalCC]]): per-batch deltas, a periodic compaction base, and GC.
  * A batch commits by a manifest written last, with the codec and writer of
  * [[graft.plans.Snapshots]]. A module supplies its role names and how its
  * state folds; this owns the layout, the commit order and the crash
  * argument.
  *
  * Layout: a state dir holds one `batch=N` dir per batch. Batch N writes its
  * frame for each role `r` into `batch=N/r`, then publishes
  * `batch=N/manifest.json` LAST (tmp + rename to a fresh name). The manifest
  * records each role's rows and schema, and whether the batch is a
  * compaction base. It lists no files: a stream batch is small, and its
  * manifest's bytes count against the batch's write amplification.
  *  - A batch is committed iff its manifest exists. Role dirs without one (a
  *    crash mid-batch) are read by no one; the re-delivered batch overwrites
  *    them.
  *  - A committed batch is never rewritten. foreachBatch re-delivers a batch
  *    whose checkpoint commit crashed: if its manifest exists it writes
  *    nothing, but still computes its delta frames for `andThen`.
  *  - A plain batch holds its delta. Every `compactEvery` live batches, the
  *    batch holds the base instead: the fold of the prior state with its own
  *    delta, and no plain delta.
  *  - The state before batch B is `fold([latest base < B] ++ plain deltas
  *    after it and before B)`, ascending, read with the recorded schemas (no
  *    inference job). One rename moves a reader from the state before a
  *    batch to the state after it, so a reader between any two writes sees a
  *    committed state, never a batch's rows twice or half of them.
  *  - GC runs at the start of a later batch, never in the batch that wrote
  *    the base: a re-delivered base batch recomputes its delta from the
  *    pre-batch state. It deletes each batch dir below the latest base
  *    before the current batch, manifest first, so a half-deleted dir is
  *    uncommitted, and it lies below the base every reader starts from.
  *
  * Any other non-hidden entry of a state dir fails loudly, naming the dir:
  * the round-2 `r_N` dirs, the per-role delta, base and marker dirs of the
  * previous engine, or anything else. There is no migration.
  *
  * @param fold the state of ascending parts, each one frame per role: a base
  *             (itself a folded state) or a delta. A single part is the state.
  */
private[streaming] final class PersistedDeltas(roles: Seq[String],
    fold: Seq[Seq[DataFrame]] => Seq[DataFrame]) {
  import PersistedDeltas._

  private def read(spark: SparkSession, dir: String, b: Batch): Seq[DataFrame] =
    roles.map(r => spark.read.schema(b.schemas(r)).parquet(s"${batchDir(dir, b.id)}/$r"))

  private def folded(ps: Seq[Seq[DataFrame]]): Seq[DataFrame] =
    if (ps.size == 1) ps.head else fold(ps)

  /** The state before `beforeBatch`; None when nothing has committed. */
  def load(spark: SparkSession, dir: String, beforeBatch: Long): Option[Seq[DataFrame]] =
    Some(live(dir, beforeBatch).map(read(spark, dir, _))).filter(_.nonEmpty).map(folded)

  /** One batch: GC, load the prior state (or `empties`) and compute the
    * delta frames `deltaOf(prev)`, each persisted once. Unless the batch is
    * committed already, write them (or, on the cadence, the base folded from
    * them) and publish the manifest. Returns the delta frames. */
  def persistStep(spark: SparkSession, dir: String, batchId: Long, compactEvery: Int,
                  empties: => Seq[DataFrame])(
                  deltaOf: Seq[DataFrame] => Seq[DataFrame]): Seq[DataFrame] = {
    val ps = live(dir, batchId)
    ps.headOption.filter(_.base).foreach(b => gc(dir, b.id))
    val prev = if (ps.isEmpty) empties else folded(ps.map(read(spark, dir, _)))
    val delta = deltaOf(prev).map(Dedup.trackPersist)
    val out = batchDir(dir, batchId)
    if (!StateFs.exists(out, "manifest.json")) {
      val base = compactEvery > 0 && ps.count(!_.base) + 1 >= compactEvery
      val m = Snapshots.Json.createObjectNode().put("batch", batchId).put("base", base)
      val tables = m.putArray("roles")
      roles.zip(if (base) fold(Seq(prev, delta)) else delta).foreach { case (r, df) =>
        val rows = Snapshots.writeData(df, s"$out/$r").map(_._2).sum
        Snapshots.putTable(tables.addObject().put("role", r), rows, Some(df.schema))
      }
      Snapshots.publishManifest(out, m)
    }
    delta
  }

  /** The streaming driver of every module: check `dir`'s layout, then per
    * micro-batch commit `deltaOf(batch, prev)`, hand the delta frames to
    * `andThen` (a composed second state) and release Dedup's tracked caches.
    * AvailableNow: a run consumes what is in the input and stops; the
    * checkpoint's file ledger makes each batch exactly-once across restarts. */
  def run(stream: DataFrame, dir: String, checkpoint: String, compactEvery: Int,
          empties: SparkSession => Seq[DataFrame],
          andThen: (SparkSession, Long, Seq[DataFrame]) => Unit = (_, _, _) => ())(
          deltaOf: (DataFrame, Seq[DataFrame]) => Seq[DataFrame]): StreamingQuery = {
    checkLayout(dir)
    stream.writeStream
      .foreachBatch { (batch: Dataset[Row], batchId: Long) =>
        val sp = batch.sparkSession
        andThen(sp, batchId,
          persistStep(sp, dir, batchId, compactEvery, empties(sp))(deltaOf(batch.toDF(), _)))
        Dedup.releaseCaches(sp)
      }
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .start()
  }
}

private[streaming] object PersistedDeltas {
  private val Prefix = "batch="

  /** A committed batch: whether it is a base, and each role's schema. */
  private case class Batch(id: Long, base: Boolean, schemas: Map[String, StructType])

  private def batchDir(dir: String, n: Long) = s"$dir/$Prefix$n"

  /** Ids of `dir`'s batch dirs, committed or not, ascending. Any other
    * non-hidden entry is of an older layout, and fails. */
  private def batchIds(dir: String): Seq[Long] = {
    val names = StateFs.listNames(dir).filterNot(n => n.startsWith(".") || n.startsWith("_"))
    val other = names.filter(StateFs.numericSuffix(_, Prefix).isEmpty)
    if (other.nonEmpty) throw new IllegalStateException(
      s"state dir $dir holds ${other.sorted.mkString(", ")}, which this version's " +
        s"layout (one $Prefix<N> dir per batch) does not read: an older state layout?")
    names.flatMap(StateFs.numericSuffix(_, Prefix)).sorted
  }

  /** Fail on a state dir of an older layout before a stream starts. */
  def checkLayout(dir: String): Unit = batchIds(dir)

  private def committed(dir: String): Seq[Batch] =
    batchIds(dir).filter(n => StateFs.exists(batchDir(dir, n), "manifest.json")).map { n =>
      val m = Snapshots.readJson(batchDir(dir, n))
      Batch(n, m.get("base").asBoolean, m.get("roles").asScala.map { t =>
        t.get("role").asText -> Snapshots.schemaOf(t).get
      }.toMap)
    }

  /** The committed batches the state before `beforeBatch` folds: the latest
    * base before it, then the plain deltas after that base. */
  private def live(dir: String, beforeBatch: Long): Seq[Batch] = {
    val before = committed(dir).filter(_.id < beforeBatch)
    before.drop(math.max(before.lastIndexWhere(_.base), 0))
  }

  /** Delete every batch dir below `base`, each manifest first. */
  private def gc(dir: String, base: Long): Unit =
    batchIds(dir).filter(_ < base).foreach { n =>
      StateFs.deleteRecursive(batchDir(dir, n), "manifest.json")
      StateFs.deleteRecursive(dir, s"$Prefix$n")
    }

  /** Committed base batches, ascending. */
  def compactions(dir: String): Seq[Long] = committed(dir).filter(_.base).map(_.id)

  /** Committed plain-delta batches still present, ascending. */
  def committedBatches(dir: String): Seq[Long] = committed(dir).filterNot(_.base).map(_.id)

  /** The fold of append-only states: per role, the union of every part. */
  def union(parts: Seq[Seq[DataFrame]]): Seq[DataFrame] =
    parts.transpose.map(_.reduce(_ unionByName _))
}
