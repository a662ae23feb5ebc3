package perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.operators.{Linkage, StaticParser}
import graft.sources.Pages
import graft.streaming.{IncrementalCC, IncrementalLinkage}

/** `IncrementalLinkage.run` with entity state: one micro-batch file at a
  * time, each published only after the previous AvailableNow query
  * terminated. A step is timed from file published to query terminated.
  * With `CompactEvery = 2` the two steps are a delta batch on empty state,
  * then a compaction. */
final class StreamWorkload extends Workload {
  import StreamWorkload._

  val name = "linkage_stream"
  private val cfg = Linkage.Config()

  /** `Steps` micro-batch files and one more for the traced replay: one
    * range partition, hence one parquet file, per batch. Variants of an
    * entity are adjacent ids, so some straddle two batches. */
  def generate(ctx: Ctx, dir: String): (Seq[String], Map[String, Long]) = {
    val spark = ctx.spark
    import spark.implicits._
    val s = ctx.args.size
    val batches = Steps + 1
    val n = batches.toLong * s.streamBatch
    val pool = Pages.streetPoolSize(n / Pages.VariantsPerEntity)
    val seed = ctx.args.seed
    Inputs.write(spark.range(0, n, 1, batches)
      .mapPartitions(_.map(id => Pages.pageOf(seed, id, pool))).toDF(), dir)
    (Inputs.dataFiles(dir).map(_.getPath),
      Map("pages" -> n, "batch_pages" -> s.streamBatch.toLong, "batches" -> batches.toLong))
  }

  private def fileName(b: Int) = f"batch-$b%05d.parquet"

  private var published = 0
  private val progress = mutable.ArrayBuffer[Map[String, Double]]()
  private val seen = mutable.Map[String, Long]()
  private var written = 0L

  /** Bytes of files that appeared or changed in the state directories. */
  private def newlyWritten(ctx: Ctx): Long = {
    val now = Inputs.files(ctx.dir("state")) ++ Inputs.files(ctx.dir("cc"))
    val fresh = now.filter { case (p, len) => !seen.get(p).contains(len) }
    seen ++= fresh
    written += fresh.values.sum
    fresh.values.sum
  }

  private def publishAndRun(ctx: Ctx, inputs: Seq[String]): (Double, Window, Long) = {
    val spark = ctx.spark
    val (_, s, win) = ctx.timed {
      Inputs.publish(inputs(published), ctx.dir("stream-in"), fileName(published))
      val q = IncrementalLinkage.run(spark, ctx.dir("stream-in"), ctx.dir("state"),
        ctx.dir("ckpt"), cfg, compactEvery = CompactEvery,
        entityStateDir = Some(ctx.dir("cc")))
      q.awaitTermination()
      progress += q.recentProgress.toSeq.flatMap(_.durationMs.asScala.toSeq)
        .groupMapReduce(_._1)(_._2.toDouble / 1000)(_ + _)
    }
    val batchId = published.toLong
    published += 1
    (s, win, batchId)
  }

  def measure(ctx: Ctx, inputs: Seq[String]): Unit = {
    ctx.figures("items_per_op") = (ctx.args.size.streamBatch.toDouble, "pages")
    while (published < Steps) {
      val (s, win, batchId) = publishAndRun(ctx, inputs)
      ctx.ops += Op(s, win, newlyWritten(ctx),
        compaction = IncrementalLinkage.compactions(ctx.dir("state")).contains(batchId))
    }
  }

  private def publishedBytes(ctx: Ctx): Double = Inputs.bytes(ctx.dir("stream-in")).toDouble

  /** The maintained scored pairs and entities equal a batch run over the
    * same pages; pairwise F1 of the entities is at least 0.99. */
  def verify(ctx: Ctx, inputs: Seq[String]): Unit = {
    val spark = ctx.spark
    ctx.check("stream_compacted", ctx.ops.exists(_.compaction),
      s"no compaction in ${ctx.ops.size} micro-batches")
    val all = spark.read.parquet(ctx.dir("stream-in"))
    def rows(df: DataFrame): Set[Row] = {
      val cols = df.columns.sorted
      df.select(cols.map(col).toSeq: _*).collect().toSet
    }
    val prepared = Linkage.prepare(all, cfg).persist()
    val scored = Linkage.scored(prepared, cfg).persist()
    val streamed = rows(IncrementalLinkage.loadScoredState(spark, ctx.dir("state")))
    val batch = rows(scored)
    ctx.check("stream_scored_equals_batch", streamed == batch,
      s"${(streamed -- batch).size} pairs only streamed, ${(batch -- streamed).size} only batch")

    val assign = IncrementalCC.loadAssign(spark, ctx.dir("cc"), Long.MaxValue, stringIds = true)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    val batchEnts = Linkage.entitiesFrom(prepared, scored, StaticParser.broadcastIndex(spark))
      .select(col("url"), col("entity_id"), Pages.goldEntityId(col("url")))
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    val differ = batchEnts.count { case (u, e, _) => assign.getOrElse(u, u) != e }
    ctx.check("stream_entities_equal_batch", differ == 0,
      s"$differ of ${batchEnts.length} pages differ")
    val f1 = Truth.pairScore(batchEnts.map { case (u, _, g) => (assign.getOrElse(u, u), g) }.toSeq).f1
    ctx.check("pair_f1_at_least_0.99", f1 >= 0.99, s"pair_f1 = $f1")
    ctx.figures("pair_f1") = (f1, "ratio")
    val inBytes = publishedBytes(ctx)
    ctx.figures("write_amp") = (written / inBytes, "ratio")
    ctx.figures("state_amp") =
      ((Inputs.bytes(ctx.dir("state")) + Inputs.bytes(ctx.dir("cc"))) / inBytes, "ratio")
  }

  def trace(ctx: Ctx, inputs: Seq[String], tr: Tracer): mutable.LinkedHashMap[String, (Double, String)] = {
    val spark = ctx.spark
    val out = mutable.LinkedHashMap[String, (Double, String)]()
    val state = ctx.dir("state")
    val replay = ctx.dir("replay")
    val counts = mutable.Map[String, Long]()
    def materialize(layer: String)(df: => DataFrame): DataFrame = tr.span(layer) {
      val d = df.persist()
      counts(layer) = d.count()
      d
    }
    val lastCompaction = IncrementalLinkage.compactions(state).lastOption
    val live = IncrementalLinkage.committedBatches(state).count(b => lastCompaction.forall(b > _))
    val batch = spark.read.parquet(inputs(published))

    tr.span("stream") {
      val (prevP, prevS) = tr.span("incremental.state_load") {
        val p = IncrementalLinkage.loadPreparedState(spark, state, cfg = cfg).persist()
        val s = IncrementalLinkage.loadScoredState(spark, state).persist()
        p.count(); s.count()
        (p, s)
      }
      val d = tr.span("incremental.delta")(IncrementalLinkage.delta(prevP, batch, cfg))
      materialize("prepare")(d.bPrep)
      materialize("incremental.changed")(d.changed)
      val rescored = materialize("incremental.rescore")(d.rescored)
      tr.span("incremental.state_write") {
        d.bPrep.write.mode("overwrite").parquet(s"$replay/prepared_delta")
        rescored.write.mode("overwrite").parquet(s"$replay/scored_delta")
        d.changed.write.mode("overwrite").parquet(s"$replay/changed")
      }
      materialize("incc.fold") {
        IncrementalCC.step(
          IncrementalCC.loadAssign(spark, ctx.dir("cc"), Long.MaxValue, stringIds = true),
          rescored.filter(col("is_match")).select(col("url_a").as("src"), col("url_b").as("dst"))
        ).assign
      }
      tr.span("incremental.compact") {
        prevP.unionByName(d.bPrep).write.mode("overwrite").parquet(s"$replay/prepared_full")
        prevS.join(d.changed, Seq("block_key"), "left_anti").unionByName(rescored)
          .write.mode("overwrite").parquet(s"$replay/scored_full")
      }
      val urls = batch.select("url").collect().map(_.getString(0)).toSet
      val touching = rescored.select("url_a", "url_b").collect()
        .count(r => urls(r.getString(0)) || urls(r.getString(1)))
      out("prepare.rows_out") = (counts("prepare").toDouble, "count")
      out("incremental.rescored_pairs") = (counts("incremental.rescore").toDouble, "count")
      out("incremental.changed_blocks") = (counts("incremental.changed").toDouble, "count")
      out("incremental.new_pair_ratio") =
        (touching.toDouble / math.max(counts("incremental.rescore"), 1L), "ratio")
    }
    out("prepare.s") = (tr.get("prepare").seconds, "s")
    Seq("delta", "state_load", "state_write", "rescore", "compact").foreach { l =>
      out(s"incremental.${l}_s") = (tr.get(s"incremental.$l").seconds, "s")
    }
    out("incremental.live_deltas") = (live.toDouble, "count")
    out("incc.fold_s") = (tr.get("incc.fold").seconds, "s")
    Seq("addBatch" -> "add_batch", "queryPlanning" -> "query_planning",
        "walCommit" -> "wal_commit", "latestOffset" -> "latest_offset").foreach { case (k, n) =>
      out(s"stream.${n}_s") = (Stats.median(progress.map(_.getOrElse(k, 0.0)).toSeq), "s")
    }
    // the untraced steps' end-to-end figures, for when the stream runs as a
    // companion and has no record of its own
    val (compactions, steps) = ctx.ops.partition(_.compaction)
    out("step_s_p50") = (Stats.median(steps.map(_.seconds).toSeq), "s")
    if (compactions.nonEmpty)
      out("compact_step_s") = (Stats.median(compactions.map(_.seconds).toSeq), "s")
    Seq("pair_f1", "write_amp", "state_amp").foreach(k => out(k) = ctx.figures(k))
    out
  }
}

object StreamWorkload {
  /** Untraced micro-batches per run. */
  val Steps = 2
  /** Every second batch compacts, so a run of `Steps` includes one
    * compaction (the library's default, 8, needs eight batches). */
  val CompactEvery = 2
}
