package perfbench

import scala.collection.mutable

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.RunLinkage
import graft.operators.{ConnectedComponents, Linkage, Scoring, StaticParser}
import graft.plans.{ResumableLinkage, Snapshots}
import graft.sources.{Gazetteer, Pages}

/** `RunLinkage.runFromArgs` on a fresh snapshot root per operation, over the
  * standard synthetic pages with the default config: no block reaches
  * `maxBlock`. `boilerplate` adds entities with `HotVariants` variants each
  * (a chain store's footer) and lowers `maxBlock` to `SkewMaxBlock`, so the
  * blocking layer's salted join runs on hot keys. */
final class LinkageWorkload(val name: String, boilerplate: Boolean) extends Workload {
  import LinkageWorkload._

  private val cfg =
    if (boilerplate) Linkage.Config(maxBlock = SkewMaxBlock) else Linkage.Config()

  private def pageCount(s: Size): Long =
    if (boilerplate) s.skewPages + s.hotEntities * HotVariants else s.pages

  /** The stream's micro-batches cost too much to be a workload of their own
    * within the benchmark's time budget; its layers are traced here. */
  override val companions: Seq[Workload] = Seq(new StreamWorkload)

  def generate(ctx: Ctx, dir: String): (Seq[String], Map[String, Long]) = {
    val s = ctx.args.size
    val df =
      if (boilerplate) Inputs.skewedPages(ctx.spark, s.skewPages, s.hotEntities, HotVariants, ctx.args.seed)
      else Pages.synthesize(ctx.spark, s.pages, ctx.args.seed).toDF()
    Inputs.write(df, s"$dir/pages")
    (Seq(s"$dir/pages"), Map("pages" -> pageCount(s)))
  }

  private var runs = 0
  private var lastRoot = ""
  private val stageSeconds = mutable.Map[String, mutable.ArrayBuffer[Double]]()

  private def runOnce(ctx: Ctx, in: String): Op = {
    val root = ctx.dir(s"snapshots-$runs")
    runs += 1
    val (rows, s, win) = ctx.timed(RunLinkage.runFromArgs(ctx.spark,
      Array(in, root, cfg.threshold.toString, cfg.maxBlock.toString)))
    val written = Inputs.bytes(root)
    checkOutput(ctx, root, rows)
    Snapshots.metrics(ctx.spark, root).select("stage", "seconds").collect().foreach { r =>
      stageSeconds.getOrElseUpdate(r.getString(0), mutable.ArrayBuffer()) += r.getDouble(1)
    }
    if (lastRoot.nonEmpty) Inputs.delete(lastRoot)
    lastRoot = root
    Op(s, win, written)
  }

  def measure(ctx: Ctx, inputs: Seq[String]): Unit = {
    val in = inputs.head
    ctx.figures("items_per_op") = (pageCount(ctx.args.size).toDouble, "pages")
    runOnce(ctx, in) // warm-up
    stageSeconds.clear()
    ctx.loop(ctx.measureSeconds)(runOnce(ctx, in))
  }

  private val f1s = mutable.ArrayBuffer[Double]()

  /** Every operation's committed entities: one row per page, and pairwise
    * F1 against the gold entity in the url at least 0.99. */
  private def checkOutput(ctx: Ctx, root: String, rows: Long): Unit = {
    val snap = Snapshots.committedSnaps(root, "entities").last
    val ents = ctx.spark.read.parquet(Snapshots.dataPath(root, "entities", snap))
      .select(col("entity_id"), Pages.goldEntityId(col("url")).as("gold"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    val pages = ctx.inputRows("pages")
    ctx.check("entities_one_row_per_page", rows == pages && ents.size == pages,
      s"$rows committed rows, ${ents.size} read back, $pages pages")
    val f1 = Truth.pairScore(ents).f1
    f1s += f1
    ctx.check("pair_f1_at_least_0.99", f1 >= 0.99, s"pair_f1 = $f1")
  }

  def verify(ctx: Ctx, inputs: Seq[String]): Unit = {
    ctx.check("pair_f1_repeats", f1s.distinct.size == 1, s"pair_f1 varies across runs: $f1s")
    ctx.figures("pair_f1") = (f1s.last, "ratio")
    val inBytes = Inputs.bytes(inputs.head).toDouble
    ctx.figures("write_amp") = (Stats.median(ctx.ops.map(_.written / inBytes).toSeq), "ratio")
    if (lastRoot.nonEmpty) Inputs.delete(lastRoot)
  }

  def trace(ctx: Ctx, inputs: Seq[String], tr: Tracer): mutable.LinkedHashMap[String, (Double, String)] = {
    val spark = ctx.spark
    val out = mutable.LinkedHashMap[String, (Double, String)]()
    val pages = spark.read.parquet(inputs.head)
    val root = ctx.dir("trace-snapshots")
    val fp = ResumableLinkage.fingerprint(inputs.head, cfg)
    def commit(df: DataFrame, stage: String): Unit =
      tr.span(s"snapshots.commit.$stage")(Snapshots.commit(df, root, stage, fp))
    var rounds = 0
    val counts = mutable.Map[String, Long]()
    def materialize(layer: String)(df: => DataFrame): DataFrame = tr.span(layer) {
      val d = df.persist()
      counts(layer) = d.count()
      d
    }

    tr.span("linkage") {
      materialize("extract")(Linkage.extract(pages, cfg))
      val prepared = materialize("prepare")(Linkage.prepare(pages, cfg))
      commit(prepared, "prepared")
      val cand = tr.span("blocking.plan")(Linkage.candidates(prepared, cfg))
      materialize("blocking")(cand)
      val scored = materialize("scoring")(Scoring.scoreDF(cand, cfg.threshold))
      commit(scored, "scored")
      val comps = materialize("cc")(ConnectedComponents.runOnStrings(
        scored.filter(col("is_match")).select(col("url_a").as("src"), col("url_b").as("dst")),
        _ => rounds += 1))
      commit(comps, "components")
      val bIdx = tr.span("parser.index") {
        spark.sparkContext.broadcast(Gazetteer.buildIndex(Gazetteer.rows))
      }
      val ents = materialize("parser") {
        val withEntity = prepared
          .join(comps.withColumnRenamed("id", "url"), Seq("url"), "left")
          .withColumn("entity_id", coalesce(col("component"), col("url")))
          .select("url", "extracted", "entity_id")
        StaticParser.parse(withEntity, "extracted", bIdx)
          .select("url", "entity_id", "province", "district", "neighbourhood")
      }
      commit(ents, "entities")

      // layer figures, computed after the layer spans close
      val keyed = prepared.select(col("block_key"), Pages.goldEntityId(col("url")))
        .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
      val sizes = keyed.filter(_._1.nonEmpty).groupBy(_._1).values.map(_.size)
      val n = keyed.size.toLong
      val matches = scored.filter(col("is_match")).count()
      val compSizes = comps.groupBy("component").count().collect().map(_.getLong(1))
      val resolved = ents.filter(col("province").isNotNull).count()
      Seq("extract", "prepare", "blocking", "scoring", "parser").foreach { l =>
        out(s"$l.rows_out") = (counts(l).toDouble, "count")
      }
      out("blocking.max_block") = (sizes.maxOption.getOrElse(0).toDouble, "count")
      out("blocking.hot_keys") = (sizes.count(_ > cfg.maxBlock).toDouble, "count")
      out("blocking.reduction_ratio") = (1 - counts("blocking") / Stats.choose2(n), "ratio")
      // gold same-entity pairs among the candidates caps recall; among the
      // matches, it splits a recall loss between blocking and scoring
      val sameGold = Pages.goldEntityId(col("url_a")) === Pages.goldEntityId(col("url_b"))
      val goldPairs = keyed.groupBy(_._2).values.map(g => Stats.choose2(g.size)).sum
      val goldCands = cand.filter(sameGold).count()
      val goldMatches = scored.filter(col("is_match") && sameGold).count()
      out("blocking.pair_completeness") = (goldCands / math.max(goldPairs, 1.0), "ratio")
      out("scoring.match_ratio") = (matches.toDouble / math.max(counts("blocking"), 1L), "ratio")
      out("scoring.pair_recall") = (goldMatches.toDouble / math.max(goldCands, 1L), "ratio")
      out("cc.rounds") = (rounds.toDouble, "count")
      // pages without a match are singleton entities of their own
      out("cc.components") = (compSizes.length + (n - compSizes.sum).toDouble, "count")
      out("cc.max_component") = (compSizes.maxOption.getOrElse(1L).toDouble, "count")
      out("parser.resolved_ratio") = (resolved.toDouble / n, "ratio")
      out("snapshots.written_mb") = (Inputs.bytes(root) / 1e6, "MB")
    }
    Seq("extract", "prepare", "blocking.plan", "blocking", "scoring", "cc", "parser.index",
      "parser").foreach(l => out(s"$l.s") = (tr.get(l).seconds, "s"))
    Seq("blocking", "scoring").foreach(l => out(s"$l.task_skew") = (tr.get(l).window.taskSkew, "ratio"))
    Seq("blocking", "cc").foreach(l => out(s"$l.shuffle_mb") = (tr.get(l).window.shuffleMb, "MB"))
    out("snapshots.commit_s") = (tr.spans.filter(_.name.startsWith("snapshots.commit.")).map(_.seconds).sum, "s")
    stageSeconds.toSeq.sortBy(_._1).foreach { case (stage, xs) =>
      out(s"runlinkage.${stage}_s") = (Stats.median(xs.toSeq), "s")
    }
    Inputs.delete(root)
    if (lastRoot.nonEmpty) Inputs.delete(lastRoot)
    out
  }
}

object LinkageWorkload {
  /** `maxBlock` of the skewed workload: the default, 1,000, would need
    * blocks of over 1,000 pages. */
  val SkewMaxBlock = 150
  /** Variants of each boilerplate entity: one block above `SkewMaxBlock`. */
  val HotVariants = 160
}
