package graft

import org.apache.spark.sql.SparkSession

/** spark-submit entry point for the full resumable linkage pipeline
  * (the north rule's operational surface):
  *
  * {{{
  * spark-submit --class graft.RunLinkage <jar> \
  *   <pagesParquetDir> <snapshotRoot> [threshold=0.85] [maxBlock=1000]
  * }}}
  *
  * Reads the Common-Crawl-style pages table (url, warc_ts, html, text, lang)
  * from parquet, runs prepare → score → cluster → entities with per-stage
  * snapshot commits ([[plans.ResumableLinkage]]; clustering is the
  * one-shuffle per-block union-find), and prints the metrics table. That
  * table is a view over the stage manifests: each commit runs no Spark job
  * besides its data write, and `partitions` counts the data files each
  * stage committed. Resume after failure = re-submit with the same
  * arguments: committed stages are read back, not recomputed. The session
  * is launcher-first ([[Sessions.local]] yields to spark-submit's
  * --master/--conf); in-sandbox runs get the tuned local[k] defaults.
  */
object RunLinkage {

  /** Testable core: run against a provided session, return the committed
    * entity rows. The count is the entities manifest's `rows` (the sum of
    * its files' footer row counts), so no Spark job runs after the last
    * stage's write; a re-submit on a fully committed root runs only the
    * input's schema read. */
  def runFromArgs(spark: SparkSession, args: Array[String]): Long = {
    require(args.length >= 2,
      "usage: RunLinkage <pagesParquetDir> <snapshotRoot> [threshold] [maxBlock]")
    val inDir = args(0)
    val root = args(1)
    val cfg = operators.Linkage.Config(
      threshold = args.lift(2).map(_.toDouble).getOrElse(0.85),
      maxBlock = args.lift(3).map(_.toInt).getOrElse(1000))
    val pages = spark.read.parquet(inDir)
    val bIdx = operators.StaticParser.broadcastIndex(spark)
    plans.ResumableLinkage.runCommitted(spark, pages, pagesId = inDir, root, bIdx, cfg).rows
  }

  def main(args: Array[String]): Unit = {
    val spark = Sessions.local("graft-linkage",
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
    val n = runFromArgs(spark, args)
    println(s"GRAFT_LINKAGE_DONE rows=$n root=${args(1)}")
    plans.Snapshots.metrics(spark, args(1)).show(50, truncate = false)
    spark.stop()
  }
}
