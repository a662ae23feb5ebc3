package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, Trigger}
import org.apache.spark.sql.types._

import graft.operators.Linkage

/** Structured-Streaming ingest for the pages table.
  *
  * The reference's only streaming shape is chunked-CSV iteration with an
  * incremental append sink (ner_address_parser.py:132-153,183-214 — E7/E8);
  * its Spark-native form is a file-source stream: each arriving parquet file
  * is a micro-batch, the stateless extract/normalize/block transforms run
  * per batch, and the sink appends — same bounded-memory contract, plus
  * exactly-once via checkpointing, which the reference lacks.
  *
  * `blockStats` adds the genuinely stateful operator (windowed aggregation
  * with watermark over `warc_ts`) the north-star tier expects: per-hour
  * per-block page counts that a downstream incremental linkage job can
  * consume to decide which blocks need re-pairing.
  */
object StreamingIngest {

  /** Schema of the pages table (BASELINE.json input_hint). */
  val pageSchema: StructType = StructType(Seq(
    StructField("url", StringType), StructField("warc_ts", TimestampType),
    StructField("html", BinaryType), StructField("text", StringType),
    StructField("lang", StringType)))

  /** File-source stream of pages from a directory of parquet files. */
  def readPages(spark: SparkSession, dir: String): DataFrame =
    spark.readStream.schema(pageSchema).parquet(dir)

  /** Schema of the documents table (driver testdata shape). */
  val docSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType),
    StructField("lang", StringType), StructField("source", StringType),
    StructField("n_chars", LongType)))

  /** File-source stream of documents ([[graft.streaming.IncrementalDedup]]). */
  def readDocs(spark: SparkSession, dir: String): DataFrame =
    spark.readStream.schema(docSchema).parquet(dir)

  /** File-source stream of (id, float-vector) rows — the embedding-dedup
    * ingest shape ([[IncrementalDedup.Embed]]). */
  def readVecs(spark: SparkSession, dir: String,
               idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame =
    spark.readStream.schema(StructType(Seq(
      StructField(idCol, LongType),
      StructField(vecCol, ArrayType(FloatType))))).parquet(dir)

  /** File-source stream of undirected edges (src, dst) — the
    * cluster-maintenance ingest shape ([[IncrementalCC.run]]); long node
    * ids by default, strings (urls) with `stringIds`. */
  def readEdges(spark: SparkSession, dir: String,
                stringIds: Boolean = false): DataFrame = {
    val t = if (stringIds) StringType else LongType
    spark.readStream.schema(StructType(Seq(
      StructField("src", t), StructField("dst", t)))).parquet(dir)
  }

  /** Stateless per-batch transform: extract → normalize → block key, i.e.
    * [[Linkage.prepare]] without the scorer's `canon` column (column pruning
    * drops its computation). */
  def prepared(pages: DataFrame, cfg: Linkage.Config = Linkage.Config()): DataFrame =
    Linkage.prepare(pages, cfg).drop("canon")

  /** Stateful: per-hour per-block arrival counts with a 2-hour watermark. */
  def blockStats(prepared: DataFrame): DataFrame =
    prepared
      .withWatermark("warc_ts", "2 hours")
      .groupBy(window(col("warc_ts"), "1 hour"), col("block_key"))
      .agg(count(lit(1)).as("n_pages"))
      .select(col("window.start").as("bucket"), col("block_key"), col("n_pages"))

  /** Append sink writing prepared pages as parquet micro-batches. */
  def writePrepared(prepared: DataFrame, outDir: String, checkpoint: String): DataStreamWriter[org.apache.spark.sql.Row] =
    prepared.writeStream
      .format("parquet")
      .option("path", outDir)
      .option("checkpointLocation", checkpoint)
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
}
