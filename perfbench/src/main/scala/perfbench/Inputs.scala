package perfbench

import java.io.File
import java.nio.file.{Files, Path, StandardCopyOption}
import java.security.MessageDigest

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.sources.{Page, Pages}

/** Seeded input generation. Every row is a pure function of (seed, id), so
  * the same seed regenerates byte-identical parquet. The library sees only
  * the written files. */
object Inputs {

  // ------------------------------- pages -----------------------------------

  /** `n` ordinary pages (`Pages.VariantsPerEntity` variants per entity, the
    * default street pool) plus `hotEntities` × `hotVariants` boilerplate pages:
    * one address repeated on many pages, like a chain store's footer. Hot
    * entity ids follow the ordinary ones, so urls stay unique and the gold
    * entity stays readable from the url. */
  def skewedPages(spark: SparkSession, n: Long, hotEntities: Int, hotVariants: Int,
                  seed: Long): DataFrame = {
    import spark.implicits._
    val nEntities = n / Pages.VariantsPerEntity
    val pool = Pages.streetPoolSize(nEntities + hotEntities)
    val plain = spark.range(n).mapPartitions(_.map(id => Pages.pageOf(seed, id, pool)))
    val hot = spark.range(hotEntities.toLong * hotVariants).mapPartitions(_.map { i =>
      hotPage(seed, nEntities + i / hotVariants, i % hotVariants, pool)
    })
    plain.union(hot).toDF()
  }

  private def hotPage(seed: Long, e: Long, v: Long, pool: Int): Page = {
    val ent = Pages.entityOf(seed, e, pool)
    val id = (1L << 40) + e * 1000000L + v // rng stream disjoint from page ids
    val addr = Pages.addressVariant(seed, id, ent)
    val pre = Pages.fillerText(seed, id, 20, 3 + ((Pages.rng(seed, id, 21) >>> 1) % 5).toInt)
    val post = Pages.fillerText(seed, id, 22, 3 + ((Pages.rng(seed, id, 23) >>> 1) % 5).toInt)
    val text = s"$pre Adres: $addr Tel: 0${(Pages.rng(seed, id, 24) >>> 1) % 1000000000L} $post"
    val url = f"https://example.test/e$e%07d/v$v"
    val ts = new java.sql.Timestamp(1768435200000L + (v % 86400L) * 1000L)
    Page(url, ts, s"<html><body><p>$text</p></body></html>".getBytes("UTF-8"), text, "tr")
  }

  // ----------------------------- documents ---------------------------------

  /** Vocabulary in the style of the catalog's documents table, widened with
    * suffixed forms: over the 40 base words alone, random documents share
    * most of their distinct tokens, so the number of SimHash pairs within
    * Hamming 3 (and the work to find them) swings from seed to seed. */
  val Vocab: IndexedSeq[String] = {
    val base = IndexedSeq(
      "a", "the", "spark", "stream", "batch", "table", "row", "column", "key",
      "value", "hash", "join", "sort", "merge", "group", "agg", "filter", "scan",
      "query", "window", "order", "part", "line", "customer", "vector", "data",
      "fast", "slow", "big", "small", "index", "page", "shard", "node", "cache",
      "plan", "task", "stage", "block", "file")
    for (suffix <- IndexedSeq("", "s", "ed", "er", "ing"); w <- base) yield w + suffix
  }

  final case class Doc(doc_id: Long, text: String, lang: String, source: String, n_chars: Long)

  /** A planted near-duplicate pair, `a < b` like the operators' `id_a <
    * id_b`; `exact` twins are byte-identical. */
  final case class Planted(a: Long, b: Long, exact: Boolean)

  /** `n` documents: 90% random word sequences, the rest twins of earlier
    * documents, half exact copies and half one-word edits whose word-3-gram
    * Jaccard is at least 0.85. Returns the documents and the planted pairs. */
  def docs(spark: SparkSession, n: Int, seed: Long): (DataFrame, Seq[Planted]) = {
    import spark.implicits._
    val base = n - n / 10
    val twins = n - base
    def words(id: Long, len: Int): Array[String] =
      Array.tabulate(len)(k => Pages.pick(Vocab, seed, id, 1000L + k))
    val texts = Array.tabulate(base) { i =>
      // sources of one-word edits are long enough to keep Jaccard >= 0.85
      val len = if (i >= twins / 2 && i < twins) 40 + (Pages.rng(seed, i, 1) >>> 1) % 31
                else 15 + (Pages.rng(seed, i, 1) >>> 1) % 56
      words(i, len.toInt)
    }
    val planted = (0 until twins).map { j =>
      val src = j
      val exact = j < twins / 2
      val t = texts(src).clone()
      if (!exact) {
        val pos = 1 + ((Pages.rng(seed, j, 2) >>> 1) % (t.length - 2)).toInt
        t(pos) = Vocab.filterNot(_ == t(pos))(((Pages.rng(seed, j, 3) >>> 1) % (Vocab.size - 1)).toInt)
      }
      (Planted(src, base + j, exact), t)
    }
    val all = texts.toSeq ++ planted.map(_._2)
    val rows = all.zipWithIndex.map { case (ws, i) =>
      val text = ws.mkString(" ")
      Doc(i, text, Seq("en", "fr", "de", "zh")(i % 4), s"src${i % 7}", text.length)
    }
    val pairs = planted.map(_._1)
    pairs.filterNot(_.exact).foreach { p =>
      require(Truth.jaccard(all(p.a.toInt).mkString(" "), all(p.b.toInt).mkString(" ")) >= 0.85,
        s"planted near-duplicate ${p.a}/${p.b} is not near enough")
    }
    (spark.createDataset(rows).toDF(), pairs)
  }

  // ------------------------------- files -----------------------------------

  /** Write `df` as parquet; part files are numbered by partition, so the
    * sorted listing is a stable order for hashing. */
  def write(df: DataFrame, dir: String): Unit =
    df.write.mode("overwrite").parquet(dir)

  def dataFiles(dir: String): Seq[File] =
    Option(new File(dir).listFiles()).toSeq.flatten
      .filter(f => f.isFile && f.getName.endsWith(".parquet")).sortBy(_.getName)

  /** sha256 over the bytes of the given parquet files, or of the data files
    * of the given directories in name order (part files are named by
    * partition number, then one uuid per write). */
  def sha256(paths: Seq[String]): String = {
    val md = MessageDigest.getInstance("SHA-256")
    paths.map(new File(_)).flatMap(p => if (p.isFile) Seq(p) else dataFiles(p.getPath))
      .foreach(f => md.update(Files.readAllBytes(f.toPath)))
    md.digest().map("%02x".format(_)).mkString
  }

  def bytes(path: String): Long = {
    val f = new File(path)
    if (!f.exists()) 0L
    else if (f.isFile) f.length()
    else Option(f.listFiles()).toSeq.flatten.map(c => bytes(c.getPath)).sum
  }

  /** Every regular file under `path` with its size (crc side files too). */
  def files(path: String): Map[String, Long] = {
    val f = new File(path)
    if (!f.exists()) Map.empty
    else if (f.isFile) Map(f.getPath -> f.length())
    else Option(f.listFiles()).toSeq.flatten.flatMap(c => files(c.getPath)).toMap
  }

  def delete(path: String): Unit = {
    val f = new File(path)
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.foreach(c => delete(c.getPath))
    f.delete()
  }

  /** Atomically publish the parquet file `staged` into `dir` as `name` (a
    * file source must never see a half-written file; names starting with a
    * dot are hidden from it). */
  def publish(staged: String, dir: String, name: String): Unit = {
    new File(dir).mkdirs()
    val tmp: Path = new File(dir, s".$name.tmp").toPath
    Files.copy(new File(staged).toPath, tmp, StandardCopyOption.REPLACE_EXISTING)
    Files.move(tmp, new File(dir, name).toPath, StandardCopyOption.ATOMIC_MOVE)
  }
}
