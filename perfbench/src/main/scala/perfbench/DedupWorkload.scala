package perfbench

import scala.collection.mutable

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.{SimHashUtil, TextFunctions}
import graft.operators.Dedup

/** The three near-duplicate families over one seeded document set with
  * planted twins: `minhashPairs(0.5)`, `simhashPairs(maxHamming = 3)` and
  * `ngramJaccardPairs(0.8)`. One operation runs all three. */
final class DedupWorkload extends Workload {
  val name = "dedup_docs"
  val MinhashT = 0.5
  val MaxHamming = 3
  val NgramT = 0.8

  private var planted = Seq.empty[Inputs.Planted]

  def generate(ctx: Ctx, dir: String): (Seq[String], Map[String, Long]) = {
    val (df, p) = Inputs.docs(ctx.spark, ctx.args.size.docs, ctx.args.seed)
    planted = p
    Inputs.write(df, s"$dir/docs")
    (Seq(s"$dir/docs"), Map("docs" -> ctx.args.size.docs.toLong,
      "planted_pairs" -> p.size.toLong))
  }

  private type Pairs = Set[(Long, Long)]

  private def families(docs: DataFrame): Seq[(String, () => DataFrame)] = Seq(
    "minhash" -> (() => Dedup.minhashPairs(docs, "doc_id", "text", threshold = MinhashT)),
    "simhash" -> (() => Dedup.simhashPairs(docs, "doc_id", "text", maxHamming = MaxHamming)),
    "ngram" -> (() => Dedup.ngramJaccardPairs(docs, "doc_id", "text", threshold = NgramT)))

  private def pairs(df: DataFrame): Pairs =
    df.select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  private val outputs = mutable.ArrayBuffer[Map[String, Pairs]]()

  def measure(ctx: Ctx, inputs: Seq[String]): Unit = {
    val docs = ctx.spark.read.parquet(inputs.head)
    ctx.figures("items_per_op") = (ctx.args.size.docs.toDouble, "docs")
    def once(): Op = {
      val (out, s, win) = ctx.timed(families(docs).map { case (f, run) => f -> pairs(run()) }.toMap)
      Dedup.releaseCaches(ctx.spark)
      outputs += out
      Op(s, win)
    }
    // six warm-ups: on a 4-core host a triple's CPU time still fell from
    // the 4th to the 7th run after three
    for (_ <- 1 to 6) once()
    ctx.loop(ctx.measureSeconds)(once())
  }

  /** Every emitted pair passes its exact predicate, recomputed in plain
    * Scala; every planted pair is found; every operation returns the same
    * pairs. F1 is the n-gram family's against the planted pairs. */
  def verify(ctx: Ctx, inputs: Seq[String]): Unit = {
    val text = ctx.spark.read.parquet(inputs.head).select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val first = outputs.head
    ctx.check("dedup_outputs_repeat", outputs.forall(_ == first),
      s"pair sets differ across ${outputs.size} operations")
    val badMinhash = first("minhash").count { case (a, b) => Truth.jaccard(text(a), text(b)) < MinhashT }
    ctx.check("minhash_pairs_exact", badMinhash == 0, s"$badMinhash pairs below Jaccard $MinhashT")
    val sim = text.map { case (id, t) => id -> SimHashUtil.simhash(t) }
    val badSim = first("simhash").count { case (a, b) => Truth.hamming(sim(a), sim(b)) > MaxHamming }
    ctx.check("simhash_pairs_exact", badSim == 0, s"$badSim pairs beyond Hamming $MaxHamming")
    val badNgram = first("ngram").count { case (a, b) => Truth.jaccard(text(a), text(b)) < NgramT }
    ctx.check("ngram_pairs_exact", badNgram == 0, s"$badNgram pairs below Jaccard $NgramT")

    val all = planted.map(p => (p.a, p.b)).toSet
    val exact = planted.filter(_.exact).map(p => (p.a, p.b)).toSet
    for ((f, want) <- Seq("minhash" -> all, "ngram" -> all, "simhash" -> exact)) {
      val missed = (want -- first(f)).size
      ctx.check(s"${f}_finds_planted", missed == 0, s"$missed of ${want.size} planted pairs missed")
    }
    first.foreach { case (f, ps) => ctx.figures(s"$f.pairs") = (ps.size.toDouble, "count") }
    val tp = (first("ngram") intersect all).size.toDouble
    ctx.figures("pair_f1") = (Stats.f1(tp, first("ngram").size, all.size), "ratio")
  }

  def trace(ctx: Ctx, inputs: Seq[String], tr: Tracer): mutable.LinkedHashMap[String, (Double, String)] = {
    val out = mutable.LinkedHashMap[String, (Double, String)]()
    val docs = ctx.spark.read.parquet(inputs.head)
    tr.span("dedup") {
      tr.span("dedup.signature") {
        docs.select(col("doc_id"),
            array_distinct(TextFunctions.shingles(col("text"), 3)).as("sh"), col("text"))
          .select(col("doc_id"), Dedup.minhashSignature(col("sh")).as("sig"),
            Dedup.simhash(col("text")).as("sim"))
          .persist().count()
      }
      families(docs).foreach { case (f, run) =>
        val df = tr.span(s"dedup.$f.plan")(run())
        val n = tr.span(s"dedup.$f")(df.persist().count())
        out(s"dedup.$f.pairs_out") = (n.toDouble, "count")
      }
    }
    Dedup.releaseCaches(ctx.spark)
    out("dedup.signature_s") = (tr.get("dedup.signature").seconds, "s")
    Seq("minhash", "simhash", "ngram").foreach { f =>
      out(s"dedup.$f.s") = (tr.get(s"dedup.$f").seconds, "s")
      out(s"dedup.$f.plan_s") = (tr.get(s"dedup.$f.plan").seconds, "s")
      out(s"dedup.$f.shuffle_mb") =
        (tr.get(s"dedup.$f.plan").window.shuffleMb + tr.get(s"dedup.$f").window.shuffleMb, "MB")
    }
    out
  }
}
