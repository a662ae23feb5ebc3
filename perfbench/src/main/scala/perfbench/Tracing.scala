package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable

/** The traced run: the workload's untraced operations for the reference
  * time, then its layer replay under a [[Tracer]]; then the same for each
  * of its companions (workloads too costly to run on their own, whose
  * layers are measured here). Prints every layer's self time and figures,
  * the remainder no layer accounts for, and the tracing overhead; writes
  * the spans as JSON lines. End-to-end metrics never come from here. */
object Tracing {
  def run(ctx: Ctx, w: Workload, inputs: Seq[String]): Seq[(String, (Double, String))] = {
    ctx.measureSeconds = 0
    val (tr, layers) = replay(ctx, w, inputs)
    val tracers = mutable.ArrayBuffer(tr)
    w.companions.foreach { c =>
      val sub = ctx.companion()
      val (dirs, _) = c.generate(sub, sub.dir(s"input-${c.name}"))
      val (ctr, clayers) = replay(sub, c, dirs)
      tracers += ctr
      clayers.foreach { case (k, v) => layers(s"${c.name}/$k") = v }
      ctx.absorb(sub)
    }

    val untraced = Stats.median(ctx.ops.filterNot(_.compaction).map(_.seconds).toSeq)
    val roots = tr.spans.filter(_.parent == 0).toSeq
    val traced = roots.map(_.seconds).sum
    val all = Window(roots.map(_.window.jobs).sum, roots.flatMap(_.window.tasks))
    val common = Seq(
      "trace.traced_s" -> (traced, "s"),
      "trace.untraced_s" -> (untraced, "s"),
      "trace.overhead_s" -> (traced - untraced, "s"),
      "trace.unattributed_s" -> (roots.map(tr.selfSeconds).sum, "s"),
      "trace.layers" -> ((tr.spans.size - roots.size).toDouble, "count"),
      "spark.jobs" -> (all.jobs.toDouble, "count"),
      "spark.tasks" -> (all.tasks.size.toDouble, "count"),
      "spark.shuffle_mb" -> (all.shuffleMb, "MB"),
      "spark.task_skew" -> (all.taskSkew, "ratio"),
      "codegen.failed_compiles" -> (CodegenFailures.count.toDouble, "count"))

    val path = Paths.get(ctx.args.out, s"trace-${tr.run}.jsonl")
    Files.createDirectories(path.getParent)
    Files.write(path, tracers.flatMap(_.jsonLines).mkString("", "\n", "\n")
      .getBytes(StandardCharsets.UTF_8))
    def values(m: Iterable[(String, (Double, String))]) =
      scala.collection.immutable.ListMap(
        m.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) }.toSeq: _*)
    println(Json.obj(
      "record" -> "trace",
      "provenance" -> ctx.provenance,
      "spans_file" -> path.toString,
      "self_s" -> tracers.flatMap(t => t.spans.map(s =>
        Map("run" -> t.run, "span" -> s.name, "self_s" -> t.selfSeconds(s)))),
      "layers" -> values(layers),
      "common" -> values(common),
      "failures" -> ctx.failureNotes))
    common
  }

  /** Untraced operations, output checks, then the traced layer replay. */
  private def replay(ctx: Ctx, w: Workload, inputs: Seq[String])
      : (Tracer, mutable.LinkedHashMap[String, (Double, String)]) = {
    w.measure(ctx, inputs)
    w.verify(ctx, inputs)
    val tr = new Tracer(ctx.spark.sparkContext, ctx.probe, s"${w.name}-seed${ctx.args.seed}")
    (tr, w.trace(ctx, inputs, tr))
  }
}
