package perfbench

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession

import graft.operators.StaticParser

/** Input sizes. `Default` is what the benchmark measures; `Tiny` only
  * exercises every path once (the smoke test). */
final case class Size(pages: Int, skewPages: Int, hotEntities: Int, streamBatch: Int, docs: Int)

object Size {
  val Default = Size(pages = 1200, skewPages = 600, hotEntities = 2, streamBatch = 300, docs = 1000)
  val Tiny = Size(pages = 300, skewPages = 300, hotEntities = 1, streamBatch = 30, docs = 200)
}

final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
                      size: Size, work: String, out: String, sourceSha: String, gitSha: String)

/** One closed-loop operation: its wall time and what the cluster did. */
final case class Op(seconds: Double, window: Window, written: Long = 0L,
                    compaction: Boolean = false)

/** The state of one benchmark run, shared by the workloads. */
final class Ctx(val args: Args) {
  var spark: SparkSession = _
  var probe: Probe = _
  val ops = ArrayBuffer[Op]()
  /** Named figures a workload reports besides its ops (value, unit). */
  val figures = mutable.LinkedHashMap[String, (Double, String)]()
  val provenance = mutable.LinkedHashMap[String, Any]()
  private val failures = ArrayBuffer[String]()
  var checks = 0
  var opFailures = 0
  var inputRows = Map.empty[String, Long]
  /** How long the untraced loop measures; the traced run only warms up. */
  var measureSeconds: Double = args.seconds

  def cores: Int = Runtime.getRuntime.availableProcessors()
  def dir(name: String): String = s"${args.work}/$name"

  /** Record one output check; a failed check is a failed operation. */
  def check(name: String, ok: Boolean, detail: => String = ""): Unit = {
    checks += 1
    if (!ok) {
      failures += s"$name: $detail"
      System.err.println(s"perfbench: CHECK FAILED $name: $detail")
    }
  }

  private var companionOps = 0

  def failed: Int = failures.size + opFailures + CodegenFailures.count
  def attempted: Int = ops.size + companionOps + opFailures + checks
  def failureNotes: Seq[String] = failures.toSeq

  /** A context for a companion workload in the same session and work dir. */
  def companion(): Ctx = {
    val c = new Ctx(args)
    c.spark = spark
    c.probe = probe
    c.measureSeconds = measureSeconds
    c
  }

  /** Count a companion's operations, checks and failures as this run's. */
  def absorb(c: Ctx): Unit = {
    companionOps += c.ops.size + c.companionOps
    opFailures += c.opFailures
    checks += c.checks
    failures ++= c.failures
  }

  /** Run `body` as one closed-loop operation. */
  def timed[T](body: => T): (T, Double, Window) = {
    val m = probe.mark()
    val c0 = Ctx.os.getProcessCpuTime
    val t0 = System.nanoTime()
    val r = body
    val s = (System.nanoTime() - t0) / 1e9
    cpuSeconds += (Ctx.os.getProcessCpuTime - c0) / 1e9
    (r, s, probe.since(m))
  }
  /** Process CPU seconds of each timed call, in order. */
  val cpuSeconds = ArrayBuffer[Double]()

  /** Closed loop, one client: run `op` until `seconds` have passed (at
    * least once). */
  def loop(seconds: Double)(op: => Op): Unit = {
    val t0 = System.nanoTime()
    var i = 0
    while (i == 0 || (System.nanoTime() - t0) / 1e9 < seconds) {
      try ops += op
      catch {
        case e: Exception =>
          opFailures += 1
          System.err.println(s"perfbench: operation $i failed: $e")
          if (opFailures >= 3) throw e
      }
      i += 1
    }
  }
}

object Ctx {
  val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
}

/** A named workload: how to build its inputs, the untraced operation loop,
  * its output checks, and the traced replay of its layers. */
trait Workload {
  def name: String
  /** Generate and write the inputs; returns the written directories and
    * their row counts. Called once per set-up repetition. */
  def generate(ctx: Ctx, dir: String): (Seq[String], Map[String, Long])
  /** The untraced measurement, a closed loop of operations. */
  def measure(ctx: Ctx, inputs: Seq[String]): Unit
  /** Output checks and the workload's figures (pair_f1, amplification …). */
  def verify(ctx: Ctx, inputs: Seq[String]): Unit
  /** Traced replay: returns the workload's per-layer figures. */
  def trace(ctx: Ctx, inputs: Seq[String], tracer: Tracer): mutable.LinkedHashMap[String, (Double, String)]
  /** Workloads whose whole traced run also runs inside this one's. */
  def companions: Seq[Workload] = Nil
}

object Main {
  val SetupReps = 3

  val Workloads: Map[String, Workload] = Seq[Workload](
    new LinkageWorkload("linkage_batch", boilerplate = false),
    new LinkageWorkload("linkage_skewed", boilerplate = true),
    new StreamWorkload,
    new DedupWorkload).map(w => w.name -> w).toMap

  def parse(a: Array[String]): Args = {
    val kv = a.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = kv.getOrElse(k, sys.error(s"missing --$k"))
    val size = kv.getOrElse("size", "default") match {
      case "default" => Size.Default
      case "tiny" => Size.Tiny
      case other => sys.error(s"unknown --size $other")
    }
    val trace = need("trace") match {
      case "0" => false
      case "1" => true
      case other => sys.error(s"--trace takes 0 or 1, not $other")
    }
    Args(need("workload"), need("seed").toLong, need("seconds").toDouble, trace, size,
      need("work"), need("out"), kv.getOrElse("source-sha", "none"), kv.getOrElse("git-sha", "none"))
  }

  def main(argv: Array[String]): Unit = {
    val args = parse(argv)
    val w = Workloads.getOrElse(args.workload,
      sys.error(s"unknown workload ${args.workload}; known: ${Workloads.keys.toSeq.sorted.mkString(", ")}"))
    val ctx = new Ctx(args)
    val inputs = setUp(ctx, w)
    val metrics =
      if (args.trace) Tracing.run(ctx, w, inputs)
      else {
        w.measure(ctx, inputs)
        val heapMb = retainedHeapMb()
        w.verify(ctx, inputs)
        EndToEnd.report(ctx, w, heapMb)
      }
    ctx.spark.stop()
    Inputs.delete(args.work)
    println(Json.obj(
      "correct" -> (ctx.failed == 0),
      "attempted" -> math.max(ctx.attempted, 1),
      "failed" -> ctx.failed,
      "metrics" -> scala.collection.immutable.ListMap(metrics.map { case (k, (v, u)) =>
        k -> Map("value" -> v, "unit" -> u) }: _*)))
  }

  /** Session start, input generation and write, and the gazetteer index
    * broadcast — repeated, each time in a fresh session, and reported as
    * the median. The last repetition's session and inputs are kept. */
  def setUp(ctx: Ctx, w: Workload): Seq[String] = {
    val times = ArrayBuffer[Double]()
    val hashes = ArrayBuffer[String]()
    val parts = ArrayBuffer[Seq[Double]]()
    var inputs = Seq.empty[String]
    var rows = Map.empty[String, Long]
    for (r <- 0 until SetupReps) {
      if (ctx.spark != null) ctx.spark.stop()
      val t0 = System.nanoTime()
      ctx.spark = graft.Sessions.local("perfbench", ctx.cores.toString)
      CodegenFailures.attach()
      val t1 = System.nanoTime()
      val (dirs, counts) = w.generate(ctx, ctx.dir(s"input-$r"))
      val t2 = System.nanoTime()
      StaticParser.broadcastIndex(ctx.spark)
      val t3 = System.nanoTime()
      times += (t3 - t0) / 1e9
      parts += Seq(t1 - t0, t2 - t1, t3 - t2).map(_ / 1e9)
      hashes += Inputs.sha256(dirs)
      if (r > 0) Inputs.delete(ctx.dir(s"input-${r - 1}"))
      inputs = dirs
      rows = counts
    }
    ctx.inputRows = rows
    ctx.probe = Probe.attach(ctx.spark.sparkContext)
    ctx.check("input_regenerates_identically", hashes.distinct.size == 1,
      s"input sha256 differs across set-ups: ${hashes.distinct.mkString(", ")}")
    ctx.figures("setup_s") = (Stats.median(times.toSeq), "s")
    val sc = ctx.spark.sparkContext
    ctx.provenance ++= Seq(
      "workload" -> w.name, "seed" -> ctx.args.seed, "trace" -> ctx.args.trace,
      "nproc" -> ctx.cores, "master" -> sc.master,
      "heap_max_mb" -> Runtime.getRuntime.maxMemory() / (1 << 20),
      "spark" -> ctx.spark.version, "scala" -> scala.util.Properties.versionNumberString,
      "jdk" -> System.getProperty("java.version"),
      "git_sha" -> ctx.args.gitSha, "source_sha256" -> ctx.args.sourceSha,
      "input_rows" -> rows, "input_sha256" -> hashes.head,
      "input_bytes" -> inputs.map(Inputs.bytes).sum,
      "setup_samples_s" -> times.toSeq,
      "setup_session_generate_index_s" -> parts.toSeq)
    inputs
  }

  /** Live heap after a full collection, in MB. */
  def retainedHeapMb(): Double = {
    val mx = java.lang.management.ManagementFactory.getMemoryMXBean
    System.gc(); System.gc()
    mx.getHeapMemoryUsage.getUsed / 1e6
  }
}

/** The end-to-end record: every metric by name, with unit and sample count
  * (null where a metric does not apply to the workload). The result line
  * carries the subset BENCHMARK.json declares, which every workload has. */
object EndToEnd {
  val Declared: Seq[String] = Seq("setup_s", "items_per_s", "shuffle_mb", "pair_f1")

  def report(ctx: Ctx, w: Workload, heapMb: Double): Seq[(String, (Double, String))] = {
    val f = ctx.figures
    val n = ctx.ops.size
    // items per operation ÷ median operation time, over every operation
    val perS = f("items_per_op")._1 / Stats.median(ctx.ops.map(_.seconds).toSeq)
    val isDocs = f("items_per_op")._2 == "docs"
    val steps = ctx.ops.filterNot(_.compaction).map(_.seconds).toSeq
    val rec = mutable.LinkedHashMap[String, (Option[Double], String, Int)]()
    def put(k: String, v: Option[Double], unit: String, n: Int): Unit = rec(k) = (v, unit, n)
    put("setup_s", Some(f("setup_s")._1), "s", Main.SetupReps)
    put("pages_per_s", if (isDocs) None else Some(perS), "1/s", n)
    put("docs_per_s", if (isDocs) Some(perS) else None, "1/s", n)
    put("step_s_p50", Some(Stats.median(steps)), "s", steps.size)
    val compactions = ctx.ops.filter(_.compaction).map(_.seconds).toSeq
    put("compact_step_s", compactions.headOption.map(_ => Stats.median(compactions)), "s",
      compactions.size)
    put("pair_f1", f.get("pair_f1").map(_._1), "ratio", 1)
    put("failed_frac", Some(ctx.failed.toDouble / math.max(ctx.attempted, 1)), "ratio", ctx.attempted)
    put("shuffle_mb", Some(Stats.median(ctx.ops.map(_.window.shuffleMb).toSeq)), "MB", ctx.ops.size)
    put("write_amp", f.get("write_amp").map(_._1), "ratio", ctx.ops.size)
    put("state_amp", f.get("state_amp").map(_._1), "ratio", 1)
    put("retained_heap_mb", Some(heapMb), "MB", 1)
    put("items_per_s", Some(perS), "1/s", n)
    println(Json.obj(
      "record" -> "end_to_end",
      "provenance" -> ctx.provenance,
      "metrics" -> rec.map { case (k, (v, u, n)) => k -> Map("value" -> v, "unit" -> u, "n" -> n) },
      "op_seconds" -> ctx.ops.map(_.seconds),
      "timed_cpu_seconds" -> ctx.cpuSeconds,
      "figures" -> f.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) },
      "failures" -> ctx.failureNotes,
      "codegen_failures" -> CodegenFailures.count))
    Declared.map(k => k -> (rec(k)._1.getOrElse(
      sys.error(s"$k has no value on ${w.name}")), rec(k)._2))
  }
}
