package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.logging.log4j.{Level, LogManager}
import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.spark.{PerfbenchBus, SparkContext}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}

/** One finished task, as the benchmark's listener saw it. */
final case class TaskRec(stage: Int, ms: Long, shuffleWrite: Long)

/** Listener counters at one instant. */
final case class Mark(jobs: Int, tasks: Int)

/** What the cluster did between two marks: jobs, tasks, shuffle, skew. */
final case class Window(jobs: Int, tasks: Seq[TaskRec]) {
  def shuffleMb: Double = tasks.map(_.shuffleWrite).sum / 1e6
  /** max ÷ median task time of the stage that kept the cores busiest. */
  def taskSkew: Double = {
    val byStage = tasks.groupBy(_.stage).values.filter(_.size > 1)
    if (byStage.isEmpty) 1.0
    else {
      val ms = byStage.maxBy(_.map(_.ms).sum).map(_.ms.toDouble).sorted
      ms.last / math.max(Stats.median(ms), 1.0)
    }
  }
}

/** The benchmark's own SparkListener. A run is a closed loop with one
  * client, so everything between two marks belongs to the operation
  * between them; `mark` first drains the listener bus. */
final class Probe(sc: SparkContext) extends SparkListener {
  private val tasks = ArrayBuffer[TaskRec]()
  private var jobs = 0

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized { jobs += 1 }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) tasks += TaskRec(e.stageId, e.taskInfo.duration,
      m.shuffleWriteMetrics.bytesWritten)
  }

  def mark(): Mark = {
    PerfbenchBus.drain(sc)
    synchronized(Mark(jobs, tasks.size))
  }

  def since(m: Mark): Window = {
    PerfbenchBus.drain(sc)
    synchronized(Window(jobs - m.jobs, tasks.slice(m.tasks, tasks.size).toSeq))
  }
}

object Probe {
  def attach(sc: SparkContext): Probe = {
    val p = new Probe(sc)
    sc.addSparkListener(p)
    p
  }
}

/** Counts `Failed to compile` log events: Spark then falls back to
  * interpreted evaluation, a silent de-optimisation the benchmark counts as
  * a failed operation. */
object CodegenFailures {
  private val n = new java.util.concurrent.atomic.AtomicInteger()
  private var attached = false

  def count: Int = n.get

  def attach(): Unit = synchronized {
    if (!attached) {
      val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
      val app = new AbstractAppender("perfbench-codegen", null, null, true,
          org.apache.logging.log4j.core.config.Property.EMPTY_ARRAY) {
        override def append(e: LogEvent): Unit = {
          val msg = Option(e.getMessage).map(_.getFormattedMessage).getOrElse("")
          if (msg.toLowerCase(java.util.Locale.ROOT).contains("failed to compile")) n.incrementAndGet()
        }
      }
      app.start()
      ctx.getConfiguration.addAppender(app)
      ctx.getConfiguration.getRootLogger.addAppender(app, Level.WARN, null)
      ctx.updateLoggers()
      attached = true
    }
  }
}

/** A traced interval: name, start, end, parent and run id, plus what the
  * cluster did meanwhile. Kept in memory and written out at the end. */
final case class Span(id: Int, parent: Int, run: String, name: String,
                      startNs: Long, endNs: Long, window: Window) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Records spans around calls into the library's public functions. Each
  * span sets a Spark job group named after its layer. */
final class Tracer(sc: SparkContext, probe: Probe, val run: String) {
  val spans = ArrayBuffer[Span]()
  private var stack = List.empty[(Int, String)]

  def span[T](name: String)(body: => T): T = {
    val id = spans.size + 1
    val parent = stack.headOption.map(_._1).getOrElse(0)
    spans += null // reserve the id; filled when the span closes
    stack = (id, name) :: stack
    group(name)
    val m = probe.mark()
    val t0 = System.nanoTime()
    try body
    finally {
      val t1 = System.nanoTime()
      spans(id - 1) = Span(id, parent, run, name, t0, t1, probe.since(m))
      stack = stack.tail
      stack.headOption match {
        case Some((_, p)) => group(p)
        case None => sc.clearJobGroup()
      }
    }
  }

  private def group(name: String): Unit =
    sc.setJobGroup(s"perfbench.$name", s"$run $name", interruptOnCancel = false)

  def get(name: String): Span = spans.find(s => s != null && s.name == name)
    .getOrElse(sys.error(s"no span $name"))

  /** Duration minus the part covered by direct children. */
  def selfSeconds(s: Span): Double =
    s.seconds - spans.filter(c => c != null && c.parent == s.id).map(_.seconds).sum

  def jsonLines: Seq[String] = spans.toSeq.map { s =>
    Json.obj("id" -> s.id, "parent" -> s.parent, "run" -> s.run, "name" -> s.name,
      "start_ns" -> s.startNs, "end_ns" -> s.endNs, "self_s" -> selfSeconds(s),
      "shuffle_mb" -> s.window.shuffleMb, "tasks" -> s.window.tasks.size,
      "jobs" -> s.window.jobs)
  }
}
