package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicLong, LongAdder}

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Spark-side counts for one span, filled by [[SpanListener]]. */
final class Counts {
  val jobs, stages, tasks, failedTasks = new LongAdder
  val cpuNs, gcMs, schedDelayMs = new LongAdder
  val shuffleBytes, spillBytes, inBytes, inRows, outBytes = new LongAdder
  val compactJobMs, exchanges = new LongAdder

  def toJson: String = Json.obj(
    "jobs" -> jobs.sum, "stages" -> stages.sum, "tasks" -> tasks.sum,
    "failed_tasks" -> failedTasks.sum, "cpu_ns" -> cpuNs.sum,
    "gc_ms" -> gcMs.sum, "sched_delay_ms" -> schedDelayMs.sum,
    "shuffle_bytes" -> shuffleBytes.sum, "spill_bytes" -> spillBytes.sum,
    "in_bytes" -> inBytes.sum, "in_rows" -> inRows.sum, "out_bytes" -> outBytes.sum,
    "compact_job_ms" -> compactJobMs.sum, "exchanges" -> exchanges.sum)
}

/** Attributes jobs, stages and task metrics to the span whose id the
  * submitting thread carried in the [[Tracer.SpanKey]] job local property.
  * Jobs with no span (the harness's own bookkeeping) are not counted. */
final class SpanListener extends SparkListener {
  val bySpan = new ConcurrentHashMap[String, Counts]()
  private val stageSpan = new ConcurrentHashMap[Int, String]()
  private val jobSpan = new ConcurrentHashMap[Int, (String, Long, Boolean)]()

  def counts(span: String): Counts = bySpan.computeIfAbsent(span, _ => new Counts)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val span = Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.SpanKey)))
    span.foreach { s =>
      counts(s).jobs.increment()
      e.stageInfos.foreach(i => stageSpan.put(i.stageId, s))
      // a job run from inside a state-log compaction carries it in its
      // call site (the first user frames of the submitting stack)
      val compacting = e.stageInfos.exists(_.details.contains("compact"))
      jobSpan.put(e.jobId, (s, e.time, compacting))
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobSpan.remove(e.jobId)).foreach { case (s, t0, compacting) =>
      if (compacting) counts(s).compactJobMs.add(e.time - t0)
    }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    Option(stageSpan.get(e.stageInfo.stageId)).foreach(s => counts(s).stages.increment())

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(stageSpan.get(e.stageId)).foreach { s =>
      val c = counts(s)
      c.tasks.increment()
      if (e.taskInfo.failed || e.taskInfo.killed) c.failedTasks.increment()
      val m = e.taskMetrics
      if (m != null) {
        c.cpuNs.add(m.executorCpuTime)
        c.gcMs.add(m.jvmGCTime)
        c.shuffleBytes.add(m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten)
        c.spillBytes.add(m.memoryBytesSpilled + m.diskBytesSpilled)
        c.inBytes.add(m.inputMetrics.bytesRead)
        c.inRows.add(m.inputMetrics.recordsRead)
        c.outBytes.add(m.outputMetrics.bytesWritten)
        // the Spark UI's scheduler delay: task wall time not spent
        // deserializing, running or shipping the result
        val wall = e.taskInfo.finishTime - e.taskInfo.launchTime
        c.schedDelayMs.add(math.max(0L, wall - m.executorRunTime -
          m.executorDeserializeTime - m.resultSerializationTime - e.taskInfo.gettingResultTime))
      }
    }
}

/** In-memory span recorder. Spans of one request/pass/batch share its
  * `req` id; a span's `parent` is the span open on the same thread when it
  * started. Disabled, it only runs the body. */
final class Tracer(val enabled: Boolean, sc: => SparkContext) {
  import Tracer.Span
  private val spans = new java.util.concurrent.ConcurrentLinkedQueue[Span]()
  private val seq = new AtomicLong()
  private val open = new ThreadLocal[List[String]] { override def initialValue() = Nil }
  val listener = new SpanListener

  def span[T](req: String, layer: String, name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = s"s${seq.incrementAndGet()}"
      val stack = open.get
      open.set(id :: stack)
      val ctx = sc
      val prev = ctx.getLocalProperty(Tracer.SpanKey)
      ctx.setLocalProperty(Tracer.SpanKey, id)
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        ctx.setLocalProperty(Tracer.SpanKey, prev)
        open.set(stack)
        spans.add(Span(id, stack.headOption.getOrElse(""), req, layer, name, t0, t1))
      }
    }

  /** Counts of the span open on this thread, for values the harness
    * measures itself (tracing only). */
  def current: Option[Counts] =
    if (enabled) open.get.headOption.map(listener.counts) else None

  def toJson(origin: Long): String = spans.asScala.toSeq.sortBy(_.t0).map { s =>
    val c = Option(listener.bySpan.get(s.id)).map(_.toJson).getOrElse("{}")
    Json.obj("id" -> s.id, "parent" -> s.parent, "req" -> s.req, "layer" -> s.layer,
      "name" -> s.name, "t0_ns" -> (s.t0 - origin), "t1_ns" -> (s.t1 - origin),
      "counts" -> Json.Raw(c))
  }.mkString("[", ",\n", "]")
}

object Tracer {
  val SpanKey = "perfbench.span"
  private final case class Span(id: String, parent: String, req: String, layer: String,
                                name: String, t0: Long, t1: Long)
}

/** Minimal JSON writer for the run artifact. */
object Json {
  final case class Raw(s: String)
  def q(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def v(x: Any): String = x match {
    case null => "null"
    case Raw(s) => s
    case s: String => q(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Number => n.toString
    case m: Map[_, _] => m.map { case (k, x) => q(k.toString) + ":" + v(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(v).mkString("[", ",", "]")
    case o => q(o.toString)
  }
  def obj(kv: (String, Any)*): String = kv.map { case (k, x) => q(k) + ":" + v(x) }.mkString("{", ",", "}")
}
