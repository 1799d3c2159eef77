package perfbench

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.perfbench.BusDrain
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Times the benchmark's operations and, when tracing, records a span around
  * each call into the program plus the engine events each operation caused.
  *
  * Spans are tagged onto the jobs they start through a thread-local Spark
  * property (inherited by streaming query threads started inside the span), and
  * the listener bus is drained after each operation, so every event is charged
  * to the operation that caused it. Nothing is registered when tracing is off.
  */
final class Probe(spark: SparkSession, val tracing: Boolean) {
  import Probe._

  final case class Span(name: String, parent: Int, op: Int, startNs: Long,
      var endNs: Long = 0L)
  final case class Job(span: Int, op: Int, description: String, callSite: String,
      callStack: String, startMs: Long, var endMs: Long = -1L)
  final class Op(val name: String, val timed: Boolean) {
    var jobs = 0; var stages = 0; var tasks = 0
    var planningMs = 0.0; var executionMs = 0.0
    var shuffleBytes = 0L; var gcMs = 0L
    val taskMs = ArrayBuffer.empty[Long]
  }

  private val t0 = System.nanoTime()
  val spans = ArrayBuffer.empty[Span]
  val ops = ArrayBuffer.empty[Op]
  val jobs = mutable.LinkedHashMap.empty[Int, Job]
  private val stageOp = mutable.Map.empty[Int, Int]
  private var open = List.empty[Int]
  @volatile private var currentOp = -1
  private val sc = spark.sparkContext

  if (tracing) {
    sc.addSparkListener(new SparkListener {
      private def spanOf(p: java.util.Properties): Int =
        Option(p).flatMap(x => Option(x.getProperty(SpanKey))).map(_.toInt).getOrElse(-1)
      private def opOfSpan(s: Int): Int = if (s >= 0) spans(s).op else currentOp
      override def onJobStart(e: SparkListenerJobStart): Unit = Probe.this.synchronized {
        val s = spanOf(e.properties)
        val p = Option(e.properties)
        // a job's call site is its last stage's: the short form names the first
        // frame outside Spark, the long form is the stack from there
        val site = e.stageInfos.sortBy(_.stageId).lastOption
        jobs(e.jobId) = Job(s, opOfSpan(s),
          p.flatMap(x => Option(x.getProperty("spark.job.description"))).getOrElse(""),
          site.map(_.name).getOrElse(""), site.map(_.details).getOrElse(""), e.time)
        opAt(opOfSpan(s)).foreach(_.jobs += 1)
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = Probe.this.synchronized {
        jobs.get(e.jobId).foreach(_.endMs = e.time)
      }
      override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
        Probe.this.synchronized {
          stageOp(e.stageInfo.stageId) = opOfSpan(spanOf(e.properties))
        }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        Probe.this.synchronized {
          opAt(stageOp.getOrElse(e.stageInfo.stageId, currentOp)).foreach { o =>
            o.stages += 1
            Option(e.stageInfo.taskMetrics).foreach(m =>
              o.shuffleBytes += m.shuffleWriteMetrics.bytesWritten)
          }
        }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Probe.this.synchronized {
        opAt(stageOp.getOrElse(e.stageId, currentOp)).foreach { o =>
          o.tasks += 1
          o.taskMs += e.taskInfo.duration
          Option(e.taskMetrics).foreach(m => o.gcMs += m.jvmGCTime)
        }
      }
    })
    spark.listenerManager.register(new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        Probe.this.synchronized {
          opAt(currentOp).foreach { o =>
            o.planningMs += qe.tracker.phases.values.map(_.durationMs).sum
            o.executionMs += ns / 1e6
          }
        }
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    })
  }

  private def opAt(i: Int): Option[Op] = if (i >= 0 && i < ops.size) Some(ops(i)) else None

  /** A span around `body`; a no-op wrapper when tracing is off. */
  def span[T](name: String)(body: => T): T =
    if (!tracing) body
    else {
      val id = synchronized {
        spans += Span(name, open.headOption.getOrElse(-1), currentOp, System.nanoTime())
        spans.size - 1
      }
      open = id :: open
      sc.setLocalProperty(SpanKey, id.toString)
      try body
      finally {
        spans(id).endNs = System.nanoTime()
        open = open.tail
        sc.setLocalProperty(SpanKey, open.headOption.map(_.toString).orNull)
      }
    }

  /** Runs one operation and returns its result and wall time in ms. The timing
    * covers `body` alone; the listener drain that follows it is untimed.
    */
  def op[T](name: String, timed: Boolean)(body: => T): (T, Double) = {
    if (tracing) { synchronized { ops += new Op(name, timed) }; currentOp = ops.size - 1 }
    val start = System.nanoTime()
    val out = span(name)(body)
    val ms = (System.nanoTime() - start) / 1e6
    if (tracing) { BusDrain.drain(sc); currentOp = -1 }
    (out, ms)
  }

  /** Spans of one operation, by name. */
  def spansIn(op: Int, name: String): Seq[Span] =
    spans.toSeq.filter(s => s.op == op && s.name == name)

  def jobsIn(op: Int): Seq[Job] = synchronized(jobs.values.filter(_.op == op).toSeq)

  def timedOps: Seq[Int] = ops.indices.filter(ops(_).timed)

  /** Engine metrics per timed operation, as medians over the timed operations. */
  def engineMetrics: Seq[(String, Double)] = {
    val per = timedOps.map(ops(_))
    def med(f: Op => Double) = median(per.map(f))
    Seq(
      "engine.jobs" -> med(_.jobs.toDouble),
      "engine.stages" -> med(_.stages.toDouble),
      "engine.tasks" -> med(_.tasks.toDouble),
      "engine.planning_ms" -> med(_.planningMs),
      "engine.execution_ms" -> med(_.executionMs),
      "engine.shuffle_bytes" -> med(_.shuffleBytes.toDouble),
      "engine.task_skew" -> med(o =>
        if (o.taskMs.isEmpty) 0.0
        else o.taskMs.max / math.max(1.0, median(o.taskMs.map(_.toDouble).toSeq))),
      "engine.gc_ms" -> med(_.gcMs.toDouble))
  }

  /** Spans, jobs and per-operation counts, as one JSON document. */
  def traceJson(extra: Map[String, Any]): String = synchronized {
    def ms(ns: Long) = (ns - t0) / 1e6
    Json.render(Map(
      "spans" -> spans.toSeq.map(s => Map("name" -> s.name, "parent" -> s.parent,
        "op" -> s.op, "start_ms" -> ms(s.startNs), "end_ms" -> ms(s.endNs))),
      "jobs" -> jobs.toSeq.map { case (id, j) => Map("id" -> id, "span" -> j.span,
        "op" -> j.op, "description" -> j.description.take(300),
        "call_site" -> j.callSite, "ms" -> (j.endMs - j.startMs)) },
      "ops" -> ops.toSeq.map(o => Map("name" -> o.name, "timed" -> o.timed,
        "jobs" -> o.jobs, "stages" -> o.stages, "tasks" -> o.tasks,
        "planning_ms" -> o.planningMs, "execution_ms" -> o.executionMs,
        "shuffle_bytes" -> o.shuffleBytes, "gc_ms" -> o.gcMs))) ++ extra)
  }
}

object Probe {
  val SpanKey = "perfbench.span"
  /** Job description Spark gives its distributed leaf-file listing. */
  val ListingPrefix = "Listing leaf files and directories"

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }
}

/** Minimal JSON rendering for the benchmark's own flat records. */
object Json {
  def render(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => render(x)
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"; case '\r' => "\\r"
      case '\t' => "\\t"; case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => render(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] => m.map { case (k, x) => render(k.toString) + ":" + render(x) }
      .mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(render).mkString("[", ",", "]")
    case other => render(other.toString)
  }
}
