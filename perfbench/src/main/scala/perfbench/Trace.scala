package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.perfbench.SparkBridge
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}

/** One recorded interval. `layer` names the module the span is a call
  * into; `op` is the id of the op (refresh, prepare call, admission batch)
  * the span belongs to, or -1 outside the timed loop. */
final case class Span(id: Int, parent: Int, op: Int, name: String,
    layer: String, startMs: Double, endMs: Double,
    attrs: Map[String, Double])

/** Span recorder for the traced run. Spans are opened and closed by the
  * benchmark around its calls into the program's public functions; Spark
  * actions and jobs are recorded from listener events and attached to
  * those spans afterwards by time containment (the client is a single
  * closed-loop thread, so containment is unambiguous). Everything is held
  * in memory and written out once at exit.
  *
  * The untraced run uses [[Tracer.off]], which registers no listener and
  * records nothing, so end-to-end numbers carry no tracing cost. */
class Tracer private (spark: SparkSession, val enabled: Boolean) {
  private val nano0 = System.nanoTime()
  private val epoch0 = System.currentTimeMillis().toDouble
  /** Milliseconds on the listener events' epoch clock, from the monotonic
    * clock, so span and event times share one axis. */
  def nowMs: Double = epoch0 + (System.nanoTime() - nano0) / 1e6

  private val spans = mutable.ArrayBuffer.empty[Span]
  private val open = mutable.Stack.empty[(Int, String, String, Double)]
  private val pendingAttrs = mutable.Map.empty[Int, mutable.Map[String, Double]]
  private var nextId = 0
  private var currentOp = -1

  private val executions = new ConcurrentLinkedQueue[Map[String, Any]]()
  private val execStarts = new java.util.concurrent.ConcurrentHashMap[Long, Long]()
  private val jobs = new ConcurrentLinkedQueue[Map[String, Any]]()
  private val jobStarts =
    new java.util.concurrent.ConcurrentHashMap[Int, (Long, Long, Seq[Int])]()
  private val stages = new ConcurrentLinkedQueue[Map[String, Any]]()
  private val stageTasks =
    new java.util.concurrent.ConcurrentHashMap[(Int, Int), Array[Long]]()

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val exec = Option(e.properties)
        .flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
        .map(_.toLong).getOrElse(-1L)
      jobStarts.put(e.jobId, (e.time, exec, e.stageIds))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobStarts.remove(e.jobId)).foreach { case (t0, exec, st) =>
        jobs.add(Map("job" -> e.jobId, "exec" -> exec, "start_ms" -> t0,
          "end_ms" -> e.time, "stages" -> st))
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m != null) {
        val acc = stageTasks.computeIfAbsent((e.stageId, e.stageAttemptId),
          _ => new Array[Long](5))
        acc.synchronized {
          acc(0) += 1
          acc(1) += m.executorRunTime
          acc(2) += m.shuffleReadMetrics.totalBytesRead
          acc(3) += m.shuffleWriteMetrics.bytesWritten
          acc(4) += m.diskBytesSpilled
        }
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val si = e.stageInfo
      val acc = Option(stageTasks.remove((si.stageId, si.attemptNumber())))
        .getOrElse(new Array[Long](5))
      stages.add(Map("stage" -> si.stageId, "tasks" -> si.numTasks,
        "start_ms" -> si.submissionTime.getOrElse(0L),
        "end_ms" -> si.completionTime.getOrElse(0L),
        "tasks_ended" -> acc(0), "exec_run_ms" -> acc(1),
        "shuffle_read_bytes" -> acc(2), "shuffle_write_bytes" -> acc(3),
        "spill_bytes" -> acc(4)))
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart => execStarts.put(s.executionId, s.time)
      case end: SparkListenerSQLExecutionEnd =>
        val t0 = Option(execStarts.remove(end.executionId)).map(_.longValue)
          .getOrElse(end.time)
        val qe = SparkBridge.queryExecution(end)
        val phases = qe.map(_.tracker.phases).getOrElse(Map.empty)
        def ph(k: String): Long = phases.get(k).map(_.durationMs).getOrElse(0L)
        val nodes = qe.flatMap(q => scala.util.Try(PlanNodes(q.executedPlan)).toOption)
          .getOrElse(0)
        executions.add(Map("exec" -> end.executionId, "start_ms" -> t0,
          "end_ms" -> end.time, "analysis_ms" -> ph("analysis"),
          "optimizer_ms" -> ph("optimization"), "planning_ms" -> ph("planning"),
          "plan_nodes" -> nodes))
      case _ => ()
    }
  }

  if (enabled) spark.sparkContext.addSparkListener(listener)

  /** Run `body` as span `name` of `layer`, nested in the innermost open
    * span. A no-op wrapper when tracing is off. */
  def span[T](name: String, layer: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId; nextId += 1
      val parent = open.headOption.map(_._1).getOrElse(-1)
      open.push((id, name, layer, nowMs))
      try body
      finally {
        val (_, n, l, t0) = open.pop()
        val attrs = pendingAttrs.remove(id).map(_.toMap).getOrElse(Map.empty)
        spans += Span(id, parent, currentOp, n, l, t0, nowMs, attrs)
      }
    }

  /** Run `body` as op number `op`; every span opened inside carries it. */
  def op[T](op: Int, name: String)(body: => T): T = {
    currentOp = op
    try span(name, "op")(body)
    finally {
      currentOp = -1
      if (enabled) SparkBridge.drainListeners(spark.sparkContext)
    }
  }

  /** Attach a count to the innermost open span. */
  def count(key: String, value: Double): Unit =
    if (enabled) open.headOption.foreach { case (id, _, _, _) =>
      pendingAttrs.getOrElseUpdate(id, mutable.Map.empty)(key) = value
    }

  /** Everything recorded, as JSON-ready values. */
  def dump(): Map[String, Any] = {
    if (enabled) SparkBridge.drainListeners(spark.sparkContext)
    Map(
      "spans" -> spans.toSeq.map(s => Map("id" -> s.id, "parent" -> s.parent,
        "op" -> s.op, "name" -> s.name, "layer" -> s.layer,
        "start_ms" -> s.startMs, "end_ms" -> s.endMs, "attrs" -> s.attrs)),
      "executions" -> executions.asScala.toSeq,
      "jobs" -> jobs.asScala.toSeq,
      "stages" -> stages.asScala.toSeq)
  }
}

/** Physical plan size, counted through adaptive plans and query stages. */
object PlanNodes extends AdaptiveSparkPlanHelper {
  def apply(plan: SparkPlan): Int = collect(plan) { case p => p }.size
}

object Tracer {
  def on(spark: SparkSession): Tracer = new Tracer(spark, enabled = true)
  def off(spark: SparkSession): Tracer = new Tracer(spark, enabled = false)
}

/** Minimal JSON writer for the result file (maps, sequences, numbers,
  * strings, booleans). */
object Json {
  def write(v: Any): String = v match {
    case null => "null"
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case f: Float => write(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + write(x) }
        .mkString("{", ",", "}")
    case o: Option[_] => o.map(write).getOrElse("null")
    case a: Array[_] => write(a.toSeq)
    case xs: Iterable[_] => xs.map(write).mkString("[", ",", "]")
    case other => quote(other.toString)
  }

  private def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\r' => b ++= "\\r"
      case '\t' => b ++= "\\t"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    b += '"'
    b.toString
  }
}
