package perfbench

import scala.collection.mutable

import org.apache.spark.{PerfbenchBus, SparkContext, Success}
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.plans.logical.V2WriteCommand
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.util.QueryExecutionListener

/** In-memory trace of one benchmark run, recorded from outside the engine.
  *
  * Spans come from the harness, around its calls into the public entry
  * points (run, pass/slice, operation, construct, execute). Spark jobs and
  * SQL actions come from a `SparkListener` plus a `QueryExecutionListener`
  * registered here. A job is tied to the span that submitted it through a
  * thread-local job property; SQL actions and planning phases are placed
  * by time when the trace is reduced. Everything stays in memory until
  * [[toJson]] at the end of the run.
  *
  * When `enabled` is false nothing is registered and [[span]] only runs
  * its body, so untraced runs pay no listener cost.
  */
final class Tracer(spark: SparkSession, val enabled: Boolean, val runId: String) {
  import Tracer._

  private val sc: SparkContext = spark.sparkContext
  private val t0Ms = System.currentTimeMillis().toDouble
  private val t0Ns = System.nanoTime()
  def nowMs(): Double = t0Ms + (System.nanoTime() - t0Ns) / 1e6

  private val spans = mutable.ArrayBuffer.empty[Span]
  private var open: List[Span] = Nil
  private val jobs = mutable.LinkedHashMap.empty[Int, Job]
  private val stageJob = mutable.HashMap.empty[Int, Int]
  private val sqlExecs = mutable.LinkedHashMap.empty[Long, SqlExec]
  private val plans = mutable.ArrayBuffer.empty[Plan]

  /** Runs `body` inside a span of `layer`; nested spans become children. */
  def span[T](layer: String, name: String)(body: => T): T =
    if (!enabled) body
    else {
      val s = Span(spans.size, open.headOption.map(_.id).getOrElse(-1),
        layer, name, nowMs())
      spans += s
      open = s :: open
      sc.setLocalProperty(SpanProperty, s.id.toString)
      try body
      finally {
        s.endMs = nowMs()
        open = open.tail
        sc.setLocalProperty(SpanProperty,
          open.headOption.map(_.id.toString).orNull)
      }
    }

  /** Adds `v` to a count kept on the innermost open span. */
  def count(key: String, v: Double): Unit =
    if (enabled) open.headOption.foreach(s =>
      s.counts(key) = s.counts.getOrElse(key, 0.0) + v)

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val p = Option(e.properties)
      val span = p.flatMap(x => Option(x.getProperty(SpanProperty)))
        .map(_.toInt).getOrElse(-1)
      val exec = p.flatMap(x => Option(x.getProperty("spark.sql.execution.id")))
        .map(_.toLong).getOrElse(-1L)
      jobs(e.jobId) = Job(e.jobId, span, exec, e.time.toDouble)
      e.stageIds.foreach(stageJob(_) = e.jobId)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobs.get(e.jobId).foreach { j =>
        j.endMs = e.time.toDouble
        j.failed = e.jobResult != JobSucceeded
      }
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      synchronized {
        stageJob.get(e.stageInfo.stageId).flatMap(jobs.get)
          .foreach(_.stages += 1)
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      stageJob.get(e.stageId).flatMap(jobs.get).foreach { j =>
        j.tasks += 1
        if (e.reason != Success) j.failedTasks += 1
        val m = e.taskMetrics
        if (m != null) {
          j.taskMs += m.executorRunTime
          j.inputBytes += m.inputMetrics.bytesRead
          j.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
          j.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
          j.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        }
      }
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = synchronized {
      e match {
        case s: SparkListenerSQLExecutionStart =>
          sqlExecs(s.executionId) = SqlExec(s.executionId,
            s.rootExecutionId.getOrElse(s.executionId), s.time.toDouble)
        case s: SparkListenerSQLExecutionEnd =>
          sqlExecs.get(s.executionId).foreach(_.endMs = s.time.toDouble)
        case _ =>
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
      record(f, qe, failed = false)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit =
      record(f, qe, failed = true)
    private def record(f: String, qe: QueryExecution, failed: Boolean): Unit =
      Tracer.this.synchronized {
        val ph = qe.tracker.phases.map { case (k, v) =>
          k -> (v.startTimeMs.toDouble, v.endTimeMs.toDouble) }
        val writes = qe.logical match {
          case w: V2WriteCommand => Some(w.table.name)
          case _ => None
        }
        plans += Plan(qe.id, f, ph, writes, failed)
      }
  }

  if (enabled) {
    sc.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
  }

  /** Waits until the listener bus has delivered every queued event. */
  def drain(): Unit = if (enabled) PerfbenchBus.drain(sc)

  def close(): Unit = if (enabled) {
    drain()
    sc.removeSparkListener(listener)
    spark.listenerManager.unregister(qeListener)
  }

  /** The trace as JSON. */
  def toJson: String = synchronized {
    val sb = new StringBuilder
    sb ++= s"""{"run_id":${Json.str(runId)},"spans":["""
    sb ++= spans.map { s =>
      s"""{"id":${s.id},"parent":${s.parent},"layer":${Json.str(s.layer)},""" +
        s""""name":${Json.str(s.name)},"start":${Json.num(s.startMs)},""" +
        s""""end":${Json.num(s.endMs)},"counts":${Json.obj(s.counts.toSeq)}}"""
    }.mkString(",")
    sb ++= """],"jobs":["""
    sb ++= jobs.values.map { j =>
      s"""{"id":${j.id},"span":${j.span},"sql":${j.exec},""" +
        s""""start":${Json.num(j.startMs)},"end":${Json.num(j.endMs)},""" +
        s""""failed":${j.failed},"stages":${j.stages},"tasks":${j.tasks},""" +
        s""""failed_tasks":${j.failedTasks},"task_ms":${j.taskMs},""" +
        s""""input_bytes":${j.inputBytes},""" +
        s""""shuffle_read_bytes":${j.shuffleReadBytes},""" +
        s""""shuffle_write_bytes":${j.shuffleWriteBytes},""" +
        s""""spill_bytes":${j.spillBytes}}"""
    }.mkString(",")
    sb ++= """],"sql":["""
    sb ++= sqlExecs.values.map { x =>
      s"""{"id":${x.id},"root":${x.root},"start":${Json.num(x.startMs)},""" +
        s""""end":${Json.num(x.endMs)}}"""
    }.mkString(",")
    sb ++= """],"plans":["""
    sb ++= plans.map { p =>
      val ph = p.phases.toSeq.sortBy(_._1).map { case (k, (a, b)) =>
        s"""${Json.str(k)}:[${Json.num(a)},${Json.num(b)}]""" }
      s"""{"id":${p.id},"action":${Json.str(p.action)},"failed":${p.failed},""" +
        s""""writes":${p.writes.map(Json.str).getOrElse("null")},""" +
        s""""phases":{${ph.mkString(",")}}}"""
    }.mkString(",")
    sb ++= "]}"
    sb.toString
  }
}

object Tracer {
  val SpanProperty = "perfbench.span"

  final case class Span(id: Int, parent: Int, layer: String, name: String,
      startMs: Double) {
    var endMs: Double = Double.NaN
    val counts: mutable.LinkedHashMap[String, Double] = mutable.LinkedHashMap.empty
  }

  final case class Job(id: Int, span: Int, exec: Long, startMs: Double) {
    var endMs: Double = Double.NaN
    var failed = false
    var stages = 0
    var tasks = 0
    var failedTasks = 0
    var taskMs = 0L
    var inputBytes = 0L
    var shuffleReadBytes = 0L
    var shuffleWriteBytes = 0L
    var spillBytes = 0L
  }

  final case class SqlExec(id: Long, root: Long, startMs: Double) {
    var endMs: Double = Double.NaN
  }

  final case class Plan(id: Long, action: String,
      phases: Map[String, (Double, Double)], writes: Option[String],
      failed: Boolean)
}

/** The few JSON encoders the harness needs. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.math.BigDecimal.valueOf(d).toPlainString
  def obj(kv: Seq[(String, Double)]): String =
    kv.map { case (k, v) => s"${str(k)}:${num(v)}" }.mkString("{", ",", "}")
  def arr(xs: Seq[String]): String = xs.mkString("[", ",", "]")
}
