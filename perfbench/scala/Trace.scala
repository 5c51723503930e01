package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._

import org.apache.spark.executor.TaskMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Raw trace events, kept in memory and written once when the run ends.
  * Each event is one JSON object; `run.py` turns them into spans and
  * per-layer metrics, so all of the arithmetic lives in one tested place.
  */
object Events {
  private val q = new ConcurrentLinkedQueue[String]()

  def add(fields: (String, Any)*): Unit = q.add(Json.obj(fields: _*))

  def json: String = q.asScala.mkString("[\n", ",\n", "\n]")

  def write(path: String, text: String = json): Unit = {
    val w = new java.io.PrintWriter(path, "UTF-8")
    try w.write(text) finally w.close()
  }
}

object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }

  def value(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => value(x)
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Number => n.toString
    case m: Map[_, _] =>
      m.map { case (k, x) => str(k.toString) + ":" + value(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(value).mkString("[", ",", "]")
    case other => str(other.toString)
  }

  def obj(fields: (String, Any)*): String =
    fields.map { case (k, v) => str(k) + ":" + value(v) }.mkString("{", ",", "}")
}

/** Spark job, stage and task accounting. Jobs and stages carry the op they
  * ran for through the `perfbench.op` job-local property.
  */
class JobTrace extends SparkListener {
  private val taskCounts = new java.util.concurrent.ConcurrentHashMap[(Int, Int), Array[Long]]()

  private def op(p: java.util.Properties): String =
    Option(p).map(_.getProperty(JobTrace.OpKey)).orNull

  override def onApplicationStart(e: SparkListenerApplicationStart): Unit =
    Events.add("e" -> "app_start", "t" -> e.time)

  override def onApplicationEnd(e: SparkListenerApplicationEnd): Unit = {
    Events.add("e" -> "app_end", "t" -> e.time)
    sys.props.get("perfbench.trace.out").foreach(Events.write(_))
  }

  override def onJobStart(e: SparkListenerJobStart): Unit =
    Events.add("e" -> "job_start", "job" -> e.jobId, "t" -> e.time,
      "op" -> op(e.properties), "stages" -> e.stageIds)

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Events.add("e" -> "job_end", "job" -> e.jobId, "t" -> e.time,
      "ok" -> (e.jobResult == JobSucceeded))

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    Events.add("e" -> "stage_start", "stage" -> e.stageInfo.stageId,
      "attempt" -> e.stageInfo.attemptNumber(), "op" -> op(e.properties),
      "t" -> e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis()))

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val c = taskCounts.computeIfAbsent((e.stageId, e.stageAttemptId), _ => new Array[Long](2))
    c.synchronized {
      c(0) += 1
      if (e.reason != org.apache.spark.Success) c(1) += 1
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val s = e.stageInfo
    val c = Option(taskCounts.remove((s.stageId, s.attemptNumber()))).getOrElse(Array(0L, 0L))
    def sum(f: TaskMetrics => Long): Long = Option(s.taskMetrics).map(f).getOrElse(0L)
    Events.add("e" -> "stage_end", "stage" -> s.stageId, "attempt" -> s.attemptNumber(),
      "t" -> s.completionTime.getOrElse(System.currentTimeMillis()),
      "tasks" -> c(0), "failed_tasks" -> c(1), "ok" -> s.failureReason.isEmpty,
      "run_ms" -> sum(_.executorRunTime),
      "cpu_ms" -> sum(_.executorCpuTime) / 1e6,
      "gc_ms" -> sum(_.jvmGCTime),
      "input_bytes" -> sum(_.inputMetrics.bytesRead),
      "output_bytes" -> sum(_.outputMetrics.bytesWritten),
      "shuffle_read_bytes" -> sum(_.shuffleReadMetrics.totalBytesRead),
      "shuffle_write_bytes" -> sum(_.shuffleWriteMetrics.bytesWritten),
      "spill_bytes" -> sum(m => m.memoryBytesSpilled + m.diskBytesSpilled))
  }
}

object JobTrace {
  val OpKey = "perfbench.op"
}

/** Catalyst phase times (analysis, optimization, planning) per query
  * execution. Construction marks the moment the session state exists, which
  * is where the cold CLI's session boot ends.
  */
class PlanTrace extends QueryExecutionListener {
  Events.add("e" -> "session_ready", "t" -> System.currentTimeMillis())

  private def record(func: String, qe: QueryExecution, ok: Boolean): Unit = {
    val phases = qe.tracker.phases.map { case (k, p) => k -> Seq(p.startTimeMs, p.endTimeMs) }
    Events.add("e" -> "qe", "func" -> func, "ok" -> ok, "phases" -> phases)
  }

  override def onSuccess(func: String, qe: QueryExecution, durationNs: Long): Unit =
    record(func, qe, ok = true)

  override def onFailure(func: String, qe: QueryExecution, ex: Exception): Unit =
    record(func, qe, ok = false)
}

/** Structured Streaming query lifecycle and micro-batch progress. */
class StreamTrace extends StreamingQueryListener {
  import StreamingQueryListener._

  override def onQueryStarted(e: QueryStartedEvent): Unit =
    Events.add("e" -> "sq_start", "id" -> e.runId.toString, "t" -> System.currentTimeMillis())

  override def onQueryProgress(e: QueryProgressEvent): Unit = {
    val p = e.progress
    Events.add("e" -> "sq_progress", "id" -> p.runId.toString, "batch" -> p.batchId,
      "ms" -> Option(p.durationMs.get("triggerExecution")).map(_.longValue).getOrElse(0L),
      "rows" -> p.numInputRows,
      "state_rows" -> p.stateOperators.map(_.numRowsTotal).sum)
  }

  override def onQueryTerminated(e: QueryTerminatedEvent): Unit =
    Events.add("e" -> "sq_end", "id" -> e.runId.toString, "t" -> System.currentTimeMillis())
}
