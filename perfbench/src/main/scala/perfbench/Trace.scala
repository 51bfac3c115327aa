package graft.perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Minimal JSON writer for the harness's records. */
object Json {
  /** Already-serialized JSON, embedded as is. */
  final case class Raw(json: String)

  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def value(v: Any): String = v match {
    case null | None => "null"
    case Raw(json) => json
    case Some(x) => value(x)
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Number => n.toString
    case m: collection.Map[_, _] => obj(m.map { case (k, x) => k.toString -> x }.toSeq)
    case xs: Iterable[_] => xs.map(value).mkString("[", ",", "]")
    case other => str(other.toString)
  }

  def obj(fields: Seq[(String, Any)]): String =
    fields.map { case (k, v) => str(k) + ":" + value(v) }.mkString("{", ",", "}")
}

/** Which op (and which part of it) the driver thread is in. Jobs carry it
  * as Spark local properties; listener callbacks without properties (SQL
  * executions, streaming progress) read the current value, which is valid
  * because the harness drains the listener bus before moving on. */
object Current {
  val OpKey = "perfbench.op"
  val PhaseKey = "perfbench.phase"
  @volatile var op: String = ""
  @volatile var phase: String = ""
}

/** Records every layer boundary Spark reports through its public listener
  * APIs: jobs, stages (with task metrics and per-task durations), the
  * planning phases of each SQL execution, and streaming micro-batches.
  * Records are kept in memory and written out when the run ends. */
final class Recorder extends SparkListener {
  val records = new ConcurrentLinkedQueue[String]()
  private val stageJob = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
  private val jobOp = new java.util.concurrent.ConcurrentHashMap[Int, (String, String)]()
  private val taskDur =
    new java.util.concurrent.ConcurrentHashMap[(Int, Int), mutable.ArrayBuffer[Long]]()

  private def opOf(props: java.util.Properties): (String, String) =
    if (props != null && props.getProperty(Current.OpKey) != null)
      (props.getProperty(Current.OpKey), props.getProperty(Current.PhaseKey, ""))
    else (Current.op, Current.phase)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val (op, phase) = opOf(e.properties)
    jobOp.put(e.jobId, (op, phase))
    e.stageIds.foreach(s => stageJob.put(s, e.jobId))
    records.add(Json.obj(Seq("kind" -> "job_start", "op" -> op, "phase" -> phase,
      "job" -> e.jobId, "t" -> e.time, "stages" -> e.stageIds)))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    val (op, phase) = jobOp.getOrDefault(e.jobId, (Current.op, Current.phase))
    records.add(Json.obj(Seq("kind" -> "job_end", "op" -> op, "phase" -> phase,
      "job" -> e.jobId, "t" -> e.time)))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    if (e.taskInfo != null) taskDur
      .computeIfAbsent((e.stageId, e.stageAttemptId), _ => mutable.ArrayBuffer.empty[Long])
      .append(e.taskInfo.duration)

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val s = e.stageInfo
    val job: Int = stageJob.getOrDefault(s.stageId, -1)
    val (op, phase) = jobOp.getOrDefault(job, (Current.op, Current.phase))
    val durs = Option(taskDur.remove((s.stageId, s.attemptNumber())))
      .map(_.sorted.toSeq).getOrElse(Nil)
    val m = s.taskMetrics
    val metrics: Seq[(String, Any)] = if (m == null) Nil else Seq(
      "run_ms" -> m.executorRunTime,
      "cpu_ns" -> m.executorCpuTime,
      "gc_ms" -> m.jvmGCTime,
      "shuffle_w_bytes" -> m.shuffleWriteMetrics.bytesWritten,
      "shuffle_w_records" -> m.shuffleWriteMetrics.recordsWritten,
      "shuffle_r_bytes" -> m.shuffleReadMetrics.totalBytesRead,
      "fetch_wait_ms" -> m.shuffleReadMetrics.fetchWaitTime,
      "spill_bytes" -> (m.memoryBytesSpilled + m.diskBytesSpilled),
      "in_bytes" -> m.inputMetrics.bytesRead,
      "in_records" -> m.inputMetrics.recordsRead,
      "out_bytes" -> m.outputMetrics.bytesWritten)
    records.add(Json.obj(Seq("kind" -> "stage", "op" -> op, "phase" -> phase,
      "job" -> job, "stage" -> s.stageId, "attempt" -> s.attemptNumber(),
      "name" -> s.name,
      "start" -> s.submissionTime.getOrElse(0L), "end" -> s.completionTime.getOrElse(0L),
      "tasks" -> s.numTasks,
      "task_max_ms" -> durs.lastOption.getOrElse(0L),
      "task_median_ms" -> (if (durs.isEmpty) 0L else durs(durs.size / 2))) ++ metrics))
  }
}

/** Catalyst phases of every SQL execution, from its planning tracker. */
final class PlanningRecorder(records: ConcurrentLinkedQueue[String])
    extends QueryExecutionListener {
  private def record(qe: QueryExecution, ok: Boolean): Unit = {
    val phases = qe.tracker.phases.toSeq.sortBy(_._2.startTimeMs).map { case (n, p) =>
      Map("name" -> n, "start" -> p.startTimeMs, "end" -> p.endTimeMs)
    }
    records.add(Json.obj(Seq("kind" -> "sql", "op" -> Current.op,
      "phase" -> Current.phase, "ok" -> ok, "phases" -> phases)))
  }
  override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = record(qe, ok = true)
  override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = record(qe, ok = false)
}

/** Micro-batch progress of every streaming query. */
final class StreamRecorder(records: ConcurrentLinkedQueue[String])
    extends StreamingQueryListener {
  import StreamingQueryListener._
  override def onQueryStarted(e: QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: QueryProgressEvent): Unit = {
    val p = e.progress
    val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }
    records.add(Json.obj(Seq("kind" -> "batch", "op" -> Current.op,
      "phase" -> Current.phase, "batch" -> p.batchId,
      "start" -> java.time.Instant.parse(p.timestamp).toEpochMilli,
      "rows" -> p.numInputRows) ++ d.toSeq.sortBy(_._1)))
  }
}

/** Time and invocation counts of the engine's own optimizer rules, from
  * Spark's process-wide rule meter (reset around each op). */
object RuleMeter {
  import org.apache.spark.sql.catalyst.rules.RuleExecutor
  private val Line = """^(\S+)\s+(\d+) / (\d+)\s+(\d+) / (\d+)\s*$""".r

  def reset(): Unit = RuleExecutor.resetMetrics()

  /** rule -> (total ns, invocations, effective invocations), graft rules only. */
  def graftRules(): Seq[(String, Long, Long, Long)] =
    RuleExecutor.dumpTimeSpent().linesIterator.collect {
      case Line(rule, _, total, eff, runs) if rule.startsWith("graft.") =>
        (rule.stripPrefix("graft.plans.").stripSuffix("$"), total.toLong, runs.toLong, eff.toLong)
    }.toSeq
}
