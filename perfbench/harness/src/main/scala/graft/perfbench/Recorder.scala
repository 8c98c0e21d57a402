package graft.perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicReference

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Raw layer events, collected from Spark's public listener APIs only.
  *
  * The recorder keeps facts, not metrics: one entry per job, per stage
  * (its task metrics summed on the fly, so memory stays O(stages)), per
  * query execution (the `QueryPlanningTracker` phases) and per streaming
  * trigger. `run.py` derives every metric from these entries, so the
  * arithmetic lives in one tested place. */
final class Recorder {
  import Recorder._

  val jobs = new ConcurrentLinkedQueue[Obj]()
  val stages = new ConcurrentLinkedQueue[Obj]()
  val plans = new ConcurrentLinkedQueue[Obj]()
  val progress = new ConcurrentLinkedQueue[Obj]()

  /** End offset (`EnvelopeOffset.last`) of the latest committed trigger. */
  val committedLast = new AtomicReference[String]("")

  private final class StageAcc {
    var tasks, failed = 0L
    var runMs, cpuNs, gcMs, delayMs, maxRunMs = 0L
    var shWrite, shRead, fetchWaitMs, spill = 0L
    var inBytes, inRows, inRunMs, outRows = 0L
  }
  private val acc = new java.util.concurrent.ConcurrentHashMap[(Int, Int), StageAcc]()

  val sparkListener: SparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      jobs.add(obj("id" -> e.jobId, "start_ms" -> e.time,
        "stages" -> e.stageIds.toList.asJava, "phase" -> "start"))

    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      jobs.add(obj("id" -> e.jobId, "end_ms" -> e.time,
        "ok" -> (e.jobResult == JobSucceeded), "phase" -> "end"))

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val a = acc.computeIfAbsent((e.stageId, e.stageAttemptId), _ => new StageAcc)
      val info = e.taskInfo
      val m = e.taskMetrics
      a.synchronized {
        a.tasks += 1
        if (!info.successful) a.failed += 1
        if (m != null) {
          val run = m.executorRunTime
          a.runMs += run
          a.maxRunMs = math.max(a.maxRunMs, run)
          a.cpuNs += m.executorCpuTime
          a.gcMs += m.jvmGCTime
          // the Spark UI's scheduler-delay formula
          val dur = info.finishTime - info.launchTime
          a.delayMs += math.max(0L, dur - run - m.executorDeserializeTime -
            m.resultSerializationTime - info.gettingResultTime)
          a.shWrite += m.shuffleWriteMetrics.bytesWritten
          a.shRead += m.shuffleReadMetrics.totalBytesRead
          a.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
          a.spill += m.diskBytesSpilled
          a.inBytes += m.inputMetrics.bytesRead
          a.inRows += m.inputMetrics.recordsRead
          if (m.inputMetrics.recordsRead > 0) a.inRunMs += run
          a.outRows += m.outputMetrics.recordsWritten
        }
      }
    }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val s = e.stageInfo
      val a = Option(acc.remove((s.stageId, s.attemptNumber()))).getOrElse(new StageAcc)
      stages.add(obj(
        "id" -> s.stageId, "attempt" -> s.attemptNumber(),
        "submit_ms" -> s.submissionTime.getOrElse(-1L),
        "end_ms" -> s.completionTime.getOrElse(-1L),
        "num_tasks" -> s.numTasks, "tasks" -> a.tasks,
        "failed_tasks" -> a.failed, "ok" -> s.failureReason.isEmpty,
        "run_ms" -> a.runMs, "max_run_ms" -> a.maxRunMs, "cpu_ns" -> a.cpuNs,
        "gc_ms" -> a.gcMs, "sched_delay_ms" -> a.delayMs,
        "shuffle_write_bytes" -> a.shWrite, "shuffle_read_bytes" -> a.shRead,
        "fetch_wait_ms" -> a.fetchWaitMs, "spill_bytes" -> a.spill,
        "input_bytes" -> a.inBytes, "input_rows" -> a.inRows,
        "input_run_ms" -> a.inRunMs, "output_rows" -> a.outRows))
    }
  }

  val queryListener: QueryExecutionListener = new QueryExecutionListener {
    private def record(qe: QueryExecution): Unit = {
      val ph = qe.tracker.phases
      def get(k: String) = ph.get(k)
      plans.add(obj(
        "start_ms" -> ph.values.map(_.startTimeMs).minOption.getOrElse(-1L),
        "end_ms" -> ph.values.map(_.endTimeMs).maxOption.getOrElse(-1L),
        "analysis_ms" -> get("analysis").map(_.durationMs).getOrElse(0L),
        "optimization_ms" -> get("optimization").map(_.durationMs).getOrElse(0L),
        "planning_ms" -> get("planning").map(_.durationMs).getOrElse(0L)))
    }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      record(qe)
  }

  val streamListener: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val d = p.durationMs.asScala.map { case (k, v) => k -> Long.box(v.longValue) }
      val startMs = java.time.Instant.parse(p.timestamp).toEpochMilli
      val endOffset = Option(p.sources).flatMap(_.headOption).map(_.endOffset).orNull
      val last = Option(endOffset).map(offsetLast).getOrElse("")
      val st = Option(p.stateOperators).flatMap(_.headOption)
      progress.add(obj(
        "batch" -> p.batchId, "start_ms" -> startMs,
        "commit_ms" -> (startMs + d.get("triggerExecution").map(_.longValue).getOrElse(0L)),
        "last" -> last, "input_rows" -> p.numInputRows,
        "duration_ms" -> d.asJava,
        "state_rows" -> st.map(_.numRowsTotal).getOrElse(0L),
        "state_mem_bytes" -> st.map(_.memoryUsedBytes).getOrElse(0L),
        "state_commit_ms" -> st.map(_.commitTimeMs).getOrElse(0L),
        "sink_rows" -> Option(p.sink).map(_.numOutputRows).getOrElse(-1L)))
      if (last > committedLast.get) committedLast.set(last)
    }
  }

  private var attached = false

  def tracing: Boolean = attached

  /** Attach or detach the job/stage and query-execution listeners. */
  def trace(spark: SparkSession, on: Boolean): Unit =
    if (on != attached) {
      org.apache.spark.perfbench.BusDrain(spark.sparkContext)
      if (on) {
        spark.sparkContext.addSparkListener(sparkListener)
        spark.listenerManager.register(queryListener)
      } else {
        spark.sparkContext.removeSparkListener(sparkListener)
        spark.listenerManager.unregister(queryListener)
      }
      attached = on
    }

  /** Jobs merged from their start/end halves, in start order. */
  def jobList: java.util.List[Obj] = {
    val byId = scala.collection.mutable.LinkedHashMap[Int, Obj]()
    jobs.asScala.foreach { j =>
      val id = j.get("id").asInstanceOf[Int]
      val m = byId.getOrElseUpdate(id, obj("id" -> id))
      j.asScala.foreach { case (k, v) => if (k != "phase") m.put(k, v) }
    }
    byId.values.toList.asJava
  }
}

object Recorder {
  type Obj = java.util.LinkedHashMap[String, Any]

  def obj(kv: (String, Any)*): Obj = {
    val m = new Obj()
    kv.foreach { case (k, v) => m.put(k, v) }
    m
  }

  /** `{"last": "<file name>"}` → the file name. */
  def offsetLast(json: String): String =
    new com.fasterxml.jackson.databind.ObjectMapper().readTree(json).get("last").asText()
}
