package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.json4s.{DefaultFormats, Formats}
import org.json4s.jackson.Serialization.write

/** One Spark job as the traced run sees it: the properties that say who
  * launched it, and the stages it ran. `module` is the repo file of the
  * first `graft.` frame on the job's call site; inside a stream every job
  * carries the call site of the query's start, so `owner` names the job
  * by the sink or index directory its SQL plan writes ([[Trace.Owners]]),
  * or `compute` when it writes nothing. */
final case class JobSpan(jobId: Int, queryId: String,
    batchId: Long, module: String, owner: String, startMs: Long, var endMs: Long,
    stageIds: Seq[Int])

/** One completed stage with the counters the per-layer metrics read. */
final case class StageSpan(stageId: Int, attempt: Int, name: String,
    tasks: Int, executorMs: Long,
    shuffleReadBytes: Long, shuffleWriteBytes: Long, outputBytes: Long,
    spillBytes: Long, startMs: Long, endMs: Long)

/** One microbatch as [[StreamingQueryListener]] reports it. */
final case class BatchSpan(queryId: String, batchId: Long, inputRows: Long,
    triggerMs: Long, addBatchMs: Long, stateRows: Long, stateBytes: Long)

/** In-memory span store for the traced run. Registers one
  * [[SparkListener]] and one [[StreamingQueryListener]]; nothing is
  * written until [[dump]] at the end of the run. */
final class Trace(spark: SparkSession) {
  val jobs    = new ConcurrentHashMap[Int, JobSpan]()
  val stages  = new ConcurrentHashMap[(Int, Int), StageSpan]()
  val batches = new java.util.concurrent.ConcurrentLinkedQueue[BatchSpan]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  private val plans = new ConcurrentHashMap[Long, String]()

  private val jobListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val p = Option(e.properties)
      def prop(k: String) = p.flatMap(x => Option(x.getProperty(k))).getOrElse("")
      val batch = prop("streaming.sql.batchId")
      val module = e.stageInfos.sortBy(_.stageId).lastOption
        .map(s => Trace.module(s.details)).getOrElse("spark")
      val exec = prop("spark.sql.execution.id")
      val owner = Trace.owner(
        if (exec.isEmpty) "" else Option(plans.get(exec.toLong)).getOrElse(""))
      jobs.put(e.jobId, JobSpan(e.jobId, prop("sql.streaming.queryId"), if (batch.isEmpty) -1L else batch.toLong,
        module, owner, e.time, -1L, e.stageIds))
      e.stageIds.foreach(s => stageJob.put(s, e.jobId))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val s = e.stageInfo
      val m = s.taskMetrics
      stages.put((s.stageId, s.attemptNumber()), StageSpan(s.stageId,
        s.attemptNumber(), s.name, s.numTasks,
        if (m == null) 0L else m.executorRunTime,
        if (m == null) 0L else m.shuffleReadMetrics.totalBytesRead,
        if (m == null) 0L else m.shuffleWriteMetrics.bytesWritten,
        if (m == null) 0L else m.outputMetrics.bytesWritten,
        if (m == null) 0L else m.memoryBytesSpilled + m.diskBytesSpilled,
        s.submissionTime.getOrElse(0L), s.completionTime.getOrElse(0L)))
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case x: SparkListenerSQLExecutionStart => plans.put(x.executionId, x.physicalPlanDescription)
      case _ => ()
    }
  }

  private val streamListener = new StreamingQueryListener {
    import StreamingQueryListener._
    override def onQueryStarted(e: QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: QueryProgressEvent): Unit = {
      val p = e.progress
      def d(k: String) = Option(p.durationMs.get(k)).map(_.longValue()).getOrElse(0L)
      batches.add(BatchSpan(p.id.toString, p.batchId, p.numInputRows,
        d("triggerExecution"), d("addBatch"),
        p.stateOperators.map(_.numRowsTotal).sum,
        p.stateOperators.map(_.memoryUsedBytes).sum))
    }
  }

  /** Attach both listeners once events of earlier work (a progress-sink
    * write for a warm-up batch) have been delivered, so the window
    * holds the measured work only. */
  def start(): Unit = {
    org.apache.spark.perfbenchbridge.ListenerBus.drain(spark.sparkContext)
    spark.sparkContext.addSparkListener(jobListener)
    spark.streams.addListener(streamListener)
  }

  /** Detach both listeners once every queued event has been delivered. */
  def stop(): Unit = {
    org.apache.spark.perfbenchbridge.ListenerBus.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(jobListener)
    spark.streams.removeListener(streamListener)
  }

  def jobOf(stageId: Int): Option[JobSpan] =
    Option(stageJob.get(stageId)).flatMap(j => Option(jobs.get(j)))

  def stageList: Seq[StageSpan] = stages.values().asScala.toSeq.sortBy(s => (s.stageId, s.attempt))
  def jobList: Seq[JobSpan] = jobs.values().asScala.toSeq.sortBy(_.jobId)
  def batchList: Seq[BatchSpan] = batches.asScala.toSeq

  /** Write every span as one JSON line. */
  def dump(path: String): Unit = {
    implicit val formats: Formats = DefaultFormats
    val out = new java.io.PrintWriter(path, "UTF-8")
    try {
      jobList.foreach(j => out.println(write(Map("kind" -> "job", "job" -> j.jobId,
        "query_id" -> j.queryId, "batch_id" -> j.batchId,
        "module" -> j.module, "owner" -> j.owner,
        "start_ms" -> j.startMs, "end_ms" -> j.endMs, "stages" -> j.stageIds))))
      stageList.foreach(s => out.println(write(Map("kind" -> "stage",
        "stage" -> s.stageId, "attempt" -> s.attempt,
        "job" -> jobOf(s.stageId).map(_.jobId).getOrElse(-1),
        "module" -> jobOf(s.stageId).map(_.module).getOrElse("spark"),
        "owner" -> jobOf(s.stageId).map(_.owner).getOrElse("compute"),
        "name" -> s.name,
        "tasks" -> s.tasks, "executor_ms" -> s.executorMs,
        "shuffle_read" -> s.shuffleReadBytes, "shuffle_write" -> s.shuffleWriteBytes,
        "output" -> s.outputBytes, "spill" -> s.spillBytes,
        "start_ms" -> s.startMs, "end_ms" -> s.endMs))))
      batchList.foreach(b => out.println(write(Map("kind" -> "batch",
        "query_id" -> b.queryId, "batch_id" -> b.batchId, "rows" -> b.inputRows,
        "trigger_ms" -> b.triggerMs, "add_batch_ms" -> b.addBatchMs,
        "state_rows" -> b.stateRows, "state_bytes" -> b.stateBytes))))
    } finally out.close()
  }
}

object Trace {
  /** Write targets by directory: `(path fragment, owner name)`, first
    * match wins. */
  val Owners: Seq[(String, String)] = Seq(
    "/artifacts/dedup" -> "DedupIndex.append",
    "/artifacts/neardup" -> "StreamingNearDup.append",
    "/artifacts/substr" -> "SubstringIndex.append",
    "/artifacts/winnow" -> "WinnowIndex.append",
    "/out/decisions" -> "AdmissionPipeline.decisions",
    "._hwm" -> "IngestPipeline.hwm",
    "/normalized" -> "IngestPipeline.normalized",
    "/raw" -> "IngestPipeline.raw",
    "/rejects" -> "IngestPipeline.rejects",
    "/stats" -> "IngestPipeline.stats",
    "/progress" -> "Monitoring.progress")

  private val Write = "InsertIntoHadoopFsRelationCommand"
  private val Path = """file:[^,\s\]]+""".r
  private val Frame = """^\s*(?:at\s+)?([\w$.]+)\.([\w$]+)\(([\w$]+)\.scala:\d+\)""".r

  /** The owner of a SQL execution from the directory its plan writes:
    * the first path after the write command, which is its target in both
    * the one-line and the formatted plan layouts. */
  def owner(plan: String): String = {
    val at = plan.indexOf(Write)
    (if (at < 0) None else Path.findFirstIn(plan.substring(at))).flatMap(path =>
      Owners.collectFirst { case (frag, name) if path.contains(frag) => name })
      .getOrElse("compute")
  }

  /** The repo file of the first `graft.` frame on a call site. */
  def module(details: String): String = {
    val files = Option(details).getOrElse("").linesIterator.flatMap { l =>
      Frame.findFirstMatchIn(l).map(m => (m.group(1), m.group(3)))
    }.toSeq
    files.collectFirst { case (cls, file) if cls.startsWith("graft.") => file }
      .orElse(files.collectFirst { case (cls, _) if cls.startsWith("perfbench.") => "perfbench" })
      .getOrElse("spark")
  }
}
