package graftbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

object Trace {
  /** Local property naming the query execution ("pass:name") that submits
    * a job; stream threads inherit it from the client thread. */
  val QidKey = "graftbench.qid"
}

/** Records, from Spark's public listener APIs and the JVM MXBeans, what
  * each layer did while the traced passes ran. Raw events are kept in
  * memory, each as one JSON object, and written out once at the end;
  * run.py builds the spans and per-layer metrics from them.
  *
  * - Spark jobs, stages and tasks (SparkListener).
  * - Catalyst phase timestamps of every action's QueryPlanningTracker
  *   (QueryExecutionListener), plus the tracker of the DataFrame each
  *   query builder returns (its analysis ran while it was built).
  * - Streaming trigger progress (StreamingQueryListener).
  * - Per query: janino compiles (CodegenMetrics, CodeGenerator), JVM GC
  *   and JIT time, and peak heap.
  */
final class Trace(spark: SparkSession) {
  private val events = new ConcurrentLinkedQueue[String]()
  private val seenPlans = java.util.Collections.newSetFromMap(
    new java.util.WeakHashMap[QueryExecution, java.lang.Boolean]())

  private def emit(kind: String, fields: (String, String)*): Unit =
    events.add(Json.obj(("type" -> Json.str(kind)) +: fields: _*))

  def recordPlanning(qe: QueryExecution): Unit =
    if (seenPlans.synchronized(seenPlans.add(qe))) {
      qe.tracker.phases.foreach { case (phase, p) =>
        emit("phase", "phase" -> Json.str(phase),
          "start_ms" -> p.startTimeMs.toString, "end_ms" -> p.endTimeMs.toString)
      }
    }

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      emit("job_start", "job" -> e.jobId.toString, "time_ms" -> e.time.toString,
        "qid" -> Option(e.properties).flatMap(p => Option(p.getProperty(Trace.QidKey)))
          .map(Json.str).getOrElse("null"),
        "stages" -> e.stageIds.mkString("[", ",", "]"))

    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      emit("job_end", "job" -> e.jobId.toString, "time_ms" -> e.time.toString)

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val s = e.stageInfo
      emit("stage", "stage" -> s.stageId.toString,
        "start_ms" -> s.submissionTime.getOrElse(0L).toString,
        "end_ms" -> s.completionTime.getOrElse(0L).toString,
        "tasks" -> s.numTasks.toString)
    }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val i = e.taskInfo
      val m = e.taskMetrics
      if (i != null && m != null) {
        val duration = i.finishTime - i.launchTime
        val gettingResult =
          if (i.gettingResultTime > 0) i.finishTime - i.gettingResultTime else 0L
        // the Spark UI's definition of scheduler delay
        val delay = math.max(0L, duration - m.executorRunTime -
          m.executorDeserializeTime - m.resultSerializationTime - gettingResult)
        val sr = m.shuffleReadMetrics
        emit("task", "stage" -> e.stageId.toString,
          "start_ms" -> i.launchTime.toString, "end_ms" -> i.finishTime.toString,
          "run_ms" -> m.executorRunTime.toString,
          "cpu_ms" -> (m.executorCpuTime / 1e6).toString,
          "gc_ms" -> m.jvmGCTime.toString,
          "peak_mem" -> m.peakExecutionMemory.toString,
          "delay_ms" -> delay.toString,
          "shuffle_write" -> m.shuffleWriteMetrics.bytesWritten.toString,
          "shuffle_read" -> (sr.remoteBytesRead + sr.localBytesRead).toString,
          "spill" -> (m.memoryBytesSpilled + m.diskBytesSpilled).toString,
          "in_bytes" -> m.inputMetrics.bytesRead.toString,
          "in_records" -> m.inputMetrics.recordsRead.toString,
          "out_bytes" -> m.outputMetrics.bytesWritten.toString,
          "out_records" -> m.outputMetrics.recordsWritten.toString)
      }
    }
  }

  private val planListener = new QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
      recordPlanning(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit =
      recordPlanning(qe)
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(
        e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val ops = p.stateOperators.toSeq
      emit("trigger", "run" -> Json.str(p.runId.toString),
        "start_ms" -> java.time.Instant.parse(p.timestamp).toEpochMilli.toString,
        "durations" -> Json.obj(p.durationMs.asScala.toSeq
          .map { case (k, v) => k -> v.toString }: _*),
        "state_rows" -> ops.map(_.numRowsTotal).sum.toString,
        "state_commit_ms" -> ops.map(_.commitTimeMs).sum.toString)
    }
  }

  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP).toSeq
  private val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala.toSeq
  private val jit = ManagementFactory.getCompilationMXBean

  private def jvmCounters(): Map[String, Double] = Map(
    "codegen.compiles" -> CodegenMetrics.METRIC_COMPILATION_TIME.getCount.toDouble,
    "codegen.compile_ms" -> CodeGenerator.compileTime / 1e6,
    "jvm.gc_ms" -> gcBeans.map(_.getCollectionTime.max(0L)).sum.toDouble,
    "jvm.jit_ms" -> jit.getTotalCompilationTime.toDouble)

  private var before: Map[String, Double] = Map.empty

  def beforeQuery(): Unit = {
    heapPools.foreach(_.resetPeakUsage())
    before = jvmCounters()
  }

  /** Counter deltas over the query, plus its peak heap (sum of the heap
    * pools' peaks, which bounds the true peak from above). */
  def afterQuery(): Map[String, Double] = {
    val after = jvmCounters()
    after.map { case (k, v) => k -> (v - before(k)) } +
      ("jvm.heap_peak_mb" -> heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0)
  }

  def attach(): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(planListener)
    spark.streams.addListener(streamListener)
  }

  /** Wait until the asynchronous listener buses have delivered everything
    * (no new event for 300 ms, at most 10 s), then detach. */
  def detach(): Unit = {
    var last = -1
    var quiet = 0
    var waited = 0
    while (quiet < 3 && waited < 100) {
      Thread.sleep(100)
      waited += 1
      val n = events.size
      if (n == last) quiet += 1 else { quiet = 0; last = n }
    }
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(planListener)
    spark.streams.removeListener(streamListener)
  }

  def json: String = events.asScala.mkString("[", ",", "]")
}
