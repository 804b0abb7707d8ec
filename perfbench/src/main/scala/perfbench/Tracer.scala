package perfbench

import java.io.PrintWriter

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.PerfbenchBridge
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval of the span tree run → op → {build, action} →
  * job → stage. Times are epoch milliseconds. */
final case class Span(id: String, parent: String, kind: String, name: String,
                      start: Double, end: Double) {
  def dur: Double = end - start
}

/** Everything the listeners saw while one operation (a request, a
  * pipeline or a drain) was the current one. */
final class OpTrace(val id: String, val name: String, val start: Double) {
  var buildEnd: Double = start
  var end: Double = start
  val jobs = ArrayBuffer.empty[Span]
  val stages = ArrayBuffer.empty[Span]
  val jobOfStage = scala.collection.mutable.Map.empty[Int, String]
  val taskDurations = scala.collection.mutable.Map.empty[Int, ArrayBuffer[Double]]
  var tasks = 0L
  var runMs, cpuMs, gcMs = 0.0
  var shuffleWriteBytes, shuffleReadRecords, spillBytes = 0.0
  var inputBytes, inputRecords, outputBytes = 0.0
  var peakExecMem = 0.0
  var analysisMs, optimizationMs, planningMs = 0.0
  val streamMs = scala.collection.mutable.Map.empty[String, Double].withDefaultValue(0.0)
  var stateRows, stateMemBytes, droppedByWatermark = 0.0

  def buildJobs: Int = jobs.count(_.start < buildEnd)
  def actionJobs: Seq[Span] = jobs.filter(_.start >= buildEnd).toSeq
}

/** Reads Spark's three public listener buses and attributes every event
  * to the operation that was current when it was posted. The harness
  * runs operations one at a time and drains the bus at the end of each,
  * so "current at delivery" is "current when posted". */
final class Tracer(spark: SparkSession) {
  private val nanoBase = System.nanoTime()
  private val epochBase = System.currentTimeMillis().toDouble
  def now: Double = epochBase + (System.nanoTime() - nanoBase) / 1e6

  @volatile private var current: OpTrace = _
  val ops = ArrayBuffer.empty[OpTrace]
  private val runStart = now

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Option(current).foreach { op =>
      op.synchronized {
        val id = s"${op.id}/job${e.jobId}"
        op.jobs += Span(id, "", "job", s"job${e.jobId}", e.time.toDouble, Double.NaN)
        e.stageIds.foreach(s => op.jobOfStage.getOrElseUpdate(s, id))
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Option(current).foreach { op =>
      op.synchronized {
        val i = op.jobs.indexWhere(_.name == s"job${e.jobId}")
        if (i >= 0) op.jobs(i) = op.jobs(i).copy(end = e.time.toDouble)
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Option(current).foreach { op =>
        val si = e.stageInfo
        for (s <- si.submissionTime; c <- si.completionTime) op.synchronized {
          op.stages += Span(s"${op.id}/stage${si.stageId}",
            op.jobOfStage.getOrElse(si.stageId, op.id), "stage",
            s"stage${si.stageId}", s.toDouble, c.toDouble)
        }
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Option(current).foreach { op =>
      val m = e.taskMetrics
      if (m != null) op.synchronized {
        op.tasks += 1
        op.runMs += m.executorRunTime
        op.cpuMs += m.executorCpuTime / 1e6
        op.gcMs += m.jvmGCTime
        op.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        op.shuffleReadRecords += m.shuffleReadMetrics.recordsRead
        op.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        op.inputBytes += m.inputMetrics.bytesRead
        op.inputRecords += m.inputMetrics.recordsRead
        op.outputBytes += m.outputMetrics.bytesWritten
        op.peakExecMem = math.max(op.peakExecMem, m.peakExecutionMemory.toDouble)
        op.taskDurations.getOrElseUpdate(e.stageId, ArrayBuffer.empty) +=
          e.taskInfo.duration.toDouble
      }
    }
  }

  private val queryListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      Option(current).foreach { op =>
        val ph = qe.tracker.phases
        // only the action's phases: build-time actions plan their own queries
        if (ph.get("analysis").forall(_.startTimeMs >= op.buildEnd - 1)) op.synchronized {
          op.analysisMs += ph.get("analysis").map(_.durationMs).getOrElse(0L)
          op.optimizationMs += ph.get("optimization").map(_.durationMs).getOrElse(0L)
          op.planningMs += ph.get("planning").map(_.durationMs).getOrElse(0L)
        }
      }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      Option(current).foreach { op =>
        import scala.jdk.CollectionConverters._
        val p = e.progress
        op.synchronized {
          p.durationMs.asScala.foreach { case (k, v) => op.streamMs(k) += v.toDouble }
          p.stateOperators.headOption.foreach { s =>
            op.stateRows = s.numRowsTotal.toDouble
            op.stateMemBytes = s.memoryUsedBytes.toDouble
            op.droppedByWatermark += s.numRowsDroppedByWatermark
          }
        }
      }
  }

  spark.sparkContext.addSparkListener(sparkListener)
  spark.listenerManager.register(queryListener)
  spark.streams.addListener(streamListener)

  def begin(id: String, name: String): OpTrace = {
    PerfbenchBridge.drainListeners(spark.sparkContext)
    val op = new OpTrace(id, name, now)
    current = op
    op
  }

  def markBuilt(op: OpTrace): Unit = op.buildEnd = now

  def end(op: OpTrace): Unit = {
    op.end = now
    PerfbenchBridge.drainListeners(spark.sparkContext)
    current = null
    ops += op
  }

  def close(): Unit = {
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(queryListener)
    spark.streams.removeListener(streamListener)
  }

  // ---- span tree and self time ----

  /** Length of the union of intervals. */
  private def union(iv: Seq[(Double, Double)]): Double = {
    var total, lo, hi = 0.0
    var open = false
    iv.filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
      if (!open) { lo = a; hi = b; open = true }
      else if (a > hi) { total += hi - lo; lo = a; hi = b }
      else hi = math.max(hi, b)
    }
    if (open) total += hi - lo
    total
  }

  private def clip(s: Span, a: Double, b: Double): (Double, Double) =
    (math.max(s.start, a), math.min(if (s.end.isNaN) b else s.end, b))

  def spans(op: OpTrace): Seq[Span] = {
    val req = Span(op.id, "run", "op", op.name, op.start, op.end)
    val build = Span(op.id + "/build", op.id, "build", op.name, op.start, op.buildEnd)
    val action = Span(op.id + "/action", op.id, "action", op.name, op.buildEnd, op.end)
    val jobs = op.jobs.map(j => j.copy(parent = if (j.start < op.buildEnd) build.id else action.id,
      end = if (j.end.isNaN) op.end else j.end))
    Seq(req, build, action) ++ jobs ++ op.stages
  }

  /** Mean self time per operation of each span kind: its duration minus
    * the time its children cover. */
  def selfTimes: Map[String, Double] = {
    val n = math.max(ops.size, 1)
    val acc = scala.collection.mutable.Map.empty[String, Double].withDefaultValue(0.0)
    ops.foreach { op =>
      val ss = spans(op)
      val byParent = ss.groupBy(_.parent)
      ss.foreach { s =>
        val kids = byParent.getOrElse(s.id, Nil).map(c => clip(c, s.start, s.end))
        acc(s.kind) += s.dur - union(kids)
      }
    }
    acc.map { case (k, v) => k -> v / n }.toMap
  }

  def writeSpans(path: java.nio.file.Path): Unit = {
    java.nio.file.Files.createDirectories(path.getParent)
    val w = new PrintWriter(path.toFile, "UTF-8")
    try {
      def line(s: Span): Unit = w.println(
        f"""{"id":"${s.id}","parent":"${s.parent}","kind":"${s.kind}","name":"${s.name}","start_ms":${s.start - runStart}%.3f,"end_ms":${s.end - runStart}%.3f}""")
      line(Span("run", "", "run", "run", runStart, now))
      ops.foreach(op => spans(op).foreach(line))
    } finally w.close()
  }

  // ---- per-layer aggregates over the traced operations ----

  def layerMetrics(wallMs: Double, cores: Int): Map[String, Double] = {
    val n = math.max(ops.size, 1).toDouble
    def per(f: OpTrace => Double): Double = ops.map(f).sum / n
    val skews = ops.flatMap(_.taskDurations.values).filter(_.size >= 2).map { d =>
      d.max / math.max(Stats.median(d.toSeq), 1.0)
    }
    val totalRun = ops.map(_.runMs).sum
    val self = selfTimes
    Map(
      "query.build_ms" -> per(o => o.buildEnd - o.start),
      "query.build_jobs" -> per(_.buildJobs.toDouble),
      "query.analysis_ms" -> per(_.analysisMs),
      "query.optimization_ms" -> per(_.optimizationMs),
      "query.planning_ms" -> per(_.planningMs),
      "query.jobs" -> per(_.jobs.size.toDouble),
      "query.stages" -> per(_.stages.size.toDouble),
      "query.tasks" -> per(_.tasks.toDouble),
      "query.job_wall_ms" -> per(o => union(o.actionJobs.map(j => clip(j, o.buildEnd, o.end)))),
      "exec.task_run_ms" -> per(_.runMs),
      "exec.task_cpu_ms" -> per(_.cpuMs),
      "exec.gc_ms" -> per(_.gcMs),
      "exec.cpu_util" -> (if (wallMs > 0) totalRun / (wallMs * cores) else 0.0),
      "exec.shuffle_write_bytes" -> per(_.shuffleWriteBytes),
      "exec.shuffle_read_records" -> per(_.shuffleReadRecords),
      "exec.spill_bytes" -> per(_.spillBytes),
      "exec.peak_exec_mem_bytes" -> (if (ops.isEmpty) 0.0 else ops.map(_.peakExecMem).max),
      "exec.stage_skew" -> (if (skews.isEmpty) 0.0 else Stats.median(skews.toSeq)),
      "exec.input_bytes" -> per(_.inputBytes),
      "exec.input_records" -> per(_.inputRecords),
      "exec.output_bytes" -> per(_.outputBytes),
      "trace.self_build_ms" -> self.getOrElse("build", 0.0),
      "trace.self_action_ms" -> self.getOrElse("action", 0.0),
      "trace.self_job_ms" -> self.getOrElse("job", 0.0),
      "trace.self_stage_ms" -> self.getOrElse("stage", 0.0),
      "trace.build_planning_share" -> {
        // driver-side construction: the build span less the jobs run in it
        def construction(o: OpTrace): Double = (o.buildEnd - o.start) -
          union(o.jobs.filter(_.start < o.buildEnd).map(j => clip(j, o.start, o.buildEnd)).toSeq)
        val tot = ops.map(o => o.end - o.start).sum
        if (tot <= 0) 0.0
        else ops.map(o => construction(o) + o.analysisMs + o.optimizationMs + o.planningMs).sum / tot
      },
      "stream.get_batch_ms" -> per(_.streamMs("getBatch")),
      "stream.query_planning_ms" -> per(_.streamMs("queryPlanning")),
      "stream.add_batch_ms" -> per(_.streamMs("addBatch")),
      "stream.wal_commit_ms" -> per(_.streamMs("walCommit")),
      "stream.commit_offsets_ms" -> per(_.streamMs("commitOffsets")),
      "stream.state_rows" -> (if (ops.isEmpty) 0.0 else ops.map(_.stateRows).max),
      "stream.state_mem_bytes" -> (if (ops.isEmpty) 0.0 else ops.map(_.stateMemBytes).max),
      "stream.rows_dropped_by_watermark" -> ops.map(_.droppedByWatermark).sum,
    )
  }
}
