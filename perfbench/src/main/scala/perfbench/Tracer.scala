package perfbench

import scala.collection.mutable
import org.apache.spark.PerfbenchAccess
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One traced interval. Times are epoch microseconds; `flowId` is shared by
  * every span of one flow execution; `parent` is -1 for a flow span. */
final case class Span(id: Int, flowId: String, name: String,
                      startUs: Long, endUs: Long, parent: Int)

/** The traced run's instruments, all registered from outside the engine: a
  * SparkListener (jobs, stages, tasks, RDD blocks), a QueryExecutionListener
  * (SQL phases of each action) and a StreamingQueryListener (micro-batch
  * progress), plus the codegen counters.
  *
  * After each flow the listener bus is drained, the flow's events are turned
  * into spans (flow → build | execute → SQL phases → jobs → stages) and, for
  * timed passes, folded into per-layer totals. */
final class Tracer(spark: SparkSession, cpus: Int) {
  private final case class Job(id: Int, startMs: Long, endMs: Long,
                               stageIds: Seq[Int])
  private final case class Stage(id: Int, submitMs: Long, endMs: Long,
                                 tasks: Int, runMs: Long, cpuNs: Long,
                                 gcMs: Long, shuffleReadB: Long,
                                 shuffleWriteB: Long, spillB: Long,
                                 readB: Long, readRecs: Long, writeB: Long,
                                 writeRecs: Long, taskMs: Seq[Long])
  private final case class Action(durNs: Long, phases: Map[String, (Long, Long)])
  private final case class Progress(query: String, durMs: Map[String, Long],
                                    stateRows: Long, stateBytes: Long,
                                    stateCommitMs: Long)

  private val jobStarts = mutable.Map[Int, (Long, Seq[Int])]()
  private val jobs = mutable.ArrayBuffer[Job]()
  private val taskMs = mutable.Map[Int, mutable.ArrayBuffer[Long]]()
  private val stages = mutable.ArrayBuffer[Stage]()
  private val actions = mutable.ArrayBuffer[Action]()
  private val progress = mutable.ArrayBuffer[Progress]()
  private val blockBytes = mutable.Map[String, Long]()
  private var heldBytes = 0L
  private var peakBytes = 0L

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
      jobStarts(e.jobId) = (e.time, e.stageIds)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Tracer.this.synchronized {
      jobStarts.remove(e.jobId).foreach { case (t, ids) =>
        jobs += Job(e.jobId, t, e.time, ids)
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Tracer.this.synchronized {
      taskMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer()) += e.taskInfo.duration
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = Tracer.this.synchronized {
      val i = e.stageInfo
      val m = i.taskMetrics
      val durs = taskMs.remove(i.stageId).map(_.toSeq).getOrElse(Nil)
      if (m != null) stages += Stage(i.stageId,
        i.submissionTime.getOrElse(0L), i.completionTime.getOrElse(0L),
        i.numTasks, m.executorRunTime, m.executorCpuTime, m.jvmGCTime,
        m.shuffleReadMetrics.totalBytesRead, m.shuffleWriteMetrics.bytesWritten,
        m.diskBytesSpilled, m.inputMetrics.bytesRead,
        m.inputMetrics.recordsRead, m.outputMetrics.bytesWritten,
        m.outputMetrics.recordsWritten, durs)
    }
    override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = Tracer.this.synchronized {
      val b = e.blockUpdatedInfo
      if (b.blockId.isRDD) {
        val bytes = b.memSize + b.diskSize
        heldBytes += bytes - blockBytes.getOrElse(b.blockId.name, 0L)
        if (bytes == 0) blockBytes.remove(b.blockId.name)
        else blockBytes(b.blockId.name) = bytes
        peakBytes = math.max(peakBytes, heldBytes)
      }
    }
  }

  private val sqlListener = new QueryExecutionListener {
    def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val phases = qe.tracker.phases.map { case (k, p) =>
        k -> (p.startTimeMs, p.endTimeMs) }
      Tracer.this.synchronized {
        actions += Action(durationNs, phases)
      }
    }
    def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  private val streamListener = new StreamingQueryListener {
    def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val durs = scala.jdk.CollectionConverters.MapHasAsScala(p.durationMs)
        .asScala.map { case (k, v) => k -> v.longValue }.toMap
      val ops = p.stateOperators.toSeq
      Tracer.this.synchronized {
        progress += Progress(p.id.toString, durs, ops.map(_.numRowsTotal).sum,
          ops.map(_.memoryUsedBytes).sum, ops.map(_.commitTimeMs).sum)
      }
    }
  }

  spark.sparkContext.addSparkListener(listener)
  spark.listenerManager.register(sqlListener)
  spark.streams.addListener(streamListener)

  val spans = mutable.ArrayBuffer[Span]()
  private val totals = mutable.Map[String, Double]().withDefaultValue(0.0)
  private val triggerMs = mutable.ArrayBuffer[Double]()
  private var maxSkew = 0.0
  private var maxPeakMb = 0.0
  private var codegenAtStart = (0L, 0L)
  private var codegenAtStop = (0L, 0L)

  private def codegen = (CodegenMetrics.METRIC_COMPILATION_TIME.getCount,
    CodeGenerator.compileTime)

  def startTimed(): Unit = { flush(); codegenAtStart = codegen }
  def stopTimed(): Unit = { flush(); codegenAtStop = codegen }

  private def flush(): Unit = PerfbenchAccess.flushListeners(spark.sparkContext)

  /** Drop events from untraced work since the last flow (output checks). */
  def beginFlow(): Unit = {
    flush()
    synchronized {
      jobs.clear(); stages.clear(); actions.clear(); progress.clear()
      peakBytes = heldBytes
    }
  }

  /** Close one flow: `t0`..`t1` is the registry call (build), `t1`..`t2`
    * the sink write (execute); `buildAnalysis` is the analysis phase (epoch
    * ms) of the DataFrame the registry call returned, which ran inside the
    * build. Must run after `clearCache()` so that the leftover count sees
    * only blocks the flow failed to release. */
  def endFlow(flowId: String, t0: Long, t1: Long, t2: Long,
              buildAnalysis: Option[(Long, Long)], timed: Boolean): Unit = {
    flush()
    val leftover = PerfbenchAccess.rddBlockCount()
    val (js, ss, as, ps, peak) = synchronized {
      val r = (jobs.toSeq, stages.toSeq, actions.toSeq, progress.toSeq, peakBytes)
      jobs.clear(); stages.clear(); actions.clear(); progress.clear()
      r
    }
    if (!timed) return

    var nextId = spans.size
    def span(name: String, s: Long, e: Long, parent: Int): Int = {
      spans += Span(nextId, flowId, name, s, math.max(s, e), parent)
      nextId += 1
      nextId - 1
    }
    val flow = span("flow", t0, t2, -1)
    val build = span("build", t0, t1, flow)
    val execute = span("execute", t1, t2, flow)
    buildAnalysis.foreach { case (s, e) => span("sql.analysis", s * 1000, e * 1000, build) }
    // SQL phases of the sink query: the actions planned after build ended
    // (phase times have millisecond resolution)
    val sinkActions = as.filter(_.phases.get("planning").exists(_._1 * 1000 >= t1 - 1000))
    val execSpans = sinkActions.map { a =>
      Seq("analysis" -> "sql.analysis", "optimization" -> "sql.optimize",
        "planning" -> "sql.plan").foreach { case (phase, name) =>
        a.phases.get(phase).foreach { case (s, e) =>
          span(name, s * 1000, e * 1000, execute)
        }
      }
      val s = math.max(a.phases("planning")._2 * 1000, t1)
      val e = math.min(s + a.durNs / 1000, t2)
      (span("sql.exec", s, e, execute), s, e)
    }
    val jobSpan = js.sortBy(_.startMs).map { j =>
      val (s, e) = (j.startMs * 1000, j.endMs * 1000)
      val parent =
        if (s < t1) build
        else execSpans.collectFirst {
          case (id, es, ee) if s >= es - 1000 && s <= ee => id
        }.getOrElse(execute)
      j -> span("job", s, e, parent)
    }
    val stageJob = jobSpan.flatMap { case (j, id) => j.stageIds.map(_ -> id) }
      .reverse.toMap
    ss.foreach { st =>
      span("stage", st.submitMs * 1000, st.endMs * 1000,
        stageJob.getOrElse(st.id, execute))
    }

    val jobIntervals = js.map(j => (j.startMs * 1000, j.endMs * 1000))
    def phase(a: Action, p: String) = a.phases.get(p)
      .map { case (s, e) => (e - s) / 1e3 }.getOrElse(0.0)
    val mb = 1024.0 * 1024.0
    ss.foreach { st =>
      if (st.taskMs.size >= 2) {
        val sorted = st.taskMs.sorted
        val median = sorted(sorted.size / 2)
        if (median > 0) maxSkew = math.max(maxSkew, sorted.last.toDouble / median)
      }
    }
    maxPeakMb = math.max(maxPeakMb, peak / mb)
    ps.foreach(_.durMs.get("triggerExecution").foreach(t => triggerMs += t.toDouble))
    def streamS(k: String) = ps.map(_.durMs.getOrElse(k, 0L)).sum / 1e3
    // state size: each stream query's largest reported state
    val perQuery = ps.groupBy(_.query).values.toSeq
    Seq(
      "exec.build_s" -> (t1 - t0) / 1e6,
      "exec.build_driver_s" ->
        (t1 - t0 - Tracer.covered(t0, t1, jobIntervals)) / 1e6,
      "exec.build_jobs" -> js.count(_.startMs * 1000 < t1).toDouble,
      "driver.only_s" -> (t2 - t0 - Tracer.covered(t0, t2, jobIntervals)) / 1e6,
      "sql.analysis_s" -> (buildAnalysis.map { case (s, e) => (e - s) / 1e3 }
        .getOrElse(0.0) + sinkActions.map(phase(_, "analysis")).sum),
      "sql.optimize_s" -> sinkActions.map(phase(_, "optimization")).sum,
      "sql.plan_s" -> sinkActions.map(phase(_, "planning")).sum,
      "sql.exec_s" -> sinkActions.map(_.durNs / 1e9).sum,
      "stage.jobs" -> js.size.toDouble,
      "stage.stages" -> ss.size.toDouble,
      "stage.tasks" -> ss.map(_.tasks).sum.toDouble,
      "stage.task_s" -> ss.map(_.runMs).sum / 1e3,
      "stage.task_cpu_s" -> ss.map(_.cpuNs).sum / 1e9,
      "stage.gc_s" -> ss.map(_.gcMs).sum / 1e3,
      "stage.shuffle_read_mb" -> ss.map(_.shuffleReadB).sum / mb,
      "stage.shuffle_write_mb" -> ss.map(_.shuffleWriteB).sum / mb,
      "stage.spill_mb" -> ss.map(_.spillB).sum / mb,
      "sources.read_mb" -> ss.map(_.readB).sum / mb,
      "sources.records_read" -> ss.map(_.readRecs).sum.toDouble,
      "sources.write_mb" -> ss.map(_.writeB).sum / mb,
      "sources.records_written" -> ss.map(_.writeRecs).sum.toDouble,
      "storage.leftover_blocks" -> leftover.toDouble,
      "stream.batches" -> ps.size.toDouble,
      "stream.add_batch_s" -> streamS("addBatch"),
      "stream.plan_s" -> streamS("queryPlanning"),
      "stream.latest_offset_s" -> streamS("latestOffset"),
      "stream.wal_commit_s" -> streamS("walCommit"),
      "stream.commit_offsets_s" -> streamS("commitOffsets"),
      "stream.state_commit_s" -> ps.map(_.stateCommitMs).sum / 1e3,
      "stream.state_rows" -> perQuery.map(_.map(_.stateRows).max).sum.toDouble,
      "stream.state_mb" -> perQuery.map(_.map(_.stateBytes).max).sum / mb
    ).foreach { case (k, v) => totals(k) += v }
  }

  /** Per-layer metrics, as totals per timed pass. */
  def metrics(passes: Int, timedWallS: Double): Map[String, Double] = {
    val n = math.max(passes, 1).toDouble
    val perPass = totals.map { case (k, v) => k -> v / n }.toMap
    val (compiles, compileNs) = (codegenAtStop._1 - codegenAtStart._1,
      codegenAtStop._2 - codegenAtStart._2)
    perPass ++ Map(
      "codegen.compiles" -> compiles / n,
      "codegen.compile_s" -> compileNs / 1e9 / n,
      "stage.core_util" ->
        (if (timedWallS > 0) totals("stage.task_s") / (timedWallS * cpus) else 0.0),
      "stage.skew" -> maxSkew,
      "storage.peak_mb" -> maxPeakMb,
      "stream.trigger_p50_ms" -> Tracer.median(triggerMs.toSeq))
  }

  /** Self time per span name (span duration minus the part its children
    * cover), summed over all spans and divided by the number of passes. */
  def selfTimes(passes: Int): Map[String, Double] = {
    val children = spans.groupBy(_.parent)
    spans.groupBy(_.name).map { case (name, ss) =>
      name -> ss.map { s =>
        val kids = children.getOrElse(s.id, Nil).map(k => (k.startUs, k.endUs)).toSeq
        (s.endUs - s.startUs - Tracer.covered(s.startUs, s.endUs, kids)) / 1e6
      }.sum / math.max(passes, 1)
    }
  }
}

object Tracer {
  def nowUs(): Long = {
    val i = java.time.Instant.now()
    i.getEpochSecond * 1000000L + i.getNano / 1000
  }

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  /** Length of the part of [lo, hi] covered by the union of `intervals`. */
  def covered(lo: Long, hi: Long, intervals: Seq[(Long, Long)]): Long = {
    var total = 0L
    var end = lo
    intervals.map { case (s, e) => (math.max(s, lo), math.min(e, hi)) }
      .filter { case (s, e) => e > s }.sortBy(_._1).foreach { case (s, e) =>
        if (e > end) { total += e - math.max(s, end); end = e }
      }
    total
  }
}
