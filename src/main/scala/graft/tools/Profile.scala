package graft.tools

import scala.collection.mutable
import scala.util.control.NonFatal
import com.fasterxml.jackson.databind.PropertyNamingStrategies
import com.fasterxml.jackson.databind.json.JsonMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.SparkFirehoseListener
import org.apache.spark.scheduler.{SparkListenerEvent, SparkListenerJobEnd,
  SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.ExplainMode
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd,
  SparkListenerSQLExecutionStart}
import org.apache.spark.sql.graftbridge.ListenerBridge
import graft.{Sessions, SparkEntry}

/** Profiles registered queries the way `graft.Bench` runs them: the
  * registry call (build), then a `noop` write (execute). Everything is
  * read off Spark's listeners while the registered body runs, so a job's
  * time is assigned to the engine line that launched it (its call site).
  * Each query runs once: the first queries of a JVM pay for its warm-up
  * and their compiles.
  *
  * Usage (one JSON line per query whose name starts with a prefix):
  *   SPARK_GRAFT_CPUS=4 sbt "runMain graft.tools.Profile <data dir> <prefix>[,<prefix>...]"
  */
object Profile {
  final case class Job(callSite: String, s: Double, stages: Int, tasks: Int,
                       taskS: Double)

  /** `phasesS` sums each `queryExecution.tracker` phase over the run's
    * actions (build-time actions and the sink); `plan` is the built
    * DataFrame's formatted physical plan, taken before the sink runs. */
  final case class Report(query: String, buildS: Double, executeS: Double,
      jobs: Seq[Job], phasesS: Map[String, Double], compiles: Long,
      compileS: Double, plan: String) {
    def json: String = mapper.writeValueAsString(this)
  }

  private val mapper = JsonMapper.builder().addModule(DefaultScalaModule)
    .propertyNamingStrategy(PropertyNamingStrategies.SNAKE_CASE).build()

  private def seconds(ms: Long): Double = ms / 1e3

  /** The counters perfbench's tracer reads: compiles and compile time (ns). */
  private def codegen = (CodegenMetrics.METRIC_COMPILATION_TIME.getCount,
    CodeGenerator.compileTime)

  /** Builds and sinks one query with a listener registered for this run
    * only. Jobs, stages and actions of other threads count too. */
  def profile(spark: SparkSession, query: String, build: => DataFrame): Report = {
    val seen = mutable.ArrayBuffer[SparkListenerEvent]()
    val listener = new SparkFirehoseListener {
      override def onEvent(e: SparkListenerEvent): Unit = seen.synchronized(seen += e)
    }
    ListenerBridge.drain(spark)
    spark.sparkContext.addSparkListener(listener)
    try {
      val (compiles0, compileNs0) = codegen
      val t0 = System.nanoTime
      val df = build
      val t1 = System.nanoTime
      val plan = df.queryExecution.explainString(ExplainMode.fromString("formatted"))
      val t2 = System.nanoTime
      df.write.mode("overwrite").format("noop").save()
      val t3 = System.nanoTime
      ListenerBridge.drain(spark)
      val (compiles1, compileNs1) = codegen
      val events = seen.synchronized(seen.toList)
      val starts = events.collect { case e: SparkListenerJobStart => e }
      val actionSites = events.collect { case e: SparkListenerSQLExecutionStart =>
        e.executionId.toString -> e.description }.toMap
      // the call site the job's thread set, else that of the action whose
      // plan launched it (AQE launches stages from pool threads), else Spark's
      def callSite(j: SparkListenerJobStart): String = {
        def prop(k: String) = Option(j.properties).flatMap(p => Option(p.getProperty(k)))
        prop("callSite.short")
          .orElse(prop("spark.sql.execution.id").flatMap(actionSites.get))
          .getOrElse(j.stageInfos.maxBy(_.stageId).name)
      }
      val ends = events.collect { case e: SparkListenerJobEnd => e.jobId -> e.time }.toMap
      // a stage belongs to the first job that lists it; skipped stages never complete
      val owner = starts.flatMap(j => j.stageIds.map(_ -> j.jobId)).reverse.toMap
      val ran = events.collect { case e: SparkListenerStageCompleted => e.stageInfo }
        .groupBy(s => owner.getOrElse(s.stageId, -1))
      val jobs = starts.map { j =>
        val ss = ran.getOrElse(j.jobId, Nil)
        Job(callSite(j), seconds(ends.getOrElse(j.jobId, j.time) - j.time),
          ss.size, ss.map(_.numTasks).sum, seconds(ss.map(_.taskMetrics.executorRunTime).sum))
      }
      val phases = events
        .collect { case e: SparkListenerSQLExecutionEnd => ListenerBridge.queryExecution(e) }
        .flatten.distinct.flatMap(_.tracker.phases)
        .groupMapReduce(_._1)(p => seconds(p._2.endTimeMs - p._2.startTimeMs))(_ + _)
      Report(query, seconds((t1 - t0) / 1000000), seconds((t3 - t2) / 1000000),
        jobs, phases, compiles1 - compiles0,
        seconds((compileNs1 - compileNs0) / 1000000), plan)
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  def main(args: Array[String]): Unit = {
    require(args.length == 2,
      "usage: graft.tools.Profile <data dir> <prefix>[,<prefix>...]")
    val Array(dir, prefixes) = args
    val only = prefixes.split(",").map(_.trim).filter(_.nonEmpty)
    val spark = Sessions.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4"),
      Sessions.NanosAsLong, Sessions.Adaptive)
    spark.sparkContext.setLogLevel("WARN")
    try SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.exists(name.startsWith) }
      .foreach { case (name, fn) =>
        spark.catalog.clearCache()
        try println(profile(spark, name, fn(spark, dir)).json)
        catch { case NonFatal(e) => System.err.println(s"graft.tools.Profile: $name failed: $e") }
      }
    finally spark.stop()
  }
}
