package graft
import org.apache.spark.sql.execution.ExplainMode

/** PLANS.md capture utility: print the formatted physical plan of
  * registered queries without executing them (plan-only, so staged-table
  * queries that build their index eagerly still run their build phase).
  * Usage:
  *   SPARK_GRAFT_PLAN_ONLY=q223 sbt "runMain graft.PlanDump /root/testdata/sf0.001"
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = Sessions.local(cpus, Sessions.NanosAsLong)
    spark.sparkContext.setLogLevel("WARN")
    val only = sys.env.get("SPARK_GRAFT_PLAN_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    def selected(name: String) = only.forall(_.exists(name.startsWith))
    SparkEntry.queries.filter(kv => selected(kv._1)).foreach { case (name, fn) =>
      try {
        val df = fn(spark, sfDir)
        println(s"========== $name ==========")
        println(df.queryExecution.explainString(ExplainMode.fromString("formatted")))
      } catch { case e: Throwable =>
        System.err.println(s"[plandump] $name failed: ${e.getMessage}")
      }
    }
    spark.stop()
  }
}
