package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.ExplainMode
import org.apache.spark.sql.graftbridge.ListenerBridge
import graft.tools.Profile

/** `graft.tools.Profile` reports the registered query as it runs: the jobs
  * its build and sink launch, and the plan of the DataFrame it built. */
class ProfileSpec extends SparkSpec {
  test("Profile of q01 counts the jobs of its build and sink, prints the " +
       "built plan, and leaves no listener behind, also when the build fails") {
    val q01 = SparkEntry.queries("q01_groupby_agg")
    val expected = jobsOf(
      q01(spark, sf()).write.mode("overwrite").format("noop").save())
    val listeners = ListenerBridge.count(spark)
    var built: DataFrame = null
    val report = Profile.profile(spark, "q01_groupby_agg",
      { built = q01(spark, sf()); built })
    assert(ListenerBridge.count(spark) == listeners)
    intercept[IllegalStateException](
      Profile.profile(spark, "failing", throw new IllegalStateException("build")))
    assert(ListenerBridge.count(spark) == listeners)
    assert(report.jobs.size == expected && expected > 0, report.json)
    assert(report.plan ==
      built.queryExecution.explainString(ExplainMode.fromString("formatted")))
    assert(report.jobs.forall(j => j.callSite.nonEmpty && j.stages > 0), report.json)
    val line = new com.fasterxml.jackson.databind.ObjectMapper().readTree(report.json)
    assert(line.get("query").asText == "q01_groupby_agg" &&
      line.get("jobs").size == expected && line.get("plan").asText == report.plan)
  }
}
