package graft.tools

/** Plan-inspection harness: prints the formatted physical plan of selected
  * registered queries (all of them by default). Used to audit pushdown,
  * broadcast choice, exchange placement, and codegen coverage — the things
  * that decide whether a plan survives a 100× scale-up. */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.01"
    val names = if (args.length > 1) args.drop(1).toSeq
                else graft.SparkEntry.queries.keys.toSeq.sorted
    val spark = graft.Sessions.local("4", graft.Sessions.NanosAsLong)
    spark.sparkContext.setLogLevel("ERROR")
    names.foreach { n =>
      println(s"\n========== $n ==========")
      try println(graft.SparkEntry.queries(n)(spark, sfDir)
        .queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode))
      catch { case e: Throwable => println(s"explain failed: $e") }
    }
    spark.stop()
  }
}
