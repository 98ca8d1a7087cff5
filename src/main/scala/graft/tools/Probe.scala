package graft.tools

import org.apache.spark.sql.functions._

/** Ad-hoc stage profiler used during performance work (not part of the
  * driver contract). Times the dedup pipeline stages — the engine's
  * heaviest operators — plus the aggregation-convention comparison
  * recorded in BASELINE.md. */
object Probe {
  def main(args: Array[String]): Unit = {
    val dir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.1"
    val spark = graft.Sessions.local("32")
    spark.sparkContext.setLogLevel("ERROR")
    def time[T](label: String)(f: => T): T = {
      val t0 = System.nanoTime(); val r = f
      println(f"[probe] $label: ${(System.nanoTime() - t0) / 1e9}%.2fs"); r
    }
    def noop(df: org.apache.spark.sql.DataFrame): Unit =
      df.write.mode("overwrite").format("noop").save()

    val li = spark.read.parquet(s"$dir/lineitem.parquet")
    (1 to 2).foreach { r =>
      time(s"decimal38 sums r$r")(noop(li.groupBy("l_returnflag", "l_linestatus")
        .agg(expr("cast(sum(cast(l_extendedprice as decimal(38,6))) as double) p"))))
      time(s"fixedpoint sums r$r")(noop(li.groupBy("l_returnflag", "l_linestatus")
        .agg(expr("cast(sum(cast(floor(l_extendedprice*1000000) as bigint)) as double)/1e6 p"))))
    }

    val d = spark.read.parquet(s"$dir/documents.parquet")
    time("minhash signature")(noop(d.select(
      graft.functions.Dedup.minhashSignature(col("text"), 16))))
    time("shingles")(noop(d.select(graft.functions.Dedup.shingles(col("text"), 3))))
    val cl = graft.functions.Dedup.minhashClusters(d, "doc_id", "text")
    time("clusters")(println("[probe] n=" + cl.count()))
    time("neardup pairs")(println("[probe] n=" +
      graft.functions.Dedup.nearDupPairs(d, "doc_id", "text", 400000L).count()))
    spark.stop()
  }
}
