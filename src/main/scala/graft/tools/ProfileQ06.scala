package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Decomposes q06_hashjoin_nway's wall time into its parts (scan+agg,
  * broadcast joins, decimal vs double sum, AQE on/off) so the bench entry
  * is explained by measurement, not hypothesis. Run with
  * `runMain graft.tools.ProfileQ06 [sfDir]`. */
object ProfileQ06 {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.Sessions.local(cpus,
      graft.Sessions.NanosAsLong, graft.Sessions.Adaptive)
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    def li = spark.read.parquet(s"$dir/lineitem.parquet")
    def sup = spark.read.parquet(s"$dir/supplier.parquet")
    def nat = spark.read.parquet(s"$dir/nation.parquet")
    def reg = spark.read.parquet(s"$dir/region.parquet")

    def joined: DataFrame = li
      .join(broadcast(sup), $"l_suppkey" === $"s_suppkey")
      .join(broadcast(nat), $"s_nationkey" === $"n_nationkey")
      .join(broadcast(reg), $"n_regionkey" === $"r_regionkey")

    val dsum = "cast(sum(cast((l_extendedprice * (1 - l_discount)) as decimal(38,6))) as double)"
    val plainSum = "sum(l_extendedprice * (1 - l_discount))"

    val variants: Seq[(String, () => DataFrame)] = Seq(
      "full_decimal" -> (() => joined.groupBy("r_name", "n_name")
        .agg(expr(dsum).as("revenue"), count(lit(1)).as("n_items"))),
      "full_double" -> (() => joined.groupBy("r_name", "n_name")
        .agg(expr(plainSum).as("revenue"), count(lit(1)).as("n_items"))),
      "joins_only" -> (() => joined.select("r_name", "n_name", "l_extendedprice")),
      "scan_agg_decimal" -> (() => li.groupBy("l_returnflag")
        .agg(expr(dsum).as("revenue"), count(lit(1)).as("n_items"))),
      "scan_only" -> (() => li.select("l_suppkey", "l_extendedprice", "l_discount")),
      "registered_q06" -> (() => graft.SparkEntry.queries("q06_hashjoin_nway")(spark, dir))
    )

    def time(fn: () => DataFrame): Double = {
      val t0 = System.nanoTime()
      fn().write.mode("overwrite").format("noop").save()
      (System.nanoTime() - t0) / 1e9
    }

    // warm then 3 timed passes each, interleaved AQE on/off for the full form
    variants.foreach { case (name, fn) =>
      time(fn) // warm
      val times = (1 to 3).map(_ => time(fn))
      println(f"PROFILE $name%-18s min=${times.min}%.3f raw=${times.map(t => f"$t%.3f").mkString(",")}")
    }
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    val noAqe = (1 to 3).map(_ => time(variants.head._2))
    println(f"PROFILE full_noaqe        min=${noAqe.min}%.3f raw=${noAqe.map(t => f"$t%.3f").mkString(",")}")
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    spark.stop()
  }
}
