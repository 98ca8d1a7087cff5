package graft

import graft.functions.ZOrder
import org.apache.spark.sql.functions._

/** Morton-key correctness and the layout property it exists for: z-sorted
  * files cover small (x, y) rectangles, so min-max stats prune scans. */
class ZOrderSpec extends SparkSpec {
  import spark.implicits._

  test("zkey interleaves bits: x at even positions, y at odd") {
    // x=3 (bits 0,1 → positions 0,2 = 1+4), y=5 (bits 0,2 → 1,5 = 2+32)
    val k = Seq((3L, 5L)).toDF("x", "y")
      .select(ZOrder.zkey(col("x"), col("y"))).head().getLong(0)
    assert(k == (1L + 4L + 2L + 32L))
    // single-dimension identities
    val kx = Seq((0xffffL, 0L)).toDF("x", "y")
      .select(ZOrder.zkey(col("x"), col("y"))).head().getLong(0)
    assert(kx == 0x55555555L) // all even positions set
    val ky = Seq((0L, 0xffffL)).toDF("x", "y")
      .select(ZOrder.zkey(col("x"), col("y"))).head().getLong(0)
    assert(ky == 0xaaaaaaaaL) // all odd positions set
  }

  test("z-sorted layout shrinks per-file spans vs round-robin (data skipping)") {
    // dims reduced to the same 11-bit width — Morton locality requires
    // comparable bit ranges (rank-normalize unbounded domains first)
    val li = spark.read.parquet(s"${sf("sf0.01")}/lineitem.parquet")
      .select(ZOrder.zkey(pmod(col("l_partkey"), lit(2048L)),
          pmod(col("l_orderkey"), lit(2048L))).as("zkey"),
        pmod(col("l_partkey"), lit(2048L)).as("xm"),
        pmod(col("l_orderkey"), lit(2048L)).as("ym"))
    val root = java.nio.file.Files.createTempDirectory("zorder").toString
    // range bounds from every row, not from a sample: RangePartitioner
    // seeds its sample with the RDD's id, so sampled bounds move with the
    // number of RDDs the session made before this test, and about 1 in 20
    // sampled layouts crosses the 0.5 threshold below
    graft.exec.SessionConf.scoped(spark,
        "spark.sql.execution.rangeExchange.sampleSizePerPartition", "1000000") {
      li.repartitionByRange(16, col("zkey")).sortWithinPartitions("zkey")
        .write.mode("overwrite").parquet(s"$root/zsorted")
    }
    li.repartition(16).write.mode("overwrite").parquet(s"$root/rr")

    def avgSpan(path: String, dim: String): Double =
      spark.read.parquet(path)
        .groupBy(input_file_name())
        .agg((max(col(dim)) - min(col(dim))).as("span"))
        .agg(avg(col("span"))).head().getDouble(0)

    // both dimensions cluster: files in the z-sorted layout cover small
    // rectangles, round-robin files cover ~the whole domain. A file-skip
    // scan on either column therefore prunes most z-sorted files.
    assert(avgSpan(s"$root/zsorted", "xm") < 0.5 * avgSpan(s"$root/rr", "xm"))
    assert(avgSpan(s"$root/zsorted", "ym") < 0.5 * avgSpan(s"$root/rr", "ym"))
  }
}
