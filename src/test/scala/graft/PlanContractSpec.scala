package graft

import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.datasources.{BucketingUtils, FilePartition}
import org.apache.spark.sql.functions.col
import graft.exec.PlanContract
import graft.exec.PlanContract.{BucketedScan, PrunedScan}

/** Plan contracts hold on the plan that runs: each contracted query's
  * contract, checked at build time by the registry, also holds on the
  * final plan of the query's sink. */
class PlanContractSpec extends SparkSpec {
  test("every contracted query's contract holds on the final plan its " +
       "sink runs") {
    val contracts = SparkEntry.contracts
    assert(contracts.size == 49, s"${contracts.size} contracted queries")
    val broken = contracts.toSeq.sortBy(_._1).flatMap { case (q, contract) =>
      // a sink plans the query's logical plan afresh, as Verify's write
      // and the bench's noop write do
      val sink = SparkEntry.queries(q)(spark, sf()).select("*")
      sink.collect()
      contract.violations(sink.queryExecution.executedPlan).map(v => s"$q: $v")
    }
    assert(broken.isEmpty, broken.mkString("\n"))
  }

  test("a scan the planner de-buckets still reads only its pruned " +
       "buckets' files, and PrunedScan counts it") {
    val t = graft.queries.Tables.stagedTable(spark, "graft_contract_pruned")
    spark.range(2000).select(col("id"), (col("id") % 97).as("k"))
      .write.bucketBy(16, "k").saveAsTable(t)
    // the aggregate keys on id, so nothing consumes the k buckets
    val plan = spark.table(t).filter(col("k").isin(1, 2, 3))
      .groupBy("id").count().queryExecution.executedPlan
    val scan = PlanContract.operators(plan)
      .collectFirst { case s: FileSourceScanExec => s }.get
    assert(!scan.bucketedScan && BucketedScan.count(plan) == 0)
    assert(PrunedScan.count(plan) == 1)
    val buckets = scan.optionalBucketSet.get
    val read = scan.inputRDDs().head.partitions.toSeq
      .flatMap(_.asInstanceOf[FilePartition].files)
      .map(f => BucketingUtils.getBucketId(f.toPath.getName).get)
    assert(read.nonEmpty && read.forall(buckets.get))
    assert(spark.table(t).inputFiles.length > read.size)
    graft.queries.Tables.dropStagedTable(spark, t)
  }
}
