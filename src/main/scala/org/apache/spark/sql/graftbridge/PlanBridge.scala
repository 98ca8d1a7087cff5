package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.catalyst.optimizer.EliminateResolvedHint
import org.apache.spark.sql.catalyst.plans.logical.{HintInfo, Join, JoinHint,
  LocalLimit, LogicalPlan, SHUFFLE_MERGE}
import org.apache.spark.sql.classic.{Dataset, SparkSession}
import org.apache.spark.sql.execution.{LogicalRDD, QueryExecution}

/** Logical-plan bridge for operators the public Dataset API doesn't
  * expose. Each one puts into the plan itself what would otherwise take
  * session conf, so the shape holds wherever and whenever the returned
  * DataFrame is planned. */
object PlanBridge {
  private def classic(df: DataFrame): Dataset[Row] = df.asInstanceOf[Dataset[Row]]

  /** Spark's own per-partition limit node — the first half of
    * `limit(n)` = GlobalLimit(LocalLimit(n)) — used alone for Cascading's
    * per-slice `Limit` semantics (each task slice emits at most n rows,
    * no single-partition gather). */
  def localLimit(df: DataFrame, n: Int): DataFrame = {
    val cdf = classic(df)
    Dataset.ofRows(cdf.sparkSession,
      LocalLimit(Literal(n), cdf.queryExecution.logical))
  }

  /** Every join of `df` whose inputs carry no strategy hint gets the
    * `merge` hint on both sides: an equi-join plans as a sort-merge join,
    * never as a size-chosen broadcast — also when AQE re-plans at
    * runtime. A join with no equality keys ignores the hint and is
    * planned as if it had none (a size-chosen broadcast nested-loop join
    * stays possible). Explicit `broadcast(...)` joins keep their hint.
    * The plan-level form of Cascading choosing each join's strategy on
    * the operator (`HashJoin` vs `CoGroup`). */
  def mergeJoins(df: DataFrame): DataFrame = {
    val cdf = classic(df)
    val merge = Some(HintInfo(Some(SHUFFLE_MERGE)))
    def hinted(side: LogicalPlan) =
      EliminateResolvedHint.extractHintsFromPlan(side)._2
        .exists(_.strategy.isDefined)
    Dataset.ofRows(cdf.sparkSession,
      cdf.queryExecution.analyzed.transformUpWithSubqueries {
        case j: Join if j.hint == JoinHint.NONE && !hinted(j.left) &&
            !hinted(j.right) =>
          j.copy(hint = JoinHint(merge, merge))
      })
  }

  /** Hash-partition `df` on `keys` into exactly `n` partitions, sort
    * within partitions on the same keys, and lazily localCheckpoint the
    * rows into a `LogicalRDD` that DECLARES the partitioning and order
    * its physical plan reports (`HashPartitioning(keys, n)`, or
    * `SinglePartition` when `n` is 1), so every later join or aggregate
    * on `keys` consumes it with no exchange and no sort. The rows come
    * from a non-adaptive physical plan whatever the session says: an
    * adaptive one would run the shuffle now instead of on the first
    * read, and would report no partitioning at all. */
  def partitionedCheckpoint(df: DataFrame, n: Int, keys: Seq[Column]): DataFrame = {
    val ds = classic(df.repartition(n, keys: _*).sortWithinPartitions(keys: _*))
    val s: SparkSession = ds.sparkSession
    val qe = ds.queryExecution
    val plan = QueryExecution.prepareExecutedPlan(s, qe.sparkPlan.clone())
    val rdd = plan.execute().map(_.copy())
    rdd.localCheckpoint()
    val (stats, constraints) =
      LogicalRDD.rewriteStatsAndConstraints(qe.analyzed, qe.optimizedPlan)
    Dataset.ofRows(s, LogicalRDD(qe.analyzed.output, rdd,
      plan.outputPartitioning, plan.outputOrdering)(s, stats, constraints))
  }
}
