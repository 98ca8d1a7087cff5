package graft.exec

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec

/** A query's plan shape as data: the Spark form of the plan assertions
  * Cascading's planner declares and checks. Clauses read the physical
  * plan TREE, walking AQE query stages, subqueries and the plans of
  * cached relations, so one contract checks the plan a query builds (the
  * initial plan under AQE) and the final plan a sink ran alike.
  *
  * Each clause bounds the count of one probe:
  *  - [[PlanContract.Node]]`(name)`: operators whose node name contains
  *    `name` — `SortMergeJoin`, `BroadcastHashJoin`, `Window`; `Join`
  *    matches every join and `Exchange` every exchange;
  *  - [[PlanContract.ExchangeOn]]`(col)`: shuffle exchanges whose hash
  *    partitioning leads with the column `col` (a `(band, key)` exchange
  *    counts for `band`);
  *  - [[PlanContract.Expr]]`(name)`: expressions whose pretty name
  *    contains `name` — `bpe_encode`, `nb_score`, `might_contain`;
  *  - [[PlanContract.Scan]]`(name)`: file scans of a table or path whose
  *    name contains `name`;
  *  - [[PlanContract.BucketedScan]]: scans that read the bucket layout;
  *  - [[PlanContract.PrunedScan]]: scans of a bucketed table that read
  *    fewer buckets than its layout. The scan's bucket set prunes files
  *    whether or not the planner kept the scan bucketed, so this holds
  *    for a de-bucketed scan too.
  *
  * [[PlanContract.Holds]] is the escape hatch for a shape no probe counts.
  * A registry query declares its contract with
  * [[PlanContract.contracted]]; a frame inside a query body is checked
  * with [[check]]. */
final case class PlanContract(clauses: PlanContract.Clause*) {
  /** The message of every clause `plan` breaks. */
  def violations(plan: SparkPlan): Seq[String] = clauses.flatMap(_.violation(plan))

  /** `df`, after checking the plan it builds; fails naming every broken
    * clause. */
  def check(df: DataFrame): DataFrame = {
    val broken = violations(df.queryExecution.executedPlan)
    require(broken.isEmpty, broken.mkString("; "))
    df
  }
}

object PlanContract extends AdaptiveSparkPlanHelper {
  type Query = (SparkSession, String) => DataFrame

  sealed trait Clause { def violation(plan: SparkPlan): Option[String] }

  /** A count over the plan, bounded into a clause that fails with `why`. */
  sealed abstract class Probe(desc: String) {
    def count(plan: SparkPlan): Int
    private def between(lo: Int, hi: Int, why: String): Clause = new Clause {
      def violation(plan: SparkPlan): Option[String] = {
        val n = count(plan)
        if (n >= lo && n <= hi) None
        else Some(s"$why ($desc counts $n, bound [$lo, ${
          if (hi == Int.MaxValue) "∞" else hi}])")
      }
    }
    def exactly(n: Int, why: String): Clause = between(n, n, why)
    def atLeast(n: Int, why: String): Clause = between(n, Int.MaxValue, why)
    def present(why: String): Clause = atLeast(1, why)
    def absent(why: String): Clause = between(0, 0, why)
  }

  /** A probe counting the operators `hit` accepts. */
  sealed abstract class OperatorProbe(desc: String) extends Probe(desc) {
    protected def hit: PartialFunction[SparkPlan, Boolean]
    def count(plan: SparkPlan): Int =
      operators(plan).count(hit.applyOrElse(_, (_: SparkPlan) => false))
  }

  final case class Node(name: String) extends OperatorProbe(s"Node($name)") {
    protected def hit = { case op => op.nodeName.contains(name) }
  }

  final case class ExchangeOn(column: String)
      extends OperatorProbe(s"ExchangeOn($column)") {
    protected def hit = { case e: ShuffleExchangeExec =>
      e.outputPartitioning match {
        case h: HashPartitioning => h.expressions.headOption
          .exists(_.references.exists(_.name == column))
        case _ => false
      }
    }
  }

  final case class Scan(name: String) extends OperatorProbe(s"Scan($name)") {
    protected def hit = { case s: FileSourceScanExec =>
      s.tableIdentifier.exists(_.table.contains(name)) ||
        s.relation.location.rootPaths.exists(_.toString.contains(name))
    }
  }

  case object BucketedScan extends OperatorProbe("BucketedScan") {
    protected def hit = { case s: FileSourceScanExec => s.bucketedScan }
  }

  case object PrunedScan extends OperatorProbe("PrunedScan") {
    protected def hit = { case s: FileSourceScanExec =>
      s.relation.bucketSpec.zip(s.optionalBucketSet)
        .exists { case (spec, set) => set.cardinality() < spec.numBuckets }
    }
  }

  final case class Expr(name: String) extends Probe(s"Expr($name)") {
    def count(plan: SparkPlan): Int = operators(plan).map(op =>
      op.expressions.map(_.collect {
        case e if e.prettyName.contains(name) => e
      }.size).sum).sum
  }

  /** A shape no probe counts, as a predicate on the whole plan. */
  def Holds(why: String)(ok: SparkPlan => Boolean): Clause = new Clause {
    def violation(plan: SparkPlan): Option[String] =
      if (ok(plan)) None else Some(why)
  }

  /** Every operator of `plan`, through AQE stages, subqueries and the
    * plans of cached relations. */
  def operators(plan: SparkPlan): Seq[SparkPlan] =
    collectWithSubqueries(plan) { case op => op }.flatMap {
      case m: InMemoryTableScanExec => m +: operators(m.relation.cachedPlan)
      case op => Seq(op)
    }

  /** Operators on the longest root-to-leaf path, through AQE stages. */
  def depth(plan: SparkPlan): Int =
    1 + (allChildren(plan).map(depth) :+ 0).max

  /** A registry query carrying its contract, checked on every plan it
    * builds. */
  final class Contracted(val contract: PlanContract, body: Query) extends Query {
    def apply(s: SparkSession, dir: String): DataFrame = contract.check(body(s, dir))
  }

  def contracted(clauses: Clause*)(body: Query): Query =
    new Contracted(PlanContract(clauses: _*), body)
}
