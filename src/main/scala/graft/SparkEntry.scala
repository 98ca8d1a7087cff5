package graft
import org.apache.spark.sql.{SparkSession, DataFrame}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  * Query registry is assembled from per-family objects in graft.queries. */
object SparkEntry {
  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("q01_groupby_agg")(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2 + extensions. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    graft.queries.Relational.queries ++ graft.queries.Extensions.queries

  /** The plan contract of every query that declares one, checked on the
    * plan it builds and, by PlanContractSpec, on the plan its sink runs. */
  def contracts: Map[String, graft.exec.PlanContract] = queries.collect {
    case (q, c: graft.exec.PlanContract.Contracted) => q -> c.contract
  }

  /** For each key in queries, equivalent SQL runnable by DuckDB on the same
    * parquet tables. Omitted keys get a weaker rows-only check. */
  def oracleSql: Map[String, String] =
    graft.queries.Relational.oracle ++ graft.queries.Extensions.oracle
}
