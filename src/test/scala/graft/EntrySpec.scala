package graft

/** Driver-contract smoke: `entry` must return rows on sf0.001 under a
  * plain session (the driver may not set our custom configs). */
class EntrySpec extends SparkSpec {
  test("entry returns rows on the smoke dataset") {
    val df = SparkEntry.entry(spark)
    assert(df.count() > 0)
    assert(df.columns.nonEmpty)
  }
  test("every query has either oracle SQL or is explicitly rows-only") {
    val missing = SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet
    // intentionally rows-only: HLL approximation (engines differ), the
    // seeded sample (RNG sequences differ across engines), and the
    // approx-percentile sketch (positional sketch internals differ);
    // q42/q89 carry in-query tolerance invariants asserted below
    assert(missing == Set("q42_approx_distinct", "q54_sample",
      "q89_approx_percentile"))
  }
  test("bench run id is sanitized before it names a file") {
    assert(Bench.fileTag("../x/y") == "___x_y")
    assert(Bench.fileTag("c32") == "c32")
    assert(Bench.fileTag("r17_sub-1") == "r17_sub-1")
  }
  test("oracle map has no orphan keys") {
    assert((SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet).isEmpty)
  }
  test("q89 rows-only whitelist carries its invariant: approx percentile within 1% of exact") {
    val rows = SparkEntry.queries("q89_approx_percentile")(spark, sf()).collect()
    assert(rows.nonEmpty)
    assert(rows.forall(_.getAs[Boolean]("within_tol")),
      rows.map(r => s"${r.get(0)}: approx=${r.getAs[Double]("p90_approx")} " +
        s"exact=${r.getAs[Double]("p90_exact")}").mkString("; "))
  }

  test("q42 rows-only whitelist carries its in-query invariant: HLL within 10% of exact") {
    val rows = SparkEntry.queries("q42_approx_distinct")(spark, sf()).collect()
    assert(rows.nonEmpty)
    assert(rows.forall(_.getAs[Boolean]("within_tol")),
      rows.map(r => s"${r.get(0)}: approx=${r.get(1)} exact=${r.get(2)}").mkString("; "))
  }

  test("q54 rows-only whitelist carries its invariant: seeded sample is deterministic across runs") {
    // The sample can't cross-check DuckDB (RNG sequences differ across
    // engines) but the SEED pins it within THIS engine: two independent
    // executions must select byte-identical row sets, or the whitelist
    // entry is hiding nondeterminism rather than an engine difference.
    def runOnce() = SparkEntry.queries("q54_sample")(spark, sf()).collect()
      .map(_.toString).sorted.toSeq
    val a = runOnce()
    val b = runOnce()
    assert(a.nonEmpty)
    assert(a == b, s"seeded sample diverged across runs: ${a.size} vs ${b.size} rows")
  }
}
