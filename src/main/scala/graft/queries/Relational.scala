package graft.queries

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.expressions.Window
import graft.model.{CFields, FieldSelector}
import graft.pipes._
import graft.exec.Flow
import graft.exec.PlanContract.{ExchangeOn, contracted}
import graft.sources.{Parquet, ParquetTap}

/** Parity query set — one entry per operator family in SURVEY.md §2, each
  * expressed through the graft pipe DSL (exercising the library) with a
  * DuckDB oracle.
  *
  * Numeric convention: double aggregations go through DECIMAL(38,6) so the
  * result is order-independent (Spark partial aggregation order differs from
  * DuckDB's scan order), then cast back to double — bit-identical on both
  * engines.
  */
object Relational {
  private def T(dir: String, name: String) = ParquetTap(s"$dir/$name.parquet")
  private def P(dir: String, name: String): Pipe = Pipe.source(T(dir, name))

  /** Per-(query, SF, process) staging path. A FIXED tmp name would let a
    * second construction (another SF dir, or a concurrent JVM)
    * Replace-overwrite the files under an earlier, still-lazy result
    * DataFrame — the read would silently see the other dataset. The source
    * dir hash pins each SF to its own location within a process, and the
    * pid keeps concurrent JVMs (two verify/bench runs on one box, or a
    * 32-bit dir-hash collision) from sharing a path across processes. */
  private[queries] def stagePath(name: String, dir: String): String =
    new java.io.File(System.getProperty("java.io.tmpdir"),
      Tables.processLocal(s"${name}_${Integer.toHexString(dir.hashCode)}"))
      .toString

  /** sum(x) as exact decimal, emitted as double. */
  private def dsum(x: String) =
    s"cast(sum(cast($x as decimal(38,6))) as double)"
  private def dsumExpr(x: String) =
    s"cast(sum(cast(($x) as decimal(38,6))) as double)"

  /** Spark-side exact sum: the codegen'd int128-micros kernel, value-
    * identical to the decimal(38,6) convention the ORACLE SQL (dsum above)
    * keeps using — measured ~2x on the q01-shaped hot aggregate. Domain:
    * per-value |x| ≤ 9.2e12 (all TPC-H-ish money/quantity columns here are
    * ≤ ~1e7; out-of-domain values fail loudly with a directed error) —
    * keep `Aggs.sql(.., dsum(..))` for columns wider than that. */
  private def xsum(x: String) = graft.catalyst.ExactMicrosSum.sum(expr(x))

  /** Per-customer running order total — `Every`+`Buffer` with secondary sort
    * (reference group iterator: `GroupByInGate.java:87-115`). Exact decimal
    * accumulation keeps the running sum order-independent. */
  class RunningTotalBuffer extends CBuffer {
    val resultFields: CFields = CFields.typed(
      "o_orderkey" -> LongType, "running" -> DoubleType)
    def operate(key: Seq[Any], rows: Iterator[Row]): Iterator[Seq[Any]] = {
      var acc = java.math.BigDecimal.ZERO
      rows.map { r =>
        val price = new java.math.BigDecimal(r.getDouble(r.fieldIndex("o_totalprice")))
          .setScale(6, java.math.RoundingMode.HALF_UP)
        acc = acc.add(price)
        Seq[Any](r.getLong(r.fieldIndex("o_orderkey")), acc.doubleValue)
      }
    }
  }

  /** Global (key-less) running total as a distributed prefix scan — the
    * CScanBuffer counterpart of RunningTotalBuffer: exact decimal state, so
    * per-range summaries merge order-independently. */
  class GlobalRunningBuffer extends CScanBuffer[java.math.BigDecimal] {
    val resultFields: CFields = CFields.typed(
      "o_orderkey" -> LongType, "running" -> DoubleType)
    private def price(r: Row) =
      new java.math.BigDecimal(r.getDouble(r.fieldIndex("o_totalprice")))
        .setScale(6, java.math.RoundingMode.HALF_UP)
    def zero: java.math.BigDecimal = java.math.BigDecimal.ZERO
    def observe(s: java.math.BigDecimal, r: Row): java.math.BigDecimal = s.add(price(r))
    def merge(a: java.math.BigDecimal, b: java.math.BigDecimal): java.math.BigDecimal = a.add(b)
    def emit(carry: java.math.BigDecimal, rows: Iterator[Row]): Iterator[Seq[Any]] = {
      var acc = carry
      rows.map { r =>
        acc = acc.add(price(r))
        Seq[Any](r.getLong(r.fieldIndex("o_orderkey")), acc.doubleValue)
      }
    }
  }

  /** Custom `Every` aggregator (start/aggregate/merge/complete) — the span
    * (max - min) of order totals per priority. */
  class SpanAggregator extends CAggregator[(Double, Double)] {
    val resultField = "span"
    val resultType: DataType = DoubleType
    val argFields: Seq[String] = Seq("o_totalprice")
    override def bufferEncoder: org.apache.spark.sql.Encoder[(Double, Double)] =
      org.apache.spark.sql.Encoders.tuple(
        org.apache.spark.sql.Encoders.scalaDouble,
        org.apache.spark.sql.Encoders.scalaDouble)
    def start: (Double, Double) = (Double.MaxValue, Double.MinValue)
    def aggregate(b: (Double, Double), args: Seq[Any]): (Double, Double) = {
      val v = args.head.asInstanceOf[Double]
      (math.min(b._1, v), math.max(b._2, v))
    }
    def merge(a: (Double, Double), b: (Double, Double)): (Double, Double) =
      (math.min(a._1, b._1), math.max(a._2, b._2))
    def complete(b: (Double, Double)): Any = b._2 - b._1
  }

  /** SpanAggregator that refuses '3-…' priority groups — the poison
    * aggregator for the aggregation-trap gate (q88). The key rides in
    * argFields so BOTH everyAgg paths (udaf and trapped buffer-runner)
    * can see it. */
  class PoisonSpanAggregator extends SpanAggregator {
    override val argFields: Seq[String] = Seq("o_totalprice", "o_orderpriority")
    override def aggregate(b: (Double, Double), args: Seq[Any]): (Double, Double) = {
      if (String.valueOf(args(1)).startsWith("3"))
        throw new IllegalStateException(s"poison priority ${args(1)}")
      super.aggregate(b, args)
    }
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // GroupBy + Every aggregators (SURVEY §2.4)
    "q01_groupby_agg" -> ((s, dir) => Flow.toDF(
      P(dir, "lineitem")
        .groupBy("l_returnflag", "l_linestatus")
        .every(
          Aggs.agg("sum_qty", xsum("l_quantity")),
          Aggs.agg("sum_price", xsum("l_extendedprice")),
          Aggs.agg("sum_disc_price", xsum("l_extendedprice * (1 - l_discount)")),
          Aggs.count("n_rows")))(s)),

    // Each + ExpressionFilter/ExpressionFunction (SURVEY §2.3)
    "q02_filter_expr" -> ((s, dir) => Flow.toDF(
      P(dir, "lineitem")
        .filterBy(SqlFilter(
          "l_shipdate < timestamp'1995-09-01 00:00:00' and l_quantity > 30"))
        .each(ExpressionFunction("revenue",
          "l_extendedprice * (1 - l_discount)", DoubleType),
          args = FieldSelector.All, out = FieldSelector.All)
        .retain("l_orderkey", "l_linenumber", "revenue"))(s)),

    // Each + RegexParser / RegexFilter (SURVEY §2.3)
    "q03_regex_parse" -> ((s, dir) => Flow.toDF(
      P(dir, "documents")
        .filterBy(RegexFilter("^[A-Za-z]"), args = FieldSelector("text"))
        .each(RegexParser(CFields.of("first_word"), "^([A-Za-z]+)", Seq(1)),
          args = FieldSelector("text"), out = FieldSelector.All)
        .retain("doc_id", "first_word"))(s)),

    // CoGroup inner (repartition join) + downstream agg (SURVEY §2.5)
    "q04_cogroup_inner" -> ((s, dir) => Flow.toDF(
      P(dir, "orders")
        .coGroup(Seq("o_custkey"), P(dir, "customer"), Seq("c_custkey"))
        .groupBy("c_mktsegment")
        .every(Aggs.agg("total", xsum("o_totalprice")),
               Aggs.count("n_orders")))(s)),

    // CoGroup left outer: customers with zero orders kept (SURVEY §2.5)
    "q05_cogroup_left" -> ((s, dir) => Flow.toDF(
      P(dir, "customer")
        .coGroup(Seq("c_custkey"), P(dir, "orders"), Seq("o_custkey"),
          joiner = Joiner.Left)
        .groupBy("c_custkey")
        .every(Aggs.countArg("o_orderkey", "n_orders")))(s)),

    // HashJoin = broadcast join, n-way chain over small dims (SURVEY §2.5)
    "q06_hashjoin_nway" -> ((s, dir) => Flow.toDF(
      P(dir, "lineitem")
        .hashJoin(Seq("l_suppkey"), P(dir, "supplier"), Seq("s_suppkey"))
        .hashJoin(Seq("s_nationkey"), P(dir, "nation"), Seq("n_nationkey"))
        .hashJoin(Seq("n_regionkey"), P(dir, "region"), Seq("r_regionkey"))
        .groupBy("r_name", "n_name")
        .every(Aggs.agg("revenue", xsum("l_extendedprice * (1 - l_discount)")),
               Aggs.count("n_items")))(s)),

    // Merge (union-all) then group (SURVEY §2.6)
    "q07_merge_union" -> ((s, dir) => Flow.toDF(
      P(dir, "orders").filterBy(SqlFilter("o_orderstatus = 'F'"))
        .merge(P(dir, "orders").filterBy(SqlFilter("o_totalprice > 100000")))
        .groupBy("o_orderstatus")
        .every(Aggs.count("n")))(s)),

    // Unique / distinct (SURVEY §2.6)
    "q08_unique" -> ((s, dir) => Flow.toDF(
      P(dir, "orders").retain("o_orderstatus", "o_orderpriority").unique())(s)),

    // Unique Include.NO_NULLS (Cascading's null-dropping distinct): tuples
    // with a null in ANY distinct field are DISCARDED, not kept as their
    // own key. The nullable column is derived in-query (nullif on a real
    // status value, so nulls actually occur) and the oracle spells the
    // drop explicitly (WHERE ... IS NOT NULL before DISTINCT) — plain
    // unique would differ by exactly the one null row, so the gate
    // distinguishes the two semantics.
    "q129_unique_nonulls" -> ((s, dir) => Flow.toDF(
      P(dir, "orders")
        .each(ExpressionFunction("status_n",
          "nullif(o_orderstatus, 'P')", StringType),
          args = FieldSelector.All, out = FieldSelector.All)
        .retain("status_n", "o_orderpriority")
        .uniqueNoNulls())(s)),

    // UnGroup (cascading.operation.function.UnGroup, surfaced by the
    // round-7 conformance port — FieldedPipesPlatformTest.testUnGroup):
    // each part row pivots into one row per value selector, key + value.
    // Scan-only explode (rows ×2, no shuffle) — linear at any scale.
    "q135_ungroup" -> ((s, dir) => Flow.toDF(
      P(dir, "part")
        .retain("p_partkey", "p_name", "p_brand")
        .generate(graft.pipes.UnGroup(
          CFields.typed("p_partkey" -> LongType, "val" -> StringType),
          numKeys = 1, valueSelectors = Seq(Seq(1), Seq(2))),
          args = FieldSelector.All, out = FieldSelector.Results))(s)),

    // GroupBy + secondary sort + Buffer: running total (SURVEY §2.4)
    "q09_buffer_running" -> ((s, dir) => Flow.toDF(
      P(dir, "orders")
        .groupBySorted(Seq("o_custkey"),
          Seq("o_orderdate" -> true, "o_orderkey" -> true))
        .buffer(new RunningTotalBuffer))(s)),

    // AggregateBy family on events (CountBy/SumBy/MinBy/MaxBy — SURVEY §2.4;
    // Spark's partial aggregation subsumes the map-side combine machinery)
    "q10_aggregateby" -> ((s, dir) => Flow.toDF(
      Pipe.source(graft.sources.DataFrameTap(Tables.events(s, dir)))
        .groupBy("event_type")
        .every(
          Aggs.count("n"),
          Aggs.agg("sum_value", xsum("value")),
          // exact decimal sum / count: order-independent average
          Aggs.agg("avg_value", xsum("value") / count(lit(1))),
          Aggs.sql("min_ts", "min(ts)"),
          Aggs.sql("max_ts", "max(ts)"),
          Aggs.countDistinct("user_id", "n_users")))(s)),

    // Key-less CoGroup = Cartesian (SURVEY §2.5)
    "q11_cross" -> ((s, dir) => Flow.toDF(
      P(dir, "region").retain("r_name")
        .cross(P(dir, "nation").retain("n_name")))(s)),

    // Top-k: group + global order + limit (SURVEY §2.7)
    "q12_topk" -> ((s, dir) => Flow.toDF(
      P(dir, "orders")
        .groupBy("o_custkey")
        .every(Aggs.agg("total", xsum("o_totalprice")))
        .orderBy("total" -> false, "o_custkey" -> true)
        .limit(10))(s)),

    // Left-semi join (extension beyond reference's inner/left HashJoin)
    "q13_semijoin" -> ((s, dir) => Flow.toDF(
      P(dir, "customer")
        .hashJoin(Seq("c_custkey"), P(dir, "orders").retain("o_custkey"),
          Seq("o_custkey"), joiner = Joiner.LeftSemi)
        .groupBy("c_mktsegment")
        .every(Aggs.count("n_customers")))(s)),

    // Left-anti join: customers with no LARGE orders. The right side is
    // filtered (o_totalprice > 300000) so the anti-join is non-vacuous at
    // every SF — the unfiltered "no orders at all" form returned 0 rows on
    // the synthetic fixtures, which proves nothing (an inverted anti-join
    // would also return 0=0).
    "q14_antijoin" -> ((s, dir) => Flow.toDF(
      P(dir, "customer")
        .hashJoin(Seq("c_custkey"),
          P(dir, "orders").filterBy(SqlFilter("o_totalprice > 300000"))
            .retain("o_custkey"),
          Seq("o_custkey"), joiner = Joiner.LeftAnti)
        .retain("c_custkey", "c_mktsegment"))(s)),

    // Global (key-less) aggregation (SURVEY §2.4 global GroupBy)
    "q15_global_agg" -> ((s, dir) => Flow.toDF(
      P(dir, "lineitem")
        .groupAll
        .every(
          Aggs.count("n"),
          Aggs.agg("sum_qty", xsum("l_quantity")),
          Aggs.sql("min_ship", "min(l_shipdate)"),
          Aggs.sql("max_ship", "max(l_shipdate)")))(s)),

    // Window functions (extension; reference expresses these as
    // Buffer-with-secondary-sort — SURVEY §2.8)
    "q16_window_rank" -> ((s, dir) => {
      val o = T(dir, "orders").read(s)
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
      o.withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 3)
        .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"), col("rk"))
    }),

    // Self-join with declared fields (reference `FFS:1191-1236`)
    "q17_selfjoin" -> ((s, dir) => Flow.toDF(
      P(dir, "nation")
        .coGroup(Seq("n_regionkey"), P(dir, "nation"), Seq("n_regionkey"),
          declared = Some(Seq("k1", "name1", "rk1", "k2", "name2", "rk2")))
        .filterBy(SqlFilter("k1 < k2"))
        .retain("rk1", "name1", "name2"))(s)),

    // BufferJoin: per-key iterators over both inputs (SURVEY §2.5 BufferJoin)
    "q18_bufferjoin" -> ((s, dir) => Flow.toDF(
      P(dir, "customer").retain("c_custkey", "c_acctbal")
        .bufferJoin(Seq("c_custkey"), P(dir, "orders").retain("o_custkey"),
          Seq("o_custkey"),
          CFields.typed("c_custkey" -> LongType, "n_orders" -> LongType,
            "c_acctbal" -> DoubleType),
          (key, custs, ords) => {
            val cs = custs.toSeq
            val n = ords.size.toLong
            if (cs.nonEmpty && n > 0)
              Iterator.single(Seq[Any](key.head, n, cs.head.getDouble(1)))
            else Iterator.empty
          }))(s)),

    // Sorted-values cogroup (cascading SortedValuesPlatformTest
    // .testCoGroupComparatorValues): the order rides the shuffle sort —
    // the buffer streams each customer's orders oldest→newest with O(1)
    // state (first date, last price, count), never buffering the group
    "q175_bufferjoin_sorted" -> ((s, dir) => Flow.toDF(
      P(dir, "customer").retain("c_custkey", "c_name")
        .bufferJoinSorted(Seq("c_custkey"),
          P(dir, "orders")
            .retain("o_custkey", "o_orderkey", "o_orderdate", "o_totalprice"),
          Seq("o_custkey"),
          leftSort = Seq("c_name" -> true),
          rightSort = Seq("o_orderdate" -> true, "o_orderkey" -> true),
          CFields.typed("custkey" -> LongType,
            "first_date" -> TimestampNTZType,
            "last_price" -> DoubleType, "n_orders" -> LongType),
          (key, cs, os) => {
            if (cs.isEmpty || !os.hasNext) Iterator.empty
            else {
              val first = os.next()
              var last = first; var n = 1L
              while (os.hasNext) { last = os.next(); n += 1 }
              Iterator.single(Seq[Any](key.head, first.get(2),
                last.getDouble(3), n))
            }
          }))(s)),

    // Rename / Retain / Coerce assemblies (SURVEY §2.3)
    "q19_fieldalgebra" -> ((s, dir) => Flow.toDF(
      P(dir, "lineitem")
        .retain("l_orderkey", "l_linenumber", "l_quantity", "l_returnflag")
        .rename("l_quantity" -> "qty", "l_returnflag" -> "flag")
        .coerce("qty" -> LongType)
        .filterBy(SqlFilter("flag = 'R'")))(s)),

    // Intersect (set semantics) — extension beyond reference (SURVEY §2.6)
    "q34_intersect" -> ((s, dir) => Flow.toDF(
      P(dir, "orders").filterBy(SqlFilter("o_orderstatus = 'F'"))
        .retain("o_orderpriority")
        .intersect(P(dir, "orders").filterBy(SqlFilter("o_totalprice > 150000"))
          .retain("o_orderpriority")))(s)),

    // Except (set difference): customers minus positive-balance customers
    // → the negative/zero-balance customer keys. Keyed by c_custkey so the
    // difference is non-vacuous (the old c_mktsegment form was 0-row: every
    // segment has at least one positive-balance customer, so set-minus on
    // the 5 segment values was always empty — a vacuous gate).
    "q35_except" -> ((s, dir) => Flow.toDF(
      P(dir, "customer").retain("c_custkey", "c_mktsegment")
        .except(P(dir, "customer").filterBy(SqlFilter("c_acctbal > 0"))
          .retain("c_custkey", "c_mktsegment")))(s)),

    // n-way CoGroup with mixed join types in one flow (SURVEY §2.5 Mixed)
    "q36_nway_mixed" -> ((s, dir) => Flow.toDF(
      P(dir, "customer")
        .coGroup(Seq("c_custkey"), P(dir, "orders"), Seq("o_custkey"),
          joiner = Joiner.Left)
        .coGroup(Seq("o_orderkey"),
          P(dir, "lineitem").retain("l_orderkey", "l_quantity"),
          Seq("l_orderkey"), joiner = Joiner.Left)
        .groupBy("c_mktsegment")
        .every(Aggs.count("n_rows"),
               Aggs.agg("sum_qty", xsum("l_quantity")),
               Aggs.countArg("o_orderkey", "n_with_orders")))(s)),

    // Reversed group sort + Buffer: per-customer order ids concatenated in
    // DESC order — exercises the reverse+buffer runner end-to-end
    // (reference `isSortReversed`, FFS:527-531)
    "q49_reversed_buffer" -> ((s, dir) => Flow.toDF(
      P(dir, "orders")
        .retain("o_custkey", "o_orderkey")
        .groupBySorted(Seq("o_custkey"), Seq("o_orderkey" -> false))
        .buffer(new CBuffer {
          val resultFields: CFields = CFields.of("orders_desc")
          def operate(key: Seq[Any], rows: Iterator[Row]): Iterator[Seq[Any]] =
            Iterator.single(Seq(
              rows.map(_.getLong(1)).mkString(",")))
        }))(s)),

    // WordCount — the reference's flagship flow (example/WordCount.java:36-63):
    // 1→N RegexSplitGenerator then countBy, here over documents.text
    "q50_wordcount" -> ((s, dir) => Flow.toDF(
      P(dir, "documents")
        .retain("text")
        .generate(RegexSplitGenerator("word", " "),
          args = FieldSelector("text"), out = FieldSelector.Results)
        .countBy(Seq("word"), "n"))(s)),

    // Key-less ordered Buffer as a distributed prefix scan (CScanBuffer):
    // global running total with RangePartitioning, no coalesce(1)
    "q51_global_scan" -> ((s, dir) => Flow.toDF(
      P(dir, "orders")
        .retain("o_orderkey", "o_totalprice")
        .groupBySorted(Nil, Seq("o_orderkey" -> true))
        .scan(new GlobalRunningBuffer))(s)),

    // Trap on an ExpressionFunction: rows whose expression throws (ANSI div
    // by zero when doc_id % 7 == 0) land in the trap sink; the query RETURNS
    // the trap contents so the oracle gates the diverted rows themselves
    "q52_trap" -> ((s, dir) => {
      // the div-by-zero throws under the session's ANSI evaluation (the
      // default), so the row lands in the trap instead of nulling out.
      // materializeTraps writes the trap sink and releases the split
      // intermediate — the returned relation reads the trap PARQUET.
      val trapPath = stagePath("graft_trap_q52", dir)
      Flow.materializeTraps(P(dir, "documents").retain("doc_id")
        .each(ExpressionFunction("septile", "doc_id div (doc_id % 7)", LongType),
          args = FieldSelector.All, out = FieldSelector.All,
          trap = Some(ParquetTap(trapPath))))(s)
      Parquet.read(s, trapPath).select(col("doc_id"))
    }),

    // Trap on the bufferJoin cogroup gate: key groups whose closure throws
    // are diverted (key values + error) to the trap sink instead of killing
    // the job; the query RETURNS the trap contents so the oracle gates
    // exactly the bad keys (q52 pattern; reference wires traps through the
    // cogroup gates too — CoGroupBufferInGate.java:34-120)
    "q63_bufferjoin_trap" -> ((s, dir) => {
      val trapPath = stagePath("graft_trap_q63", dir)
      Flow.materializeTraps(
        P(dir, "customer").retain("c_custkey")
          .bufferJoin(Seq("c_custkey"),
            P(dir, "orders").retain("o_custkey"), Seq("o_custkey"),
            CFields.typed("custkey" -> LongType, "n_orders" -> LongType),
            (key, ls, rs) => {
              val n = rs.size.toLong
              if (key.head.asInstanceOf[Number].longValue % 100 == 0)
                throw new IllegalStateException(s"poison custkey ${key.head}")
              Iterator.single(Seq(key.head, n))
            },
            trap = Some(ParquetTap(trapPath))))(s)
      Parquet.read(s, trapPath).select(col("c_custkey"))
    }),

    // Custom CAggregator (start/aggregate/merge/complete) under the gate
    "q53_customagg" -> ((s, dir) => Flow.toDF(
      P(dir, "orders")
        .groupBy("o_orderpriority")
        .everyAgg(new SpanAggregator))(s)),

    // Aggregation-level trap: a group whose Every+Aggregator throws is
    // diverted to the trap tap (key + error) while surviving groups keep
    // their aggregate — gated on BOTH sides (ok rows + trapped keys)
    "q88_agg_trap" -> ((s, dir) => {
      val trapPath = stagePath("graft_trap_q88", dir)
      val main = Flow.toDFWithTraps(
        P(dir, "orders")
          .retain("o_orderpriority", "o_totalprice")
          .groupBy("o_orderpriority")
          .everyAgg(new PoisonSpanAggregator, trap = Some(ParquetTap(trapPath))))(s)
      main.withColumn("side", lit("ok"))
        .unionByName(Parquet.read(s, trapPath)
          .select(col("o_orderpriority"),
            lit(null).cast("double").as("span"), lit("trap").as("side")))
    }),

    // Seeded sample — no cross-engine oracle (RNG differs); rows-only check
    "q54_sample" -> ((s, dir) => Flow.toDF(
      P(dir, "lineitem")
        .sample(0.1, seed = 7)
        .retain("l_orderkey", "l_linenumber"))(s)),

    // 3-way BufferJoin (ordinal-tagged union + flatMapGroups) — per-key
    // iterators over nation/customer/supplier
    "q55_bufferjoin3" -> ((s, dir) => Flow.toDF(
      P(dir, "nation").retain("n_nationkey")
        .bufferJoinN(Seq("n_nationkey"),
          Seq(P(dir, "customer").retain("c_nationkey") -> Seq("c_nationkey"),
              P(dir, "supplier").retain("s_nationkey") -> Seq("s_nationkey")),
          CFields.typed("nationkey" -> IntegerType,
            "n_customers" -> LongType, "n_suppliers" -> LongType),
          (key, its) => {
            val nations = its(0).size
            val custs = its(1).size.toLong
            val supps = its(2).size.toLong
            if (nations > 0) Iterator.single(Seq[Any](key.head, custs, supps))
            else Iterator.empty
          }))(s)),

    // averageBy (AggregateBy family member previously spec-only); exact
    // because l_quantity is integral-valued, so partial sums are exact
    "q56_averageby" -> ((s, dir) => Flow.toDF(
      P(dir, "lineitem")
        .averageBy(Seq("l_returnflag"), "l_quantity", "avg_qty"))(s)),

    // PartitionTap round-trip under the gate: directory-per-key write, then
    // a partition-pruned read of one key — exercises the write path AND the
    // pruned scan end-to-end (result must equal querying the source direct)
    "q59_partition_tap" -> ((s, dir) => {
      val out = stagePath("graft_q59_ptap", dir)
      val tap = graft.sources.PartitionTap(ParquetTap(out), Seq("event_type"))
      tap.write(Tables.events(s, dir).select(
        col("event_id"), col("user_id"), col("value"), col("event_type")),
        graft.sources.SinkMode.Replace)
      tap.read(s).filter(col("event_type") === "purchase")
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          xsum("value").as("sum_value"))
    }),

    // CSV (TextDelimited) round-trip under the gate: typed write+read must
    // be value-exact (Spark renders doubles in shortest-round-trip form)
    "q60_csv_roundtrip" -> ((s, dir) => {
      val out = stagePath("graft_q60_csv", dir)
      val schema = StructType(Seq(
        StructField("o_orderkey", LongType), StructField("o_custkey", LongType),
        StructField("o_totalprice", DoubleType)))
      val tap = graft.sources.CsvTap(out, delimiter = "|", header = true,
        schema = Some(schema))
      tap.write(Flow.toDF(
        P(dir, "orders").retain("o_orderkey", "o_custkey", "o_totalprice"))(s),
        graft.sources.SinkMode.Replace)
      Flow.toDF(Pipe.source(tap)
        .groupBy("o_custkey")
        .every(Aggs.agg("total", xsum("o_totalprice")),
               Aggs.count("n_orders")))(s)
    }),

    // SequenceFile (key/value Text) round-trip under the gate
    "q62_seqfile_roundtrip" -> ((s, dir) => {
      val out = stagePath("graft_q62_seq", dir)
      val tap = graft.sources.SequenceFileTap(out)
      tap.write(Flow.toDF(
          P(dir, "orders").retain("o_orderkey", "o_orderstatus"))(s)
          .select(col("o_orderkey").cast("string"), col("o_orderstatus")),
        graft.sources.SinkMode.Replace)
      tap.read(s)
        .groupBy(col("value").as("o_orderstatus"))
        .agg(count(lit(1)).as("n"),
          sum(col("key").cast("long")).as("key_sum"))
    }),

    // Writable boundary coercion round-trip: a SequenceFile of
    // (LongWritable, BytesWritable) written AND read through
    // HadoopTap.writables — schema and both converters derived from the
    // Writable classes (WritableCoercion), so the flow itself only ever
    // sees native long/binary columns (the reference instead registers
    // per-Writable serializers to carry Writables inside flows,
    // `types/field/FieldTypeInfo.java:166-176` — converting at the tap
    // boundary keeps every downstream op in Tungsten). The payload is the
    // UTF-8 status string; decode() recovers it for the aggregate, and the
    // bytes survive the round trip exactly or the oracle hash fails.
    "q126_writable_roundtrip" -> ((s, dir) => {
      import org.apache.hadoop.io.{BytesWritable, LongWritable}
      val out = stagePath("graft_q126_writable", dir)
      val tap = graft.sources.HadoopTap.writables(
        out,
        classOf[org.apache.hadoop.mapreduce.lib.input
          .SequenceFileInputFormat[LongWritable, BytesWritable]],
        classOf[LongWritable], classOf[BytesWritable],
        outputFormat = Some(classOf[org.apache.hadoop.mapreduce.lib.output
          .SequenceFileOutputFormat[LongWritable, BytesWritable]]))
      tap.write(Flow.toDF(
          P(dir, "orders").retain("o_orderkey", "o_orderstatus"))(s)
          .select(col("o_orderkey"), encode(col("o_orderstatus"), "UTF-8")),
        graft.sources.SinkMode.Replace)
      tap.read(s)
        .groupBy(decode(col("value"), "UTF-8").as("o_orderstatus"))
        .agg(count(lit(1)).as("n"), sum(col("key")).as("key_sum"),
          sum(octet_length(col("value"))).cast("bigint").as("payload_bytes"))
    }),

    // Null join keys under an OUTER CoGroup — the cascading-platform
    // adversarial corner (JoinFieldedPipesPlatformTest null-key cases):
    // Cascading groups null keys TOGETHER (tuple comparators treat
    // null == null), unlike ANSI SQL where null keys never match. The DSL
    // exposes both: `nullSafe = true` here selects the Cascading semantics
    // (lowered to EqualNullSafe equi-keys — still a hash join), and the
    // oracle encodes it as IS NOT DISTINCT FROM. Left keys 0..149+null,
    // right keys 1..199+null, so the full outer join exercises matched
    // null groups AND null-padding on both sides in one result.
    "q68_nullsafe_cogroup" -> ((s, dir) => Flow.toDF(
      P(dir, "customer")
        .each(ExpressionFunction("ck",
          "CASE WHEN c_custkey % 100 = 0 THEN NULL ELSE c_custkey % 150 END",
          LongType), args = FieldSelector.All, out = FieldSelector.All)
        .groupBy("ck").every(Aggs.count("n_cust"))
        .coGroup(Seq("ck"),
          P(dir, "orders")
            .each(ExpressionFunction("ok", "nullif(o_custkey % 200, 0)", LongType),
              args = FieldSelector.All, out = FieldSelector.All)
            .groupBy("ok").every(Aggs.count("n_ord")),
          Seq("ok"), joiner = Joiner.Outer, nullSafe = true))(s)),

    // Mixed n-way join over null keys: stage 1 is a LEFT CoGroup with
    // Cascading null-grouping (nulls match nulls), stage 2 an INNER join
    // with ANSI semantics (null keys drop) — both behaviors verified in a
    // single flow, against an oracle spelling each condition explicitly.
    "q69_nullkey_mixed" -> ((s, dir) => Flow.toDF(
      P(dir, "customer")
        .each(ExpressionFunction("ck", "nullif(c_custkey % 100, 0)", LongType),
          args = FieldSelector.All, out = FieldSelector.All)
        .retain("ck", "c_mktsegment")
        .coGroup(Seq("ck"),
          P(dir, "orders")
            .each(ExpressionFunction("ok", "nullif(o_custkey % 100, 0)", LongType),
              args = FieldSelector.All, out = FieldSelector.All)
            .groupBy("ok").every(Aggs.count("n_ord")),
          Seq("ok"), joiner = Joiner.Left, nullSafe = true)
        .coGroup(Seq("ck"),
          P(dir, "supplier")
            .each(ExpressionFunction("sk", "nullif(s_suppkey % 100, 0)", LongType),
              args = FieldSelector.All, out = FieldSelector.All)
            .groupBy("sk").every(Aggs.count("n_supp")),
          Seq("sk"), joiner = Joiner.Inner)
        .groupBy("c_mktsegment")
        .every(Aggs.count("n_rows"),
               Aggs.sql("sum_ord", "sum(n_ord)"),
               Aggs.sql("sum_supp", "sum(n_supp)")))(s)),

    // ARGS output selector chained into SWAP — the cascading-platform
    // selector-algebra combination (FieldedPipesPlatformTest): stage 1
    // keeps ONLY the argument fields with the same-named result
    // substituted (l_discount is dropped, l_quantity is replaced); stage 2
    // swaps the argument field for the computed bucket.
    "q70_selector_args_swap" -> ((s, dir) => Flow.toDF(
      P(dir, "lineitem")
        .retain("l_orderkey", "l_linenumber", "l_quantity", "l_discount")
        .each(ExpressionFunction("l_quantity", "l_quantity * 2", DoubleType),
          args = FieldSelector("l_orderkey", "l_linenumber", "l_quantity"),
          out = FieldSelector.Args)
        .each(ExpressionFunction("qty_bucket",
          "cast(floor(l_quantity) as bigint) % 10", LongType),
          args = FieldSelector("l_quantity"), out = FieldSelector.Swap))(s)),

    // Multi-sink flow with traps firing on BOTH branches (TrapPlatformTest
    // multi-sink corner): one writeAll lowers the DAG once, writes two
    // success sinks, then flushes two trap sinks. The query returns labeled
    // counts of all four outputs so the oracle gates the whole flow:
    // success rows land in the sinks, poison rows (doc_id % 7 == 0 /
    // o_orderkey % 97 == 0) in each branch's trap.
    "q71_multisink_traps" -> ((s, dir) => {
      def tap(n: String) = ParquetTap(stagePath(n, dir))
      val (sinkA, trapA) = (tap("graft_q71_sink_a"), tap("graft_q71_trap_a"))
      val (sinkB, trapB) = (tap("graft_q71_sink_b"), tap("graft_q71_trap_b"))
      val branchA = P(dir, "documents").retain("doc_id")
        .eachRow(new CRowFunction {
          val resultFields: CFields = CFields.typed("doc_id" -> LongType)
          def apply(args: Row): Iterator[Seq[Any]] = {
            val id = args.getLong(0)
            if (id % 7 == 0) throw new IllegalStateException(s"poison doc $id")
            Iterator.single(Seq(id))
          }
        }, trap = Some(trapA))
      val branchB = P(dir, "orders").retain("o_orderkey")
        .eachRow(new CRowFunction {
          val resultFields: CFields = CFields.typed("o_orderkey" -> LongType)
          def apply(args: Row): Iterator[Seq[Any]] = {
            val id = args.getLong(0)
            if (id % 97 == 0) throw new IllegalStateException(s"poison order $id")
            Iterator.single(Seq(id))
          }
        }, trap = Some(trapB))
      Flow.writeAll(Seq(
        (branchA, sinkA, graft.sources.SinkMode.Replace),
        (branchB, sinkB, graft.sources.SinkMode.Replace)))(s)
      def cnt(t: ParquetTap, label: String) =
        t.read(s).agg(count(lit(1)).as("n"))
          .select(lit(label).as("part"), col("n"))
      cnt(sinkA, "a_ok").unionAll(cnt(trapA, "a_trap"))
        .unionAll(cnt(sinkB, "b_ok")).unionAll(cnt(trapB, "b_trap"))
    }),

    // Mixed-direction secondary sort with NULL sort values under the gate
    // (SortedValuesPlatformTest corner): pri DESC + orderkey ASC inside
    // each group, where pri is null on ~20% of rows. The oracle spells the
    // engine's null placement explicitly (ASC→NULLS FIRST, DESC→NULLS
    // LAST — Spark's defaults, matching the reference's comparators per
    // SURVEY §1.3); the buffer emits the ordered key sequence, so any
    // ordering divergence breaks the hash.
    "q78_sorted_mixed" -> ((s, dir) => Flow.toDF(
      P(dir, "orders")
        .retain("o_custkey", "o_orderkey")
        .each(ExpressionFunction("pri", "nullif(o_orderkey % 5, 0)", LongType),
          args = FieldSelector.All, out = FieldSelector.All)
        .groupBySorted(Seq("o_custkey"),
          Seq("pri" -> false, "o_orderkey" -> true))
        .buffer(new CBuffer {
          val resultFields: CFields = CFields.of("key_seq")
          def operate(key: Seq[Any], rows: Iterator[Row]): Iterator[Seq[Any]] =
            Iterator.single(Seq(
              rows.map(_.getLong(1)).mkString(",")))
        }))(s)),

    // Fields.UNKNOWN under the gate: a dynamic-arity text flow. Lines carry
    // 3 OR 4 pipe-delimited fields (the 4th only on 'F' orders); the arity
    // is unknown until DynamicArity.resolve pins it at plan time (one
    // max-size probe), after which the flow is a fixed-schema aggregation.
    // The doubles round-trip through text exactly (shortest-repr parse),
    // so the exact-decimal sum matches the oracle computed from parquet.
    "q73_dynamic_arity" -> ((s, dir) => {
      val txt = stagePath("graft_q73_text", dir)
      val lines = Tables.read(s, dir, "orders")
        .select(concat_ws("|",
          col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"),
          when(col("o_orderstatus") === "F", lit("LATE"))).as("line"))
      val tap = graft.sources.TextLineTap(txt)
      tap.write(lines, graft.sources.SinkMode.Replace)
      val toks = Flow.toDF(Pipe.source(tap)
        .each(ExpressionFunction("toks", "split(line, '[|]')",
          ArrayType(StringType)),
          args = FieldSelector.All, out = FieldSelector.Results))(s)
      val resolved = graft.operators.DynamicArity.resolve(toks, "toks")
      // the arity is DATA-dependent: with no 'F' orders in the slice every
      // line has 3 fields and f3 does not exist — count over null then
      val f3 = if (resolved.columns.contains("f3")) col("f3") else lit(null)
      resolved.groupBy(col("f1").as("o_orderstatus"))
        .agg(count(lit(1)).as("n"),
          graft.catalyst.ExactMicrosSum.sum(col("f2").cast("double")).as("total"),
          count(f3).as("n_flagged"))
    }),

    // BucketedTap round-trip under the gate: pay the layout shuffle once at
    // write time (bucketBy custkey), then the fact-dim join runs with NO
    // exchange on the join keys — the canonical 100 TB co-location
    // strategy. The query checks the plan property itself (no
    // hashpartitioning exchange on either key; the merge hint keeps the
    // co-located sort-merge path planned, at the sink too) and the
    // oracle gates the values.
    "q72_bucketed_join" -> contracted(
      ExchangeOn("c_custkey").absent(
        "co-bucketed join must not shuffle on the bucket keys"),
      ExchangeOn("o_custkey").absent(
        "co-bucketed join must not shuffle on the bucket keys")
    ) { (s, dir) =>
      val (otN, ctN) = (Tables.stagedTable(s, "graft_q72_orders"),
        Tables.stagedTable(s, "graft_q72_customer"))
      val ot = graft.sources.BucketedTap(otN, 8,
        Seq("o_custkey"), Seq("o_custkey"))
      val ct = graft.sources.BucketedTap(ctN, 8,
        Seq("c_custkey"), Seq("c_custkey"))
      ot.write(Tables.read(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice")),
        graft.sources.SinkMode.Replace)
      ct.write(Tables.read(s, dir, "customer")
        .select(col("c_custkey"), col("c_mktsegment")),
        graft.sources.SinkMode.Replace)
      org.apache.spark.sql.graftbridge.PlanBridge.mergeJoins(
        Flow.toDF(
          Pipe.source(ct)
            .coGroup(Seq("c_custkey"), Pipe.source(ot), Seq("o_custkey"))
            .groupBy("c_mktsegment")
            .every(Aggs.agg("total", xsum("o_totalprice")),
                   Aggs.count("n_orders")))(s))
    },

    // GroupAssertion under the gate: a per-group predicate (group size and
    // aggregate consistency) kept in the executed flow — the assertion
    // passes on every group, so the result equals the plain aggregation;
    // LoweringSpec covers the strip/violation behaviors.
    "q74_group_assert" -> ((s, dir) => Flow.toDF(
      P(dir, "orders")
        .groupBy("o_orderpriority")
        .every(Aggs.count("n_orders"),
               Aggs.agg("total", xsum("o_totalprice")))
        .assertGroup("__group_size = n_orders and __group_size >= 1",
          "group size mismatch"))(s)),

    // First/Last aggregators over a deterministic order (SURVEY §2.4
    // First/Last; min_by/max_by on a derived exact order value)
    "q37_firstlast" -> ((s, dir) => Flow.toDF(
      P(dir, "orders")
        .each(ExpressionFunction("ordval",
          // cast: parquet gives TIMESTAMP_NTZ; session TZ is UTC so the
          // conversion is identity
          "(unix_millis(cast(o_orderdate as timestamp)) div 86400000) * 1000000000000 + o_orderkey",
          LongType), args = FieldSelector.All, out = FieldSelector.All)
        .groupBy("o_custkey")
        .every(Aggs.firstBy("o_orderkey", "ordval", "first_order"),
               Aggs.lastBy("o_orderkey", "ordval", "last_order"),
               Aggs.count("n_orders")))(s)),

    // TPC-H Q3 shape through the DSL: shipping-priority top-10. The two
    // fact tables meet in a shuffle coGroup on the order key; the filtered
    // customer segment rides a broadcast hashJoin (a ~1/5 slice of a dim —
    // broadcastable at any SF where customer fits a dim budget); filters
    // sit upstream of both joins so the scans prune. orderBy+limit lowers
    // to TakeOrderedAndProject — a per-partition top-10 heap + one 10-row
    // gather, never a global sort.
    "q94_tpch_q3" -> ((s, dir) => Flow.toDF(
      P(dir, "lineitem")
        .filterBy(SqlFilter("l_shipdate > timestamp '1998-06-01'"))
        .coGroup(Seq("l_orderkey"),
          P(dir, "orders")
            .filterBy(SqlFilter("o_orderdate < timestamp '1998-06-01'")),
          Seq("o_orderkey"))
        .hashJoin(Seq("o_custkey"),
          P(dir, "customer")
            .filterBy(SqlFilter("c_mktsegment = 'BUILDING'")),
          Seq("c_custkey"))
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .every(Aggs.agg("revenue", xsum("l_extendedprice * (1 - l_discount)")))
        .orderBy("revenue" -> false, "l_orderkey" -> true)
        .limit(10))(s)),

    // TPC-H Q10 shape: top-20 customers by returned-item revenue over a
    // half-year window. Unlike q06's all-broadcast chain, customer joins
    // through the SHUFFLE path (coGroup) — at 100 TB the customer table is
    // fact-sized and must repartition, only nation stays broadcast. The
    // date filter prunes orders before its shuffle; revenue is the exact
    // micros kernel so the DESC sort key is engine-stable.
    "q95_tpch_q10" -> ((s, dir) => Flow.toDF(
      P(dir, "lineitem")
        .filterBy(SqlFilter("l_returnflag = 'R'"))
        .coGroup(Seq("l_orderkey"),
          P(dir, "orders").filterBy(SqlFilter(
            "o_orderdate >= timestamp '1997-01-01' and o_orderdate < timestamp '1997-07-01'")),
          Seq("o_orderkey"))
        .coGroup(Seq("o_custkey"),
          P(dir, "customer"), Seq("c_custkey"))
        .hashJoin(Seq("c_nationkey"),
          P(dir, "nation"), Seq("n_nationkey"))
        .groupBy("c_custkey", "c_name", "n_name")
        .every(Aggs.agg("revenue", xsum("l_extendedprice * (1 - l_discount)")),
               Aggs.count("n_items"))
        .orderBy("revenue" -> false, "c_custkey" -> true)
        .limit(20))(s)),

    // TPC-H Q1 shape: the flagship pricing-summary aggregate — one full
    // scan of the widest fact table, FOUR exact-micros sums per group over
    // compound expressions, plus derived averages. This is the query shape
    // the ExactMicrosSum kernel exists for: partial aggregation is map-side
    // (6 groups), the shuffle moves 6 rows/partition, and every sum is
    // order-independent int128 micros so the gate is hash-exact. The
    // averages derive from exact sums by one IEEE division (identical on
    // both engines) — never a double-folding avg().
    "q124_tpch_q1" -> ((s, dir) => Flow.toDF(
      P(dir, "lineitem")
        .filterBy(SqlFilter("l_shipdate <= timestamp '1998-09-02'"))
        .groupBy("l_returnflag", "l_linestatus")
        .every(
          Aggs.agg("sum_qty", xsum("l_quantity")),
          Aggs.agg("sum_base_price", xsum("l_extendedprice")),
          Aggs.agg("sum_disc_price", xsum("l_extendedprice * (1 - l_discount)")),
          Aggs.agg("sum_charge",
            xsum("l_extendedprice * (1 - l_discount) * (1 + l_tax)")),
          Aggs.count("count_order")))(s)
      .withColumn("avg_qty", col("sum_qty") / col("count_order"))
      .withColumn("avg_price", col("sum_base_price") / col("count_order"))),

    // TPC-H Q18 shape: large-volume-customer — a GroupBy+Every HAVING
    // aggregate feeding a SEMI-join back into the fact chain (the Cascading
    // assembly shape q94/q95 do not cover: an aggregated pipe as the right
    // side of a coGroup). The having side is ORDER-cardinality — fact-
    // sized at 100 TB — so it goes through the SHUFFLE semi-join path
    // (coGroup, never hashJoin/broadcast; PlanAuditSpec pins this with
    // auto-broadcast off) and, sharing the o_orderkey key with the
    // downstream lineitem coGroup, its shuffle partitioning is reused.
    "q125_tpch_q18" -> ((s, dir) => Flow.toDF(
      P(dir, "orders")
        .coGroup(Seq("o_orderkey"),
          P(dir, "lineitem").retain("l_orderkey", "l_quantity")
            .groupBy("l_orderkey")
            .every(Aggs.agg("qty_inner", xsum("l_quantity")))
            .filterBy(SqlFilter("qty_inner > 150")),
          Seq("l_orderkey"), joiner = Joiner.LeftSemi)
        .coGroup(Seq("o_custkey"), P(dir, "customer"), Seq("c_custkey"))
        .coGroup(Seq("o_orderkey"),
          P(dir, "lineitem").retain("l_orderkey", "l_quantity"),
          Seq("l_orderkey"))
        .groupBy("c_name", "c_custkey", "o_orderkey", "o_orderdate",
          "o_totalprice")
        .every(Aggs.agg("sum_qty", xsum("l_quantity")))
        .orderBy("o_totalprice" -> false, "o_orderkey" -> true)
        .limit(100))(s)),

    // TPC-H Q5 shape: the 6-table local-supplier join — the deepest
    // mixed-strategy chain in the suite. The two fact tables meet in
    // shuffle coGroups; supplier joins on a COMPOSITE key (l_suppkey,
    // c_nationkey) = (s_suppkey, s_nationkey) — the "local supplier"
    // predicate expressed as join keys, not a post-filter, so the match
    // happens inside the exchange; nation and the ASIA-filtered region
    // ride broadcast hashJoins at the top (dims stay dim-sized at any
    // corpus scale). Group count ≤ nations, so the final sort is trivial.
    "q209_tpch_q5" -> ((s, dir) => Flow.toDF(
      P(dir, "lineitem")
        .coGroup(Seq("l_orderkey"),
          P(dir, "orders").filterBy(SqlFilter(
            "o_orderdate >= timestamp '1997-01-01' and o_orderdate < timestamp '1998-01-01'")),
          Seq("o_orderkey"))
        .coGroup(Seq("o_custkey"),
          P(dir, "customer").retain("c_custkey", "c_nationkey"),
          Seq("c_custkey"))
        .coGroup(Seq("l_suppkey", "c_nationkey"),
          P(dir, "supplier").retain("s_suppkey", "s_nationkey"),
          Seq("s_suppkey", "s_nationkey"))
        .hashJoin(Seq("s_nationkey"), P(dir, "nation"), Seq("n_nationkey"))
        .hashJoin(Seq("n_regionkey"),
          P(dir, "region").filterBy(SqlFilter("r_name = 'ASIA'")),
          Seq("r_regionkey"))
        .groupBy("n_name")
        .every(Aggs.agg("revenue", xsum("l_extendedprice * (1 - l_discount)")))
        .orderBy("revenue" -> false, "n_name" -> true))(s)),

    // TPC-H Q16 shape (lineitem stands in for partsupp — the synthetic
    // schema has no partsupp table): distinct-supplier counts per part
    // group, minus suppliers excluded by an anti-join (s_acctbal < 2000
    // removes ~30% of suppliers at every SF, so the anti-join provably
    // bites). The excluded-supplier side is dim-sized → broadcast
    // LeftAnti; the part join is the fact-side shuffle; count(DISTINCT)
    // runs inside the group aggregate (two-phase distinct, no extra
    // exchange beyond the group key's).
    "q210_tpch_q16" -> ((s, dir) => Flow.toDF(
      P(dir, "lineitem").retain("l_partkey", "l_suppkey")
        .hashJoin(Seq("l_suppkey"),
          P(dir, "supplier").filterBy(SqlFilter("s_acctbal < 2000"))
            .retain("s_suppkey"),
          Seq("s_suppkey"), joiner = Joiner.LeftAnti)
        .coGroup(Seq("l_partkey"),
          P(dir, "part").filterBy(SqlFilter("p_size >= 3")),
          Seq("p_partkey"))
        .groupBy("p_brand", "p_size")
        .every(Aggs.sql("supplier_cnt", "count(DISTINCT l_suppkey)"))
        .orderBy("supplier_cnt" -> false, "p_brand" -> true, "p_size" -> true))(s)),

    // TPC-H Q14 shape (promotion effect): a month-windowed fact filter
    // feeding a broadcast part join, then a CONDITIONAL aggregate ratio —
    // sum(CASE promo)/sum(all) in one global group (the two sums ride one
    // partial-aggregation pass; no second scan, no self-join). The ratio
    // divides the two exact-micros sums with one IEEE double op, the q124
    // avg discipline.
    "q220_tpch_q14" -> ((s, dir) => Flow.toDF(
      P(dir, "lineitem")
        .filterBy(SqlFilter(
          "l_shipdate >= timestamp '1997-07-01' and l_shipdate < timestamp '1997-10-01'"))
        .hashJoin(Seq("l_partkey"),
          P(dir, "part").retain("p_partkey", "p_type"), Seq("p_partkey"))
        .groupAll
        .every(
          Aggs.agg("promo_revenue", xsum(
            "CASE WHEN p_type = 'PROMO' " +
              "THEN l_extendedprice * (1 - l_discount) ELSE 0 END")),
          Aggs.agg("total_revenue",
            xsum("l_extendedprice * (1 - l_discount)"))))(s)
      .withColumn("promo_pct",
        lit(100.0) * col("promo_revenue") / col("total_revenue"))),

    // TPC-H Q7 shape (volume shipping): the SAME dimension joined TWICE
    // under different roles (supplier nation / customer nation — rename
    // disambiguates the second n_nationkey before the lowering's
    // collision check), a DISJUNCTIVE cross-nation predicate that can
    // only apply after both sides are bound, and a derived group key
    // (year extract via ExpressionFunction). Facts meet in shuffle
    // coGroups; both nation decorations broadcast. Nation-key GROUPS
    // stand in for the spec's two named nations (the synthetic data has
    // no FRANCE/GERMANY traffic pair at small SFs).
    "q225_tpch_q7" -> ((s, dir) => Flow.toDF(
      P(dir, "lineitem")
        .retain("l_orderkey", "l_suppkey", "l_shipdate",
          "l_extendedprice", "l_discount")
        .coGroup(Seq("l_orderkey"),
          P(dir, "orders").retain("o_orderkey", "o_custkey"),
          Seq("o_orderkey"))
        .hashJoin(Seq("l_suppkey"),
          P(dir, "supplier").retain("s_suppkey", "s_nationkey"),
          Seq("s_suppkey"))
        .coGroup(Seq("o_custkey"),
          P(dir, "customer").retain("c_custkey", "c_nationkey"),
          Seq("c_custkey"))
        .filterBy(SqlFilter(
          "(s_nationkey < 5 and c_nationkey >= 20) or " +
            "(s_nationkey >= 20 and c_nationkey < 5)"))
        .hashJoin(Seq("s_nationkey"),
          P(dir, "nation").retain("n_nationkey", "n_name")
            .rename("n_name" -> "supp_nation"),
          Seq("n_nationkey"))
        .hashJoin(Seq("c_nationkey"),
          P(dir, "nation").retain("n_nationkey", "n_name")
            .rename("n_name" -> "cust_nation",
              "n_nationkey" -> "n2_nationkey"),
          Seq("n2_nationkey"))
        .each(ExpressionFunction("l_year", "year(l_shipdate)", IntegerType),
          args = FieldSelector.All, out = FieldSelector.All)
        .groupBy("supp_nation", "cust_nation", "l_year")
        .every(Aggs.agg("volume", xsum("l_extendedprice * (1 - l_discount)")),
               Aggs.count("n_items"))
        .orderBy("supp_nation" -> true, "cust_nation" -> true,
          "l_year" -> true))(s)),

    // TPC-H Q13 shape (customer distribution): LEFT OUTER against a
    // FILTERED fact (the filter is what makes the null leg real — every
    // customer has some order, ~18% have no 1-URGENT order), a count
    // that must SKIP outer-join nulls (count(col), not count(*)), and a
    // second aggregate OVER the first's result — the two-level
    // "histogram of group sizes" plan. Shuffles: one outer coGroup on
    // the customer key + one tiny exchange on the count value.
    "q226_tpch_q13" -> ((s, dir) => Flow.toDF(
      P(dir, "customer").retain("c_custkey")
        .coGroup(Seq("c_custkey"),
          P(dir, "orders")
            .filterBy(SqlFilter("o_orderpriority = '1-URGENT'"))
            .retain("o_orderkey", "o_custkey"),
          Seq("o_custkey"), joiner = Joiner.Left)
        .groupBy("c_custkey")
        .every(Aggs.sql("c_count", "count(o_orderkey)"))
        .groupBy("c_count")
        .every(Aggs.count("custdist"))
        .orderBy("custdist" -> false, "c_count" -> false))(s)),

    // TPC-H Q22 shape (global sales opportunity): a SCALAR subquery
    // (global average over a filtered scan — exact-micros sum / count,
    // one IEEE div, the q124 avg discipline) broadcast into the full
    // scan as a 1-row cross, then an ANTI join against recent orders
    // (the "has no orders since" leg; the anti side is a date slice
    // projected to its key column — dim-sized, so it broadcasts), and a
    // per-nation count/sum. Both engines compute the IDENTICAL
    // threshold double, so the > comparison selects the same rows.
    "q227_tpch_q22" -> ((s, dir) => Flow.toDF(
      P(dir, "customer")
        .cross(
          P(dir, "customer").filterBy(SqlFilter("c_acctbal > 0"))
            .retain("c_acctbal").rename("c_acctbal" -> "pos_bal")
            .groupAll
            .every(Aggs.agg("sum_bal", xsum("pos_bal")),
                   Aggs.count("n_pos")))
        .filterBy(SqlFilter("c_acctbal > sum_bal / n_pos"))
        .hashJoin(Seq("c_custkey"),
          P(dir, "orders")
            .filterBy(SqlFilter("o_orderdate >= timestamp '2001-01-01'"))
            .retain("o_custkey"),
          Seq("o_custkey"), joiner = Joiner.LeftAnti)
        .groupBy("c_nationkey")
        .every(Aggs.count("numcust"),
               Aggs.agg("totacctbal", xsum("c_acctbal")))
        .orderBy("c_nationkey" -> true))(s)),

    // TPC-H Q2 shape (minimum-cost supplier): the aggregate-JOIN-BACK
    // pattern — a per-part MIN computed once, then equality-joined back
    // against the detail rows ON THE AGGREGATE VALUE itself (composite
    // key (partkey, cost) = (partkey, min_cost); min over doubles takes
    // an existing value, never folds, so the equality is engine-stable).
    // partsupp stand-in: lineitem collapsed to (part, supplier, min
    // extendedprice) — the q210 convention for the missing table. The
    // dim chain (part → supplier → nation → EUROPE region) rides
    // broadcasts; orderBy+limit lowers to TakeOrderedAndProject with a
    // total order ((s_name, l_partkey) is unique per row).
    "q228_tpch_q2" -> ((s, dir) => {
      val ps = P(dir, "lineitem")
        .retain("l_partkey", "l_suppkey", "l_extendedprice")
        .groupBy("l_partkey", "l_suppkey")
        .every(Aggs.min("l_extendedprice", "supplycost"))
      Flow.toDF(
        ps.coGroup(Seq("l_partkey", "supplycost"),
            ps.groupBy("l_partkey").every(Aggs.min("supplycost", "min_cost"))
              .rename("l_partkey" -> "mp_partkey"),
            Seq("mp_partkey", "min_cost"))
          .hashJoin(Seq("l_partkey"),
            P(dir, "part").filterBy(SqlFilter("p_size <= 15"))
              .retain("p_partkey", "p_name"),
            Seq("p_partkey"))
          .hashJoin(Seq("l_suppkey"),
            P(dir, "supplier"), Seq("s_suppkey"))
          .hashJoin(Seq("s_nationkey"),
            P(dir, "nation"), Seq("n_nationkey"))
          .hashJoin(Seq("n_regionkey"),
            P(dir, "region").filterBy(SqlFilter("r_name = 'EUROPE'")),
            Seq("r_regionkey"))
          .retain("s_acctbal", "s_name", "n_name", "l_partkey", "p_name",
            "supplycost")
          .orderBy("s_acctbal" -> false, "s_name" -> true, "l_partkey" -> true)
          .limit(100))(s)
    }),

    // TPC-H Q4 shape (order-priority checking): the canonical EXISTS —
    // a date-windowed fact scan semi-joined against a filtered second
    // fact (returned lines stand in for the commit<receipt predicate:
    // the synthetic lineitem has no commit/receipt dates). The semi side
    // is fact-sized so it goes through the SHUFFLE semi path (coGroup,
    // never broadcast), projected to its key column before the exchange.
    "q229_tpch_q4" -> ((s, dir) => Flow.toDF(
      P(dir, "orders")
        .filterBy(SqlFilter(
          "o_orderdate >= timestamp '1997-07-01' and o_orderdate < timestamp '1997-10-01'"))
        .coGroup(Seq("o_orderkey"),
          P(dir, "lineitem").filterBy(SqlFilter("l_returnflag = 'R'"))
            .retain("l_orderkey"),
          Seq("l_orderkey"), joiner = Joiner.LeftSemi)
        .groupBy("o_orderpriority")
        .every(Aggs.count("order_count"))
        .orderBy("o_orderpriority" -> true))(s)),

    // TPC-H Q6 shape (forecasting revenue change): the pure pushdown
    // probe — a conjunctive range filter (date window × discount band ×
    // quantity cap) over ONE fact scan, then a single global exact-sum.
    // All three predicates reach the parquet scan as PushedFilters; the
    // aggregate moves one row per partition. The literal discount bounds
    // are parsed to identical doubles by both engines.
    "q230_tpch_q6" -> ((s, dir) => Flow.toDF(
      P(dir, "lineitem")
        .filterBy(SqlFilter(
          "l_shipdate >= timestamp '1997-01-01' and l_shipdate < timestamp '1998-01-01'" +
            " and l_discount >= 0.02 and l_discount <= 0.06 and l_quantity < 24"))
        .groupAll
        .every(Aggs.agg("revenue", xsum("l_extendedprice * l_discount")),
               Aggs.count("n_items")))(s)),

    // TPC-H Q8 shape (national market share): a conditional-share ratio
    // — TWO exact sums in one partial-aggregation pass (CASE-gated
    // nation volume / total volume), divided AFTER aggregation with one
    // IEEE op (the q124 avg discipline). The two facts meet in shuffle
    // coGroups; part (type-filtered), nation, region, supplier all ride
    // broadcasts; the supplier nation feeds the CASE directly (no second
    // nation join needed — the share is keyed on the nation KEY).
    "q231_tpch_q8" -> ((s, dir) => Flow.toDF(
      P(dir, "lineitem")
        .hashJoin(Seq("l_partkey"),
          P(dir, "part").filterBy(SqlFilter("p_type = 'STANDARD'"))
            .retain("p_partkey"),
          Seq("p_partkey"))
        .coGroup(Seq("l_orderkey"),
          P(dir, "orders").filterBy(SqlFilter(
            "o_orderdate >= timestamp '1996-01-01' and o_orderdate < timestamp '1998-01-01'"))
            .retain("o_orderkey", "o_custkey", "o_orderdate"),
          Seq("o_orderkey"))
        .coGroup(Seq("o_custkey"),
          P(dir, "customer").retain("c_custkey", "c_nationkey"),
          Seq("c_custkey"))
        .hashJoin(Seq("c_nationkey"),
          P(dir, "nation").retain("n_nationkey", "n_regionkey"),
          Seq("n_nationkey"))
        .hashJoin(Seq("n_regionkey"),
          P(dir, "region").filterBy(SqlFilter("r_name = 'AMERICA'")),
          Seq("r_regionkey"))
        .hashJoin(Seq("l_suppkey"),
          P(dir, "supplier").retain("s_suppkey", "s_nationkey"),
          Seq("s_suppkey"))
        .each(ExpressionFunction("o_year", "year(o_orderdate)", IntegerType),
          args = FieldSelector.All, out = FieldSelector.All)
        .groupBy("o_year")
        .every(
          Aggs.agg("nation_volume", xsum(
            "CASE WHEN s_nationkey = 3 THEN l_extendedprice * (1 - l_discount) ELSE 0 END")),
          Aggs.agg("total_volume", xsum("l_extendedprice * (1 - l_discount)")))
        .orderBy("o_year" -> true))(s)
      .withColumn("mkt_share", col("nation_volume") / col("total_volume"))),

    // TPC-H Q9 shape (product-type profit): profit = revenue minus a
    // derived cost (p_retailprice × 0.1 × quantity stands in for the
    // missing ps_supplycost), summed exactly per (nation, year). The
    // 0.1 literal is cast to double EXPLICITLY on both engines — Spark
    // and DuckDB would otherwise type a bare 0.1 as decimal and the
    // promotion rules could diverge. Orders joins in shuffle (fact);
    // part/supplier/nation broadcast.
    "q232_tpch_q9" -> ((s, dir) => Flow.toDF(
      P(dir, "lineitem")
        .hashJoin(Seq("l_partkey"),
          P(dir, "part").filterBy(SqlFilter("p_name like '%gear%'"))
            .retain("p_partkey", "p_retailprice"),
          Seq("p_partkey"))
        .hashJoin(Seq("l_suppkey"),
          P(dir, "supplier").retain("s_suppkey", "s_nationkey"),
          Seq("s_suppkey"))
        .hashJoin(Seq("s_nationkey"),
          P(dir, "nation").retain("n_nationkey", "n_name"),
          Seq("n_nationkey"))
        .coGroup(Seq("l_orderkey"),
          P(dir, "orders").retain("o_orderkey", "o_orderdate"),
          Seq("o_orderkey"))
        .each(ExpressionFunction("o_year", "year(o_orderdate)", IntegerType),
          args = FieldSelector.All, out = FieldSelector.All)
        .groupBy("n_name", "o_year")
        .every(Aggs.agg("sum_profit", xsum(
          "l_extendedprice * (1 - l_discount) - p_retailprice * cast(0.1 as double) * l_quantity")))
        .orderBy("n_name" -> true, "o_year" -> false))(s)),

    // TPC-H Q11 shape (important stock): a HAVING against a GLOBAL
    // scalar — per-part value sums filtered by a fraction of the
    // corpus-wide total, the total riding a 1-row broadcast cross (the
    // q227 scalar-subquery pattern). TPC-H scales the fraction with SF
    // (0.0001/SF); here the same self-scaling is spelled as a multiple
    // of the MEAN per-part share — threshold = total · 1.5 / n_parts —
    // so the gate returns rows at EVERY SF (measured: 2 / 29 / 252 at
    // sf0.001/0.01/0.1; the previous fixed 0.001 literal selected 0
    // rows at all gated SFs — a vacuous gate). Both sides of the > are
    // exact-sum doubles, the 1.5 literal is explicitly double, and the
    // *-then-/ evaluation order is identical in both engines, so the
    // comparison selects identical rows. partsupp stand-in: lineitem
    // extendedprice as the stock value.
    "q233_tpch_q11" -> ((s, dir) => Flow.toDF(
      P(dir, "lineitem").retain("l_partkey", "l_extendedprice")
        .groupBy("l_partkey")
        .every(Aggs.agg("part_value", xsum("l_extendedprice")))
        .cross(
          P(dir, "lineitem").retain("l_partkey", "l_extendedprice")
            .rename("l_extendedprice" -> "ep")
            .groupAll
            .every(
              Aggs.agg("total_value", xsum("ep")),
              Aggs.sql("n_parts", "count(distinct l_partkey)")))
        .filterBy(SqlFilter(
          "part_value > total_value * cast(1.5 as double) / cast(n_parts as double)"))
        .retain("l_partkey", "part_value")
        .orderBy("part_value" -> false, "l_partkey" -> true))(s)),

    // TPC-H Q12 shape (shipping-mode priority): one shuffle coGroup of
    // the two facts, then TWO complementary CASE-counts in a single
    // partial-aggregation pass — the high/low split never rescans.
    // l_linestatus stands in for the missing l_shipmode column.
    "q234_tpch_q12" -> ((s, dir) => Flow.toDF(
      P(dir, "orders").retain("o_orderkey", "o_orderpriority")
        .coGroup(Seq("o_orderkey"),
          P(dir, "lineitem").filterBy(SqlFilter(
            "l_shipdate >= timestamp '1997-01-01' and l_shipdate < timestamp '1998-01-01'"))
            .retain("l_orderkey", "l_linestatus"),
          Seq("l_orderkey"))
        .groupBy("l_linestatus")
        .every(
          Aggs.sql("high_line_count",
            "sum(CASE WHEN o_orderpriority = '1-URGENT' OR o_orderpriority = '2-HIGH' THEN 1 ELSE 0 END)"),
          Aggs.sql("low_line_count",
            "sum(CASE WHEN o_orderpriority <> '1-URGENT' AND o_orderpriority <> '2-HIGH' THEN 1 ELSE 0 END)"))
        .orderBy("l_linestatus" -> true))(s)),

    // TPC-H Q15 shape (top supplier): equality against a global MAX —
    // the revenue view computed ONCE (split memo), its max broadcast
    // back as a 1-row cross, and suppliers kept where revenue = max
    // (ties included, per the spec's view formulation). max over exact-
    // sum doubles takes an existing value, so the = is engine-stable.
    "q235_tpch_q15" -> ((s, dir) => {
      val rev = P(dir, "lineitem")
        .filterBy(SqlFilter(
          "l_shipdate >= timestamp '1997-01-01' and l_shipdate < timestamp '1997-04-01'"))
        .retain("l_suppkey", "l_extendedprice", "l_discount")
        .groupBy("l_suppkey")
        .every(Aggs.agg("total_revenue", xsum("l_extendedprice * (1 - l_discount)")))
      Flow.toDF(
        rev.cross(
            rev.retain("total_revenue").rename("total_revenue" -> "tr")
              .groupAll.every(Aggs.max("tr", "max_revenue")))
          .filterBy(SqlFilter("total_revenue = max_revenue"))
          .hashJoin(Seq("l_suppkey"),
            P(dir, "supplier").retain("s_suppkey", "s_name"),
            Seq("s_suppkey"))
          .retain("l_suppkey", "s_name", "total_revenue")
          .orderBy("l_suppkey" -> true))(s)
    }),

    // TPC-H Q17 shape (small-quantity-order revenue): the correlated-avg
    // join-back — per-part exact sum+count joined back into the detail
    // rows, the 0.2×avg threshold derived by the SAME two IEEE ops on
    // both engines (explicit double literal, multiply, divide — never a
    // folded avg()). Brand slice broadcasts; the join-back shares the
    // part key with the inner aggregate so the shuffle partitioning is
    // reused.
    "q236_tpch_q17" -> ((s, dir) => Flow.toDF(
      P(dir, "lineitem").retain("l_partkey", "l_quantity", "l_extendedprice")
        .hashJoin(Seq("l_partkey"),
          P(dir, "part").filterBy(SqlFilter("p_brand = 'Brand#9'"))
            .retain("p_partkey"),
          Seq("p_partkey"))
        .coGroup(Seq("l_partkey"),
          P(dir, "lineitem").retain("l_partkey", "l_quantity")
            .rename("l_partkey" -> "a_partkey", "l_quantity" -> "a_qty")
            .groupBy("a_partkey")
            .every(Aggs.agg("qty_sum", xsum("a_qty")), Aggs.count("qty_cnt")),
          Seq("a_partkey"))
        .filterBy(SqlFilter(
          "l_quantity < cast(0.2 as double) * qty_sum / qty_cnt"))
        .groupAll
        .every(Aggs.agg("sum_price", xsum("l_extendedprice")),
               Aggs.count("n_items")))(s)
      .withColumn("avg_yearly", col("sum_price") / lit(7.0))),

    // TPC-H Q19 shape (discounted revenue): the DISJUNCTIVE multi-bundle
    // join predicate — three (brand × size-range × quantity-range)
    // conjunct bundles OR'd together, applicable only AFTER the join
    // binds both sides (the q225 cross-binding discipline). The part
    // side broadcasts; the residual OR evaluates inside one codegen
    // stage, never as three scans.
    "q237_tpch_q19" -> ((s, dir) => Flow.toDF(
      P(dir, "lineitem")
        .retain("l_partkey", "l_quantity", "l_extendedprice", "l_discount")
        .hashJoin(Seq("l_partkey"),
          P(dir, "part").retain("p_partkey", "p_brand", "p_size"),
          Seq("p_partkey"))
        .filterBy(SqlFilter(
          "(p_brand = 'Brand#9' and p_size between 1 and 15 and l_quantity >= 1 and l_quantity <= 20) or " +
            "(p_brand = 'Brand#2' and p_size between 10 and 30 and l_quantity >= 10 and l_quantity <= 30) or " +
            "(p_brand = 'Brand#13' and p_size between 20 and 50 and l_quantity >= 20 and l_quantity <= 40)"))
        .groupAll
        .every(Aggs.agg("revenue", xsum("l_extendedprice * (1 - l_discount)")),
               Aggs.count("n_items")))(s)),

    // TPC-H Q20 shape (potential part promotion): NESTED semi joins —
    // suppliers kept by a semi against an aggregate that is itself
    // gated by a semi (the red-part slice). availqty stand-in: the
    // all-time shipped total per supplier over red parts vs 4× the
    // 1997 window (at the smallest SF the (part,supplier) grain is
    // singleton rows, so the threshold is applied at supplier grain —
    // documented divergence from the spec's partsupp grain). Both
    // sums are exact micros; the literal factor is explicit double.
    "q238_tpch_q20" -> ((s, dir) => Flow.toDF(
      P(dir, "supplier").filterBy(SqlFilter("s_nationkey < 8"))
        .coGroup(Seq("s_suppkey"),
          P(dir, "lineitem")
            .retain("l_partkey", "l_suppkey", "l_quantity", "l_shipdate")
            .hashJoin(Seq("l_partkey"),
              P(dir, "part").filterBy(SqlFilter("p_name like '%red%'"))
                .retain("p_partkey"),
              Seq("p_partkey"), joiner = Joiner.LeftSemi)
            .groupBy("l_suppkey")
            .every(
              Aggs.agg("avail", xsum("l_quantity")),
              Aggs.agg("shipped", xsum(
                "CASE WHEN l_shipdate >= timestamp '1997-01-01' and l_shipdate < timestamp '1998-01-01' THEN l_quantity ELSE 0 END")))
            .filterBy(SqlFilter(
              "shipped > cast(0 as double) and avail > cast(4 as double) * shipped"))
            .retain("l_suppkey"),
          Seq("l_suppkey"), joiner = Joiner.LeftSemi)
        .retain("s_suppkey", "s_name")
        .orderBy("s_suppkey" -> true))(s)),

    // TPC-H Q21 shape (suppliers who kept orders waiting): the multi-
    // EXISTS self-join rewritten as per-order DISTINCT counts — one
    // aggregate pass over the fact computes (suppliers per order, late
    // suppliers per order); "exists another supplier AND no OTHER late
    // supplier" becomes nsupp > 1 AND nlate = 1 on the joined-back row
    // (l1 is late, so its supplier IS the unique late one). Returned
    // lines stand in for receipt>commit. One extra keyed shuffle
    // replaces the spec's two correlated self-joins.
    "q239_tpch_q21" -> ((s, dir) => Flow.toDF(
      P(dir, "lineitem").filterBy(SqlFilter("l_returnflag = 'R'"))
        .retain("l_orderkey", "l_suppkey")
        .coGroup(Seq("l_orderkey"),
          P(dir, "orders").filterBy(SqlFilter("o_orderstatus = 'F'"))
            .retain("o_orderkey"),
          Seq("o_orderkey"), joiner = Joiner.LeftSemi)
        .coGroup(Seq("l_orderkey"),
          P(dir, "lineitem")
            .retain("l_orderkey", "l_suppkey", "l_returnflag")
            .rename("l_orderkey" -> "a_orderkey", "l_suppkey" -> "a_suppkey",
              "l_returnflag" -> "a_flag")
            .groupBy("a_orderkey")
            .every(
              Aggs.sql("nsupp", "count(DISTINCT a_suppkey)"),
              Aggs.sql("nlate",
                "count(DISTINCT CASE WHEN a_flag = 'R' THEN a_suppkey END)")),
          Seq("a_orderkey"))
        .filterBy(SqlFilter("nsupp > 1 and nlate = 1"))
        .hashJoin(Seq("l_suppkey"),
          P(dir, "supplier").retain("s_suppkey", "s_name"),
          Seq("s_suppkey"))
        .groupBy("s_name")
        .every(Aggs.count("numwait"))
        .orderBy("numwait" -> false, "s_name" -> true)
        .limit(100))(s)),

    // ORC columnar round-trip under the gate (q60/q62 pattern: write the
    // staged format, read it back, aggregate — the oracle computes the
    // same aggregate from the parquet source, so a type or value
    // divergence in the ORC path hash-fails)
    "q101_orc_roundtrip" -> ((s, dir) => {
      val out = stagePath("graft_q101_orc", dir)
      val tap = graft.sources.OrcTap(out)
      tap.write(Flow.toDF(
        P(dir, "lineitem").retain("l_orderkey", "l_returnflag", "l_quantity"))(s),
        graft.sources.SinkMode.Replace)
      Flow.toDF(Pipe.source(tap)
        .groupBy("l_returnflag")
        .every(Aggs.agg("sum_qty", xsum("l_quantity")),
               Aggs.count("n_items"),
               Aggs.sql("max_key", "max(l_orderkey)")))(s)
    }),

    // JSON-lines round-trip: schema-on-read (no inference scan), doubles
    // survive Jackson's shortest-round-trip encoding bit-exactly
    "q102_jsonl_roundtrip" -> ((s, dir) => {
      val out = stagePath("graft_q102_jsonl", dir)
      val schema = StructType(Seq(
        StructField("o_orderkey", LongType),
        StructField("o_orderstatus", StringType),
        StructField("o_totalprice", DoubleType)))
      val tap = graft.sources.JsonLinesTap(out, Some(schema))
      tap.write(Flow.toDF(
        P(dir, "orders").retain("o_orderkey", "o_orderstatus", "o_totalprice"))(s),
        graft.sources.SinkMode.Replace)
      Flow.toDF(Pipe.source(tap)
        .groupBy("o_orderstatus")
        .every(Aggs.agg("total", xsum("o_totalprice")),
               Aggs.count("n_orders"),
               Aggs.sql("key_sum", "cast(sum(o_orderkey) as bigint)")))(s)
    })
  )

  val oracle: Map[String, String] = Map(
    "q01_groupby_agg" ->
      s"""SELECT l_returnflag, l_linestatus,
         |${dsum("l_quantity")} AS sum_qty,
         |${dsum("l_extendedprice")} AS sum_price,
         |${dsumExpr("l_extendedprice * (1 - l_discount)")} AS sum_disc_price,
         |count(*) AS n_rows
         |FROM lineitem GROUP BY 1, 2""".stripMargin,

    "q02_filter_expr" ->
      """SELECT l_orderkey, l_linenumber,
        |l_extendedprice * (1 - l_discount) AS revenue
        |FROM lineitem
        |WHERE l_shipdate < TIMESTAMP '1995-09-01 00:00:00' AND l_quantity > 30""".stripMargin,

    "q03_regex_parse" ->
      """SELECT doc_id, regexp_extract(text, '^([A-Za-z]+)', 1) AS first_word
        |FROM documents WHERE regexp_matches(text, '^[A-Za-z]')""".stripMargin,

    "q04_cogroup_inner" ->
      s"""SELECT c_mktsegment, ${dsum("o_totalprice")} AS total,
         |count(*) AS n_orders
         |FROM orders JOIN customer ON o_custkey = c_custkey
         |GROUP BY 1""".stripMargin,

    "q05_cogroup_left" ->
      """SELECT c_custkey, count(o_orderkey) AS n_orders
        |FROM customer LEFT JOIN orders ON c_custkey = o_custkey
        |GROUP BY 1""".stripMargin,

    "q06_hashjoin_nway" ->
      s"""SELECT r_name, n_name,
         |${dsumExpr("l_extendedprice * (1 - l_discount)")} AS revenue,
         |count(*) AS n_items
         |FROM lineitem
         |JOIN supplier ON l_suppkey = s_suppkey
         |JOIN nation ON s_nationkey = n_nationkey
         |JOIN region ON n_regionkey = r_regionkey
         |GROUP BY 1, 2""".stripMargin,

    "q07_merge_union" ->
      """SELECT o_orderstatus, count(*) AS n FROM (
        |  SELECT * FROM orders WHERE o_orderstatus = 'F'
        |  UNION ALL
        |  SELECT * FROM orders WHERE o_totalprice > 100000
        |) GROUP BY 1""".stripMargin,

    "q08_unique" ->
      "SELECT DISTINCT o_orderstatus, o_orderpriority FROM orders",

    "q129_unique_nonulls" ->
      """SELECT DISTINCT nullif(o_orderstatus, 'P') AS status_n,
        |o_orderpriority FROM orders
        |WHERE nullif(o_orderstatus, 'P') IS NOT NULL""".stripMargin,

    "q135_ungroup" ->
      """SELECT p_partkey, p_name AS val FROM part
        |UNION ALL SELECT p_partkey, p_brand FROM part""".stripMargin,

    "q09_buffer_running" ->
      """SELECT o_custkey, o_orderkey,
        |CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6)))
        |  OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |        ROWS UNBOUNDED PRECEDING) AS DOUBLE) AS running
        |FROM orders""".stripMargin,

    "q10_aggregateby" ->
      s"""SELECT event_type, count(*) AS n, ${dsum("value")} AS sum_value,
         |${dsum("value")} / count(*) AS avg_value,
         |CAST(min(ts) AS TIMESTAMP) AS min_ts, CAST(max(ts) AS TIMESTAMP) AS max_ts,
         |count(DISTINCT user_id) AS n_users
         |FROM events GROUP BY 1""".stripMargin,

    "q11_cross" ->
      "SELECT r_name, n_name FROM region CROSS JOIN nation",

    "q12_topk" ->
      s"""SELECT o_custkey, ${dsum("o_totalprice")} AS total
         |FROM orders GROUP BY 1
         |ORDER BY total DESC, o_custkey ASC LIMIT 10""".stripMargin,

    "q13_semijoin" ->
      """SELECT c_mktsegment, count(*) AS n_customers
        |FROM customer WHERE c_custkey IN (SELECT o_custkey FROM orders)
        |GROUP BY 1""".stripMargin,

    "q14_antijoin" ->
      """SELECT c_custkey, c_mktsegment FROM customer
        |WHERE c_custkey NOT IN
        |  (SELECT o_custkey FROM orders WHERE o_totalprice > 300000)""".stripMargin,

    "q15_global_agg" ->
      s"""SELECT count(*) AS n, ${dsum("l_quantity")} AS sum_qty,
         |min(l_shipdate) AS min_ship, max(l_shipdate) AS max_ship
         |FROM lineitem""".stripMargin,

    "q16_window_rank" ->
      """SELECT o_custkey, o_orderkey, o_totalprice, rk FROM (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |  CAST(row_number() OVER (PARTITION BY o_custkey
        |    ORDER BY o_totalprice DESC, o_orderkey ASC) AS INTEGER) AS rk
        |  FROM orders
        |) WHERE rk <= 3""".stripMargin,

    "q17_selfjoin" ->
      """SELECT a.n_regionkey AS rk1, a.n_name AS name1, b.n_name AS name2
        |FROM nation a JOIN nation b ON a.n_regionkey = b.n_regionkey
        |WHERE a.n_nationkey < b.n_nationkey""".stripMargin,

    "q18_bufferjoin" ->
      """SELECT c_custkey, count(*) AS n_orders, min(c_acctbal) AS c_acctbal
        |FROM customer JOIN orders ON c_custkey = o_custkey
        |GROUP BY 1""".stripMargin,

    "q175_bufferjoin_sorted" ->
      """WITH o AS (
        |  SELECT o_custkey, o_orderdate, o_totalprice,
        |    row_number() OVER (PARTITION BY o_custkey
        |      ORDER BY o_orderdate, o_orderkey) AS rn_a,
        |    row_number() OVER (PARTITION BY o_custkey
        |      ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn_d,
        |    count(*) OVER (PARTITION BY o_custkey) AS n
        |  FROM orders)
        |SELECT c.c_custkey AS custkey,
        |  a.o_orderdate AS first_date,
        |  d.o_totalprice AS last_price,
        |  CAST(a.n AS BIGINT) AS n_orders
        |FROM customer c
        |JOIN o a ON a.o_custkey = c.c_custkey AND a.rn_a = 1
        |JOIN o d ON d.o_custkey = c.c_custkey AND d.rn_d = 1""".stripMargin,

    "q19_fieldalgebra" ->
      """SELECT l_orderkey, l_linenumber,
        |CAST(TRUNC(l_quantity) AS BIGINT) AS qty, l_returnflag AS flag
        |FROM lineitem WHERE l_returnflag = 'R'""".stripMargin,

    "q34_intersect" ->
      """SELECT o_orderpriority FROM orders WHERE o_orderstatus = 'F'
        |INTERSECT
        |SELECT o_orderpriority FROM orders WHERE o_totalprice > 150000""".stripMargin,

    "q35_except" ->
      """SELECT c_custkey, c_mktsegment FROM customer
        |EXCEPT
        |SELECT c_custkey, c_mktsegment FROM customer
        |WHERE c_acctbal > 0""".stripMargin,

    "q36_nway_mixed" ->
      s"""SELECT c_mktsegment, count(*) AS n_rows,
         |${dsum("l_quantity")} AS sum_qty,
         |count(o_orderkey) AS n_with_orders
         |FROM customer
         |LEFT JOIN orders ON c_custkey = o_custkey
         |LEFT JOIN (SELECT l_orderkey, l_quantity FROM lineitem) l
         |  ON o_orderkey = l.l_orderkey
         |GROUP BY 1""".stripMargin,

    "q49_reversed_buffer" ->
      """SELECT o_custkey,
        |string_agg(o_orderkey, ',' ORDER BY o_orderkey DESC) AS orders_desc
        |FROM orders GROUP BY 1""".stripMargin,

    "q50_wordcount" ->
      """SELECT word, count(*) AS n FROM (
        |  SELECT unnest(list_filter(string_split(text, ' '), t -> t <> '')) AS word
        |  FROM documents
        |) GROUP BY 1""".stripMargin,

    "q51_global_scan" ->
      """SELECT o_orderkey,
        |CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6)))
        |  OVER (ORDER BY o_orderkey ROWS UNBOUNDED PRECEDING) AS DOUBLE) AS running
        |FROM orders""".stripMargin,

    "q52_trap" ->
      "SELECT doc_id FROM documents WHERE doc_id % 7 = 0",

    "q53_customagg" ->
      """SELECT o_orderpriority, max(o_totalprice) - min(o_totalprice) AS span
        |FROM orders GROUP BY 1""".stripMargin,

    "q88_agg_trap" ->
      """SELECT o_orderpriority, max(o_totalprice) - min(o_totalprice) AS span,
        |'ok' AS side
        |FROM orders WHERE o_orderpriority NOT LIKE '3%' GROUP BY 1
        |UNION ALL
        |SELECT DISTINCT o_orderpriority, CAST(NULL AS DOUBLE) AS span,
        |'trap' AS side
        |FROM orders WHERE o_orderpriority LIKE '3%'""".stripMargin,

    "q63_bufferjoin_trap" ->
      "SELECT c_custkey FROM customer WHERE c_custkey % 100 = 0",

    "q55_bufferjoin3" ->
      """WITH cc AS (SELECT c_nationkey, count(*) AS n FROM customer GROUP BY 1),
        |sc AS (SELECT s_nationkey, count(*) AS n FROM supplier GROUP BY 1)
        |SELECT n_nationkey AS nationkey,
        |CAST(coalesce(cc.n, 0) AS BIGINT) AS n_customers,
        |CAST(coalesce(sc.n, 0) AS BIGINT) AS n_suppliers
        |FROM nation
        |LEFT JOIN cc ON n_nationkey = c_nationkey
        |LEFT JOIN sc ON n_nationkey = s_nationkey""".stripMargin,

    "q56_averageby" ->
      "SELECT l_returnflag, avg(l_quantity) AS avg_qty FROM lineitem GROUP BY 1",

    "q59_partition_tap" ->
      s"""SELECT event_type, count(*) AS n, ${dsum("value")} AS sum_value
         |FROM events WHERE event_type = 'purchase' GROUP BY 1""".stripMargin,

    "q60_csv_roundtrip" ->
      s"""SELECT o_custkey, ${dsum("o_totalprice")} AS total,
         |count(*) AS n_orders
         |FROM orders GROUP BY 1""".stripMargin,

    "q62_seqfile_roundtrip" ->
      """SELECT o_orderstatus, count(*) AS n,
        |CAST(sum(o_orderkey) AS BIGINT) AS key_sum
        |FROM orders GROUP BY 1""".stripMargin,

    "q126_writable_roundtrip" ->
      """SELECT o_orderstatus, count(*) AS n,
        |CAST(sum(o_orderkey) AS BIGINT) AS key_sum,
        |CAST(sum(octet_length(encode(o_orderstatus))) AS BIGINT) AS payload_bytes
        |FROM orders GROUP BY 1""".stripMargin,

    // Cascading null-grouping semantics: IS NOT DISTINCT FROM is the SQL
    // spelling of "null keys group together"
    "q68_nullsafe_cogroup" ->
      """WITH l AS (
        |  SELECT CASE WHEN c_custkey % 100 = 0 THEN NULL ELSE c_custkey % 150 END AS ck,
        |         count(*) AS n_cust
        |  FROM customer GROUP BY 1),
        |r AS (
        |  SELECT nullif(o_custkey % 200, 0) AS ok, count(*) AS n_ord
        |  FROM orders GROUP BY 1)
        |SELECT ck, n_cust, ok, n_ord
        |FROM l FULL JOIN r ON ck IS NOT DISTINCT FROM ok""".stripMargin,

    "q69_nullkey_mixed" ->
      """WITH c AS (SELECT nullif(c_custkey % 100, 0) AS ck, c_mktsegment FROM customer),
        |o AS (SELECT nullif(o_custkey % 100, 0) AS ok, count(*) AS n_ord
        |      FROM orders GROUP BY 1),
        |s AS (SELECT nullif(s_suppkey % 100, 0) AS sk, count(*) AS n_supp
        |      FROM supplier GROUP BY 1)
        |SELECT c_mktsegment, count(*) AS n_rows,
        |CAST(sum(n_ord) AS BIGINT) AS sum_ord,
        |CAST(sum(n_supp) AS BIGINT) AS sum_supp
        |FROM c LEFT JOIN o ON ck IS NOT DISTINCT FROM ok
        |       JOIN s ON ck = sk
        |GROUP BY 1""".stripMargin,

    "q70_selector_args_swap" ->
      """SELECT l_orderkey, l_linenumber,
        |CAST(CAST(floor(l_quantity * 2) AS BIGINT) % 10 AS BIGINT) AS qty_bucket
        |FROM lineitem""".stripMargin,

    "q71_multisink_traps" ->
      """SELECT 'a_ok' AS part, count(*) AS n FROM documents WHERE doc_id % 7 <> 0
        |UNION ALL SELECT 'a_trap', count(*) FROM documents WHERE doc_id % 7 = 0
        |UNION ALL SELECT 'b_ok', count(*) FROM orders WHERE o_orderkey % 97 <> 0
        |UNION ALL SELECT 'b_trap', count(*) FROM orders WHERE o_orderkey % 97 = 0""".stripMargin,

    "q78_sorted_mixed" ->
      """SELECT o_custkey,
        |string_agg(o_orderkey, ',' ORDER BY nullif(o_orderkey % 5, 0) DESC NULLS LAST,
        |                                    o_orderkey ASC NULLS FIRST) AS key_seq
        |FROM orders GROUP BY 1""".stripMargin,

    "q73_dynamic_arity" ->
      s"""SELECT o_orderstatus, count(*) AS n,
         |${dsum("o_totalprice")} AS total,
         |count(CASE WHEN o_orderstatus = 'F' THEN 1 END) AS n_flagged
         |FROM orders GROUP BY 1""".stripMargin,

    // round-trip through the bucketed layout changes values not at all
    "q72_bucketed_join" ->
      s"""SELECT c_mktsegment, ${dsum("o_totalprice")} AS total,
         |count(*) AS n_orders
         |FROM customer JOIN orders ON c_custkey = o_custkey
         |GROUP BY 1""".stripMargin,

    // the group assertion passes everywhere, so the result is the plain agg
    "q74_group_assert" ->
      s"""SELECT o_orderpriority, count(*) AS n_orders,
         |${dsum("o_totalprice")} AS total
         |FROM orders GROUP BY 1""".stripMargin,

    "q37_firstlast" ->
      """SELECT o_custkey,
        |min_by(o_orderkey, (epoch_ms(o_orderdate) // 86400000) * 1000000000000 + o_orderkey) AS first_order,
        |max_by(o_orderkey, (epoch_ms(o_orderdate) // 86400000) * 1000000000000 + o_orderkey) AS last_order,
        |count(*) AS n_orders
        |FROM orders GROUP BY 1""".stripMargin,

    "q94_tpch_q3" ->
      s"""SELECT l_orderkey, o_orderdate, o_orderpriority,
         |${dsumExpr("l_extendedprice * (1 - l_discount)")} AS revenue
         |FROM lineitem
         |JOIN orders ON l_orderkey = o_orderkey
         |JOIN customer ON o_custkey = c_custkey
         |WHERE c_mktsegment = 'BUILDING'
         |  AND o_orderdate < TIMESTAMP '1998-06-01'
         |  AND l_shipdate > TIMESTAMP '1998-06-01'
         |GROUP BY 1, 2, 3
         |ORDER BY revenue DESC, l_orderkey
         |LIMIT 10""".stripMargin,

    "q95_tpch_q10" ->
      s"""SELECT c_custkey, c_name, n_name,
         |${dsumExpr("l_extendedprice * (1 - l_discount)")} AS revenue,
         |count(*) AS n_items
         |FROM lineitem
         |JOIN orders ON l_orderkey = o_orderkey
         |JOIN customer ON o_custkey = c_custkey
         |JOIN nation ON c_nationkey = n_nationkey
         |WHERE l_returnflag = 'R'
         |  AND o_orderdate >= TIMESTAMP '1997-01-01'
         |  AND o_orderdate < TIMESTAMP '1997-07-01'
         |GROUP BY 1, 2, 3
         |ORDER BY revenue DESC, c_custkey
         |LIMIT 20""".stripMargin,

    "q124_tpch_q1" ->
      s"""WITH a AS (
         |  SELECT l_returnflag, l_linestatus,
         |  ${dsum("l_quantity")} AS sum_qty,
         |  ${dsum("l_extendedprice")} AS sum_base_price,
         |  ${dsumExpr("l_extendedprice * (1 - l_discount)")} AS sum_disc_price,
         |  ${dsumExpr("l_extendedprice * (1 - l_discount) * (1 + l_tax)")} AS sum_charge,
         |  count(*) AS count_order
         |  FROM lineitem
         |  WHERE l_shipdate <= TIMESTAMP '1998-09-02'
         |  GROUP BY 1, 2)
         |SELECT l_returnflag, l_linestatus, sum_qty, sum_base_price,
         |sum_disc_price, sum_charge, count_order,
         |sum_qty / count_order AS avg_qty,
         |sum_base_price / count_order AS avg_price
         |FROM a""".stripMargin,

    "q125_tpch_q18" ->
      s"""SELECT c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice,
         |${dsum("l_quantity")} AS sum_qty
         |FROM customer
         |JOIN orders ON c_custkey = o_custkey
         |JOIN lineitem ON o_orderkey = l_orderkey
         |WHERE o_orderkey IN (
         |  SELECT l_orderkey FROM lineitem GROUP BY 1
         |  HAVING ${dsum("l_quantity")} > 150)
         |GROUP BY 1, 2, 3, 4, 5
         |ORDER BY o_totalprice DESC, o_orderkey
         |LIMIT 100""".stripMargin,

    "q209_tpch_q5" ->
      s"""SELECT n_name,
         |${dsumExpr("l_extendedprice * (1 - l_discount)")} AS revenue
         |FROM customer
         |JOIN orders ON c_custkey = o_custkey
         |JOIN lineitem ON l_orderkey = o_orderkey
         |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
         |JOIN nation ON s_nationkey = n_nationkey
         |JOIN region ON n_regionkey = r_regionkey
         |WHERE r_name = 'ASIA'
         |  AND o_orderdate >= TIMESTAMP '1997-01-01'
         |  AND o_orderdate < TIMESTAMP '1998-01-01'
         |GROUP BY 1
         |ORDER BY revenue DESC, n_name""".stripMargin,

    "q210_tpch_q16" ->
      s"""SELECT p_brand, p_size,
         |CAST(count(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
         |FROM lineitem
         |JOIN part ON l_partkey = p_partkey
         |WHERE p_size >= 3
         |  AND l_suppkey NOT IN (
         |    SELECT s_suppkey FROM supplier WHERE s_acctbal < 2000)
         |GROUP BY 1, 2
         |ORDER BY supplier_cnt DESC, p_brand, p_size""".stripMargin,

    "q220_tpch_q14" ->
      s"""WITH a AS (
         |  SELECT
         |  ${dsumExpr("CASE WHEN p_type = 'PROMO' " +
              "THEN l_extendedprice * (1 - l_discount) ELSE 0 END")}
         |    AS promo_revenue,
         |  ${dsumExpr("l_extendedprice * (1 - l_discount)")} AS total_revenue
         |  FROM lineitem JOIN part ON l_partkey = p_partkey
         |  WHERE l_shipdate >= TIMESTAMP '1997-07-01'
         |    AND l_shipdate < TIMESTAMP '1997-10-01')
         |SELECT promo_revenue, total_revenue,
         |100.0 * promo_revenue / total_revenue AS promo_pct
         |FROM a""".stripMargin,

    "q225_tpch_q7" ->
      s"""SELECT supp_nation, cust_nation, l_year,
         |${dsumExpr("l_extendedprice * (1 - l_discount)")} AS volume,
         |count(*) AS n_items
         |FROM (
         |  SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
         |    CAST(year(l_shipdate) AS INTEGER) AS l_year,
         |    l_extendedprice, l_discount
         |  FROM lineitem
         |  JOIN orders ON l_orderkey = o_orderkey
         |  JOIN supplier ON l_suppkey = s_suppkey
         |  JOIN customer ON o_custkey = c_custkey
         |  JOIN nation n1 ON s_nationkey = n1.n_nationkey
         |  JOIN nation n2 ON c_nationkey = n2.n_nationkey
         |  WHERE (s_nationkey < 5 AND c_nationkey >= 20)
         |     OR (s_nationkey >= 20 AND c_nationkey < 5))
         |GROUP BY 1, 2, 3
         |ORDER BY 1, 2, 3""".stripMargin,

    "q226_tpch_q13" ->
      s"""WITH pc AS (
         |  SELECT c_custkey, CAST(count(o_orderkey) AS BIGINT) AS c_count
         |  FROM customer LEFT JOIN (
         |    SELECT o_orderkey, o_custkey FROM orders
         |    WHERE o_orderpriority = '1-URGENT') o
         |  ON c_custkey = o_custkey
         |  GROUP BY 1)
         |SELECT c_count, CAST(count(*) AS BIGINT) AS custdist
         |FROM pc GROUP BY 1
         |ORDER BY custdist DESC, c_count DESC""".stripMargin,

    "q227_tpch_q22" ->
      s"""WITH t AS (
         |  SELECT ${dsum("c_acctbal")} / count(*) AS avg_bal
         |  FROM customer WHERE c_acctbal > 0)
         |SELECT c_nationkey, CAST(count(*) AS BIGINT) AS numcust,
         |${dsum("c_acctbal")} AS totacctbal
         |FROM customer CROSS JOIN t
         |WHERE c_acctbal > avg_bal
         |  AND c_custkey NOT IN (
         |    SELECT o_custkey FROM orders
         |    WHERE o_orderdate >= TIMESTAMP '2001-01-01')
         |GROUP BY 1
         |ORDER BY 1""".stripMargin,

    "q228_tpch_q2" ->
      s"""WITH ps AS (
         |  SELECT l_partkey, l_suppkey, min(l_extendedprice) AS supplycost
         |  FROM lineitem GROUP BY 1, 2),
         |mc AS (
         |  SELECT l_partkey AS mp_partkey, min(supplycost) AS min_cost
         |  FROM ps GROUP BY 1)
         |SELECT s_acctbal, s_name, n_name, l_partkey, p_name, supplycost
         |FROM ps
         |JOIN mc ON l_partkey = mp_partkey AND supplycost = min_cost
         |JOIN part ON l_partkey = p_partkey
         |JOIN supplier ON l_suppkey = s_suppkey
         |JOIN nation ON s_nationkey = n_nationkey
         |JOIN region ON n_regionkey = r_regionkey
         |WHERE p_size <= 15 AND r_name = 'EUROPE'
         |ORDER BY s_acctbal DESC, s_name, l_partkey
         |LIMIT 100""".stripMargin,

    "q229_tpch_q4" ->
      s"""SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS order_count
         |FROM orders
         |WHERE o_orderdate >= TIMESTAMP '1997-07-01'
         |  AND o_orderdate < TIMESTAMP '1997-10-01'
         |  AND EXISTS (SELECT 1 FROM lineitem
         |    WHERE l_orderkey = o_orderkey AND l_returnflag = 'R')
         |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q230_tpch_q6" ->
      s"""SELECT ${dsumExpr("l_extendedprice * l_discount")} AS revenue,
         |CAST(count(*) AS BIGINT) AS n_items
         |FROM lineitem
         |WHERE l_shipdate >= TIMESTAMP '1997-01-01'
         |  AND l_shipdate < TIMESTAMP '1998-01-01'
         |  AND l_discount >= 0.02 AND l_discount <= 0.06
         |  AND l_quantity < 24""".stripMargin,

    "q231_tpch_q8" ->
      s"""SELECT o_year, nation_volume, total_volume,
         |nation_volume / total_volume AS mkt_share
         |FROM (
         |  SELECT CAST(year(o_orderdate) AS INTEGER) AS o_year,
         |    ${dsumExpr("CASE WHEN s_nationkey = 3 THEN l_extendedprice * (1 - l_discount) ELSE 0 END")} AS nation_volume,
         |    ${dsumExpr("l_extendedprice * (1 - l_discount)")} AS total_volume
         |  FROM lineitem
         |  JOIN part ON l_partkey = p_partkey
         |  JOIN orders ON l_orderkey = o_orderkey
         |  JOIN customer ON o_custkey = c_custkey
         |  JOIN nation ON c_nationkey = n_nationkey
         |  JOIN region ON n_regionkey = r_regionkey
         |  JOIN supplier ON l_suppkey = s_suppkey
         |  WHERE p_type = 'STANDARD' AND r_name = 'AMERICA'
         |    AND o_orderdate >= TIMESTAMP '1996-01-01'
         |    AND o_orderdate < TIMESTAMP '1998-01-01'
         |  GROUP BY 1)
         |ORDER BY o_year""".stripMargin,

    "q232_tpch_q9" ->
      s"""SELECT n_name, CAST(year(o_orderdate) AS INTEGER) AS o_year,
         |${dsumExpr("l_extendedprice * (1 - l_discount) - p_retailprice * cast(0.1 as double) * l_quantity")} AS sum_profit
         |FROM lineitem
         |JOIN part ON l_partkey = p_partkey
         |JOIN supplier ON l_suppkey = s_suppkey
         |JOIN nation ON s_nationkey = n_nationkey
         |JOIN orders ON l_orderkey = o_orderkey
         |WHERE p_name LIKE '%gear%'
         |GROUP BY 1, 2 ORDER BY n_name, o_year DESC""".stripMargin,

    "q233_tpch_q11" ->
      s"""WITH pv AS (
         |  SELECT l_partkey, ${dsum("l_extendedprice")} AS part_value
         |  FROM lineitem GROUP BY 1),
         |t AS (SELECT ${dsum("l_extendedprice")} AS total_value,
         |             count(DISTINCT l_partkey) AS n_parts FROM lineitem)
         |SELECT l_partkey, part_value
         |FROM pv CROSS JOIN t
         |WHERE part_value > total_value * CAST(1.5 AS DOUBLE) / CAST(n_parts AS DOUBLE)
         |ORDER BY part_value DESC, l_partkey""".stripMargin,

    "q234_tpch_q12" ->
      s"""SELECT l_linestatus,
         |CAST(sum(CASE WHEN o_orderpriority = '1-URGENT' OR o_orderpriority = '2-HIGH' THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
         |CAST(sum(CASE WHEN o_orderpriority <> '1-URGENT' AND o_orderpriority <> '2-HIGH' THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
         |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
         |WHERE l_shipdate >= TIMESTAMP '1997-01-01'
         |  AND l_shipdate < TIMESTAMP '1998-01-01'
         |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q235_tpch_q15" ->
      s"""WITH rev AS (
         |  SELECT l_suppkey,
         |    ${dsumExpr("l_extendedprice * (1 - l_discount)")} AS total_revenue
         |  FROM lineitem
         |  WHERE l_shipdate >= TIMESTAMP '1997-01-01'
         |    AND l_shipdate < TIMESTAMP '1997-04-01'
         |  GROUP BY 1)
         |SELECT l_suppkey, s_name, total_revenue
         |FROM rev JOIN supplier ON l_suppkey = s_suppkey
         |WHERE total_revenue = (SELECT max(total_revenue) FROM rev)
         |ORDER BY l_suppkey""".stripMargin,

    "q236_tpch_q17" ->
      s"""WITH pa AS (
         |  SELECT l_partkey AS a_partkey, ${dsum("l_quantity")} AS qty_sum,
         |    CAST(count(*) AS BIGINT) AS qty_cnt
         |  FROM lineitem GROUP BY 1)
         |SELECT ${dsum("l_extendedprice")} AS sum_price,
         |CAST(count(*) AS BIGINT) AS n_items,
         |${dsum("l_extendedprice")} / 7.0 AS avg_yearly
         |FROM lineitem
         |JOIN part ON l_partkey = p_partkey
         |JOIN pa ON l_partkey = a_partkey
         |WHERE p_brand = 'Brand#9'
         |  AND l_quantity < CAST(0.2 AS DOUBLE) * qty_sum / qty_cnt""".stripMargin,

    "q237_tpch_q19" ->
      s"""SELECT ${dsumExpr("l_extendedprice * (1 - l_discount)")} AS revenue,
         |CAST(count(*) AS BIGINT) AS n_items
         |FROM lineitem JOIN part ON l_partkey = p_partkey
         |WHERE (p_brand = 'Brand#9' AND p_size BETWEEN 1 AND 15 AND l_quantity >= 1 AND l_quantity <= 20)
         |   OR (p_brand = 'Brand#2' AND p_size BETWEEN 10 AND 30 AND l_quantity >= 10 AND l_quantity <= 30)
         |   OR (p_brand = 'Brand#13' AND p_size BETWEEN 20 AND 50 AND l_quantity >= 20 AND l_quantity <= 40)""".stripMargin,

    "q238_tpch_q20" ->
      s"""WITH agg AS (
         |  SELECT l_suppkey, ${dsum("l_quantity")} AS avail,
         |    ${dsumExpr("CASE WHEN l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1998-01-01' THEN l_quantity ELSE 0 END")} AS shipped
         |  FROM lineitem
         |  WHERE l_partkey IN (SELECT p_partkey FROM part WHERE p_name LIKE '%red%')
         |  GROUP BY 1)
         |SELECT s_suppkey, s_name
         |FROM supplier
         |WHERE s_nationkey < 8
         |  AND s_suppkey IN (
         |    SELECT l_suppkey FROM agg
         |    WHERE shipped > CAST(0 AS DOUBLE)
         |      AND avail > CAST(4 AS DOUBLE) * shipped)
         |ORDER BY s_suppkey""".stripMargin,

    "q239_tpch_q21" ->
      s"""WITH st AS (
         |  SELECT l_orderkey AS a_orderkey,
         |    count(DISTINCT l_suppkey) AS nsupp,
         |    count(DISTINCT CASE WHEN l_returnflag = 'R' THEN l_suppkey END) AS nlate
         |  FROM lineitem GROUP BY 1)
         |SELECT s_name, CAST(count(*) AS BIGINT) AS numwait
         |FROM lineitem
         |JOIN st ON l_orderkey = a_orderkey
         |JOIN supplier ON l_suppkey = s_suppkey
         |WHERE l_returnflag = 'R' AND nsupp > 1 AND nlate = 1
         |  AND l_orderkey IN (
         |    SELECT o_orderkey FROM orders WHERE o_orderstatus = 'F')
         |GROUP BY 1 ORDER BY numwait DESC, s_name LIMIT 100""".stripMargin,

    "q101_orc_roundtrip" ->
      s"""SELECT l_returnflag, ${dsum("l_quantity")} AS sum_qty,
         |count(*) AS n_items, CAST(max(l_orderkey) AS BIGINT) AS max_key
         |FROM lineitem GROUP BY 1""".stripMargin,

    "q102_jsonl_roundtrip" ->
      s"""SELECT o_orderstatus, ${dsum("o_totalprice")} AS total,
         |count(*) AS n_orders, CAST(sum(o_orderkey) AS BIGINT) AS key_sum
         |FROM orders GROUP BY 1""".stripMargin
  )
}
