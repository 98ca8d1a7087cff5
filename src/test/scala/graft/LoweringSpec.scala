package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._
import graft.model.{CFields, FieldSelector}
import graft.pipes._
import graft.exec.Flow
import graft.sources.DataFrameTap

/** DSL → DataFrame lowering semantics per operator family (SURVEY.md §2).
  * Small in-memory fixtures, sorted-multiset assertions (sink order is not
  * part of the contract — SURVEY.md §7.4). */
class LoweringSpec extends SparkSpec {
  import spark.implicits._
  implicit def s: org.apache.spark.sql.SparkSession = spark

  private def lhs = Seq((1, "a"), (2, "b"), (2, "bb"), (4, "d"))
    .toDF("num", "ch")
  private def rhs = Seq((1, "A"), (2, "B"), (3, "C")).toDF("num2", "CH")

  private def pipe(df: org.apache.spark.sql.DataFrame): Pipe =
    Pipe.source(DataFrameTap(df))

  private def rows(p: Pipe): Set[Seq[Any]] =
    Flow.toDF(p).collect().toSet.map((r: Row) => r.toSeq)

  test("Each + Function with SWAP selector replaces args") {
    val p = pipe(lhs).each(
      ExpressionFunction("up", "upper(ch)", StringType),
      args = FieldSelector("ch"), out = FieldSelector.Swap)
    val df = Flow.toDF(p)
    assert(df.columns.toSeq == Seq("num", "up"))
    assert(rows(p).contains(Seq(1, "A")))
  }

  test("Each + Function with ALL keeps everything") {
    val p = pipe(lhs).each(
      ExpressionFunction("up", "upper(ch)", StringType),
      args = FieldSelector("ch"), out = FieldSelector.All)
    assert(Flow.toDF(p).columns.toSeq == Seq("num", "ch", "up"))
  }

  test("Each + RESULTS keeps only results") {
    val p = pipe(lhs).each(
      ExpressionFunction("up", "upper(ch)", StringType),
      args = FieldSelector("ch"), out = FieldSelector.Results)
    assert(Flow.toDF(p).columns.toSeq == Seq("up"))
  }

  test("Each + REPLACE overwrites in place") {
    val p = pipe(lhs).each(
      RegexReplace("ch", "b", "X"),
      args = FieldSelector("ch"), out = FieldSelector.Replace)
    assert(Flow.toDF(p).columns.toSeq == Seq("num", "ch"))
    assert(rows(p).contains(Seq(2, "X")))
    assert(rows(p).contains(Seq(2, "XX")))
  }

  test("generator explodes 1→N") {
    val df = Seq(("x", "p q r")).toDF("id", "text")
    val p = pipe(df).generate(RegexSplitGenerator("tok", " "),
      args = FieldSelector("text"), out = FieldSelector.Results)
    assert(rows(p) == Set(Seq("p"), Seq("q"), Seq("r")))
  }

  test("filter keeps matching rows only") {
    val p = pipe(lhs).filterBy(SqlFilter("num > 1"))
    assert(rows(p).forall(_.head.asInstanceOf[Int] > 1))
  }

  test("ExpressionFilter removes rows where expression is true (Cascading semantics)") {
    val p = pipe(lhs).filterBy(ExpressionFilter("num = 2"))
    assert(rows(p).map(_.head) == Set(1, 4))
  }

  test("And/Or/Not/Xor filter combinators compose isRemove (upstream " +
    "Logic contract)") {
    val gt1 = SqlFilter("num > 1")
    val isB = RegexFilter("^b")
    def nums(f: CFilter, args: FieldSelector = FieldSelector.All) =
      Flow.toDF(pipe(lhs).filterBy(f, args))
        .collect().map(_.getInt(0)).sorted.toSeq
    // And removes iff ALL children remove: remove iff num<=1 AND num>=4
    // — never, so every row survives
    assert(nums(AndFilter(gt1, SqlFilter("num < 4"))) == Seq(1, 2, 2, 4))
    // Or removes iff ANY child removes: remove iff num<>1 OR num<>4 —
    // always, so nothing survives
    assert(nums(OrFilter(SqlFilter("num = 1"), SqlFilter("num = 4"))) == Seq())
    assert(nums(NotFilter(gt1)) == Seq(1))
    // Xor removes iff EXACTLY ONE child removes: (num>1) vs (ch like b%)
    // disagree only at num=4 (keep, remove) — it alone is removed
    assert(nums(XorFilter(gt1, SqlFilter("ch like 'b%'"))) == Seq(1, 2, 2))
    assert(nums(isB, FieldSelector("ch")) == Seq(2, 2))
  }

  test("groupBy + every aggregators") {
    val p = pipe(lhs).groupBy("num")
      .every(Aggs.count("n"), Aggs.sql("max_ch", "max(ch)"))
    assert(rows(p).contains(Seq(2, 2L, "bb")))
  }

  test("global groupAll aggregation") {
    val p = pipe(lhs).groupAll.every(Aggs.count("n"))
    assert(rows(p) == Set(Seq(4L)))
  }

  test("chained every calls collapse into one aggregate") {
    val p = pipe(lhs).groupBy("num").every(Aggs.count("n")).every(Aggs.sql("mx", "max(ch)"))
    val df = Flow.toDF(p)
    assert(df.columns.toSeq == Seq("num", "n", "mx"))
    // exactly one Aggregate in the optimized plan
    val aggs = df.queryExecution.optimizedPlan.collect {
      case a: org.apache.spark.sql.catalyst.plans.logical.Aggregate => a
    }
    assert(aggs.size == 1)
  }

  test("buffer sees rows in secondary-sort order") {
    val df = Seq((1, 30), (1, 10), (1, 20), (2, 5)).toDF("k", "v")
    val b = new CBuffer {
      val resultFields: CFields = CFields.typed("seq" -> StringType)
      def operate(key: Seq[Any], rs: Iterator[Row]): Iterator[Seq[Any]] =
        Iterator.single(Seq(rs.map(_.getInt(1)).mkString(",")))
    }
    val p = pipe(df).groupBySorted(Seq("k"), Seq("v" -> true)).buffer(b)
    assert(rows(p) == Set(Seq(1, "10,20,30"), Seq(2, "5")))
  }

  test("buffer with descending secondary sort") {
    val df = Seq((1, 30), (1, 10), (1, 20)).toDF("k", "v")
    val b = new CBuffer {
      val resultFields: CFields = CFields.typed("seq" -> StringType)
      def operate(key: Seq[Any], rs: Iterator[Row]): Iterator[Seq[Any]] =
        Iterator.single(Seq(rs.map(_.getInt(1)).mkString(",")))
    }
    val p = pipe(df).groupBySorted(Seq("k"), Seq("v" -> false)).buffer(b)
    assert(rows(p) == Set(Seq(1, "30,20,10")))
  }

  test("buffer can emit 0..N rows per group") {
    val df = Seq((1, 1), (1, 2), (2, 9)).toDF("k", "v")
    val b = new CBuffer {
      val resultFields: CFields = CFields.typed("v2" -> IntegerType)
      def operate(key: Seq[Any], rs: Iterator[Row]): Iterator[Seq[Any]] =
        rs.flatMap(r => if (r.getInt(1) < 5) Iterator(Seq(r.getInt(1) * 10)) else Iterator.empty)
    }
    val p = pipe(df).groupBy("k").buffer(b)
    assert(rows(p) == Set(Seq(1, 10), Seq(1, 20)))
  }

  test("custom CAggregator start/aggregate/complete with partial merge") {
    val agg = new CAggregator[(Long, Long)] {
      val resultField = "mean_x2"
      val resultType: DataType = LongType
      val argFields = Seq("v")
      def start = (0L, 0L)
      def aggregate(b: (Long, Long), args: Seq[Any]) =
        (b._1 + args.head.asInstanceOf[Int] * 2, b._2 + 1)
      def merge(a: (Long, Long), b: (Long, Long)) = (a._1 + b._1, a._2 + b._2)
      def complete(b: (Long, Long)) = b._1 / math.max(b._2, 1)
    }
    val df = Seq((1, 10), (1, 20), (2, 7)).toDF("k", "v")
    val p = pipe(df).groupBy("k").everyAgg(agg)
    assert(rows(p) == Set(Seq(1, 30L), Seq(2, 14L)))
  }

  test("coGroup inner / left / right / outer") {
    def j(t: Joiner) = rows(pipe(lhs).coGroup(Seq("num"), pipe(rhs), Seq("num2"), t))
    assert(j(Joiner.Inner).size == 3)
    assert(j(Joiner.Left).size == 4)    // num=4 padded
    assert(j(Joiner.Right).size == 4)   // num2=3 padded
    assert(j(Joiner.Outer).size == 5)
    assert(j(Joiner.Outer).exists(r => r(2) == null)) // padded side is null
  }

  test("self-join via declared fields") {
    val p = pipe(lhs).coGroup(Seq("num"), pipe(lhs), Seq("num"),
      declared = Some(Seq("n1", "c1", "n2", "c2")))
    // num=2 has two rows → 4 combinations
    assert(rows(p).count(_.head == 2) == 4)
  }

  test("hashJoin broadcasts the right side") {
    val p = pipe(lhs).hashJoin(Seq("num"), pipe(rhs), Seq("num2"))
    val plan = Flow.toDF(p).queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"))
  }

  test("bufferJoin provides per-input iterators") {
    val p = pipe(lhs).bufferJoin(Seq("num"), pipe(rhs), Seq("num2"),
      CFields.typed("k" -> IntegerType, "nl" -> IntegerType, "nr" -> IntegerType),
      (key, ls, rs) => Iterator.single(
        Seq(key.head, ls.size, rs.size)))
    assert(rows(p) == Set(
      Seq(1, 1, 1), Seq(2, 2, 1), Seq(3, 0, 1), Seq(4, 1, 0)))
  }

  test("cross join = Cartesian") {
    val p = pipe(lhs.select("num")).cross(pipe(rhs.select("num2")))
    assert(Flow.toDF(p).count() == 12)
  }

  test("merge = positional union-all") {
    val p = pipe(lhs).merge(pipe(lhs))
    assert(Flow.toDF(p).count() == 8)
  }

  test("unique removes duplicate rows") {
    val p = pipe(lhs.select("num")).unique()
    assert(rows(p).size == 3)
  }

  test("unique Include.NO_NULLS drops null-keyed tuples; ALL keeps one") {
    import spark.implicits._
    val df = Seq(Some(1), Some(1), None, Some(2), None).toDF("k")
    // ALL: null is its own distinct key → {1, 2, null}
    assert(rows(pipe(df).unique()).size == 3)
    // NO_NULLS: null tuples discarded outright → {1, 2}
    val got = rows(pipe(df).uniqueNoNulls())
    assert(got.size == 2 && got.forall(_.head != null))
    // subset-field form: null in the DISTINCT field drops the tuple even
    // when other columns are non-null
    val wide = Seq((Some(1), "a"), (None, "b"), (Some(1), "c"))
      .toDF("k", "v")
    assert(rows(pipe(wide).uniqueNoNulls("k")).size == 1)
  }

  test("rename/retain/discard/coerce field algebra") {
    val p = pipe(lhs).rename("ch" -> "letter").retain("letter")
    assert(Flow.toDF(p).columns.toSeq == Seq("letter"))
    val q = pipe(lhs).discard("ch").coerce("num" -> LongType)
    assert(Flow.toDF(q).schema("num").dataType == LongType)
  }

  test("orderBy + limit") {
    val p = pipe(lhs).orderBy("num" -> false).limit(1)
    assert(rows(p) == Set(Seq(4, "d")))
  }

  test("ARGS output selector keeps argument fields, results substitute by name") {
    // result declared under the arg's own name replaces it; other args stay
    val p = pipe(lhs).each(
      ExpressionFunction("ch", "upper(ch)", StringType),
      args = FieldSelector("num", "ch"), out = FieldSelector.Args)
    val df = Flow.toDF(p)
    assert(df.columns.toSeq == Seq("num", "ch"))
    assert(rows(p).contains(Seq(1, "A")))
    // differently-named result: args pass through unchanged
    val q = pipe(lhs).each(
      ExpressionFunction("up", "upper(ch)", StringType),
      args = FieldSelector("ch"), out = FieldSelector.Args)
    assert(Flow.toDF(q).columns.toSeq == Seq("ch"))
  }

  test("REPLACE and ARGS selectors keep their semantics under a trap") {
    val dir = java.nio.file.Files.createTempDirectory("trapsel").toString
    val p = pipe(lhs).each(
      ExpressionFunction("num", "100 div (num - 2)", IntegerType),
      args = FieldSelector("num"), out = FieldSelector.Replace,
      trap = Some(graft.sources.ParquetTap(s"$dir/trap")))
    val good = Flow.toDFWithTraps(p)
    assert(good.columns.toSeq == Seq("num", "ch")) // replaced in place
    assert(good.select("num").collect().map(_.getInt(0)).sorted.toSeq ==
      Seq(-100, 50))
    val trapped = spark.read.parquet(s"$dir/trap")
    assert(trapped.columns.toSeq == Seq("num", "ch", "__trap_err"))
    assert(trapped.select("num").collect().map(_.getInt(0)).toSeq == Seq(2, 2))

    val dir2 = java.nio.file.Files.createTempDirectory("trapsel2").toString
    val q = pipe(lhs).each(
      ExpressionFunction("inv", "100 div (num - 2)", IntegerType),
      args = FieldSelector("num"), out = FieldSelector.Args,
      trap = Some(graft.sources.ParquetTap(s"$dir2/trap")))
    val g2 = Flow.toDFWithTraps(q)
    assert(g2.columns.toSeq == Seq("num")) // ARGS: argument fields only
    assert(spark.read.parquet(s"$dir2/trap").count() == 2)
  }

  test("generator honors ALL and negative-position Named selectors") {
    val gen = RegexSplitGenerator("tok", " ")
    val p = pipe(Seq((1, "a b")).toDF("id", "txt"))
      .generate(gen, args = FieldSelector("txt"), out = FieldSelector.All)
    assert(Flow.toDF(p).columns.toSeq == Seq("id", "txt", "tok"))
    assert(Flow.toDF(p).count() == 2)
    // Named with negative position resolves against the POST-generate schema
    val q = pipe(Seq((1, "a b")).toDF("id", "txt"))
      .generate(gen, args = FieldSelector("txt"), out = FieldSelector("0", "-1"))
    assert(Flow.toDF(q).columns.toSeq == Seq("id", "tok"))
  }

  test("sliceLimit caps each partition (per-slice Cascading semantics)") {
    val df = spark.range(100).toDF("v").repartition(4)
    val p = pipe(df).sliceLimit(5)
    val out = Flow.toDF(p)
    // per-slice: 4 partitions × ≤5 rows; a global limit would return 5
    assert(out.count() == 20)
    val perPart = out.groupBy(org.apache.spark.sql.functions.spark_partition_id())
      .count().collect().map(_.getLong(1))
    assert(perPart.forall(_ <= 5))
    // and no single-partition gather in the plan
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("GlobalLimit"))
  }

  test("assertions raise on violation and strip when disabled") {
    val p = pipe(lhs).assertRows("num < 3", "num too big")
    intercept[Exception] { Flow.toDF(p).collect() }
    val stripped = new graft.exec.Lowering(spark, keepAssertions = false).lower(p)
    assert(stripped.count() == 4)
  }

  test("split: memoized pipe reused by two consumers") {
    val base = pipe(lhs).filterBy(SqlFilter("num > 1"))
    val a = base.groupBy("num").every(Aggs.count("n"))
    val b = base.retain("ch")
    val lowering = new graft.exec.Lowering(spark)
    assert(lowering.lower(a).count() == 2)
    assert(lowering.lower(b).count() == 3)
  }

  test("bufferJoin widens keys across numeric widths (int vs long)") {
    val left = Seq((1, "a"), (2, "b")).toDF("k", "v")              // int key
    val right = Seq((1L, 10.0), (1L, 11.0), (3L, 30.0)).toDF("k2", "x") // long key
    // keys widen to the larger side (long); narrowing could merge 2^32+1
    // with 1, widening cannot collide
    val p = pipe(left).bufferJoin(Seq("k"), pipe(right), Seq("k2"),
      CFields.typed("k" -> LongType, "nl" -> IntegerType, "nr" -> IntegerType),
      (key, ls, rs) => Iterator.single(Seq(key.head, ls.size, rs.size)))
    val got = Flow.toDF(p).collect().map(_.toSeq).toSet
    assert(got == Set(Seq(1L, 1, 2), Seq(2L, 1, 0), Seq(3L, 0, 1)))
    // distinct long keys that collide mod 2^32 must stay distinct
    val r2 = Seq((4294967297L, 1.0)).toDF("k2", "x")
    val p2 = pipe(left).bufferJoin(Seq("k"), pipe(r2), Seq("k2"),
      CFields.typed("k" -> LongType, "nl" -> IntegerType, "nr" -> IntegerType),
      (key, ls, rs) => Iterator.single(Seq(key.head, ls.size, rs.size)))
    val got2 = Flow.toDF(p2).collect().map(_.toSeq).toSet
    assert(got2 == Set(Seq(1L, 1, 0), Seq(2L, 1, 0), Seq(4294967297L, 0, 1)))
  }

  test("bufferJoin rejects integral-vs-fractional key pairs (lossy promotion)") {
    // long >= 2^24 collides as float, >= 2^53 as double — auto-widening
    // across the integral/fractional boundary would silently merge groups
    val left = Seq((1L, "a")).toDF("k", "v")
    val right = Seq((1.0f, "b")).toDF("k2", "w")
    val p = pipe(left).bufferJoin(Seq("k"), pipe(right), Seq("k2"),
      CFields.typed("k" -> LongType, "n" -> IntegerType),
      (key, ls, rs) => Iterator.single(Seq(key.head, ls.size + rs.size)))
    val ex = intercept[IllegalArgumentException] { Flow.toDF(p) }
    assert(ex.getMessage.contains("integral and fractional"))
    // within the fractional family, float->double still widens (injective)
    val fl = Seq((1.5f, "a")).toDF("k", "v")
    val dl = Seq((1.5, "b"), (2.5, "c")).toDF("k2", "w")
    val q = pipe(fl).bufferJoin(Seq("k"), pipe(dl), Seq("k2"),
      CFields.typed("k" -> DoubleType, "nl" -> IntegerType, "nr" -> IntegerType),
      (key, ls, rs) => Iterator.single(Seq(key.head, ls.size, rs.size)))
    assert(rows(q) == Set(Seq(1.5, 1, 1), Seq(2.5, 0, 1)))
  }

  test("the decimal-cast workaround suggested by the key-type error works") {
    // mixed long/float keys are rejected; casting BOTH to DECIMAL(20,0)
    // (as the error directs) groups exactly
    val left = Seq((4294967297L, "a"), (1L, "b")).toDF("k", "v")
      .withColumn("k", col("k").cast("decimal(20,0)"))
    val right = Seq((1.0f, "c")).toDF("k2", "w")
      .withColumn("k2", col("k2").cast("decimal(20,0)"))
    val p = pipe(left).bufferJoin(Seq("k"), pipe(right), Seq("k2"),
      CFields.typed("k" -> DecimalType(20, 0), "nl" -> IntegerType,
        "nr" -> IntegerType),
      (key, ls, rs) => Iterator.single(Seq(key.head, ls.size, rs.size)))
    val got = Flow.toDF(p).collect()
      .map(r => (r.getDecimal(0).longValueExact(), r.getInt(1), r.getInt(2))).toSet
    assert(got == Set((4294967297L, 1, 0), (1L, 1, 1)))
  }

  test("diamond inside one withConfig scope lowers once (memoized per scope)") {
    var configured = 0
    val f = new CFilter with ConfigurableOp {
      private var min = 0
      def configure(props: Map[String, String]): Unit = {
        configured += 1; min = props.getOrElse("min", "0").toInt
      }
      def keep(args: Seq[org.apache.spark.sql.Column]) =
        args.head >= org.apache.spark.sql.functions.lit(min)
    }
    val base = pipe(lhs).filterBy(f, FieldSelector("num"))
    // diamond: two consumers of the same filtered subtree, one config scope
    val joined = base.retain("num").coGroup(Seq("num"), base.retain("num"),
      Seq("num"), declared = Some(Seq("n1", "n2"))).withConfig("min" -> "2")
    val lowering = new graft.exec.Lowering(spark)
    assert(lowering.lower(joined).count() > 0)
    assert(configured == 1, s"diamond re-translated under config scope: $configured")
  }

  test("sharing one ConfigurableOp across different config scopes fails fast") {
    val f = new CFilter with ConfigurableOp {
      private var min = 0
      def configure(props: Map[String, String]): Unit =
        min = props.getOrElse("min", "0").toInt
      def keep(args: Seq[org.apache.spark.sql.Column]) =
        args.head >= org.apache.spark.sql.functions.lit(min)
    }
    val a = pipe(lhs).filterBy(f, FieldSelector("num")).withConfig("min" -> "1")
    val b = pipe(lhs).filterBy(f, FieldSelector("num")).withConfig("min" -> "3")
    val lowering = new graft.exec.Lowering(spark)
    lowering.lower(a)
    val ex = intercept[IllegalStateException] { lowering.lower(b) }
    assert(ex.getMessage.contains("different ConfigDef scopes"))
  }

  test("trap diverts failing rows instead of failing the job") {
    val dir = java.nio.file.Files.createTempDirectory("trap").toString
    val fn = new CRowFunction {
      val resultFields: CFields = CFields.typed("inv" -> IntegerType)
      def apply(args: Row): Iterator[Seq[Any]] = {
        val n = args.getInt(0)
        Iterator.single(Seq(100 / (n - 2))) // fails on num=2
      }
    }
    val p = pipe(lhs).eachRow(fn, args = FieldSelector("num"),
      out = FieldSelector.Results,
      trap = Some(graft.sources.ParquetTap(s"$dir/trap")))
    val good = Flow.toDFWithTraps(p).collect()
    assert(good.length == 2) // num=1, num=4 survive; two num=2 rows trapped
    val trapped = spark.read.parquet(s"$dir/trap")
    assert(trapped.count() == 2)
    // trap rows carry the ORIGINAL input columns + the error
    assert(trapped.columns.toSeq == Seq("num", "ch", "__trap_err"))
    assert(trapped.select("num").collect().forall(_.getInt(0) == 2))
  }

  test("everyAgg trap diverts failing groups, keeps surviving aggregates") {
    val dir = java.nio.file.Files.createTempDirectory("aggtrap").toString
    val agg = new CAggregator[Long] {
      val resultField = "total"
      val resultType: org.apache.spark.sql.types.DataType = LongType
      val argFields: Seq[String] = Seq("num")
      override def bufferEncoder: org.apache.spark.sql.Encoder[Long] =
        org.apache.spark.sql.Encoders.scalaLong
      def start: Long = 0L
      def aggregate(b: Long, args: Seq[Any]): Long = {
        val n = args.head.asInstanceOf[Int]
        if (n == 2) throw new IllegalStateException("poison group")
        b + n
      }
      def merge(a: Long, b: Long): Long = a + b
      def complete(b: Long): Any = b
    }
    val p = pipe(lhs).groupBy("ch")
      .everyAgg(agg, trap = Some(graft.sources.ParquetTap(s"$dir/trap")))
    val good = Flow.toDFWithTraps(p).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(good == Map("a" -> 1L, "d" -> 4L)) // groups b, bb trapped
    val trapped = spark.read.parquet(s"$dir/trap")
    assert(trapped.columns.toSeq == Seq("ch", "__trap_err"))
    assert(trapped.select("ch").collect().map(_.getString(0)).toSet == Set("b", "bb"))
    // the untrapped overload still lowers to the udaf path (partial agg)
    val plain = pipe(lhs).groupBy("ch").everyAgg(agg, trap = None)
    assert(plain.isInstanceOf[CustomAggPipe])
  }

  test("trap is deferred: Flow.toDF alone writes no trap sink") {
    val dir = java.nio.file.Files.createTempDirectory("trapdefer").toString
    val p = pipe(lhs).each(
      ExpressionFunction("inv", "100 div (num - 2)", IntegerType),
      args = FieldSelector.All, out = FieldSelector.All,
      trap = Some(graft.sources.ParquetTap(s"$dir/trap")))
    Flow.toDF(p) // plan construction only — no action, no trap write
    assert(!new java.io.File(s"$dir/trap").exists())
  }

  test("trap on ExpressionFunction diverts rows whose expression throws") {
    val dir = java.nio.file.Files.createTempDirectory("trapfn").toString
    val p = pipe(lhs).each(
      ExpressionFunction("inv", "100 div (num - 2)", IntegerType),
      args = FieldSelector.All, out = FieldSelector.All,
      trap = Some(graft.sources.ParquetTap(s"$dir/trap")))
    val good = Flow.toDFWithTraps(p)
    assert(good.columns.toSeq == Seq("num", "ch", "inv"))
    assert(good.select("num").collect().map(_.getInt(0)).sorted.toSeq == Seq(1, 4))
    val trapped = spark.read.parquet(s"$dir/trap")
    assert(trapped.count() == 2) // both num=2 rows
    assert(trapped.columns.toSeq == Seq("num", "ch", "__trap_err"))
  }

  test("trap on Filter diverts rows whose predicate throws, keeps filter semantics") {
    val dir = java.nio.file.Files.createTempDirectory("trapflt").toString
    val p = pipe(lhs).filterBy(
      SqlFilter("100 div (num - 2) > 20"),
      trap = Some(graft.sources.ParquetTap(s"$dir/trap")))
    val good = Flow.toDFWithTraps(p)
    // num=1 → -100 (dropped), num=4 → 50 (kept), num=2 → error (trapped)
    assert(good.select("num").collect().map(_.getInt(0)).toSeq == Seq(4))
    assert(spark.read.parquet(s"$dir/trap").count() == 2)
  }

  test("trap on generator diverts rows whose expression throws") {
    val dir = java.nio.file.Files.createTempDirectory("trapgen").toString
    val gen = new CGenerator {
      val resultFields: CFields = CFields.typed("part" -> IntegerType)
      def apply(args: Seq[org.apache.spark.sql.Column]) =
        org.apache.spark.sql.functions.array(
          org.apache.spark.sql.functions.expr("100 div (num - 2)"))
    }
    val p = pipe(lhs).generate(gen, args = FieldSelector("num"),
      out = FieldSelector.Results,
      trap = Some(graft.sources.ParquetTap(s"$dir/trap")))
    val good = Flow.toDFWithTraps(p)
    assert(good.collect().map(_.getLong(0)).sorted.toSeq == Seq(-100L, 50L))
    assert(spark.read.parquet(s"$dir/trap").count() == 2)
  }

  test("trap on Buffer diverts the failing group, other groups survive") {
    val dir = java.nio.file.Files.createTempDirectory("trapbuf").toString
    val buf = new CBuffer {
      val resultFields: CFields = CFields.typed("cat" -> StringType)
      def operate(key: Seq[Any], rows: Iterator[Row]): Iterator[Seq[Any]] = {
        val all = rows.toSeq
        if (all.length > 1) throw new IllegalStateException("dup group")
        Iterator.single(Seq(all.map(_.getString(1)).mkString("|")))
      }
    }
    val p = pipe(lhs).groupBy("num")
      .buffer(buf, trap = Some(graft.sources.ParquetTap(s"$dir/trap")))
    val good = Flow.toDFWithTraps(p)
    assert(good.columns.toSeq == Seq("num", "cat"))
    assert(good.select("num").collect().map(_.getInt(0)).sorted.toSeq == Seq(1, 4))
    val trapped = spark.read.parquet(s"$dir/trap")
    assert(trapped.columns.toSeq == Seq("num", "__trap_err"))
    assert(trapped.collect().map(_.getInt(0)).toSeq == Seq(2))
  }

  test("trap on bufferJoin diverts the failing key group, others survive") {
    val dir = java.nio.file.Files.createTempDirectory("trapbj").toString
    val p = pipe(lhs).bufferJoin(Seq("num"), pipe(rhs), Seq("num2"),
      CFields.typed("k" -> IntegerType, "nl" -> IntegerType, "nr" -> IntegerType),
      (key, ls, rs) => {
        val l = ls.size; val r = rs.size
        if (key.head == 2) throw new IllegalStateException("bad key group")
        Iterator.single(Seq(key.head, l, r))
      },
      trap = Some(graft.sources.ParquetTap(s"$dir/trap")))
    val good = Flow.toDFWithTraps(p)
    assert(good.columns.toSeq == Seq("k", "nl", "nr"))
    assert(good.select("k").collect().map(_.getInt(0)).sorted.toSeq == Seq(1, 3, 4))
    val trapped = spark.read.parquet(s"$dir/trap")
    // trap rows carry the key under the LEFT side's key names + the error
    assert(trapped.columns.toSeq == Seq("num", "__trap_err"))
    assert(trapped.collect().map(_.getInt(0)).toSeq == Seq(2))
    assert(trapped.select("__trap_err").head.getString(0).contains("bad key group"))
  }

  test("trap on bufferJoinN diverts the failing key group, others survive") {
    val dir = java.nio.file.Files.createTempDirectory("trapbjn").toString
    val third = Seq((1, 9.0), (2, 8.0)).toDF("num3", "x")
    val p = pipe(lhs).bufferJoinN(Seq("num"),
      Seq(pipe(rhs) -> Seq("num2"), pipe(third) -> Seq("num3")),
      CFields.typed("k" -> IntegerType, "total" -> IntegerType),
      (key, its) => {
        val sizes = its.map(_.size)
        if (key.head == 1) throw new IllegalArgumentException("poison")
        Iterator.single(Seq(key.head, sizes.sum))
      },
      trap = Some(graft.sources.ParquetTap(s"$dir/trap")))
    val good = Flow.toDFWithTraps(p)
    assert(good.select("k").collect().map(_.getInt(0)).sorted.toSeq == Seq(2, 3, 4))
    val trapped = spark.read.parquet(s"$dir/trap")
    assert(trapped.columns.toSeq == Seq("num", "__trap_err"))
    assert(trapped.collect().map(_.getInt(0)).toSeq == Seq(1))
  }

  test("key-less Buffer enforces the documented global row cap") {
    spark.conf.set("spark.graft.buffer.globalMaxRows", "2")
    try {
      val p = pipe(lhs).groupBySorted(Nil, Seq("num" -> true))
        .buffer(new CBuffer {
          val resultFields: CFields = CFields.typed("n" -> LongType)
          def operate(key: Seq[Any], rows: Iterator[Row]): Iterator[Seq[Any]] =
            Iterator.single(Seq(rows.size.toLong))
        })
      val ex = intercept[Exception] { Flow.toDF(p).collect() }
      def chain(t: Throwable): String =
        if (t == null) "" else t.toString + chain(t.getCause)
      assert(chain(ex).contains("globalMaxRows"))
    } finally spark.conf.unset("spark.graft.buffer.globalMaxRows")
  }

  test("scan buffer output is independent of the partition count") {
    // integral values: sums are exact doubles, so any partitioning must
    // reproduce the sequential prefix sums bit-for-bit
    val data = (1 to 500).map(i => (i.toLong, ((i * 37) % 101).toDouble))
    val df = data.toDF("k", "v")
    val buf = new CScanBuffer[java.lang.Double] {
      val resultFields: CFields = CFields.typed("k" -> LongType, "run" -> DoubleType)
      def zero: java.lang.Double = 0.0
      def observe(s: java.lang.Double, r: Row): java.lang.Double = s + r.getDouble(1)
      def merge(a: java.lang.Double, b: java.lang.Double): java.lang.Double = a + b
      def emit(c: java.lang.Double, rows: Iterator[Row]): Iterator[Seq[Any]] = {
        var acc: Double = c
        rows.map { r => acc += r.getDouble(1); Seq[Any](r.getLong(0), acc) }
      }
    }
    val expected = data.map(_._2).scanLeft(0.0)(_ + _).drop(1)
      .zip(data.map(_._1)).map { case (run, k) => (k, run) }
    for (parts <- Seq("1", "3", "17")) {
      spark.conf.set("spark.sql.shuffle.partitions", parts)
      try {
        val p = pipe(df).groupBySorted(Nil, Seq("k" -> true)).scan(buf)
        val got = Flow.toDF(p).collect()
          .map(r => (r.getLong(0), r.getDouble(1))).sortBy(_._1).toSeq
        assert(got == expected, s"mismatch at shuffle.partitions=$parts")
      } finally spark.conf.set("spark.sql.shuffle.partitions", "4")
    }
  }

  test("checkpoint: tap form round-trips durably; tapless truncates lineage") {
    val dir = java.nio.file.Files.createTempDirectory("ckpt").toString
    val tap = graft.sources.ParquetTap(s"$dir/ck")
    val p = pipe(lhs).filterBy(SqlFilter("num > 1")).checkpoint(Some(tap))
      .groupBy("num").every(Aggs.count("n"))
    val got = Flow.toDF(p).collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(got == Map(2 -> 2L, 4 -> 1L))
    // the checkpoint tap holds the durable intermediate
    assert(spark.read.parquet(s"$dir/ck").count() == 3)
    // tapless: lineage truncated (plan becomes a scan of checkpointed blocks)
    val ck = Flow.toDF(pipe(lhs).checkpoint())
    assert(ck.count() == 4)
    assert(ck.queryExecution.optimizedPlan.collectLeaves()
      .forall(!_.toString.contains("DataFrameTap")))
    // a flow run to its sink releases the tapless checkpoint's frame
    val before = persistentRdds
    Flow.writeAll(Seq((
      pipe(lhs).checkpoint().groupBy("num").every(Aggs.count("n")),
      graft.sources.ParquetTap(s"$dir/flow"), graft.sources.SinkMode.Replace)))
    assert(spark.read.parquet(s"$dir/flow").count() == 3)
    assert(persistentRdds <= before,
      s"$persistentRdds persistent RDDs after the flow, $before before")
  }

  test("debug pipe passes rows through; persist marks the plan cached") {
    val p = pipe(lhs).debug("t", 2)
    assert(Flow.toDF(p).count() == 4)
    val cached = Flow.toDF(pipe(lhs).persist())
    assert(cached.storageLevel.useMemory)
    cached.unpersist()
    // a persist pipe's cache stays the caller's: a flow run to its sink
    // over a caller-owned checkpoint leaves that checkpoint readable
    val ck = lhs.localCheckpoint(true)
    val dir = java.nio.file.Files.createTempDirectory("persist").toString
    Flow.writeAll(Seq((pipe(ck).persist().groupBy("num").every(Aggs.count("n")),
      graft.sources.ParquetTap(s"$dir/flow"), graft.sources.SinkMode.Replace)))
    assert(spark.read.parquet(s"$dir/flow").count() == 3)
    assert(ck.count() == 4, "the caller's checkpoint survives the flow")
    ck.unpersist()
  }

  test("nullSafe coGroup groups null keys together (Cascading semantics)") {
    val l = Seq[(java.lang.Long, String)]((1L, "a"), (null, "b"), (3L, "c"))
      .toDF("lk", "lv")
    val r = Seq[(java.lang.Long, String)]((1L, "A"), (null, "B"), (4L, "D"))
      .toDF("rk", "rv")
    // Cascading null-grouping: the null keys MATCH
    val safe = rows(pipe(l).coGroup(Seq("lk"), pipe(r), Seq("rk"),
      joiner = Joiner.Outer, nullSafe = true))
    assert(safe.contains(Seq(null, "b", null, "B")))
    assert(safe.size == 4) // 1-1, null-null, 3-padded, 4-padded
    // ANSI default: null keys never match — both null rows are padded
    val ansi = rows(pipe(l).coGroup(Seq("lk"), pipe(r), Seq("rk"),
      joiner = Joiner.Outer))
    assert(ansi.contains(Seq(null, "b", null, null)))
    assert(ansi.contains(Seq(null, null, null, "B")))
    assert(ansi.size == 5) // only 1-1 matches; both null rows padded
    // nullSafe hashJoin still plans a broadcast hash join (EqualNullSafe
    // is an equi-key, not a nested-loop condition)
    val hj = Flow.toDF(pipe(l).hashJoin(Seq("lk"), pipe(r), Seq("rk"),
      nullSafe = true))
    assert(hj.queryExecution.executedPlan.toString.contains("BroadcastHashJoin"))
    assert(hj.count() == 2) // 1-1 and null-null
    // identical key names without declared fields: directed error
    val e = intercept[IllegalArgumentException] {
      Flow.toDF(pipe(l.withColumnRenamed("lk", "k"))
        .coGroup(Seq("k"), pipe(r.withColumnRenamed("rk", "k")), Seq("k"),
          nullSafe = true))
    }
    assert(e.getMessage.contains("declared"))
    // ...but semi/anti joins output only left columns, so identical key
    // names are fine there — and the null key matches the null key
    val semi = Flow.toDF(pipe(l.withColumnRenamed("lk", "k"))
      .coGroup(Seq("k"), pipe(r.withColumnRenamed("rk", "k")), Seq("k"),
        joiner = Joiner.LeftSemi, nullSafe = true))
    assert(semi.count() == 2) // 1 and the null-keyed row
  }

  test("group assertion: passes, fails on violation, strips with keepAssertions") {
    val p = pipe(lhs).groupBy("num").every(Aggs.count("n"))
      .assertGroup("__group_size <= 1", "dup groups")
    // group num=2 has size 2 → violated when kept
    val ex = intercept[Exception] { Flow.toDF(p).collect() }
    assert(String.valueOf(ex.getMessage).contains("dup groups") ||
      ex.getCause != null)
    // stripped lowering runs clean and output carries no __group_size
    val stripped = new graft.exec.Lowering(spark, keepAssertions = false).lower(p)
    assert(stripped.columns.toSeq == Seq("num", "n"))
    assert(stripped.count() == 3)
    // a satisfied assertion passes through with the synthetic column dropped
    val ok = Flow.toDF(pipe(lhs).groupBy("num").every(Aggs.count("n"))
      .assertGroup("__group_size = n and __group_size >= 1", "size"))
    assert(ok.columns.toSeq == Seq("num", "n"))
    assert(ok.count() == 3)
  }

  test("counters accumulate across executor closures") {
    val counters = new graft.exec.FlowCounters(spark)
    val acc = counters.counter("graft", "rows_seen")
    lhs.rdd.foreach(_ => acc.add(1))
    assert(counters.value("graft", "rows_seen") == 4L)
  }
}
