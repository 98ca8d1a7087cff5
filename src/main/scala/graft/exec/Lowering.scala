package graft.exec

import org.apache.spark.sql.{Column, DataFrame, Encoders, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.expressions.Aggregator
import scala.collection.mutable
import graft.model.FieldSelector
import graft.pipes._
import graft.sources.{SinkMode, Tap}

/** Pipe DSL → DataFrame lowering — the analogue of the reference's
  * node-by-node translator (`FlinkFlowStep.java:196-351`), except the output
  * is a *declarative* Catalyst plan: no boundary injection, no custom
  * serializers, no interpreter stages. Catalyst's analyzer resolves fields,
  * `EnsureRequirements` places exchanges where the reference's planner rules
  * placed `Boundary`s, and Tungsten replaces the whole `types/` stack.
  *
  * The memo map mirrors `flinkMemo` (`FFS:230-242`): a pipe object consumed
  * by several downstream pipes lowers once and the DataFrame is reused —
  * Catalyst handles common-subplan execution; callers opt into `persist()`
  * pipes when recomputation would be costly.
  */
final class Lowering(spark: SparkSession, keepAssertions: Boolean = true,
                     processConfig: Map[String, String] = Map.empty) {
  import FieldSelector._

  /** Memo key: pipe IDENTITY (pipes are case classes; two structurally equal
    * pipes from different graph positions must not unify) × the active
    * ConfigDef scope — a diamond inside one `withConfig` scope lowers once,
    * while the same pipe reached from another branch without the config
    * still lowers separately. */
  private final class MemoKey(val p: Pipe, val config: Map[String, String]) {
    override def hashCode: Int = System.identityHashCode(p) * 31 + config.hashCode
    override def equals(o: Any): Boolean = o match {
      case k: MemoKey => (k.p eq p) && k.config == config
      case _          => false
    }
  }
  private val memo = mutable.HashMap.empty[MemoKey, DataFrame]

  /** Trap sinks registered during lowering. Writes are DEFERRED to flow
    * execution (`Flow.write`/`writeAll` → `flushTraps()`), not plan
    * construction — lowering a pipe never fires an action (two documented
    * exceptions: the scan-buffer prefix barrier, an O(partitions) stats
    * collect, and a DURABLE `checkpoint(tap)`, whose write IS the
    * materialization barrier — see CheckpointPipe below). The
    * split intermediates are persisted to memory-and-disk so success and
    * trap outputs are read from one materialization (no divergence for
    * nondeterministic upstreams). */
  private val pendingTraps = mutable.Buffer.empty[(Tap, DataFrame)]

  /** Every frame the lowering materializes — trap split intermediates,
    * the scan buffer's sorted relation, `persist()` and tapless
    * `checkpoint()` pipes. Flows that run to their sinks close it once
    * the sinks and traps are written (`Flow.writeAll`); a caller that
    * consumes the lowered DataFrame itself owns the frames it reads and
    * closes this once the result is consumed. */
  val frames = new Frames

  /** Write all registered trap sinks (called by Flow after the main sinks).
    * Multiple stages may share ONE trap tap (upstream
    * TrapPlatformTest.testTrapEachEveryAllChained): registrations are
    * grouped per tap and unioned BY NAME with missing columns padded null
    * (each stage traps its own input schema) so every stage's diagnostics
    * land in the same sink instead of the last write replacing the rest. */
  def flushTraps(): Unit = {
    pendingTraps.groupBy(_._1).foreach { case (tap, regs) =>
      val united = regs.map(_._2)
        .reduce(_.unionByName(_, allowMissingColumns = true))
      tap.write(united, SinkMode.Replace)
    }
    pendingTraps.clear()
  }

  /** Per-pipe ConfigDef properties of the enclosing `withConfig` scopes
    * (merged innermost-last). Scoped to the subtree being translated;
    * memoization is per (pipe identity, activeConfig), so the same pipe
    * object reached from another branch without the config lowers
    * separately, while a diamond within ONE scope still lowers once.
    * (Taps and pipes are safely shareable across scopes; a mutable
    * ConfigurableOp INSTANCE is not — see configurify.) */
  // the process-level properties are the OUTERMOST config scope (Cascading
  // flow-process properties): every pipe scope layers over them by mode
  private var activeConfig: Map[String, String] = processConfig

  def lower(p: Pipe): DataFrame = {
    val key = new MemoKey(p, activeConfig)
    memo.get(key) match {
      case Some(df) => df
      case None     => val df = translate(p); memo.put(key, df); df
    }
  }

  /** Apply the active ConfigDef scope to a configurable operation.
    * `configure` mutates the op instance, so one instance reached from two
    * scopes with DIFFERENT properties would silently run both branches with
    * whichever configuration was applied last (closures serialize at action
    * time, after all lowering). Detect that and fail with a clear message
    * instead. */
  private val appliedConfigs =
    new java.util.IdentityHashMap[ConfigurableOp, Map[String, String]]()
  private def configurify(op: Any): Unit = op match {
    case c: ConfigurableOp =>
      val prev = appliedConfigs.get(c)
      if (prev != null && prev != activeConfig) {
        def show(m: Map[String, String]) = if (m.isEmpty) "no config" else m.toString
        throw new IllegalStateException(
          s"ConfigurableOp $c is shared by pipes under different ConfigDef " +
            s"scopes (${show(prev)} vs ${show(activeConfig)}); " +
            "use one op instance per scope")
      }
      appliedConfigs.put(c, activeConfig)
      if (activeConfig.nonEmpty) c.configure(activeConfig)
    case _ => ()
  }

  // ------------------------------------------------------------------
  private def translate(p: Pipe): DataFrame = p match {
    case SourcePipe(tap, _) =>
      if (activeConfig.isEmpty) tap.read(spark)
      else tap.read(spark, activeConfig)

    case ConfigDefPipe(prev, props, mode) =>
      val saved = activeConfig
      // Cascading ConfigDef.Mode merge over the enclosing scope (which
      // already includes the process config — so DEFAULT yields to process
      // properties exactly as the reference's test scheme asserts)
      activeConfig = mode match {
        case ConfigMode.Replace => activeConfig ++ props
        case ConfigMode.Default =>
          props.foldLeft(activeConfig) { case (m, (k, v)) =>
            if (m.contains(k)) m else m + (k -> v) }
        case ConfigMode.Update =>
          props.foldLeft(activeConfig) { case (m, (k, v)) =>
            m + (k -> m.get(k).map(_ + "," + v).getOrElse(v)) }
      }
      try lower(prev) finally activeConfig = saved

    case e: EachPipe => lowerEach(e)

    // GroupBy with no Every: Cascading semantics = partition + in-group sort
    // (consumed positionally by a downstream sink). Multi-input GroupBy
    // unions first (`FFS:477-496`).
    case GroupByPipe(inputs, keys, sort, reverse) =>
      val df = inputs.map(lower).reduce(_ unionAll _)
      if (keys.isEmpty) df
      else {
        val sortCols = groupSortCols(keys, sort, reverse)
        df.repartition(keys.map(col): _*).sortWithinPartitions(sortCols: _*)
      }

    case AggregatePipe(grouped, aggs) =>
      val df = grouped.inputs.map(lower).reduce(_ unionAll _)
      // Upstream resolver contract: a GroupBy's sort fields resolve at
      // ASSEMBLY time whether or not the consumer uses them — Aggregator
      // paths ignore the secondary sort (hash aggregation needs no order),
      // so without this check a misspelled sort field would silently plan
      // where Cascading fails with a FieldsResolverException naming it.
      grouped.sort.foreach { case (f, _) =>
        try df.selectExpr(f)
        catch { case e: Exception =>
          throw new IllegalArgumentException(
            s"GroupBy sort field '$f' does not resolve against " +
              s"[${df.columns.mkString(", ")}]", e)
        }
      }
      val aggCols = aggs.map(a => a.make(a.argFields.map(df.col)).as(a.resultField))
      if (grouped.keys.isEmpty) df.agg(aggCols.head, aggCols.tail: _*)
      else df.groupBy(grouped.keys.map(col): _*).agg(aggCols.head, aggCols.tail: _*)

    case CustomAggPipe(grouped, agg) => lowerCustomAgg(grouped, agg)

    case BufferPipe(grouped, b, includeKeys, trap) =>
      lowerBuffer(grouped, b, includeKeys, trap)

    case ScanBufferPipe(grouped, sb) =>
      lowerScanBuffer(grouped, sb.asInstanceOf[CScanBuffer[Any]])

    case CoGroupPipe(l, lk, r, rk, joiner, declared, nullSafe) =>
      lowerJoin(lower(l), lk, lower(r), rk, joiner, declared, bcast = false,
        nullSafe = nullSafe)

    case HashJoinPipe(l, lk, r, rk, joiner, declared, nullSafe) =>
      lowerJoin(lower(l), lk, lower(r), rk, joiner, declared, bcast = true,
        nullSafe = nullSafe)

    // key-less cross: broadcast the declared tiny side (reference
    // crossWithTiny, FFS:765-800) so the plan replicates the small input
    // instead of shuffling the large one
    case CrossPipe(l, r, tiny) => tiny match {
      case CrossSide.Right   => lower(l).crossJoin(broadcast(lower(r)))
      case CrossSide.Left    => broadcast(lower(l)).crossJoin(lower(r))
      case CrossSide.Neither => lower(l).crossJoin(lower(r))
    }

    case bj: BufferJoinPipe => lowerBufferJoin(bj)
    case bj: BufferJoinSortedPipe => lowerBufferJoinSorted(bj)
    case bj: BufferJoinNPipe => lowerBufferJoinN(bj)

    // Merge requires IDENTICAL declared fields across inputs (the
    // cascading Merge contract): a bare positional union would silently
    // zip mismatched or reordered schemas — fail at plan time, directed
    case MergePipe(pipes) =>
      val dfs = pipes.map(lower)
      val schemas = dfs.map(_.columns.toSeq)
      schemas.tail.find(_ != schemas.head).foreach { bad =>
        throw new IllegalArgumentException(
          "Merge requires identical declared fields on every input: " +
            s"${schemas.head.mkString("(", ", ", ")")} vs " +
            s"${bad.mkString("(", ", ", ")")} — rename/retain the " +
            "branches to one schema first")
      }
      dfs.reduce(_ unionAll _)

    case UniquePipe(prev, fields, include) =>
      val df = lower(prev)
      // NO_NULLS drops null-keyed tuples BEFORE the distinct (Cascading
      // Unique.Include semantics) — a filter at the scan, not a group
      val base = include match {
        case graft.pipes.UniqueInclude.NoNulls =>
          val keyCols = fields.getOrElse(df.columns.toSeq)
          df.filter(keyCols.map(col(_).isNotNull).reduce(_ && _))
        case graft.pipes.UniqueInclude.All => df
      }
      fields.fold(base.distinct())(f => base.dropDuplicates(f))

    case RetainPipe(prev, fields) =>
      lower(prev).select(fields.map(col): _*)

    case DiscardPipe(prev, fields) =>
      // Spark's drop() silently ignores unknown names; upstream Discard
      // resolves its field selector at plan time and FAILS on a missing
      // field — a typo'd discard keeping a column alive would otherwise
      // ship silently
      val df0 = lower(prev)
      val missing = fields.filterNot(df0.columns.contains)
      require(missing.isEmpty,
        s"discard: no such field(s): ${missing.mkString(", ")}")
      df0.drop(fields: _*)

    case RenamePipe(prev, pairs) =>
      // ATOMIC over the pair list (the cascading.pipe.assembly.Rename
      // contract): rename((a,b),(b,a)) is a field SWAP. The old
      // sequential withColumnRenamed fold made the first step collide
      // with the still-present target column and silently produced
      // duplicate names — found porting the swap corner.
      val df = lower(prev)
      val m = pairs.toMap
      val missing = m.keySet -- df.columns.toSet
      require(missing.isEmpty,
        s"rename: no such field(s): ${missing.mkString(", ")}")
      val out = df.columns.map(c => m.getOrElse(c, c))
      require(out.distinct.length == out.length,
        s"rename: target names collide: ${out.mkString(", ")}")
      df.select(df.columns.zip(out).map {
        case (c, t) => df.col(c).as(t) }: _*)

    case CoercePipe(prev, fields) =>
      fields.foldLeft(lower(prev)) { case (df, (f, t)) =>
        df.withColumn(f, df.col(f).cast(t))
      }

    // primitive-form Coercions (int.class family): cast, then the
    // primitive null-default — 0 for numerics, false for boolean
    // (`cascading/tuple/coerce/Coercions.java`; Pipe.coercePrimitive doc)
    case CoercePrimitivePipe(prev, fields) =>
      fields.foldLeft(lower(prev)) { case (df, (f, t)) =>
        val default: Any = t match {
          case BooleanType => false
          case DoubleType | FloatType => 0.0
          case _ => 0L
        }
        df.withColumn(f, coalesce(df.col(f).cast(t), lit(default).cast(t)))
      }

    // Spark limits are Int-typed — a Long above 2^31-1 must fail
    // directed, not silently truncate to a smaller limit
    case LimitPipe(prev, n) =>
      require(n >= 0 && n <= Int.MaxValue,
        s"limit($n): Spark's global limit is Int-bounded [0, 2^31-1]")
      lower(prev).limit(n.toInt)
    // per-slice Limit parity (Cascading semantics): LocalLimit alone —
    // every partition caps at n, nothing gathers to one partition
    case SliceLimitPipe(prev, n) =>
      require(n >= 0 && n <= Int.MaxValue,
        s"sliceLimit($n): Spark's local limit is Int-bounded [0, 2^31-1]")
      org.apache.spark.sql.graftbridge.PlanBridge.localLimit(lower(prev), n.toInt)
    case SamplePipe(prev, frac, seed) => lower(prev).sample(frac, seed)

    case OrderByPipe(prev, sort) =>
      lower(prev).orderBy(sort.map { case (f, asc) =>
        if (asc) expr(f).asc_nulls_first else expr(f).desc_nulls_last
      }: _*)

    case IntersectPipe(l, r) => lower(l).intersect(lower(r))
    case ExceptPipe(l, r)    => lower(l).except(lower(r))

    case DebugPipe(prev, prefix, n) =>
      val df = lower(prev)
      if (!keepAssertions) df
      else {
        // schema prints at plan time (driver); rows print on the EXECUTORS
        // as they stream past, like Cascading's Debug operation — no action
        // fires during lowering. First n rows per partition.
        System.err.println(s"[$prefix] schema: ${df.schema.simpleString}")
        val (pfx, limit) = (prefix, n)
        df.mapPartitions { it =>
          var seen = 0
          it.map { r =>
            if (seen < limit) { System.err.println(s"[$pfx] $r"); seen += 1 }
            r
          }
        }(Encoders.row(df.schema))
      }

    // caller-owned: the lowered flow reads the cache; `frames` never holds it
    case PersistPipe(prev) => lower(prev).persist()

    case CheckpointPipe(prev, tapOpt) =>
      val df = lower(prev)
      tapOpt match {
        // durable checkpoint: write to the tap and read the copy back —
        // downstream sees the tap's relation (restartable, like Cascading's
        // checkpoint tap; the write is an action at lowering by design,
        // mirroring Checkpoint's materialization-barrier semantics)
        case Some(tap) =>
          tap.write(df, SinkMode.Replace)
          tap.read(spark)
        // lineage truncation only: lazy localCheckpoint (materializes on
        // first action, blocks stay on executors)
        case None => frames.lazily(df)
      }

    case AssertPipe(prev, pred, message) =>
      val df = lower(prev)
      if (!keepAssertions) df
      // assert_true returns null on success; keeping it inside the filter
      // prevents ColumnPruning from eliding the side effect.
      else df.filter(assert_true(expr(pred),
        lit(s"assertion failed: $message")).isNull)

    // GroupAssertion: per-group predicate after aggregation. A synthetic
    // `__group_size` count is injected into the aggregate list so size
    // assertions need no user-declared count, checked, then dropped.
    // Stripped with keepAssertions=false (reference strips GroupAssertions
    // via ApplyAssertionLevelTransformer, FlinkConnector.java:126-127).
    case GroupAssertPipe(aggPipe, pred, message) =>
      if (!keepAssertions) lower(aggPipe)
      else {
        val withSize = translate(
          AggregatePipe(aggPipe.grouped, aggPipe.aggs :+ Aggs.count("__group_size")))
        withSize.filter(assert_true(expr(pred),
          lit(s"group assertion failed: $message")).isNull)
          .drop("__group_size")
      }
  }

  // ------------------------------------------------------------------
  // Each: arg selection + op + output selector algebra (SURVEY.md §2.3)
  private def lowerEach(e: EachPipe): DataFrame = {
    val df = lower(e.prev)
    e.op match {
      case EachOp.Fn(fn)    => configurify(fn)
      case EachOp.Gen(gen)  => configurify(gen)
      case EachOp.Flt(f)    => configurify(f)
      case EachOp.RowFn(f)  => configurify(f)
    }
    val incoming = df.columns.toSeq
    def argNames(sel: FieldSelector): Seq[String] = sel match {
      case All        => incoming
      case Named(ns)  => ns.map(FieldSelector.resolvePos(_, incoming))
      case other => throw new IllegalArgumentException(s"bad arg selector $other")
    }
    // Column-expression ops with a trap: the op's expression is wrapped in
    // TryEval (per-row exception capture); rows whose evaluation threw go to
    // the trap tap with the original input columns + the error, rows that
    // succeeded continue with the computed value. One persisted split.
    def trySplit(tap: graft.sources.Tap, tried: Column): DataFrame = {
      val base = frames.persist(df.withColumn("__try", tried))
      pendingTraps += tap -> base.filter(col("__try.err").isNotNull)
        .select(incoming.map(col) :+ col("__try.err").as("__trap_err"): _*)
      base.filter(col("__try.err").isNull)
    }

    e.op match {
      case EachOp.Flt(f) =>
        val args = argNames(e.args)
        val keep = f.keep(args.map(df.col))
        e.trap match {
          case None => df.filter(keep)
          case Some(tap) =>
            trySplit(tap, graft.catalyst.TryEval(keep))
              .filter(col("__try.value"))
              .select(incoming.map(col): _*)
        }

      case EachOp.Fn(fn) =>
        val args = argNames(e.args)
        val results = fn(args.map(df.col))
        val resultNames = fn.resultFields.names
        e.trap match {
          case None =>
            selectOutput(df, incoming, args, resultNames, results, e.out)
          case Some(tap) =>
            val good = trySplit(tap, graft.catalyst.TryEval(
              struct(resultNames.zip(results).map { case (n, c) => c.as(n) }: _*)))
            selectOutput(good, incoming, args, resultNames,
              resultNames.map(n => col(s"__try.value.$n")), e.out)
        }

      case EachOp.Gen(gen) =>
        val args = argNames(e.args)
        val rn = gen.resultFields.names
        val (src, arr) = e.trap match {
          case None => (df, gen(args.map(df.col)))
          case Some(tap) =>
            val good = trySplit(tap, graft.catalyst.TryEval(gen(args.map(df.col))))
            (good, col("__try.value"))
        }
        val exploded =
          if (rn.length == 1) src.withColumn(rn.head, explode(arr))
          else { // array<struct> → one column per struct field
            val x = src.withColumn("__gen", explode(arr))
            rn.foldLeft(x)((d, n) => d.withColumn(n, col("__gen").getField(n)))
              .drop("__gen")
          }
        selectOutput(exploded, incoming, args, rn, rn.map(exploded.col), e.out)

      case EachOp.RowFn(f) => lowerRowFn(df, e, f)
    }
  }

  /** Output-selector algebra shared by Fn/Gen — Cascading RESULTS/ALL/SWAP
    * (`FFS:461-475` out-fields logic). */
  private def selectOutput(df: DataFrame, incoming: Seq[String],
                           args: Seq[String], resultNames: Seq[String],
                           results: Seq[Column], out: FieldSelector): DataFrame = {
    val named = resultNames.zip(results).map { case (n, c) => c.as(n) }
    out match {
      case Results => df.select(named: _*)
      case All =>
        val keep = incoming.filterNot(resultNames.contains).map(df.col)
        df.select(keep ++ named: _*)
      case Swap =>
        val keep = incoming.filterNot(args.contains)
          .filterNot(resultNames.contains).map(df.col)
        df.select(keep ++ named: _*)
      case Replace =>
        // a result whose name matches no incoming field has nothing to
        // replace — upstream REPLACE fails such flows at plan time, and
        // silently dropping the result column would be data loss
        val stray = resultNames.filterNot(incoming.contains)
        require(stray.isEmpty, s"REPLACE output selector: result field(s) " +
          s"${stray.mkString(", ")} name no incoming field to replace " +
          s"(incoming: ${incoming.mkString(", ")})")
        val m = resultNames.zip(results).toMap
        df.select(incoming.map(n => m.get(n).map(_.as(n)).getOrElse(df.col(n))): _*)
      case Args =>
        // outgoing = the argument fields, with same-named results
        // substituted (cascading-platform ARGS output-selector semantics)
        val m = resultNames.zip(named).toMap
        df.select(args.map(n => m.getOrElse(n, df.col(n))): _*)
      case Named(ns) =>
        val m = resultNames.zip(named).toMap
        // positional names ("0", "-1") resolve against the POST-op field
        // list: incoming then appended results (reference
        // TupleTypeInfo.java:325-347 relative resolution)
        val avail = incoming ++ resultNames.filterNot(incoming.contains)
        df.select(ns.map(FieldSelector.resolvePos(_, avail))
          .map(n => m.getOrElse(n, df.col(n))): _*)
      case other => throw new IllegalArgumentException(s"bad out selector $other")
    }
  }

  /** Row-closure Each with optional trap: failures diverted to the trap tap
    * instead of failing the job (reference trap machinery
    * `FlinkFlowProcess.java:169-190`). The success/failure split is one
    * deterministic pass over a cached intermediate. */
  private def lowerRowFn(df: DataFrame, e: EachPipe, f: CRowFunction): DataFrame = {
    val incoming = df.columns.toSeq
    val args = e.args match {
      case Named(ns) => ns.map(FieldSelector.resolvePos(_, incoming))
      case _         => incoming
    }
    val argIdx = args.map(incoming.indexOf)
    val resultSchema = f.resultFields.toStruct
    e.trap match {
      case None =>
        val enc = Encoders.row(resultSchema)
        val fn = f
        val idx = argIdx
        df.flatMap { row =>
          val argRow = Row.fromSeq(idx.map(row.get))
          fn(argRow).map(Row.fromSeq)
        }(enc)
      case Some(trapTap) =>
        val fn = f
        val idx = argIdx
        // trap rows keep the ORIGINAL input columns (as a struct) + the
        // error; the write is deferred to flow execution (flushTraps).
        val withErr = StructType(resultSchema.fields :+
          StructField("__trap_in", df.schema) :+ StructField("__trap_err", StringType))
        val enc = Encoders.row(withErr)
        val n = resultSchema.length
        val processed = frames.persist(df.flatMap { row =>
          val argRow = Row.fromSeq(idx.map(row.get))
          try fn(argRow).map(s => Row.fromSeq(s :+ null :+ null))
          catch {
            case ex: Exception =>
              Iterator.single(Row.fromSeq(
                Seq.fill[Any](n)(null) :+ row :+ ex.toString))
          }
        }(enc))
        pendingTraps += trapTap -> processed
          .filter(col("__trap_err").isNotNull)
          .select(col("__trap_in.*"), col("__trap_err"))
        processed.filter(col("__trap_err").isNull)
          .drop("__trap_in", "__trap_err")
    }
  }

  // ------------------------------------------------------------------
  /** Secondary-sort columns: keys first, then user sort fields; `reverse`
    * flips key order (reference `FFS:527-531`; we do NOT replicate the
    * mixed-ASC/DESC quirk at `FFS:546-549`). */
  private def groupSortCols(keys: Seq[String], sort: Seq[(String, Boolean)],
                            reverse: Boolean): Seq[Column] = {
    val keyCols = keys.map(k =>
      if (reverse) col(k).desc_nulls_last else col(k).asc_nulls_first)
    // expr() not col(): sort fields may be arbitrary SQL expressions, which
    // is how custom comparators map to Spark (derived sort-key columns —
    // SURVEY.md §1.3).
    val sortCols = sort.map { case (f, asc) =>
      if (asc) expr(f).asc_nulls_first else expr(f).desc_nulls_last }
    keyCols ++ sortCols
  }

  /** Buffer: the classic Spark secondary-sort group-runner —
    * repartition(keys) + sortWithinPartitions(keys ++ sort) + mapPartitions
    * with group-boundary detection. Guarantees intra-group order, which
    * `flatMapGroups` does not. */
  private def lowerBuffer(grouped: GroupByPipe, b: CBuffer,
                          includeKeys: Boolean,
                          trap: Option[Tap] = None): DataFrame = {
    val df = grouped.inputs.map(lower).reduce(_ unionAll _)
    configurify(b)
    val keys = grouped.keys
    val keySchema = StructType(keys.map(k => df.schema(k)))
    val baseSchema =
      if (includeKeys && keys.nonEmpty) StructType(keySchema.fields ++ b.resultFields.toStruct.fields)
      else b.resultFields.toStruct
    // with a trap, the runner emits (out-fields..., __trap_err) and the
    // relation is split after — failing groups become one trap row
    // (key values + error) instead of killing the job.
    val trapEnabled = trap.isDefined
    val outSchema =
      if (trapEnabled) StructType(baseSchema.fields :+ StructField("__trap_err", StringType))
      else baseSchema
    val enc = Encoders.row(outSchema)
    val cols = df.columns.toSeq
    val keyIdx = keys.map(k => cols.indexOf(k))
    val buf = b
    val inclKeys = includeKeys && keys.nonEmpty
    val trapOn = trapEnabled
    val resultLen = b.resultFields.toStruct.length

    // Generic opaque Buffer on a key-less group is inherently one sequential
    // pass over everything — a dop-1 operation however it is arranged. We
    // run it, but capped: beyond `spark.graft.buffer.globalMaxRows` the task
    // fails with a pointer to the distributed form (`groupAll.scan` +
    // CScanBuffer, which range-partitions instead). The cap is a streaming
    // counter inside the runner, not an extra pass.
    val globalCap: Long =
      if (keys.nonEmpty) Long.MaxValue
      else spark.conf.get("spark.graft.buffer.globalMaxRows", "10000000").toLong

    val arranged =
      if (keys.isEmpty) {
        // global group: single partition, fully sorted (reference dop-1
        // global reduce `FFS:573-600`).
        val sorted = grouped.sort.map { case (f, asc) =>
          if (asc) col(f).asc_nulls_first else col(f).desc_nulls_last }
        val d = df.coalesce(1)
        if (sorted.nonEmpty) d.sortWithinPartitions(sorted: _*) else d
      } else {
        df.repartition(keys.map(col): _*)
          .sortWithinPartitions(groupSortCols(keys, grouped.sort, grouped.reverse): _*)
      }

    val runner = arranged.mapPartitions { it0 =>
      val it = {
        var seen = 0L
        it0.map { r =>
          seen += 1
          if (seen > globalCap) throw new IllegalStateException(
            s"key-less Buffer exceeded spark.graft.buffer.globalMaxRows=$globalCap " +
              "rows; a global Buffer is a single sequential pass — use " +
              "groupAll.scan(CScanBuffer) for the distributed prefix-scan form")
          r
        }
      }
      new Iterator[Row] {
        private val rows = it.buffered
        private var out: Iterator[Row] = Iterator.empty
        // group currently being consumed by `out` (buffer output is lazy and
        // pulls from this iterator); drained only once `out` is exhausted.
        private var curGroup: Iterator[Row] = Iterator.empty
        private def advance(): Unit = {
          while (!out.hasNext && {
                   while (curGroup.hasNext) curGroup.next(); rows.hasNext
                 }) {
            val keyVals = keyIdx.map(rows.head.get)
            val group = new Iterator[Row] {
              def hasNext: Boolean =
                rows.hasNext && keyIdx.map(rows.head.get) == keyVals
              def next(): Row = rows.next()
            }
            curGroup = group
            def finish(s: Seq[Any]): Row = Row.fromSeq(
              (if (inclKeys) keyVals ++ s else s) ++
                (if (trapOn) Seq(null) else Nil))
            out =
              if (!trapOn) buf.operate(keyVals, group).map(finish)
              else
                // trap semantics are per GROUP: output is forced eagerly so
                // a mid-stream failure replaces the whole group's output
                // with one trap row (key values + error).
                try buf.operate(keyVals, group).toVector.iterator.map(finish)
                catch {
                  case ex: Exception =>
                    while (group.hasNext) group.next()
                    Iterator.single(Row.fromSeq(
                      (if (inclKeys) keyVals else Nil) ++
                        Seq.fill[Any](resultLen)(null) :+
                        (ex.getClass.getName + ": " + String.valueOf(ex.getMessage))))
                }
          }
        }
        def hasNext: Boolean = { advance(); out.hasNext }
        def next(): Row = { advance(); out.next() }
      }
    }(enc)

    trap match {
      case None => runner
      case Some(tap) =>
        val persisted = frames.persist(runner)
        pendingTraps += tap -> persisted.filter(col("__trap_err").isNotNull)
          .select((if (inclKeys) keys else Nil).map(col) :+
            col("__trap_err"): _*)
        persisted.filter(col("__trap_err").isNull).drop("__trap_err")
    }
  }

  /** Key-less ordered Buffer as a two-phase distributed prefix scan — the
    * scale-safe replacement for the reference's dop-1 global reduce
    * (`FFS:573-600`):
    *   1. range-partitioned parallel total sort (RangePartitioning — every
    *      partition sorts its range concurrently, spill-safe);
    *   2. one tiny summary state per partition (`observe` fold), collected
    *      and prefix-`merge`d on the driver (P states, bytes each — the same
    *      O(partitions) barrier AQE pays for stats), then broadcast;
    *   3. `emit` runs per partition in parallel with its carry-in.
    * The sorted relation is persisted across the two passes so both read
    * the same deterministic ordering. */
  private def lowerScanBuffer(grouped: GroupByPipe, sb: CScanBuffer[Any]): DataFrame = {
    val df = grouped.inputs.map(lower).reduce(_ unionAll _)
    configurify(sb)
    val sortCols = grouped.sort.map { case (f, asc) =>
      if (asc) expr(f).asc_nulls_first else expr(f).desc_nulls_last }
    require(sortCols.nonEmpty, "scan requires sort fields (a total order)")
    val parts = spark.conf.get("spark.sql.shuffle.partitions", "32").toInt
    // The range index is BAKED INTO the persisted rows (spark_partition_id
    // evaluated at cache materialization), not read from TaskContext at emit
    // time: a downstream coalesce/repartition may fuse several ranges into
    // one task, where TaskContext's id would be wrong. Both passes chunk
    // rows by consecutive __pid runs, so they stay correct under fusion
    // (coalesce concatenates parents in range order).
    val dataSchema = df.schema
    // released by Flow.writeAll after the sinks materialize (the emit phase
    // below reads it, so it must outlive the flow's actions)
    val sorted = frames.persist(df.repartitionByRange(parts, sortCols: _*)
      .sortWithinPartitions(sortCols: _*)
      .withColumn("__pid", spark_partition_id()))
    val pidIdx = dataSchema.length

    import Lowering.{ser, deser, pidRuns, stripLast}
    val stateSchema = StructType(Seq(
      StructField("pid", IntegerType), StructField("state", BinaryType)))
    val buf = sb
    val summaries = sorted.mapPartitions { it =>
      pidRuns(it, pidIdx).map { case (pid, rows) =>
        var s = buf.zero
        rows.foreach(r => s = buf.observe(s, stripLast(r, dataSchema)))
        Row(pid, ser(s))
      }
    }(Encoders.row(stateSchema)).collect()
      .map(r => r.getInt(0) -> r.getAs[Array[Byte]](1)).toMap

    // carry-in for range p = merge of summaries 0..p-1 in range order
    // (empty ranges produce no summary row and contribute nothing)
    val nParts = summaries.keys.foldLeft(0)((m, p) => math.max(m, p + 1))
    val carries = new Array[Array[Byte]](math.max(nParts, 1))
    var acc = sb.zero
    for (p <- 0 until nParts) {
      carries(p) = ser(acc)
      summaries.get(p).foreach(s => acc = sb.merge(acc, deser(s)))
    }
    val bc = spark.sparkContext.broadcast(carries)

    val outEnc = Encoders.row(sb.resultFields.toStruct)
    sorted.mapPartitions { it =>
      pidRuns(it, pidIdx).flatMap { case (pid, rows) =>
        val carry = deser(bc.value(pid))
        buf.emit(carry, rows.map(stripLast(_, dataSchema))).map(Row.fromSeq)
      }
    }(outEnc)
  }

  /** Cascading-style custom Aggregator → Spark typed `Aggregator` + `udaf`
    * (partial aggregation comes free — subsumes the reference's whole
    * `AggregateBy` partial/final split). */
  private def lowerCustomAgg(grouped: GroupByPipe, ca: CAggregator[_]): DataFrame = {
    val df = grouped.inputs.map(lower).reduce(_ unionAll _)
    configurify(ca)
    val argStruct = StructType(ca.argFields.map(f => df.schema(f)))
    val outStruct = StructType(Seq(StructField(ca.resultField, ca.resultType)))
    type B = Any
    val caAny = ca.asInstanceOf[CAggregator[B]]
    val agg = new Aggregator[Row, B, Row] {
      def zero: B = caAny.start
      def reduce(b: B, a: Row): B = caAny.aggregate(b, a.toSeq)
      def merge(x: B, y: B): B = caAny.merge(x, y)
      def finish(b: B): Row = Row(caAny.complete(b))
      def bufferEncoder = caAny.bufferEncoder
      def outputEncoder = Encoders.row(outStruct)
    }
    val u = udaf(agg, Encoders.row(argStruct))
    val aggCol = u(ca.argFields.map(df.col): _*)
      .getField(ca.resultField).as(ca.resultField)
    if (grouped.keys.isEmpty) df.agg(aggCol)
    else df.groupBy(grouped.keys.map(col): _*).agg(aggCol)
  }

  /** Equi-join with Cascading declared-fields semantics: both key copies are
    * retained and null-padded on outer joins; `declared` renames positionally
    * (left fields then right fields), which also disambiguates self-joins
    * (reference `computeSpliceInputsFieldsKeys`, `FFS:1191-1236`). */
  private def lowerJoin(l: DataFrame, lk: Seq[String], r: DataFrame,
                        rk: Seq[String], joiner: Joiner,
                        declared: Option[Seq[String]], bcast: Boolean,
                        nullSafe: Boolean = false): DataFrame = {
    val semiLike = joiner == Joiner.LeftSemi || joiner == Joiner.LeftAnti
    val (ld, rd) = declared match {
      case Some(names) =>
        require(names.length == l.columns.length + r.columns.length,
          s"declared fields arity ${names.length} != ${l.columns.length} + ${r.columns.length}")
        (l.toDF(names.take(l.columns.length): _*),
         r.toDF(names.drop(l.columns.length): _*))
      case None =>
        val collide = (l.columns.toSet & r.columns.toSet) -- (
          if (lk == rk) lk.toSet else Set.empty)
        require(semiLike || collide.isEmpty || lk == rk,
          s"colliding non-key fields ${collide.mkString(",")}: pass declared fields")
        (l, r)
    }
    val lkR = declared.fold(lk)(names => lk.map(k => names(l.columns.indexOf(k))))
    val rkR = declared.fold(rk)(names =>
      rk.map(k => names(l.columns.length + r.columns.indexOf(k))))
    val rside = if (bcast) broadcast(rd) else rd
    if (declared.isEmpty && lk == rk && !nullSafe)
      ld.join(rside, lk, joiner.sparkType) // shared key columns, no dup
    else {
      // null-safe joins with identical key names on both sides would leave
      // two indistinguishable key columns; Cascading keeps both copies, so
      // require the caller to name them apart (declared fields or renames).
      // Semi/anti joins output only left-side columns, so they are exempt.
      require(!nullSafe || semiLike || declared.nonEmpty || lk != rk,
        "nullSafe join with identical key names on both sides: pass declared " +
          "fields (or rename one side) so both retained key copies are addressable")
      val cond = lkR.zip(rkR)
        .map { case (a, b) =>
          if (nullSafe) ld.col(a) <=> rside.col(b)
          else ld.col(a) === rside.col(b)
        }.reduce(_ && _)
      ld.join(rside, cond, joiner.sparkType)
    }
  }

  /** Canonical key schema for the grouped-join paths: field names are
    * positional (`k0, k1, …`) so left/right key structs encode identically
    * regardless of their source column names. Numeric key types WIDEN to
    * the larger of the two sides ONLY within a family where widening is
    * injective: integral→integral (byte<short<int<long) and float→double.
    * Integral-vs-fractional pairs are REJECTED — long→float collides all
    * distinct keys ≥2^24 and long→double those ≥2^53, silently merging
    * groups — the caller must cast one side explicitly (e.g. both to
    * decimal(20,0)). Non-numeric types must match exactly. */
  private def bufferKeySchema(sides: Seq[(DataFrame, Seq[String])]): StructType = {
    val typesPerSide = sides.map { case (df, ks) => ks.map(df.schema(_).dataType) }
    val arity = typesPerSide.head.length
    require(typesPerSide.forall(_.length == arity), "join key arity mismatch")
    def integral(r: Int) = r >= 0 && r <= 3
    def fractional(r: Int) = r == 4 || r == 5
    val fields = (0 until arity).map { i =>
      val ts = typesPerSide.map(_(i)).distinct
      val t = ts.reduce { (a, b) =>
        val (x, y) = (Lowering.numericRank(a), Lowering.numericRank(b))
        if ((integral(x) && integral(y)) || (fractional(x) && fractional(y)))
          (if (x >= y) a else b)
        else if (x >= 0 && y >= 0)
          throw new IllegalArgumentException(
            s"join key position $i mixes integral and fractional types ($a vs $b): " +
              "integral->fractional promotion is lossy (distinct long keys >= 2^24 " +
              "collide as float, >= 2^53 as double) and would silently merge groups " +
              "- cast one side explicitly (e.g. both keys to DECIMAL(20,0))")
        else {
          require(a == b, s"incompatible join key types at position $i: $a vs $b")
          a
        }
      }
      StructField(s"k$i", t, nullable = true)
    }
    StructType(fields)
  }

  /** BufferJoin → typed `KeyValueGroupedDataset.cogroup` (per-input
    * iterators per key). Stays in Tungsten end-to-end: rows shuffle as
    * UnsafeRows through a normal Exchange + sort (no Java/Kryo row
    * serialization, AQE still re-plans the exchange), and Spark's
    * ExternalSorter spills internally — replacing the reference's
    * hand-rolled GZip spill lists (`SpillingTupleCollectionFactory.java:40-49`). */
  private def lowerBufferJoin(bj: BufferJoinPipe): DataFrame = {
    val l = lower(bj.left); val r = lower(bj.right)
    val keySchema = bufferKeySchema(Seq(l -> bj.leftKeys, r -> bj.rightKeys))
    val keyEnc = Encoders.row(keySchema)
    val fn = bj.b
    // Both sides' keys widen to the canonical schema before encoding — an
    // int right key joins a long left key (the old Seq[Any] cogroup matched
    // across numeric widths via cooperative equality).
    val lKey = Lowering.keyExtractor(
      bj.leftKeys.map(k => l.columns.indexOf(k)).toArray, keySchema)
    val rKey = Lowering.keyExtractor(
      bj.rightKeys.map(k => r.columns.indexOf(k)).toArray, keySchema)
    val lg = l.groupByKey(lKey)(keyEnc)
    val rg = r.groupByKey(rKey)(keyEnc)
    bj.trap match {
      case None =>
        val outEnc = Encoders.row(bj.resultFields.toStruct)
        lg.cogroup(rg) { (key: Row, ls: Iterator[Row], rs: Iterator[Row]) =>
          fn(key.toSeq, ls, rs).map(Row.fromSeq)
        }(outEnc)
      case Some(tap) =>
        val outStruct = bj.resultFields.toStruct
        val enc = Encoders.row(Lowering.trapOutStruct(outStruct, keySchema))
        val n = outStruct.length
        val runner = lg.cogroup(rg) { (key: Row, ls: Iterator[Row], rs: Iterator[Row]) =>
          Lowering.runTrapped(fn(key.toSeq, ls, rs), key, n)
        }(enc)
        splitJoinTrap(runner, tap, bj.leftKeys)
    }
  }

  /** Sorted-values cogroup: each side's iterator arrives in the DECLARED
    * order. `cogroupSorted` pushes the per-side ordering into the
    * shuffle's sort-based group materialization (SortCogroupExec plans a
    * (key, sortExprs) sort under each side — no per-group buffering, so
    * an arbitrarily large group streams through sorted, the property the
    * upstream comparator contract needs at scale). */
  private def lowerBufferJoinSorted(bj: BufferJoinSortedPipe): DataFrame = {
    val l = lower(bj.left); val r = lower(bj.right)
    val keySchema = bufferKeySchema(Seq(l -> bj.leftKeys, r -> bj.rightKeys))
    val keyEnc = Encoders.row(keySchema)
    val fn = bj.b
    val lKey = Lowering.keyExtractor(
      bj.leftKeys.map(k => l.columns.indexOf(k)).toArray, keySchema)
    val rKey = Lowering.keyExtractor(
      bj.rightKeys.map(k => r.columns.indexOf(k)).toArray, keySchema)
    def sortCols(s: Seq[(String, Boolean)]) =
      s.map { case (c, asc) => if (asc) col(c).asc else col(c).desc }
    val outEnc = Encoders.row(bj.resultFields.toStruct)
    l.groupByKey(lKey)(keyEnc)
      .cogroupSorted(r.groupByKey(rKey)(keyEnc))(
        sortCols(bj.leftSort): _*)(sortCols(bj.rightSort): _*) {
        (key: Row, ls: Iterator[Row], rs: Iterator[Row]) =>
          fn(key.toSeq, ls, rs).map(Row.fromSeq)
      }(outEnc)
  }

  /** Split a trap-enabled cogroup runner's output: failing key groups
    * (key values under the LEFT side's key names + the error) go to the
    * trap tap, success rows continue with the trap columns dropped. Same
    * one-materialization discipline as Buffer/Each traps. */
  private def splitJoinTrap(runner: DataFrame, tap: Tap,
                            keyNames: Seq[String]): DataFrame = {
    val persisted = frames.persist(runner)
    pendingTraps += tap -> persisted.filter(col("__trap_err").isNotNull)
      .select(keyNames.zipWithIndex.map { case (nm, i) =>
        col(s"__trap_key.k$i").as(nm) } :+ col("__trap_err"): _*)
    persisted.filter(col("__trap_err").isNull).drop("__trap_key", "__trap_err")
  }

  /** n-way BufferJoin via ordinal-tagged union + `flatMapGroups` — the same
    * n-ary design as the reference (`FFS:802-851`), expressed so the single
    * union shuffles once as UnsafeRows. Each input contributes
    * (key-struct, ordinal, its-own-row-as-struct); the group runner splits
    * the key group back into per-input iterators. Per-key groups are
    * buffered in memory (reference spills per-group; Spark bounds this by
    * group, not partition — document skewed hot keys to salting upstream). */
  private def lowerBufferJoinN(bj: BufferJoinNPipe): DataFrame = {
    val all = (bj.left -> bj.leftKeys) +: bj.others
    require(all.length == 3 || all.length == 4,
      s"bufferJoinN supports 3 or 4 inputs, got ${all.length}")
    val dfs = all.map { case (p, _) => lower(p) }
    val n = dfs.length
    val keySchema = bufferKeySchema(dfs.indices.map(i => dfs(i) -> all(i)._2))
    val tagged = dfs.zipWithIndex.map { case (df, i) =>
      val keys = all(i)._2
      val keyCol = struct(keys.zipWithIndex.map { case (k, j) =>
        col(k).cast(keySchema(j).dataType).as(s"k$j") }: _*)
      val payloads = dfs.indices.map { j =>
        if (j == i) struct(df.columns.map(col): _*).as(s"__p$j")
        else lit(null).cast(dfs(j).schema).as(s"__p$j")
      }
      df.select(keyCol.as("__key") +: lit(i).as("__tag") +: payloads: _*)
    }
    val union = tagged.reduce(_ unionByName _)
    val fn = bj.fn
    val nIn = n
    val grouped = union.groupByKey(_.getStruct(0))(Encoders.row(keySchema))
    def gather(rows: Iterator[Row]): Array[mutable.ArrayBuffer[Row]] = {
      val bufs = Array.fill(nIn)(mutable.ArrayBuffer.empty[Row])
      rows.foreach { r =>
        val tag = r.getInt(1)
        bufs(tag) += r.getStruct(2 + tag)
      }
      bufs
    }
    bj.trap match {
      case None =>
        val outEnc = Encoders.row(bj.resultFields.toStruct)
        grouped.flatMapGroups { (key: Row, rows: Iterator[Row]) =>
          fn(key.toSeq, gather(rows).toSeq.map(_.iterator)).map(Row.fromSeq)
        }(outEnc)
      case Some(tap) =>
        val outStruct = bj.resultFields.toStruct
        val enc = Encoders.row(Lowering.trapOutStruct(outStruct, keySchema))
        val resultLen = outStruct.length
        val runner = grouped.flatMapGroups { (key: Row, rows: Iterator[Row]) =>
          Lowering.runTrapped(
            fn(key.toSeq, gather(rows).toSeq.map(_.iterator)), key, resultLen)
        }(enc)
        splitJoinTrap(runner, tap, bj.leftKeys)
    }
  }
}

object Lowering {
  /** Java round-trip for CScanBuffer states — standalone so executor
    * closures referencing these don't capture the (driver-only) Lowering. */
  private[exec] def ser(s: Any): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    val oos = new java.io.ObjectOutputStream(bos)
    oos.writeObject(s); oos.close(); bos.toByteArray
  }
  private[exec] def deser(b: Array[Byte]): Any =
    new java.io.ObjectInputStream(new java.io.ByteArrayInputStream(b)).readObject()

  /** Chunk a partition's rows into runs of consecutive `__pid` values —
    * one run per original range partition, even when a downstream coalesce
    * fused several ranges into this task. Each inner iterator must be
    * consumed before requesting the next run (same contract as the Buffer
    * group runner). */
  private[exec] def pidRuns(it: Iterator[Row], pidIdx: Int): Iterator[(Int, Iterator[Row])] = {
    val b = it.buffered
    new Iterator[(Int, Iterator[Row])] {
      private var cur: Iterator[Row] = Iterator.empty
      def hasNext: Boolean = { while (cur.hasNext) cur.next(); b.hasNext }
      def next(): (Int, Iterator[Row]) = {
        while (cur.hasNext) cur.next()
        val pid = b.head.getInt(pidIdx)
        val chunk = new Iterator[Row] {
          def hasNext: Boolean = b.hasNext && b.head.getInt(pidIdx) == pid
          def next(): Row = b.next()
        }
        cur = chunk
        (pid, chunk)
      }
    }
  }

  /** Drop the trailing (`__pid`) field, restoring the user-visible schema so
    * `fieldIndex` keeps working inside CScanBuffer callbacks. */
  private[exec] def stripLast(r: Row, schema: StructType): Row =
    new org.apache.spark.sql.catalyst.expressions.GenericRowWithSchema(
      r.toSeq.dropRight(1).toArray, schema)

  /** Output schema of a trap-enabled cogroup runner: result fields +
    * the canonical key struct + the error string (both null on success). */
  private[exec] def trapOutStruct(out: StructType, keySchema: StructType): StructType =
    StructType(out.fields :+ StructField("__trap_key", keySchema) :+
      StructField("__trap_err", StringType))

  /** Run one key group's buffer-join closure under trap semantics: output
    * is forced EAGERLY so a mid-stream failure replaces the whole group's
    * output with one trap row (key struct + error) — per-GROUP semantics,
    * matching Buffer traps and the reference's cogroup gates
    * (`CoGroupBufferInGate.java:34-120`). */
  private[exec] def runTrapped(out: => Iterator[Seq[Any]], key: Row,
                               resultLen: Int): Iterator[Row] =
    try out.toVector.iterator.map(s => Row.fromSeq(s ++ Seq(null, null)))
    catch {
      case ex: Exception => Iterator.single(Row.fromSeq(
        Seq.fill[Any](resultLen)(null) :+ key :+
          (ex.getClass.getName + ": " + String.valueOf(ex.getMessage))))
    }

  /** Widening precedence of numeric key types (-1 = non-numeric). */
  private[exec] def numericRank(t: DataType): Int = t match {
    case ByteType => 0; case ShortType => 1; case IntegerType => 2
    case LongType => 3; case FloatType => 4; case DoubleType => 5
    case _ => -1
  }

  /** Row → canonical key Row for the cogroup paths: extracts the key
    * ordinals and widens boxed numerics to the canonical schema's types in
    * one indexed pass (this runs once per row on the shuffle hot path —
    * single array allocation, no intermediate collections). */
  private[exec] def keyExtractor(idx: Array[Int], schema: StructType): Row => Row = {
    val convs: Array[Any => Any] = schema.fields.map[Any => Any] { f =>
      f.dataType match {
        case LongType    => { case n: java.lang.Number => n.longValue; case v => v }
        case IntegerType => { case n: java.lang.Number => n.intValue; case v => v }
        case ShortType   => { case n: java.lang.Number => n.shortValue; case v => v }
        case ByteType    => { case n: java.lang.Number => n.byteValue; case v => v }
        case DoubleType  => { case n: java.lang.Number => n.doubleValue; case v => v }
        case FloatType   => { case n: java.lang.Number => n.floatValue; case v => v }
        case _           => identity[Any]
      }
    }
    row => {
      val arr = new Array[Any](idx.length)
      var i = 0
      while (i < idx.length) {
        val v = row.get(idx(i))
        arr(i) = if (v == null) null else convs(i)(v)
        i += 1
      }
      Row.fromSeq(scala.collection.immutable.ArraySeq.unsafeWrapArray(arr))
    }
  }
}

/** Flow facade: connect pipes to sinks and run — the `FlowConnector`/
  * `Flow.complete()` surface (`FlinkConnector.java:84-87`). */
object Flow {
  /** Plan construction only — no actions fire and no trap sinks are
    * written, with two documented exceptions that are actions by their own
    * semantics: a `scan` buffer's O(partitions) prefix barrier, and a
    * durable `checkpoint(tap)`, which writes the tap during lowering (its
    * write IS the restart barrier downstream reads from). */
  def toDF(p: Pipe)(implicit spark: SparkSession): DataFrame =
    new Lowering(spark).lower(p)

  /** As [[toDF]] with PROCESS-LEVEL properties — the Cascading
    * flow-process config every `withConfig*` scope layers over (REPLACE
    * scopes override these; DEFAULT scopes yield to them). */
  def toDF(p: Pipe, processConfig: Map[String, String])
          (implicit spark: SparkSession): DataFrame =
    new Lowering(spark, processConfig = processConfig).lower(p)

  def write(p: Pipe, sink: Tap, mode: SinkMode = SinkMode.Replace)
           (implicit spark: SparkSession): Unit =
    writeAll(Seq((p, sink, mode)))

  /** Multi-sink flow: lowers the shared DAG once (memoized splits). Trap
    * sinks registered during lowering are written AFTER the main sinks —
    * this is the flow-execution point the reference's `Flow.complete()`
    * marks — then every frame the flow materialized is released. Failure
    * policy: if any main sink write throws, trap sinks are NOT written
    * (the flow failed; partial trap output beside incomplete success
    * sinks would read as a completed flow) but the frames ARE always
    * released, so a failed flow leaves nothing cached behind. */
  def writeAll(sinks: Seq[(Pipe, Tap, SinkMode)])(implicit spark: SparkSession): Unit = {
    val lowering = new Lowering(spark)
    try {
      sinks.foreach { case (p, t, m) => t.write(lowering.lower(p), m) }
      lowering.flushTraps()
    } finally lowering.frames.close()
  }

  /** Lower + flush trap sinks eagerly, returning the success-side relation
    * — for callers that consume the result as a DataFrame (instead of
    * writing it to a tap) but still need trap sinks materialized. The
    * returned relation reads the persisted split intermediates, so they
    * stay cached for the session; prefer `write`/`writeAll` (which release
    * them) for production flows, or drive a `Lowering` directly and close
    * its `frames` once the result is consumed. */
  def toDFWithTraps(p: Pipe)(implicit spark: SparkSession): DataFrame = {
    val lowering = new Lowering(spark)
    val df = lowering.lower(p)
    lowering.flushTraps()
    df
  }

  /** Execute ONLY the trap side of a flow: lower, write the trap sinks, and
    * release every frame. For callers that consume the trap output
    * (already durable in its taps) rather than the success relation. */
  def materializeTraps(p: Pipe)(implicit spark: SparkSession): Unit = {
    val lowering = new Lowering(spark)
    try {
      lowering.lower(p)
      lowering.flushTraps()
    } finally lowering.frames.close()
  }
}
