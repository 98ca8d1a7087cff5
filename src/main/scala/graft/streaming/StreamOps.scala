package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.streaming.{DataStreamWriter, GroupState, GroupStateTimeout, OutputMode, StreamingQuery, Trigger}
import graft.exec.SessionConf

/** Structured Streaming variants of the engine's aggregation operators.
  *
  * The reference is batch-only (Flink DataSet API, no DataStream —
  * SURVEY.md §2.8), so everything here is extension surface: the same
  * logical ops (`Each` → select/filter, windowed `GroupBy`+`Every` →
  * watermark + window agg, sessionization → `flatMapGroupsWithState`)
  * expressed against an unbounded source.
  */
object StreamOps {

  /** Open a file-backed stream with an explicit schema (streaming sources
    * cannot infer). `options` pass through to the file source — e.g.
    * `maxFilesPerTrigger -> "1"` to process staged files as separate
    * micro-batches (the multi-batch stateful tests/queries use this). */
  def readStream(spark: SparkSession, path: String, schema: StructType,
                 options: Map[String, String] = Map.empty): DataFrame =
    spark.readStream.options(options).schema(schema).parquet(path)

  /** Tumbling event-time window aggregation with a watermark for state
    * eviction — the streaming form of the batch q31 window query. State is
    * bounded by (watermark horizon / window size) × key cardinality. */
  def windowedCounts(events: DataFrame, tsCol: String, keyCol: String,
                     windowLen: String, watermark: String,
                     valueCol: Option[String] = Some("value")): DataFrame = {
    val base = events
      .withWatermark(tsCol, watermark)
      .groupBy(window(col(tsCol), windowLen).as("w"), col(keyCol))
    val out = valueCol match {
      case Some(v) => base.agg(count(lit(1)).as("n"),
        // exact int128-micros kernel: value-identical to the decimal(38,6)
        // sum, and its two-long buffer keeps streaming state compact
        graft.catalyst.ExactMicrosSum.sum(col(v)).as("sum_value"))
      case None => base.agg(count(lit(1)).as("n"))
    }
    out.select(col("w.start").as("w_start") +: col(keyCol) +: col("n") +:
      valueCol.toSeq.map(_ => col("sum_value")): _*)
  }

  /** SLIDING event-time windows: each event lands in windowLen/slide
    * overlapping windows (Spark's `window(ts, len, slide)` generator).
    * Same watermark-bounded state as the tumbling form, ×(len/slide)
    * window instances per key — the slide ratio is the state/throughput
    * knob at scale (each input row is expanded len/slide times BEFORE the
    * shuffle, so a 12× overlap means a 12× shuffle volume: keep the ratio
    * small on a fat stream, or pre-aggregate to tumbling slide-sized
    * panes and roll up). */
  def slidingCounts(events: DataFrame, tsCol: String, keyCol: String,
                    windowLen: String, slide: String, watermark: String,
                    valueCol: String = "value"): DataFrame =
    events
      .withWatermark(tsCol, watermark)
      .groupBy(window(col(tsCol), windowLen, slide).as("w"), col(keyCol))
      .agg(count(lit(1)).as("n"),
        graft.catalyst.ExactMicrosSum.sum(col(valueCol)).as("sum_value"))
      .select(col("w.start").as("w_start"), col(keyCol), col("n"),
        col("sum_value"))

  case class SessionEvent(user_id: Long, ts: java.sql.Timestamp, value: Double)
  /** State in MICROSECOND timestamps and exact decimal(·,6) micro sums, so
    * session output is batch-exact: timestamps keep parquet's micro
    * precision (`Timestamp.getTime` would truncate to ms) and the sum is
    * order-independent (the `ExactMicrosSum` representation). */
  case class SessionState(startUs: Long, lastUs: Long, n: Long, sumMicros: Long)
  case class SessionOut(user_id: Long, start_ts: java.sql.Timestamp,
                        end_ts: java.sql.Timestamp, n_events: Long, sum_value: Double)

  private def toMicros(ts: java.sql.Timestamp): Long = {
    val i = ts.toInstant
    i.getEpochSecond * 1000000L + i.getNano / 1000L
  }
  private def fromMicros(us: Long): java.sql.Timestamp =
    java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(
      Math.floorDiv(us, 1000000L), Math.floorMod(us, 1000000L) * 1000L))
  private def sessionOut(userId: Long, s: SessionState): SessionOut =
    SessionOut(userId, fromMicros(s.startUs), fromMicros(s.lastUs), s.n,
      graft.catalyst.Micros.toDouble(if (s.sumMicros < 0) -1L else 0L, s.sumMicros))

  /** Gap-based sessionization with custom state — the streaming counterpart
    * of the batch q29 query, and BATCH-EXACT: the gap compares second-
    * truncated epochs (matching `unix_timestamp`/`date_diff('second')` in
    * the batch form and the DuckDB oracle), and the value sum accumulates
    * exact decimal micros, so a closed session's row is bit-identical to
    * the batch aggregation. A session closes when a later event for the
    * same key arrives beyond the gap; with `ProcessingTimeTimeout` it also
    * closes after `gapSeconds` of silence (note: timeout mode makes the
    * micro-batch engine schedule continuous timeout-check batches — use
    * `NoTimeout` for deterministic replay/testing).
    *
    * State carries across micro-batches, so a session spanning several
    * batches aggregates correctly. Out-of-order policy: within a batch,
    * events are sorted before folding; ACROSS batches, a late event that
    * lands within the gap of the OPEN session's [start, end] envelope
    * merges into it (extending either end — the open session's membership
    * is exactly what the batch computation would produce, since merging is
    * commutative over min/max/count/exact-sum); a late event older than
    * the open session by more than the gap belongs to a session already
    * emitted downstream — an append-mode sink cannot retract, so it is
    * emitted as its own closed singleton session (the standard late-data
    * side-output trade; bound lateness upstream with a watermark if those
    * rows must not appear). */
  def sessionize(events: org.apache.spark.sql.Dataset[SessionEvent],
                 gapSeconds: Long,
                 timeout: GroupStateTimeout = GroupStateTimeout.NoTimeout)
      : org.apache.spark.sql.Dataset[SessionOut] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, timeout)(
        (userId: Long, evs: Iterator[SessionEvent], state: GroupState[SessionState]) => {
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator.single(sessionOut(userId, s))
          } else {
            var closed = List.empty[SessionOut]
            var cur = state.getOption
            evs.toSeq.sortBy(e => toMicros(e.ts)).foreach { e =>
              val t = toMicros(e.ts)
              // NaN/±Inf: the batch convention casts them to null and the
              // sum skips them (the event still counts / extends the
              // session). Divergence note: a session whose values are ALL
              // non-finite sums to 0.0 here vs NULL in batch SQL.
              val vMicros =
                if (java.lang.Double.isNaN(e.value) ||
                    java.lang.Double.isInfinite(e.value)) 0L
                else graft.catalyst.Micros.compute(e.value)
              def sec(us: Long) = Math.floorDiv(us, 1000000L)
              cur match {
                // in (or gap-adjacent to) the open session's envelope:
                // merge, extending either end — covers both the in-order
                // append and a cross-batch late event
                case Some(s) if sec(t) - sec(s.lastUs) <= gapSeconds &&
                                sec(s.startUs) - sec(t) <= gapSeconds =>
                  cur = Some(SessionState(math.min(s.startUs, t),
                    math.max(s.lastUs, t), s.n + 1, s.sumMicros + vMicros))
                // gap-separated LATER event: close the open session
                case Some(s) if sec(t) > sec(s.lastUs) =>
                  closed ::= sessionOut(userId, s)
                  cur = Some(SessionState(t, t, 1, vMicros))
                // late event beyond the gap BEFORE the open session: its
                // true session was already emitted — emit as its own
                // closed singleton (append sinks cannot retract)
                case Some(_) =>
                  closed ::= sessionOut(userId, SessionState(t, t, 1, vMicros))
                case None =>
                  cur = Some(SessionState(t, t, 1, vMicros))
              }
            }
            cur.foreach { s =>
              state.update(s)
              if (timeout == GroupStateTimeout.ProcessingTimeTimeout)
                state.setTimeoutDuration(gapSeconds * 1000)
            }
            closed.reverseIterator
          }
        })
  }

  /** Watermarked stream-stream inner join: each left event matches right
    * events for the same key whose timestamp falls in
    * `[leftTs - maxDelaySeconds, leftTs]` — the streaming form of the as-of
    * family (enrich purchases with recent views). Both sides carry
    * watermarks plus the time-range condition, which is what lets Spark
    * evict join state — without the range bound, state grows forever. Column
    * names must be disjoint apart from the key. */
  def streamStreamJoin(left: DataFrame, right: DataFrame,
                       leftKey: String, rightKey: String,
                       leftTs: String, rightTs: String,
                       watermark: String, maxDelaySeconds: Long): DataFrame = {
    require((left.columns.toSet & right.columns.toSet).isEmpty,
      "stream-stream join requires disjoint column names; rename first")
    val l = left.withWatermark(leftTs, watermark)
    val r = right.withWatermark(rightTs, watermark)
    l.join(r, expr(
      s"""$leftKey = $rightKey AND
         |$rightTs >= $leftTs - INTERVAL $maxDelaySeconds SECONDS AND
         |$rightTs <= $leftTs""".stripMargin), "inner")
  }

  /** Streaming exact dedup: drop documents whose normalized content hash
    * was already seen, with state bounded by the watermark horizon — the
    * streaming form of `Dedup.exactDedup` for continuous ingestion
    * pipelines. */
  def dedupStream(docs: DataFrame, tsCol: String, textCol: String,
                  watermark: String): DataFrame =
    docs
      .withColumn("__content_hash",
        graft.functions.Dedup.contentHash(col(textCol)))
      .withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark("__content_hash")
      .drop("__content_hash")

  /** Shuffle partitions every stream here plans with. Stateful streaming
    * cost at fixed data volume is dominated by per-partition state-store
    * commits (each micro-batch writes every partition's store delta and
    * checkpoint), so the count tracks the state size, not the session's
    * batch-shuffle default: 32 partitions of near-empty state quadruple
    * the commit I/O of 8 with no parallelism benefit. The count is baked
    * into the checkpoint at the first start, so a changed count needs a
    * fresh checkpoint. */
  private val Partitions = "8"

  /** Hold [[Partitions]] shuffle partitions while `body` runs: from a
    * stream's `start()` until it has terminated, because a foreachBatch
    * body plans its batch jobs on the parent session while the stream
    * runs. The one place a stream sets session conf. */
  private def streamPartitions[T](s: SparkSession)(body: => T): T =
    SessionConf.scoped(s, "spark.sql.shuffle.partitions", Partitions)(body)

  /** Start `ds` through the configured writer with checkpoint `chk`;
    * `await` decides when the run ends, and the query is stopped on every
    * exit path. */
  private def running[T, R](ds: Dataset[T], chk: String, trigger: Trigger)(
      configure: DataStreamWriter[T] => DataStreamWriter[T])(
      await: StreamingQuery => R): R = {
    val q = configure(ds.writeStream)
      .option("checkpointLocation", chk).trigger(trigger).start()
    try await(q) finally q.stop()
  }

  /** Run the stream to completion under `Trigger.AvailableNow`. */
  private def run[T](ds: Dataset[T], chk: String)(
      configure: DataStreamWriter[T] => DataStreamWriter[T]): StreamingQuery =
    streamPartitions(ds.sparkSession) {
      running(ds, chk, Trigger.AvailableNow())(configure) { q =>
        q.awaitTermination()
        q
      }
    }

  private def parquetAppend[T](out: String)(w: DataStreamWriter[T]) =
    w.outputMode(OutputMode.Append).format("parquet").option("path", out)

  /** Stream everything available into parquet files under `out`
    * (Append), checkpointed at `chk`, and block until done. */
  def runToParquet[T](ds: Dataset[T], out: String,
                      chk: String): StreamingQuery =
    run(ds, chk)(parquetAppend(out))

  /** Hand each micro-batch of everything available to `body`, in batch
    * order, checkpointed at `chk`, and block until done. A failing body
    * fails the run. */
  def runForeachBatch[T](ds: Dataset[T], chk: String)(
      body: (Dataset[T], Long) => Unit): StreamingQuery =
    run(ds, chk)(_.foreachBatch(body))

  /** Run a streaming query into an in-memory table and block until the
    * available data is fully processed (test/driver harness). */
  def runToMemory(df: DataFrame, name: String,
                  mode: OutputMode = OutputMode.Append): StreamingQuery =
    run(df, graft.queries.Tables.stagedDir(s"graft_${name}_chk"))(
      _.outputMode(mode).format("memory").queryName(name))

  /** Batches committed under checkpoint `chk`. */
  def commits(chk: String): Int =
    Option(new java.io.File(s"$chk/commits").listFiles()).toSeq.flatten
      .count(_.getName.forall(_.isDigit))

  /** Kill-and-resume over ONE checkpoint, streaming `stream()` into
    * parquet under `out` (Append). Run 1 runs on a live ProcessingTime
    * trigger until at least 2 batches have committed (so it stays up
    * after catching up) and is then stopped; `stageRest` stages the
    * remaining input; run 2 — a new query from a fresh `stream()` on the
    * same checkpoint — processes it under AvailableNow. Returns run 1's
    * commit count; more commits afterwards show run 2 processed batches
    * of its own. */
  def killAndResume[T](stream: () => Dataset[T], out: String, chk: String)(
      stageRest: => Unit): Int = {
    val first = stream()
    streamPartitions(first.sparkSession) {
      val run1 = running(first, chk,
          Trigger.ProcessingTime("200 milliseconds"))(parquetAppend(out)) { q =>
        val deadline = System.nanoTime + 120L * 1000000000L
        while (commits(chk) < 2 && System.nanoTime < deadline) Thread.sleep(100)
        q.stop(); q.awaitTermination()
        commits(chk)
      }
      require(run1 >= 2, s"run 1 committed only $run1 batches before the kill")
      stageRest
      running(stream(), chk, Trigger.AvailableNow())(parquetAppend(out))(
        _.awaitTermination())
      run1
    }
  }

  // ---- streaming EWMA (custom ordered-fold state machine) ----------------

  case class EwmaEvent(user_id: Long, ts: java.sql.Timestamp,
                       event_id: Long, vm: Long)
  case class EwmaState(n: Long, ewma: Long)
  case class EwmaOut(user_id: Long, n_events: Long, ewma_micros: Long)

  /** Per-user exponential smoothing (α = ½, exact integer halving) as a
    * CROSS-BATCH ordered fold: state carries (n, ewma) between
    * micro-batches, each batch's events fold in (ts, event_id) order, and
    * a row at/after `sentinelUs` CLOSES the user — emitting the final
    * (n, ewma) and clearing state (the q67 sentinel-close discipline;
    * append sinks cannot retract, so nothing is emitted until the close).
    * ORDERING CONTRACT: batches must arrive in event-time order per user
    * (time-sliced staging or an upstream watermark sort) — the fold is
    * order-sensitive, unlike the commutative session merge above. */
  def ewmaFold(events: org.apache.spark.sql.Dataset[EwmaEvent],
               sentinelUs: Long)
      : org.apache.spark.sql.Dataset[EwmaOut] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        (uid: Long, evs: Iterator[EwmaEvent], state: GroupState[EwmaState]) => {
          var st = state.getOption.getOrElse(EwmaState(0L, 0L))
          var out = List.empty[EwmaOut]
          var closed = false
          evs.toSeq.sortBy(e => (toMicros(e.ts), e.event_id)).foreach { e =>
            if (toMicros(e.ts) >= sentinelUs) {
              if (st.n > 0L) out ::= EwmaOut(uid, st.n, st.ewma)
              closed = true
            } else if (!closed) {
              st = EwmaState(st.n + 1L,
                if (st.n == 0L) e.vm else Math.floorDiv(st.ewma + e.vm, 2L))
            }
          }
          if (closed) state.remove() else state.update(st)
          out.iterator
        })
  }
}
