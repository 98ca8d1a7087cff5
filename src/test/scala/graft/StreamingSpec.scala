package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.streaming.StreamOps

/** Structured Streaming variants: windowed aggregation parity with the
  * batch query, and stateful sessionization. */
class StreamingSpec extends SparkSpec {
  import spark.implicits._

  test("streaming windowed agg matches the batch tumbling-window result") {
    // stage a small parquet copy (streaming needs a directory source)
    val dir = java.nio.file.Files.createTempDirectory("stream_in").toString
    val ev = graft.queries.Tables.events(spark, sf())
    ev.write.mode("overwrite").parquet(dir)
    val schema = ev.schema

    val stream = StreamOps.windowedCounts(
      StreamOps.readStream(spark, dir, schema), "ts", "event_type",
      "1 hour", "2 hours")
    // Complete mode: append would hold back windows the watermark hasn't
    // closed yet (the trailing 2h), which is exactly the parity gap with
    // a bounded batch query.
    StreamOps.runToMemory(stream, "win_out",
      org.apache.spark.sql.streaming.OutputMode.Complete)
    val streamed = spark.table("win_out")
      .select("w_start", "event_type", "n", "sum_value")
      .collect().map(_.toSeq).toSet

    val batch = graft.queries.Extensions.queries("q31_stream_window")(spark, sf())
      .collect().map(_.toSeq).toSet
    assert(streamed == batch)
  }

  test("sliding windows: each event lands in exactly len/slide window instances") {
    val dir = java.nio.file.Files.createTempDirectory("stream_slide").toString
    val ev = graft.queries.Tables.events(spark, sf())
      .select(col("ts"), col("event_type"), col("value"))
    ev.write.mode("overwrite").parquet(dir)

    val stream = StreamOps.slidingCounts(
      StreamOps.readStream(spark, dir, ev.schema), "ts", "event_type",
      "2 hours", "1 hour", "4 hours")
    StreamOps.runToMemory(stream, "slide_out",
      org.apache.spark.sql.streaming.OutputMode.Complete)
    val streamed = spark.table("slide_out").collect().map(_.toSeq).toSet

    // batch unroll of the window generator: hour-floor and hour-floor − 1h
    val unrolled = ev
      .withColumn("k", explode(array(lit(0), lit(1))))
      .select((date_trunc("hour", col("ts")).cast("long")
        - col("k") * 3600).cast("timestamp").as("w_start"),
        col("event_type"), col("value"))
      .groupBy("w_start", "event_type")
      .agg(count(lit(1)).as("n"),
        graft.catalyst.ExactMicrosSum.sum(col("value")).as("sum_value"))
      .collect().map(_.toSeq).toSet
    assert(streamed == unrolled)
    // conservation: total weighted rows = 2 × event count
    val n = ev.count()
    assert(spark.table("slide_out").agg(sum("n")).head().getLong(0) == 2 * n)
  }

  test("streaming dedup drops repeated content within the watermark") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[(java.sql.Timestamp, String)]
    val df = input.toDF().toDF("ts", "text")
    val q = StreamOps.dedupStream(df, "ts", "text", "1 hour")
      .writeStream.outputMode("append").format("memory")
      .queryName("dedup_out").start()
    try {
      val t0 = new java.sql.Timestamp(1700000000000L)
      input.addData((t0, "Hello  World"), (t0, "hello world"), (t0, "other"))
      q.processAllAvailable()
      // normalized variants collapse to one survivor
      assert(spark.table("dedup_out").count() == 2)
    } finally q.stop()
  }

  test("stream-stream join matches within the delay bound and evicts beyond it") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val purchases = MemoryStream[(Long, java.sql.Timestamp)]
    val views = MemoryStream[(Long, java.sql.Timestamp)]
    val joined = StreamOps.streamStreamJoin(
      purchases.toDF().toDF("p_user", "p_ts"),
      views.toDF().toDF("v_user", "v_ts"),
      "p_user", "v_user", "p_ts", "v_ts",
      watermark = "1 hour", maxDelaySeconds = 600)
    val q = joined.writeStream.outputMode("append").format("memory")
      .queryName("ssj_out").start()
    try {
      def ts(s: Long) = new java.sql.Timestamp(1700000000000L + s * 1000)
      views.addData((1L, ts(0)), (1L, ts(100)), (2L, ts(0)))
      purchases.addData((1L, ts(300)), (2L, ts(700)))
      q.processAllAvailable()
      val got = spark.table("ssj_out")
        .select("p_user", "v_ts").collect()
        .map(r => (r.getLong(0), r.getTimestamp(1))).toSet
      // user 1 purchase@300 matches views @0 and @100 (within 600 s);
      // user 2 purchase@700 does NOT match view@0 (beyond the bound)
      assert(got == Set((1L, ts(0)), (1L, ts(100))))
    } finally q.stop()
  }

  test("stateful sessionization closes a session when the gap is exceeded") {
    import StreamOps._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[SessionEvent]
    val q = sessionize(input.toDS(), gapSeconds = 1800)
      .writeStream.outputMode("append").format("memory")
      .queryName("sess_out").start()
    try {
      input.addData(
        SessionEvent(1L, new java.sql.Timestamp(0L), 1.0),
        SessionEvent(1L, new java.sql.Timestamp(60 * 1000L), 2.0))
      q.processAllAvailable()
      assert(spark.table("sess_out").count() == 0) // session still open
      // an event far beyond the gap closes the previous session
      input.addData(SessionEvent(1L, new java.sql.Timestamp(2 * 3600 * 1000L), 5.0))
      q.processAllAvailable()
      val closed = spark.table("sess_out").collect()
      assert(closed.length == 1)
      val r = closed.head
      assert(r.getAs[Long]("n_events") == 2L)
      assert(r.getAs[Double]("sum_value") == 3.0)
      assert(r.getAs[java.sql.Timestamp]("end_ts").getTime == 60 * 1000L)
    } finally q.stop()
  }

  test("cross-batch out-of-order: in-gap stragglers merge, beyond-gap emit singleton") {
    import StreamOps.{sessionize, SessionEvent}
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    def ts(sec: Long) = new java.sql.Timestamp(sec * 1000L)
    val input = MemoryStream[SessionEvent]
    val q = sessionize(input.toDS(), gapSeconds = 1800)
      .writeStream.outputMode("append").format("memory")
      .queryName("sess_ooo").start()
    try {
      // batch 1 opens a session [1000s, 1600s]
      input.addData(SessionEvent(1L, ts(1000), 1.0), SessionEvent(1L, ts(1600), 2.0))
      q.processAllAvailable()
      // batch 2 delivers a LATE event at 200s — within the gap of the open
      // session's start (1000-200 <= 1800), so it merges and extends start
      input.addData(SessionEvent(1L, ts(200), 4.0))
      q.processAllAvailable()
      assert(spark.table("sess_ooo").count() == 0) // still one open session
      // batch 3 closes it with a far-future event
      input.addData(SessionEvent(1L, ts(4 * 3600), 9.0))
      q.processAllAvailable()
      val closed = spark.table("sess_ooo").collect()
      assert(closed.length == 1)
      assert(closed.head.getAs[Long]("n_events") == 3L)
      assert(closed.head.getAs[Double]("sum_value") == 7.0)
      assert(closed.head.getAs[java.sql.Timestamp]("start_ts").getTime == 200 * 1000L)
      assert(closed.head.getAs[java.sql.Timestamp]("end_ts").getTime == 1600 * 1000L)
      // batch 4: a straggler older than the open session by more than the
      // gap — its true session was already emitted; policy = closed
      // singleton (append sinks cannot retract)
      input.addData(SessionEvent(1L, ts(100), 1.5))
      q.processAllAvailable()
      val rows = spark.table("sess_ooo").collect().sortBy(_.getAs[java.sql.Timestamp]("start_ts").getTime)
      assert(rows.length == 2)
      assert(rows.head.getAs[Long]("n_events") == 1L)
      assert(rows.head.getAs[Double]("sum_value") == 1.5)
      assert(rows.head.getAs[java.sql.Timestamp]("start_ts").getTime == 100 * 1000L)
    } finally q.stop()
  }

  test("the stream runner plans with 8 shuffle partitions and restores " +
       "the session's count, also when a foreachBatch body throws") {
    val key = "spark.sql.shuffle.partitions"
    val prev = spark.conf.get(key)
    assert(prev != "8")
    val tmp = java.nio.file.Files.createTempDirectory("stream_runner")
    val in = tmp.resolve("in").toString
    spark.range(20).toDF("id").coalesce(1).write.parquet(in)
    def stream = StreamOps.readStream(spark, in,
      new StructType().add("id", LongType))
    def recorded(chk: String): String =
      new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(chk, "offsets", "0")), "UTF-8")

    val (out, chk) = (tmp.resolve("out").toString, tmp.resolve("chk").toString)
    StreamOps.runToParquet(stream, out, chk)
    assert(recorded(chk).contains(s""""$key":"8""""), recorded(chk))
    assert(spark.conf.get(key) == prev)
    assert(spark.read.parquet(out).count() == 20L)

    val failChk = tmp.resolve("fail_chk").toString
    var inBody: Option[String] = None
    intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      StreamOps.runForeachBatch(stream, failChk) { (_, _) =>
        inBody = spark.conf.getOption(key)
        throw new IllegalStateException("batch body failed")
      }
    }
    // the parent session holds the count while the body plans its jobs
    assert(inBody.contains("8"))
    assert(recorded(failChk).contains(s""""$key":"8""""))
    assert(spark.conf.get(key) == prev)
  }
}
