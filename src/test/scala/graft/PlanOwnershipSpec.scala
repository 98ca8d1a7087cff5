package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.{Callable, Executors}
import java.util.concurrent.atomic.AtomicReference
import scala.jdk.CollectionConverters._
import graft.exec.SessionConf

/** Plans carry their own join strategy and partitioning: no query
  * shapes a plan by writing session conf, so the plan that runs at a
  * sink is the plan its contract checked, and queries sharing a session
  * cannot see each other's settings. */
class PlanOwnershipSpec extends SparkSpec {
  /** Every query whose shuffled-join shape is pinned by a `merge` join
    * hint instead of a broadcast-off conf block. */
  private val Hinted = Seq(
    "q72_bucketed_join", "q127_incremental_neardup", "q141_bloom_semijoin",
    "q142_snapshot_upsert", "q145_snapshot_diff", "q159_sb_fluency_indexed",
    "q180_winnow_index", "q187_winnow_incremental",
    "q191_image_dhash_index", "q194_winnow_index_wide",
    "q196_winnow_incremental_wide", "q198_band_index_wide",
    "q199_semdedup_incremental", "q200_stream_winnow_families",
    "q205_index_compaction", "q216_compact_pingpong",
    "q265_video_keyframe_index", "q273_bigram_bits_indexed",
    "q274_kneser_ney_indexed", "q281_unigram_em_segment",
    "q282_unigram_frozen_arrival", "q283_nb_posterior",
    "q284_nb_frozen_arrival", "q287_unigram_salted", "q290_countmin",
    "q291_cms_arrival", "q293_tokenize_and_pack", "q297_cms_window",
    "q301_cms_decayed")

  /** Join operators and hash exchanges of a plan's text — of the final
    * plan once an adaptive plan has run. */
  private def shape(plan: String): Map[String, Int] = {
    val p = plan.split("== Initial Plan ==").head
    Seq("SortMergeJoin", "BroadcastHashJoin", "BroadcastNestedLoopJoin",
        "CartesianProduct", "Exchange hashpartitioning\\(")
      .map(k => k -> k.r.findAllMatchIn(p).size).toMap
  }

  test("each hinted query's sink runs the join shape its asserts checked") {
    Hinted.foreach { q =>
      val df = SparkEntry.queries(q)(spark, sf())
      val built = shape(df.queryExecution.executedPlan.toString)
      // a sink plans the query's logical plan afresh, as Verify's write
      // and the bench's noop write do
      val sink = df.select("*")
      sink.collect()
      val ran = shape(sink.queryExecution.executedPlan.toString)
      assert(ran == built, s"$q: asserts checked $built, the sink ran $ran")
    }
  }

  test("q288 releases its model frame before it returns") {
    def held = spark.sparkContext.getPersistentRDDs.keySet
    val before = held
    val df = SparkEntry.queries("q288_nb_kernel")(spark, sf())
    assert((held -- before).isEmpty, "q288 left persistent RDDs behind")
    assert(df.count() > 0)
  }

  /** Run `queries` concurrently on the one session in 3 rounds: each
    * round's result must match the query's single run, and none of the
    * session confs `keys` may change while they run. */
  private def concurrentRuns(queries: Seq[String], keys: Seq[String]): Unit = {
    def conf = keys.map(k => spark.conf.getOption(k))
    def rows(q: String): Seq[String] =
      SparkEntry.queries(q)(spark, sf()).collect().map(_.toString).toSeq.sorted
    val expected = queries.map(q => q -> rows(q)).toMap
    val initial = conf
    val changed = new AtomicReference[Option[Seq[Option[String]]]](None)
    @volatile var polling = true
    val poller = new Thread(() =>
      while (polling) {
        val now = conf
        if (now != initial) changed.compareAndSet(None, Some(now))
        Thread.sleep(1)
      })
    poller.start()
    val pool = Executors.newFixedThreadPool(queries.size)
    try (1 to 3).foreach { round =>
      val runs = queries.map(q =>
        q -> pool.submit(new Callable[Seq[String]] { def call() = rows(q) }))
      runs.foreach { case (q, run) =>
        assert(run.get() == expected(q), s"$q differs in concurrent round $round")
      }
    } finally {
      polling = false
      poller.join()
      pool.shutdown()
    }
    assert(changed.get.isEmpty, s"conf changed mid-run: $initial -> ${changed.get}")
  }

  test("q186 and q127 run concurrently on one session: each matches its " +
       "single run, and no session conf they used to toggle changes") {
    concurrentRuns(Seq("q186_winnow_clusters", "q127_incremental_neardup"),
      Seq("spark.sql.adaptive.enabled", "spark.sql.autoBroadcastJoinThreshold"))
  }

  test("q300 and q52 run concurrently on one session: each matches its " +
       "single run, and neither toggles bucketed scans or ANSI") {
    concurrentRuns(Seq("q300_bm25_from_index", "q52_trap"),
      Seq("spark.sql.sources.bucketing.autoBucketedScan.enabled",
        "spark.sql.ansi.enabled"))
  }

  test("Frames.partitioned declares the partitioning its exchange " +
       "reports: SinglePartition for one partition, else HashPartitioning") {
    import org.apache.spark.sql.catalyst.expressions.Attribute
    import org.apache.spark.sql.catalyst.plans.physical.{HashPartitioning,
      SinglePartition}
    import org.apache.spark.sql.execution.LogicalRDD
    import org.apache.spark.sql.functions.col
    val df = spark.range(100).select(col("id"), (col("id") % 7).as("k"))
    def declared(n: Int) = graft.exec.Frames { f =>
      f.partitioned(df, n, col("k")).queryExecution.analyzed
        .asInstanceOf[LogicalRDD].outputPartitioning
    }
    assert(declared(1) == SinglePartition)
    assert(declared(4) match {
      case HashPartitioning(Seq(k: Attribute), 4) => k.name == "k"
      case _ => false
    })
  }

  test("SessionConf.scoped restores the key when the body fails") {
    val key = "spark.sql.ansi.enabled"
    val prev = spark.conf.get(key)
    intercept[IllegalStateException] {
      SessionConf.scoped(spark, key, (!prev.toBoolean).toString) {
        assert(spark.conf.get(key) != prev)
        throw new IllegalStateException("body failed")
      }
    }
    assert(spark.conf.get(key) == prev)
  }

  /** `file:line: text` of each line of the `.scala` files in these
    * `graft` packages (`""` for `graft` itself) that `pattern` matches. */
  private def sourceLines(pkgs: Seq[String], pattern: String): Seq[String] = {
    val root = Paths.get("src/main/scala/graft")
    pkgs.flatMap { pkg =>
      Files.list(root.resolve(pkg)).iterator.asScala
        .filter(_.toString.endsWith(".scala"))
        .flatMap(p => Files.readAllLines(p).asScala.zipWithIndex.collect {
          case (line, i) if pattern.r.findFirstIn(line).isDefined =>
            s"$p:${i + 1}: ${line.trim}"
        })
    }
  }

  // the scan covers graft.streaming too
  test("no session conf is written in graft.{exec,functions,queries} " +
       "outside SessionConf") {
    val offenders = sourceLines(
      Seq("exec", "functions", "queries", "streaming"),
      "\\.conf\\.(set|unset)\\(")
      .filterNot(_.contains("/SessionConf.scala:"))
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }

  test("SessionConf.scoped is called only from graft.streaming") {
    val offenders = sourceLines(Seq("", "catalyst", "exec", "functions",
        "model", "operators", "pipes", "queries", "sources", "streaming",
        "tools"), "SessionConf\\.scoped\\(")
      .filterNot(_.contains("/streaming/"))
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }

  test("graft.queries and graft.functions read plans only through " +
       "PlanContract and hold frames only in Frames scopes") {
    val plans = sourceLines(Seq("queries", "functions"),
      "executedPlan|SelectedBucketsCount")
    // `f` is a Frames scope's handle
    val frames = sourceLines(Seq("queries"), "(?<!\\bf)\\.(un)?persist\\(")
    assert(plans.isEmpty && frames.isEmpty, (plans ++ frames).mkString("\n"))
  }

  test("every parquet input reads through graft.sources.Parquet") {
    val offenders = sourceLines(Seq("", "catalyst", "exec", "functions",
        "model", "operators", "pipes", "queries", "sources", "streaming", "tools"),
      "\\.read(\\.\\w+\\([^)]*\\))*\\.(parquet\\(|format\\(\"parquet\"\\))")
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }

  test("graft.queries runs every stream through StreamOps and names " +
       "per-process staging only through Tables.processLocal") {
    val streams = sourceLines(Seq("queries"), "\\.writeStream\\b")
    val pids = sourceLines(Seq("queries"), "ProcessHandle\\.current")
    assert(streams.isEmpty &&
      pids.size == 1 && pids.head.contains("/Tables.scala:"),
      s"${streams.size} writeStream, ${pids.size} pid sites:\n" +
        (streams ++ pids).mkString("\n"))
  }
}
