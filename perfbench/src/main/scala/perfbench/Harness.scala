package perfbench

import scala.collection.immutable.ListMap
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The benchmark's JVM side: a single-process, closed-loop runner over the
  * flows registered in `graft.SparkEntry.queries`. `perfbench/run.py`
  * starts it and turns its run record into the reported metrics.
  *
  * Arguments are `key=value`:
  *  - mode: `bench` (time the flows) or `record` (write each flow's output
  *    and digest, to produce the expected digests);
  *  - flows: comma-separated registry names;
  *  - data: table directory of the timed passes; warm_data: table
  *    directory of the untimed warm passes, a different input, so that no
  *    result kept from a warm pass can serve a timed pass; warm_passes:
  *    how many warm passes run;
  *  - cpus, seed, passes (timed passes), trace (0|1), t0_us (process
  *    start, epoch µs);
  *  - scratch: per-run directory for warehouse, staging and probe files;
  *  - record: run-record path (JSON lines); spans: span file (trace only);
  *  - out: output directory (record mode only).
  */
object Harness {
  type Flow = (SparkSession, String) => DataFrame

  def main(args: Array[String]): Unit = {
    val o = args.map { a =>
      val i = a.indexOf('=')
      require(i > 0, s"argument '$a' is not key=value")
      a.take(i) -> a.drop(i + 1)
    }.toMap
    val cpus = o("cpus").toInt
    val scratch = o("scratch")
    val rec = new Record(o("record"))
    val spark = session(cpus, scratch)
    graft.catalyst.GraftExtensions.register(spark)
    val registry = graft.SparkEntry.queries
    val flows = o("flows").split(",").toSeq.map { f =>
      f -> registry.getOrElse(f, throw new IllegalArgumentException(s"unknown flow $f"))
    }
    try o("mode") match {
      case "bench" => bench(spark, rec, flows, o, cpus)
      case "record" => record(spark, rec, flows, o("data"), o("out"))
      case m => throw new IllegalArgumentException(s"unknown mode $m")
    } finally spark.stop()
  }

  /** The session confs of `graft.Bench`, with every path under `scratch`. */
  private def session(cpus: Int, scratch: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", s"$scratch/warehouse")
      .config("spark.local.dir", s"$scratch/local")
      .config("spark.hadoop.hadoop.tmp.dir", s"$scratch/tmp")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.sql.execution.streaming.checkpointing" +
        ".ChecksumCheckpointFileManager",
      org.apache.logging.log4j.Level.ERROR)
    spark
  }

  private def sink(df: DataFrame): Unit =
    df.write.mode("overwrite").format("noop").save()

  /** Order-independent digest of a result: row count, plus the sum and xor
    * of a 64-bit hash of each row with its columns taken in name order. */
  def digest(df: DataFrame): (Long, String) = {
    val names = df.columns
    val byName = names.indices.sortBy(i => (names(i), i))
    val pos = df.toDF(names.indices.map(i => s"c$i"): _*)
    val h = xxhash64(byName.map(i => col(s"c$i")): _*)
    val r = pos.agg(count(lit(1)), sum(h.cast("decimal(38,0)")), bit_xor(h)).head()
    val rows = r.getLong(0)
    (rows, if (rows == 0) "empty" else s"${r.get(1)}:${r.getLong(2)}")
  }

  private def loadavg(): Seq[Double] =
    try scala.io.Source.fromFile("/proc/loadavg").mkString.trim.split("\\s+")
      .take(3).toSeq.map(_.toDouble)
    catch { case _: Throwable => Nil }

  private def vmHwmMb(): Double =
    try scala.io.Source.fromFile("/proc/self/status").getLines()
      .collectFirst { case l if l.startsWith("VmHWM:") =>
        l.split("\\s+")(1).toDouble / 1024 }.getOrElse(0.0)
    catch { case _: Throwable => 0.0 }

  private def message(t: Throwable): String =
    (t.getClass.getSimpleName + ": " +
      Option(t.getMessage).getOrElse("").takeWhile(_ != '\n')).take(300)

  /** The `graft.Bench` box fingerprint, scaled down: a fixed CPU pass and a
    * fixed shuffle pass over synthetic ranges, so a slow run can be told
    * apart from a slow box. */
  private def fingerprint(spark: SparkSession, cpus: Int): (Double, Double) = {
    def t(f: => Unit): Double = {
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
    }
    def cpuPass(n: Long): Unit = sink(spark.range(0L, n, 1L, cpus)
      .select(xxhash64(concat(col("id").cast("string"), lit("graftbox"))).as("h"))
      .agg(bit_xor(col("h"))))
    def shufPass(n: Long): Unit = sink(spark.range(0L, n, 1L, cpus)
      .groupBy((col("id") % 65536L).as("k")).agg(sum(col("id")).as("s"))
      .agg(sum(col("s"))))
    (t(cpuPass(10000000L)), t(shufPass(5000000L)))
  }

  private def bench(spark: SparkSession, rec: Record, flows: Seq[(String, Flow)],
                    o: Map[String, String], cpus: Int): Unit = {
    val seed = o("seed").toLong
    val passes = o("passes").toInt
    val trace = o("trace") == "1"
    val data = o("data")
    val t0Us = o("t0_us").toLong
    val sessionS = (Tracer.nowUs() - t0Us) / 1e6
    rec.emit("type" -> "start", "flows" -> flows.map(_._1), "cpus" -> cpus,
      "seed" -> seed, "trace" -> trace, "loadavg" -> loadavg(),
      "session_s" -> sessionS)
    val tracer = if (trace) Some(new Tracer(spark, cpus)) else None

    // one execution: clear caches, build, write to the sink
    def execute(name: String, fn: Flow, dir: String, flowId: String,
                timed: Boolean): Either[Throwable, (DataFrame, Long, Long, Long)] = {
      spark.catalog.clearCache()
      tracer.foreach(_.beginFlow())
      val t0 = Tracer.nowUs()
      var t1 = -1L
      var analysis = Option.empty[(Long, Long)]
      val r = try {
        val df = fn(spark, dir)
        t1 = Tracer.nowUs()
        if (tracer.isDefined) analysis = df.queryExecution.tracker.phases
          .get("analysis").map(p => (p.startTimeMs, p.endTimeMs))
        sink(df)
        Right(df)
      } catch { case t: Throwable =>
        System.err.println(s"perfbench: $name failed: $t")
        Left(t)
      }
      val t2 = Tracer.nowUs()
      if (t1 < 0) t1 = t2
      tracer.foreach { tr =>
        spark.catalog.clearCache()
        tr.endFlow(flowId, t0, t1, t2, analysis, timed)
      }
      r.map(df => (df, t0, t1, t2))
    }

    val warmStart = Tracer.nowUs()
    val warmFailures = (1 to o("warm_passes").toInt).flatMap { w =>
      flows.flatMap { case (name, fn) =>
        execute(name, fn, o("warm_data"), s"warm$w:$name", timed = false) match {
          case Right((_, t0, _, t2)) =>
            rec.emit("type" -> "warm", "pass" -> w, "flow" -> name, "ok" -> true,
              "s" -> (t2 - t0) / 1e6)
            None
          case Left(t) =>
            rec.emit("type" -> "warm", "pass" -> w, "flow" -> name, "ok" -> false,
              "error" -> message(t))
            Some(name)
        }
      }
    }.distinct
    val warmS = (Tracer.nowUs() - warmStart) / 1e6
    rec.emit("type" -> "setup", "setup_s" -> (Tracer.nowUs() - t0Us) / 1e6,
      "session_s" -> sessionS, "warm_s" -> warmS, "warm_failures" -> warmFailures)

    tracer.foreach(_.startTimed())
    val rng = new scala.util.Random(seed)
    val checked = scala.collection.mutable.Set[String]()
    var timedS = 0.0
    for (pass <- 1 to passes) {
      var passS = 0.0
      rng.shuffle(flows).foreach { case (name, fn) =>
        execute(name, fn, data, s"$pass:$name", timed = true) match {
          case Right((df, t0, t1, t2)) =>
            val s = (t2 - t0) / 1e6
            passS += s
            rec.emit("type" -> "flow", "pass" -> pass, "flow" -> name,
              "ok" -> true, "s" -> s, "build_s" -> (t1 - t0) / 1e6,
              "exec_s" -> (t2 - t1) / 1e6)
            // untimed output check, once per flow, on a timed execution
            if (checked.add(name)) {
              try {
                val (rows, d) = digest(df)
                rec.emit("type" -> "check", "flow" -> name, "rows" -> rows,
                  "digest" -> d)
              } catch { case t: Throwable =>
                rec.emit("type" -> "check", "flow" -> name, "error" -> message(t))
              }
            }
          case Left(t) =>
            rec.emit("type" -> "flow", "pass" -> pass, "flow" -> name,
              "ok" -> false, "error" -> message(t))
        }
      }
      timedS += passS
      rec.emit("type" -> "pass", "pass" -> pass, "s" -> passS)
    }
    tracer.foreach(_.stopTimed())

    tracer.foreach { tr =>
      val probeStart = Tracer.nowUs()
      val layer = tr.metrics(passes, timedS) ++
        Probes.taps(spark, data, o("scratch")) ++
        Probes.kernels(spark, data)
      rec.emit("type" -> "layer", "metrics" -> layer,
        "self_s" -> tr.selfTimes(passes),
        "probe_s" -> (Tracer.nowUs() - probeStart) / 1e6)
      writeSpans(o("spans"), tr.spans.toSeq)
    }
    val (boxCpu, boxShuffle) = fingerprint(spark, cpus)
    rec.emit("type" -> "end", "passes" -> passes, "peak_rss_mb" -> vmHwmMb(),
      "box_cpu_s" -> boxCpu, "box_shuffle_s" -> boxShuffle,
      "loadavg" -> loadavg())
  }

  private def writeSpans(path: String, spans: Seq[Span]): Unit = {
    val lines = spans.map { s =>
      Json(ListMap("id" -> s.id, "flow_id" -> s.flowId,
        "name" -> s.name, "start_us" -> s.startUs, "end_us" -> s.endUs,
        "parent" -> s.parent))
    }
    java.nio.file.Files.write(java.nio.file.Paths.get(path),
      (lines.mkString("\n") + "\n").getBytes("UTF-8"))
  }

  /** Write each flow's output as parquet under `out/<flow>` together with
    * `out/oracle_sql.json`, the layout `tools/check.py` reads, and record
    * each flow's digest as the benchmark computes it. */
  private def record(spark: SparkSession, rec: Record, flows: Seq[(String, Flow)],
                     data: String, out: String): Unit = {
    flows.foreach { case (name, fn) =>
      try {
        val df = fn(spark, data)
        sink(df)
        val (rows, d) = digest(df)
        df.write.mode("overwrite").parquet(s"$out/$name")
        val (prows, pd) = digest(spark.read.parquet(s"$out/$name"))
        rec.emit("type" -> "expected", "flow" -> name, "rows" -> rows,
          "digest" -> d, "parquet_rows" -> prows, "parquet_digest" -> pd)
      } catch { case t: Throwable =>
        rec.emit("type" -> "expected", "flow" -> name, "error" -> message(t))
      }
    }
    val oracle = graft.SparkEntry.oracleSql.filter { case (k, _) =>
      flows.exists(_._1 == k) }
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$out/oracle_sql.json"),
      Json(oracle).getBytes("UTF-8"))
  }
}
