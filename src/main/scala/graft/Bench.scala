package graft
import org.apache.spark.sql.SparkSession

/** Headline benchmark. Prints ONE JSON line (also the final stdout line)
  * with the per-query minima plus the raw evidence needed to tell a slow
  * plan from a contended box: per-pass raw times, /proc/loadavg at start
  * and end, and a per-query spread flag (max/min of the timed passes).
  * A run where flagged queries exist (spread > SPREAD_FLAG_RATIO) is
  * self-evidently noisy — compare the minima, not the total, and re-run.
  *
  * Env knobs: SPARK_GRAFT_SF_DIR (data), SPARK_GRAFT_CPUS,
  * SPARK_GRAFT_BENCH_PASSES (default 3), SPARK_GRAFT_BENCH_OUT (file copy
  * of the JSON), SPARK_GRAFT_BENCH_ONLY (comma-separated query-name
  * prefixes to run a subset, e.g. "q06,q01").
  */
object Bench {
  private val SPREAD_FLAG_RATIO = 3.0

  private def loadavg(): Seq[Double] =
    try {
      val s = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get("/proc/loadavg")))
      s.trim.split("\\s+").take(3).toSeq.map(_.toDouble)
    } catch { case _: Throwable => Seq.empty }

  /** A run id made safe to embed in a file name: every character outside
    * [A-Za-z0-9_-] becomes '_', so no value can name a path ('/', '..'). */
  private[graft] def fileTag(runId: String): String =
    runId.replaceAll("[^A-Za-z0-9_-]", "_")

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = Sessions.local(cpus, Sessions.NanosAsLong, Sessions.Adaptive)
    spark.sparkContext.setLogLevel("WARN")
    // The streaming queries (q123 especially: kill + checkpoint restart)
    // spray ChecksumCheckpointFileManager "no checksum file" WARNs into
    // stderr — harmless (the restart intentionally reads pre-checksum
    // snapshots) but they eat the bounded log tail the driver captures.
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.sql.execution.streaming.checkpointing" +
        ".ChecksumCheckpointFileManager",
      org.apache.logging.log4j.Level.ERROR)
    // noop-format write: evaluates every output expression. A count() lets
    // Catalyst prune projection-only queries down to a row count, which
    // would under-measure the scan+compute work.
    def run(fn: (SparkSession, String) => org.apache.spark.sql.DataFrame,
            dir: String): Unit =
      fn(spark, dir).write.mode("overwrite").format("noop").save()
    // Measurement methodology (documented in BASELINE.md):
    //  - each query warms at the smallest SF IMMEDIATELY before its timed
    //    passes. A single global warmup loop stops working beyond ~50
    //    queries: the codegen class cache (100 entries) evicts the early
    //    queries' generated classes, so a "warmed" query re-pays 5-8 s of
    //    Janino compilation in its timed run, depending on map order.
    //  - per-query MIN of `passes` timed runs: single-pass numbers on a
    //    shared box swing several-fold with CPU/GC noise; the min is the
    //    reproducible cost of the plan.
    //  - caches cleared between passes so queries are measured
    //    independently, not in accumulation order.
    //  - per-pass raw times + loadavg + spread flags are RECORDED in the
    //    output so a contended run cannot masquerade as a regression.
    // Box FINGERPRINT (round-14 verdict #7): a fixed ~2 s CPU + shuffle
    // microbench, run in THIS JVM before the suite over synthetic ranges
    // (no data dependency, no disk). The absolute numbers mean nothing;
    // their ratio to the values recorded alongside the committed minima
    // turns a future bench elevation into a one-field box-vs-code
    // adjudication (the round-14 byte-identity method, made mechanical:
    // fingerprint elevated too → box drift; fingerprint flat → code).
    val (boxCpu, boxShuffle) = {
      import org.apache.spark.sql.functions._
      def t(f: => Unit): Double = {
        val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
      }
      def noop(df: org.apache.spark.sql.DataFrame): Unit =
        df.write.mode("overwrite").format("noop").save()
      def cpuPass(n: Long): Unit = noop(
        spark.range(0L, n, 1L, cpus.toInt)
          .select(xxhash64(concat(col("id").cast("string"),
            lit("graftbox"))).as("h"))
          .agg(bit_xor(col("h")))) // xor fold: no ANSI sum overflow
      def shufPass(n: Long): Unit = noop(
        spark.range(0L, n, 1L, cpus.toInt)
          .groupBy((col("id") % 65536L).as("k"))
          .agg(sum(col("id")).as("s"))
          .agg(sum(col("s"))))
      cpuPass(1000000L); shufPass(1000000L) // warm codegen
      ((1 to 2).map(_ => t(cpuPass(60000000L))).min,
        (1 to 2).map(_ => t(shufPass(30000000L))).min)
    }
    val warmDir = "/root/testdata/sf0.001"
    val canWarm = new java.io.File(warmDir).isDirectory
    val passes = sys.env.getOrElse("SPARK_GRAFT_BENCH_PASSES", "3").toInt
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
    val selected = SparkEntry.queries.filter { case (name, _) =>
      only.forall(_.exists(name.startsWith))
    }
    val loadStart = loadavg()
    // Failure honesty: a pass that throws must NOT record its
    // time-to-exception as the query's cost (a crash is usually FASTER than
    // the real plan, so swallowing it silently converts breakage into an
    // apparent speedup — observed in round 7 where 9 broken streaming
    // queries "measured" 0.13 s each). Errored passes are counted per
    // query, excluded from minima, and surfaced in both JSON channels; a
    // query with zero successful passes is excluded from every total and
    // the run is marked errored.
    val errorCounts = scala.collection.mutable.LinkedHashMap[String, Int]()
    val errorMsgs = scala.collection.mutable.LinkedHashMap[String, String]()
    def timedPass(name: String,
        fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Option[Double] = {
      spark.catalog.clearCache()
      val t0 = System.nanoTime()
      try { run(fn, sfDir); Some((System.nanoTime() - t0) / 1e9) }
      catch {
        case t: Throwable =>
          errorCounts(name) = errorCounts.getOrElse(name, 0) + 1
          errorMsgs.getOrElseUpdate(name,
            (t.getClass.getSimpleName + ": " +
              Option(t.getMessage).getOrElse("").takeWhile(_ != '\n')).take(160))
          System.err.println(s"graft.Bench: $name pass failed: $t")
          None
      }
    }
    val results = selected.map { case (name, fn) =>
      if (canWarm) { try run(fn, warmDir) catch { case _: Throwable => () } }
      name -> (1 to passes).flatMap(_ => timedPass(name, fn))
    }
    // Confirmation pass: a contention window can cover EVERY pass of one
    // query (observed: a ~40 s system load spike made one 0.4 s query
    // measure 11 s in all 3 passes — within-query spread can't see it).
    // Re-measure the heaviest queries once more, now separated in time
    // from their original passes, and keep the min.
    val median = {
      val xs = results.values.collect { case v if v.nonEmpty => v.min }.toSeq.sorted
      if (xs.isEmpty) 0.0 else xs(xs.size / 2)
    }
    val suspects = results.filter { case (_, v) =>
      v.nonEmpty && v.min > math.max(0.5, 3 * median) }.keys.toSeq
    val confirmed = suspects.flatMap { name =>
      val fn = selected(name)
      if (canWarm) { try run(fn, warmDir) catch { case _: Throwable => () } }
      timedPass(name, fn).map(name -> _)
    }.toMap
    val finalResults = results.map { case (k, v) =>
      k -> (v ++ confirmed.get(k).toSeq) }
    // queries with zero successful passes: no min exists — they carry no
    // time anywhere and the run itself is marked errored
    val measured = finalResults.filter(_._2.nonEmpty)
    val failedQs = finalResults.collect { case (k, v) if v.isEmpty => k }.toSeq
    val loadEnd = loadavg()
    // Locale.ROOT: f"" interpolation uses the default JVM locale — under a
    // comma-decimal locale (de_DE) the emitted JSON numbers would be invalid
    def fmt(d: Double) =
      String.format(java.util.Locale.ROOT, "%.4f", Double.box(d))
    val qs = measured.map { case (k, v) => "\"" + k + "\":" + fmt(v.min) }
      .mkString("{", ",", "}")
    val raw = finalResults.map { case (k, v) =>
      "\"" + k + "\":[" + v.map(fmt).mkString(",") + "]"
    }.mkString("{", ",", "}")
    val flagged = measured.collect {
      case (k, v) if v.min > 0.05 && v.max / v.min > SPREAD_FLAG_RATIO => k
    }.toSeq
    val total = measured.values.map(_.min).sum
    // The streaming envelopes (multi-batch runs, one with a kill/restart
    // cycle) swing several seconds with filesystem load and would mask a
    // batch-plan regression inside the headline total. Split the totals so
    // the regression gate can watch batch_total alone; "stream" in the
    // query name is the naming convention every streaming entry follows.
    val (streamQs, batchQs) =
      measured.partition(_._1.contains("stream"))
    val batchTotal = batchQs.values.map(_.min).sum
    val streamTotal = streamQs.values.map(_.min).sum
    def arr(xs: Seq[Double]) = xs.map(fmt).mkString("[", ",", "]")
    def names(xs: Seq[String]) = xs.map("\"" + _ + "\"").mkString("[", ",", "]")
    val contended = flagged.size > math.max(2, finalResults.size / 10)
    // Mechanical per-query regression gate: BASELINE_QUERIES.json is the
    // committed record of per-query clean minima (tools/update_baseline.py
    // maintains it as a monotone min). A single query regressing 3× inside
    // a flat total was previously only catchable by prose-diffing
    // BASELINE.md; here every measured min is compared to its record and
    // the offenders are surfaced in both JSON channels. Queries under
    // 0.15 s are exempt (pure noise band), as is a contended run's noise —
    // the record compare uses the min-of-passes, the same number the
    // record itself holds.
    // The record file is resolved against cwd AND its ancestors (sbt can
    // run from a subdirectory); missing-file silently disabling the gate
    // vs a parse error are distinguished — both print a loud warning
    // instead of a quiet regressed=[].
    val records: Map[String, Double] = {
      val name = "BASELINE_QUERIES.json"
      var dir = java.nio.file.Paths.get("").toAbsolutePath
      var found: Option[java.nio.file.Path] = None
      while (found.isEmpty && dir != null) {
        val cand = dir.resolve(name)
        if (java.nio.file.Files.exists(cand)) found = Some(cand)
        dir = dir.getParent
      }
      found match {
        case None =>
          System.err.println(s"[bench] WARNING: $name not found in cwd or " +
            "ancestors — the per-query regression gate is DISABLED this run")
          Map.empty
        case Some(p) =>
          try {
            val txt = new String(java.nio.file.Files.readAllBytes(p),
              java.nio.charset.StandardCharsets.UTF_8)
            val m = "\"(q[^\"]+)\"\\s*:\\s*([0-9.]+)".r.findAllMatchIn(txt)
              .map(m => m.group(1) -> m.group(2).toDouble).toMap
            if (m.isEmpty) System.err.println(
              s"[bench] WARNING: $p parsed to ZERO records — regression " +
                "gate is effectively disabled")
            m
          } catch {
            case e: Throwable =>
              System.err.println(s"[bench] WARNING: failed to parse $p " +
                s"(${e.getClass.getSimpleName}: ${e.getMessage}) — " +
                "regression gate is DISABLED this run")
              Map.empty
          }
      }
    }
    val REGRESSION_RATIO = 3.0
    val regressions = measured.flatMap { case (k, v) =>
      records.get(k).collect {
        case rec if rec > 0 && v.min > 0.15 &&
          v.min / rec > REGRESSION_RATIO => k -> (v.min / rec)
      }
    }.toMap
    val regJson = regressions.map { case (k, r) =>
      "\"" + k + "\":" +
        String.format(java.util.Locale.ROOT, "%.2f", Double.box(r))
    }.mkString("{", ",", "}")
    val errored = errorCounts.nonEmpty
    val errJson = errorCounts.map { case (k, n) => "\"" + k + "\":" + n }
      .mkString("{", ",", "}")
    val errMsgJson = errorMsgs.map { case (k, m) =>
      "\"" + k + "\":\"" + m.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
    }.mkString("{", ",", "}")
    // a few noisy queries are normal on a shared box (their MIN is still
    // the plan cost); a systemically contended run flags a broad slice
    val fullJson = s"""{"metric":"total","value":${fmt(total)},"unit":"sec"""" +
      s""","batch_total":${fmt(batchTotal)},"stream_total":${fmt(streamTotal)}""" +
      s""","queries":$qs,"sf":"$sfDir","passes":$passes,"raw_passes":$raw""" +
      s""","loadavg_start":${arr(loadStart)},"loadavg_end":${arr(loadEnd)}""" +
      s""","remeasured":${names(suspects)}""" +
      s""","spread_flagged":${names(flagged)}""" +
      s""","errored":$errored,"errors":$errJson,"error_msgs":$errMsgJson""" +
      s""","failed_queries":${names(failedQs)}""" +
      s""","regressed":${names(regressions.keys.toSeq)}""" +
      s""","regression_ratios":$regJson""" +
      s""","baseline_queries":${records.size}""" +
      s""","box_cpu_sec":${fmt(boxCpu)}""" +
      s""","box_shuffle_sec":${fmt(boxShuffle)}""" +
      s""","contended":$contended}"""
    // The driver captures only a BOUNDED TAIL (~2000 chars) of the sbt log:
    // the full JSON (~10 KB at 120+ queries) can never survive there — it
    // goes to the FILE channels, and stdout gets ONE final COMPACT line
    // sized to fit the tail: short unique query keys (digit prefix, the
    // driver example's own "q1" shape) and millisecond precision. Printing
    // the full JSON to stdout as well would evict the compact line from
    // the tail window — so it is file-only.
    // a failed write must not kill the run (the stdout line is the primary
    // channel) but must not vanish either: warn on stderr, which doesn't
    // compete with the bounded stdout tail the compact line targets
    def writeTo(path: String): Unit =
      try java.nio.file.Files.write(java.nio.file.Paths.get(path),
        fullJson.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      catch {
        case t: Throwable =>
          System.err.println(s"graft.Bench: failed to write $path: $t")
      }
    sys.env.get("SPARK_GRAFT_BENCH_OUT").foreach(writeTo)
    // repo-local copy: the round driver commits stray files at round end,
    // so the complete per-pass evidence lands in history even when the
    // env channel is unset
    writeTo("BENCH_FULL_LATEST.json")
    // Per-run artifact file (round-16 verdict #1): LATEST is overwrite-on-
    // run, so when the driver benches twice (32-core then 8-core) the
    // second run clobbers the first run's per-query map and no per-query
    // or scaling evidence survives. Write a second copy keyed on the run
    // identity — SPARK_GRAFT_BENCH_RUN_ID when set, else the core count —
    // so each invocation leaves its own map on disk (BENCH_FULL_c32.json /
    // BENCH_FULL_c8.json land in history via the driver's stray-file
    // commit). Pure output-channel addition; the stdout contract and the
    // timing methodology are unchanged.
    val runTag = fileTag(
      sys.env.getOrElse("SPARK_GRAFT_BENCH_RUN_ID", "c" + cpus))
    writeTo(s"BENCH_FULL_$runTag.json")
    def fmt3(d: Double) =
      String.format(java.util.Locale.ROOT, "%.3f", Double.box(d))
    val shortNames = measured.keys.map(n => n -> n.takeWhile(_ != '_'))
    val shortUnique = shortNames.map(_._2).toSeq.distinct.size == shortNames.size
    val compactQs = measured.map { case (k, v) =>
      val key = if (shortUnique) k.takeWhile(_ != '_') else k
      "\"" + key + "\":" + fmt3(v.min)
    }.mkString("{", ",", "}")
    // every byte counts against the tail window: passes/raw evidence live
    // in BENCH_FULL_LATEST.json, the stdout line carries only the spec
    // fields + the contention/error verdicts
    val errCompact = if (errored)
      s""","errored":true,"failed_queries":${names(failedQs)}""" else ""
    val regCompact = if (regressions.nonEmpty)
      s""","regressed":${names(regressions.keys.toSeq)}""" else ""
    def compactLine(withQs: Boolean) =
      s"""{"metric":"total","value":${fmt3(total)},"unit":"sec"""" +
        s""","batch_total":${fmt3(batchTotal)},"stream_total":${fmt3(streamTotal)}""" +
        (if (withQs) s""","queries":$compactQs""" else s""","n_queries":${measured.size}""") +
        s""","sf":"$sfDir","box":[${fmt3(boxCpu)},${fmt3(boxShuffle)}]""" +
        s"""$errCompact$regCompact,"contended":$contended}"""
    // the driver JSON-parses the tail's last line: past ~120 queries the
    // per-query map alone exceeds the ~2000-char tail window, so the line
    // would arrive mid-JSON and parse to null. Above the threshold, drop
    // the map from stdout (totals/flags only; full map in file channels).
    val withMap = compactLine(withQs = true)
    val compact = if (withMap.length <= 1800) withMap else compactLine(withQs = false)
    spark.stop()
    println(compact)
  }
}
