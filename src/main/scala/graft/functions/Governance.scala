package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Data-governance operators for training corpora: PII redaction and
  * deterministic (reproducible) stratified sampling.
  *
  * Both are pure Column expressions — one corpus scan, whole-stage
  * codegen, zero shuffles — which is what makes them viable as mandatory
  * passes over 100 TB.
  */
object Governance {

  /** Email pattern, ASCII-conservative so Java regex (Spark) and RE2
    * (DuckDB) agree; both engines support this subset identically. */
  val EmailRegex = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"

  /** North-American-style phone fragment: 3-4 digit groups joined by
    * dashes (555-0123 / 415-555-0123). Conservative on purpose: PII
    * scrubbing favors precision, and the shape avoids matching years or
    * ID ranges like 2020-2024 (4-digit prefix). */
  val PhoneRegex = "\\b[0-9]{3}-[0-9]{3,4}(-[0-9]{4})?\\b"

  /** IPv4 literal (no lookarounds — RE2 has none). */
  val Ipv4Regex = "\\b([0-9]{1,3}\\.){3}[0-9]{1,3}\\b"

  /** Count of pattern hits in `text`. */
  def piiHits(text: Column, pattern: String): Column =
    size(regexp_extract_all(text, lit(pattern), lit(0)))

  /** Redact all email/phone/IPv4 literals with typed placeholders.
    * regexp_replace replaces every occurrence (Spark default; the DuckDB
    * oracle needs the explicit 'g' flag). */
  def redactPii(text: Column): Column = {
    val e = regexp_replace(text, EmailRegex, "<EMAIL>")
    val p = regexp_replace(e, PhoneRegex, "<PHONE>")
    regexp_replace(p, Ipv4Regex, "<IP>")
  }

  /** Deterministic hash bucket in [0,100) for reproducible sampling:
    * 40-bit md5 prefix of (salt || key) mod 100. The SAME rows are kept on
    * every engine, every run, every partitioning — unlike rand()-based
    * sampling, this gives an auditable, re-runnable corpus cut, and a
    * different salt gives an independent draw. */
  def hashBucket(key: Column, salt: String): Column =
    graft.catalyst.Md5Prefix40(concat(lit(salt), key.cast("string"))) % 100

  /** Stratified keep-predicate: keep a row when its hash bucket falls
    * below the stratum's percentage rate. `ratesPct` maps stratum value →
    * keep percentage (0..100); unlisted strata use `defaultPct`. */
  def stratifiedKeep(key: Column, stratum: Column,
                     ratesPct: Seq[(String, Int)], defaultPct: Int,
                     salt: String): Column = {
    val rate = ratesPct.foldRight(lit(defaultPct): Column) {
      case ((value, pct), acc) => when(stratum === value, pct).otherwise(acc)
    }
    hashBucket(key, salt) < rate
  }

  /** Deterministic train/val/test assignment from the hash bucket:
    * bucket < trainPct → "train", < trainPct+valPct → "val", else "test".
    * The standard reproducible dataset split — membership is a pure
    * function of (salt, key), so re-runs, engine changes, and
    * repartitioning cannot leak rows across splits. */
  def splitAssign(key: Column, trainPct: Int, valPct: Int,
                  salt: String): Column = {
    require(trainPct > 0 && valPct >= 0 && trainPct + valPct < 100)
    val b = hashBucket(key, salt)
    when(b < trainPct, "train")
      .when(b < trainPct + valPct, "val")
      .otherwise("test")
  }

  /** LEAKAGE-SAFE train/val/test split: membership is a pure function of
    * the document's NEAR-DUP CLUSTER id, not its own id. The per-doc
    * [[splitAssign]] puts a document in train while its 95%-identical
    * twin lands in test — evaluation data leaking into training, the
    * classic pretraining-split bug. Splitting by the
    * [[Dedup.minhashClustersTransitive]] cluster representative keeps
    * every near-dup family on ONE side of every boundary by
    * construction. Output: (id, cluster_id, split).
    *
    * Scale shape: the cluster pass is the q64 label propagation (linear
    * per-bucket-min, join-free convergence); the split itself is a
    * zero-shuffle codegen'd hash of cluster_id. `maxIters` must match
    * any unrolled oracle's round count (the q64 discipline). */
  def leakageSafeSplit(df: DataFrame, idCol: String, textCol: String,
                       trainPct: Int, valPct: Int, salt: String,
                       k: Int = 16, bands: Int = 4,
                       maxIters: Int = 30): DataFrame =
    Dedup.minhashClustersTransitive(df, idCol, textCol, k, bands, maxIters)
      .withColumn("split",
        splitAssign(col("cluster_id"), trainPct, valPct, salt))

  /** DuckDB spelling of [[hashBucket]]. */
  def oracleHashBucket(keyExpr: String, salt: String): String =
    s"CAST(concat('0x', substr(md5(concat('$salt', CAST($keyExpr AS VARCHAR))), 1, 10)) AS BIGINT) % 100"

  /** Importance-weighted reproducible keep-predicate: keep probability =
    * weightPct / 100, membership a pure function of (salt, key) — the
    * quality-proportional corpus-mixing primitive (sample good docs more
    * often, reproducibly on any engine/run/partitioning). Integer-exact:
    * hash40 · 100 < weightPct · 2^40 stays well inside int64. */
  def weightedKeep(key: Column, weightPct: Column, salt: String): Column =
    graft.catalyst.Md5Prefix40(concat(lit(salt), key.cast("string"))) * 100 <
      weightPct.cast("bigint") * (1L << 40)

  /** Micros-granular [[weightedKeep]]: keep with probability
    * rateMicros/1e6, deterministic in (salt, key). Exact int64: the hash
    * is 40-bit, so hash·1e6 < 2^60 and rate·2^40 ≤ 2^60. */
  def rateKeep(key: Column, rateMicros: Column, salt: String): Column =
    graft.catalyst.Md5Prefix40(concat(lit(salt), key.cast("string"))) * 1000000L <
      rateMicros.cast("bigint") * (1L << 40)

  /** DuckDB spelling of [[rateKeep]]. */
  def oracleRateKeep(keyExpr: String, rateMicrosExpr: String,
                     salt: String): String =
    s"CAST(concat('0x', substr(md5(concat('$salt', CAST($keyExpr AS VARCHAR))), 1, 10)) AS BIGINT) * 1000000 " +
      s"< CAST($rateMicrosExpr AS BIGINT) * ${1L << 40}"

  /** Temperature-balanced class sampling at T = 2 — the standard
    * multilingual pretraining recipe (mBERT/XLM-R): per-class inclusion
    * probability ∝ (class frequency)^(1/T − 1) = 1/√n_d, so head classes
    * down-sample and tail classes keep more of their mass, with the
    * expected TOTAL pinned to `targetFraction`·N. Expected class counts
    * come out ∝ √n_d — the flattened f^(1/2) mix.
    *
    * Expected class mass E_d = targetFraction·N·√n_d/Σ_c √n_c, so the
    * per-DOC keep probability is p_d = E_d/n_d =
    * min(1, targetFraction · N / (√n_d · Σ_c √n_c)) — DECREASING in
    * n_d, which is the whole point. Applied per doc by the
    * deterministic (salt, id) hash ([[rateKeep]]) — reproducible on
    * any engine, run, or partitioning.
    *
    * T is FIXED at 2 deliberately: f^(1/T) for general T needs `pow`,
    * a libm call with no cross-engine rounding guarantee; √ is an IEEE
    * correctly-rounded primitive, so the T = 2 thresholds are bit-equal
    * on both engines (the reason the gate can hash-match). The
    * normalizer Σ_c √n_c folds through DECIMAL(38,6) so partial-agg
    * order cannot shift the double (the dsum discipline).
    *
    * Scale shape: class stats are one groupBy over the corpus (D rows),
    * the normalizer one D-row aggregate, thresholds a D-row broadcast
    * back into the scan — one corpus-sized exchange total (the stats
    * agg), the keep-filter is scan-local. */
  def temperatureSample(df: DataFrame, idCol: String, classCol: String,
                        targetFraction: Double, salt: String): DataFrame = {
    val stats = df.groupBy(col(classCol))
      .agg(count(lit(1)).as("n_d"))
    val norm = stats.agg(
      sum(col("n_d")).as("n_total"),
      sum(sqrt(col("n_d").cast("double"))
        .cast("decimal(38,6)")).cast("double").as("s_norm"))
    val thresh = stats.crossJoin(norm).select(
      col(classCol),
      least(
        floor(lit(1000000.0) * lit(targetFraction) *
          col("n_total").cast("double") /
          (sqrt(col("n_d").cast("double")) * col("s_norm"))).cast("bigint"),
        lit(1000000L)).as("keep_micros"))
    df.join(broadcast(thresh), Seq(classCol))
      .filter(rateKeep(col(idCol), col("keep_micros"), salt))
      .select(col(idCol), col(classCol), col("keep_micros"))
  }

  /** DuckDB spelling of [[temperatureSample]]'s per-class threshold —
    * the SAME literal/op order so the doubles round identically. */
  def oracleTemperatureThreshold(targetFraction: Double): String =
    // both factors cast to DOUBLE before multiplying — bare 1000000.0 *
    // 0.2 would multiply as exact DECIMALs in DuckDB while Spark rounds
    // the double product, shifting floor() at thresholds
    s"least(CAST(floor(CAST(1000000 AS DOUBLE) * CAST($targetFraction AS DOUBLE) * " +
      "CAST(n_total AS DOUBLE) / (sqrt(CAST(n_d AS DOUBLE)) * s_norm)) " +
      "AS BIGINT), 1000000)"

  /** Per-source token budget the int64 rate arithmetic stays exact under:
    * target·1e6 and budget·share_ppm must fit int64, so ≤ 9e12 tokens
    * (≈ 36 TB of 4-byte-token text) per source per mixture pass. Beyond
    * that, run the mixture per corpus shard and union. */
  val MixtureTargetTokensMax = 9000000000000L

  /** Curriculum mixture sampling: down-sample each source so the kept
    * corpus approaches a TARGET TOKEN MIX — the pretraining-pipeline op
    * that turns "we crawled what we crawled" into "the model sees the mix
    * we designed". `sharesPpm` is each source's intended share (ppm) of a
    * total budget of `budgetRatioMicros`/1e6 of the corpus's actual
    * tokens; a source's keep rate is min(1, target_s / actual_s), applied
    * per doc by the deterministic (salt, id) hash — reproducible on any
    * engine or partitioning. Sources absent from `sharesPpm` are dropped
    * (share 0); a source under its target keeps everything (the clamp —
    * sampling cannot invent tokens).
    *
    * Scale shape: one agg pass for per-source token totals (O(sources)
    * rows), the rate table broadcast back, one codegen'd filter scan — no
    * full-data shuffle anywhere. All arithmetic is guarded int64 (directed
    * error past [[MixtureTargetTokensMax]], never a silent wrap). */
  def mixtureSample(docs: org.apache.spark.sql.DataFrame, idCol: String,
                    sourceCol: String, nTokCol: String,
                    sharesPpm: Map[String, Long], budgetRatioMicros: Long,
                    salt: String): org.apache.spark.sql.DataFrame = {
    require(budgetRatioMicros >= 0 && budgetRatioMicros <= 1000000L,
      s"mixtureSample: budgetRatioMicros must be in [0, 1e6], got $budgetRatioMicros")
    require(sharesPpm.values.forall(s => s >= 0 && s <= 1000000L),
      "mixtureSample: shares must be in [0, 1e6] ppm")
    val spark = docs.sparkSession
    val shares = spark.createDataFrame(
      sharesPpm.toSeq.map { case (s, p) => (s, p) })
      .toDF(sourceCol, "__share_ppm")
    val totals = docs.groupBy(col(sourceCol))
      .agg(sum(col(nTokCol).cast("long")).as("__actual_tok"))
    // all O(sources)-sized from here: window-total, budget, target, rate
    val guard = (c: Column, name: String) =>
      when(c <= MixtureTargetTokensMax, c).otherwise(raise_error(concat(
        lit(s"mixtureSample: $name exceeds int64-exact headroom " +
          s"($MixtureTargetTokensMax tokens) — shard the corpus; value="),
        c.cast("string"))))
    // budget = corpus_total · ratio/1e6 (≤ corpus total, int64-safe since
    // ratio ≤ 1e6 never multiplies the total: hi/lo split keeps every
    // intermediate ≤ total); target = budget · share/1e6 via the same
    // exact decomposition floor(b·s/1e6) = (b div 1e6)·s + (b mod 1e6)·s div 1e6
    val rates = totals.join(shares, Seq(sourceCol))
      .withColumn("__total_tok", expr("sum(__actual_tok) OVER ()"))
      .withColumn("__budget_tok", expr(
        s"(__total_tok div 1000000) * $budgetRatioMicros + " +
          s"((__total_tok % 1000000) * $budgetRatioMicros) div 1000000"))
      .withColumn("__target_tok", guard(expr(
        "(__budget_tok div 1000000) * __share_ppm + " +
          "((__budget_tok % 1000000) * __share_ppm) div 1000000"),
        "per-source target"))
      .withColumn("__rate_micros", least(lit(1000000L),
        expr("__target_tok * 1000000 div __actual_tok")))
      .select(col(sourceCol), col("__rate_micros"))
    docs.join(broadcast(rates), Seq(sourceCol))
      .filter(rateKeep(col(idCol), col("__rate_micros"), salt))
      .drop("__rate_micros")
  }

  /** DuckDB spelling of [[weightedKeep]]. */
  def oracleWeightedKeep(keyExpr: String, weightExpr: String,
                         salt: String): String =
    s"CAST(concat('0x', substr(md5(concat('$salt', CAST($keyExpr AS VARCHAR))), 1, 10)) AS BIGINT) * 100 " +
      s"< CAST($weightExpr AS BIGINT) * ${1L << 40}"

  /** DuckDB spelling of [[splitAssign]]. */
  def oracleSplitAssign(keyExpr: String, trainPct: Int, valPct: Int,
                        salt: String): String = {
    val b = oracleHashBucket(keyExpr, salt)
    s"CASE WHEN $b < $trainPct THEN 'train' " +
      s"WHEN $b < ${trainPct + valPct} THEN 'val' ELSE 'test' END"
  }

  /** Deterministic global shuffle + shard export — the FINAL step of a
    * pretraining pipeline: the curated corpus, shuffled corpus-wide so
    * training order carries no crawl/source locality, written as exactly
    * one file per shard for the data loader.
    *
    * Shard assignment AND within-shard order are both pure functions of
    * (salt, id): shard = hash40 % nShards, order = (hash40, id). So the
    * export is reproducible on any engine/run/partitioning, and a
    * different salt gives an independent reshuffle — rand()-based
    * shuffles can claim neither. `pos` (1-based rank within shard) is
    * materialized INTO the files so a reader — or the oracle — can
    * verify order without trusting scan order.
    *
    * Scale: ONE exchange total. The rank window partitions by `shard`;
    * the write reuses that same hash-partitioning (no repartition —
    * every shard lives wholly inside one task's partition, so each
    * shard dir gets exactly one file, sorted by `sortWithinPartitions`).
    * Per-shard windows are safe here, unlike a per-SOURCE window: shards
    * are numerous and uniform BY CONSTRUCTION (hash40 is uniform), and
    * `nShards` is the operator's own parallelism/file-size knob — at
    * 100 TB pick nShards ≈ corpus_bytes / 1 GiB ≈ 100k, giving 100k
    * uniform ~1 GiB sort tasks. */
  /** Token-budget-capped quality curation: per source, keep the
    * highest-quality documents until `budgetPpm` of that source's tokens
    * is filled — the "best N% of tokens" selection step of corpus
    * curation, exact and deterministic.
    *
    * Semantics: documents rank by (quality DESC, hash40(salt,id) ASC,
    * id ASC). Whole quality classes are admitted while they fit; the one
    * BOUNDARY class per source is admitted as the greedy prefix of its
    * (hash, id) order until the remainder is filled (every document
    * whose inclusive running token sum fits — a true prefix, since token
    * counts are positive).
    *
    * Scale: this is NOT a per-source global sort. Class admission needs
    * only the (source, quality) class table — O(sources × 101) rows,
    * since quality is domain-bounded in [0,100] — so the only window
    * runs over ≤101 rows per source. The boundary prefix is computed by
    * the range-partitioned two-pass scan (the q51 CScanBuffer
    * machinery): phase 1 per-range token sums, ONE O(partitions ×
    * sources) driver carry, phase 2 emits in parallel per range —
    * no single task ever sorts a whole source. Cost: one stats scan,
    * two filter scans, and the boundary-subset scan. Int64 headroom:
    * tot·budgetPpm wraps past ~9e12 tokens/source (≈36 TB of text) —
    * the q132 bound; shard beyond that. */
  def budgetCurate(docs: org.apache.spark.sql.DataFrame, idCol: String,
                   srcCol: String, quality: Column, nTok: Column,
                   budgetPpm: Long, salt: String): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val spark = docs.sparkSession
    val base = docs.select(col(idCol).cast("long").as("doc_id"),
      col(srcCol).as("source"), quality.cast("int").as("quality"),
      nTok.cast("long").as("n_tok"),
      graft.catalyst.Md5Prefix40(
        concat(lit(salt), col(idCol).cast("string"))).as("h"))
    val classes = base.groupBy(col("source"), col("quality"))
      .agg(sum(col("n_tok")).as("class_tok"))
    val wq = Window.partitionBy(col("source")).orderBy(col("quality").desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val cls = classes
      .withColumn("cum_before", coalesce(sum(col("class_tok")).over(wq), lit(0L)))
    val budgets = classes.groupBy(col("source"))
      .agg(sum(col("class_tok")).as("tot"))
      .withColumn("budget", expr(s"tot * $budgetPpm div 1000000"))
    val cl = cls.join(budgets, "source")
    val fullKeep = cl.filter(col("cum_before") + col("class_tok") <= col("budget"))
      .select(col("source"), col("quality"))
    val boundary = cl
      .filter(col("cum_before") < col("budget") &&
        col("cum_before") + col("class_tok") > col("budget"))
      .select(col("source"), col("quality"),
        (col("budget") - col("cum_before")).as("remaining"))
    val keptFull = base.join(broadcast(fullKeep), Seq("source", "quality"))
      .select("doc_id", "source", "quality", "n_tok")
    // O(sources) driver carry: one boundary class per source
    val remaining = boundary.select("source", "remaining").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val bdocs = base
      .join(broadcast(boundary.select("source", "quality")),
        Seq("source", "quality"))
      .select("doc_id", "source", "quality", "n_tok", "h")
    val keptBoundary = graft.exec.Flow.toDF(
      graft.pipes.Pipe.source(graft.sources.DataFrameTap(bdocs))
        .groupBySorted(Nil,
          Seq("source" -> true, "h" -> true, "doc_id" -> true))
        .scan(new BudgetPrefixBuffer(remaining)))(spark)
    keptFull.unionByName(keptBoundary)
  }

  def shardExport(docs: org.apache.spark.sql.DataFrame, idCol: String,
                  nShards: Int, salt: String,
                  outPath: String): org.apache.spark.sql.DataFrame = {
    require(nShards > 0, s"shardExport: nShards must be positive, got $nShards")
    val h = graft.catalyst.Md5Prefix40(
      concat(lit(salt), col(idCol).cast("string")))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("shard")).orderBy(col("__h"), col(idCol))
    docs.withColumn("__h", h)
      .withColumn("shard", (col("__h") % nShards).cast("int"))
      .withColumn("pos", row_number().over(w).cast("long"))
      .sortWithinPartitions(col("shard"), col("pos"))
      .write.mode("overwrite").partitionBy("shard").parquet(outPath)
    graft.sources.Parquet.read(docs.sparkSession, outPath)
  }

  /** Per-document FILTER ATTRIBUTION: evaluate the whole quality-filter
    * stack in one scan and report WHY each document would be rejected as
    * a reason bitmask (bit 0 = quality score below threshold, bit 1 =
    * language unidentifiable, bit 2 = duplicate-bigram fraction above
    * threshold, bit 3 = too few tokens); `kept` ⇔ no bit set. The
    * explainability pass every curation pipeline needs before anyone
    * trusts its drop rate — "what died and why" per slice, not just a
    * survivor count.
    *
    * Scale: four scan-local column kernels fused into one projection —
    * zero shuffles, no state; aggregate the bitmask downstream for the
    * per-source report. */
  def filterAttribution(docs: DataFrame, idCol: String, textCol: String,
                        minQuality: Int = 40,
                        maxDupBigramMicros: Long = 200000L,
                        minTokens: Int = 5): DataFrame = {
    import graft.functions.{TextAnalysis => TA}
    val t = col(textCol)
    val reasons =
      when(TA.qualityScore(t) < minQuality, 1).otherwise(0) +
        when(TA.langIdProfile(t) === "unknown", 2).otherwise(0) +
        when(TA.dupNgramFractionMicros(t, 2) > maxDupBigramMicros, 4)
          .otherwise(0) +
        when(TA.tokenCount(t) < minTokens, 8).otherwise(0)
    docs.select(col(idCol), reasons.cast("int").as("reasons"),
      (reasons === 0).as("kept"))
  }

  /** Deterministic per-epoch global training order: every epoch gets its
    * own pseudorandom permutation of the corpus, derived purely from
    * (epochSalt, id) — the "reshuffle between epochs" a trainer's data
    * loader needs, with no stored state and bit-identical on re-run.
    *
    * The global rank is materialized WITHOUT a global sort: rows hash
    * into `nShards` uniform shards (the [[shardExport]] keying), rank
    * within a shard comes from a per-shard window (partitions bounded by
    * corpus/nShards), and shard base offsets are an exclusive prefix sum
    * over the O(nShards) shard counts — a driver carry, the
    * [[SequencePack]] discipline. Global order ≡ (shard, hash, id).
    *
    * Returns (idCol, shard, grank) with grank a 1-based permutation of
    * 1..N. Scale: one exchange (the shard hash), one O(nShards) collect;
    * at 100 TB size nShards so a shard's rows fit one task's sort
    * (~count/nShards rows), exactly the shardExport file-size knob. */
  def epochOrder(docs: org.apache.spark.sql.DataFrame, idCol: String,
                 epochSalt: String, nShards: Int,
                 carry: Seq[String] = Nil): org.apache.spark.sql.DataFrame = {
    require(nShards > 0, s"epochOrder: nShards must be positive, got $nShards")
    // carry columns ride the internal plan unaliased, so a name collision
    // with the reserved internals (or the id itself) would silently feed
    // the shard/rank math the wrong column — fail loudly at construction
    val reserved = Set("__h", "shard", "rk", "base", idCol)
    val clash = carry.filter(reserved.contains)
    require(clash.isEmpty,
      s"epochOrder: carry column(s) ${clash.mkString(", ")} collide with " +
        s"reserved internal names (__h, shard, rk, base) or idCol=$idCol")
    val h = graft.catalyst.Md5Prefix40(
      concat(lit(epochSalt), col(idCol).cast("string")))
    // `carry` columns ride the permutation's one exchange instead of
    // being joined back afterwards — a downstream consumer needing doc
    // payload (q177: token counts) would otherwise pay two corpus
    // exchanges for the id join plus a third back to shard partitioning
    val sharded = docs
      .select(col(idCol) +: carry.map(col) :+ h.as("__h"): _*)
      .withColumn("shard", (col("__h") % nShards).cast("int"))
    // O(nShards) driver carry: exclusive prefix sum of shard counts
    val counts = sharded.groupBy("shard").agg(count(lit(1)).as("n"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).sortBy(_._1)
    val bases = counts.scanLeft((0, 0L)) { case ((_, acc), (s, n)) =>
      (s, acc + n)
    }.zip(counts).map { case ((_, base), (s, _)) => (s, base) }
    val baseDf = docs.sparkSession.createDataFrame(bases.toSeq)
      .toDF("shard", "base")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("shard")).orderBy(col("__h"), col(idCol))
    sharded.withColumn("rk", row_number().over(w).cast("long"))
      .join(broadcast(baseDf), Seq("shard"))
      .select(col(idCol) +: carry.map(col) :+ col("shard") :+
        (col("base") + col("rk")).as("grank"): _*)
  }

  /** Per-key quantile normalization of an integer score — the calibration
    * step a multi-source curation pipeline needs before comparing quality
    * scores ACROSS sources (a "70" from a clean source and a "70" from a
    * noisy one sit at very different percentiles). Output: each row with
    * `pct_micros` = floor(1e6 · P[score' ≤ score | key]), the within-key
    * inclusive CDF as exact integer micros.
    *
    * Scale shape (the q44 micro-bucket discipline, NOT a per-key window
    * over the corpus): one map-side-combined aggregation to the
    * O(keys × distinct-scores) count table — bounded by the score domain
    * (an int score has ≤ a few hundred distinct values), NOT by corpus
    * size — a window over that tiny table, and a broadcast join back over
    * the corpus scan. A naive `cume_dist` window partitioned by key would
    * sort the whole corpus per key; this never sorts the big side at
    * all. */
  def quantileNormalize(docs: DataFrame, idCol: String, keyCol: String,
                        scoreCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val counts = docs.groupBy(col(keyCol), col(scoreCol))
      .agg(count(lit(1)).as("__n"))
    val wc = Window.partitionBy(col(keyCol)).orderBy(col(scoreCol))
    val wt = Window.partitionBy(col(keyCol))
    val cdf = counts
      .withColumn("__cum", sum(col("__n")).over(wc))
      .withColumn("__tot", sum(col("__n")).over(wt))
      .select(col(keyCol), col(scoreCol),
        floor(col("__cum") * 1000000L / col("__tot")).cast("bigint")
          .as("pct_micros"))
    docs.select(col(idCol), col(keyCol), col(scoreCol))
      .join(broadcast(cdf), Seq(keyCol, scoreCol))
      .select(col(idCol), col(keyCol), col(scoreCol), col("pct_micros"))
  }

  /** REPEAT-AWARE token budgeting (the data-constrained scaling recipe,
    * Muennighoff et al. 2023: repeating pretraining data up to ~4
    * epochs is nearly as good as fresh tokens; beyond that, returns
    * decay fast): given per-source available token counts and a total
    * training budget, allocate served tokens by EXACT-INTEGER
    * WATERFILLING under the per-source cap maxEpochs·avail — every
    * uncapped source serves the same water level λ, capped sources
    * serve their cap, and λ is the unique level with
    * Σ min(cap_i, λ) = budget (floored: the unallocated remainder is
    * < the number of uncapped sources — sub-token slack, documented).
    *
    * The closed form avoids the iterative waterfall: sort caps
    * ascending, and for each prefix length j test
    * λ_j = (budget − Σ_{i≤j} cap_i) div (n − j); the valid j is the one
    * with cap_j ≤ λ_j < cap_{j+1}. O(sources) rows end to end — the
    * windows run over the per-source table, never the corpus; a budget
    * at or above Σ caps refuses DIRECTED (there is no level; serving
    * beyond maxEpochs epochs is the paper's anti-pattern).
    *
    * Input `perSource` must expose (srcCol, `avail`) with every avail
    * STRICTLY positive — a zero-avail source has no defined epoch
    * count (served·10⁶ div 0: Spark's integer div returns NULL
    * silently where DuckDB's `//` raises) and its cap-0 row would
    * always read 'capped', skewing the candidate solve — so it
    * refuses DIRECTED (filter empty sources before budgeting);
    * output one row per source: (source, avail_tokens, cap_tokens,
    * served_tokens, epochs_micros = served·10⁶ div avail, capped). */
  def tokenBudgetWaterfill(perSource: DataFrame, srcCol: String,
                           budget: Long, maxEpochs: Int = 4): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(budget > 0 && maxEpochs >= 1)
    val caps = perSource.select(col(srcCol).as("source"),
        col("avail").cast("long").as("avail"))
      .select(col("source"),
        when(col("avail") <= 0L, raise_error(concat(
          lit("tokenBudgetWaterfill: source '"), col("source").cast("string"),
          lit("' has no available tokens — epochs_micros is undefined " +
            "at avail = 0; filter empty sources before budgeting"))))
          .otherwise(col("avail")).as("avail"))
      .withColumn("cap", col("avail") * maxEpochs)
    val w = Window.orderBy(col("cap").asc, col("source").asc)
    val ranked = caps
      .withColumn("rk", row_number().over(w).cast("long"))
      .withColumn("cum_prev",
        coalesce(sum(col("cap")).over(w.rowsBetween(
          Window.unboundedPreceding, -1)), lit(0L)))
      .withColumn("prev_cap", lag(col("cap"), 1).over(w))
      .withColumn("n", count(lit(1)).over(
        Window.partitionBy().rowsBetween(
          Window.unboundedPreceding, Window.unboundedFollowing)))
    val cands = ranked
      .withColumn("lam", expr(
        s"($budget - cum_prev) div (n - rk + 1)"))
      .filter(col("lam") < col("cap") &&
        (col("rk") === 1L || col("prev_cap") <= col("lam")))
      .select(min(col("lam")).as("lam"))
    val lamRow = cands.collect()
    require(lamRow.nonEmpty && !lamRow.head.isNullAt(0),
      s"tokenBudgetWaterfill: budget $budget meets or exceeds the " +
        s"total $maxEpochs-epoch capacity — serving beyond $maxEpochs " +
        "epochs is the documented anti-pattern; lower the budget or " +
        "add data")
    val lam = lamRow.head.getLong(0)
    caps.select(col("source"), col("avail").as("avail_tokens"),
        col("cap").as("cap_tokens"),
        least(col("cap"), lit(lam)).as("served_tokens"))
      .select(col("source"), col("avail_tokens"), col("cap_tokens"),
        col("served_tokens"),
        expr("served_tokens * 1000000 div avail_tokens")
          .as("epochs_micros"),
        (col("cap_tokens") === col("served_tokens")).as("capped"))
  }

  /** Per-source curation funnel — the attrition report every multi-stage
    * pipeline needs: documents and tokens surviving each CUMULATIVE
    * stage (raw → quality ≥ minQuality → language identified → exact
    * dedup with the min-id keeper applied AMONG survivors), one row per
    * source with docs/tokens at every stage. "Which stage eats which
    * source" is the first question a data-mix owner asks; this answers
    * it with two corpus scans (one builds the md5→keeper table over
    * survivors — uniform keys; one attributes every doc), a keeper join
    * on the uniform hash, and one O(sources) aggregate — nothing
    * quadratic, nothing driver-side. */
  def curationFunnel(docs: DataFrame, idCol: String = "doc_id",
                     srcCol: String = "source", textCol: String = "text",
                     minQuality: Int = 40): DataFrame = {
    import graft.functions.{TextAnalysis => TA}
    val d = docs.select(col(idCol).as("id"), col(srcCol).as("src"),
      TA.tokenCount(col(textCol)).cast("long").as("n_tok"),
      (TA.qualityScore(col(textCol)) >= minQuality).as("q"),
      (TA.langIdProfile(col(textCol)) =!= "unknown").as("l"),
      md5(col(textCol)).as("m"))
    val keepers = d.filter(col("q") && col("l"))
      .groupBy(col("m")).agg(min(col("id")).as("keeper"))
    def docsAt(c: Column) = sum(when(c, 1L).otherwise(0L))
    def toksAt(c: Column) = sum(when(c, col("n_tok")).otherwise(0L))
    val ql = col("q") && col("l")
    val dd = ql && col("id") === col("keeper")
    d.join(keepers, Seq("m"), "left")
      .groupBy(col("src").as("source"))
      .agg(count(lit(1)).as("raw_docs"), sum(col("n_tok")).as("raw_toks"),
        docsAt(col("q")).as("q_docs"), toksAt(col("q")).as("q_toks"),
        docsAt(ql).as("ql_docs"), toksAt(ql).as("ql_toks"),
        docsAt(dd).as("dedup_docs"), toksAt(dd).as("dedup_toks"))
  }
}

/** Boundary-class greedy prefix for [[Governance.budgetCurate]]: a
  * range-partitioned two-pass scan (q51 machinery) over the boundary
  * documents sorted by (source, hash, id). State = per-source token sums
  * of the rows seen so far, so the phase-2 carry tells each range exactly
  * how many tokens of each source's boundary class precede it. A document
  * is emitted when its inclusive running sum still fits the source's
  * remaining budget — a true prefix (token counts are positive). */
final class BudgetPrefixBuffer(remaining: Map[String, Long])
    extends graft.pipes.CScanBuffer[Map[String, Long]] {
  import org.apache.spark.sql.types._
  val resultFields: graft.model.CFields = graft.model.CFields.typed(
    "doc_id" -> LongType, "source" -> StringType,
    "quality" -> IntegerType, "n_tok" -> LongType)
  def zero: Map[String, Long] = Map.empty
  def observe(s: Map[String, Long], row: org.apache.spark.sql.Row): Map[String, Long] = {
    val src = row.getAs[String]("source")
    s.updated(src, s.getOrElse(src, 0L) + row.getAs[Long]("n_tok"))
  }
  def merge(l: Map[String, Long], r: Map[String, Long]): Map[String, Long] =
    r.foldLeft(l) { case (m, (k, v)) => m.updated(k, m.getOrElse(k, 0L) + v) }
  def emit(carry: Map[String, Long],
           rows: Iterator[org.apache.spark.sql.Row]): Iterator[Seq[Any]] = {
    val running = scala.collection.mutable.Map[String, Long]()
    rows.flatMap { row =>
      val src = row.getAs[String]("source")
      val cum = running.getOrElse(src, carry.getOrElse(src, 0L)) +
        row.getAs[Long]("n_tok")
      running(src) = cum
      if (cum <= remaining.getOrElse(src, 0L))
        Some(Seq(row.getAs[Long]("doc_id"), src,
          row.getAs[Int]("quality"), row.getAs[Long]("n_tok")))
      else None
    }
  }
}
