package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.catalyst.expressions.Attribute
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.graftbridge.PlanBridge.mergeJoins
import graft.exec.PlanContract
import graft.exec.PlanContract.{BucketedScan, ExchangeOn, Expr, Holds, Node,
  PrunedScan, Scan, contracted}
import graft.functions.{Dedup, Similarity, TextAnalysis => TA}
import graft.sources.Parquet

/** Training-data-pipeline extension queries: text analysis, dedup,
  * similarity search, multimodal plumbing, sessionization, windowed
  * (stream-shaped) aggregation. Oracle SQL is generated alongside so the
  * deterministic hash constants can never drift between engines. */
object Extensions {

  // ---- shared DuckDB fragments (mirror graft.functions exactly) ----------
  /** 40-bit md5 token hash, DuckDB spelling of TA.tokenHash. */
  private def dTokHash(t: String) =
    s"CAST(concat('0x', substr(md5($t), 1, 10)) AS BIGINT)"
  /** 60-bit md5 token hash (15 hex nibbles) — Md5Prefix60's spelling. */
  private def dTokHash60(t: String) =
    s"CAST(concat('0x', substr(md5($t), 1, 15)) AS BIGINT)"
  private val dToks = "string_split(text, ' ')"
  private def dStopHits(words: Seq[String]) =
    s"len(list_filter($dToks, t -> t IN (${words.map(w => s"'$w'").mkString(",")})))"

  /** The Gopher 7-rule verdict as one SQL expression over a relation
    * exposing `text` — TextAnalysis.gopherRules' spelling, shared by the
    * q171 battery oracle and the q304 distillation labels so the rule
    * set cannot drift between them. */
  private def gopherRulesSqlExpr(minWords: Int, maxWords: Int): String = {
    val lns = "string_split(text, chr(10))"
    def frac(n: String, den: String) =
      s"CAST(floor($n * 1000000 / greatest($den, 1)) AS BIGINT)"
    val meanLen = s"CAST(floor(CAST(list_sum(list_transform($dToks, " +
      s"t -> length(t))) AS BIGINT) * 1000000 / len($dToks)) AS BIGINT)"
    val symbols = raw"len(regexp_extract_all(text, '#|\.\.\.|…'))"
    val bullets = s"len(list_filter($lns, l -> starts_with(l, '- ') " +
      "OR starts_with(l, '* ') OR starts_with(l, '• ')))"
    val ellipsis = s"len(list_filter($lns, l -> ends_with(l, '...') " +
      "OR ends_with(l, '…')))"
    val alpha =
      s"len(list_filter($dToks, w -> regexp_matches(w, '[A-Za-z]')))"
    s"""CAST((CASE WHEN len($dToks) < $minWords OR len($dToks) > $maxWords
       |           THEN 1 ELSE 0 END)
       |      + (CASE WHEN $meanLen < 3000000 OR $meanLen > 10000000
       |           THEN 2 ELSE 0 END)
       |      + (CASE WHEN ${frac(symbols, s"len($dToks)")} > 100000
       |           THEN 4 ELSE 0 END)
       |      + (CASE WHEN ${frac(bullets, s"len($lns)")} > 900000
       |           THEN 8 ELSE 0 END)
       |      + (CASE WHEN ${frac(ellipsis, s"len($lns)")} > 300000
       |           THEN 16 ELSE 0 END)
       |      + (CASE WHEN ${frac(alpha, s"len($dToks)")} < 800000
       |           THEN 32 ELSE 0 END)
       |      + (CASE WHEN ${dStopHits(TA.EnStop)} < 2 THEN 64 ELSE 0 END)
       |      AS INTEGER)""".stripMargin
  }

  // ---- shared constants for the governance/relevance queries (used by
  // both the Spark plan and the generated oracle so they cannot drift) ----
  private val Bm25Terms = Seq("spark", "query", "join")

  /** The multi-query serving batch (q326/q327): query 0 carries q313's
    * original term set (single-probe parity inside the batch), queries
    * 1-2 distinct term sets — all from the fixed corpus vocabulary.
    * query_id doubles as the probe vector's vec_id. ONE constant feeds
    * the Spark batch, the streamed feed, and both oracles. */
  private val MultiQueryTerms: Seq[(Long, Seq[String])] = Seq(
    0L -> Bm25Terms,
    1L -> Seq("filter", "merge"),
    2L -> Seq("scan", "window", "batch"))

  /** q329's growth fixture: the grown corpus appends ' zz' to every
    * doc_id % 50 == 3 document — 'z' is outside the base corpus
    * alphabet at every SF, so the retrained v3 vocabulary PROVABLY
    * differs from v2 (new alphabet pieces) and a stale-v2 encode
    * provably [UNK]s where v3 segments. ONE constant pair feeds the
    * Spark twin and the oracle spelling. */
  private val WpRefreshResidue = 3L
  private val WpRefreshToken = "zz"
  private def wpGrownSql: String =
    s"(SELECT doc_id, text || CASE WHEN doc_id % 50 = $WpRefreshResidue " +
      s"THEN ' $WpRefreshToken' ELSE '' END AS text FROM documents)"
  private val DecontamN = 4
  private val SampleRates = Seq("en" -> 50, "de" -> 25, "fr" -> 10)
  private val SampleDefaultPct = 5
  private val SampleSalt = "graft-r5"
  private val TempSalt = "graft-r11-temp"
  private val PipeSalt = "graft-r5-pipe"
  private val SplitSalt = "graft-r5-split"
  /** Probe words for q104 (blocked fuzzy match). The synthetic corpus has
    * no distance-≤2 pair sharing a first letter, so without these the gate
    * is vacuous (0=0). Expected matches: (graftmatch, graftmatchx) d=1
    * same length-bucket; (graftmatch, graftmatchxz) d=2 ACROSS the 10→12
    * char bucket boundary (exercises the radius-1 neighbor expansion);
    * (graftmatchx, graftmatchxz) d=1 across the boundary. The grovenone/
    * grovenzzz pair is d=3 and must NOT match. Shared verbatim with the
    * oracle SQL; FuzzyMatchSpec asserts the distances independently. */
  private[queries] val CraftedFuzzyWords = Seq(
    "graftmatch", "graftmatchx", "graftmatchxz", "grovenone", "grovenzzz")

  private val ProfileSpecs = Seq(
    graft.functions.Profile.ColSpec("l_orderkey", "long"),
    graft.functions.Profile.ColSpec("l_quantity", "micros"),
    graft.functions.Profile.ColSpec("l_returnflag", "string"),
    graft.functions.Profile.ColSpec("l_shipdate", "ts"))

  /** The CONSOLIDATED PageRank honesty bundle (r15 verdict #3): the full
    * q314 contract — pair-weight artifact staging + append, merge ≡
    * rebuild asserted as a multiset equality, pre/warm/cold converge
    * legs with the cold-stop window, warm-strictly-fewer and ≤ε pins —
    * whose cold comparator output BOTH q298 and q314 gate (they always
    * shared the oracle spelling).
    *
    * r16 measurement-honesty note: the r15-consolidation landed as a
    * per-JVM RESULT MEMO, which made bench passes 2..n of both queries
    * measure a memo hit (raw passes: q314 = [30.1, 0.049, 0.051]) — the
    * recorded min was the memo, not the plan. The memo is GONE: every
    * invocation re-stages the artifact and re-runs all three converge
    * legs from the parquet inputs. The consolidation survives as shared
    * CODE (one bundle both registrations call), not shared results, and
    * the bundle itself was made cheaper (single-action merge≡rebuild
    * check; pageRankConverge now one action/round with lineage-truncated
    * inputs). */
  private def pageRankGateBundle(s: SparkSession, dir: String): DataFrame =
    graft.exec.Frames { f =>
    val G = graft.functions.Graph
    val eps = 500000L
    val edgeT = Tables.stagedTable(s, "graft_q314_pairw")
    val rankT = Tables.stagedTable(s, "graft_q314_ranks")
    val li = Tables.read(s, dir, "lineitem")
    val edgeTap = graft.sources.BucketedTap(edgeT, 8, Seq("src"))
    edgeTap.write(
      G.coOccurrencePairWeights(
        li.filter(col("l_orderkey") % 50 =!= 3),
        "l_orderkey", "l_partkey"),
      graft.sources.SinkMode.Replace)
    val preRank = f.adopt(G.pageRankConverge(
      G.capByDegree(G.mergePairWeights(edgeTap.read(s)), 64),
      eps, None, 16)._1)
    val rankTap = graft.sources.BucketedTap(rankT, 8, Seq("v"))
    rankTap.write(preRank, graft.sources.SinkMode.Replace)
    // r17 (ADVICE): the bundle now runs on EVERY invocation and
    // clearCache() does not free RDD-level localCheckpoint blocks, so
    // each frame's blocks are released after its LAST reader — preRank
    // here (the warm leg reads the rank TAP, not this frame), merged
    // after the warm leg, scratch after the cold leg; the scope releases
    // warm (and everything else on a failed gate). Only cold's blocks
    // stay alive: the returned frame reads them.
    f.release(preRank)
    // the arrival: the batch's pair weights APPEND (orders partition
    // between batches, so per-pair sums merge == rebuild)
    edgeTap.write(
      G.coOccurrencePairWeights(
        li.filter(col("l_orderkey") % 50 === 3),
        "l_orderkey", "l_partkey"),
      graft.sources.SinkMode.Update)
    // LAZY checkpoints: the merge≡rebuild probe below materializes both
    // sides in its own job (r16; two eager checkpoint jobs + two
    // exceptAll jobs collapsed into one action)
    val merged = f.lazily(
      G.capByDegree(G.mergePairWeights(edgeTap.read(s)), 64))
    val scratch = f.lazily(
      G.coOccurrenceEdges(li, "l_orderkey", "l_partkey", 64))
    require(merged.exceptAll(scratch)
        .unionByName(scratch.exceptAll(merged))
        .limit(1).isEmpty,
      "q314/q298: the appended pair-weight artifact does not " +
        "reproduce the from-scratch capped graph — merge != rebuild")
    val (warm, rw) = G.pageRankConverge(merged, eps,
      Some(rankTap.read(s)), 16)
    f.adopt(warm)
    f.release(merged)
    val (cold, rc) = G.pageRankConverge(scratch, eps, None, 16)
    f.adopt(cold)
    f.release(scratch)
    require(rc >= 2 && rc <= 12,
      s"q314/q298: cold stop at $rc rounds — outside the oracle's " +
        "unrolled window [2, 12]")
    require(rw < rc,
      s"q314/q298: the artifact warm start must converge in STRICTLY " +
        s"fewer rounds (warm $rw vs cold $rc) — the persisted ranks " +
        "bought nothing")
    val drift = warm.as("w").join(cold.as("c"), col("w.v") === col("c.v"))
      .agg(max(abs(col("w.r") - col("c.r"))).as("d"))
      .collect().head.getLong(0)
    require(drift <= eps,
      s"q314/q298: warm stop sits $drift units from cold — above " +
        "the ε pin")
    f.keep(cold).select(col("v").as("vertex"),
      col("r").as("rank_scaled"), lit(rc.toLong).as("rounds"))
  }

  /** The composed retrieval stack's persisted artifacts (q313/q326/
    * q327): postings + stats (the q300 lexical layout), IVF centroids
    * + PQ codebook + bucketed packed codes (the q223 dense layout),
    * and the raw-vector tap the rerank leg serves from. */
  private case class RetrievalArtifacts(postings: String,
      stats: graft.sources.ParquetTap, ivfCents: graft.sources.ParquetTap,
      pqBook: graft.sources.ParquetTap,
      ivfCodes: String, rawVecs: String)

  /** Build & persist the full composed-stack artifact set under
    * `tag`-scoped staged names — ONE builder shared by the
    * single-probe (q313), batch-of-queries (q326) and streamed-query
    * (q327) serving gates so the layouts cannot drift. */
  private def buildRetrievalArtifacts(s: SparkSession, dir: String,
                                      tag: String): RetrievalArtifacts = {
    val I = graft.functions.InvertedIndex
    val R = graft.functions.Relevance
    val postT = Tables.stagedTable(s, s"graft_${tag}_postings")
    val codesT = Tables.stagedTable(s, s"graft_${tag}_ivf_codes")
    val vecsT = Tables.stagedTable(s, s"graft_${tag}_raw_vecs")
    // r17 (verdict #4, guide §5 driver work): only the three BUCKETED
    // artifacts need catalog tables (bucket metadata lives in the
    // metastore); the two tiny unbucketed ones (IVF centroids, dense PQ
    // codebook — both broadcast at serve time) now stage as plain
    // parquet paths, dropping two saveAsTable create/drop round-trips
    // plus two DROP TABLE statements per invocation. Layouts and serving
    // plans are unchanged (both sides were always broadcast).
    val docs = Tables.read(s, dir, "documents")
    val e = Tables.read(s, dir, "embeddings")
    // the lexical artifacts (the q300 layout)
    val tap = I.indexTap(postT, 16)
    tap.write(I.buildWithDl(docs, "doc_id", "text"),
      graft.sources.SinkMode.Replace)
    val statsTap = graft.sources.ParquetTap(
      graft.queries.Relational.stagePath(s"graft_${tag}_stats", dir))
    statsTap.write(R.corpusStats(docs, "text"),
      graft.sources.SinkMode.Replace)
    // the dense artifacts (the q223 layout) + the raw-vector tap
    val (ivfCents, lists) = Similarity.ivfKMeansBuild(
      e, "vec_id", "embedding", nlist = 16, iters = 2)
    val (pqCents, codes) = Similarity.pqBuild(
      e, "vec_id", "embedding", m = 8, kSub = 16, iters = 2, dim = 64)
    val book = Similarity.pqDenseCodebook(pqCents)
    val centsTap = graft.sources.ParquetTap(
      graft.queries.Relational.stagePath(s"graft_${tag}_ivf_cents", dir))
    val bookTap = graft.sources.ParquetTap(
      graft.queries.Relational.stagePath(s"graft_${tag}_pq_book", dir))
    centsTap.write(ivfCents, graft.sources.SinkMode.Replace)
    bookTap.write(book, graft.sources.SinkMode.Replace)
    val ivfCodes = lists.select(col("nn_id"), col("cent"))
      .join(Similarity.pqPackCodes(codes, book), Seq("nn_id"))
    graft.sources.BucketedTap(codesT, 8, Seq("cent"))
      .write(ivfCodes, graft.sources.SinkMode.Replace)
    graft.sources.BucketedTap(vecsT, 8, Seq("vec_id"))
      .write(e.select(col("vec_id"), col("embedding")),
        graft.sources.SinkMode.Replace)
    RetrievalArtifacts(postT, statsTap, centsTap, bookTap, codesT, vecsT)
  }

  /** The probe vectors as a bounded DRIVER CARRY (the known-query
    * serving shape — reading them from embeddings.parquet inside the
    * serving plan would defeat the no-corpus-scan assert). */
  private def probeVectors(s: SparkSession, dir: String, ids: Seq[Long],
                           qname: String): DataFrame = {
    val qSel = Tables.read(s, dir, "embeddings")
      .select(col("vec_id"), col("embedding"))
    val qRows = qSel.filter(col("vec_id").isin(ids: _*)).collect()
    require(qRows.length == ids.size,
      s"$qname: expected probe vectors ${ids.mkString(",")}, found " +
        s"${qRows.length}")
    s.createDataFrame(java.util.Arrays.asList(qRows: _*), qSel.schema)
  }

  /** The composed-stack serving-plan contract (q313, held on the
    * multi-query plan by q326): artifacts only — no corpus scan on
    * either leg, a strictly bucket-pruned term probe, no codes-side
    * or rerank-side corpus exchange. */
  private def composedServingPlan(qname: String): Seq[PlanContract.Clause] = {
    val artifactsOnly = s"$qname: the composed serving plan must read " +
      "ONLY the persisted artifacts — a corpus scan on either leg is " +
      "what the indexes amortize away"
    Seq(Scan("documents.parquet").absent(artifactsOnly),
      Scan("embeddings.parquet").absent(artifactsOnly),
      PrunedScan.present(s"$qname: the term probe must be a bucket-pruned " +
        "scan reading strictly fewer buckets than the layout"),
      ExchangeOn("cent").absent(
        s"$qname: probed ADC must never exchange the codes side"),
      ExchangeOn("nn_id").absent(s"$qname: rerank top-k must move as heap " +
        "partials, never a corpus-side row exchange"))
  }

  /** The persisted-index join contract: only the batch side shuffles on
    * `key` (its `rows`), into the layout of the bucket-aware index scan
    * on the corpus side. */
  private def indexJoin(key: String, rows: String): Seq[PlanContract.Clause] =
    Seq(ExchangeOn(key).exactly(1, s"index join must shuffle ONLY the " +
        s"batch $rows"),
      BucketedScan.present("corpus side must be the bucket-aware index scan"))

  /** A single scan-shaped projection: no exchange, no join. */
  private def scanShaped(why: String): Seq[PlanContract.Clause] =
    Seq(Node("Exchange").absent(why), Node("Join").absent(why))

  /** Some window of the plan partitions by `keys` first, in order. */
  private def windowPartitionedBy(keys: String*)(plan: SparkPlan): Boolean =
    PlanContract.operators(plan).exists {
      case w: WindowExec => w.partitionSpec.take(keys.size).collect {
        case a: Attribute => a.name } == keys
      case _ => false
    }

  /** Fresh (in, out, checkpoint) dirs under one staged root — shared by
    * the streaming gate queries. */
  private def freshStreamDirs(name: String): (String, String, String) = {
    val root = Tables.stagedDir(name)
    (s"$root/in", s"$root/out", s"$root/chk")
  }

  /** Stage `slices` as one parquet file each under `in`, mtimes pinned to a
    * fixed strictly-increasing sequence. The file source processes files in
    * MODIFICATION-TIME order with arbitrary tie-breaks; sequential writes
    * usually produce increasing mtimes but fs timestamp granularity can
    * tie, and a tie that reorders a later slice before an earlier one
    * breaks the intended batch order. With `maxFilesPerTrigger=1` each
    * slice then becomes exactly one micro-batch, in staging order. */
  private def stageSliced(in: String, slices: Seq[DataFrame],
                          baseIdx: Int = 0): Unit = {
    val seen = scala.collection.mutable.Set.empty[String]
    // pre-existing files (earlier staging phase, e.g. the checkpoint-
    // recovery query's post-restart slices) keep their pinned mtimes;
    // baseIdx continues the sequence after them
    Option(new java.io.File(in).listFiles()).toSeq.flatten
      .foreach(f => seen += f.getName)
    slices.zipWithIndex.foreach { case (df, i) =>
      df.coalesce(1).write.mode("append").parquet(in)
      new java.io.File(in).listFiles()
        .filter(f => f.getName.endsWith(".parquet") && !seen(f.getName))
        .foreach { f =>
          seen += f.getName
          // fail LOUDLY if the fs refuses: silent mtime-pinning failure
          // resurrects the nondeterministic batch-order bug this exists
          // to prevent
          require(f.setLastModified(1600000000000L + (baseIdx + i) * 60000L),
            s"setLastModified failed for $f — cannot pin staging order")
        }
    }
  }

  /** `ev` split into three equal time slices on `tsCol`, in time order. */
  private def timeSlices(ev: DataFrame, tsCol: String): Seq[DataFrame] = {
    val Array(tMin, tMax) = ev.agg(min(col(tsCol)), max(col(tsCol))).head()
      .toSeq.map(_.asInstanceOf[java.sql.Timestamp].getTime).toArray
    val (t1, t2) = (tMin + (tMax - tMin) / 3, tMin + 2 * (tMax - tMin) / 3)
    def ms = unix_millis(col(tsCol))
    Seq(ev.filter(ms < t1), ev.filter(ms >= t1 && ms < t2), ev.filter(ms >= t2))
  }

  /** The shared staging recipe of every multi-batch streaming gate query:
    * the three [[timeSlices]] of `ev` plus the caller's sentinel slice
    * (far-future row(s) that advance the watermark past all real data),
    * staged as one file per slice so `maxFilesPerTrigger=1` yields 4 real
    * micro-batches in order. */
  private def stageTimeSliced(in: String, ev: DataFrame, tsCol: String,
                              sentinel: DataFrame): Unit =
    stageSliced(in, timeSlices(ev, tsCol) :+ sentinel)

  /** q132 mixture constants, shared by the Spark query and the oracle SQL
    * (a wrong formula generated into both spellings is invisible to the
    * gate — FormulaPinSpec recomputes the whole mixture brute-force).
    * Shares ramp linearly src0→src19 (share_i ∝ i+1 over Σ=210), so the
    * mixture REWEIGHTS a near-uniform corpus: low sources sample to well
    * under their natural share, the top sources clamp at keep-everything. */
  val MixtureShares: Map[String, Long] =
    (0 until 20).map(i => s"src$i" -> ((i + 1) * 1000000L / 210)).toMap
  val MixtureBudgetRatioMicros = 500000L
  val MixtureSalt = "graft-r7m"

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // --- text analysis -----------------------------------------------------
    "q20_token_stats" -> ((s, dir) => {
      val d = Tables.read(s, dir, "documents")
      d.select(col("doc_id"),
        TA.tokenCount(col("text")).as("n_tokens"),
        TA.distinctTokenCount(col("text")).as("n_distinct"),
        TA.meanTokenLenMicros(col("text")).as("mean_tok_len_micros"),
        size(TA.preTokens(col("text"))).as("n_pretokens"))
    }),

    "q21_langid" -> ((s, dir) => {
      val d = Tables.read(s, dir, "documents")
      d.select(col("lang"), TA.langId(col("text")).as("pred_lang"))
        .groupBy("lang", "pred_lang").agg(count(lit(1)).as("n"))
    }),

    "q22_quality" -> ((s, dir) => {
      val d = Tables.read(s, dir, "documents")
      d.select(col("doc_id"), TA.qualityScore(col("text")).as("quality"))
    }),

    "q23_fingerprint" -> ((s, dir) => {
      val d = Tables.read(s, dir, "documents")
      d.select(col("doc_id"), TA.fingerprint(col("text")).as("fp"))
    }),

    // --- corpus-level n-gram statistics: top-20 bigrams with a total
    // deterministic order (count desc, bigram asc). Scale shape: the
    // explode feeds a partial+final hash aggregate (map-side combine
    // absorbs the per-doc repetition) and only the single ordered LIMIT
    // gathers — the standard corpus-analysis pattern at 100 TB.
    "q75_ngram_topk" -> ((s, dir) => {
      val d = Tables.read(s, dir, "documents")
      d.select(explode(Dedup.shingles(col("text"), 2)).as("bigram"))
        .groupBy("bigram").agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("bigram").asc)
        .limit(20)
    }),

    // --- per-document repetition metrics (Gopher/RefinedWeb-style
    // quality filters): duplicate-bigram fraction and most-frequent-token
    // mass, both exact integer micros, both single-scan Column expressions
    "q76_repetition" -> ((s, dir) => {
      val d = Tables.read(s, dir, "documents")
      d.select(col("doc_id"),
        TA.dupNgramFractionMicros(col("text"), 2).as("dup_bigram_micros"),
        TA.topTokenFractionMicros(col("text")).as("top_tok_micros"))
    }),

    // --- dedup -------------------------------------------------------------
    "q24_dedup_exact" -> ((s, dir) =>
      Dedup.exactDedup(Tables.read(s, dir, "documents"), "doc_id", "text")),

    "q25_minhash_lsh" -> ((s, dir) =>
      Dedup.minhashClusters(
        Tables.read(s, dir, "documents"), "doc_id", "text", k = 16, bands = 4)),

    // Transitive closure of the LSH near-dup graph (iterated min-label
    // propagation = connected components); oracle mirrors it as the same
    // propagation unrolled to a fixed iteration count (a fixed point is
    // stable, so any oracle round count >= the converged count matches)
    // maxIters MUST equal the oracle's unrolled round count: converged
    // early -> extra oracle rounds are no-ops (fixed point); NOT converged
    // by round 8 -> both sides stop at exactly 8 rounds and still match
    "q64_minhash_transitive" -> ((s, dir) =>
      Dedup.minhashClustersTransitive(
        Tables.read(s, dir, "documents"), "doc_id", "text",
        k = 16, bands = 4, maxIters = 8)),

    "q26_simhash" -> ((s, dir) => {
      val d = Tables.read(s, dir, "documents")
      d.select(col("doc_id"), Dedup.simhash32(col("text")).as("simhash"))
    }),

    "q27_neardup_jaccard" -> ((s, dir) =>
      Dedup.nearDupPairs(Tables.read(s, dir, "documents"),
        "doc_id", "text", thresholdMicros = 400000L)),

    // --- similarity search -------------------------------------------------
    "q28_knn_brute" -> ((s, dir) => {
      val e = Tables.read(s, dir, "embeddings")
      Similarity.bruteForceKnn(e, e.filter(col("vec_id") < 20),
        "vec_id", "embedding", k = 3)
    }),

    "q32_lsh_buckets" -> ((s, dir) => {
      val e = Tables.read(s, dir, "embeddings")
      e.select(col("vec_id"),
          Similarity.hyperplaneBucket(col("embedding"), 8).as("bucket"))
        .groupBy("bucket").agg(count(lit(1)).as("n"))
    }),

    // --- MATRYOSHKA truncation audit (Similarity.mrlTruncationAudit
    // scaladoc): retrieve with the first 16 of 64 dims, audit each hit
    // against the full-dim exact top-k. Non-vacuity asserted both ways:
    // truncation must CHANGE at least one hit (a vacuous prefix width
    // gates nothing) and must AGREE on at least one (a prefix that
    // retrieves nothing shared is a broken slice, not an audit).
    "q308_mrl_truncation" -> ((s, dir) => {
      val e = Tables.read(s, dir, "embeddings")
      val df = graft.functions.Similarity.mrlTruncationAudit(
        e, e.filter(col("vec_id") < 20), "vec_id", "embedding",
        k = 3, dims = 16)
      require(df.filter(!col("in_full_topk")).limit(1).count() == 1,
        "q308: truncation to 16 dims changed NO top-k hit — the audit " +
          "is vacuous at this prefix width")
      require(df.filter(col("in_full_topk")).limit(1).count() == 1,
        "q308: the truncated retrieval shares NO hit with full-dim — " +
          "slice arithmetic broken")
      df
    }),

    "q48_ivf_knn" -> ((s, dir) => {
      val e = Tables.read(s, dir, "embeddings")
      graft.functions.Similarity.ivfKnn(e, e.filter(col("vec_id") < 10),
        "vec_id", "embedding", k = 3, nlist = 16, nprobe = 4)
    }),

    // k-means-refined IVF: 2 deterministic Lloyd rounds over micro-
    // quantized centroids (floor(x*1e6) longs — every step IEEE-exact and
    // engine-portable), then probe + exact rank as in q48
    "q66_ivf_kmeans" -> ((s, dir) => {
      val e = Tables.read(s, dir, "embeddings")
      graft.functions.Similarity.ivfKnnKMeans(e, e.filter(col("vec_id") < 10),
        "vec_id", "embedding", k = 3, nlist = 16, nprobe = 4, iters = 2)
    }),

    "q33_lsh_knn" -> ((s, dir) => {
      val e = Tables.read(s, dir, "embeddings")
      Similarity.lshKnn(e, e.filter(col("vec_id") < 20),
        "vec_id", "embedding", k = 3, nPlanes = 8)
    }),

    // --- int8 embedding quantization (4x storage/shuffle reduction) -------
    "q58_quantize" -> ((s, dir) => {
      val e = Tables.read(s, dir, "embeddings")
      val q = Similarity.quantizeInt8(col("embedding"))
      e.select(col("vec_id"), q.as("q"))
        .select(col("vec_id"),
          col("q.scale").as("scale"),
          aggregate(col("q.codes"), lit(0L), (a, c) => a + c.cast("long"))
            .as("code_sum"))
    }),

    // --- sessionization (event-stream shaping) ----------------------------
    "q29_sessionize" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      val gap = unix_timestamp(col("ts")) - unix_timestamp(lag(col("ts"), 1).over(w))
      val isNew = when(gap.isNull || gap > 1800L, 1L).otherwise(0L)
      ev.withColumn("session_id",
          sum(isNew).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .groupBy(col("user_id"), col("session_id"))
        .agg(count(lit(1)).as("n_events"),
          min(col("ts")).as("start_ts"), max(col("ts")).as("end_ts"),
          graft.catalyst.ExactMicrosSum.sum(col("value")).as("sum_value"))
    }),

    // --- tumbling-window aggregation (batch form of the streaming op) ------
    "q31_stream_window" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      ev.groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
        .agg(count(lit(1)).as("n"),
          graft.catalyst.ExactMicrosSum.sum(col("value")).as("sum_value"))
        .select(col("w.start").as("w_start"), col("event_type"), col("n"), col("sum_value"))
    }),

    // --- the STREAMING form of q31 under the oracle gate: an end-to-end
    // Structured Streaming run (file source → watermarked tumbling-window
    // agg → Trigger.AvailableNow → parquet sink), result = sink read-back.
    // MULTI-BATCH, like q67: the input is staged as three time-sliced
    // files plus a sentinel file and the source runs maxFilesPerTrigger=1,
    // so windows spanning a slice boundary accumulate across micro-batches
    // (window-aggregation state carries batch to batch). Time-slicing
    // keeps event time monotone across batches; the 2-hour watermark delay
    // exceeds the 1-hour window length, so a window cut by a slice
    // boundary is still open (watermark = slice-max − 2 h) when its
    // remaining events arrive in the next batch. Append mode only emits
    // windows the watermark has closed, so the far-future '__flush'
    // sentinel (its own final batch) closes every real window while its
    // own window stays unemitted in state — the sink holds exactly the
    // real windows, which must hash-match the same DuckDB SQL as batch
    // q31.
    "q65_stream_sink" -> ((s, dir) => {
      val (in, out, chk) = freshStreamDirs("graft_q65_stream")
      // stage only the columns the windowed aggregate reads — events.props
      // is a fat JSON string that would otherwise dominate the staging
      // write + 4 per-batch reads
      val ev = Tables.events(s, dir)
        .select(col("ts"), col("event_type"), col("value"))
      val sentinel = ev.limit(1)
        .withColumn("ts", expr("timestamp'2100-01-01 00:00:00'"))
        .withColumn("event_type", lit("__flush"))
      stageTimeSliced(in, ev, "ts", sentinel)
      val stream = graft.streaming.StreamOps.windowedCounts(
        graft.streaming.StreamOps.readStream(s, in, ev.schema,
          Map("maxFilesPerTrigger" -> "1")),
        "ts", "event_type", "1 hour", "2 hours")
      graft.streaming.StreamOps.runToParquet(stream, out, chk)
      // watermark withholding already keeps the far-future sentinel window
      // out of the Append output, but that is a TIMING property — filter
      // the sentinel explicitly (q112-style) so a future watermark-delay
      // or sentinel-timestamp change cannot silently leak it
      Parquet.read(s, out)
        .filter(col("event_type") =!= "__flush")
        .select("w_start", "event_type", "n", "sum_value")
    }),

    // --- STATEFUL streaming under the gate: gap sessionization via
    // flatMapGroupsWithState run as a real MULTI-BATCH stream. The input
    // is staged as THREE time-sliced files plus a sentinel file (one
    // far-future event per user, closing each user's last real session;
    // the sentinel's own session stays in state, never emitted), and the
    // source runs with maxFilesPerTrigger=1, so AvailableNow executes 4
    // micro-batches in staging order: sessions spanning a slice boundary
    // prove that per-user state carries across batches (the round-3 form
    // staged ONE file = one batch per key, leaving cross-batch state
    // untested). Time-slicing guarantees per-user batch ordering; events
    // out of order WITHIN a batch are sorted by the runner, and sessionize
    // additionally merges cross-batch stragglers that land within the open
    // session's gap envelope. sessionize keeps micro-precision timestamps
    // and exact decimal micro sums, so the sink rows hash-match the batch
    // q29 oracle; session_id is derived on read-back by start order
    // (sessions are gap-separated, so the order is unambiguous).
    "q67_stream_sessions" -> ((s, dir) => {
      val (in, out, chk) = freshStreamDirs("graft_q67_stream")
      val ev = Tables.events(s, dir).select(col("user_id"), col("ts"), col("value"))
      // per-user sentinel rows close every user's last real session
      // (order pinned by stageTimeSliced/stageSliced: a tie that
      // reordered the sentinel before a slice would turn that slice's
      // events into spurious late singletons)
      val sentinel = ev.select(col("user_id")).distinct()
        .withColumn("ts", expr("timestamp'2100-01-01 00:00:00'"))
        .withColumn("value", lit(0.0))
      stageTimeSliced(in, ev, "ts", sentinel)
      val stream = graft.streaming.StreamOps.readStream(s, in, ev.schema,
        Map("maxFilesPerTrigger" -> "1"))
      val sessions = {
        import s.implicits._
        graft.streaming.StreamOps.sessionize(
          stream.as[graft.streaming.StreamOps.SessionEvent], 1800)
      }
      graft.streaming.StreamOps.runToParquet(sessions, out, chk)
      val w = Window.partitionBy(col("user_id")).orderBy(col("start_ts"))
      Parquet.read(s, out)
        .withColumn("session_id", row_number().over(w).cast("long"))
        .select(col("user_id"), col("session_id"), col("n_events"),
          col("start_ts"), col("end_ts"), col("sum_value"))
    }),

    // --- watermarked stream-stream join under the gate: purchases enriched
    // with same-user views from the preceding 10 minutes, run as a real
    // stream on both sides (one staged file each → a single AvailableNow
    // batch, so the watermark evicts nothing before all matches emit) and
    // gated against the equivalent batch interval-join SQL.
    "q79_stream_join" -> ((s, dir) => {
      val (in, out, chk) = freshStreamDirs("graft_q79_stream")
      val ev = Tables.events(s, dir)
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("event_id").as("p_id"), col("user_id").as("p_user"),
          col("ts").as("p_ts"))
      val views = ev.filter(col("event_type") === "view")
        .select(col("event_id").as("v_id"), col("user_id").as("v_user"),
          col("ts").as("v_ts"))
      purchases.coalesce(1).write.parquet(s"$in/p")
      views.coalesce(1).write.parquet(s"$in/v")
      val joined = graft.streaming.StreamOps.streamStreamJoin(
        graft.streaming.StreamOps.readStream(s, s"$in/p", purchases.schema),
        graft.streaming.StreamOps.readStream(s, s"$in/v", views.schema),
        "p_user", "v_user", "p_ts", "v_ts",
        watermark = "1 hour", maxDelaySeconds = 600L)
      graft.streaming.StreamOps.runToParquet(joined.select(col("p_id"),
        col("p_user"), col("p_ts"), col("v_id"), col("v_ts")), out, chk)
      Parquet.read(s, out)
    }),

    // --- streaming exact dedup under the gate: content-hash
    // dropDuplicatesWithinWatermark over a single staged batch. Which row
    // survives per hash is engine-internal, so the gated result is the
    // deterministic SET of surviving content hashes (= batch DISTINCT).
    "q80_stream_dedup" -> ((s, dir) => {
      val (in, out, chk) = freshStreamDirs("graft_q80_stream")
      val docs = Tables.read(s, dir, "documents")
        .select(col("doc_id"), col("text"))
        // offset the synthetic event time away from epoch 0: a ts equal to
        // the initial watermark value is border-dropped by the dedup state
        .withColumn("ts", expr("timestamp_micros((doc_id + 86400) * 1000000)"))
      docs.coalesce(1).write.parquet(in)
      val deduped = graft.streaming.StreamOps.dedupStream(
        graft.streaming.StreamOps.readStream(s, in, docs.schema),
        "ts", "text", watermark = "1 hour")
      graft.streaming.StreamOps.runToParquet(deduped.select(
        graft.functions.Dedup.contentHash(col("text")).as("content_hash")),
        out, chk)
      Parquet.read(s, out)
    }),

    // --- grouping sets (absent from reference — SURVEY §2.4 last row) -----
    "q38_rollup" -> ((s, dir) => {
      val li = Tables.read(s, dir, "lineitem")
      li.rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n"),
          graft.catalyst.ExactMicrosSum.sum(col("l_quantity")).as("sum_qty"))
    }),

    "q39_cube" -> ((s, dir) => {
      val o = Tables.read(s, dir, "orders")
      o.cube(col("o_orderstatus"), col("o_orderpriority"))
        .agg(count(lit(1)).as("n"))
    }),

    // --- analytic window functions: lag/lead running deltas ---------------
    "q40_lag_lead" -> ((s, dir) => {
      val o = Tables.read(s, dir, "orders")
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate"), col("o_orderkey"))
      o.select(col("o_custkey"), col("o_orderkey"),
          lag(col("o_orderkey"), 1).over(w).as("prev_order"),
          lead(col("o_orderkey"), 1).over(w).as("next_order"),
          (unix_millis(col("o_orderdate").cast("timestamp")) -
            unix_millis(lag(col("o_orderdate"), 1).over(w).cast("timestamp")))
            .as("ms_since_prev"))
    }),

    // --- skew-safe salted aggregation (result equals plain count) ---------
    "q41_salted_count" -> ((s, dir) => {
      val li = Tables.read(s, dir, "lineitem")
      graft.functions.Skew.saltedCount(li, Seq("l_returnflag"), 16, "n")
    }),

    // --- explicit salted join (skew path when AQE unavailable): result
    // must equal the plain join ---------------------------------------------
    "q61_salted_join" -> ((s, dir) => {
      val li = Tables.read(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_quantity"))
      val o = Tables.read(s, dir, "orders")
        .select(col("o_orderkey"), col("o_orderstatus"))
      graft.functions.Skew.saltedJoin(li, o, "l_orderkey", "o_orderkey", 8)
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n"),
          graft.catalyst.ExactMicrosSum.sum(col("l_quantity")).as("sum_qty"))
    }),

    // --- approximate distinct (HLL) — no cross-engine oracle (approx
    // algorithms differ); driver records a rows-only check. The query
    // carries its own invariant: the HLL estimate must land within 10% of
    // the exact count computed in the SAME aggregation (HLL++ at default
    // rsd 0.05 is well inside that); EntrySpec asserts within_tol on every
    // row, so "rows-only" still gates the approximation quality ------------
    "q42_approx_distinct" -> ((s, dir) => {
      val li = Tables.read(s, dir, "lineitem")
      li.groupBy(col("l_returnflag"))
        .agg(approx_count_distinct(col("l_partkey")).as("approx_parts"),
          count_distinct(col("l_partkey")).as("exact_parts"))
        .withColumn("within_tol",
          abs(col("approx_parts") - col("exact_parts")).cast("double") <=
            lit(0.10) * col("exact_parts").cast("double"))
    }),

    // --- embedding-cosine near-dup (LSH-bucketed, threshold-verified) -----
    // The synthetic embeddings are near-orthogonal (no pair reaches 0.95),
    // so the raw table gated vacuously at 0=0. Augment in-query with
    // deterministic near-dups, mirrored verbatim in the oracle: exact
    // copies of vec_id<5 (+100000 — same bucket, sim 1.0, guaranteed
    // emission) and element-0-perturbed copies of vec_id∈[5,8) (+200000 —
    // float +0.25 is IEEE-identical on both engines; emitted iff the
    // perturbed vector still lands in its source's sign-bucket, which both
    // engines decide identically).
    "q43_emb_neardup" -> ((s, dir) => {
      val e = Tables.read(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding"))
      val dups = e.filter(col("vec_id") < 5)
        .select((col("vec_id") + 100000).as("vec_id"), col("embedding"))
      val near = e.filter(col("vec_id") >= 5 && col("vec_id") < 8)
        .select((col("vec_id") + 200000).as("vec_id"),
          transform(col("embedding"), (x, i) =>
            when(i === 0, x + lit(0.25f)).otherwise(x)).as("embedding"))
      graft.functions.Similarity.embeddingNearDups(
        e.union(dups).union(near), "vec_id", "embedding", simThreshold = 0.95)
    }),

    // --- exact interpolated percentiles, scale-safe form: micro-bucket
    // pre-aggregation (distributed bucket counts + CDF interpolation)
    // instead of Spark's `percentile`, whose per-group buffer holds one
    // counter per distinct value — an OOM hazard on continuous columns at
    // 100 TB. Bucket state is bounded by value RANGE, not row count.
    "q44_percentile" -> ((s, dir) => {
      val li = Tables.read(s, dir, "lineitem")
      // both percentiles in ONE corpus scan (tagged buckets, one shuffle)
      graft.functions.Percentile.microPercentiles(li, Seq("l_returnflag"),
        Seq(graft.functions.Percentile.Spec("l_quantity", 0.5, "p50"),
            graft.functions.Percentile.Spec("l_extendedprice", 0.9, "p90")))
    }),

    // --- approx-percentile twin of q44 (rows-only: sketch internals differ
    // across engines). percentile_approx is the bounded-memory positional
    // sketch — the default choice at 100 TB when estimates suffice; the
    // exact micro-bucket form (q44) is the auditable path. The query
    // carries its own invariant, q42-style: the estimate must land within
    // 1% of the exact interpolated percentile computed in the SAME query
    // (accuracy=10000 is far tighter than that); EntrySpec asserts it.
    "q89_approx_percentile" -> ((s, dir) => {
      val li = Tables.read(s, dir, "lineitem")
      val exact = graft.functions.Percentile.microPercentiles(
        li, Seq("l_returnflag"),
        Seq(graft.functions.Percentile.Spec("l_extendedprice", 0.9, "p90_exact")))
      li.groupBy(col("l_returnflag"))
        .agg(percentile_approx(col("l_extendedprice"), lit(0.9), lit(10000))
          .as("p90_approx"))
        .join(exact, "l_returnflag")
        .withColumn("within_tol",
          abs(col("p90_approx") - col("p90_exact")) <=
            lit(0.01) * abs(col("p90_exact")))
    }),

    // --- JSON property extraction (events.props) ---------------------------
    "q45_json_props" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      ev.select(col("event_type"),
          get_json_object(col("props"), "$.k").cast("int").as("k"))
        .groupBy(col("event_type"), (col("k") % 10).as("k_bucket"))
        .agg(count(lit(1)).as("n"), max(col("k")).as("max_k"))
    }),

    // --- as-of (point-in-time) join: latest view before each purchase -----
    "q46_asof_join" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts"))
      val views = ev.filter(col("event_type") === "view")
        .groupBy(col("user_id"), col("ts"))
        .agg(max(col("value")).as("view_value"))
      graft.operators.AsOfJoin.asOf(purchases, views,
        keys = Seq("user_id"), leftTs = "ts", rightTs = "ts",
        payload = Seq("view_value"), asOfTsCol = "view_ts")
    }),

    // --- range (interval) join: errors attributed to their session --------
    "q47_range_join" -> ((s, dir) => {
      val errors = Tables.events(s, dir)
        .filter(col("event_type") === "error")
        .select(col("event_id"), col("user_id"), col("ts"))
      val sessions = queries("q29_sessionize")(s, dir)
        .select(col("user_id"), col("session_id"),
          col("start_ts"), col("end_ts"))
      graft.operators.RangeJoin.binned(errors, sessions,
          keys = Seq("user_id"), leftTs = "ts",
          startCol = "start_ts", endCol = "end_ts", binWidthSec = 86400L)
        .select(col("event_id"), col("user_id"), col("ts"), col("session_id"))
    }),

    // --- group-level MinHash sketch (TypedImperativeAggregate): signature
    // of the UNION of token sets per language — one scan, k-long buffer
    // per group, map-side partial aggregation -----------------------------
    "q57_minhash_group" -> ((s, dir) => {
      val d = Tables.read(s, dir, "documents")
      d.groupBy(col("lang"))
        .agg(graft.catalyst.MinHashAgg(
          graft.functions.TextAnalysis.tokens(col("text")), 16).as("sig"))
        .select(col("lang") +:
          (0 until 16).map(i => element_at(col("sig"), i + 1).as(s"m$i")): _*)
    }),

    // --- BM25 relevance mining: top-k docs for a literal term bag. Two
    // corpus scans (stats row broadcast, then pure-Column scoring), one
    // ordered LIMIT gather; rational idf + floor-micros keeps the score
    // engine-portable (see graft.functions.Relevance).
    "q81_bm25" -> ((s, dir) =>
      graft.functions.Relevance.bm25TopK(
        Tables.read(s, dir, "documents"), "doc_id", "text",
        Bm25Terms, topK = 20)),

    // --- benchmark decontamination: corpus docs sharing any distinct
    // 4-gram with the (deterministic) eval slice doc_id % 50 = 0. Eval
    // n-gram set is broadcast; corpus side pays one scan + per-doc count.
    "q82_decontaminate" -> ((s, dir) => {
      val d = Tables.read(s, dir, "documents")
      graft.functions.Contamination.overlapReport(
          d.filter(col("doc_id") % 50 =!= 0), d.filter(col("doc_id") % 50 === 0),
          "doc_id", "text", n = DecontamN)
        .withColumnRenamed("id", "doc_id")
    }),

    // --- PII redaction: deterministic synthetic PII (emails/phones/IPs
    // keyed off doc_id — the corpus itself is PII-free) is injected
    // in-query, then counted and scrubbed; gated on the hit counts AND the
    // md5 of every redacted text. Pure Column pass, one scan.
    "q83_pii_redact" -> ((s, dir) => {
      val d = Tables.read(s, dir, "documents")
      val G = graft.functions.Governance
      val injected = concat(col("text"),
        when(col("doc_id") % 5 === 0,
          concat(lit(" contact user"), col("doc_id").cast("string"),
            lit("@example.com"))).otherwise(lit("")),
        when(col("doc_id") % 7 === 0,
          concat(lit(" call 555-"),
            lpad((col("doc_id") % 10000).cast("string"), 4, "0")))
          .otherwise(lit("")),
        when(col("doc_id") % 11 === 0,
          concat(lit(" from 10.0."), (col("doc_id") % 256).cast("string"),
            lit(".1"))).otherwise(lit("")))
      d.select(col("doc_id"),
        G.piiHits(injected, G.EmailRegex).as("n_emails"),
        G.piiHits(injected, G.PhoneRegex).as("n_phones"),
        G.piiHits(injected, G.Ipv4Regex).as("n_ips"),
        md5(G.redactPii(injected)).as("redacted_hash"))
    }),

    // --- reproducible stratified sampling: md5-bucket keep-predicate with
    // per-language rates — the SAME rows survive on any engine/partitioning
    // (auditable corpus cuts, unlike rand()-based sample). Zero shuffles.
    "q84_hash_sample" -> ((s, dir) =>
      Tables.read(s, dir, "documents")
        .filter(graft.functions.Governance.stratifiedKeep(
          col("doc_id"), col("lang"), SampleRates, SampleDefaultPct, SampleSalt))
        .select(col("doc_id"), col("lang"))),

    // --- chunk-level exact dedup (exact-substring granularity): disjoint
    // 10-token chunks, first-occurrence-wins across the corpus
    "q85_chunk_dedup" -> ((s, dir) =>
      Dedup.chunkDedup(Tables.read(s, dir, "documents"),
          "doc_id", "text", w = 10)
        .withColumnRenamed("id", "doc_id")),

    // --- one-pass column profiling over lineitem (exact distincts; see
    // graft.functions.Profile for the scale notes + approx twin pointer)
    "q86_profile" -> ((s, dir) =>
      graft.functions.Profile.profile(
        Tables.read(s, dir, "lineitem"), ProfileSpecs)),

    // --- distribution window functions (ntile / percent_rank / cume_dist):
    // rank-family ratios are exact IEEE divisions — portable across engines
    "q87_window_dist" -> ((s, dir) => {
      val o = Tables.read(s, dir, "orders")
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate"), col("o_orderkey"))
      o.select(col("o_custkey"), col("o_orderkey"),
        ntile(4).over(w).as("quartile"),
        percent_rank().over(w).as("pct_rank"),
        cume_dist().over(w).as("cume"))
    }),

    // --- end-to-end curation pipeline: the composition story — quality
    // filter → language filter → exact dedup (first-occurrence wins) →
    // reproducible 50% hash sample, all deterministic, gated as one
    // query. One corpus scan feeds filter+enrich (pure Columns); dedup is
    // one uniform-key shuffle; sampling is a scan-stage predicate. This is
    // the shape of a production 100 TB curation job.
    "q90_curation_pipeline" -> ((s, dir) => {
      val d = Tables.read(s, dir, "documents")
      val enriched = d.select(col("doc_id"),
        TA.qualityScore(col("text")).as("quality"),
        TA.langId(col("text")).as("pred_lang"),
        Dedup.contentHash(col("text")).as("ch"))
      val filtered = enriched
        .filter(col("quality") >= 40 && col("pred_lang") === "en")
      // duplicate texts share one hash AND one quality value, so
      // max(quality) is exact (not a tie-break)
      val kept = filtered.groupBy(col("ch"))
        .agg(min(col("doc_id")).as("doc_id"), max(col("quality")).as("quality"))
      kept.filter(
          graft.functions.Governance.hashBucket(col("doc_id"), PipeSalt) < 50)
        .select(col("doc_id"), col("quality"))
    }),

    // --- deterministic train/val/test split (88/7/5) summarized per
    // source: reproducible dataset partitioning — membership is a pure
    // function of (salt, doc_id), so no engine/run/partitioning can leak
    // rows across splits. Zero-shuffle assignment + one count aggregate.
    "q91_dataset_split" -> ((s, dir) =>
      Tables.read(s, dir, "documents")
        .select(col("source"),
          graft.functions.Governance.splitAssign(
            col("doc_id"), 88, 7, SplitSalt).as("split"))
        .groupBy(col("source"), col("split"))
        .agg(count(lit(1)).as("n"))),

    // --- token-count histogram (corpus length profile): floor-bucketed
    // widths of 10 tokens — the standard pre-training length audit. One
    // scan, partial+final count aggregate on ~10 bucket keys.
    "q92_length_histogram" -> ((s, dir) =>
      Tables.read(s, dir, "documents")
        .select((floor(TA.tokenCount(col("text")).cast("long") / 10) * 10)
          .cast("bigint").as("tok_bucket"))
        .groupBy(col("tok_bucket"))
        .agg(count(lit(1)).as("n"))),

    // --- bounded-heap per-group top-k (topk_agg kernel): the aggregation
    // form of top-k — partial heaps merge map-side, the shuffle moves
    // O(groups × k) values instead of all rows, nothing is sorted but the
    // final k per group (the window form sorts every group's full row
    // set). Values-only output keeps ties oracle-exact vs row_number.
    "q93_topk_agg" -> ((s, dir) => {
      val li = Tables.read(s, dir, "lineitem")
      li.groupBy(col("l_returnflag"))
        .agg(graft.catalyst.TopKAgg(col("l_extendedprice"), 5).as("topv"))
        .select(col("l_returnflag"), posexplode(col("topv")).as(Seq("rk0", "price")))
        .select(col("l_returnflag"), (col("rk0") + 1).cast("int").as("rk"),
          col("price"))
    }),

    // --- SLIDING-window streaming under the gate: 2-hour windows sliding
    // every hour (each event in exactly 2 window instances), run as a real
    // multi-batch stream like q65 (3 time-sliced files + far-future
    // sentinel, maxFilesPerTrigger=1 → 4 micro-batches with window state
    // carried across batches). The oracle unrolls the window generator:
    // CROSS JOIN k∈{0,1} offsets of the hour-floor. Exact micros sums keep
    // the per-window values engine-stable.
    "q96_stream_sliding" -> ((s, dir) => {
      val (in, out, chk) = freshStreamDirs("graft_q96_stream")
      val ev = Tables.events(s, dir)
        .select(col("ts"), col("event_type"), col("value"))
      val sentinel = ev.limit(1)
        .withColumn("ts", expr("timestamp'2100-01-01 00:00:00'"))
        .withColumn("event_type", lit("__flush"))
      stageTimeSliced(in, ev, "ts", sentinel)
      val stream = graft.streaming.StreamOps.slidingCounts(
        graft.streaming.StreamOps.readStream(s, in, ev.schema,
          Map("maxFilesPerTrigger" -> "1")),
        "ts", "event_type", "2 hours", "1 hour", "4 hours")
      graft.streaming.StreamOps.runToParquet(stream, out, chk)
      // watermark withholding already keeps the far-future sentinel window
      // out of the Append output, but that is a TIMING property — filter
      // the sentinel explicitly (q112-style) so a future watermark-delay
      // or sentinel-timestamp change cannot silently leak it
      Parquet.read(s, out)
        .filter(col("event_type") =!= "__flush")
        .select("w_start", "event_type", "n", "sum_value")
    }),

    // --- exact heavy hitters via a two-phase Misra–Gries plan: phase 1 is
    // one corpus scan into a BOUNDED sketch (≤ k counters per partial
    // buffer, merged map-side → the shuffle moves O(partitions × k) sketch
    // entries, never the billions of distinct tokens an exact GROUP BY
    // would repartition at 100 TB) plus the exact total count; phase 2
    // exact-counts ONLY the ≤ k candidates (broadcast hash semi-join keeps
    // the second scan shuffle at candidate-row volume). MG guarantees the
    // candidates are a superset of every token with frequency > N/(k+1)
    // (k=2000 here, threshold N/500), so the filtered exact counts are THE
    // exact answer — deterministic even though the sketch's low-frequency
    // survivors vary with merge order.
    "q97_heavy_hitters" -> ((s, dir) => {
      import s.implicits._
      val toks = Tables.read(s, dir, "documents")
        .select(explode(split(col("text"), " ")).as("tok"))
      val row = toks.agg(
        graft.catalyst.MisraGriesAgg(col("tok"), 2000).as("cands"),
        count(lit(1)).as("n_total")).head()
      val cands = row.getSeq[String](0)
      val nTotal = row.getLong(1)
      // the two-job shape (sketch .head() then candidate join) moves ≤ k
      // strings through the driver — k must stay BROADCAST-SIZED (2000
      // short tokens ≈ tens of KB; thousands-to-millions is fine, never
      // grow k toward distinct-key cardinality or the driver hop and the
      // broadcast both stop being free)
      val candDf = cands.toDF("tok")
      toks.join(broadcast(candDf), Seq("tok"), "inner")
        .groupBy(col("tok"))
        .agg(count(lit(1)).as("n"))
        .filter(col("n") * 500 > nTotal)
    }),

    // --- incremental corpus dedup: the arriving-batch-vs-existing-corpus
    // shape of a continuously ingested training set. The "new batch" is a
    // deterministic id slice; LEFT ANTI on content hash keeps only docs
    // whose normalized text was never seen in the corpus. Both sides
    // shuffle once on the uniform hash key — linear at any scale — and
    // Spark's runtime bloom-filter rewrite (demonstrated in
    // SkewAndHashSpec) pre-drops non-matching batch rows at the scan when
    // the corpus side is selective.
    "q98_incremental_dedup" -> ((s, dir) => {
      val docs = Tables.read(s, dir, "documents")
      val batch = docs.filter(col("doc_id") % 10 === 7)
        .select(col("doc_id"), Dedup.contentHash(col("text")).as("ch"))
      val corpus = docs.filter(col("doc_id") % 10 =!= 7)
        .select(Dedup.contentHash(col("text")).as("ch"))
      batch.join(corpus, Seq("ch"), "left_anti")
        .select(col("doc_id"), col("ch").as("content_hash"))
    }),

    // --- sequence packing (context-window prep), SALTED: each source is
    // split into 4 deterministic sub-streams (doc_id mod 4) that pack
    // independently into 256-token bins namespaced by (source, sub) — the
    // plan whose per-task sort is 1/S of a source instead of a whole
    // source (see graft.functions.SequencePack for the scale argument).
    // The query asserts the plan property itself: the window partition
    // spec must carry BOTH keys — a window keyed on source alone is the
    // one-task-per-source straggler this op exists to avoid.
    "q128_sequence_packing" -> contracted(
      Holds("packing window must partition by (source, sub), not source " +
        "alone")(windowPartitionedBy("source", "sub"))
    ) { (s, dir) =>
      graft.functions.SequencePack.pack(
        Tables.read(s, dir, "documents")
          .select(col("source"), col("doc_id"),
            TA.tokenCount(col("text")).as("n_tok")),
        "source", "doc_id", "n_tok", budget = 256L, substreams = 4)
    },

    // --- incremental NEAR-dup (the q98 shape at near-duplicate
    // granularity): arriving-batch docs that LSH-collide with the existing
    // corpus. The EXECUTED plan is the production daily-ingest shape: the
    // corpus band table is a PERSISTED INDEX, written once through
    // Dedup.bandIndexTap (bucketBy(band, key)), and the batch joins it
    // with zero corpus-side shuffle — only the batch's own band rows (the
    // O(batch) side) are exchanged into the index's bucket layout. The
    // corpus is never re-signatured per batch. The query asserts the plan
    // property itself (exactly ONE hashpartitioning exchange on the join
    // key — the batch side — and a bucket-aware index scan; the merge
    // hint keeps the bucket-join path planned, at the sink too); the
    // oracle gates the values.
    "q127_incremental_neardup" -> contracted(
        indexJoin("band", "band rows"): _*) { (s, dir) =>
      val table = Tables.stagedTable(s, "graft_q127_bandidx")
      val docs = Tables.read(s, dir, "documents")
      // one-time index build (the amortized cost in the daily loop)
      Dedup.bandIndexTap(table, 8).write(
        // narrow oracle-mirroring layout, pinned (production default
        // is now wide — the q197/q198 gates cover the wide twin)
        Dedup.bandIndex(docs.filter(col("doc_id") % 10 =!= 7),
          "doc_id", "text", wideHash = false),
        graft.sources.SinkMode.Replace)
      mergeJoins(Dedup.incrementalNearDupsAgainstIndex(
        corpusIndex = s.table(table),
        batch = docs.filter(col("doc_id") % 10 === 7),
        "doc_id", "text", wideHash = false))
    },

    // --- streaming arrival against the persisted near-dup index: the q127
    // daily-ingest loop as an ACTUAL stream — batch docs arrive in 3
    // micro-batches (maxFilesPerTrigger=1), each band-rowed IN-STREAM and
    // stream-static joined against the bucketed corpus band index. No
    // watermark needed: the join is stateless append (the corpus side is
    // static), so state never grows with the stream — the 100 TB shape
    // where an unbounded feed dedups against a fixed corpus forever. The
    // final per-doc aggregate runs batch over the sink (the gate surface);
    // a production loop would keep it in-stream with update mode.
    "q130_stream_neardup_index" -> ((s, dir) => {
      val table = Tables.stagedTable(s, "graft_q130_bandidx")
      val (in, out, chk) = freshStreamDirs("graft_q130_stream")
      val docs = Tables.read(s, dir, "documents")
        .select(col("doc_id"), col("text"))
      Dedup.bandIndexTap(table, 8).write(
        // narrow oracle-mirroring layout, pinned (production default
        // is now wide — the q197/q198 gates cover the wide twin)
        Dedup.bandIndex(docs.filter(col("doc_id") % 10 =!= 7),
          "doc_id", "text", wideHash = false),
        graft.sources.SinkMode.Replace)
      val batch = docs.filter(col("doc_id") % 10 === 7)
      stageSliced(in, Seq(
        batch.filter(col("doc_id") % 30 === 7),
        batch.filter(col("doc_id") % 30 === 17),
        batch.filter(col("doc_id") % 30 === 27)))
      val index = s.table(table).withColumnRenamed("id", "corpus_id")
      val stream = graft.streaming.StreamOps.readStream(s, in, batch.schema,
        Map("maxFilesPerTrigger" -> "1"))
      val flagged = Dedup.bandIndex(stream, "doc_id", "text",
          wideHash = false)
        .join(index, Seq("band", "key"))
        .select(col("id"), col("corpus_id"))
      graft.streaming.StreamOps.runToParquet(flagged, out, chk)
      Parquet.read(s, out).groupBy(col("id"))
        .agg(min(col("corpus_id")).as("nearest_corpus_id"),
          count_distinct(col("corpus_id")).as("n_corpus_matches"))
    }),

    // --- ANN query against the PERSISTED IVF index: q66's build phase
    // (deterministic micro-quantized Lloyd) runs ONCE and lands in storage
    // — centroids as a tiny table, inverted lists bucketed by cent — and
    // the query phase probes it without re-running a single Lloyd round or
    // corpus pass. The probe table (queries × nprobe) broadcasts into the
    // lists join, so the corpus-sized lists side is never exchanged
    // (plan-asserted); at 100 TB the index refresh is a scheduled job and
    // every query batch pays only its own probed-list cosine scan.
    "q131_ivf_index" -> contracted(
      ExchangeOn("cent").absent(
        "probed query must never exchange the corpus-sized lists side")
    ) { (s, dir) =>
      val (centsT, listsT) =
        (Tables.stagedTable(s, "graft_q131_ivf_cents"),
         Tables.stagedTable(s, "graft_q131_ivf_lists"))
      val e = Tables.read(s, dir, "embeddings")
      val (cents, lists) = Similarity.ivfKMeansBuild(
        e, "vec_id", "embedding", nlist = 16, iters = 2)
      cents.write.mode("overwrite").saveAsTable(centsT)
      graft.sources.BucketedTap(listsT, 8, Seq("cent"))
        .write(lists, graft.sources.SinkMode.Replace)
      Similarity.ivfProbedQuery(
        s.table(centsT), s.table(listsT),
        e.filter(col("vec_id") < 10), "vec_id", "embedding",
        k = 3, nprobe = 4)
    },

    // --- band-index MAINTENANCE (the complete daily loop): day-0 builds
    // the bucketed corpus band index, day-1's arrivals are flagged and
    // then APPENDED into the index (SinkMode.Update — the bucketed layout
    // absorbs appends, no rebuild), and day-2's batch queries the
    // maintained index and must see yesterday's docs. Day-1 includes
    // synthetic twins of some day-2 texts (ids +1e6, in-query
    // augmentation mirrored verbatim in the oracle), so a silently
    // dead append provably fails the hash: every %50==7 day-2 doc must
    // match its twin. At 100 TB this is the whole point of the persisted
    // index — ingest appends O(batch) band rows; nothing ever re-scans
    // the corpus.
    "q133_index_maintenance" -> ((s, dir) => {
      val table = Tables.stagedTable(s, "graft_q133_bandidx")
      val docs = Tables.read(s, dir, "documents")
        .select(col("doc_id"), col("text"))
      val day0 = docs.filter(col("doc_id") % 10 =!= 7 &&
        col("doc_id") % 10 =!= 8)
      val day2 = docs.filter(col("doc_id") % 10 === 7)
      val day1 = docs.filter(col("doc_id") % 10 === 8)
        .unionAll(day2.filter(col("doc_id") % 50 === 7)
          .select((col("doc_id") + 1000000L).as("doc_id"), col("text")))
      val tap = Dedup.bandIndexTap(table, 8)
      // narrow oracle-mirroring layout, pinned (production default is wide)
      tap.write(Dedup.bandIndex(day0, "doc_id", "text", wideHash = false),
        graft.sources.SinkMode.Replace)
      // day-1 ingest: flag against the day-0 index (the daily question),
      // then append the batch's own band rows — index stays current
      Dedup.incrementalNearDupsAgainstIndex(s.table(table), day1,
        "doc_id", "text", wideHash = false)
        .write.mode("overwrite").format("noop").save()
      tap.write(Dedup.bandIndex(day1, "doc_id", "text", wideHash = false),
        graft.sources.SinkMode.Update)
      Dedup.incrementalNearDupsAgainstIndex(s.table(table), day2,
        "doc_id", "text", wideHash = false)
    }),

    // --- curriculum mixture sampling: down-sample each source to a TARGET
    // token mix (shares ramp src0→src19, budget = half the corpus's actual
    // tokens) — the op that turns a crawled corpus into a designed
    // pretraining mix. One token-total agg (O(sources) rows), the rate
    // table broadcast back, one codegen'd hash filter — no full-data
    // shuffle; rates are exact int64 (hi/lo-decomposed products, directed
    // headroom guard). Keep membership is a pure (salt, doc_id) function,
    // so the oracle reproduces the exact row set.
    "q132_mixture_sample" -> ((s, dir) =>
      graft.functions.Governance.mixtureSample(
        Tables.read(s, dir, "documents")
          .select(col("source"), col("doc_id"),
            TA.tokenCount(col("text")).cast("long").as("n_tok")),
        "doc_id", "source", "n_tok",
        MixtureShares, MixtureBudgetRatioMicros, MixtureSalt)),

    // --- deterministic shard export: the pipeline's FINAL write — the
    // corpus globally shuffled by a (salt, doc_id) hash and exported as
    // one file per shard, with the within-shard rank materialized into
    // the files. The gate reads the stats back FROM THE WRITTEN FILES
    // (not the pre-write plan), so assignment, ordering, and the storage
    // round-trip are all under the hash: the order_checksum is
    // rank-weighted, so a single swapped pair in any shard fails it.
    // One exchange total (the rank window's hash partitioning is reused
    // by the write); see Governance.shardExport for the 100 TB sizing.
    "q136_shard_export" -> ((s, dir) => {
      val back = graft.functions.Governance.shardExport(
        Tables.read(s, dir, "documents").select(col("doc_id")),
        "doc_id", 16, "q136", Tables.stagedDir("graft_q136_shards"))
      back.groupBy(col("shard").cast("int").as("shard"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("pos") * (col("doc_id") % 1000003L)).as("order_checksum"),
          min(col("__h")).as("min_h"), max(col("__h")).as("max_h"))
    }),

    // --- Cascading null-coercion aggregation (divergence found by the
    // conformance port): upstream Sum/Average read arguments through
    // Tuples.toDouble(null) == 0 — nulls add 0 AND count toward the
    // average denominator, and an all-null group sums to 0. SQL sum/avg
    // ignore nulls (all-null group → null, avg divides by the non-null
    // count). Both modes side by side; bucket 2 is ALL-null so the
    // coerced/native split shows in every column, and the mixed buckets
    // split on avg alone. Values are small ints: double accumulation is
    // exact, so avg hashes identically across engines.
    "q137_coerced_agg" -> ((s, dir) => {
      val docs = Tables.read(s, dir, "documents")
        .withColumn("bucket", (col("doc_id") % 5).cast("int"))
        .withColumn("v", when(
          col("bucket") === 2 || col("doc_id") % 3 === 0,
          lit(null).cast("long")).otherwise(col("doc_id") % 7))
      graft.exec.Flow.toDF(graft.pipes.Pipe.source(
          graft.sources.DataFrameTap(docs.select("bucket", "v")))
        .groupBy("bucket")
        .every(
          graft.pipes.Aggs.count("n_rows"),
          graft.pipes.Aggs.sumCoerced("v", "sum_c"),
          graft.pipes.Aggs.avgCoerced("v", "avg_c"),
          graft.pipes.Aggs.sum("v", "sum_n"),
          graft.pipes.Aggs.avg("v", "avg_n")))(s)
    }),

    // --- exact substring-level dedup: duplicated 8-gram span detection
    // (the "dedup exact substrings" curation pass — every 8-token window
    // appearing in ≥2 distinct docs, consecutive hits merged into maximal
    // spans). One explode scan, hash-keyed dup agg + hit join (uniform
    // 40-bit keys), per-DOC island window (bounded by doc length). One
    // row per span; see Dedup.duplicatedSpans for the 100 TB notes.
    "q138_dup_spans" -> ((s, dir) =>
      graft.functions.Dedup.duplicatedSpans(
        Tables.read(s, dir, "documents"),
        "doc_id", "text", n = 8, minDocs = 2)),

    // --- the 100 TB hash-width path of q138: 60-bit gram keys
    // (birthday bound ~2^30 grams vs 40-bit's ~2^20 — a collision
    // manufactures a FALSE dup span, so width is a correctness knob)
    "q176_dup_spans_wide" -> ((s, dir) =>
      graft.functions.Dedup.duplicatedSpans(
        Tables.read(s, dir, "documents"),
        "doc_id", "text", n = 8, minDocs = 2, wideHash = true)),

    // --- the strip ACTION at the wide key (q139 ∘ q176): boilerplate
    // removal keyed 60-bit end to end
    "q184_strip_spans_wide" -> ((s, dir) =>
      graft.functions.Dedup.stripDuplicatedSpans(
        Tables.read(s, dir, "documents"),
        "doc_id", "text", n = 8, minDocs = 2, wideHash = true)),

    // --- adjacent-token collocations: pair + unigram counts and an exact
    // integer Dice×1e6 (2e6·c12 div (c1+c2) — no float log, engine-exact),
    // top-100 fully tie-broken by (c12 desc, w1, w2) so the limit is
    // deterministic. Skewed word keys are the AQE-skew case; unigram side
    // is vocab-sized and broadcasts.
    "q140_collocations" -> ((s, dir) =>
      graft.functions.TextAnalysis.collocations(
        Tables.read(s, dir, "documents"),
        "text", minCount = 2L, k = 100)),

    // --- the ACTION companion of q138: boilerplate strip — every
    // duplicated 8-gram span deleted from EVERY doc, clean text
    // reassembled by (position, token) array_sort (deterministic on any
    // partitioning, no window). Fully-covered docs stay as empty rows.
    // The gate hashes the full cleaned text of all docs, so one kept or
    // dropped token anywhere fails.
    "q139_strip_spans" -> ((s, dir) =>
      graft.functions.Dedup.stripDuplicatedSpans(
        Tables.read(s, dir, "documents"),
        "doc_id", "text", n = 8, minDocs = 2)),

    // --- sliding-window token chunking: the context-window prep step of a
    // pretraining pipeline — chunks of 50 tokens with stride 25 (50%
    // overlap), the last chunk ragged. Pure generator shape: one scan,
    // posexplode of a computed chunk-start sequence, no shuffle at all —
    // at 100 TB this is scan-bound, exactly as it should be. Chunk
    // identity is the md5 of the joined token slice (the downstream
    // exact-dedup key, q85's granularity knob made overlapping).
    "q99_chunk_windows" -> ((s, dir) =>
      Tables.read(s, dir, "documents")
        .select(col("doc_id"), split(col("text"), " ").as("tl"))
        .withColumn("nch",
          expr("1 + (greatest(size(tl) - 50, 0) + 24) div 25").cast("int"))
        .select(col("doc_id"), col("tl"),
          posexplode(expr("sequence(0, nch - 1)")).as(Seq("chunk_idx", "k")))
        .select(col("doc_id"), col("chunk_idx"),
          expr("size(slice(tl, chunk_idx * 25 + 1, 50))").as("n_tok"),
          md5(expr("concat_ws(' ', slice(tl, chunk_idx * 25 + 1, 50))"))
            .as("chunk_hash"))),

    // --- multimodal image metadata under the oracle gate: payloads are
    // REAL container headers (PNG IHDR / GIF logical screen / JPEG SOF0)
    // synthesized per doc with dimensions derived from doc_id, then parsed
    // back by the production byte-parser (Multimodal.imageDims via the
    // mapPartitions batch path — the same code a real image pipeline runs
    // before any decode). The oracle recomputes the dimensions
    // arithmetically: a wrong endianness, offset, or marker walk in the
    // parser fails the hash. Construction is pure Column exprs (unhex of
    // concatenated hex), so the scan stays codegen'd.
    "q100_image_meta" -> ((s, dir) => {
      val d = Tables.read(s, dir, "documents")
        .select(col("doc_id"),
          (col("doc_id") % 997 + 1).cast("int").as("w"),
          ((col("doc_id") * 7) % 997 + 1).cast("int").as("h"))
      val whex = "lpad(hex(w), 8, '0')"
      val hhex = "lpad(hex(h), 8, '0')"
      val wle = "concat(lpad(hex(w % 256), 2, '0'), lpad(hex(w div 256), 2, '0'))"
      val hle = "concat(lpad(hex(h % 256), 2, '0'), lpad(hex(h div 256), 2, '0'))"
      val wbe = "lpad(hex(w), 4, '0')"
      val hbe = "lpad(hex(h), 4, '0')"
      val payload = d.withColumn("payload", expr(
        s"""unhex(CASE CAST(doc_id % 3 AS INT)
           |  WHEN 0 THEN concat('89504E470D0A1A0A', '0000000D', '49484452', $whex, $hhex)
           |  WHEN 1 THEN concat('474946383961', $wle, $hle)
           |  ELSE concat('FFD8', 'FFC0', '0011', '08', $hbe, $wbe)
           |END)""".stripMargin))
      graft.functions.Multimodal
        .withImageMeta(payload, "doc_id", "payload")
        .select(col("id").as("doc_id"), col("format"),
          col("width"), col("height"))
    }),

    // --- Z-order layout key: Morton interleaving of (l_partkey,
    // l_suppkey) — the multi-column clustering key behind data-skipping
    // layouts (sort by zkey at write time → every file covers a small
    // (x, y) rectangle → parquet min-max stats prune scans filtered on
    // EITHER column; ZOrderSpec measures the per-file span shrink). The
    // gated query audits the key's geometry: grouping by the top 10 key
    // bits must yield buckets whose x/y extents are bounded rectangles,
    // and the key arithmetic is generated from the same constants in both
    // engines.
    "q103_zorder_layout" -> ((s, dir) => {
      val z = graft.functions.ZOrder
      // comparable bit-widths: Morton keys only cluster BOTH dimensions
      // when they occupy similar bit ranges — real implementations
      // rank-normalize first; here both dims are reduced to 11 bits
      Tables.read(s, dir, "lineitem")
        .select(z.zkey(pmod(col("l_partkey"), lit(2048L)),
            pmod(col("l_orderkey"), lit(2048L))).as("zkey"),
          pmod(col("l_partkey"), lit(2048L)).as("xm"),
          pmod(col("l_orderkey"), lit(2048L)).as("ym"))
        .groupBy(shiftright(col("zkey"), 16).as("bucket"))
        .agg(count(lit(1)).as("n"),
          min(col("xm")).as("min_x"), max(col("xm")).as("max_x"),
          min(col("ym")).as("min_y"), max(col("ym")).as("max_y"))
    }),

    // --- blocked fuzzy matching (entity-resolution shape): see
    // FuzzyMatch.blockedPairs for the blocking design. Both engines spell
    // levenshtein identically (unit edit costs).
    "q104_fuzzy_match" -> ((s, dir) => {
      import s.implicits._
      // The corpus's only distance-≤2 pairs differ in their FIRST letter,
      // which first-char blocking legitimately drops (known recall bound of
      // the block key) — so the corpus alone yields 0 rows and the gate was
      // vacuous. Crafted probe words (mirrored verbatim in the oracle SQL)
      // make the match set non-empty: dist-1 same-bucket, dist-2 ACROSS a
      // length-bucket boundary (10→12 chars: bucket 5→6, the radius-1
      // expansion path), and a dist-3 pair that must NOT match.
      val probes = CraftedFuzzyWords.toDF("w")
      val words = Tables.read(s, dir, "documents")
        .select(regexp_extract(col("text"), "^([A-Za-z]+)", 1).as("w"))
        .union(probes)
        .filter(length(col("w")) >= 4)
      graft.functions.FuzzyMatch.blockedPairs(words, "w", maxDist = 2)
    }),

    // --- signed random projection (64 → 8 dims) over the embeddings
    // table: the dimensionality-reduction front end of an ANN index.
    // Scan-only (zero exchanges), codegen'd higher-order functions; the
    // exact-integer micros fold makes the projected components
    // engine-identical, so the whole projection is hash-gated, not
    // tolerance-gated.
    "q105_random_projection" -> ((s, dir) => {
      val p = graft.functions.Projection
      Tables.read(s, dir, "embeddings")
        .select(col("vec_id") +:
          (0 until p.OutDim).map(j =>
            p.projMicros("embedding", j).as(s"p$j")): _*)
    }),

    // --- pivot (cross-tabulation): the FIXED value list is the scale
    // decision — an unlisted pivot runs an extra distinct pass over the
    // data to discover columns AND bakes data-dependent schema into the
    // plan; listing ("F","O","P") keeps it a single partial+final
    // aggregate. Empty cells coalesce to 0 (count semantics, and what the
    // oracle's FILTER spelling produces).
    "q106_pivot" -> ((s, dir) =>
      Tables.read(s, dir, "orders")
        .groupBy(col("o_orderpriority"))
        .pivot("o_orderstatus", Seq("F", "O", "P"))
        .agg(count(lit(1)))
        .select(col("o_orderpriority"),
          coalesce(col("F"), lit(0L)).as("F"),
          coalesce(col("O"), lit(0L)).as("O"),
          coalesce(col("P"), lit(0L)).as("P"))),

    // --- exact-size per-group sampling: n=5 docs per source, membership a
    // pure function of (salt, doc_id) via hash order — reproducible on any
    // engine/partitioning (q84 gives rate-based sampling; this gives exact
    // counts per stratum). DEFAULT is the bounded-heap form: topk_agg over
    // the NEGATED 52-bit hash keeps the 5 smallest hashes per group in
    // O(k) state with map-side heap merges — the shuffle moves
    // O(groups × k) values, never the row set — then one broadcast join
    // back recovers members and ranks (array_position on the desc-sorted
    // heap output). The window row_number form sorts every group's full
    // row set; at extreme group sizes that is a full-data sort for a
    // 5-row answer (PlanAuditSpec pins the heap plan window-free). The
    // 52-bit hash stays exact in double; ties are vanishingly rare but NOT
    // harmless — the heap form keeps every tied row (array_contains) while
    // the oracle's row_number keeps exactly 5, so a collision would
    // nondeterministically fail the hash gate. The query asserts
    // tie-freedom itself (count_distinct(nh) = count per source — one
    // O(groups) aggregate over the same scan) and fails DIRECTED if a
    // collision ever appears, instead of as an opaque hash mismatch.
    "q107_group_sample" -> ((s, dir) => {
      val nh = -conv(substring(md5(concat(lit("graft-r5c"),
          col("doc_id").cast("string"))), 1, 13), 16, 10).cast("double")
      val d = Tables.read(s, dir, "documents")
        .select(col("source"), col("doc_id"), nh.as("nh"))
      val ties = d.groupBy(col("source"))
        .agg(count(lit(1)).as("n"), count_distinct(col("nh")).as("nd"))
        .filter(col("n") =!= col("nd")).limit(1).collect()
      require(ties.isEmpty, "q107: 52-bit hash tie within source " +
        s"${ties.headOption.map(_.getString(0)).getOrElse("")} — fold a " +
        "doc_id tiebreak into nh (both spellings) before trusting the gate")
      val tops = d.groupBy(col("source"))
        .agg(graft.catalyst.TopKAgg(col("nh"), 5).as("top"))
      d.join(broadcast(tops), Seq("source"))
        .filter(array_contains(col("top"), col("nh")))
        .select(col("source"), col("doc_id"),
          array_position(col("top"), col("nh")).cast("int").as("rk"))
    }),

    // --- union-by-name with schema evolution (allowMissingColumns): the
    // arriving-data case where a new feed drops/reorders columns. The
    // missing column pads as NULL — the aggregate separates real values
    // from padding (count vs count(col)), and the oracle spells the
    // padding explicitly, gating the semantics.
    "q108_union_by_name" -> ((s, dir) => {
      val o = Tables.read(s, dir, "orders")
      val a = o.filter(col("o_orderstatus") === "F")
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
      val b = o.filter(col("o_totalprice") > 100000)
        .select(col("o_orderstatus"), col("o_orderkey")) // reordered, no price
      a.unionByName(b, allowMissingColumns = true)
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n"),
          count(col("o_totalprice")).as("n_priced"),
          graft.catalyst.ExactMicrosSum.sum(
            coalesce(col("o_totalprice"), lit(0.0))).as("total"))
    }),

    // --- frame sampling under the gate: the 1→N shape of a video frame
    // sampler — n equally spaced 1-byte "frames" sliced from the binary
    // payload (the real sampler swaps the slice for a codec read; the
    // positions, explode shape, and byte addressing are what's gated).
    "q109_frame_sample" -> ((s, dir) => {
      val n = 4
      Tables.read(s, dir, "documents")
        .select(col("doc_id"), encode(col("text"), "UTF-8").as("payload"))
        .select(col("doc_id"),
          posexplode(graft.functions.Multimodal.sampleFrames(col("payload"), n))
            .as(Seq("frame_idx", "frame")))
        .select(col("doc_id"), col("frame_idx").cast("int").as("frame_idx"),
          hex(col("frame")).as("frame_hex"))
    }),

    // --- hybrid skew join: the heavy-hitter-aware join plan — hot keys
    // (from a bounded misra_gries scan, k=64) take the BROADCAST path
    // (their dim rows fit a broadcast by construction), cold keys take
    // the shuffle path, results union. Correctness does not depend on the
    // sketch: ANY hot/cold key partition yields the same rows (the gate
    // proves no dup/loss across the two paths) — the sketch only decides
    // WHICH keys skip the shuffle, which is what defuses a hot key that
    // would overwhelm one reducer at 100 TB. Complements q61 (salting)
    // and the AQE skew split (SkewAndHashSpec): this form also relieves
    // the BUILD side, needs no sort, and works with AQE off.
    "q110_hybrid_skew_join" -> ((s, dir) => {
      val orders = Tables.read(s, dir, "orders")
        .select(col("o_custkey"), col("o_totalprice"))
      val cust = Tables.read(s, dir, "customer")
        .select(col("c_custkey"), col("c_mktsegment"))
      val hot = orders.agg(graft.catalyst.MisraGriesAgg(
          col("o_custkey").cast("string"), 64).as("h"))
        .head().getSeq[String](0).map(_.toLong)
      val hotPath = orders.filter(col("o_custkey").isin(hot: _*))
        .join(broadcast(cust.filter(col("c_custkey").isin(hot: _*))),
          col("o_custkey") === col("c_custkey"))
      val coldPath = orders.filter(!col("o_custkey").isin(hot: _*))
        .join(cust.filter(!col("c_custkey").isin(hot: _*)),
          col("o_custkey") === col("c_custkey"))
      hotPath.unionByName(coldPath)
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n_orders"),
          countDistinct(col("o_custkey")).as("n_users"),
          graft.catalyst.ExactMicrosSum.sum(col("o_totalprice")).as("total"))
    }),

    // --- native session windows: the Spark-first form of q29/q67 —
    // `session_window(ts, gap)` lets the aggregation operator own session
    // merging (no window-function prefix scan, no custom state). Session
    // boundary is strict (an event exactly `gap` after the previous one
    // OPENS a new session — window end is exclusive), which the oracle
    // spells as `diff >= gap` in microseconds.
    "q111_session_window" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      ev.groupBy(col("user_id"),
          session_window(col("ts"), "30 minutes").as("sw"))
        .agg(count(lit(1)).as("n_events"),
          graft.catalyst.ExactMicrosSum.sum(col("value")).as("sum_value"))
        .select(col("user_id"), col("sw.start").as("start_ts"),
          col("sw.end").as("end_ts"), col("n_events"), col("sum_value"))
    }),

    // --- STREAMING native session windows: the session_window aggregate
    // run as a real multi-batch stream (q65/q96 staging: 3 time slices +
    // one far-future sentinel, maxFilesPerTrigger=1). Sessions that span
    // slice boundaries MERGE IN STATE across micro-batches — the
    // aggregation-owned counterpart of q67's hand-rolled
    // flatMapGroupsWithState. The event-time watermark is global, so the
    // single sentinel closes every user's last session (its own session
    // stays unemitted in state). Oracle = q111's batch SQL.
    "q112_stream_session_window" -> ((s, dir) => {
      val (in, out, chk) = freshStreamDirs("graft_q112_stream")
      val ev = Tables.events(s, dir)
        .select(col("user_id"), col("ts"), col("value"))
      val sentinel = ev.limit(1)
        .withColumn("ts", expr("timestamp'2100-01-01 00:00:00'"))
        .withColumn("user_id", lit(-1L))
      stageTimeSliced(in, ev, "ts", sentinel)
      val stream = graft.streaming.StreamOps.readStream(s, in, ev.schema,
          Map("maxFilesPerTrigger" -> "1"))
        .withWatermark("ts", "4 hours")
        .groupBy(col("user_id"),
          session_window(col("ts"), "30 minutes").as("sw"))
        .agg(count(lit(1)).as("n_events"),
          graft.catalyst.ExactMicrosSum.sum(col("value")).as("sum_value"))
        .select(col("user_id"), col("sw.start").as("start_ts"),
          col("sw.end").as("end_ts"), col("n_events"), col("sum_value"))
      graft.streaming.StreamOps.runToParquet(stream, out, chk)
      Parquet.read(s, out)
        .filter(col("user_id") =!= -1L)
        .select("user_id", "start_ts", "end_ts", "n_events", "sum_value")
    }),

    // --- grouping sets: the explicit multi-granularity aggregate beyond
    // rollup (q38) / cube (q39) — arbitrary set list in ONE pass (Spark
    // plans a single Expand + aggregate; n grouping sets ≠ n scans).
    // grouping_id disambiguates the all-NULL key rows from real NULLs.
    "q113_grouping_sets" -> ((s, dir) => {
      Tables.read(s, dir, "orders")
        .createOrReplaceTempView("gs_orders")
      s.sql(
        """SELECT o_orderstatus, o_orderpriority,
          |  CAST(grouping_id(o_orderstatus, o_orderpriority) AS INT) AS gid,
          |  count(*) AS n,
          |  cast(sum(cast(o_totalprice as decimal(38,6))) as double) AS total
          |FROM gs_orders
          |GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority),
          |  (o_orderstatus), ())""".stripMargin)
    }),

    // --- stream ⋈ static-dim enrichment (the most common production
    // stream shape): each micro-batch broadcast-joins the static customer
    // dim — no state, no stream-side shuffle for the join — then feeds
    // the windowed aggregate. The sentinel row joins away (inner join)
    // but still advances the GLOBAL event-time watermark: the watermark
    // node sits upstream of the join, so rows the join drops still flush
    // the windows. Oracle = the batch join + tumbling-window SQL.
    "q114_stream_static_join" -> ((s, dir) => {
      val (in, out, chk) = freshStreamDirs("graft_q114_stream")
      val ev = Tables.events(s, dir)
        .select(col("ts"), col("user_id"), col("value"))
      val cust = Tables.read(s, dir, "customer")
        .select(col("c_custkey"), col("c_mktsegment"))
      val sentinel = ev.limit(1)
        .withColumn("ts", expr("timestamp'2100-01-01 00:00:00'"))
        .withColumn("user_id", lit(-1L))
      stageTimeSliced(in, ev, "ts", sentinel)
      val stream = graft.streaming.StreamOps.readStream(s, in, ev.schema,
          Map("maxFilesPerTrigger" -> "1"))
        .withWatermark("ts", "4 hours")
        .join(broadcast(cust), col("user_id") === col("c_custkey"))
        .groupBy(window(col("ts"), "1 hour").as("w"), col("c_mktsegment"))
        .agg(count(lit(1)).as("n"),
          graft.catalyst.ExactMicrosSum.sum(col("value")).as("sum_value"))
        .select(col("w.start").as("w_start"), col("c_mktsegment"),
          col("n"), col("sum_value"))
      graft.streaming.StreamOps.runToParquet(stream, out, chk)
      // the user_id=-1 sentinel can never join a real customer key, and
      // the watermark withholds its window — but both are indirect; bound
      // the output to pre-sentinel windows explicitly so neither property
      // drifting can leak the flush row
      Parquet.read(s, out)
        .filter(col("w_start") < expr("timestamp'2099-01-01 00:00:00'"))
        .select("w_start", "c_mktsegment", "n", "sum_value")
    }),

    // --- unigram surprisal scoring (the CCNet-shaped corpus-likelihood
    // quality signal): per-token surprisal ≈ -log2 p(tok) computed as
    // floor(log2 N) − floor(log2 cnt) — EXACT integer bits via the length
    // of the binary string (`bin()` exists with identical semantics in
    // both engines), so the score is engine-identical with no libm and no
    // float reduction. Plan: one token scan → vocab count aggregate →
    // join back → per-doc sum. At 100 TB the join-back side becomes
    // broadcast top-V vocab + an OOV default count; here the exact
    // shuffle join keeps the gate exact.
    "q115_surprisal" -> ((s, dir) => {
      val toks = Tables.read(s, dir, "documents")
        .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
      val counts = toks.groupBy(col("tok")).agg(count(lit(1)).as("cnt"))
      val total = toks.count()
      val bitsN = 63 - java.lang.Long.numberOfLeadingZeros(total)
      toks.join(counts, Seq("tok"))
        .withColumn("bits",
          lit(bitsN.toLong) - (length(bin(col("cnt"))) - 1))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_tok"),
          sum(col("bits")).cast("bigint").as("surprisal_bits"))
    }),

    // --- time-series resampling: each user's event stream re-gridded to
    // regular hourly buckets between their first and last hour, empty
    // hours gap-filled by LOCF (last observation carried forward) over
    // the hourly exact-micros sums. One aggregate (user, hour), a
    // per-user bounded grid explode, one equi-join, one per-user ordered
    // window — all shuffles on the uniform user key. Integer micros keep
    // the carried values engine-exact.
    "q116_resample" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
        .select(col("user_id"), date_trunc("hour", col("ts")).as("h"),
          floor(col("value") * 1e6).cast("bigint").as("vm"))
      val hourly = ev.groupBy(col("user_id"), col("h"))
        .agg(count(lit(1)).as("n"), sum(col("vm")).as("sm"))
      val grid = hourly.groupBy(col("user_id"))
        .agg(min(col("h")).as("h0"), max(col("h")).as("h1"))
        .select(col("user_id"),
          explode(sequence(col("h0"), col("h1"),
            expr("interval 1 hour"))).as("h"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id")).orderBy(col("h"))
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
      grid.join(hourly, Seq("user_id", "h"), "left")
        .select(col("user_id"), col("h"),
          coalesce(col("n"), lit(0L)).as("n"),
          last(col("sm"), ignoreNulls = true).over(w).as("filled_micros"))
    }),

    // --- importance-weighted sampling: keep probability proportional to
    // the doc's quality score (the pretraining corpus-mixing move:
    // upsample good text, downsample junk — reproducibly). Pure
    // scan-stage predicate, zero exchanges, integer-exact hash compare —
    // the weighted generalization of q84's fixed-rate strata.
    "q117_weighted_sample" -> ((s, dir) => {
      val d = Tables.read(s, dir, "documents")
        .select(col("doc_id"), TA.qualityScore(col("text")).as("quality"))
      d.filter(graft.functions.Governance.weightedKeep(
          col("doc_id"), col("quality"), "graft-r5w"))
        .select(col("doc_id"), col("quality"))
    }),

    // --- audio metadata under the gate (the q100 recipe for sound):
    // canonical RIFF/WAVE fmt-chunk headers synthesized per doc with
    // parameters derived from doc_id, parsed back by the production
    // little-endian byte parser (audioMeta via the mapPartitions batch
    // path); the oracle recomputes channels/rate/bits arithmetically, so
    // an offset or endianness bug in the parser fails the hash.
    "q118_audio_meta" -> ((s, dir) => {
      val d = Tables.read(s, dir, "documents")
        .select(col("doc_id"),
          (col("doc_id") % 2 + 1).cast("int").as("ch"),
          (lit(8000) * (col("doc_id") % 5 + 1)).cast("int").as("rate"),
          (lit(8) * (col("doc_id") % 3 + 1)).cast("int").as("bits"))
      def le16(x: String) =
        s"concat(lpad(hex($x % 256), 2, '0'), lpad(hex($x div 256), 2, '0'))"
      def le32(x: String) =
        s"concat(lpad(hex($x % 256), 2, '0'), lpad(hex(($x div 256) % 256), 2, '0')," +
          s" lpad(hex(($x div 65536) % 256), 2, '0'), lpad(hex(($x div 16777216) % 256), 2, '0'))"
      val payload = d.withColumn("payload", expr(
        s"""unhex(concat('52494646', '24000000', '57415645', '666D7420',
           |  '10000000', '0100', ${le16("ch")}, ${le32("rate")},
           |  '00000000', '0000', ${le16("bits")}))""".stripMargin))
      graft.functions.Multimodal
        .withAudioMeta(payload, "doc_id", "payload")
        .select(col("id").as("doc_id"), col("channels"),
          col("sample_rate"), col("bits"))
    }),

    // --- string/array aggregation (group-concat): collect_list is
    // UNORDERED in a distributed engine (partition arrival order), so the
    // deterministic form sorts INSIDE the aggregate result —
    // sort_array(collect_list(...)) — before joining; the oracle spells
    // it string_agg(... ORDER BY ...). Also emits the array length so
    // the gate checks structure, not just the rendered string.
    "q119_string_agg" -> ((s, dir) =>
      Tables.read(s, dir, "nation")
        .join(Tables.read(s, dir, "supplier"),
          col("n_nationkey") === col("s_nationkey"))
        .groupBy(col("n_name"))
        .agg(count(lit(1)).cast("bigint").as("n_supp"),
          concat_ws(",", sort_array(collect_list(col("s_name"))))
            .as("suppliers"))),

    // --- explicit window frames: a ROWS sliding frame (last 4 rows'
    // moving sum) and a time-RANGE frame (all events within the trailing
    // 10 minutes) in one pass over the same per-user event order. The
    // range frame keys on integer MICROS (identical ordering + bound
    // arithmetic in both engines); sums are per-row exact micros so the
    // frames are hash-gated. Per-user frames = one shuffle + one sort.
    "q120_window_frames" -> ((s, dir) => {
      val W = org.apache.spark.sql.expressions.Window
      val ev = Tables.events(s, dir)
        .select(col("user_id"), col("event_id"),
          unix_micros(col("ts")).as("tus"),
          floor(col("value") * 1e6).cast("bigint").as("vm"))
      val order = W.partitionBy(col("user_id"))
        .orderBy(col("tus"), col("event_id"))
      val rowsW = order.rowsBetween(-3, 0)
      // range frame must order by ONE numeric key; event_id tiebreak not
      // allowed — equal-timestamp rows share the frame in both engines
      val rangeW = W.partitionBy(col("user_id")).orderBy(col("tus"))
        .rangeBetween(-600L * 1000000L, 0)
      ev.select(col("user_id"), col("event_id"),
        sum(col("vm")).over(rowsW).cast("bigint").as("last4_sum"),
        sum(col("vm")).over(rangeW).cast("bigint").as("last10min_sum"),
        count(lit(1)).over(rangeW).cast("bigint").as("last10min_n"))
    }),

    // --- distribution-drift monitor: does one source's token-length
    // profile diverge from the rest of the corpus? Two-sample comparison
    // on the shared 10-token histogram, scored with the EXACT integer
    // cross-product L1 statistic Σ|n_i·M − m_i·N| (scale-free: equals
    // N·M·Σ|p̂_i − q̂_i|) — no floating division, engine-identical. One
    // scan (conditional partial counts), ~10 bucket keys; the per-bucket
    // rows localize WHERE the drift is, the statistic rides along.
    "q121_drift" -> ((s, dir) => {
      val b = Tables.read(s, dir, "documents")
        .select((col("source") === "src0").as("is_probe"),
          (floor(TA.tokenCount(col("text")).cast("long") / 10) * 10)
            .cast("bigint").as("tok_bucket"))
        .groupBy(col("tok_bucket"))
        .agg(sum(when(col("is_probe"), 1L).otherwise(0L)).as("n_probe"),
          sum(when(col("is_probe"), 0L).otherwise(1L)).as("n_rest"))
      val tot = b.agg(sum(col("n_probe")).as("m_tot"),
        sum(col("n_rest")).as("n_tot")).head()
      val (mTot, nTot) = (tot.getLong(0), tot.getLong(1))
      b.select(col("tok_bucket"), col("n_probe"), col("n_rest"),
        abs(col("n_rest") * mTot - col("n_probe") * nTot)
          .cast("bigint").as("drift_term"))
    }),

    // --- exact co-moments (the sufficient statistics for covariance/
    // correlation): per group n, Σx, Σy, Σxy, Σx², Σy² as EXACT integers
    // (quantity is integral-valued; discount micro-quantized; input bounds
    // CHECKED by ExactMoments.guard with the int64 headroom at sf0.1×100
    // pinned in ExactSumSpec) — moments merge associatively,
    // which is the scale story: built-in corr() folds doubles in
    // partition order (non-deterministic rounding), while exact integer
    // moments are order-free and the statistic derives at the end. The
    // derived corr² uses only +−×÷ on the exact inputs (a fixed IEEE
    // tree — no sqrt/libm), so even the double column hash-matches.
    "q122_exact_moments" -> ((s, dir) => {
      val M = graft.functions.ExactMoments
      val li = Tables.read(s, dir, "lineitem")
        .select(col("l_returnflag"),
          M.guardX(col("l_quantity").cast("bigint")).as("x"),
          M.guardY(floor(col("l_discount") * 1e6).cast("bigint")).as("y"))
      li.groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n"),
          sum(col("x")).as("sum_x"), sum(col("y")).as("sum_y"),
          sum(col("x") * col("y")).as("sum_xy"),
          sum(col("x") * col("x")).as("sum_x2"),
          sum(col("y") * col("y")).as("sum_y2"))
        .withColumn("corr_sq", {
          // combine in DOUBLE (cast each exact moment first): n·Σxy
          // would overflow int64 beyond ~sf1, and the all-double tree of
          // ×−÷ is IEEE-identical across engines anyway
          def d(c: String) = col(c).cast("double")
          val num = d("n") * d("sum_xy") - d("sum_x") * d("sum_y")
          (num * num) /
            ((d("n") * d("sum_x2") - d("sum_x") * d("sum_x")) *
             (d("n") * d("sum_y2") - d("sum_y") * d("sum_y")))
        })
    }),

    // --- streaming checkpoint recovery: the q112 session-window pipeline
    // run as TWO stream executions over ONE checkpoint. Run 1 sees only
    // the first two time slices, runs on a ProcessingTime trigger (so it
    // stays live after catching up), and is stop()ped mid-life once both
    // micro-batches have committed. The remaining slices are staged, and
    // run 2 — a NEW StreamingQuery object — restarts from the same
    // checkpoint: the file-source offsets log skips the already-processed
    // files and the state store restores the OPEN sessions, so sessions
    // spanning the kill point aggregate exactly as an unbroken run (and
    // as the batch oracle). `spans_restart` is the driver-visible proof:
    // run-1 commits ≥ 2 and strictly fewer than total commits, pinned
    // TRUE by the oracle — a run that never restarted fails the gate. At
    // 100 TB this is the operator contract that matters most: a
    // 1000-executor stream WILL lose its driver mid-run, and correctness
    // must survive the resume, not just the happy path.
    "q123_stream_checkpoint_recovery" -> ((s, dir) => {
      val (in, out, chk) = freshStreamDirs("graft_q123_stream")
      val ev = Tables.events(s, dir)
        .select(col("user_id"), col("ts"), col("value"))
      val sentinel = ev.limit(1)
        .withColumn("ts", expr("timestamp'2100-01-01 00:00:00'"))
        .withColumn("user_id", lit(-1L))
      val Seq(slice1, slice2, slice3) = timeSlices(ev, "ts")
      stageSliced(in, Seq(slice1, slice2))
      val run1Commits = graft.streaming.StreamOps.killAndResume(() =>
          graft.streaming.StreamOps.readStream(s, in, ev.schema,
              Map("maxFilesPerTrigger" -> "1"))
            .withWatermark("ts", "4 hours")
            .groupBy(col("user_id"),
              session_window(col("ts"), "30 minutes").as("sw"))
            .agg(count(lit(1)).as("n_events"),
              graft.catalyst.ExactMicrosSum.sum(col("value")).as("sum_value"))
            .select(col("user_id"), col("sw.start").as("start_ts"),
              col("sw.end").as("end_ts"), col("n_events"), col("sum_value")),
          out, chk) {
        stageSliced(in, Seq(slice3, sentinel), baseIdx = 2)
      }
      val spansRestart = graft.streaming.StreamOps.commits(chk) > run1Commits
      Parquet.read(s, out)
        .filter(col("user_id") =!= -1L)
        .select(col("user_id"), col("start_ts"), col("end_ts"),
          col("n_events"), col("sum_value"),
          lit(spansRestart).as("spans_restart"))
    }),

    // --- checkpoint recovery for flatMapGroupsWithState USER state: q123
    // proves the restore path for aggregation state (session_window —
    // Spark-managed state rows); a custom sessionizer in production runs
    // in the OTHER state-store path, the user-defined GroupState that
    // flatMapGroupsWithState serializes per key. Same harness as q123:
    // run 1 processes two time slices under a live trigger and is killed
    // only after ≥2 commits; run 2 is a NEW StreamingQuery on the same
    // checkpoint — the restored GroupState must hold every OPEN session
    // (start/last/count/exact-micros sum) so sessions spanning the kill
    // aggregate exactly as an unbroken run and as the batch q29 oracle.
    // Per-user sentinels in the final slice close all real sessions
    // (q67's pattern); spans_restart pins that recovery actually
    // happened, oracle-side TRUE.
    "q134_stream_fmgws_recovery" -> ((s, dir) => {
      val (in, out, chk) = freshStreamDirs("graft_q134_stream")
      val ev = Tables.events(s, dir)
        .select(col("user_id"), col("ts"), col("value"))
      val sentinel = ev.select(col("user_id")).distinct()
        .withColumn("ts", expr("timestamp'2100-01-01 00:00:00'"))
        .withColumn("value", lit(0.0))
      val Seq(slice1, slice2, slice3) = timeSlices(ev, "ts")
      stageSliced(in, Seq(slice1, slice2))
      val run1Commits = graft.streaming.StreamOps.killAndResume(() => {
          import s.implicits._
          graft.streaming.StreamOps.sessionize(
            graft.streaming.StreamOps.readStream(s, in, ev.schema,
              Map("maxFilesPerTrigger" -> "1"))
              .as[graft.streaming.StreamOps.SessionEvent], 1800)
        }, out, chk) {
        stageSliced(in, Seq(slice3, sentinel), baseIdx = 2)
      }
      val spansRestart = graft.streaming.StreamOps.commits(chk) > run1Commits
      val w = Window.partitionBy(col("user_id")).orderBy(col("start_ts"))
      Parquet.read(s, out)
        .withColumn("session_id", row_number().over(w).cast("long"))
        .select(col("user_id"), col("session_id"), col("n_events"),
          col("start_ts"), col("end_ts"), col("sum_value"),
          lit(spansRestart).as("spans_restart"))
    }),

    // --- multimodal plumbing ----------------------------------------------
    "q30_multimodal_meta" -> ((s, dir) => {
      val d = Tables.read(s, dir, "documents")
      val payload = encode(col("text"), "UTF-8")
      d.select(col("doc_id"),
        octet_length(payload).as("byte_len"),
        sha2(payload, 256).as("digest"),
        conv(substring(sha2(payload, 256), 1, 10), 16, 10).cast("bigint")
          .as("stub_feature"))
    }),

    // --- bloom-pruned semi join: sketch the filtered orders keys (one
    // map-side-combined agg, one O(sketch-bytes) driver carry — the Lloyd-
    // centroid discipline), prefilter lineitem with might_contain INSIDE
    // its scan stage — below the exchange — then exact semi join over the
    // survivors. Result-identical to the plain semi join (bloom FPs die in
    // the exact join): the sketch can only REMOVE probe-side shuffle
    // bytes, never change the answer — which is why the oracle is the
    // plain EXISTS. The merge hint keeps the gate on the shuffled path
    // the pruning exists for.
    "q141_bloom_semijoin" -> contracted(
      Expr("might_contain").present(
        "probe side must carry the bloom prefilter below its exchange"),
      Node("BroadcastHashJoin").absent(
        "gate must exercise the shuffled-join path the pruning targets")
    ) { (s, dir) =>
      val li = Tables.read(s, dir, "lineitem")
      val hot = Tables.read(s, dir, "orders")
        .filter(col("o_totalprice") > 475000.0)
      val joined = graft.functions.BloomPrune.semiJoin(
        li, hot, "l_orderkey", "o_orderkey",
        estItems = 1000L, numBits = 8192L)
      mergeJoins(joined.groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n_rows"),
          sum(col("l_quantity").cast("bigint")).as("sum_qty")))
    },

    // --- snapshot upsert: MERGE a daily batch (71 updates re-texted 'v2 ',
    // 10 inserts at ids +1e6) into the corpus snapshot persisted BUCKETED
    // by doc_id — the content-table leg of the daily ingest cycle next to
    // q127 (arrival dedup) and q133 (index maintenance). The full-outer
    // merge join plans with NO exchange on the snapshot side (bucket
    // layout absorbs it; only the batch shuffles, into the snapshot's own
    // partitioning) — asserted here exactly like q127's corpus side. The
    // gate hashes (id, md5(text), source, version) of the WHOLE merged
    // snapshot, so a lost update, a dropped carry-through row, or a wrong
    // version bump anywhere fails.
    "q142_snapshot_upsert" -> contracted(
      ExchangeOn("b_key").exactly(1,
        "merge must shuffle ONLY the batch side"),
      Node("Exchange").exactly(1, "merge must shuffle ONLY the batch side"),
      BucketedScan.present("snapshot side must be the bucket-aware scan")
    ) { (s, dir) =>
      val table = Tables.stagedTable(s, "graft_q142_snapshot")
      val docs = Tables.read(s, dir, "documents")
      graft.functions.Snapshot.snapshotTap(table, 8, "doc_id").write(
        docs.select(col("doc_id"), col("text"), col("source"),
          lit(1L).as("version")),
        graft.sources.SinkMode.Replace)
      val batch = docs.filter(col("doc_id") % 7 === 3)
        .select(col("doc_id"), concat(lit("v2 "), col("text")).as("text"),
          col("source"))
        .unionAll(docs.filter(col("doc_id") % 50 === 11)
          .select((col("doc_id") + 1000000L).as("doc_id"), col("text"),
            lit("ingest").as("source")))
      mergeJoins(graft.functions.Snapshot.upsert(
        s.table(table), batch,
        "doc_id", Seq("text", "source"), "version")
        .select(col("doc_id"), md5(col("text")).as("text_md5"),
          col("source"), col("version")))
    },

    // --- model-based quality scoring (hashing-trick linear classifier):
    // the fastText-shaped "does this look like reference text" filter a
    // curation pipeline runs over the WHOLE corpus. Weights are a pure
    // function of the token's hash bucket, so the logit is one codegen'd
    // array fold per row: ONE scan, ZERO shuffles, no broadcast, no
    // driver state — at 100 TB this op is scan-bound by construction.
    // All-integer arithmetic (40-bit hashes) keeps the gate engine-exact.
    "q143_hash_classifier" -> ((s, dir) => {
      val docs = Tables.read(s, dir, "documents")
      docs.select(col("doc_id"),
          TA.tokenCount(col("text")).as("n_tok"),
          graft.functions.Relevance.hashClassifierLogit(
            col("text"), dims = 4096, salt = "w#").as("logit"))
        .withColumn("kept", col("logit") >= 0L)
    }),

    // --- persisted inverted index: build the posting table ONCE (one
    // corpus scan, near-uniform (term,doc) agg keys even under zipfian
    // terms), persist bucketed BY TERM, then answer a conjunctive 3-term
    // lookup by probing ONLY those terms' buckets — the gate asserts the
    // scan is bucket-pruned (its bucket set strictly under the layout
    // total), so the O(index)-per-question plan can never silently
    // return. The amortization counterpart of q81's scan-shaped BM25.
    "q144_inverted_index" -> contracted(
      PrunedScan.present("3-term probe must be a bucket-pruned scan " +
        "reading strictly fewer buckets than the layout")
    ) { (s, dir) =>
      val table = Tables.stagedTable(s, "graft_q144_postings")
      val docs = Tables.read(s, dir, "documents")
      graft.functions.InvertedIndex.indexTap(table, 16).write(
        graft.functions.InvertedIndex.build(docs, "doc_id", "text"),
        graft.sources.SinkMode.Replace)
      // the downstream agg keys on id, not term, so the planner reads
      // the postings unbucketed; the scan's bucket set still prunes it
      // to the probed terms' bucket files
      graft.functions.InvertedIndex.queryAll(
          s.table(table), Seq("join", "scan", "merge"))
        .withColumnRenamed("id", "doc_id")
    },

    // --- BM25 served FROM the persisted postings index at ARRIVAL
    // cadence (the q144 layout promoted to a scoring surface; the
    // q274/q288 same-values-new-plan discipline): postings carry tf AND
    // the denormalized doc length (scoring never joins a corpus-sized
    // length table), the corpus stats row maintains by pure ADDITION
    // (append the batch's row, sum at read — merge = rebuild, exact
    // longs), and arrival postings APPEND (immutable doc ids, the q133
    // contract). Per-term dfs count over the probe itself (a posting
    // row exists iff tf ≥ 1, so probe-local df IS corpus df). Oracle =
    // q81's corpus-scan BM25 SQL VERBATIM — the index changes the plan,
    // never the numbers. Plan asserts: the term probe bucket-prunes
    // (strictly fewer buckets than the layout) and the SERVING plan
    // never scans documents.parquet — the amortization claim itself.
    "q300_bm25_from_index" -> contracted(
      Scan("documents.parquet").absent("q300: serving must read ONLY the " +
        "index + stats taps — the corpus scan is what the index amortizes " +
        "away"),
      PrunedScan.present("q300: the term probe must be a bucket-pruned " +
        "scan reading strictly fewer buckets than the layout")
    ) { (s, dir) =>
      val I = graft.functions.InvertedIndex
      val R = graft.functions.Relevance
      val table = Tables.stagedTable(s, "graft_q300_postings")
      val docs = Tables.read(s, dir, "documents")
      val pre = docs.filter(col("doc_id") % 50 =!= 3)
      val batch = docs.filter(col("doc_id") % 50 === 3)
      val tap = I.indexTap(table, 16)
      tap.write(I.buildWithDl(pre, "doc_id", "text"),
        graft.sources.SinkMode.Replace)
      val statsTap = graft.sources.ParquetTap(
        graft.queries.Relational.stagePath("graft_q300_stats", dir))
      statsTap.write(R.corpusStats(pre, "text"),
        graft.sources.SinkMode.Replace)
      // the arrival: postings append; stats append (scoring sums rows)
      tap.write(I.buildWithDl(batch, "doc_id", "text"),
        graft.sources.SinkMode.Update)
      statsTap.write(R.corpusStats(batch, "text"),
        graft.sources.SinkMode.Update)
      R.bm25FromIndex(s.table(table), statsTap.read(s), Bm25Terms, topK = 20)
        .withColumnRenamed("id", "doc_id")
    },

    // --- the PageRank rank-ARTIFACT maintenance loop (r14 verdict #3 —
    // q298's contract at production cadence, the q277/q253 shape):
    // converged ranks PERSIST through a bucketed tap; arrival APPENDS
    // pair-weight rows (additive — the degree cap applies at read time,
    // never inside the artifact, because capping is not additive); the
    // refresh warm-starts pageRankConverge from the PERSISTED ranks
    // over the post-append graph. Asserted in-query: the merged edge
    // artifact is row-identical to the from-scratch graph (both ways),
    // the warm refresh stops in STRICTLY fewer rounds than cold, and
    // warm ranks sit within ε of cold. Gated output = the cold
    // comparator with its stop round — q298's oracle VERBATIM (a
    // missing append leg, a stale rank load, or a broken warm start
    // all diverge through the in-query asserts).
    //
    // CONSOLIDATED (r15 verdict #3): q314's contract subsumes q298's
    // — both gates answer through the SAME pageRankGateBundle code
    // path (all asserts included). r16: the bundle recomputes from the
    // parquet inputs on EVERY invocation (the per-JVM result memo was
    // a measurement-honesty bug — see the bundle doc).
    "q314_pagerank_artifact" -> ((s, dir) => pageRankGateBundle(s, dir)),

    // --- the FULL dataset card (r14 verdict #4 — q309 extended with
    // the signals the repo already computes, each column spelled from
    // its standalone gate's shared fragment so the card cannot drift
    // from the component gates): q309's volume/dedup/quality rollup +
    // per-source language mix (q188's Cavnar–Trenkle classifier —
    // modal language and its doc count), PII hit rate (q285's planted
    // corpus + PiiRules counts), and eval-contamination rate (q82's
    // split and gram spelling over the training docs). All signal
    // tables are O(sources) rows; the joins are source-keyed.
    "q315_dataset_card_full" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val TA2 = graft.functions.TextAnalysis
      val C = graft.functions.Curation
      val docs = Tables.read(s, dir, "documents")
      val base = docs
        .select(col("source"), col("text"),
          TA2.qualityScore(col("text")).as("q"),
          size(expr("filter(split(text, ' '), w -> w != '')"))
            .cast("long").as("ntok"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("ntok")).as("n_tokens"),
          floor(count_distinct(col("text")) * lit(1000000L) / count(lit(1)))
            .cast("long").as("distinct_ratio_micros"),
          floor(sum(col("q").cast("long")) * lit(1000000L) / count(lit(1)))
            .cast("long").as("mean_quality_micros"))
      val lang = docs
        .select(col("source"), TA2.langIdProfile(col("text")).as("lang_pred"))
        .groupBy(col("source"), col("lang_pred")).agg(count(lit(1)).as("n"))
      val wl = Window.partitionBy(col("source"))
        .orderBy(col("n").desc, col("lang_pred").asc)
      val topLang = lang.withColumn("rk", row_number().over(wl))
        .filter(col("rk") === 1)
        .select(col("source"), col("lang_pred").as("top_lang"),
          col("n").as("top_lang_docs"))
      val aug = docs.select(col("doc_id"), col("source"),
        piiPlantedText.as("text"))
      val pii = aug.select(col("source"),
          when(C.piiCount(col("text"), "email") +
            C.piiCount(col("text"), "phone") +
            C.piiCount(col("text"), "ip") > 0, 1L).otherwise(0L).as("hit"))
        .groupBy(col("source"))
        .agg(sum(col("hit")).as("pii_docs"), count(lit(1)).as("__n"))
        .select(col("source"), col("pii_docs"),
          floor(col("pii_docs") * lit(1000000L) / col("__n"))
            .cast("long").as("pii_rate_micros"))
      val train = docs.filter(col("doc_id") % 50 =!= 0)
      val flagged = graft.functions.Contamination.overlapReport(
          train, docs.filter(col("doc_id") % 50 === 0),
          "doc_id", "text", n = DecontamN)
        .select(col("id").as("doc_id"))
      val contam = train.select(col("doc_id"), col("source"))
        .join(flagged, Seq("doc_id"), "left_semi")
        .groupBy(col("source")).agg(count(lit(1)).as("contam_docs"))
      val ctr = train.groupBy(col("source"))
        .agg(count(lit(1)).as("n_train_docs"))
        .join(contam, Seq("source"), "left_outer")
        .select(col("source"), col("n_train_docs"),
          coalesce(col("contam_docs"), lit(0L)).as("contam_docs"))
        .select(col("source"), col("n_train_docs"), col("contam_docs"),
          floor(col("contam_docs") * lit(1000000L) / col("n_train_docs"))
            .cast("long").as("contam_rate_micros"))
      base.join(topLang, Seq("source"))
        .join(pii, Seq("source"))
        .join(ctr, Seq("source"))
    }),

    // --- STREAMING arrival for the retrieval stack (r14 verdict #6):
    // the q300 maintenance cadence with the arrival leg IN-STREAM. The
    // batch docs arrive as file micro-batches; posting rows and stats
    // rows are both STATELESS per-row explodes (postingRowsPerDoc /
    // statsRowsPerDoc — tf and dl are pure per-row expressions, so
    // Append mode needs no state store, the q286 discipline), appended
    // to parquet sinks; bm25FromIndex over the post-append index
    // (pre-arrival taps ∪ streamed rows) must equal the full rebuild —
    // oracle = q81's corpus-scan spelling over the whole corpus
    // VERBATIM (the q133 twin trick: the oracle has no index, so a
    // missing or double-counted arrival leg diverges immediately).
    "q316_stream_bm25_arrival" -> ((s, dir) => {
      val I = graft.functions.InvertedIndex
      val R = graft.functions.Relevance
      val table = Tables.stagedTable(s, "graft_q316_postings")
      val docs = Tables.read(s, dir, "documents")
      val pre = docs.filter(col("doc_id") % 50 =!= 3)
      val batch = docs.filter(col("doc_id") % 50 === 3)
        .select(col("doc_id"), col("text"))
      val tap = I.indexTap(table, 16)
      tap.write(I.buildWithDl(pre, "doc_id", "text"),
        graft.sources.SinkMode.Replace)
      val statsTap = graft.sources.ParquetTap(
        graft.queries.Relational.stagePath("graft_q316_stats", dir))
      statsTap.write(R.corpusStats(pre, "text"),
        graft.sources.SinkMode.Replace)
      // the arrival, in-stream: two stateless Append queries over the
      // same staged micro-batches
      val (in, outPost, chkPost) = freshStreamDirs("graft_q316_post")
      val (_, outStats, chkStats) = freshStreamDirs("graft_q316_stats")
      stageSliced(in, Seq(
        batch.filter(col("doc_id") % 2 === 1),
        batch.filter(col("doc_id") % 2 === 0)))
      val stream1 = graft.streaming.StreamOps.readStream(s, in,
        batch.schema, Map("maxFilesPerTrigger" -> "1"))
      graft.streaming.StreamOps.runToParquet(
        I.postingRowsPerDoc(stream1, "doc_id", "text"), outPost, chkPost)
      val stream2 = graft.streaming.StreamOps.readStream(s, in,
        batch.schema, Map("maxFilesPerTrigger" -> "1"))
      graft.streaming.StreamOps.runToParquet(
        I.statsRowsPerDoc(stream2, "text"), outStats, chkStats)
      val streamedPost = Parquet.read(s, outPost)
      val streamedStats = Parquet.read(s, outStats)
      // non-vacuity: the stream leg must actually have contributed, and
      // its per-doc stats rows must account for every batch doc
      require(!streamedPost.limit(1).isEmpty,
        "q316: the streamed arrival appended no posting rows — the " +
          "arrival is vacuous")
      val nBatch = batch.count()
      val nStats = streamedStats.agg(sum(col("n_docs")).cast("long"))
        .collect().head.getLong(0)
      require(nStats == nBatch,
        s"q316: streamed stats cover $nStats docs, batch has $nBatch")
      R.bm25FromIndex(
          tap.read(s).unionByName(streamedPost),
          statsTap.read(s).unionByName(streamedStats),
          Bm25Terms, topK = 20)
        .withColumnRenamed("id", "doc_id")
    }),

    // --- CHECKSUM-VALIDATED PII: payment-card redaction. The card
    // shape (four 4-digit groups) false-positives on order ids and
    // serials constantly, so real scrubbers gate candidates on the
    // Luhn checksum — and so does the dirt: the %19 plant is a
    // shape-matching Luhn-INVALID decoy that must survive unredacted
    // (its digits flow into clean_md5), while the %17 (spaced) and %23
    // (dashed) plants are Luhn-valid and redact. The oracle replays
    // the Luhn arithmetic itself — the checksum is under the hash.
    // Composes with the q285 rules: regex scrub first, card fold after.
    "q317_pii_card" -> contracted(
      Node("Exchange").absent(
        "q317: the card redaction pass must be a single exchange-free scan")
    ) { (s, dir) =>
      val C = graft.functions.Curation
      def plant(m: Int, dirt: String) =
        when(col("doc_id") % m === 0, lit(dirt)).otherwise(lit(""))
      Tables.read(s, dir, "documents")
        .select(col("doc_id"), concat(col("text"),
          plant(17, " pay 4111 1111 1111 1111 ok"),
          plant(19, " order 1234 5678 9012 3456 ref"),
          plant(23, " card 4111-1111-1111-1111 bill")).as("text"))
        .select(col("doc_id"),
          C.cardCount(col("text")).as("n_cards"),
          C.cardMatches(col("text")).as("cards_found"),
          md5(C.cardScrub(C.piiScrub(col("text")))).as("clean_md5"))
    },

    // --- PERPLEXITY-BUCKETED mixture sampling (the CCNet recipe,
    // Wenzek et al. 2020): per-source head/middle/tail by LM surprisal,
    // then per-bucket reproducible keep rates (head 100 / middle 50 /
    // tail 10). Every stage is an existing gated spelling composed:
    // q264's BIGRAM surprisal (the unigram proxy is DEGENERATE on this
    // corpus — 95% of documents share one quantized value, collapsing
    // every bucket to tail; the bigram model spreads properly), q172's
    // bounded-domain CDF (the proxy quantizes to CENTIBITS per bigram
    // first — micros granularity would make the CDF table corpus-sized
    // and break its broadcast contract), q84's hash keep-predicate with
    // the bucket as the stratum. Membership is a pure function of
    // (salt, doc_id) — auditable, engine-independent.
    "q318_perplexity_mixture" -> ((s, dir) => {
      val G = graft.functions.Governance
      val docs = Tables.read(s, dir, "documents")
      val per = graft.functions.LanguageModel.bigramSurprisal(docs)
        .filter(col("n_bi") >= 1) // sub-2-token docs have no LM signal
        .select(col("doc_id"),
          expr("bigram_bits * 100 div n_bi").as("ppl_cb"))
      val scored = docs.select(col("doc_id"), col("source"))
        .join(per, Seq("doc_id"))
      val pct = G.quantileNormalize(scored, "doc_id", "source", "ppl_cb")
      val bucketed = pct.withColumn("bucket",
        when(col("pct_micros") <= 333333L, "head")
          .when(col("pct_micros") <= 666666L, "middle")
          .otherwise("tail"))
      require(bucketed.select(col("bucket")).distinct().count() == 3,
        "q318: the perplexity bucketing is vacuous — a degenerate " +
          "score distribution collapsed a bucket (the unigram-proxy " +
          "failure mode this gate exists to catch)")
      bucketed
        .filter(G.stratifiedKeep(col("doc_id"), col("bucket"),
          Seq("head" -> 100, "middle" -> 50, "tail" -> 10), 0,
          "graft-ccnet"))
        .select(col("doc_id"), col("source"), col("ppl_cb"),
          col("pct_micros"), col("bucket"))
    }),

    // --- the CCNet mixture on a TRAINED LM's perplexity (r15 verdict
    // #4 — the paper buckets on an LM perplexity, not raw surprisal):
    // q318's head/middle/tail recut from the interpolated KNESER-NEY
    // bigram model served off the PERSISTED count-table artifact
    // (q274's tap + scoreKneserNeyAgainstCounts — the LM artifact's
    // second consumer). Signal = −(kn_micros div n_bi), negated so
    // ascending = ascending perplexity and q318's bucket spelling
    // carries verbatim (head = lowest perplexity); exact integer
    // division of non-negatives, so div/floor-// agree. Self-scoring:
    // n_oov must be ZERO (asserted directed — the q274 contract);
    // 3-bucket non-vacuity asserted (the q318 lesson). Oracle chains
    // the SHARED knBigramCtes fragment (q269/q274's spelling) into
    // q172's CDF and q84's hash keep.
    "q328_kn_perplexity_mixture" -> ((s, dir) => {
      val G = graft.functions.Governance
      val LM = graft.functions.LanguageModel
      val table = Tables.stagedTable(s, "graft_q328_bgcounts")
      val docs = Tables.read(s, dir, "documents")
      val tap = LM.bigramCountsTap(table, 16)
      tap.write(LM.bigramTrainCounts(docs), graft.sources.SinkMode.Replace)
      val per = LM.scoreKneserNeyAgainstCounts(tap.read(s), docs)
        .select(col("doc_id"), col("n_bi"),
          when(col("n_oov") =!= 0L, raise_error(concat(
            lit("q328: self-scoring found "), col("n_oov").cast("string"),
            lit(" OOV positions for doc "), col("doc_id").cast("string"),
            lit(" — the persisted count table does not cover its own " +
              "training corpus"))))
            .otherwise(col("kn_micros")).as("kn_micros"))
        .filter(col("n_bi") >= 1) // sub-2-token docs have no LM signal
        .select(col("doc_id"), expr("-(kn_micros div n_bi)").as("neg_kn"))
      val scored = docs.select(col("doc_id"), col("source"))
        .join(per, Seq("doc_id"))
      val pct = G.quantileNormalize(scored, "doc_id", "source", "neg_kn")
      val bucketed = pct.withColumn("bucket",
        when(col("pct_micros") <= 333333L, "head")
          .when(col("pct_micros") <= 666666L, "middle")
          .otherwise("tail"))
      require(bucketed.select(col("bucket")).distinct().count() == 3,
        "q328: the KN-perplexity bucketing is vacuous — a degenerate " +
          "score distribution collapsed a bucket")
      bucketed
        .filter(G.stratifiedKeep(col("doc_id"), col("bucket"),
          Seq("head" -> 100, "middle" -> 50, "tail" -> 10), 0,
          "graft-ccnet-kn"))
        .select(col("doc_id"), col("source"), col("neg_kn"),
          col("pct_micros"), col("bucket"))
    }),

    // --- the CCNet pipeline END TO END (Wenzek et al. 2020 — the
    // capstone composition over the repo's own stages): language
    // identification (q188's Cavnar–Trenkle profile chain) keeps
    // identified docs → boilerplate-paragraph strip (q211's operator
    // over the q211 dirt classes) cleans them → the interpolated-KN
    // perplexity signal (q328's, self-scored on the CLEANED corpus,
    // newlines flattened) buckets head/middle/tail per source → the
    // per-bucket hash keep (q84) samples the mixture. Every fragment
    // is its standalone gate's spelling — drift anywhere fails both
    // that gate and this composition. Asserted in-query: the lid
    // filter both keeps and drops, the strip actually dropped
    // paragraphs, and all 3 buckets are populated.
    "q332_ccnet_pipeline" -> ((s, dir) => {
      val TA2 = graft.functions.TextAnalysis
      val C = graft.functions.Curation
      val LM = graft.functions.LanguageModel
      val G = graft.functions.Governance
      val docs = Tables.read(s, dir, "documents")
      val lid = docs.select(col("doc_id"), col("source"), col("text"),
        TA2.langIdProfile(col("text")).as("__lang")).localCheckpoint()
      val kept = lid.filter(col("__lang") =!= "unknown")
      val (nAll, nKept) = (lid.count(), kept.count())
      require(nKept > 0 && nKept < nAll,
        s"q332: the language filter is vacuous — kept $nKept of $nAll")
      val aug = kept.select(col("doc_id"),
        concat(col("text"),
          when(col("doc_id") % 3 === 0, lit("\n" + Boiler1))
            .otherwise(lit("")),
          when(col("doc_id") % 5 === 0, lit("\n" + Boiler2))
            .otherwise(lit(""))).as("text"))
      val stripped = C.stripBoilerplateParagraphs(
        aug, "doc_id", "text", minDocFreq = 3, wideHash = true)
        .localCheckpoint()
      require(!stripped.filter(col("n_dropped") > 0).limit(1).isEmpty,
        "q332: the boilerplate strip dropped nothing — the dirt is " +
          "vacuous")
      val cleaned = stripped.select(col("doc_id"),
        translate(col("clean_text"), "\n", " ").as("text"))
      val per = LM.kneserNeyBigram(cleaned)
        .filter(col("n_bi") >= 1)
        .select(col("doc_id"), expr("-(kn_micros div n_bi)").as("neg_kn"))
      val scored = kept.select(col("doc_id"), col("source"))
        .join(per, Seq("doc_id"))
      val pct = G.quantileNormalize(scored, "doc_id", "source", "neg_kn")
      val bucketed = pct.withColumn("bucket",
        when(col("pct_micros") <= 333333L, "head")
          .when(col("pct_micros") <= 666666L, "middle")
          .otherwise("tail"))
      require(bucketed.select(col("bucket")).distinct().count() == 3,
        "q332: the pipeline bucketing is vacuous — a degenerate score " +
          "distribution collapsed a bucket")
      bucketed
        .filter(G.stratifiedKeep(col("doc_id"), col("bucket"),
          Seq("head" -> 100, "middle" -> 50, "tail" -> 10), 0,
          "graft-ccnet-pipe"))
        .select(col("doc_id"), col("source"), col("neg_kn"),
          col("pct_micros"), col("bucket"))
    }),

    // --- REPEAT-AWARE token budgeting (data-constrained scaling,
    // Muennighoff et al. 2023): allocate a training budget of 3.9×
    // the corpus across sources by exact-integer WATERFILLING under
    // the 4-epoch repeat cap — small sources cap at 4 epochs, the rest
    // share the water level λ (the closed-form prefix-sum solve, no
    // iterative waterfall). Non-vacuity asserted: at least one source
    // capped AND at least one at the level (an all-capped budget
    // refuses directed inside the operator — serving beyond 4 epochs
    // is the paper's anti-pattern). Everything after the one corpus
    // scan is O(sources) rows.
    "q319_token_budget" -> ((s, dir) => {
      val G = graft.functions.Governance
      val per = Tables.read(s, dir, "documents")
        .select(col("source"),
          size(expr("filter(split(text, ' '), w -> w != '')"))
            .cast("long").as("ntok"))
        .groupBy(col("source")).agg(sum(col("ntok")).as("avail"))
      val total = per.agg(sum(col("avail"))).collect().head.getLong(0)
      val out = G.tokenBudgetWaterfill(per, "source",
        budget = 39L * total / 10L, maxEpochs = 4)
      val st = out.agg(
        sum(when(col("capped"), 1L).otherwise(0L)).as("nc"),
        count(lit(1)).as("n")).collect().head
      require(st.getLong(0) >= 1 && st.getLong(0) < st.getLong(1),
        s"q319: waterfill vacuous — ${st.getLong(0)} of " +
          s"${st.getLong(1)} sources capped (need a mix)")
      out
    }),

    // --- snapshot diff (CDC between two snapshot versions): yesterday's
    // and today's corpus snapshots live in the SAME bucketed layout, so
    // the full-outer comparison plans with ZERO exchanges — both sides
    // are bucket-aware scans and the merge join runs inside co-located
    // buckets (asserted; the merge hint keeps the assert from being
    // satisfied vacuously by a broadcast plan). Inserts/deletes/updates
    // are synthesized deterministically; unchanged keys must vanish.
    "q145_snapshot_diff" -> contracted(
      Node("Exchange").absent(
        "co-bucketed snapshot diff must plan with ZERO exchanges"),
      BucketedScan.exactly(2,
        "both snapshot versions must be bucket-aware scans")
    ) { (s, dir) =>
      val (t1, t2) = (Tables.stagedTable(s, "graft_q145_snap_v1"),
        Tables.stagedTable(s, "graft_q145_snap_v2"))
      val docs = Tables.read(s, dir, "documents")
      graft.functions.Snapshot.snapshotTap(t1, 8, "doc_id").write(
        docs.filter(col("doc_id") % 11 =!= 5)
          .select(col("doc_id"), col("text"), col("source")),
        graft.sources.SinkMode.Replace)
      graft.functions.Snapshot.snapshotTap(t2, 8, "doc_id").write(
        docs.filter(col("doc_id") % 13 =!= 3)
          .select(col("doc_id"),
            when(col("doc_id") % 7 === 2, concat(lit("v2 "), col("text")))
              .otherwise(col("text")).as("text"),
            col("source")),
        graft.sources.SinkMode.Replace)
      mergeJoins(graft.functions.Snapshot.diff(
          s.table(t1), s.table(t2), "doc_id", Seq("text", "source"))
        .select(col("doc_id"), col("change"),
          md5(col("text")).as("text_md5"), col("source")))
    },

    // --- STREAMING upsert sink: the q142 merge as a live foreachBatch
    // loop with blue/green publication — each micro-batch upserts into
    // the current snapshot version and publishes the result as the other
    // table of an A/B pair in the same bucketed layout (readers never see
    // a half-written snapshot; the merge keeps its zero-snapshot-side-
    // exchange plan every cycle). Batch keys OVERLAP across the three
    // arrivals (%4==0 updated by all three, %4==1 by two, %4==2 by one),
    // so the version lineage in the final snapshot proves each batch
    // applied exactly once IN SEQUENCE; an insert mid-stream (batch 1)
    // proves the insert path. The sequential-batch guarantee + idempotent
    // batchId guard is exactly the production foreachBatch contract.
    "q146_stream_upsert" -> ((s, dir) => {
      val (in, _, chk) = freshStreamDirs("graft_q146_stream")
      val docs = Tables.read(s, dir, "documents")
        .select(col("doc_id"), col("text"), col("source"))
      val pp = new graft.functions.Snapshot.PingPong(
        s, Tables.processLocal("graft_q146_snap"), 8, "doc_id", Seq("text", "source"), "version")
      pp.bootstrap(docs.withColumn("version", lit(1L)))
      stageSliced(in, Seq(
        docs.filter(col("doc_id") % 4 === 0)
          .withColumn("text", concat(lit("b0 "), col("text"))),
        docs.filter(col("doc_id") % 4 <= 1)
          .withColumn("text", concat(lit("b1 "), col("text")))
          .unionAll(docs.filter(col("doc_id") % 40 === 13)
            .select((col("doc_id") + 1000000L).as("doc_id"),
              concat(lit("ins "), col("text")).as("text"), col("source"))),
        docs.filter(col("doc_id") % 4 <= 2)
          .withColumn("text", concat(lit("b2 "), col("text")))))
      val stream = graft.streaming.StreamOps.readStream(s, in, docs.schema,
        Map("maxFilesPerTrigger" -> "1"))
      graft.streaming.StreamOps.runForeachBatch(stream, chk)(pp.applyBatch)
      pp.live.select(col("doc_id"), md5(col("text")).as("text_md5"),
        col("source"), col("version"))
    }),

    // --- leakage-safe split: train/val/test membership keyed by the
    // NEAR-DUP CLUSTER id (q64's label propagation), not the doc id — a
    // per-doc split (q91) puts a doc in train while its near-identical
    // twin lands in test; splitting by cluster keeps every near-dup
    // family on one side of every boundary BY CONSTRUCTION. maxIters=8
    // must equal the oracle's unrolled round count (the q64 discipline).
    "q147_leakage_safe_split" -> ((s, dir) =>
      graft.functions.Governance.leakageSafeSplit(
        Tables.read(s, dir, "documents"), "doc_id", "text",
        88, 7, SplitSalt, k = 16, bands = 4, maxIters = 8)),

    // --- the curation pipeline END TO END: boilerplate strip (q139 op) →
    // model-based quality filter over the CLEANED text (q143 op) → exact
    // dedup of the cleaned text, smallest id the keeper (q24 discipline).
    // The point of the gate is COMPOSITION: each stage is individually
    // oracle-proven; this proves they compose — the whole chain, hashed
    // per surviving doc, against an independently re-spelled SQL chain.
    // Scale: strip is the q138/q139 plan (broadcast dup set, per-doc
    // windows), the logit is a scan-local fold, the dedup agg keys on
    // md5(clean_text) — uniform; no stage adds a new scale hazard.
    "q148_curation_e2e" -> ((s, dir) => {
      val docs = Tables.read(s, dir, "documents")
      val cleaned = graft.functions.Dedup.stripDuplicatedSpans(
        docs, "doc_id", "text", n = 8, minDocs = 2)
      cleaned.filter(col("n_kept") > 0L)
        .withColumn("logit", graft.functions.Relevance.hashClassifierLogit(
          col("clean_text"), dims = 4096, salt = "w#"))
        .filter(col("logit") >= 0L)
        .groupBy(md5(col("clean_text")).as("clean_md5"))
        .agg(min(col("doc_id")).as("doc_id"),
          min(col("n_kept")).as("n_kept"),
          min(col("logit")).as("logit"))
        .select(col("doc_id"), col("clean_md5"), col("n_kept"), col("logit"))
    }),

    // --- cross-source contamination matrix: distinct shared 8-grams per
    // source pair — the "how much of source B is already in source A"
    // diagnostic run before paying for cross-crawl dedup. Per-hash
    // source SETS (bounded by #sources, never by occurrence count) make
    // this immune to boilerplate skew: a billion-occurrence n-gram still
    // costs one ≤S-element set row.
    "q149_source_overlap" -> ((s, dir) =>
      graft.functions.Contamination.sourceOverlapMatrix(
        Tables.read(s, dir, "documents"), "text", "source", n = 8)),

    // --- q149 at INDEX CADENCE (the q159 treatment): the corpus's
    // (h, source-set) rows persist bucketed by h; a new crawl's matrix
    // recompute full-outer-joins the index (zero corpus-side exchange,
    // plan-asserted), merges sets by union, and must equal the
    // from-scratch q149 matrix over old ∪ batch — the oracle IS q149's
    "q192_source_overlap_indexed" -> ((s, dir) => {
      val table = Tables.stagedTable(s, "graft_q192_gramidx")
      val docs = Tables.read(s, dir, "documents")
      val corpus = docs.filter(col("doc_id") % 10 =!= 7)
      val batch = docs.filter(col("doc_id") % 10 === 7)
      graft.functions.Contamination.sourceGramIndexTap(table, 8).write(
        // narrow oracle-mirroring layout, pinned (q204 gates the wide twin)
        graft.functions.Contamination.sourceGramIndex(
          corpus, "text", "source", n = 8, wideHash = false),
        graft.sources.SinkMode.Replace)
      graft.functions.Contamination.sourceOverlapMatrixIndexed(
        s.table(table), batch, "text", "source", n = 8,
        assertBucketScan = true, wideHash = false)
    }),

    // --- BPE merge induction (tokenizer training). The corpus is scanned
    // ONCE into the word-frequency table; all 8 merge iterations run over
    // that vocab-sized table with a one-row driver carry each (the Lloyd
    // discipline). Oracle = the iterations unrolled as a generated CTE
    // chain, so merge application and tie-break cannot drift.
    "q150_bpe_merges" -> ((s, dir) =>
      graft.functions.Vocab.bpeMerges(
        Tables.read(s, dir, "documents"), "text", nMerges = 8)),

    // --- WORDPIECE training (Schuster & Nakajima 2012 — the BERT
    // tokenizer; the third subword family next to BPE/unigram-LM):
    // continuation symbols carry "##", and each round merges the pair
    // maximizing the LIKELIHOOD score count(lr)/(count(l)·count(r)) —
    // one IEEE division of exact integer counts per candidate, ordered
    // identically by both engines (products ≪ 2^53), ties (l, r) asc.
    // The gate emits the integer counts behind every chosen score
    // (float-free hash); the oracle unrolls all 8 rounds with the
    // argmax in the ORDER BY.
    "q320_wordpiece_merges" -> ((s, dir) =>
      graft.functions.Vocab.wordPieceMerges(
        Tables.read(s, dir, "documents"), "text", nMerges = 8)),

    // --- WORDPIECE encoding — greedy longest-match-first against the
    // q320-trained vocabulary (positional alphabet + all merged
    // symbols, intermediates included): the published serving
    // algorithm, [UNK] when a position has no matching piece. The %31
    // plant appends ' abzd' — 'z' is outside the corpus alphabet at
    // every SF (including the sf1 replica suffixes), so the word goes
    // [UNK] mid-encode; the oracle unrolls the greedy steps over
    // distinct words with the vocabulary spelled from the SAME q320
    // CTE chain. Non-vacuity asserted both ways (some [UNK], some
    // multi-piece encodes).
    "q321_wordpiece_encode" -> ((s, dir) => {
      val V = graft.functions.Vocab
      val docs = Tables.read(s, dir, "documents")
        .select(col("doc_id"), col("text"))
      val merges = V.wordPieceMerges(docs, "text", nMerges = 8)
      val vocab = V.wordPieceVocab(docs, "text", merges)
      val aug = docs.select(col("doc_id"), concat(col("text"),
        when(col("doc_id") % 31 === 0, lit(" abzd"))
          .otherwise(lit(""))).as("text"))
      val out = V.wordPieceEncode(aug, "doc_id", "text", vocab)
        .localCheckpoint()
      require(!out.filter(col("n_unk") > 0).limit(1).isEmpty,
        "q321: no [UNK] fired — the out-of-alphabet plant is vacuous")
      require(!out.filter(col("n_pieces") > col("n_words")).limit(1)
          .isEmpty,
        "q321: every word encoded as one piece — the vocabulary is " +
          "degenerate")
      out
    }),

    // --- STREAMING WordPiece encode (the q287 frozen-model discipline
    // on q321): the vocabulary trains batch-side and freezes as a
    // driver carry; the same planted corpus arrives as file
    // micro-batches and encodes PER ROW in Append mode — the greedy
    // mapPartitions loop is stateless, so the stream needs no state
    // store and the sink must land exactly the batch result (oracle =
    // q321's VERBATIM).
    "q322_stream_wordpiece" -> ((s, dir) => {
      val V = graft.functions.Vocab
      val docs = Tables.read(s, dir, "documents")
        .select(col("doc_id"), col("text"))
      val merges = V.wordPieceMerges(docs, "text", nMerges = 8)
      val vocab = V.wordPieceVocab(docs, "text", merges)
      val aug = docs.select(col("doc_id"), concat(col("text"),
        when(col("doc_id") % 31 === 0, lit(" abzd"))
          .otherwise(lit(""))).as("text"))
      val (in, out, chk) = freshStreamDirs("graft_q322_stream")
      stageSliced(in, Seq(
        aug.filter(col("doc_id") % 3 === 0),
        aug.filter(col("doc_id") % 3 === 1),
        aug.filter(col("doc_id") % 3 === 2)))
      val stream = graft.streaming.StreamOps.readStream(s, in,
        aug.schema, Map("maxFilesPerTrigger" -> "1"))
      graft.streaming.StreamOps.runToParquet(
        V.wordPieceEncode(stream, "doc_id", "text", vocab), out, chk)
      Parquet.read(s, out)
    }),

    // --- the WordPiece vocabulary as a VERSIONED artifact (the q295
    // blocklist discipline on the tokenizer): v1 is the DEGENERATE
    // alphabet-only vocabulary (a zero-merge train), v2 the full 8-merge
    // one; both land as immutable versions, serving loads the LATEST
    // from the tap. The version pick is load-bearing — encoding with
    // the stale v1 would emit only single-char pieces, a different
    // segmentation the oracle hash (q321's VERBATIM) would refuse.
    // Asserted in-query: v2 is strictly larger than v1, and the loaded
    // vocabulary is exactly v2's.
    "q323_wordpiece_model_tap" -> ((s, dir) => {
      val V = graft.functions.Vocab
      val docs = Tables.read(s, dir, "documents")
        .select(col("doc_id"), col("text"))
      val merges = V.wordPieceMerges(docs, "text", nMerges = 8)
      val v1 = V.wordPieceVocab(docs, "text", merges.limit(0))
      val v2 = V.wordPieceVocab(docs, "text", merges)
      require(v1.subsetOf(v2) && v2.size > v1.size,
        "q323: the full vocabulary must strictly extend the " +
          "alphabet-only v1 — the version pick would be vacuous")
      val tap = V.wordPieceModelTap(
        graft.queries.Relational.stagePath("graft_q323_wpmodel", dir))
      tap.write(V.wordPieceModelRows(s, v1, version = 1L),
        graft.sources.SinkMode.Replace)
      tap.write(V.wordPieceModelRows(s, v2, version = 2L),
        graft.sources.SinkMode.Update)
      val loaded = V.loadLatestWordPieceVocab(tap.read(s))
      require(loaded == v2,
        "q323: the loaded latest vocabulary differs from v2 — " +
          "version-pick regression")
      val aug = docs.select(col("doc_id"), concat(col("text"),
        when(col("doc_id") % 31 === 0, lit(" abzd"))
          .otherwise(lit(""))).as("text"))
      V.wordPieceEncode(aug, "doc_id", "text", loaded)
    }),

    // --- the WordPiece REFRESH cadence (r15 verdict #5 — the q295
    // blocklist / q314 rank-artifact production loop on the tokenizer
    // model): the corpus GROWS (every %50==3 doc gains a ' zz' token —
    // 'z' is new to the alphabet), the tokenizer RETRAINS, v3 appends
    // to the versioned tap under the standing v1 (degenerate) and v2
    // (pre-growth train), and serving FLIPS to v3. Gated output =
    // post-refresh encode of the grown corpus, whose oracle is the
    // from-scratch train+encode on that same grown corpus (the q133
    // twin trick: a stale v2 load, a missed retrain, or a broken
    // version pick all diverge the hash). Asserted in-query: v3 != v2
    // (the retrain actually moved), loaded == v3 (version pick), and
    // the stale-v2 counterfactual encode differs on >= 1 row (the
    // flip is load-bearing).
    "q329_wordpiece_refresh" -> ((s, dir) => {
      val V = graft.functions.Vocab
      val docs = Tables.read(s, dir, "documents")
        .select(col("doc_id"), col("text"))
      val grown = docs.select(col("doc_id"), concat(col("text"),
        when(col("doc_id") % 50 === WpRefreshResidue,
          lit(" " + WpRefreshToken)).otherwise(lit(""))).as("text"))
      val pre = docs.filter(col("doc_id") % 50 =!= WpRefreshResidue)
      // the standing artifact: degenerate v1 under the pre-growth v2
      val mergesPre = V.wordPieceMerges(pre, "text", nMerges = 8)
      val v1 = V.wordPieceVocab(pre, "text", mergesPre.limit(0))
      val v2 = V.wordPieceVocab(pre, "text", mergesPre)
      val tap = V.wordPieceModelTap(
        graft.queries.Relational.stagePath("graft_q329_wpmodel", dir))
      tap.write(V.wordPieceModelRows(s, v1, version = 1L),
        graft.sources.SinkMode.Replace)
      tap.write(V.wordPieceModelRows(s, v2, version = 2L),
        graft.sources.SinkMode.Update)
      // the refresh: corpus grew → retrain → v3 appends → serving flips
      val mergesV3 = V.wordPieceMerges(grown, "text", nMerges = 8)
      val v3 = V.wordPieceVocab(grown, "text", mergesV3)
      require(v3 != v2,
        "q329: the retrain on the grown corpus reproduced v2 exactly — " +
          "the refresh fixture is vacuous")
      tap.write(V.wordPieceModelRows(s, v3, version = 3L),
        graft.sources.SinkMode.Update)
      val loaded = V.loadLatestWordPieceVocab(tap.read(s))
      require(loaded == v3,
        "q329: the loaded latest vocabulary differs from v3 — " +
          "version-pick regression")
      val out = V.wordPieceEncode(grown, "doc_id", "text", loaded)
        .localCheckpoint()
      val stale = V.wordPieceEncode(grown, "doc_id", "text", v2)
      require(!out.exceptAll(stale).limit(1).isEmpty,
        "q329: the v3 flip changed nothing against the stale v2 " +
          "encode — the refresh gate is vacuous")
      out
    }),

    // --- Heaps-law vocabulary growth over ingest order (bucket = doc_id
    // div 50): new token types, cumulative types, token totals per
    // bucket. One explode scan; (bucket, tok) agg keys near-uniform; the
    // cumulative window runs over O(buckets) rows.
    "q151_vocab_growth" -> ((s, dir) =>
      graft.functions.Vocab.vocabGrowth(
        Tables.read(s, dir, "documents"), "text", "doc_id",
        bucketSize = 50L)),

    // --- tokenizer APPLICATION: learn 8 merges (q150's loop — an
    // O(nMerges)-row driver carry), then encode the whole corpus in one
    // explode scan through the compiled replace chain; per-doc subword
    // stats under the hash prove the end-to-end learn→encode story.
    "q152_bpe_encode" -> ((s, dir) => {
      val docs = Tables.read(s, dir, "documents")
      val merges = graft.functions.Vocab.bpeMerges(docs, "text", nMerges = 8)
        .collect().sortBy(_.getInt(0))
        .map(r => (r.getString(1), r.getString(2))).toSeq
      graft.functions.Vocab.bpeEncode(docs, "doc_id", "text", merges)
    }),

    // --- containment (near-SUBSET) detection on arrival: a batch of
    // half-excerpts (doc_id%50==3, ids +2e6 — crafted so the gate is
    // non-vacuous AND containment-only: every find has jaccard ≈ 0.47,
    // invisible to resemblance dedup) verified against the corpus via
    // shared band buckets only — the q127 batch-vs-corpus discipline.
    "q153_containment_arrival" -> ((s, dir) => {
      val docs = Tables.read(s, dir, "documents")
      val t = split(col("text"), " ")
      val batch = docs.filter(col("doc_id") % 50 === 3)
        .select((col("doc_id") + 2000000L).as("doc_id"),
          concat_ws(" ", slice(t, lit(1),
            expr("(size(split(text, ' ')) + 1) div 2"))).as("text"))
      graft.functions.Dedup.containmentAgainstCorpus(
        docs, batch, "doc_id", "text", thresholdMicros = 900000L)
    }),

    // --- token-budget-capped quality curation: per source, the best 40%
    // of tokens by quality class; the single boundary class per source
    // admits the greedy (hash, id) prefix EXACTLY via the q51
    // range-partitioned two-pass scan — no per-source global sort.
    "q154_budget_curate" -> ((s, dir) =>
      graft.functions.Governance.budgetCurate(
        Tables.read(s, dir, "documents"), "doc_id", "source",
        TA.qualityScore(col("text")), TA.tokenCount(col("text")),
        budgetPpm = 400000L, salt = "graft-r7-budget")),

    // --- Stupid Backoff trigram LM fluency (Brants 2007 — the CCNet
    // perplexity-filter role without libm): train on the 49/50 corpus
    // slice, score the held-out slice with an appended doc_id-derived
    // OOV token (qz0..qz4 — crafted so every backoff arm is reachable:
    // unseen trigram → bigram, unseen bigram → unigram, OOV → 0).
    // See LanguageModel.stupidBackoff for the 100 TB notes.
    "q155_sb_fluency" -> ((s, dir) => {
      val docs = Tables.read(s, dir, "documents")
      val train = docs.filter(col("doc_id") % 50 =!= 3)
      val batch = docs.filter(col("doc_id") % 50 === 3)
        .select(col("doc_id"),
          concat(col("text"), lit(" qz"),
            (col("doc_id") % 5).cast("string")).as("text"))
      graft.functions.LanguageModel.stupidBackoff(train, batch)
    }),

    // --- SemDeDup semantic dedup over the q43 augmented table: per-vector
    // KEEP/DROP verdicts instead of q43's raw pair list. Same deterministic
    // augmentation (exact copies +100000, element-0-perturbed +200000) so
    // the drop set is non-vacuous: copies drop with dup_of = their source,
    // sim 1.0; originals keep. Verdict rule (min-id survivor) documented at
    // Similarity.semanticDedup.
    "q156_semantic_dedup" -> ((s, dir) => {
      val e = Tables.read(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding"))
      val dups = e.filter(col("vec_id") < 5)
        .select((col("vec_id") + 100000).as("vec_id"), col("embedding"))
      val near = e.filter(col("vec_id") >= 5 && col("vec_id") < 8)
        .select((col("vec_id") + 200000).as("vec_id"),
          transform(col("embedding"), (x, i) =>
            when(i === 0, x + lit(0.25f)).otherwise(x)).as("embedding"))
      graft.functions.Similarity.semanticDedup(
        e.union(dups).union(near), "vec_id", "embedding", simThreshold = 0.95)
    }),

    // --- q152's learn→encode through the FLAT encoder: the same 8
    // learned merges, applied as ONE BpeEncode expression node per
    // DISTINCT word (plan depth constant in merge count — the form that
    // survives a 50k-merge tokenizer) and joined back to corpus
    // positions. Oracle = q152's oracle verbatim: the two encode paths
    // are value-identical by construction, and the gate proves it.
    "q157_bpe_encode_flat" -> ((s, dir) => {
      val docs = Tables.read(s, dir, "documents")
      val merges = graft.functions.Vocab.bpeMerges(docs, "text", nMerges = 8)
        .collect().sortBy(_.getInt(0))
        .map(r => (r.getString(1), r.getString(2))).toSeq
      graft.functions.Vocab.bpeEncodeFlat(docs, "doc_id", "text", merges)
    }),

    // --- 256-merge vocabulary at flat plan depth: word-level BPE
    // (phrase induction), 4 round-batched derivation rounds × 64 merges,
    // each round one pair-counting scan + a 64-row driver carry + one
    // BpeEncode node. The corpus' 31-word char vocabulary exhausts char
    // merges near ~150, so the ≥256-merge depth gate runs at the word
    // level where the pair space (916 distinct adjacent token pairs at
    // sf0.01) sustains 4 full rounds.
    "q158_phrase_bpe256" -> ((s, dir) =>
      graft.functions.Vocab.phraseBpe(
        Tables.read(s, dir, "documents"), "doc_id", "text",
        rounds = 4, perRound = 64)),

    // --- REALISTIC-VOCAB tokenizer: 8 rounds × 512 = 4096 derived
    // merges (requireFullRounds fails directed if any round's pair
    // space runs dry — measured 12k+ distinct pairs/round from round 2,
    // so the full 4096 is a gated fact at every SF), encoded through
    // the flat-depth BpeEncode node. This is the evidence behind the
    // q157 "survives a 50k-merge tokenizer" claim: the in-query asserts
    // pin that the FINAL plan carries exactly ONE bpe_encode node and
    // a constant tree depth — merge count is data (a reference object
    // the generated code loops over), never plan shape. FunctionsSpec
    // pins depth(perRound=2) == depth(perRound=512) on a toy corpus.
    "q263_phrase_bpe4k" -> contracted(
      Holds("q263: executed-plan depth above 16 after 4096 merges — the " +
        "flat encoder's depth must be constant in merge count")(
        PlanContract.depth(_) <= 16),
      Expr("bpe_encode").exactly(1,
        "q263: final plan must carry exactly ONE flat BpeEncode node " +
        "(localCheckpoint truncates prior rounds; merges live in the " +
        "node's reference table, not the plan)"),
      Expr("replace").absent(
        "q263: a nested replace chain leaked into the plan — the " +
        "unanalyzable-at-50k form q157/q263 exist to prevent")
    ) { (s, dir) =>
      graft.functions.Vocab.phraseBpe(
        Tables.read(s, dir, "documents"), "doc_id", "text",
        rounds = 8, perRound = 512, requireFullRounds = true)
    },

    // --- the 4096-merge gate at a REALISTIC VOCABULARY (round-12
    // verdict item 3): token ⊕ doc-id salting widens the 31-word synth
    // to 31 × n_docs word types (15.5k at the gate SF, 155k at sf0.1),
    // and 16 rounds × 1024 derive 16,384 merges through the same
    // round-batched loop — merge diversity is now empirical, not
    // plan-depth-extrapolated. requireFullRounds fails directed if any
    // round's pair space runs dry; the driver carry stays 1024 rows per
    // round; the plan asserts are q263's verbatim (ONE flat bpe_encode
    // node, constant depth — 16k merges are DATA, not plan shape).
    "q276_phrase_bpe16k" -> contracted(
      Holds("q276: executed-plan depth above 16 after 16384 merges — the " +
        "flat encoder's depth must be constant in merge count")(
        PlanContract.depth(_) <= 16),
      Expr("bpe_encode").exactly(1,
        "q276: final plan must carry exactly ONE flat BpeEncode node"),
      Expr("replace").absent(
        "q276: a nested replace chain leaked into the plan")
    ) { (s, dir) =>
      val docs = Tables.read(s, dir, "documents")
        .select(col("doc_id"),
          regexp_replace(col("text"), lit("(\\S+)"),
            concat(lit("$1~"), col("doc_id").cast("string"))).as("text"))
      graft.functions.Vocab.phraseBpe(docs, "doc_id", "text",
        rounds = 16, perRound = 1024, requireFullRounds = true)
    },

    // --- the OTHER subword-tokenizer family: unigram-LM Viterbi
    // segmentation + ONE hard-EM re-estimation round (Kudo 2018 /
    // SentencePiece, hard-EM variant), all exact-integer bits scores
    // (Vocab.scala scaladoc). The oracle does NOT re-implement the DP —
    // it enumerates EVERY composition of every word into vocabulary
    // pieces (recursive CTE) and takes the same (score DESC, n_pieces
    // ASC, seg ASC) argmax, so the Viterbi table, its tie order, and the
    // prefix-decomposability argument in UnigramSegment.scala are all
    // independently verified. Plan asserts: the ONE corpus scan is
    // checkpointed away, so the EM chain's final plan is corpus-free,
    // and the per-piece bits join is the explicit broadcast (every
    // other join carries the merge hint).
    "q281_unigram_em_segment" -> contracted(
      Scan("documents.parquet").absent(
        "q281: the EM chain must be corpus-free after the checkpointed " +
        "word table (one corpus scan total)"),
      Expr("unigram_segment").present(
        "q281: the Viterbi expression node is missing from the plan"),
      Node("BroadcastHashJoin").present(
        "q281: the per-piece bits join must execute the broadcast " +
        "(only the hint can plan one)")
    ) { (s, dir) =>
      val docs = Tables.read(s, dir, "documents")
      mergeJoins(graft.functions.Vocab.unigramEmSegmented(docs, "text"))
    },

    // --- MULTI-ROUND unigram EM with the SHRINKING-VOCABULARY pruning
    // schedule (round-13 verdict item 3): 3 rounds of Viterbi →
    // usage re-estimation → keep-top-⌈M/2⌉ loss-proxy prune +
    // single-char coverage floor, then the final encode against the
    // round-3 model. The oracle replays the WHOLE schedule round-for-
    // round as unrolled DP (the q287 spelling) — a wrong prune rank, a
    // missed floor, or an off-by-one in ⌈M·keepPct/100⌉ shifts every
    // later round's scores and fails the hash; live_multi (the
    // schedule's endpoint) is a gated column. Non-vacuity asserted
    // in-query: every round PRUNED (kept < used) and the used set never
    // grows back above the previous round's kept set. Plan: the q281
    // contract — corpus-free after the one checkpointed word-table
    // scan, Viterbi as the codegen'd expression node.
    "q294_unigram_pruned_em" -> contracted(
      Scan("documents.parquet").absent(
        "q294: the EM schedule must be corpus-free after the " +
          "checkpointed word table (one corpus scan total)"),
      Expr("unigram_segment").present(
        "q294: the Viterbi expression node is missing from the plan")
    ) { (s, dir) =>
      val docs = Tables.read(s, dir, "documents")
      val (df, schedule) = graft.functions.Vocab.unigramEmPruned(
        docs, "text", rounds = 3, keepPct = 50)
      schedule.foreach { case (m, k) =>
        require(k < m, s"q294: a round kept $k of $m used multi pieces " +
          "— the prune never fired (vacuous schedule)")
      }
      require(schedule.sliding(2).forall {
        case Seq((_, k1), (m2, _)) => m2 <= k1
        case _ => true
      }, s"q294: used-piece counts grew across rounds ($schedule) — " +
        "a pruned piece came back")
      df
    },

    // --- the pruning schedule at the REALISTIC word space (q287 × q294
    // composition): the %512-salted ~12k-type vocabulary (SF-stable by
    // the cap — the oracle's DP cost is pinned), seed 4096 multi-char
    // pieces, 3 pruning rounds at keep-50%. The q287 realism floor
    // carries as a schedule assert: the first round must USE ≥ 1024
    // multi pieces, so the prune has a real population to cut. Oracle =
    // the q294 round-for-round DP replay at maxWordLen 12 (salt suffix
    // ~NNN). Demonstrates the schedule's scale contract: rounds are
    // vocab-sized, the model carry shrinks geometrically, plan shape is
    // constant in both round count and vocabulary size.
    "q299_unigram_pruned_salted" -> contracted(
      Scan("documents.parquet").absent(
        "q299: the EM schedule must be corpus-free after the " +
          "checkpointed word table"),
      Expr("unigram_segment").present(
        "q299: the Viterbi expression node is missing from the plan")
    ) { (s, dir) =>
      val docs = Tables.read(s, dir, "documents")
        .select(col("doc_id"),
          regexp_replace(col("text"), lit("(\\S+)"),
            concat(lit("$1~"), (col("doc_id") % 512).cast("string")))
            .as("text"))
      val (df, schedule) = graft.functions.Vocab.unigramEmPruned(
        docs, "text", rounds = 3, keepPct = 50,
        maxPieceLen = 4, topK = 4096)
      require(schedule.head._1 >= 1024,
        s"q299: round 1 used only ${schedule.head._1} multi pieces — " +
          "below the realism floor (the q287 discipline)")
      schedule.foreach { case (m, k) =>
        require(k < m, s"q299: a round kept $k of $m — vacuous prune")
      }
      df
    },

    // --- the frozen-tokenizer ARRIVAL cadence (the q159/q273
    // amortization discipline applied to the unigram model): train on
    // the %50≠3 corpus once, persist the post-EM (p, u) usage table —
    // the MODEL, O(V) rows, the same carry contract as a BPE merge list
    // — then score the %50=3 batch against the frozen tap. Each batch
    // doc carries one NOVEL concatenated word (corpus word pairs, so
    // every character is covered but the WORD is unseen at every SF):
    // the frozen vocabulary must generalize — segment words it never
    // saw into pieces it did learn ("streamfilter" → st|ream|filt|er).
    // Plan asserts: the scoring plan never rescans the corpus (batch is
    // checkpointed; the only file scan is the model tap) and both the
    // piece-bits join and the word-seg join-back broadcast explicitly.
    "q282_unigram_frozen_arrival" -> contracted(
      Scan("documents.parquet").absent(
        "q282: arrival scoring must never rescan the corpus — the " +
        "frozen model tap is the only file scan allowed in this plan"),
      Scan("graft_q282_unigram_model").present(
        "q282: the frozen model tap scan is missing from the plan"),
      Node("BroadcastHashJoin").atLeast(2,
        "q282: the piece-bits join and the word-seg join-back must " +
        "both execute as explicit broadcasts")
    ) { (s, dir) =>
      val docs = Tables.read(s, dir, "documents")
      val tap = graft.functions.Vocab.unigramModelTap(
        graft.queries.Relational.stagePath("graft_q282_unigram_model", dir))
      tap.write(
        graft.functions.Vocab.unigramTrainModel(
          docs.filter(col("doc_id") % 50 =!= 3), "text"),
        graft.sources.SinkMode.Replace)
      val novel = graft.functions.Vocab.UnigramNovelWords
      val batch = docs.filter(col("doc_id") % 50 === 3)
        .select(col("doc_id"), concat(col("text"), lit(" "),
          element_at(
            array(novel.map(lit): _*),
            (col("doc_id") % 5 + 1).cast("int"))).as("text"))
        .localCheckpoint()
      mergeJoins(
        graft.functions.Vocab.scoreUnigramArrivals(tap.read(s), batch))
    },

    // --- the unigram family at a REALISTIC WORD SPACE (the q276
    // realism discipline applied to q281): token ⊕ (doc_id % 512)
    // salting widens the 31-word synth to ~12-16k word TYPES — capped at
    // 512 salts so the vocabulary (and the oracle's exhaustive
    // enumeration cost) is stable across SFs — and the FULL multi-char
    // piece inventory trains, floored at ≥ 2048 pieces (fails DIRECTED
    // if the space runs dry; piece-count realism beyond the substring
    // diversity of this synth is the BPE family's q276). Same corpus-
    // free-after-checkpoint and explicit-broadcast plan asserts as q281;
    // the Viterbi table here carries thousands of entries as DATA in the
    // expression's reference object — plan shape unchanged.
    "q287_unigram_salted" -> contracted(
      Scan("documents.parquet").absent(
        "q287: the EM chain must be corpus-free after the checkpointed " +
        "word table (one corpus scan total)"),
      Node("BroadcastHashJoin").present(
        "q287: the per-piece bits join must execute the broadcast")
    ) { (s, dir) =>
      val docs = Tables.read(s, dir, "documents")
        .select(col("doc_id"),
          regexp_replace(col("text"), lit("(\\S+)"),
            concat(lit("$1~"), (col("doc_id") % 512).cast("string")))
            .as("text"))
      mergeJoins(graft.functions.Vocab.unigramEmSegmented(docs, "text",
        maxPieceLen = 4, topK = 4096, minMultiPieces = 2048))
    },

    // --- PII scrubbing (the compliance redaction pass): email/phone/
    // IPv4 rules from ONE shared constant table (Curation.PiiRules)
    // driving both the Spark kernel chain and the DuckDB oracle
    // spelling, in the engines' common regex subset. Dirt is planted
    // deterministically on doc_id residues (the q211/q278 discipline) so
    // every rule provably fires — and fires MULTIPLE times on the
    // residue intersections; the gate hashes the scrubbed text and the
    // extracted VALUES, not just counts. Plan assert: the whole query is
    // ONE scan-shaped projection — exchange-free.
    "q285_pii_scrub" -> contracted(
      Node("Exchange").absent(
        "q285: the redaction pass must be a single exchange-free scan")
    ) { (s, dir) =>
      piiScrubProjection(Tables.read(s, dir, "documents"))
    },

    // --- the STREAMING PII screen (the q270 stateless-in-stream
    // discipline): the same planted corpus arrives as file micro-batches,
    // the whole redaction runs per-row in Append mode — no state store,
    // no watermark, nothing to recover — and the sink is verified against
    // q285's batch oracle VERBATIM. This is the compliance screen at
    // ingest cadence: scrub-before-land, not scrub-after-accumulate.
    "q286_stream_pii_screen" -> ((s, dir) => {
      val (in, out, chk) = freshStreamDirs("graft_q286_stream")
      val docs = Tables.read(s, dir, "documents")
        .select(col("doc_id"), col("text"))
      stageSliced(in, Seq(
        docs.filter(col("doc_id") % 3 === 0),
        docs.filter(col("doc_id") % 3 === 1),
        docs.filter(col("doc_id") % 3 === 2)))
      val stream = graft.streaming.StreamOps.readStream(s, in,
        docs.schema, Map("maxFilesPerTrigger" -> "1"))
      graft.streaming.StreamOps.runToParquet(
        piiScrubProjection(stream), out, chk)
      Parquet.read(s, out)
    }),

    // --- Count-Min sketch with deterministic md5-nibble hashing
    // (Sketch.scala scaladoc): built over the %64-salted token space
    // (~2k types) so collisions provably fire the min-over-rows arm
    // (~2% of tokens overcount at every SF, never undercount — the CMS
    // guarantee is IN the gated values via the `over` column). Plan
    // asserts: the sketch is hard-bounded (d × 4096 rows, an action on
    // the bounded table) and the estimate join broadcasts it.
    "q290_countmin" -> contracted(
      Node("BroadcastHashJoin").present(
        "q290: the estimate lookup must broadcast the bounded sketch")
    ) { (s, dir) =>
      val K = graft.functions.Sketch
      val docs = Tables.read(s, dir, "documents")
        .select(regexp_replace(col("text"), lit("(\\S+)"),
          concat(lit("$1~"), (col("doc_id") % 64).cast("string"))).as("text"))
      val sketch = K.cmsBuild(docs, "text").localCheckpoint()
      val nCells = sketch.count()
      require(nCells <= K.CmsDepth.toLong * (1L << (4 * K.CmsNibbles)),
        s"q290: sketch has $nCells cells — exceeds the fixed-memory bound")
      mergeJoins(K.cmsEstimates(sketch, docs, "text"))
    },

    // --- the tokenizer-to-trainer composition: unigram piece counts
    // (the q281 EM chain) decide the q128 packing's bin boundaries —
    // fertility feeding delivery, end to end. Any drift anywhere in the
    // chain (seed pieces, EM usage, Viterbi, per-doc sums, prefix-sum
    // packing) moves bins for every later doc in the substream. Shapes:
    // one corpus scan for words (checkpointed), per-doc sums through the
    // broadcast word→pieces table, the (source, sub)-namespaced packing
    // window (q128's assert repeated here).
    "q293_tokenize_and_pack" -> contracted(
      Holds("q293: packing window must partition by (source, sub)")(
        windowPartitionedBy("source", "sub")),
      Node("BroadcastHashJoin").present(
        "q293: the word→pieces lookup must broadcast the vocab table")
    ) { (s, dir) =>
      val docs = Tables.read(s, dir, "documents")
      val wnp = graft.functions.Vocab.unigramEmSegmented(docs, "text")
        .select(col("w"), col("n_pieces")).localCheckpoint()
      val dnp = docs
        .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
        .filter(length(col("w")) > 0)
        .join(broadcast(wnp), Seq("w"))
        .groupBy("doc_id").agg(sum(col("n_pieces")).as("n_pieces"))
      mergeJoins(graft.functions.SequencePack.pack(
        docs.select(col("source"), col("doc_id")).join(dnp, Seq("doc_id")),
        "source", "doc_id", "n_pieces", budget = 512L, substreams = 4))
    },

    // --- blocklist screening (Curation.BlockTerms scaladoc): the whole
    // banned-term list in ONE Aho–Corasick pass per document (a 10k-term
    // list as contains/regex chains costs one scan PER TERM); the gate
    // carries the full per-term count VECTOR, overlapping occurrences
    // included, against a brute positional-enumeration oracle. Plan:
    // scan-only, exchange-free (asserted).
    "q292_blocklist_screen" -> contracted(scanShaped(
        "q292: the blocklist screen must be a single exchange-free scan") :+
      Expr("multi_match").present(
        "q292: the MultiMatch automaton node is missing from the plan"): _*
    ) { (s, dir) =>
      graft.functions.Curation.blocklistScreen(
        Tables.read(s, dir, "documents"))
    },

    // --- the blocklist as a VERSIONED DATA ARTIFACT (round-13 verdict
    // item 6 — the q133 maintenance shape applied to the compliance
    // list): version 1 persists a PARTIAL term list, the list UPDATE
    // lands as version 2 (plain append — versions are immutable), and
    // scoring loads the LATEST version and rebuilds the automaton from
    // the tap's rows. Non-vacuity: v1 ≠ v2 and the oracle is q292's
    // spelling over the FULL list, so a loader that picked v1 (shorter
    // count vector) or scrambled k-order fails the hash; the version
    // pick is also asserted directly. Plan: same exchange-free
    // single-scan shape as q292 — the artifact costs a bounded driver
    // carry, never a join.
    "q295_blocklist_tap" -> contracted(scanShaped(
        "q295: the artifact-driven screen must stay a single " +
          "exchange-free scan") :+
      Expr("multi_match").present(
        "q295: the MultiMatch automaton node is missing from the plan"): _*
    ) { (s, dir) =>
      val C = graft.functions.Curation
      val tap = graft.sources.ParquetTap(
        graft.queries.Relational.stagePath("graft_q295_blocklist", dir))
      tap.write(C.blocklistVersionRows(s, 1L, C.BlockTerms.dropRight(3)),
        graft.sources.SinkMode.Replace)
      tap.write(C.blocklistVersionRows(s, 2L, C.BlockTerms),
        graft.sources.SinkMode.Update)
      val (version, terms) = C.loadLatestBlockTerms(tap.read(s))
      require(version == 2L && terms.length == C.BlockTerms.length,
        s"q295: expected the v2 list, got v$version with " +
          s"${terms.length} terms")
      C.blocklistScreenWith(
        Tables.read(s, dir, "documents"), terms)
    },

    // --- the STREAMING blocklist screen (q286's scrub-before-land
    // discipline on q292): documents arrive as file micro-batches and
    // the automaton — rebuilt from the persisted v2 artifact, not the
    // constant — runs per-row in Append mode: stateless, no watermark,
    // no state store. Oracle = q292's batch spelling verbatim: the
    // stream must screen exactly what the batch screens.
    "q296_stream_blocklist" -> ((s, dir) => {
      val C = graft.functions.Curation
      val tap = graft.sources.ParquetTap(
        graft.queries.Relational.stagePath("graft_q296_blocklist", dir))
      tap.write(C.blocklistVersionRows(s, 1L, C.BlockTerms.dropRight(3)),
        graft.sources.SinkMode.Replace)
      tap.write(C.blocklistVersionRows(s, 2L, C.BlockTerms),
        graft.sources.SinkMode.Update)
      val (version, terms) = C.loadLatestBlockTerms(tap.read(s))
      require(version == 2L, s"q296: expected v2, got v$version")
      val (in, out, chk) = freshStreamDirs("graft_q296_stream")
      val docs = Tables.read(s, dir, "documents")
        .select(col("doc_id"), col("text"))
      stageSliced(in, Seq(
        docs.filter(col("doc_id") % 3 === 0),
        docs.filter(col("doc_id") % 3 === 1),
        docs.filter(col("doc_id") % 3 === 2)))
      val stream = graft.streaming.StreamOps.readStream(s, in,
        docs.schema, Map("maxFilesPerTrigger" -> "1"))
      graft.streaming.StreamOps.runToParquet(
        C.blocklistScreenWith(stream, terms), out, chk)
      Parquet.read(s, out)
    }),

    // --- CMS at ARRIVAL cadence (the q272 rebuild-equality discipline):
    // the sketch persists once over the %50≠3 corpus, the %50=3 batch
    // builds ITS OWN d×4096 cells, and maintenance is cell-wise
    // addition — which by the CMS merge property equals the full-corpus
    // rebuild EXACTLY, so the oracle is the full rebuild (q290's SQL
    // shape) and any drift in the merge arithmetic fails the hash. Plan
    // asserts: the corpus is scanned ONCE (the estimate side's token
    // list; the sketch side reads only the tap + the checkpointed
    // batch).
    "q291_cms_arrival" -> contracted(
      Scan("documents.parquet").exactly(1,
        "q291: the corpus may be scanned ONCE (the estimate token " +
        "list) — the sketch side must come from the tap + the batch"),
      Scan("graft_q291_cms").present(
        "q291: the persisted sketch tap scan is missing from the plan"),
      Node("BroadcastHashJoin").present(
        "q291: the estimate lookup must broadcast the merged sketch")
    ) { (s, dir) =>
      val K = graft.functions.Sketch
      def salted(d: org.apache.spark.sql.DataFrame) =
        d.select(regexp_replace(col("text"), lit("(\\S+)"),
          concat(lit("$1~"), (col("doc_id") % 64).cast("string"))).as("text"))
      val docs = Tables.read(s, dir, "documents")
      val tap = graft.sources.ParquetTap(
        graft.queries.Relational.stagePath("graft_q291_cms", dir))
      tap.write(K.cmsBuild(salted(docs.filter(col("doc_id") % 50 =!= 3)),
        "text"), graft.sources.SinkMode.Replace)
      val batchCells = K
        .cmsBuild(salted(docs.filter(col("doc_id") % 50 === 3)), "text")
        .localCheckpoint()
      val merged = tap.read(s).unionByName(batchCells)
        .groupBy("j", "cell").agg(sum(col("n")).as("n"))
      mergeJoins(K.cmsEstimates(merged, salted(docs), "text"))
    },

    // --- CMS at SLIDING-WINDOW cadence (round-13 verdict item 7 — the
    // q121 drift-monitor's frequency companion): per-window d×4096 cell
    // tables (win = doc_id % 4 — the epoch key), the monitor FORGETS by
    // DROPPING the expired window's table (never decrementing), and the
    // live estimate is the cell-wise Σ over live windows — which by the
    // CMS merge property equals the rebuild over the live corpus, so
    // the oracle IS that rebuild (q290's SQL shape filtered to live
    // docs). The salt runs % 61 (CO-PRIME with the window count): every
    // token type occurs in EVERY window, so a leaked expired-window row
    // inflates every estimate, not just collision victims — eviction
    // failure breaks the hash everywhere. Non-vacuity: the expired
    // window must hold real mass (asserted).
    "q297_cms_window" -> contracted(
      Node("BroadcastHashJoin").present(
        "q297: the estimate lookup must broadcast the live sketch")
    ) { (s, dir) =>
      val K = graft.functions.Sketch
      val docs = Tables.read(s, dir, "documents")
        .select(col("doc_id"),
          regexp_replace(col("text"), lit("(\\S+)"),
            concat(lit("$1~"), (col("doc_id") % 61).cast("string")))
            .as("text"))
      val windowed = K.cmsBuildWindowed(
          docs.withColumn("win", col("doc_id") % 4), "win", "text")
        .localCheckpoint()
      val nCells = windowed.count()
      require(nCells <=
          4L * K.CmsDepth.toLong * (1L << (4 * K.CmsNibbles)),
        s"q297: $nCells cells exceed the (windows × d × 4096) bound")
      require(windowed.filter(col("win") === 0).limit(1).count() == 1,
        "q297: the expiring window holds no mass — eviction is vacuous")
      val live = K.cmsLive(windowed, Seq(1L, 2L, 3L))
      val liveDocs = docs.filter(col("doc_id") % 4 =!= 0)
      mergeJoins(K.cmsEstimates(live, liveDocs, "text"))
    },

    // --- CMS with EXPONENTIAL DECAY (q297's sliding window's smooth
    // sibling — the drift monitor that forgets gradually): a window
    // aged `a` epochs weighs n >> a — halving per epoch in EXACT
    // integers (float λ·n is not engine-exact; right-shift is). The
    // gated `exact` column is the DECAYED exact count (same shifts over
    // per-window token counts), and est ≥ exact survives because
    // per-window CMS dominance is preserved by shifting and summing —
    // the `over` column carries the guarantee into the hash. Non-
    // vacuity: at least one aged window must hold mass (else the decay
    // never fires) and the newest window must too (weight 1 arm).
    "q301_cms_decayed" -> contracted(
      Node("BroadcastHashJoin").present(
        "q301: the estimate lookup must broadcast the decayed sketch")
    ) { (s, dir) =>
      val K = graft.functions.Sketch
      val docs = Tables.read(s, dir, "documents")
        .select((col("doc_id") % 4).as("win"),
          regexp_replace(col("text"), lit("(\\S+)"),
            concat(lit("$1~"), (col("doc_id") % 61).cast("string")))
            .as("text"))
      val windowed = K.cmsBuildWindowed(docs, "win", "text")
        .localCheckpoint()
      require(windowed.filter(col("win") < 3).limit(1).count() == 1 &&
          windowed.filter(col("win") === 3).limit(1).count() == 1,
        "q301: decay needs mass in BOTH an aged window and the newest")
      mergeJoins(K.cmsDecayedEstimates(windowed, docs, "win", "text",
        curWin = 3L))
    },

    // --- the NB KERNEL form (the q157/q263 same-values-new-plan
    // discipline): the whole posterior as ONE NbScore expression — model
    // in the codegen reference objects, zero joins, zero exchanges
    // (asserted: the plan is a single scan-shaped projection). Oracle is
    // q283's VERBATIM — the kernel changes the plan, never the numbers.
    // The model is read by the one build-time collect that fills the
    // kernel, so training runs once and no frame is held.
    "q288_nb_kernel" -> contracted(scanShaped("q288: the kernel form must " +
        "plan as a single scan-shaped projection — no exchange, no join") :+
      Expr("nb_score").present(
        "q288: the NbScore kernel node is missing from the plan"): _*
    ) { (s, dir) =>
      val docs = Tables.read(s, dir, "documents")
      graft.functions.Classify.scoreNaiveBayesKernel(
        graft.functions.Classify.nbTrainCounts(docs, "lang", "text"), docs)
    },

    // --- the STREAMING NB router: the kernel form is stateless, so the
    // frozen-model arrival scoring of q284 runs per-row in Append mode —
    // classify-on-ingest (language routing at crawl cadence). The sink
    // is verified against q284's batch oracle VERBATIM.
    "q289_stream_nb_router" -> ((s, dir) => {
      val docs = Tables.read(s, dir, "documents")
      val tap = graft.functions.Classify.nbModelTap(
        graft.queries.Relational.stagePath("graft_q289_nb_model", dir))
      tap.write(
        graft.functions.Classify.nbTrainCounts(
          docs.filter(col("doc_id") % 50 =!= 3), "lang", "text"),
        graft.sources.SinkMode.Replace)
      val batch = docs.filter(col("doc_id") % 50 === 3)
        .select(col("doc_id"), concat(col("text"),
          lit(" qz"), (col("doc_id") % 5).cast("string"),
          lit(" qw"), (col("doc_id") % 5).cast("string")).as("text"))
      val (in, out, chk) = freshStreamDirs("graft_q289_stream")
      stageSliced(in, Seq(
        batch.filter(col("doc_id") % 2 === 0),
        batch.filter(col("doc_id") % 2 === 1)))
      val stream = graft.streaming.StreamOps.readStream(s, in,
        batch.schema, Map("maxFilesPerTrigger" -> "1"))
      graft.streaming.StreamOps.runToParquet(
        graft.functions.Classify.scoreNaiveBayesKernel(tap.read(s), stream),
        out, chk)
      Parquet.read(s, out)
    }),

    // --- multinomial Naive Bayes posterior in exact bits (the fastText-
    // class quality/language router; Classify.scala scaladoc has the
    // quantized formula — it IS the contract, recomputed verbatim by the
    // oracle). Self-scoring form: train = batch = the full corpus; the
    // model table is localCheckpoint'ed so the one training scan never
    // re-executes under the scoring plan's two references (wc slice +
    // the one driver read of the per-class stats).
    "q283_nb_posterior" -> contracted(
      Node("BroadcastHashJoin").present(
        "q283: the wc-slice lookup must execute the broadcast " +
        "(only the hint can plan one)"),
      Node("BroadcastNestedLoopJoin").present(
        "q283: the class cross join must broadcast the O(classes) side")
    ) { (s, dir) =>
      val docs = Tables.read(s, dir, "documents")
      val model = graft.functions.Classify
        .nbTrainCounts(docs, "lang", "text").localCheckpoint()
      mergeJoins(graft.functions.Classify.scoreNaiveBayes(model, docs))
    },

    // --- the frozen-classifier ARRIVAL cadence: model trained on %50≠3
    // once, persisted through the tap, batch = %50=3 docs carrying the
    // lmArrivalCtes qz/qw novel tokens — every batch doc hits the
    // add-one smoothing's unseen-word arm (bits(0+1) = 0 through the
    // null coalesce), so the smoothing path is in the gated VALUES, not
    // just the code. Plan asserts: scoring never rescans the corpus (the
    // batch is checkpointed; the model tap is the only file scan) and
    // both join shapes broadcast explicitly.
    "q284_nb_frozen_arrival" -> contracted(
      Scan("documents.parquet").absent(
        "q284: arrival scoring must never rescan the corpus — the " +
        "frozen model tap is the only file scan allowed in this plan"),
      Scan("graft_q284_nb_model").present(
        "q284: the frozen model tap scan is missing from the plan"),
      Node("BroadcastHashJoin").present(
        "q284: both scoring joins must broadcast explicitly"),
      Node("BroadcastNestedLoopJoin").present(
        "q284: both scoring joins must broadcast explicitly")
    ) { (s, dir) =>
      val docs = Tables.read(s, dir, "documents")
      val tap = graft.functions.Classify.nbModelTap(
        graft.queries.Relational.stagePath("graft_q284_nb_model", dir))
      tap.write(
        graft.functions.Classify.nbTrainCounts(
          docs.filter(col("doc_id") % 50 =!= 3), "lang", "text"),
        graft.sources.SinkMode.Replace)
      val batch = docs.filter(col("doc_id") % 50 === 3)
        .select(col("doc_id"), concat(col("text"),
          lit(" qz"), (col("doc_id") % 5).cast("string"),
          lit(" qw"), (col("doc_id") % 5).cast("string")).as("text"))
        .localCheckpoint()
      mergeJoins(
        graft.functions.Classify.scoreNaiveBayes(tap.read(s), batch))
    },

    // --- bigram-LM conditional surprisal (the CCNet perplexity filter,
    // exact-bits spelling): per doc, Σ ⌊log2 c(prev·)⌋ − ⌊log2 c(prev
    // tok)⌋ over bigram positions — q115's bin() trick lifted to
    // conditionals, context counts as the denominator so p(·|prev) sums
    // to 1. Count tables aggregate from one explode scan; scoring is
    // per-DISTINCT-bigram with the join-back as the declared AQE-skew
    // point; broadcast-top-V context table is the 100 TB path
    // (LanguageModel.bigramSurprisal scaladoc).
    "q264_bigram_surprisal" -> ((s, dir) =>
      graft.functions.LanguageModel.bigramSurprisal(
        Tables.read(s, dir, "documents"))),

    // --- q155's Stupid Backoff scoring against a PERSISTED count table:
    // trainCounts written once through countsTap (bucketed by gram — the
    // key of all five scoring lookups), then the batch scored with ZERO
    // exchange on the count-table side (asserted in-plan: no
    // hashpartitioning on the count table's gram column, five
    // bucket-aware index scans; the merge hint keeps the bucket-join
    // path planned). Oracle = q155's oracle: identical values.
    "q159_sb_fluency_indexed" -> contracted(
      ExchangeOn("g").absent("scoring must never exchange the count table"),
      BucketedScan.atLeast(5,
        "all five count lookups must be bucket-aware index scans")
    ) { (s, dir) =>
      val table = Tables.stagedTable(s, "graft_q159_lmcounts")
      val docs = Tables.read(s, dir, "documents")
      val train = docs.filter(col("doc_id") % 50 =!= 3)
      val batch = docs.filter(col("doc_id") % 50 === 3)
        .select(col("doc_id"),
          concat(col("text"), lit(" qz"),
            (col("doc_id") % 5).cast("string")).as("text"))
      graft.functions.LanguageModel.countsTap(table, 8).write(
        graft.functions.LanguageModel.trainCounts(train),
        graft.sources.SinkMode.Replace)
      // the five lookups' merge joins consume the bucket layout, so the
      // planner keeps those scans bucketed; the sixth count scan (the
      // broadcast total) reads unbucketed
      mergeJoins(graft.functions.LanguageModel.scoreAgainstCounts(
        s.table(table), batch))
    },

    // --- STREAMING curation pipeline end-to-end: the q148 composition
    // under continuous ingestion. Arrivals (three overlapping
    // micro-batches) are, per batch: (1) near-dup-checked against the
    // PERSISTED corpus band index (q127/q130 discipline — O(batch) work,
    // corpus never re-signatured), (2) quality-filtered by the
    // hashing-trick classifier logit IN-STREAM (q143 op, scan-local
    // fold), (3) survivors UPSERTED through the blue/green snapshot pair
    // (q146 PingPong — idempotent per batchId, readers never see a
    // half-written snapshot). The arrival set is crafted so EVERY stage
    // provably fires: the original %10==7 docs all band-collide with the
    // corpus (the 31-word synthetic vocabulary makes them resemblance
    // dups — the dedup stage drops all 50), while their +3e6 "novel"
    // twins carry per-doc token suffixes (qz<orig id>) giving each a
    // private vocabulary — band-disjoint from the corpus by construction,
    // so ONLY the quality logit decides them (~half pass at τ=0, both
    // outcomes present). Overlapping slices make versioning non-vacuous:
    // %30==7 arrives in batches 1+3 (version 2), ==17 in all three (3),
    // ==27 in 2+3 (2) — (+3e6) % 30 = 0 keeps the classes aligned for
    // the novel twins. Oracle pins the full survivor set × version
    // lineage × payload md5.
    "q160_stream_curation" -> ((s, dir) => {
      val idxTable = Tables.stagedTable(s, "graft_q160_bandidx")
      val (in, _, chk) = freshStreamDirs("graft_q160_stream")
      val docs = Tables.read(s, dir, "documents")
        .select(col("doc_id"), col("text"), col("source"))
      Dedup.bandIndexTap(idxTable, 8).write(
        // narrow oracle-mirroring layout, pinned (production default
        // is now wide — the q197/q198 gates cover the wide twin)
        Dedup.bandIndex(docs.filter(col("doc_id") % 10 =!= 7),
          "doc_id", "text", wideHash = false),
        graft.sources.SinkMode.Replace)
      val pp = new graft.functions.Snapshot.PingPong(
        s, Tables.processLocal("graft_q160_snap"), 8, "doc_id", Seq("text", "source"), "version")
      pp.bootstrap(docs.filter(lit(false)).withColumn("version", lit(1L)))
      val orig = docs.filter(col("doc_id") % 10 === 7)
      val novel = orig.select((col("doc_id") + 3000000L).as("doc_id"),
        regexp_replace(col("text"), lit("(\\S+)"),
          concat(lit("$1qz"), col("doc_id").cast("string"))).as("text"),
        col("source"))
      val batch = orig.unionAll(novel)
      stageSliced(in, Seq(
        batch.filter(col("doc_id") % 30 === 7 || col("doc_id") % 30 === 17),
        batch.filter(col("doc_id") % 30 === 17 || col("doc_id") % 30 === 27),
        batch))
      val curate = (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
                    id: Long) => {
        val flagged = Dedup.bandIndex(b.toDF(), "doc_id", "text",
            wideHash = false)
          .join(s.table(idxTable).withColumnRenamed("id", "corpus_id"),
            Seq("band", "key"))
          .select(col("id").as("doc_id")).distinct()
        val survivors = b.toDF()
          .join(flagged, Seq("doc_id"), "left_anti")
          .filter(graft.functions.Relevance.hashClassifierLogit(
            col("text"), dims = 4096, salt = "w#") >= 0L)
        pp.applyBatch(survivors, id)
      }
      val stream = graft.streaming.StreamOps.readStream(s, in, batch.schema,
        Map("maxFilesPerTrigger" -> "1"))
      graft.streaming.StreamOps.runForeachBatch(stream, chk)(curate)
      pp.live.select(col("doc_id"), md5(col("text")).as("text_md5"),
        col("source"), col("version"))
    }),

    // --- paragraph-level exact dedup (CCNet recipe): boilerplate
    // paragraphs injected in-query (%3 / %5 docs share two footer
    // paragraphs, mirrored verbatim in the oracle — the q43 de-vacuize
    // discipline) die everywhere except their global first occurrence;
    // unique prose paragraphs pass through untouched
    "q161_paragraph_dedup" -> ((s, dir) => {
      val docs = Tables.read(s, dir, "documents")
      val aug = docs.select(col("doc_id"),
        concat(col("text"),
          when(col("doc_id") % 3 === 0, lit("\n" + Boiler1))
            .otherwise(lit("")),
          when(col("doc_id") % 5 === 0, lit("\n" + Boiler2))
            .otherwise(lit(""))).as("text"))
      graft.functions.Curation.dropDuplicateParagraphs(aug, "doc_id", "text")
        .select(col("doc_id"), md5(col("clean_text")).as("clean_md5"),
          col("n_kept"), col("n_dropped"))
    }),

    // --- C4 line-level cleaning (Raffel et al. §2.2): six constructed
    // lines per doc — two survivable (own prose + terminal punctuation),
    // four that each trip a different rule (brace, too short/no
    // punctuation, lorem ipsum, javascript) — so every rule provably
    // fires and line6's word-count rule varies with doc length
    "q162_c4_line_clean" -> ((s, dir) => {
      val docs = Tables.read(s, dir, "documents")
      val aug = docs
        .select(col("doc_id"), split(col("text"), " ").as("__t"))
        .select(col("doc_id"), concat_ws("\n",
          concat(concat_ws(" ", slice(col("__t"), 1, 8)), lit(" today.")),
          lit(C4BraceLine),
          concat_ws(" ", slice(col("__t"), 1, 3)),
          lit(C4LoremLine),
          lit(C4JsLine),
          concat(concat_ws(" ", slice(col("__t"), 9, 8)), lit(" done!"))
        ).as("text"))
      graft.functions.Curation.c4LineClean(aug, "doc_id", "text")
        .select(col("doc_id"), md5(col("clean_text")).as("clean_md5"),
          col("n_kept"), col("n_dropped"))
    }),

    // --- unicode normalization: per-doc dirty text constructed with
    // NBSP/ZWSP/BEL/CRLF/U+2028/tab/double-space injections (mirrored
    // chr-for-chr in the oracle); the rule chain must fold it back to
    // clean single-spaced prose — n_removed gates how many codepoints
    // died, clean_md5 gates exactly which
    "q163_normalize_text" -> ((s, dir) => {
      val docs = Tables.read(s, dir, "documents")
      val dirty = concat(lit("\u00A0\u200B  "),
        regexp_replace(col("text"), " ", "  \t"),
        lit(" \r\n\u0007 x\u2028y "))
      docs.select(col("doc_id"), dirty.as("dirty"))
        .select(col("doc_id"),
          graft.functions.Curation.normalizeText(col("dirty")).as("clean"),
          length(col("dirty")).as("dirty_len"))
        .select(col("doc_id"), md5(col("clean")).as("clean_md5"),
          (col("dirty_len") - length(col("clean"))).cast("long")
            .as("n_removed"))
    }),

    // --- per-epoch deterministic reshuffle: two epochs' global training
    // orders materialized WITHOUT a global sort (uniform hash shards +
    // per-shard windows + an O(nShards) prefix-sum driver carry); the
    // rank-weighted checksum pins the entire permutation — one swapped
    // pair anywhere changes it — and rank_sum = n(n+1)/2 pins that grank
    // is a true 1..N permutation
    "q164_epoch_reshuffle" -> ((s, dir) => {
      val docs = Tables.read(s, dir, "documents")
      def one(e: Int) = graft.functions.Governance
        .epochOrder(docs, "doc_id", s"ep$e#", 8)
        .agg(count(lit(1)).as("n_docs"),
          sum(col("grank")).as("rank_sum"),
          sum(col("grank") * (pmod(col("doc_id"), lit(997L)) + 1))
            .as("order_checksum"))
        .select(lit(e.toLong).as("epoch"), col("n_docs"),
          col("rank_sum"), col("order_checksum"))
      one(0).unionAll(one(1))
    }),

    // --- tokenizer fertility audit per (lang, source): learn 8 BPE
    // merges (q150 derivation, 1-row driver carries), encode per
    // DISTINCT word (q157 flat-depth node), aggregate subwords-per-word
    // and chars-per-subword as exact integer micros per corpus slice
    "q165_tokenizer_fertility" -> ((s, dir) => {
      val docs = Tables.read(s, dir, "documents")
      val merges = graft.functions.Vocab.bpeMerges(docs, "text", nMerges = 8)
        .collect().sortBy(_.getInt(0))
        .map(r => (r.getString(1), r.getString(2))).toSeq
      graft.functions.Vocab.fertility(docs, "doc_id", "text",
        Seq("lang", "source"), merges)
    }),

    // --- cluster-balanced subsampling: k-means assignment (the q66
    // 2-round Lloyd machinery) + a per-cluster deterministic hash cap
    // via the bounded-heap TopKAgg (the q107 Window-free discipline) —
    // dense topical blobs contribute ≤ perCluster docs each, the long
    // tail survives whole. Tie-freedom of the 52-bit hash is asserted
    // over the WHOLE corpus before the gate trusts rank order.
    "q166_cluster_balanced_sample" -> ((s, dir) => {
      val e = Tables.read(s, dir, "embeddings")
      val nh = -conv(substring(md5(concat(lit("graft-r8b"),
          col("vec_id").cast("string"))), 1, 13), 16, 10).cast("double")
      val ties = e.select(nh.as("nh"))
        .agg(count(lit(1)).as("n"), count_distinct(col("nh")).as("nd"))
        .collect()(0)
      require(ties.getLong(0) == ties.getLong(1), "q166: 52-bit hash tie " +
        "across corpus — fold a vec_id tiebreak into nh (both spellings) " +
        "before trusting the gate")
      graft.functions.Similarity.clusterBalancedSample(e, "vec_id",
        "embedding", nlist = 16, iters = 2, perCluster = 8,
        salt = "graft-r8b")
    }),

    // --- intra-document repeated-line dedup: a nav menu injected three
    // times per doc (plus a legitimately-blank separator, exempt) must
    // survive exactly once — first occurrence, decided against the doc's
    // OWN line array, zero shuffles
    "q167_repeated_lines" -> ((s, dir) => {
      val docs = Tables.read(s, dir, "documents")
      val aug = docs
        .select(col("doc_id"), split(col("text"), " ").as("__t"))
        .select(col("doc_id"), concat_ws("\n",
          lit(NavLine),
          concat_ws(" ", slice(col("__t"), 1, 6)),
          lit(NavLine),
          concat_ws(" ", slice(col("__t"), 7, 6)),
          lit(""),
          lit(NavLine),
          concat_ws(" ", slice(col("__t"), 13, 6))).as("text"))
      graft.functions.Curation.dropRepeatedLines(aug, "doc_id", "text")
        .select(col("doc_id"), md5(col("clean_text")).as("clean_md5"),
          col("n_kept"), col("n_dropped"))
    }),

    // --- the document-structure curation LADDER composed end-to-end:
    // normalize (NBSP/CRLF/doubled spaces) → C4 line clean (brace line
    // dies) → paragraph dedup (the shared subscribe-footer survives only
    // at doc 0). Every stage provably fires on every doc; each stage is
    // individually gated (q163/q162/q161) — this gate proves they
    // COMPOSE (the q148 discipline for the structure ladder).
    "q168_curation_ladder" -> ((s, dir) => {
      val docs = Tables.read(s, dir, "documents")
      val dirty = docs
        .select(col("doc_id"), split(col("text"), " ").as("__t"))
        .select(col("doc_id"), concat(
          lit("\u00A0 "),
          concat_ws("  ", slice(col("__t"), 1, 8)),
          lit("  today.\r\n"),
          lit(C4BraceLine), lit("\n"),
          lit(LadderBoiler)).as("dirty"))
      val norm = dirty.select(col("doc_id"),
        graft.functions.Curation.normalizeText(col("dirty")).as("text"))
      val lined = graft.functions.Curation.c4LineClean(norm, "doc_id", "text")
      val deduped = graft.functions.Curation.dropDuplicateParagraphs(
        lined.select(col("doc_id"), col("clean_text").as("text")),
        "doc_id", "text")
      deduped
        .join(lined.select(col("doc_id"),
          col("n_dropped").as("lines_dropped")), Seq("doc_id"))
        .select(col("doc_id"), md5(col("clean_text")).as("final_md5"),
          col("lines_dropped"), col("n_dropped").as("paras_dropped"))
    }),

    // --- dedup-and-reweight: one representative per q64 near-dup
    // cluster, multiplicity carried as a training weight (keep-one-and-
    // upweight instead of drop); rep ≡ cluster min id asserted in-query
    "q169_dedup_reweight" -> ((s, dir) =>
      graft.functions.Dedup.dedupReweight(
        Tables.read(s, dir, "documents"), "doc_id", "text",
        k = 16, bands = 4, maxIters = 8)),

    // --- filter attribution: the whole quality-filter stack evaluated
    // in ONE scan, per-doc reason bitmask (quality / langid /
    // dup-bigrams / token count) — "what died and why"; a crafted tiny
    // doc (mirrored in the oracle) makes the token-count bit provably
    // fire alongside the corpus-driven bits
    "q170_filter_attribution" -> ((s, dir) => {
      import s.implicits._
      val docs = Tables.read(s, dir, "documents")
        .select(col("doc_id"), col("text"))
      // each crafted doc fires a known rule set: the per-bit evidence the
      // corpus alone does not provide. Since the round-9 re-point at the
      // PROFILE classifier, "hi there" correctly reads as English (the
      // stopword heuristic called it unknown), so the tiny doc fires
      // quality + tokens
      val crafted = Seq(
        (9000001L, AttrTinyDoc),    // quality + tokens
        (9000002L, AttrLowQualDoc), // quality only
        (9000003L, AttrRepeatDoc)   // dup-bigrams only
      ).toDF("doc_id", "text")
      graft.functions.Governance.filterAttribution(
        docs.unionAll(crafted), "doc_id", "text")
    }),

    // --- the full Gopher document-quality rule battery (7 rules, one
    // scan): corpus + 8 crafted docs, each firing exactly ONE rule bit
    // in isolation (plus one clean keeper) — the q170 evidence
    // discipline applied to the whole battery
    "q171_gopher_rules" -> ((s, dir) => {
      import s.implicits._
      val docs = Tables.read(s, dir, "documents")
        .select(col("doc_id"), col("text"))
      val crafted = GopherFixtures.toSeq.toDF("doc_id", "text")
      graft.functions.TextAnalysis.gopherRules(
        docs.unionAll(crafted), "doc_id", "text",
        minWords = 20, maxWords = 1000)
    }),

    // --- QUALITY-CLASSIFIER DISTILLATION (the FineWeb-Edu shape): the
    // heuristic Gopher battery labels the corpus (minWords=60 splits
    // the synthetic corpus roughly in half at every SF — both classes
    // provably populated, asserted), an exact-bits NB trains on those
    // labels, and the KERNEL scores every document — model-based
    // quality filtering distilled from rule-based labels, end to end.
    // Output carries label, prediction, and the agreement bit; the
    // oracle chains the shared gopherRulesSqlExpr into the NB oracle
    // (both spellings shared with their own gates q171/q283). Plan:
    // the scoring leg is the q288 kernel (one nb_score node, asserted).
    "q304_quality_distill" -> contracted(
      Expr("nb_score").present(
        "q304: scoring must run the NbScore kernel node")
    ) { (s, dir) =>
      val docs = Tables.read(s, dir, "documents")
        .select(col("doc_id"), col("text"))
      val labels = graft.functions.TextAnalysis.gopherRules(
          docs, "doc_id", "text", minWords = 60, maxWords = 1000)
        .select(col("doc_id"),
          when(col("kept"), lit("keep")).otherwise(lit("drop")).as("c"))
      val labeled = docs.join(labels, Seq("doc_id")).localCheckpoint()
      require(labeled.filter(col("c") === "keep").limit(1).count() == 1 &&
          labeled.filter(col("c") === "drop").limit(1).count() == 1,
        "q304: the label rule must populate BOTH classes — the " +
          "distillation is vacuous otherwise")
      val model = graft.functions.Classify.nbTrainCounts(labeled, "c", "text")
        .localCheckpoint()
      val scored = graft.functions.Classify.scoreNaiveBayesKernel(
        model, labeled)
      scored.join(labeled.select(col("doc_id"), col("c")), Seq("doc_id"))
        .select(col("doc_id"), col("c").as("label"), col("pred"),
          (col("c") === col("pred")).as("agree"),
          col("best_bits"), col("margin"))
    },

    // --- the distilled quality model as a STREAMING ROUTER (q289's
    // discipline on q304): the NB model trains batch-side on the Gopher
    // labels, then documents arrive as file micro-batches and the
    // kernel scores them per-row in Append mode — quality routing at
    // ingest, stateless, model in the codegen reference objects. The
    // sink joins labels batch-side; oracle = q304's VERBATIM (the
    // stream changes the delivery, never the numbers).
    "q306_stream_quality_router" -> ((s, dir) => {
      val docs = Tables.read(s, dir, "documents")
        .select(col("doc_id"), col("text"))
      val labels = graft.functions.TextAnalysis.gopherRules(
          docs, "doc_id", "text", minWords = 60, maxWords = 1000)
        .select(col("doc_id"),
          when(col("kept"), lit("keep")).otherwise(lit("drop")).as("c"))
        .localCheckpoint()
      val model = graft.functions.Classify.nbTrainCounts(
        docs.join(labels, Seq("doc_id")), "c", "text").localCheckpoint()
      val (in, out, chk) = freshStreamDirs("graft_q306_stream")
      stageSliced(in, Seq(
        docs.filter(col("doc_id") % 3 === 0),
        docs.filter(col("doc_id") % 3 === 1),
        docs.filter(col("doc_id") % 3 === 2)))
      val stream = graft.streaming.StreamOps.readStream(s, in,
        docs.schema, Map("maxFilesPerTrigger" -> "1"))
      graft.streaming.StreamOps.runToParquet(
        graft.functions.Classify.scoreNaiveBayesKernel(model, stream),
        out, chk)
      Parquet.read(s, out).join(labels, Seq("doc_id"))
        .select(col("doc_id"), col("c").as("label"), col("pred"),
          (col("c") === col("pred")).as("agree"),
          col("best_bits"), col("margin"))
    }),

    // --- per-source DATASET CARD (the governance rollup every corpus
    // release ships): one row per source with its volume (docs,
    // tokens), exact-dedup health (distinct text ratio in floor
    // micros), and the quality profile (exact-integer mean + min/max of
    // the shared q22 score). One scan, map-side partials on the
    // O(sources) key — the cheapest query in the registry at any
    // scale; the value is the COMPOSITION being gated (volume + dedup +
    // quality signals agreeing with their standalone gates' spellings).
    "q309_dataset_card" -> ((s, dir) => {
      val TA2 = graft.functions.TextAnalysis
      Tables.read(s, dir, "documents")
        .select(col("source"), col("text"),
          TA2.qualityScore(col("text")).as("q"),
          size(expr("filter(split(text, ' '), w -> w != '')"))
            .cast("long").as("ntok"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("ntok")).as("n_tokens"),
          count_distinct(col("text")).as("n_distinct_texts"),
          floor(count_distinct(col("text")) * lit(1000000L) / count(lit(1)))
            .cast("long").as("distinct_ratio_micros"),
          floor(sum(col("q").cast("long")) * lit(1000000L) / count(lit(1)))
            .cast("long").as("mean_quality_micros"),
          min(col("q")).as("min_quality"), max(col("q")).as("max_quality"))
    }),

    // --- SPAN-AWARE table extraction (r14 verdict #1 — the most common
    // real-web table shape the walker previously refused): the synth
    // renders ONE table per page with a caption, a colspan-2 header,
    // and rowspan-2 first-column cells whose pair row may be missing
    // (the CLIP rule), plus the trap battery (script fake table WITH
    // spans, data-colspan word-boundary trap on the table and on body
    // cells, quoted '>' attribute, both span quote spellings). The
    // oracle recomputes the EXPANDED grid arithmetically — any
    // placement bug (skip-occupied-column, coverage emission, clip,
    // caption ordinal) diverges immediately.
    "q310_html_span_tables" -> ((s, dir) => {
      val H = graft.functions.Html
      val docs = Tables.read(s, dir, "documents")
        .select(col("doc_id"), col("text"))
      val cells = H.htmlTableCells(
        H.withSynthSpanTableHtml(docs, "doc_id", "text"), "id", "html")
      cells.select(
        when(col("table_idx").isNull, raise_error(concat(
          lit("q310: span-table HTML for id "), col("id").cast("string"),
          lit(" failed to parse — span-walker regression"))))
          .otherwise(col("id")).as("doc_id"),
        col("table_idx"), col("row_idx"), col("col_idx"),
        col("is_header"), col("text"))
    }),

    // --- span-table extraction in RECOVERY mode against deterministic
    // corruption (the q303 recipe re-cut for spans): class = doc_id % 3
    // — untouched / implied end tags INCLUDING </caption> / truncated
    // page + entity-decorated header AND caption cells. STRICT must
    // refuse every class-1/2 page (asserted); recovery parses 100% and
    // must land on the SAME expanded grid, headers+caption decorated.
    "q311_html_span_recovery" -> ((s, dir) => {
      val H = graft.functions.Html
      val docs = Tables.read(s, dir, "documents")
        .select(col("doc_id"), col("text"))
      val pages = H.withSynthSpanTableHtml(docs, "doc_id", "text",
        clsOf = id => (id % 3).toInt)
      require(
        H.htmlTableCells(
            pages.filter(col("id") % 3 =!= 0), "id", "html")
          .filter(col("table_idx").isNotNull).limit(1).isEmpty,
        "q311: strict mode parsed a corrupted span-table page — the " +
          "corruption is vacuous")
      H.htmlTableCells(pages, "id", "html", recover = true)
        .select(
          when(col("table_idx").isNull, raise_error(concat(
            lit("q311: recovery failed to parse span-table HTML for id "),
            col("id").cast("string"))))
            .otherwise(col("id")).as("doc_id"),
          col("table_idx"), col("row_idx"), col("col_idx"),
          col("is_header"), col("text"))
    }),

    // --- header-keyed records over the EXPANDED span grid (q305
    // re-gated over spanned headers, r14 verdict #1's "done" bar): the
    // colspan-2 header token names BOTH its covered columns, the
    // rowspan body cell contributes a record in EACH covered row, and
    // the caption row (−1) is excluded — tableRecords' row_idx >= 0
    // filter is load-bearing here (a caption is not a body cell).
    // (re-gated over the NESTED fixture, r15 verdict #1's done bar:
    // the outer LAYOUT table has no header row, so headerless-body
    // drop semantics make it contribute ZERO records — only the inner
    // span table's expanded grid becomes records, at table_idx 1)
    "q312_span_table_records" -> ((s, dir) => {
      val H = graft.functions.Html
      val docs = Tables.read(s, dir, "documents")
        .select(col("doc_id"), col("text"))
      val cells = H.htmlTableCells(
        H.withSynthNestedTableHtml(docs, "doc_id", "text"), "id", "html")
      val verified = cells.select(
        when(col("table_idx").isNull, raise_error(concat(
          lit("q312: nested-table HTML for id "), col("id").cast("string"),
          lit(" failed to parse — nested-walker regression"))))
          .otherwise(col("id")).as("id"),
        col("table_idx"), col("row_idx"), col("col_idx"),
        col("is_header"), col("text"))
      H.tableRecords(verified)
        .select(col("id").as("doc_id"), col("table_idx"), col("row_idx"),
          col("col_name"), col("value"))
    }),

    // --- ONE-LEVEL NESTED tables in STRICT mode (r15 verdict #1 —
    // the most common real-web shape: a layout table wrapping the
    // data table): the outer layout table parses as table_idx 0 with
    // its own two cells, the ENTIRE q310 span table parses as
    // table_idx 1 (document open order), and the outer wrapping
    // cell's text is EXACTLY 'main data' — 'main' before the inner
    // table, 'data' after it, nothing of the inner table's text
    // leaked between them (suspend/resume is the whole point). The
    // oracle reuses the q310 shared expanded-grid CTE keyed to the
    // inner ordinal plus two constant outer rows.
    "q324_html_nested_tables" -> ((s, dir) => {
      val H = graft.functions.Html
      val docs = Tables.read(s, dir, "documents")
        .select(col("doc_id"), col("text"))
      val cells = H.htmlTableCells(
        H.withSynthNestedTableHtml(docs, "doc_id", "text"), "id", "html")
      cells.select(
        when(col("table_idx").isNull, raise_error(concat(
          lit("q324: nested-table HTML for id "), col("id").cast("string"),
          lit(" failed to parse — nested-walker regression"))))
          .otherwise(col("id")).as("doc_id"),
        col("table_idx"), col("row_idx"), col("col_idx"),
        col("is_header"), col("text"))
    }),

    // --- nested-table extraction in RECOVERY mode (the q311 recipe
    // over the nested fixture): class = doc_id % 3 — untouched /
    // implied end tags in BOTH tables (</table> kept: the nesting
    // boundary stays explicit) / outer-close truncation (EOF pops the
    // still-open OUTER context after the inner closed explicitly) +
    // entity-decorated inner header and caption cells. STRICT must
    // refuse every class-1/2 page (asserted); recovery lands the same
    // two-table grid, the truncated class's outer cell text clipped
    // to 'main'.
    "q325_html_nested_recovery" -> ((s, dir) => {
      val H = graft.functions.Html
      val docs = Tables.read(s, dir, "documents")
        .select(col("doc_id"), col("text"))
      val pages = H.withSynthNestedTableHtml(docs, "doc_id", "text",
        clsOf = id => (id % 3).toInt)
      require(
        H.htmlTableCells(
            pages.filter(col("id") % 3 =!= 0), "id", "html")
          .filter(col("table_idx").isNotNull).limit(1).isEmpty,
        "q325: strict mode parsed a corrupted nested-table page — the " +
          "corruption is vacuous")
      H.htmlTableCells(pages, "id", "html", recover = true)
        .select(
          when(col("table_idx").isNull, raise_error(concat(
            lit("q325: recovery failed to parse nested-table HTML for " +
              "id "), col("id").cast("string"))))
            .otherwise(col("id")).as("doc_id"),
          col("table_idx"), col("row_idx"), col("col_idx"),
          col("is_header"), col("text"))
    }),

    // --- LIST extraction in STRICT mode (the other big structured-data
    // shape in real crawls next to tables; the q310/q324 recipe): an
    // outer <ul> whose second item wraps an inner <ol> (one item per
    // corpus token — suspend/resume with zero inner-text leak, own
    // list_idx in document open order), a sibling <ul> on every 3rd
    // token, trap battery (script/comment fake lists, data-li decoy,
    // inline markup joining item text). The oracle recomputes every
    // (list, ordered, item, text) row arithmetically from token
    // ordinals via ONE shared CTE (Html.listGridOracleCte).
    "q330_html_lists" -> ((s, dir) => {
      val H = graft.functions.Html
      val docs = Tables.read(s, dir, "documents")
        .select(col("doc_id"), col("text"))
      val items = H.htmlListItems(
        H.withSynthListHtml(docs, "doc_id", "text"), "id", "html")
      items.select(
        when(col("list_idx").isNull, raise_error(concat(
          lit("q330: list HTML for id "), col("id").cast("string"),
          lit(" failed to parse — list-walker regression"))))
          .otherwise(col("id")).as("doc_id"),
        col("list_idx"), col("ordered"), col("item_idx"), col("text"))
    }),

    // --- list extraction in RECOVERY mode against deterministic
    // corruption (class = doc_id % 3): untouched / every </li> dropped
    // in BOTH lists (list closes kept — the nesting boundary and list
    // KIND stay explicit) / truncated page (EOF implied-close) +
    // entity dirt on every plain-text item. STRICT must refuse every
    // class-1/2 page (asserted); recovery lands the SAME item grid,
    // plain items decorated.
    "q331_html_lists_recovery" -> ((s, dir) => {
      val H = graft.functions.Html
      val docs = Tables.read(s, dir, "documents")
        .select(col("doc_id"), col("text"))
      val pages = H.withSynthListHtml(docs, "doc_id", "text",
        clsOf = id => (id % 3).toInt)
      require(
        H.htmlListItems(
            pages.filter(col("id") % 3 =!= 0), "id", "html")
          .filter(col("list_idx").isNotNull).limit(1).isEmpty,
        "q331: strict mode parsed a corrupted list page — the " +
          "corruption is vacuous")
      H.htmlListItems(pages, "id", "html", recover = true)
        .select(
          when(col("list_idx").isNull, raise_error(concat(
            lit("q331: recovery failed to parse list HTML for id "),
            col("id").cast("string"))))
            .otherwise(col("id")).as("doc_id"),
          col("list_idx"), col("ordered"), col("item_idx"), col("text"))
    }),

    // --- the COMPOSED index-served retrieval stack (r14 verdict #2):
    // RRF fusion (q241's arithmetic, now the generator-agnostic
    // Relevance.rrfFuse) over BOTH persisted serving paths — the BM25
    // leg from the q300 postings+stats taps, the dense leg from the
    // q223 IVF/PQ artifacts with the raw-vector rerank reading a
    // PERSISTED vector tap (production stores raw vectors too; the
    // query vector itself is a 1-row driver carry). Plan-asserted: the
    // fused serving plan reads ONLY artifacts (no documents.parquet,
    // no embeddings.parquet scan on EITHER leg), the term probe is
    // bucket-pruned, and the codes side never exchanges. Oracle = the
    // two legs' existing oracle chains (q81's corpus-scan BM25, q223's
    // unrolled ADC+rerank chain via the shared ivfAdcRerankChainCtes
    // builder) composed into q241's fusion spelling.
    "q313_indexed_rrf" -> contracted(
        composedServingPlan("q313"): _*) { (s, dir) =>
      val R = graft.functions.Relevance
      val a = buildRetrievalArtifacts(s, dir, "q313")
      // the probe vector: a 1-row driver carry (the known-query shape —
      // reading it from embeddings.parquet inside the serving plan
      // would defeat the no-corpus-scan assert)
      val qDf = probeVectors(s, dir, Seq(0L), "q313")
      val lexRanked = R.rankByScore(
        R.bm25FromIndex(s.table(a.postings), a.stats.read(s),
            Bm25Terms, topK = 100)
          .withColumnRenamed("id", "doc_id"))
      val dense = Similarity.ivfAdcRerankTopK(a.ivfCents.read(s),
          a.pqBook.read(s), s.table(a.ivfCodes), s.table(a.rawVecs),
          qDf, "vec_id", "embedding", k = 5, rerankR = 16, nprobe = 4,
          m = 8, kSub = 16, dim = 64)
        .select(col("nn_id").as("doc_id"), col("rk").as("dr"))
      R.rrfFuse(lexRanked, dense, topK = 20)
    },

    // --- BATCH-of-queries serving for the composed stack (r15 verdict
    // #2 — production serves K queries, not one): THREE probe rows
    // (vectors + per-query term sets, a bounded driver carry) against
    // the SAME persisted artifacts in ONE plan. The lexical legs ride
    // ONE bucket-pruned probe of the UNION term list and fold each
    // query's own terms in its own order (per-(query, doc) expression
    // tree identical to q313's single-query fold); the dense leg's
    // probes broadcast with per-query bucket pruning through the
    // probes join; RRF fuses per query behind a query-partitioned
    // window. The q313 plan asserts hold on the MULTI-query plan.
    // Oracle = q313's per-query chain instantiated per query and
    // unioned over probes.
    "q326_indexed_rrf_batch" -> contracted(
        composedServingPlan("q326"): _*) { (s, dir) =>
      val R = graft.functions.Relevance
      val a = buildRetrievalArtifacts(s, dir, "q326")
      val qids = MultiQueryTerms.map(_._1)
      val qDf = probeVectors(s, dir, qids, "q326")
      val lexRanked = R.rankByScorePerQuery(
        R.bm25FromIndexMulti(s.table(a.postings), a.stats.read(s),
          MultiQueryTerms, legK = 100))
      val dense = Similarity.ivfAdcRerankTopK(a.ivfCents.read(s),
          a.pqBook.read(s), s.table(a.ivfCodes), s.table(a.rawVecs),
          qDf, "vec_id", "embedding", k = 5, rerankR = 16, nprobe = 4,
          m = 8, kSub = 16, dim = 64)
        .select(col("query_id"), col("nn_id").as("doc_id"),
          col("rk").as("dr"))
      val df = R.rrfFusePerQuery(lexRanked, dense, topK = 20)
      // non-vacuity: every probe must be served, and the batch must
      // not degenerate to one shared answer list (the three queries
      // carry different term sets AND different probe vectors)
      val lists = df.select(col("query_id"), col("doc_id")).collect()
        .groupBy(_.getLong(0)).view
        .mapValues(_.map(_.getLong(1)).toSet).toMap
      require(lists.keySet == qids.toSet,
        s"q326: served ${lists.keySet}, expected ${qids.toSet}")
      require(lists.values.toSeq.distinct.size > 1,
        "q326: all per-query fused lists are identical — the " +
          "multi-query batch is vacuous")
      df
    },

    // --- the ARRIVAL side of multi-query serving (r15 verdict #2's
    // second half, the q316 discipline on the QUERY side): queries
    // arrive as a STREAM (one per micro-batch: query_id + probe vector
    // + term set) and each micro-batch is served against the SAME
    // frozen persisted artifacts via foreachBatch — the production
    // serve-from-stream recipe (a micro-batch IS a bounded query
    // batch; per-batch the q326 plan runs with zero state store, no
    // watermark, results APPEND). The sink, read back, must equal the
    // all-at-once batch serving — oracle = q326's VERBATIM (the q133
    // twin trick: a dropped or double-served query diverges the hash).
    "q327_stream_query_arrival" -> ((s, dir) => {
      val R = graft.functions.Relevance
      val a = buildRetrievalArtifacts(s, dir, "q327")
      val qids = MultiQueryTerms.map(_._1)
      val termRows = MultiQueryTerms.map { case (qid, ts) => (qid, ts) }
      val e = Tables.read(s, dir, "embeddings")
      import s.implicits._
      val queryFeed = probeVectors(s, dir, qids, "q327")
        .join(termRows.toDF("vec_id", "terms"), Seq("vec_id"))
        .select(col("vec_id").as("query_id"), col("embedding"),
          col("terms"))
      val (in, out, chk) = freshStreamDirs("graft_q327_queries")
      stageSliced(in, qids.map(q =>
        queryFeed.filter(col("query_id") === q)))
      val stream = graft.streaming.StreamOps.readStream(s, in,
        queryFeed.schema, Map("maxFilesPerTrigger" -> "1"))
      graft.streaming.StreamOps.runForeachBatch(stream, chk) {
        (batch: DataFrame, _: Long) =>
          val rows = batch.collect() // bounded: the arriving queries
          if (rows.nonEmpty) {
            val batchTerms = rows.map(r => (r.getLong(0),
              r.getSeq[String](2).toSeq)).toSeq
            val vecSchema = org.apache.spark.sql.types.StructType(Seq(
              org.apache.spark.sql.types.StructField("vec_id",
                org.apache.spark.sql.types.LongType),
              batch.schema("embedding")))
            val qDf = s.createDataFrame(
              java.util.Arrays.asList(rows.map(r =>
                org.apache.spark.sql.Row(r.getLong(0), r.get(1))): _*),
              vecSchema)
            val lexRanked = R.rankByScorePerQuery(
              R.bm25FromIndexMulti(s.table(a.postings), a.stats.read(s),
                batchTerms, legK = 100))
            val dense = Similarity.ivfAdcRerankTopK(a.ivfCents.read(s),
                a.pqBook.read(s), s.table(a.ivfCodes),
                s.table(a.rawVecs), qDf, "vec_id", "embedding",
                k = 5, rerankR = 16, nprobe = 4,
                m = 8, kSub = 16, dim = 64)
              .select(col("query_id"), col("nn_id").as("doc_id"),
                col("rk").as("dr"))
            R.rrfFusePerQuery(lexRanked, dense, topK = 20)
              .write.mode("append").parquet(out)
          }
      }
      val served = Parquet.read(s, out)
      val servedQs = served.select(col("query_id")).distinct()
        .collect().map(_.getLong(0)).toSet
      require(servedQs == qids.toSet,
        s"q327: the stream served $servedQs, expected ${qids.toSet}")
      served
    }),

    // --- per-source quantile normalization of the quality score: the
    // cross-source calibration step (a raw "70" means different things
    // from different sources); micro-bucket CDF, never a corpus window
    "q172_quantile_normalize" -> ((s, dir) => {
      val d = Tables.read(s, dir, "documents")
        .select(col("doc_id"), col("source"),
          TA.qualityScore(col("text")).as("quality"))
      graft.functions.Governance.quantileNormalize(
        d, "doc_id", "source", "quality")
    }),

    // --- MinHash sketch-accuracy audit: estimator vs exact Jaccard on
    // the CANONICAL candidate pairs — the pairs nearDupPairs actually
    // verifies in production (linear in corpus; the naive within-bucket
    // enumeration is Σ bucket² — measured 6.5M pairs / 10.9 s on this
    // near-dup-dense corpus before the canonical form)
    "q173_minhash_accuracy" -> ((s, dir) =>
      graft.functions.Dedup.minhashAccuracy(
        Tables.read(s, dir, "documents"), "doc_id", "text",
        k = 16, bands = 4)),

    // --- training-delivery composition: the dataloader's epoch plan —
    // q164's deterministic permutation + per-shard sequence packing in
    // permutation order (every doc gets shard, global rank, bin, offset;
    // bit-identical on re-run, no global sort anywhere)
    "q177_training_delivery" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val docs = Tables.read(s, dir, "documents")
      // n_tok CARRIES through the permutation's one exchange — joining
      // it back afterwards would cost two corpus exchanges on doc_id
      // plus a third back to shard partitioning (plan-asserted: the
      // whole query has exactly one exchange)
      val ord = graft.functions.Governance.epochOrder(
        docs.select(col("doc_id"),
          TA.tokenCount(col("text")).cast("long").as("n_tok")),
        "doc_id", "ep0#", 8, carry = Seq("n_tok"))
      val w = Window.partitionBy("shard").orderBy("grank")
        .rowsBetween(Window.unboundedPreceding, -1)
      ord
        .withColumn("cum_prev",
          coalesce(sum(col("n_tok")).over(w), lit(0L)))
        .select(col("doc_id"), col("shard"), col("grank"), col("n_tok"),
          expr("cum_prev div 256").as("bin"),
          (col("cum_prev") % 256).as("bin_offset"))
    }),

    // --- LSH pre-flight load profile: per-(band, bucket_size) counts +
    // the Σ bucket² pair work a within-bucket pairing pass would pay —
    // the forecast that says "use the canonical/capped form" BEFORE a
    // 6.5M-pair surprise (the measured q173 lesson, operationalized)
    "q178_lsh_load_profile" -> ((s, dir) =>
      graft.functions.Dedup.lshLoadProfile(
        Tables.read(s, dir, "documents"), "doc_id", "text",
        k = 16, bands = 4)),

    // --- winnowing fingerprints (Schleimer et al. 2003): rightmost
    // minimal gram hash per length-w window; any shared run of
    // ≥ w+n−1 tokens shares a fingerprint — scan-only, zero shuffles
    "q179_winnowing" -> ((s, dir) =>
      graft.functions.Dedup.winnow(
        Tables.read(s, dir, "documents"), "doc_id", "text",
        n = 4, w = 4)),

    // --- incremental winnow dedup: the q127 persisted-index discipline
    // on winnowing fingerprints — corpus fingerprints live in a table
    // bucketed by h; the batch winnows in-flight and joins with ZERO
    // corpus-side exchange (asserted in-query); run-level matches via
    // ≥ minShared distinct shared fingerprints
    "q180_winnow_index" -> contracted(
        indexJoin("h", "fingerprints"): _*) { (s, dir) =>
      val table = Tables.stagedTable(s, "graft_q180_winnowidx")
      val docs = Tables.read(s, dir, "documents")
      Dedup.winnowIndexTap(table, 8).write(
        Dedup.winnowIndex(docs.filter(col("doc_id") % 10 =!= 7),
          "doc_id", "text"),
        graft.sources.SinkMode.Replace)
      // wideHash = false pinned: THIS gate's index is the legacy
      // 40-bit build (q194 is the wide twin) — width must match the
      // index or the join silently matches nothing
      mergeJoins(Dedup.winnowMatchesAgainstIndex(
        corpusIndex = s.table(table),
        batch = docs.filter(col("doc_id") % 10 === 7),
        "doc_id", "text", minShared = 2L, wideHash = false))
    },

    // --- SemDeDup with adaptive plane escalation: dense sign-bucket
    // regions refine themselves (6 → 10 → 14 planes at maxBucket=12 so
    // the escalation path provably fires on this corpus) instead of
    // failing the fixed-plane guard; lvl is part of the gated output,
    // so the escalation decision itself is oracle-checked per vector
    "q181_semantic_dedup_adaptive" -> ((s, dir) => {
      val e = Tables.read(s, dir, "embeddings")
      // this corpus is ~119 tight template clusters with an 83-vector
      // floor (measured: max bucket 135 at 6 planes, 83 at 10/14/18 —
      // extra planes add NO discrimination inside a template cluster,
      // which is what makes them TRUE semantic-dup groups). maxBucket
      // bounds the tolerated dup-cluster size: 100 makes the 135-member
      // level-0 bucket escalate (provably fires at sf0.1) and the
      // 83-member floor pass the final guard
      graft.functions.Similarity.semanticDedupAdaptive(
        e, "vec_id", "embedding", simThreshold = 0.95,
        basePlanes = 6, extraPlanes = 4, maxBucket = 100L, maxRounds = 3)
    }),

    // --- streaming arrivals against the persisted winnow-fingerprint
    // index (the q130 discipline on the q180 operator): 3 micro-batches
    // winnow IN-STREAM (the kernel is scan-local, so the stream stays
    // stateless append — no watermark, state never grows) and
    // stream-static join the bucketed index; the ≥ minShared aggregate
    // runs batch over the sink, the gate surface
    "q182_stream_winnow" -> ((s, dir) => {
      val table = Tables.stagedTable(s, "graft_q182_winnowidx")
      val (in, out, chk) = freshStreamDirs("graft_q182_stream")
      val docs = Tables.read(s, dir, "documents")
        .select(col("doc_id"), col("text"))
      Dedup.winnowIndexTap(table, 8).write(
        Dedup.winnowIndex(docs.filter(col("doc_id") % 10 =!= 7),
          "doc_id", "text"),
        graft.sources.SinkMode.Replace)
      val batch = docs.filter(col("doc_id") % 10 === 7)
      stageSliced(in, Seq(
        batch.filter(col("doc_id") % 30 === 7),
        batch.filter(col("doc_id") % 30 === 17),
        batch.filter(col("doc_id") % 30 === 27)))
      val index = s.table(table).withColumnRenamed("id", "corpus_id")
      val stream = graft.streaming.StreamOps.readStream(s, in, batch.schema,
        Map("maxFilesPerTrigger" -> "1"))
      val matched = Dedup.winnow(stream, "doc_id", "text")
        .select(col("doc_id").as("id"), col("h"))
        .join(index, Seq("h"))
        .select(col("id"), col("corpus_id"), col("h"))
      graft.streaming.StreamOps.runToParquet(matched, out, chk)
      Parquet.read(s, out).groupBy(col("id"), col("corpus_id"))
        .agg(count_distinct(col("h")).as("n_shared"))
        .filter(col("n_shared") >= 2L)
    }),

    // --- per-source curation funnel: docs + tokens surviving each
    // cumulative stage (raw → quality → langid → exact dedup among
    // survivors) — "which stage eats which source", one corpus scan
    "q183_curation_funnel" -> ((s, dir) =>
      graft.functions.Governance.curationFunnel(
        Tables.read(s, dir, "documents"))),

    // --- transitive winnow families: connected components over shared
    // winnow fingerprints (a chain of shared ≥7-token runs links docs
    // into ONE boilerplate family) — q64's propagation engine on the
    // q179 operator; singleton docs are their own cluster
    // w=8 (vs q179's 4): family detection wants the ≥(8+4−1)=11-token
    // shared-run guarantee, and the halved fingerprint density (~2/(w+1))
    // halves the propagation's edge table
    // maxIters=16: headroom over the measured diameter (the guard fails
    // directed past it; the loop exits at the fixed point, so unused
    // headroom costs nothing — and the oracle's extra unrolled rounds
    // are no-ops once converged)
    "q186_winnow_clusters" -> ((s, dir) =>
      graft.functions.Dedup.winnowClustersTransitive(
        Tables.read(s, dir, "documents"), "doc_id", "text",
        n = 4, w = 8, maxIters = 40)),

    // --- INCREMENTAL winnow-family maintenance (the q133 append
    // discipline on q186): arriving docs adopt existing family labels by
    // propagating over ONLY the subgraph their fingerprints touch —
    // corpus membership comes from the persisted bucketed winnow index
    // (no corpus-side exchange, plan-asserted), corpus nodes are seeded
    // with the refresh labels, and the fixed point runs over the
    // O(batch) subgraph. Full q186 propagation drops to refresh cadence.
    "q187_winnow_incremental" -> ((s, dir) => {
      val table = Tables.stagedTable(s, "graft_q187_winnowidx")
      val docs = Tables.read(s, dir, "documents")
      val corpus = docs.filter(col("doc_id") % 10 =!= 7)
      val batch = docs.filter(col("doc_id") % 10 === 7)
      Dedup.winnowIndexTap(table, 8).write(
        Dedup.winnowIndex(corpus, "doc_id", "text", n = 4, w = 8),
        graft.sources.SinkMode.Replace)
      // refresh families derive FROM the just-written index — the index
      // build and the family pass share one fingerprint scan. 40 rounds:
      // the corpus SUBSET (batch removed) has longer chains than the
      // full corpus — dropped docs were path shortcuts
      val families = Dedup.winnowClustersFromIndex(
          s.table(table), corpus, "doc_id", maxIters = 40)
        .withColumnRenamed("cluster_id", "family_id")
      // 40 rounds (vs the old 8): the subgraph EXCLUDES
      // corpus-corpus edges on untouched hashes, so batch-to-batch
      // chains that the full pass shortcuts through the corpus need
      // more hops here; the convergence guard still fails directed
      // past 40 (measured diameter at sf0.1: 19 rounds for the FULL
      // corpus — round-8's 8-round state was a silently non-converged
      // partial labeling that matched an equally-partial oracle; at the
      // synthesized sf1 ONE 40-bit winnow-hash collision bridges two
      // replicas and pushes the depth to 27, the measured preview of
      // hash-width-as-correctness-knob at corpus scale)
      // wideHash = false pinned: this gate's index/families are the
      // legacy 40-bit build (q196 is the wide twin) — width must
      // match the index or adoption silently finds no matches
      Dedup.winnowFamiliesIncremental(
        corpusIndex = s.table(table), corpusFamilies = families,
        batch = batch, idCol = "doc_id", textCol = "text",
        n = 4, w = 8, maxIters = 40, assertBucketScan = true,
        wideHash = false)
    }),

    // --- Cavnar–Trenkle profile language ID: per-doc verdict of the
    // character-trigram rank-distance classifier (broadcast literal
    // profiles, one kernel pass per doc, exact-integer distance) — the
    // real replacement for the q21 stopword heuristic
    "q188_langid_profile" -> ((s, dir) =>
      Tables.read(s, dir, "documents")
        .select(col("doc_id"),
          TA.langIdProfile(col("text")).as("lang_pred"))),

    // --- ANN recall audit: probed IVF vs exact brute force as nprobe
    // varies — exact integer (query, neighbor) agreement counts over one
    // shared index build; the "can I trust nprobe=4 on MY corpus" table.
    // Probe set: FIXED-SIZE deterministic sample (hash-order top-64 with
    // vec_id tiebreak — the q107 discipline) so the audit's exact leg is
    // O(64 × corpus), LINEAR in the corpus: the right cost for an
    // index-refresh-cadence measurement. The previous vec_id % 20 probe
    // set scaled WITH the corpus (exact leg O(corpus²/20), measured
    // 3.93× at 10× data — the round-9 `weak` finding).
    "q189_ann_recall" -> ((s, dir) => {
      val e = Tables.read(s, dir, "embeddings")
      val probes = e.orderBy(
        conv(substring(md5(concat(lit("q189"),
          col("vec_id").cast("string"))), 1, 13), 16, 10)
          .cast("bigint").asc,
        col("vec_id").asc).limit(64)
      graft.functions.Similarity.annRecallAudit(
        e, probes, "vec_id", "embedding",
        k = 10, nlist = 16, iters = 2, nprobes = Seq(1, 2, 4))
    }),

    // --- perceptual image dedup: dHash over the synthesized 9×7 pixel
    // grids (decode stub), exact-dup collapse, 4×14-bit Hamming-band
    // candidates, exact Hamming ≤ 3 verify
    "q190_image_dhash" -> ((s, dir) =>
      graft.functions.Multimodal.imageNearDupPairs(
        Tables.read(s, dir, "documents"), "doc_id", "text")),

    // --- persisted dHash band index + batch match (the q180 discipline
    // on images): corpus hashes band into a key-bucketed tap, arriving
    // images hash in-flight and join the index with no corpus-side
    // exchange (plan-asserted), Hamming-verified
    "q191_image_dhash_index" -> contracted(
        indexJoin("key", "band keys"): _*) { (s, dir) =>
      val table = Tables.stagedTable(s, "graft_q191_dhashidx")
      val docs = Tables.read(s, dir, "documents")
      val corpus = docs.filter(col("doc_id") % 10 =!= 7)
      val batch = docs.filter(col("doc_id") % 10 === 7)
      graft.functions.Multimodal.dhashIndexTap(table, 8).write(
        graft.functions.Multimodal.dhashIndex(corpus, "doc_id", "text"),
        graft.sources.SinkMode.Replace)
      mergeJoins(graft.functions.Multimodal.imageMatchesAgainstIndex(
        s.table(table), batch, "doc_id", "text"))
    },

    // --- streaming image arrivals against the persisted dHash index
    // (the q182 discipline on q191): 3 micro-batches hash IN-STREAM
    // (DHashStub is scan-local → stateless append, no watermark) and
    // stream-static join the key-bucketed index; the multi-band dedup +
    // Hamming verify run batch over the sink (streaming distinct would
    // need state). Oracle = q191's — the stream must flag exactly what
    // the batch path flags.
    "q193_stream_image_dhash" -> ((s, dir) => {
      val MM = graft.functions.Multimodal
      val table = Tables.stagedTable(s, "graft_q193_dhashidx")
      val (in, out, chk) = freshStreamDirs("graft_q193_stream")
      val docs = Tables.read(s, dir, "documents")
        .select(col("doc_id"), col("text"))
      MM.dhashIndexTap(table, 8).write(
        MM.dhashIndex(docs.filter(col("doc_id") % 10 =!= 7),
          "doc_id", "text"),
        graft.sources.SinkMode.Replace)
      val batch = docs.filter(col("doc_id") % 10 === 7)
      stageSliced(in, Seq(
        batch.filter(col("doc_id") % 30 === 7),
        batch.filter(col("doc_id") % 30 === 17),
        batch.filter(col("doc_id") % 30 === 27)))
      val index = s.table(table).select(col("h").as("ch"), col("key"))
      val stream = graft.streaming.StreamOps.readStream(s, in,
        batch.schema, Map("maxFilesPerTrigger" -> "1"))
      val matched = stream
        .select(col("doc_id").as("id"), MM.dHashStub(col("text")).as("bh"))
        .select(col("id"), col("bh"),
          explode(MM.bandKeys(col("bh"))).as("bk"))
        .select(col("id"), col("bh"), col("bk.key").as("key"))
        .join(index, Seq("key"))
        .select(col("id"), col("bh"), col("ch"))
      graft.streaming.StreamOps.runToParquet(matched, out, chk)
      Parquet.read(s, out).select(col("id"), col("bh"), col("ch"))
        .distinct()
        .filter(MM.hamming(col("bh"), col("ch")) <= 3)
        .select(col("id"), col("ch").as("corpus_h"),
          MM.hamming(col("bh"), col("ch")).as("hamming"))
    }),

    // --- WIDE-HASH (60-bit) winnow index twin of q180: identical plan
    // discipline (bucketed index, one batch-side h-exchange, bucket-aware
    // corpus scan), but both the window-minimum selection and the
    // persisted key ride Md5Prefix60 — the layout to entrench BEFORE
    // 40-bit birthday collisions (~2^20 grams; one measured at the
    // synthesized sf1) manufacture false matches at corpus scale. The
    // wide index build is also one exchange cheaper: the kernel emits
    // per-doc-distinct hashes, so no dedup shuffle.
    "q194_winnow_index_wide" -> contracted(
        indexJoin("h", "fingerprints"): _*) { (s, dir) =>
      val table = Tables.stagedTable(s, "graft_q194_winnowidx")
      val docs = Tables.read(s, dir, "documents")
      Dedup.winnowIndexTap(table, 8).write(
        Dedup.winnowIndexWide(docs.filter(col("doc_id") % 10 =!= 7),
          "doc_id", "text"),
        graft.sources.SinkMode.Replace)
      mergeJoins(Dedup.winnowMatchesAgainstIndex(
        corpusIndex = s.table(table),
        batch = docs.filter(col("doc_id") % 10 === 7),
        "doc_id", "text", minShared = 2L, wideHash = true))
    },

    // --- WIDE twin of q186: transitive winnow families at the 60-bit
    // key — the propagation engine is width-agnostic; what changes is
    // the collision bound on the bucket table feeding it (false shared
    // hashes CHAIN families: the exact silent-corruption channel the
    // sf1 rehearsal measured at 40 bits)
    "q195_winnow_clusters_wide" -> ((s, dir) =>
      graft.functions.Dedup.winnowClustersTransitive(
        Tables.read(s, dir, "documents"), "doc_id", "text",
        n = 4, w = 8, maxIters = 40, wideHash = true)),

    // --- WIDE twin of q187: incremental family adoption over the 60-bit
    // persisted index — same seeded-subgraph propagation, same in-query
    // plan assertion, collision-safe key domain
    "q196_winnow_incremental_wide" -> ((s, dir) => {
      val table = Tables.stagedTable(s, "graft_q196_winnowidx")
      val docs = Tables.read(s, dir, "documents")
      val corpus = docs.filter(col("doc_id") % 10 =!= 7)
      val batch = docs.filter(col("doc_id") % 10 === 7)
      Dedup.winnowIndexTap(table, 8).write(
        Dedup.winnowIndexWide(corpus, "doc_id", "text", n = 4, w = 8),
        graft.sources.SinkMode.Replace)
      val families = Dedup.winnowClustersFromIndex(
          s.table(table), corpus, "doc_id", maxIters = 40)
        .withColumnRenamed("cluster_id", "family_id")
      Dedup.winnowFamiliesIncremental(
        corpusIndex = s.table(table), corpusFamilies = families,
        batch = batch, idCol = "doc_id", textCol = "text",
        n = 4, w = 8, maxIters = 40, assertBucketScan = true,
        wideHash = true)
    }),

    // --- WIDE twin of q64: transitive MinHash clusters over 61-bit
    // signatures. The narrow signature's md5₄₀(t) mod P₃₁ reduction
    // makes two tokens congruent mod 2³¹−1 identical in EVERY
    // permutation — a single such collision can equate band keys of
    // unrelated docs and chain false families (the measured winnow
    // failure mode transplanted to MinHash). Wide signatures move the
    // bound to ~2⁶¹ — the domain the persisted band layouts should
    // entrench at.
    "q197_minhash_transitive_wide" -> ((s, dir) =>
      Dedup.minhashClustersTransitive(
        Tables.read(s, dir, "documents"), "doc_id", "text",
        k = 16, bands = 4, maxIters = 8, wideHash = true)),

    // --- WIDE twin of q127: the persisted band index at 61-bit keys —
    // same bucketed layout, same one-batch-side-exchange plan assert
    "q198_band_index_wide" -> contracted(
        indexJoin("band", "band rows"): _*) { (s, dir) =>
      val table = Tables.stagedTable(s, "graft_q198_bandidx")
      val docs = Tables.read(s, dir, "documents")
      Dedup.bandIndexTap(table, 8).write(
        Dedup.bandIndex(docs.filter(col("doc_id") % 10 =!= 7),
          "doc_id", "text", wideHash = true),
        graft.sources.SinkMode.Replace)
      mergeJoins(Dedup.incrementalNearDupsAgainstIndex(
        corpusIndex = s.table(table),
        batch = docs.filter(col("doc_id") % 10 === 7),
        "doc_id", "text", wideHash = true))
    },

    // --- INCREMENTAL SemDeDup at index cadence (the q133 append
    // discipline on q156): the corpus's sign-bucket table persists
    // bucketed by bucket id; each day's arrivals bucket IN-FLIGHT, join
    // only their buckets' corpus vectors (no corpus-side exchange,
    // plan-asserted), get their dup-vs-corpus verdict, and append their
    // own rows (SinkMode.Update) so day N+1 sees them. Day-2's gated
    // verdict includes exact and near copies of day-1 rows — green ONLY
    // if the append leg actually landed.
    "q199_semdedup_incremental" -> contracted(
        indexJoin("bucket", "bucket rows"): _*) { (s, dir) =>
      val SIM = graft.functions.Similarity
      val table = Tables.stagedTable(s, "graft_q199_signidx")
      val e = Tables.read(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding"))
      val day0 = e.filter(col("vec_id") % 10 =!= 7 &&
        col("vec_id") % 10 =!= 8)
      val day1 = e.filter(col("vec_id") % 10 === 8)
        .unionAll(day0.filter(col("vec_id") % 50 === 0)
          .select((col("vec_id") + 100000L).as("vec_id"), col("embedding")))
      val day2 = e.filter(col("vec_id") % 10 === 7)
        .unionAll(e.filter(col("vec_id") % 20 === 8)
          .select((col("vec_id") + 300000L).as("vec_id"), col("embedding")))
        .unionAll(e.filter(col("vec_id") % 20 === 18)
          .select((col("vec_id") + 200000L).as("vec_id"),
            transform(col("embedding"), (x, i) =>
              when(i === 0, x + lit(0.25f)).otherwise(x)).as("embedding")))
      val tap = SIM.signBucketIndexTap(table, 8)
      tap.write(SIM.signBucketIndex(day0, "vec_id", "embedding"),
        graft.sources.SinkMode.Replace)
      // day-1 ingest: verdict against the day-0 index (the daily
      // question), then append day-1's own bucket rows
      SIM.semanticDedupAgainstIndex(s.table(table), day1,
          "vec_id", "embedding", simThreshold = 0.95)
        .write.mode("overwrite").format("noop").save()
      tap.write(SIM.signBucketIndex(day1, "vec_id", "embedding"),
        graft.sources.SinkMode.Update)
      mergeJoins(SIM.semanticDedupAgainstIndex(s.table(table),
        day2, "vec_id", "embedding", simThreshold = 0.95))
    },

    // --- STREAMING family adoption (the q182/q193 discipline on q187):
    // arrivals winnow IN-STREAM (the scan-shaped stage rides the
    // micro-batches, stateless append — no watermark, state never
    // grows), plus one (id, null) row per doc so zero-fingerprint docs
    // stay in the universe; the iterative seeded-subgraph fixed point
    // (inherently a driver loop — actions per round) runs ONCE over the
    // accumulated arrivals at adoption cadence, against the persisted
    // index + refresh families. The gate: the streamed path must adopt
    // EXACTLY what q187's one-shot batch adoption assigns (shared
    // oracle).
    "q200_stream_winnow_families" -> ((s, dir) => {
      val table = Tables.stagedTable(s, "graft_q200_winnowidx")
      val (in, out, chk) = freshStreamDirs("graft_q200_stream")
      val docs = Tables.read(s, dir, "documents")
        .select(col("doc_id"), col("text"))
      val corpus = docs.filter(col("doc_id") % 10 =!= 7)
      val batch = docs.filter(col("doc_id") % 10 === 7)
      Dedup.winnowIndexTap(table, 8).write(
        Dedup.winnowIndex(corpus, "doc_id", "text", n = 4, w = 8),
        graft.sources.SinkMode.Replace)
      val families = Dedup.winnowClustersFromIndex(
          s.table(table), corpus, "doc_id", maxIters = 40)
        .withColumnRenamed("cluster_id", "family_id")
      stageSliced(in, Seq(
        batch.filter(col("doc_id") % 30 === 7),
        batch.filter(col("doc_id") % 30 === 17),
        batch.filter(col("doc_id") % 30 === 27)))
      val stream = graft.streaming.StreamOps.readStream(s, in, batch.schema,
        Map("maxFilesPerTrigger" -> "1"))
      val fps = Dedup.winnow(stream, "doc_id", "text", n = 4, w = 8)
        .select(col("doc_id").as("id"), col("h"))
        .unionByName(stream.select(col("doc_id").as("id"),
          lit(null).cast("long").as("h")))
      graft.streaming.StreamOps.runToParquet(fps, out, chk)
      val sink = Parquet.read(s, out)
      Dedup.winnowFamiliesAdopt(
        corpusIndex = s.table(table), corpusFamilies = families,
        batchFps = sink.filter(col("h").isNotNull),
        batchIds = sink.select(col("id")).distinct(),
        maxIters = 40, assertBucketScan = true)
    }),

    // --- perceptual image dedup over REAL DECODED PIXELS: texts
    // synthesize real container bytes (even ids: 18×14 binary PGM —
    // exercising the nearest-neighbor resample; odd ids: 9×7
    // uncompressed 24-bit BMP — exercising row padding + bottom-up
    // order), REAL parsers decode them, and the banded dHash pipeline
    // runs on the decoded grids. The oracle recomputes the decoded
    // pixels ARITHMETICALLY (the synth is deterministic), so any parser
    // bug — offset, padding, row order, resample index — diverges from
    // the gate; a payload that fails to decode fails directed in-query.
    "q201_image_dhash_real" -> ((s, dir) => {
      val MM = graft.functions.Multimodal
      val docs = Tables.read(s, dir, "documents")
        .select(col("doc_id"), col("text"))
      val hashed = MM.dhashFromPayload(
        MM.withSynthImagePayload(docs, "doc_id", "text"), "id", "payload")
      val verified = hashed.select(
        when(col("h").isNull, raise_error(concat(
          lit("q201: payload for id "), col("id").cast("string"),
          lit(" failed to decode — real-parser regression"))))
          .otherwise(col("h")).as("h"))
      MM.nearDupPairsFromHashes(verified)
    }),

    // --- q201 over a COMPRESSED container: payloads are real 18×14
    // grayscale PNGs (zlib IDAT written by Deflater, CRC32-checksummed
    // chunks, scanline filters cycling None/Sub/Up), decoded by the real
    // Inflater-based parser (all five RFC 2083 filters reconstructed)
    // and fed to the same banded dHash pipeline. The synth pixels stay
    // deterministic, so the oracle recomputes the DECODED grid
    // arithmetically while Spark round-trips it through compression —
    // any inflate/de-filter/CRC bug diverges immediately; an
    // undecodable payload fails directed in-query.
    "q217_image_dhash_png" -> ((s, dir) => {
      val MM = graft.functions.Multimodal
      val docs = Tables.read(s, dir, "documents")
        .select(col("doc_id"), col("text"))
      val hashed = MM.dhashFromPayload(
        MM.withSynthPngPayload(docs, "doc_id", "text"), "id", "payload")
      val verified = hashed.select(
        when(col("h").isNull || col("format") =!= "png", raise_error(concat(
          lit("q217: PNG payload for id "), col("id").cast("string"),
          lit(" failed to decode as png — Inflater-parser regression"))))
          .otherwise(col("h")).as("h"))
      MM.nearDupPairsFromHashes(verified)
    }),

    // --- the q217 chain on an LZW-COMPRESSED container: 18×14 GIFs
    // (odd ids interlaced), decoded by the real GIF/LZW parser. Same
    // deterministic pixels ⇒ the q217 oracle covers it verbatim; what
    // THIS gate adds is the LZW round-trip — dictionary reconstruction
    // with deferred width growth, CLEAR resets, palette mapping and the
    // interlace reorder — any decoder divergence breaks the hash chain.
    "q222_image_dhash_gif" -> ((s, dir) => {
      val MM = graft.functions.Multimodal
      val docs = Tables.read(s, dir, "documents")
        .select(col("doc_id"), col("text"))
      val hashed = MM.dhashFromPayload(
        MM.withSynthGifPayload(docs, "doc_id", "text"), "id", "payload")
      val verified = hashed.select(
        when(col("h").isNull || col("format") =!= "gif", raise_error(concat(
          lit("q222: GIF payload for id "), col("id").cast("string"),
          lit(" failed to decode as gif — LZW-parser regression"))))
          .otherwise(col("h")).as("h"))
      MM.nearDupPairsFromHashes(verified)
    }),

    // --- the q217/q222 chain on the LOSSY container: 36×28 baseline
    // JPEGs (odd ids with restart markers), decoded by the real T.81
    // parser — DHT canonical-Huffman rebuild, DC prediction, zigzag,
    // category/extend, 0xFF unstuffing, dequant, IDCT, MCU crop. The
    // synth grid is BLOCK-CONSTANT, which makes flat-quant baseline
    // JPEG exactly invertible, so the arithmetic oracle covers a lossy
    // codec; any entropy/transform divergence breaks the hash chain.
    "q240_image_dhash_jpeg" -> ((s, dir) => {
      val MM = graft.functions.Multimodal
      val docs = Tables.read(s, dir, "documents")
        .select(col("doc_id"), col("text"))
      val hashed = MM.dhashFromPayload(
        MM.withSynthJpegPayload(docs, "doc_id", "text"), "id", "payload")
      val verified = hashed.select(
        when(col("h").isNull || col("format") =!= "jpeg", raise_error(concat(
          lit("q240: JPEG payload for id "), col("id").cast("string"),
          lit(" failed to decode as jpeg — T.81-parser regression"))))
          .otherwise(col("h")).as("h"))
      MM.nearDupPairsFromHashes(verified)
    }),

    // --- hybrid retrieval fusion (RRF): the lexical leg (q81's BM25
    // kernel at candidate depth 100) and the dense leg (the exact
    // brute-force baseline against the vec_id=0 probe) fused by
    // reciprocal rank — 1/(60+rank) per leg, absent legs contribute 0.
    // The corpus-sized work lives in the leg kernels; the fusion's
    // windows/join/top-k all operate on ≤100-row candidate lists.
    "q241_hybrid_rrf" -> ((s, dir) =>
      graft.functions.Relevance.hybridRrfTopK(
        Tables.read(s, dir, "documents"),
        Tables.read(s, dir, "embeddings"),
        "doc_id", "text", "vec_id", "embedding",
        Bm25Terms, queryVecId = 0L, legK = 100, topK = 20)),

    // --- MMR diversification over the dense top-20 (Carbonell–
    // Goldstein): greedy λ·rel − μ·max-sim-to-selected re-rank, 8
    // selections — the standard post-retrieval diversity pass, closing
    // the serving chain (search → rerank → fuse → diversify). The
    // corpus pays one scan (the candidate search); the pairwise sims
    // are candK² distributed rows; the greedy loop is a bounded ≤
    // 20+400-row driver carry (k sequential argmax steps are inherently
    // ordered). Oracle: the same 8 steps UNROLLED as chained CTEs.
    "q244_mmr_diversify" -> ((s, dir) =>
      graft.functions.Similarity.mmrDenseTopK(
        Tables.read(s, dir, "embeddings"),
        "vec_id", "embedding", queryVecId = 0L, candK = 20, k = 8)),

    // --- REAL audio decode + sample-domain features: texts synthesize
    // real RIFF/WAVE 16-bit PCM containers (even ids 64 samples plain,
    // odd ids 48 samples with a junk LIST chunk before `data` — the
    // chunk walk + RIFF pad byte under the gate), the real parser
    // decodes them, and the features (peak, zero crossings, Σ s²) are
    // exact integers the oracle recomputes from the same deterministic
    // synth — any offset/endianness/sign-extension bug diverges; an
    // undecodable payload fails directed in-query.
    "q245_audio_features" -> ((s, dir) => {
      val MM = graft.functions.Multimodal
      val docs = Tables.read(s, dir, "documents")
        .select(col("doc_id"), col("text"))
      MM.audioFeaturesFromPayload(
          MM.withSynthWavPayload(docs, "doc_id", "text"), "id", "payload")
        .select(
          when(col("n_samples").isNull, raise_error(concat(
            lit("q245: WAV payload for id "), col("id").cast("string"),
            lit(" failed to decode — RIFF-parser regression"))))
            .otherwise(col("id")).as("doc_id"),
          col("sample_rate"), col("n_samples"), col("peak"),
          col("zero_cross"), col("energy"))
    }),

    // --- audio near-dup via energy-delta fingerprints: 228-sample PCM →
    // 57 frame energies (exact Σ s² over 4-sample frames) → 56 delta-sign
    // bits folded MSB-first — the same bit width, band split, and pair
    // pipeline as image dHash, so the banded index machinery applies to
    // sound unchanged. Candidates exist only through shared band buckets
    // (never all-pairs); the oracle replays samples → energies → bits →
    // bands arithmetically.
    //
    // De-vacuization (the q43 crafted-copy precedent): the raw synth
    // never produces two payloads within Hamming 3, so every doc_id %
    // 100 == 0 gets TWO planted twins whose token streams are the
    // original's cyclic expansion to exactly 228 tokens (sample-
    // identical to the original for frames 0..54) with frames 55-56
    // overwritten by fixed tokens. Both twins share frame 55
    // ('dup180'×4 at i=220..223, energy 1322271082); twin A's frame 56
    // ('dup9'×4, energy 3486723474) sits ABOVE it and twin B's
    // ('dup193'×4, energy 135922290) BELOW it, so bit 55 = 1 for A and
    // 0 for B while bits 0..54 agree — hamming(h_A, h_B) = 1 BY
    // CONSTRUCTION, and 3 of 4 bands match, so the banded join emits
    // ≥1 pair per planted doc at every SF. Energies are md5-prefix
    // arithmetic both engines replay; FunctionsSpec pins the straddle.
    "q246_audio_fingerprint" -> ((s, dir) => {
      val MM = graft.functions.Multimodal
      val base = Tables.read(s, dir, "documents")
        .select(col("doc_id"), col("text"))
      def twin(off: Long, tok56: String) = base
        .filter(col("doc_id") % 100 === 0)
        .select(
          (col("doc_id") + off).as("doc_id"),
          array_join(
            transform(sequence(lit(0), lit(227)), i =>
              when(i >= 224, lit(tok56))
                .when(i >= 220, lit("dup180"))
                .otherwise(element_at(split(col("text"), " "),
                  (i % size(split(col("text"), " "))) + 1))),
            " ").as("text"))
      val docs = base
        .unionAll(twin(1000000000L, "dup9"))
        .unionAll(twin(2000000000L, "dup193"))
      val fp = MM.audioFingerprintFromPayload(
        MM.withSynthWavPayload(docs, "doc_id", "text",
          nEven = 228, nOdd = 228), "id", "payload")
      val verified = fp.select(
        when(col("h").isNull, raise_error(concat(
          lit("q246: WAV payload for id "), col("id").cast("string"),
          lit(" failed to decode — fingerprint regression"))))
          .otherwise(col("h")).as("h"))
      MM.nearDupPairsFromHashes(verified)
    }),

    // --- REAL video decode + temporal scene detection: texts synthesize
    // real AVI/MJPEG containers (6 block-constant baseline-JPEG frames;
    // even ids cut scenes every 2 frames, odd ids every 3), the RIFF
    // walker extracts the '00dc' frames, the q240 JPEG decoder decodes
    // each, and scene boundaries fall where consecutive frame dHashes
    // differ by > 3 bits. Per-video windows are bounded (6 frames), so
    // the temporal pass is one keyed shuffle; the oracle replays the
    // salted block grids, frame hashes, and boundary logic arithmetically.
    "q247_video_scenes" -> ((s, dir) => {
      val MM = graft.functions.Multimodal
      val W = org.apache.spark.sql.expressions.Window
      val docs = Tables.read(s, dir, "documents")
        .select(col("doc_id"), col("text"))
      val fh = MM.videoFrameHashes(
        MM.withSynthAviPayload(docs, "doc_id", "text"), "id", "payload")
      val verified = fh.select(col("id"), col("frame_idx"),
        when(col("h").isNull, raise_error(concat(
          lit("q247: AVI payload for id "), col("id").cast("string"),
          lit(" failed to decode — container/JPEG regression"))))
          .otherwise(col("h")).as("h"))
      val w = W.partitionBy(col("id")).orderBy(col("frame_idx"))
      val bd = verified
        .withColumn("prev", lag(col("h"), 1).over(w))
        .withColumn("bdy", when(col("prev").isNotNull &&
          (MM.hamming(col("h"), col("prev")) > 3), 1L).otherwise(0L))
      bd.groupBy(col("id").as("doc_id"))
        .agg(count(lit(1)).cast("bigint").as("n_frames"),
          (lit(1L) + sum(col("bdy"))).cast("bigint").as("n_scenes"),
          coalesce(sum(when(col("bdy") === 1L,
            expr("shiftleft(cast(1 as bigint), frame_idx - 1)"))
            .otherwise(0L)), lit(0L)).cast("bigint").as("boundary_mask"))
    }),

    // --- corpus-wide KEYFRAME dedup: the q247 chain keeps only scene
    // keyframes (frame 0 + every boundary frame) and runs the banded
    // dHash near-dup join across the whole corpus — the video twin of
    // q201's image dedup, with the candidate-only band discipline and
    // per-hash multiplicity carried through. Keyframe selection cuts the
    // indexable set by the average scene length before any join.
    "q248_keyframe_dedup" -> ((s, dir) => {
      val MM = graft.functions.Multimodal
      val W = org.apache.spark.sql.expressions.Window
      val docs = Tables.read(s, dir, "documents")
        .select(col("doc_id"), col("text"))
      val fh = MM.videoFrameHashes(
        MM.withSynthAviPayload(docs, "doc_id", "text"), "id", "payload")
      val verified = fh.select(col("id"), col("frame_idx"),
        when(col("h").isNull, raise_error(concat(
          lit("q248: AVI payload for id "), col("id").cast("string"),
          lit(" failed to decode — container/JPEG regression"))))
          .otherwise(col("h")).as("h"))
      val w = W.partitionBy(col("id")).orderBy(col("frame_idx"))
      val kf = verified
        .withColumn("prev", lag(col("h"), 1).over(w))
        .filter(col("prev").isNull ||
          MM.hamming(col("h"), col("prev")) > 3)
      MM.nearDupPairsFromHashes(kf.select(col("h")))
    }),

    // --- PERSISTED video keyframe index + arrival maintenance (the
    // q133/q191 loop for video): the corpus's keyframe dHashes persist
    // ONCE through the key-bucketed band-index tap — the decode cost is
    // paid at build time — and the arriving batch (doc_id%10==7)
    // decodes only ITSELF in-flight and band-joins the index. In-plan
    // asserts pin the economics q248 lacks: exactly 2 MapPartitions
    // nodes (batch synth + batch frame-hash — the index side must be a
    // pure bucket scan, never a re-decode), one key-exchange (batch
    // bands only), bucket-aware corpus scan.
    "q265_video_keyframe_index" -> contracted(
      indexJoin("key", "band keys") :+ Node("MapPartitions").exactly(2,
        "decode must run on the BATCH side only (batch synth + batch " +
        "frame-hash = 2 MapPartitions nodes — the index side is a parquet " +
        "scan, never a re-decode)"): _*
    ) { (s, dir) =>
      val MM = graft.functions.Multimodal
      val table = Tables.stagedTable(s, "graft_q265_vkfidx")
      val docs = Tables.read(s, dir, "documents")
        .select(col("doc_id"), col("text"))
      val corpus = docs.filter(col("doc_id") % 10 =!= 7)
      val batch = docs.filter(col("doc_id") % 10 === 7)
      MM.dhashIndexTap(table, 8).write(
        MM.videoKeyframeIndex(
          MM.withSynthAviPayload(corpus, "doc_id", "text"), "id", "payload"),
        graft.sources.SinkMode.Replace)
      val bkf = MM.videoKeyframeHashes(
        MM.withSynthAviPayload(batch, "doc_id", "text"), "id", "payload")
      mergeJoins(MM.matchesAgainstIndexFromHashes(
        s.table(table), bkf.select(col("id"), col("h"))))
    },

    // --- structure-aware extraction, part 1 — the BLOCK table: texts
    // synthesize REAL HTML (prose <p>, link-dense <div> with a quoted
    // '>' attribute and a <br/>, all-anchor <nav>, a script with fake
    // tags, a comment with fake tags), the real tag walker parses the
    // bytes back into top-level blocks with link-density scores, and the
    // oracle recomputes every count from the same token arithmetic —
    // any walker bug (attr '>' handling, script/comment skipping,
    // inline-anchor attribution, tag-boundary tokenization) diverges.
    // Malformed markup fails directed (the q245 decoder contract).
    "q266_html_blocks" -> ((s, dir) => {
      val H = graft.functions.Html
      val docs = Tables.read(s, dir, "documents")
        .select(col("doc_id"), col("text"))
      H.htmlBlocks(H.withSynthHtml(docs, "doc_id", "text"), "id", "html")
        .select(
          when(col("block_idx").isNull, raise_error(concat(
            lit("q266: HTML for id "), col("id").cast("string"),
            lit(" failed to parse — tag-walker regression"))))
            .otherwise(col("id")).as("doc_id"),
          col("block_idx"), col("tag"), col("n_tokens"),
          col("n_link_tokens"), col("link_density_micros"),
          md5(col("text")).as("text_md5"))
    }),

    // --- REAL-WEB RECOVERY MODE (round-12 verdict item 2): the q266
    // block table over deterministically CORRUPTED markup — class =
    // doc_id % 4: untouched / truncated page (EOF auto-close) / stray
    // closes (skipped) / entities + unclosed inline anchor (decoded,
    // auto-closed). Non-vacuity is asserted in-query: STRICT mode must
    // refuse every class-1/2 page (the corruption is real), recovery
    // must parse 100% (raise_error on any null row). Agreement with
    // strict on the well-formed subset is transitive through the shared
    // oracle arithmetic: class-0 rows are computed by exactly q266's
    // SQL, which q266 gates against the strict walker.
    "q275_html_recovery" -> ((s, dir) => {
      val H = graft.functions.Html
      val docs = Tables.read(s, dir, "documents")
        .select(col("doc_id"), col("text"))
      val corrupted = H.withCorruptSynthHtml(docs, "doc_id", "text")
      require(
        H.htmlBlocks(
            corrupted.filter(col("id") % 4 === 1 || col("id") % 4 === 2),
            "id", "html")
          .filter(col("block_idx").isNotNull).limit(1).isEmpty,
        "q275: strict mode parsed a structurally corrupted page — the " +
        "corruption is vacuous")
      H.htmlBlocks(corrupted, "id", "html", recover = true)
        .select(
          when(col("block_idx").isNull, raise_error(concat(
            lit("q275: recovery failed to parse corrupted HTML for id "),
            col("id").cast("string"))))
            .otherwise(col("id")).as("doc_id"),
          col("block_idx"), col("tag"), col("n_tokens"),
          col("n_link_tokens"), col("link_density_micros"),
          md5(col("text")).as("text_md5"))
    }),

    // --- the CRAWL-TO-CLEAN ladder end-to-end from REAL BYTES (round-12
    // verdict item 7, the q168 composition discipline applied to q275's
    // recovery mode): dirtied tokens → synth markup → deterministic
    // structural corruption (classes 1/2, text-preserving) → RECOVERY
    // parse (entities decoded) → jusText extraction → normalize → C4
    // line clean → corpus-wide paragraph dedup. Every stage provably
    // fires: recovery parses pages strict refuses (class 1/2 markup
    // damage); the real-web entity dirt classes (round-13 verdict item
    // 1, every spelling from Html.NamedEntities — the shared-constant
    // discipline) each exercise one decoder arm:
    //  - `&nbsp;&#xA0;` on p-block first tokens (i%24==0): NAMED + HEX
    //    NBSP, which ONLY normalizeText removes (a broken named/hex
    //    decode or normalize shifts every md5);
    //  - `&mdash;` on i%48==29 (a kept p-block position): decodes to a
    //    VISIBLE char that survives normalize into the final text — the
    //    oracle spells Html.entityText("mdash") into the modeled word;
    //  - bare `&amp` (no semicolon, i%48==3 — a boiler-block position,
    //    uniform across docs): the semicolonless tolerance rule,
    //    decoded '&' modeled in the oracle.
    // Block-final '.' makes full blocks C4-keepable while ragged tails
    // < 5 words die; the '{' dirt kills its line by the brace rule; and
    // the shared 8-token boiler block dies everywhere but its global
    // first occurrence. Oracle reuses C4KeepRule and paragraphDedupBody
    // verbatim (stage-shared fragments) + the q266 block arithmetic
    // over the dirtied stream.
    "q278_crawl_to_clean" -> ((s, dir) => {
      val H = graft.functions.Html
      val docs = Tables.read(s, dir, "documents")
        .select(col("doc_id"), col("text"))
      val full = concat(
        array(CrawlBoiler.map(lit): _*),
        expr("filter(split(text, ' '), w -> w != '')"))
      val dirtied = docs.select(col("doc_id"),
        array_join(transform(full, (w, i) => concat(
          w,
          when(i % 48 === 25, lit("{")).otherwise(lit("")),
          when(i % 48 === 29, lit(H.entityRef("mdash"))).otherwise(lit("")),
          when(i % 48 === 3, lit("&" + "amp")).otherwise(lit("")),
          when(i % 8 === 7 || i === size(full) - 1, lit("."))
            .otherwise(lit("")),
          when(i % 24 === 0, lit(H.entityRef("nbsp") + "&#xA0;"))
            .otherwise(lit("")))),
          " ").as("text"))
      val corrupted = H.withCorruptSynthHtml(dirtied, "doc_id", "text",
        clsOf = id => 1 + (id % 2).toInt)
      val blocks = H.htmlBlocks(corrupted, "id", "html", recover = true)
      val verified = blocks.select(
        when(col("block_idx").isNull, raise_error(concat(
          lit("q278: recovery failed to parse corrupted HTML for id "),
          col("id").cast("string"))))
          .otherwise(col("id")).as("id"),
        col("block_idx"), col("tag"), col("link_density_micros"),
        col("text"))
      val ext = H.extractContent(verified)
      val norm = ext.select(col("id"), col("n_blocks"), col("n_kept"),
        graft.functions.Curation.normalizeText(col("clean_text")).as("text"))
      val lined = graft.functions.Curation.c4LineClean(norm, "id", "text")
      val deduped = graft.functions.Curation.dropDuplicateParagraphs(
        lined.select(col("id"), col("clean_text").as("text")), "id", "text")
      deduped
        .join(norm.select(col("id"), col("n_blocks"),
          col("n_kept").as("n_kept_blocks")), Seq("id"))
        .join(lined.select(col("id"),
          col("n_dropped").as("lines_dropped")), Seq("id"))
        .select(col("id").as("doc_id"), col("n_blocks"),
          col("n_kept_blocks"), col("lines_dropped"),
          col("n_dropped").as("paras_dropped"),
          md5(col("clean_text")).as("final_md5"))
    }),

    // --- TABLE extraction from real markup (the CommonCrawl
    // structured-data shape; Html.walkTableCells scaladoc): the synth
    // renders every token into a deterministic two-table grid (token i →
    // table i%2, row (i div 2) div 3, column (i div 2) % 3, row 0 as
    // <th>), wrapped in the trap battery (script/comment fake tables,
    // quoted '>', inline anchors inside cells, thead/tbody grouping) —
    // and the oracle recomputes the whole grid arithmetically, so any
    // walker bug (group transparency, inline-markup cell joining,
    // ordinal drift, header attribution) diverges immediately.
    "q302_html_tables" -> ((s, dir) => {
      val H = graft.functions.Html
      val docs = Tables.read(s, dir, "documents")
        .select(col("doc_id"), col("text"))
      val cells = H.htmlTableCells(
        H.withSynthTableHtml(docs, "doc_id", "text"), "id", "html")
      cells.select(
        when(col("table_idx").isNull, raise_error(concat(
          lit("q302: table HTML for id "), col("id").cast("string"),
          lit(" failed to parse — table-walker regression"))))
          .otherwise(col("id")).as("doc_id"),
        col("table_idx"), col("row_idx"), col("col_idx"),
        col("is_header"), col("text"))
    }),

    // --- STREAMING table extraction (the q270 discipline on q302):
    // synth + the cell walk run IN-STREAM over 3 micro-batches (both
    // stateless mapPartitions — Append mode, no state store); per-cell
    // rows land in the sink. Oracle = q302's SQL verbatim: the stream
    // must extract exactly what the batch walk extracts.
    "q307_stream_html_tables" -> ((s, dir) => {
      val H = graft.functions.Html
      val (in, out, chk) = freshStreamDirs("graft_q307_stream")
      val docs = Tables.read(s, dir, "documents")
        .select(col("doc_id"), col("text"))
      stageSliced(in, Seq(
        docs.filter(col("doc_id") % 3 === 0),
        docs.filter(col("doc_id") % 3 === 1),
        docs.filter(col("doc_id") % 3 === 2)))
      val stream = graft.streaming.StreamOps.readStream(s, in,
        docs.schema, Map("maxFilesPerTrigger" -> "1"))
      val cells = H.htmlTableCells(
        H.withSynthTableHtml(stream, "doc_id", "text"), "id", "html")
      graft.streaming.StreamOps.runToParquet(cells.select(
          when(col("table_idx").isNull, raise_error(concat(
            lit("q307: table HTML for id "), col("id").cast("string"),
            lit(" failed to parse in-stream"))))
            .otherwise(col("id")).as("doc_id"),
          col("table_idx"), col("row_idx"), col("col_idx"),
          col("is_header"), col("text")), out, chk)
      Parquet.read(s, out)
    }),

    // --- STREAMING list extraction (the q307 discipline on q330):
    // synth + the NESTED list walk run IN-STREAM over 3 micro-batches
    // (both stateless mapPartitions — Append mode, no state store);
    // per-item rows land in the sink. Oracle = q330's SQL verbatim:
    // the stream must extract exactly what the batch walk extracts,
    // including the suspend/resume item and both nested lists.
    "q333_stream_html_lists" -> ((s, dir) => {
      val H = graft.functions.Html
      val (in, out, chk) = freshStreamDirs("graft_q333_stream")
      val docs = Tables.read(s, dir, "documents")
        .select(col("doc_id"), col("text"))
      stageSliced(in, Seq(
        docs.filter(col("doc_id") % 3 === 0),
        docs.filter(col("doc_id") % 3 === 1),
        docs.filter(col("doc_id") % 3 === 2)))
      val stream = graft.streaming.StreamOps.readStream(s, in,
        docs.schema, Map("maxFilesPerTrigger" -> "1"))
      val items = H.htmlListItems(
        H.withSynthListHtml(stream, "doc_id", "text"), "id", "html")
      graft.streaming.StreamOps.runToParquet(items.select(
          when(col("list_idx").isNull, raise_error(concat(
            lit("q333: list HTML for id "), col("id").cast("string"),
            lit(" failed to parse in-stream"))))
            .otherwise(col("id")).as("doc_id"),
          col("list_idx"), col("ordered"), col("item_idx"), col("text")),
        out, chk)
      Parquet.read(s, out)
    }),

    // --- HEADER-KEYED table records (table understanding on q302's
    // cells): body cells join their <th> row's cell at the same column
    // — markup tables become relational (row, col_name, value) records.
    // The oracle derives the header token arithmetically (column c of
    // table k is corpus token 2c+k) and attaches it to every body cell.
    "q305_table_records" -> ((s, dir) => {
      val H = graft.functions.Html
      val docs = Tables.read(s, dir, "documents")
        .select(col("doc_id"), col("text"))
      val cells = H.htmlTableCells(
        H.withSynthTableHtml(docs, "doc_id", "text"), "id", "html")
      val verified = cells.select(
        when(col("table_idx").isNull, raise_error(concat(
          lit("q305: table HTML for id "), col("id").cast("string"),
          lit(" failed to parse — table-walker regression"))))
          .otherwise(col("id")).as("id"),
        col("table_idx"), col("row_idx"), col("col_idx"),
        col("is_header"), col("text"))
      H.tableRecords(verified)
        .select(col("id").as("doc_id"), col("table_idx"), col("row_idx"),
          col("col_name"), col("value"))
    }),

    // --- table extraction in RECOVERY mode against deterministically
    // corrupted markup (the q275 recipe for tables): class = doc_id % 3
    // — untouched / IMPLIED END TAGS (every </td> </th> </tr> dropped,
    // the single most common real-crawl table shape) / truncated page +
    // entity-decorated header cells (`&nbsp;w&mdash;` decodes to ONE
    // glued cell token — NBSP is not \s — spelled from Html.
    // NamedEntities on both sides). STRICT must refuse every class-1/2
    // page (asserted — the corruption is real); recovery parses 100%
    // and must land on the SAME grid, headers decorated.
    "q303_html_tables_recovery" -> ((s, dir) => {
      val H = graft.functions.Html
      val docs = Tables.read(s, dir, "documents")
        .select(col("doc_id"), col("text"))
      val pages = H.withSynthTableHtml(docs, "doc_id", "text",
        clsOf = id => (id % 3).toInt)
      require(
        H.htmlTableCells(
            pages.filter(col("id") % 3 =!= 0), "id", "html")
          .filter(col("table_idx").isNotNull).limit(1).isEmpty,
        "q303: strict mode parsed a corrupted table page — the " +
          "corruption is vacuous")
      H.htmlTableCells(pages, "id", "html", recover = true)
        .select(
          when(col("table_idx").isNull, raise_error(concat(
            lit("q303: recovery failed to parse table HTML for id "),
            col("id").cast("string"))))
            .otherwise(col("id")).as("doc_id"),
          col("table_idx"), col("row_idx"), col("col_idx"),
          col("is_header"), col("text"))
    }),

    // --- structure-aware extraction, part 2 — the jusText verdict:
    // keep blocks that are neither chrome by TAG (nav/footer/aside) nor
    // chrome by STRUCTURE (link density ≥ 0.5), reassemble per document
    // in block order (array_sort, no window). The even 8-token divs sit
    // EXACTLY at the 500000 threshold and drop; a ragged odd-length div
    // tail (3/7 = 428571) survives — the boundary the oracle pins.
    "q267_html_extract" -> ((s, dir) => {
      val H = graft.functions.Html
      val docs = Tables.read(s, dir, "documents")
        .select(col("doc_id"), col("text"))
      val blocks = H.htmlBlocks(
        H.withSynthHtml(docs, "doc_id", "text"), "id", "html")
      val verified = blocks.select(
        when(col("block_idx").isNull, raise_error(concat(
          lit("q267: HTML for id "), col("id").cast("string"),
          lit(" failed to parse — tag-walker regression"))))
          .otherwise(col("id")).as("id"),
        col("block_idx"), col("tag"), col("link_density_micros"),
        col("text"))
      H.extractContent(verified)
        .select(col("id").as("doc_id"), col("n_blocks"), col("n_kept"),
          md5(col("clean_text")).as("clean_md5"))
    }),

    // --- corpus LINK GRAPH from real markup (the CommonCrawl link-graph
    // shape): the tag walker's captured anchor hrefs, aggregated to one
    // row per target with total references and distinct referencing
    // docs. The synth's href structure is fully determined by the token
    // stream (div blocks link '/w/<tok>' at odd local indices, nav
    // blocks '/nav/<tok>' everywhere), so the oracle recomputes the
    // whole graph arithmetically — any attribute-capture bug (quoted
    // '>', name binding, anchor attribution) diverges.
    "q268_link_graph" -> ((s, dir) => {
      val H = graft.functions.Html
      val docs = Tables.read(s, dir, "documents")
        .select(col("doc_id"), col("text"))
      val blocks = H.htmlBlocks(
        H.withSynthHtml(docs, "doc_id", "text"), "id", "html")
      val verified = blocks.select(
        when(col("block_idx").isNull, raise_error(concat(
          lit("q268: HTML for id "), col("id").cast("string"),
          lit(" failed to parse — tag-walker regression"))))
          .otherwise(col("id")).as("id"),
        col("links"))
      H.linkTargets(verified)
    }),

    // --- STREAMING structure-aware extraction (the q193 discipline on
    // q267): markup synthesizes and the tag walker runs IN-STREAM over 3
    // micro-batches (both are stateless mapPartitions — append mode, no
    // watermark, no state store); per-block rows land in the sink and
    // the per-document verdict aggregation runs batch over it (streaming
    // distinct/collect_list would need state for no semantic gain).
    // Oracle = q267's SQL verbatim: the stream must extract exactly what
    // the batch path extracts.
    "q270_stream_html_extract" -> ((s, dir) => {
      val H = graft.functions.Html
      val (in, out, chk) = freshStreamDirs("graft_q270_stream")
      val docs = Tables.read(s, dir, "documents")
        .select(col("doc_id"), col("text"))
      stageSliced(in, Seq(
        docs.filter(col("doc_id") % 3 === 0),
        docs.filter(col("doc_id") % 3 === 1),
        docs.filter(col("doc_id") % 3 === 2)))
      val stream = graft.streaming.StreamOps.readStream(s, in,
        docs.schema, Map("maxFilesPerTrigger" -> "1"))
      val blocks = H.htmlBlocks(
        H.withSynthHtml(stream, "doc_id", "text"), "id", "html")
      graft.streaming.StreamOps.runToParquet(blocks.drop("links"), out, chk)
      val verified = Parquet.read(s, out).select(
        when(col("block_idx").isNull, raise_error(concat(
          lit("q270: HTML for id "), col("id").cast("string"),
          lit(" failed to parse in-stream — tag-walker regression"))))
          .otherwise(col("id")).as("id"),
        col("block_idx"), col("tag"), col("link_density_micros"),
        col("text"))
      graft.functions.Html.extractContent(verified)
        .select(col("id").as("doc_id"), col("n_blocks"), col("n_kept"),
          md5(col("clean_text")).as("clean_md5"))
    }),

    // --- PERSISTED link-graph index + arrival maintenance (the q133
    // loop for the link graph): corpus (href, doc, n) pairs persist once
    // through the href-bucketed tap, the arriving batch parses only
    // ITSELF and APPENDS (docs are immutable/append-only — no
    // read-modify-write), and the stats aggregate keys on the bucket
    // column so it plans with ZERO exchange (asserted). The gate demands
    // the post-append stats equal the FULL-corpus rebuild (oracle =
    // q268's SQL verbatim) — the rebuild-equality discipline.
    "q272_link_index_maintenance" -> contracted(
      ExchangeOn("href").absent(
        "q272: the stats aggregate keys on the index's bucket column — " +
        "it must plan with NO href exchange (bucket-local partials)"),
      BucketedScan.present(
        "q272: the index side must be the bucket-aware scan")
    ) { (s, dir) =>
      val H = graft.functions.Html
      val table = Tables.stagedTable(s, "graft_q272_linkidx")
      val docs = Tables.read(s, dir, "documents")
        .select(col("doc_id"), col("text"))
      def pairsOf(d: org.apache.spark.sql.DataFrame) = {
        val blocks = H.htmlBlocks(
          H.withSynthHtml(d, "doc_id", "text"), "id", "html")
        H.linkIndexRows(blocks.select(
          when(col("block_idx").isNull, raise_error(concat(
            lit("q272: HTML for id "), col("id").cast("string"),
            lit(" failed to parse — tag-walker regression"))))
            .otherwise(col("id")).as("id"),
          col("links")))
      }
      val tap = H.linkIndexTap(table, 8)
      tap.write(pairsOf(docs.filter(col("doc_id") % 10 =!= 7)),
        graft.sources.SinkMode.Replace)
      tap.write(pairsOf(docs.filter(col("doc_id") % 10 === 7)),
        graft.sources.SinkMode.Update)
      graft.functions.Html.linkTargetsFromIndex(s.table(table))
    },

    // --- INCREMENTAL RANK REFRESH over the persisted link index
    // (round-12 verdict item 5): q272 maintains the index; this gate
    // re-ranks WITHOUT a cold start — the previous cadence's converged
    // authorities seed the hub vector over the post-append index, and
    // the exact-integer HITS map iterates to its fixed point. Measured
    // in-query: the warm start must converge in strictly fewer rounds
    // than the cold start on the same post-append graph. The floor
    // divisions make fixed points unique only up to ±1 unit at the 1e9
    // scale (different trajectories can settle on neighbors — observed
    // 1 of 62 targets off by 1), so the gate pins the COLD fixed point
    // bit-exactly against the 14-round unrolled oracle and bounds the
    // warm vector to it at ≤ 2 units — bit-exact warm == cold is not a
    // theorem in floored arithmetic and is not claimed.
    "q277_hits_warm_refresh" -> ((s, dir) => {
      val H = graft.functions.Html
      val G = graft.functions.Graph
      val table = Tables.stagedTable(s, "graft_q277_linkidx")
      val docs = Tables.read(s, dir, "documents")
        .select(col("doc_id"), col("text"))
      def pairsOf(d: org.apache.spark.sql.DataFrame) = {
        val blocks = H.htmlBlocks(
          H.withSynthHtml(d, "doc_id", "text"), "id", "html")
        H.linkIndexRows(blocks.select(
          when(col("block_idx").isNull, raise_error(concat(
            lit("q277: HTML for id "), col("id").cast("string"),
            lit(" failed to parse — tag-walker regression"))))
            .otherwise(col("id")).as("id"),
          col("links")))
      }
      val tap = H.linkIndexTap(table, 8)
      tap.write(pairsOf(docs.filter(col("doc_id") % 10 =!= 7)),
        graft.sources.SinkMode.Replace)
      def idxEdges() = s.table(table)
        .select(col("id").as("src"), col("href").as("dst"))
      // previous cadence: converged ranks over the pre-append index
      val (aPre, _) = G.hitsConverge(idxEdges())
      tap.write(pairsOf(docs.filter(col("doc_id") % 10 === 7)),
        graft.sources.SinkMode.Update)
      val post = idxEdges()
      // the refresh's first read, hitsConverge's distinct edge frame,
      // groups on the index's href buckets: a bucketed scan, no exchange
      PlanContract(BucketedScan.present(
        "q277: refresh reads must be bucket-aware index scans"))
        .check(post.distinct())
      val (aCold, tCold) = G.hitsConverge(post)
      val (aWarm, tWarm) = G.hitsConverge(post, Some(aPre))
      require(tWarm < tCold, "q277: warm start must converge in fewer " +
        s"rounds than cold (warm=$tWarm, cold=$tCold)")
      require(tCold <= 14, s"q277: cold start took $tCold rounds — " +
        "beyond the oracle's 14-round unroll")
      require(
        aWarm.as("w").join(aCold.as("c"), Seq("dst"), "full")
          .filter(col("w.a").isNull || col("c.a").isNull ||
            abs(col("w.a") - col("c.a")) > 2)
          .limit(1).isEmpty,
        "q277: warm fixed point drifted > 2 units from cold — beyond " +
        "the floor-arithmetic ulp bound")
      aCold.select(col("dst").as("target"), col("a").as("authority_scaled"))
    }),

    // --- HITS authorities over the EXTRACTED link graph (Kleinberg
    // 1999): the doc→href edges the tag walker captures (q268), two
    // hub/authority iterations in exact integers — decimal(38,0) sums,
    // L∞ rescale by floor division (the one norm that needs no square
    // root), so the oracle unrolls both iterations bit-identically. The
    // link-analysis composition: parse → extract links → rank targets.
    "q271_hits_authorities" -> ((s, dir) => {
      val H = graft.functions.Html
      val docs = Tables.read(s, dir, "documents")
        .select(col("doc_id"), col("text"))
      val blocks = H.htmlBlocks(
        H.withSynthHtml(docs, "doc_id", "text"), "id", "html")
      val verified = blocks.select(
        when(col("block_idx").isNull, raise_error(concat(
          lit("q271: HTML for id "), col("id").cast("string"),
          lit(" failed to parse — tag-walker regression"))))
          .otherwise(col("id")).as("id"),
        col("links"))
      val edges = verified
        .select(col("id").as("src"), explode(col("links")).as("dst"))
      graft.functions.Graph.hitsTopK(edges, iters = 2, k = 20)
    }),

    // --- interpolated Kneser-Ney bigram LM (Chen & Goodman eq. 4.24,
    // D = 0.75 dyadic): the continuation-count upgrade of q264 — a word
    // scores by context DIVERSITY, not raw frequency. IEEE +,-,*,/ over
    // an expression tree the oracle spells with matching parens, floored
    // to micros per bigram before the exact per-doc sum (no libm).
    "q269_kneser_ney" -> ((s, dir) =>
      graft.functions.LanguageModel.kneserNeyBigram(
        Tables.read(s, dir, "documents"))),

    // --- q264's bigram bits against a PERSISTED count table (the q159
    // treatment for the bigram family — clears round-12's one weak):
    // bigramTrainCounts written once through bigramCountsTap (bucketed
    // by gram), then the batch scored with the 100 TB join shape
    // EXECUTED: the bigram lookup is a bucket-aware scan with ZERO
    // count-side exchange (asserted), the zipfian CONTEXT lookup is a
    // BROADCAST of the unigram slice (asserted — the broadcast-top-V
    // path the q264 scaladoc documents), and only the position
    // join-back exchanges on the raw bigram (the declared AQE-skew
    // point). Oracle = q264's oracle verbatim: the index changes the
    // plan, never the numbers (self-scoring → n_oov ≡ 0, projected out).
    "q273_bigram_bits_indexed" -> contracted(
      ExchangeOn("g").absent("q273: scoring must never exchange the count " +
        "table"),
      BucketedScan.present(
        "q273: the bigram count lookup must be a bucket-aware scan"),
      Node("BroadcastHashJoin").present("q273: the context lookup must " +
        "execute the broadcast unigram slice (only the hint can plan one)")
    ) { (s, dir) =>
      val table = Tables.stagedTable(s, "graft_q273_bgcounts")
      val docs = Tables.read(s, dir, "documents")
      graft.functions.LanguageModel.bigramCountsTap(table, 8).write(
        graft.functions.LanguageModel.bigramTrainCounts(docs),
        graft.sources.SinkMode.Replace)
      // the merge hint pins the bucket-join path for the bigram lookup;
      // the context broadcast is the EXPLICIT hint, so any
      // BroadcastHashJoin in this plan is the executed top-V path, not a
      // size-threshold accident
      mergeJoins(graft.functions.LanguageModel
        .scoreBigramBitsAgainstCounts(s.table(table), docs)
        .select(col("doc_id"), col("n_bi"), col("bigram_bits")))
    },

    // --- the TRUE ARRIVAL cadence for the bigram filters (the q159
    // batch shape): the count table freezes on the %50≠3 corpus, the
    // %50==3 batch arrives carrying two per-doc novel tokens
    // (" qz<k> qw<k>") so every documented OOV rule provably fires —
    // "<last> qz<k>" is a seen context with an UNSEEN continuation
    // (⌊log2 c1⌋+1 bits), "qz<k> qw<k>" is an UNSEEN context (n_oov,
    // excluded from n_bi). q273 proves plan + self-scoring values; this
    // gate proves the frozen-table SEMANTICS under a DuckDB oracle that
    // implements the same rules from the train/batch split.
    "q279_bigram_bits_arrival" -> ((s, dir) => {
      val table = Tables.stagedTable(s, "graft_q279_bgcounts")
      val docs = Tables.read(s, dir, "documents")
      val train = docs.filter(col("doc_id") % 50 =!= 3)
      val batch = docs.filter(col("doc_id") % 50 === 3)
        .select(col("doc_id"),
          concat(col("text"),
            lit(" qz"), (col("doc_id") % 5).cast("string"),
            lit(" qw"), (col("doc_id") % 5).cast("string")).as("text"))
      graft.functions.LanguageModel.bigramCountsTap(table, 8).write(
        graft.functions.LanguageModel.bigramTrainCounts(train),
        graft.sources.SinkMode.Replace)
      graft.functions.LanguageModel
        .scoreBigramBitsAgainstCounts(s.table(table), batch)
    }),

    "q280_kneser_ney_arrival" -> ((s, dir) => {
      val table = Tables.stagedTable(s, "graft_q280_bgcounts")
      val docs = Tables.read(s, dir, "documents")
      val train = docs.filter(col("doc_id") % 50 =!= 3)
      val batch = docs.filter(col("doc_id") % 50 === 3)
        .select(col("doc_id"),
          concat(col("text"),
            lit(" qz"), (col("doc_id") % 5).cast("string"),
            lit(" qw"), (col("doc_id") % 5).cast("string")).as("text"))
      graft.functions.LanguageModel.bigramCountsTap(table, 8).write(
        graft.functions.LanguageModel.bigramTrainCounts(train),
        graft.sources.SinkMode.Replace)
      graft.functions.LanguageModel
        .scoreKneserNeyAgainstCounts(s.table(table), batch)
    }),

    // --- q269's interpolated KN against the SAME persisted table (one
    // table serves the whole bigram family — that is the point of the
    // (g, c, n1f, n1b) self-describing layout): bucket-local bigram
    // lookup, TWO broadcast unigram-slice lookups (context stats +
    // continuation type counts), ntypes reduced from the unigram slice
    // (Σ n1f — no second corpus pass), zero count-side exchange.
    // Oracle = q269's oracle verbatim.
    "q274_kneser_ney_indexed" -> contracted(
      ExchangeOn("g").absent("q274: scoring must never exchange the count " +
        "table"),
      BucketedScan.present(
        "q274: the bigram count lookup must be a bucket-aware scan"),
      Node("BroadcastHashJoin").atLeast(2, "q274: both unigram-slice " +
        "lookups (context stats + continuation types) must execute as " +
        "broadcasts")
    ) { (s, dir) =>
      val table = Tables.stagedTable(s, "graft_q274_bgcounts")
      val docs = Tables.read(s, dir, "documents")
      graft.functions.LanguageModel.bigramCountsTap(table, 8).write(
        graft.functions.LanguageModel.bigramTrainCounts(docs),
        graft.sources.SinkMode.Replace)
      mergeJoins(graft.functions.LanguageModel
        .scoreKneserNeyAgainstCounts(s.table(table), docs)
        .select(col("doc_id"), col("n_bi"), col("kn_micros")))
    },

    // --- exact-integer PageRank over the co-order supplier graph:
    // suppliers sharing an order are edges (group-key self-join, fan-out
    // bounded by order size), each vertex keeps its 64 strongest
    // neighbors via the bounded-heap TopKAgg (co-occurrence graphs
    // DENSIFY as data grows — the cap is the scale lever, O(V·k) state,
    // wedges ≤ V·k² downstream), and 4 damping-0.85 iterations run in
    // floor-division int64 so the oracle unrolls them bit-identically.
    // One aggregation and one keyed shuffle per iteration; each iteration
    // is a lazy checkpoint frame, and the top-k collect is the loop's one
    // action (Graph.pageRankTopK).
    "q249_pagerank" -> ((s, dir) => {
      val G = graft.functions.Graph
      val edges = G.coOccurrenceEdges(
        Tables.read(s, dir, "lineitem"),
        "l_orderkey", "l_suppkey", maxDegree = 64)
      G.pageRankTopK(edges, iters = 4, k = 20)
    }),

    // --- TOLERANCE-gated warm-start PageRank (round-13 verdict item 4,
    // the q277 honesty contract generalized): the rank refresh at
    // arrival cadence over the co-order PART graph (the degree-diverse
    // one — the supplier graph is near-regular and converges in 1-2
    // rounds, too fast to gate warm-vs-cold). Stopping rule: max |Δr| ≤
    // ε = 500 000 units (0.05% of the 10⁹ scale; measured cold stop
    // 5/6/7 rounds at the 3 SFs). COLD is the gated output — the oracle
    // unrolls 12 rounds, computes every round's max |Δr|, and picks the
    // SAME stopping round by the same rule, so a wrong stop round OR a
    // wrong rank fails the hash (`rounds` is a gated column). WARM
    // starts from the pre-arrival (%50≠3 orders) converged ranks and is
    // pinned in-query: STRICTLY fewer rounds than cold, final ranks
    // within ε of cold (measured ≤ 0.19ε; the honest ceiling for two
    // ε-stopped trajectories is ε·2λ/(1−λ) ≈ 11.3ε — bit-equality is
    // not a theorem in floored arithmetic and is not claimed).
    // CONSOLIDATED (r15 verdict #3): answers through the SAME
    // pageRankGateBundle code path as q314 — q314's contract subsumes
    // this gate's (cold-stop window, warm strictly-fewer, warm ≤ ε are
    // all asserted inside the bundle, and merge ≡ rebuild pins the
    // artifact-built graph to the directly-built one). r16: recomputed
    // per invocation (no result memo — see the bundle doc). The oracle
    // stays this gate's own unrolled-stopping-rule spelling.
    "q298_pagerank_warm" -> ((s, dir) => pageRankGateBundle(s, dir)),

    // --- exact triangle census over the same capped graph: oriented
    // wedge join (a<b<c by construction on the undirected support)
    // closed by the third edge — each triangle counted exactly once,
    // wedge count bounded by V·k² under the degree cap. The triangle
    // count is the clustering diagnostic of the co-occurrence graph
    // (how clique-ish is supplier co-ordering).
    "q250_triangles" -> ((s, dir) => {
      val G = graft.functions.Graph
      val edges = G.coOccurrenceEdges(
        Tables.read(s, dir, "lineitem"),
        "l_orderkey", "l_suppkey", maxDegree = 64)
      G.triangleStats(edges)
    }),

    // --- connected components on the capped graph, REUSING the repo's
    // converged min-label propagation (the winnow/LSH family machinery:
    // pointer jumping, rounds ≈ log diameter, monotone-sum convergence
    // guard) — each undirected edge becomes one shared bucket with a
    // collision-free string key. The oracle computes reachability with a
    // recursive CTE and takes per-vertex minima — a different algorithm
    // arriving at the same fixed point, which is what makes the gate
    // meaningful.
    "q251_components" -> ((s, dir) => {
      val G = graft.functions.Graph
      val edges = G.coOccurrenceEdges(
        Tables.read(s, dir, "lineitem"),
        "l_orderkey", "l_suppkey", maxDegree = 64)
      G.componentSizes(edges)
    }),

    // --- local clustering coefficients in exact floor micros: per-vertex
    // triangle credit (each oriented triangle explodes to its 3 corners)
    // over distinct-neighbor degree — the how-clique-ish-is-my-
    // neighborhood diagnostic. Integer arithmetic end-to-end, top-20 by
    // (coeff desc, vertex asc); d < 2 excluded (undefined).
    "q252_clustering" -> ((s, dir) => {
      val G = graft.functions.Graph
      val edges = G.coOccurrenceEdges(
        Tables.read(s, dir, "lineitem"),
        "l_orderkey", "l_suppkey", maxDegree = 64)
      G.clusteringTopK(edges, k = 20)
    }),

    // --- closed-form OLS per group in EXACT integer arithmetic: slope
    // and intercept of extendedprice (cents) on quantity (units) from
    // the normal equations, all moments as decimal(38,0) sums and the
    // final division as sign-split integral div (Spark `div` truncates
    // toward zero, DuckDB `//` floors — identical on NON-NEGATIVE
    // operands, so magnitude and sign travel separately). One partial-agg
    // pass over the fact table; groups where x is constant (den = 0) are
    // excluded — the coefficient is undefined there.
    "q254_ols_by_group" -> ((s, dir) =>
      graft.functions.ExactMoments.olsByGroup(
        Tables.read(s, dir, "lineitem").select(
          col("l_returnflag"), col("l_linestatus"),
          col("l_quantity").cast("bigint").as("x"),
          floor(col("l_extendedprice") * 100).cast("bigint").as("y")),
        Seq("l_returnflag", "l_linestatus"), "x", "y")),

    // --- exponential smoothing (EWMA, α = 1/2) per user over the event
    // stream, EXACT: values floor to micros, each step is
    // floorDiv(prev + v, 2) — halving is the one smoothing constant that
    // is exact in integer arithmetic, so the oracle replays the fold as
    // list_reduce over the identically-ordered list. Runs as a DSL
    // Buffer (sorted group iterator — the Cascading Every+Buffer surface
    // doing time-series work); per-user partitions, one keyed shuffle.
    "q255_ewma" -> ((s, dir) => {
      import org.apache.spark.sql.Row
      val ev = Tables.events(s, dir).select(col("user_id"),
        unix_micros(col("ts")).as("tus"), col("event_id"),
        floor(col("value") * 1e6).cast("bigint").as("vm"))
      val ewma = new graft.pipes.CBuffer {
        val resultFields: graft.model.CFields = graft.model.CFields.typed(
          "n_events" -> org.apache.spark.sql.types.LongType,
          "ewma_micros" -> org.apache.spark.sql.types.LongType)
        def operate(key: Seq[Any], rs: Iterator[Row]): Iterator[Seq[Any]] = {
          var acc = 0L; var n = 0L
          rs.foreach { r =>
            val v = r.getAs[Long]("vm")
            acc = if (n == 0L) v else Math.floorDiv(acc + v, 2L)
            n += 1
          }
          Iterator.single(Seq(n, acc))
        }
      }
      val p = graft.pipes.Pipe.source(graft.sources.DataFrameTap(ev))
        .groupBySorted(Seq("user_id"),
          Seq("tus" -> true, "event_id" -> true))
        .buffer(ewma)
      graft.exec.Flow.toDF(p)(s)
    }),

    // --- k-core decomposition (k = 60) on the capped PART co-occurrence
    // graph: iterated peeling — the MONOTONE-SHRINKING iteration class
    // (each round deletes, never adds; the dual of the propagation's
    // monotone labels) — with the q186 convergence discipline: the
    // operator fails DIRECTED if the edge set still shrinks at the round
    // bound, so the oracle's fixed 8-round unroll provably reaches the
    // same fixed point. The PART graph (not the near-regular supplier
    // one) has real degree diversity, so the peel is PARTIAL at every SF
    // (measured: ~2.7% of sf0.001 edges peel, core survives) — the
    // supplier graph's min degree equals the cap, making its cores
    // all-or-nothing, a shape that would gate nothing.
    "q257_kcore" -> ((s, dir) => {
      val G = graft.functions.Graph
      val edges = G.coOccurrenceEdges(
        Tables.read(s, dir, "lineitem"),
        "l_orderkey", "l_partkey", maxDegree = 64)
      G.kCore(edges, k = 60, rounds = 8)
    }),

    // --- event-transition matrix (first-order Markov over per-user
    // sequences): consecutive event-type pairs by (ts, event_id) order,
    // counted corpus-wide, with row-normalized transition probability in
    // EXACT floor micros (count(from,to) / count(from,*)). One keyed
    // shuffle + per-user lag window (bounded partitions); the path-
    // analysis primitive behind funnels and sankeys.
    "q262_event_transitions" -> ((s, dir) => {
      val W = org.apache.spark.sql.expressions.Window
      val ev = Tables.events(s, dir).select(col("user_id"),
        unix_micros(col("ts")).as("tus"), col("event_id"),
        col("event_type"))
      val w = W.partitionBy(col("user_id")).orderBy(col("tus"), col("event_id"))
      val pairs = ev.withColumn("next_type", lead(col("event_type"), 1).over(w))
        .filter(col("next_type").isNotNull)
        .groupBy(col("event_type").as("from_type"),
          col("next_type").as("to_type"))
        .agg(count(lit(1)).as("n"))
      val totals = pairs.groupBy(col("from_type"))
        .agg(sum(col("n")).as("tot"))
      pairs.join(totals, Seq("from_type"))
        .select(col("from_type"), col("to_type"),
          col("n").cast("bigint").as("n"),
          expr("(1000000 * n) div tot").cast("bigint").as("prob_micros"))
    }),

    // --- association rules (market-basket, 2-itemsets): orders are
    // baskets, parts are items; rules A→B with pair support ≥ 3 carry
    // EXACT floor-micros confidence (cnt(AB)/cnt(A)) and lift
    // (N·cnt(AB)/(cnt(A)·cnt(B))) — all integer arithmetic, both
    // directions emitted. One group-key self-join (fan-out bounded by
    // basket size) + two tiny aggregates; the classic retail-analytics
    // op the co-occurrence projection was built from.
    "q260_association_rules" -> ((s, dir) => graft.exec.Frames { f =>
      val su = f.persist(Tables.read(s, dir, "lineitem")
        .select(col("l_orderkey").as("k"), col("l_partkey").as("v"))
        .distinct())
      val n = su.select(col("k")).distinct().count()
      val item = su.groupBy(col("v")).agg(count(lit(1)).as("cnt"))
      val pair = su.as("a").join(su.as("b"),
          col("a.k") === col("b.k") && col("a.v") < col("b.v"))
        .groupBy(col("a.v").as("ia"), col("b.v").as("ib"))
        .agg(count(lit(1)).as("cp"))
        .filter(col("cp") >= 3)
      val both = pair.select(col("ia").as("ante"), col("ib").as("cons"),
          col("cp"))
        .unionByName(pair.select(col("ib").as("ante"),
          col("ia").as("cons"), col("cp")))
      f.result(both
        .join(item.select(col("v").as("ante"), col("cnt").as("ca")),
          Seq("ante"))
        .join(item.select(col("v").as("cons"), col("cnt").as("cc")),
          Seq("cons"))
        .select(col("ante"), col("cons"), col("cp").cast("bigint").as("n_pair"),
          expr("(1000000 * cp) div ca").cast("bigint").as("conf_micros"),
          // literal×literal folds in Int under ANSI — pre-scale in Scala
          expr(s"(${1000000L * n} * cp) div (ca * cc)").cast("bigint")
            .as("lift_micros")))
    }),

    // --- cohort retention: users bucketed by FIRST-SEEN week (pure
    // integer week index: floorDiv(epoch-day, 7) — no calendar functions,
    // so both engines agree by construction FOR ts ≥ epoch: Spark `div`
    // truncates toward zero while DuckDB `//` floors, identical only on
    // non-negatives, so a pre-epoch timestamp fails DIRECTED below
    // rather than silently mis-bucketing (round-11 advice). Activity is
    // distinct users per (cohort_week, week_offset) — the standard
    // product-analytics retention matrix. Two aggregates + one broadcast
    // join back on user.
    "q261_cohort_retention" -> ((s, dir) => {
      val ev = Tables.events(s, dir).select(col("user_id"),
        when(unix_micros(col("ts")) < 0, raise_error(concat(
          lit("q261: pre-epoch event ts for user "),
          col("user_id").cast("string"),
          lit(" — the div/floor week-index identity needs ts >= epoch")))
          .cast("long"))
          .otherwise(expr("unix_micros(ts) div 86400000000 div 7"))
          .as("wk"))
      val first = ev.groupBy(col("user_id")).agg(min(col("wk")).as("cw"))
      ev.join(first, Seq("user_id"))
        .select(col("user_id"), col("cw"),
          (col("wk") - col("cw")).as("off"))
        .distinct()
        .groupBy(col("cw").as("cohort_week"), col("off").as("week_offset"))
        .agg(countDistinct(col("user_id")).as("n_active"))
    }),

    // --- WEIGHTED PageRank on the same capped graph: mass flows in
    // proportion to co-occurrence COUNT (the transition strength plain
    // PageRank discards after the cap) — r·85·w div (100·Σw), still pure
    // floor-division int64 so the oracle unrolls the 4 iterations
    // bit-identically. Same per-iteration plan as q249.
    "q259_pagerank_weighted" -> ((s, dir) => {
      val G = graft.functions.Graph
      val edges = G.coOccurrenceEdges(
        Tables.read(s, dir, "lineitem"),
        "l_orderkey", "l_suppkey", maxDegree = 64)
      G.pageRankWeightedTopK(edges, iters = 4, k = 20)
    }),

    // --- EXACT set-similarity self-join (AllPairs/PPJoin prefix
    // filtering): all doc pairs with 8-gram shingle-set Jaccard ≥ 4/5,
    // no approximation — candidates are pruned by the global-frequency
    // prefix + length filters, never the answer. The oracle is the
    // EXHAUSTIVE share-a-shingle join with the same rational-threshold
    // verification, so a single missed pair (a prefix-bound bug) fails
    // the gate. Complements MinHash (q64, probabilistic) with the exact
    // form production dedup uses for high thresholds.
    "q258_setjoin_exact" -> ((s, dir) =>
      Dedup.setSimilarityJoin(
        Tables.read(s, dir, "documents"), "doc_id", "text",
        n = 8, tNum = 4L, tDen = 5L)),

    // --- STREAMING EWMA: the q255 ordered fold as a REAL multi-batch
    // stream — per-user (n, ewma) state carried across 3 time-sliced
    // micro-batches via flatMapGroupsWithState (an ORDER-SENSITIVE fold,
    // unlike the commutative session merge: time-sliced staging is the
    // ordering contract), closed by the far-future per-user sentinel
    // (the q67 discipline). Oracle = q255's batch SQL verbatim —
    // streaming must be indistinguishable from batch.
    "q256_stream_ewma" -> ((s, dir) => {
      val (in, out, chk) = freshStreamDirs("graft_q256_stream")
      val ev = Tables.events(s, dir).select(col("user_id"), col("ts"),
        col("event_id"), floor(col("value") * 1e6).cast("bigint").as("vm"))
      val sentinelTs = "timestamp'2100-01-01 00:00:00'"
      val sentinel = ev.select(col("user_id")).distinct()
        .withColumn("ts", expr(sentinelTs))
        .withColumn("event_id", lit(Long.MaxValue))
        .withColumn("vm", lit(0L))
      stageTimeSliced(in, ev, "ts", sentinel)
      val stream = graft.streaming.StreamOps.readStream(s, in, ev.schema,
        Map("maxFilesPerTrigger" -> "1"))
      val folded = {
        import s.implicits._
        graft.streaming.StreamOps.ewmaFold(
          stream.as[graft.streaming.StreamOps.EwmaEvent],
          sentinelUs = java.time.Instant.parse("2100-01-01T00:00:00Z")
            .getEpochSecond * 1000000L)
      }
      graft.streaming.StreamOps.runToParquet(folded, out, chk)
      Parquet.read(s, out)
        .select(col("user_id"), col("n_events"), col("ewma_micros"))
    }),

    // --- INCREMENTAL component maintenance: the arrival pattern (q187's
    // winnow adoption) on an explicit graph — ~20% of the capped edges
    // arrive as a batch against labels persisted from the other 80%;
    // only TOUCHED components relabel (seeded propagation over new edges
    // + one membership bucket per touched component), everything else is
    // carried verbatim. The gate is the strongest possible: the final
    // sizes must equal the FULL-graph batch recompute (oracle = q251's
    // SQL), for ANY edge split — incremental maintenance must be
    // indistinguishable from rebuild.
    "q253_components_incremental" -> ((s, dir) => graft.exec.Frames { f =>
      val G = graft.functions.Graph
      val edges = f.persist(G.coOccurrenceEdges(
          Tables.read(s, dir, "lineitem"),
          "l_orderkey", "l_suppkey", maxDegree = 64))
      val isNew = pmod(hash(col("src"), col("dst")), lit(5)) === 0
      // the label table is a PERSISTED artifact (parquet tap), exactly as
      // in production — and feeding one propagation's in-memory output
      // into another would let the second run's LogicalRDD release drop
      // the first's localCheckpoint blocks (disk-backed labels are
      // rebuildable; checkpoint blocks are not)
      val tmp = java.nio.file.Files
        .createTempDirectory("graft_q253_labels").toString
      // the eager result below fully materializes the answer, so the
      // staged label parquet is dead on every exit path
      try {
        G.componentLabels(edges.filter(!isNew))
          .write.mode("overwrite").parquet(tmp)
        val labels = G.componentsIncremental(
          Parquet.read(s, tmp), edges.filter(isNew))
        f.result(labels.groupBy(col("cluster_id").as("component"))
          .agg(count(lit(1)).as("size")))
      } finally Tables.deleteRecursively(new java.io.File(tmp))
    }),

    // --- pseudo-relevance feedback (RM3-lite): BM25 with the original
    // bag, mine the top-5 tokens from the top-10 hits (count desc, token
    // asc, originals excluded — a bounded driver carry of 5 strings, the
    // Lloyd discipline), rescore with the mined bag, blend 3:2 in exact
    // int64 over the two candidate lists. The expansion terms are DATA-
    // DEPENDENT — the oracle re-mines them in SQL and scores via term
    // ROWS, which equals the literal fold because per-term scores are
    // floored integers.
    "q243_rm3_feedback" -> ((s, dir) =>
      graft.functions.Relevance.rm3TopK(
        Tables.read(s, dir, "documents"), "doc_id", "text",
        Bm25Terms, fbDocs = 10, fbTerms = 5, legK = 100, topK = 20)),

    // --- temperature-balanced language mixing at T=2 (the mBERT/XLM-R
    // recipe): per-class keep probability ∝ 1/√n_d with the expected
    // total pinned to 30% of the corpus — head languages down-sample,
    // tails keep more mass. One stats exchange; thresholds broadcast
    // back; the keep filter is the exact-int64 (salt,id) hash. T is
    // fixed at 2 so the threshold math rides IEEE sqrt (correctly
    // rounded) instead of libm pow (not).
    "q242_temperature_sample" -> ((s, dir) =>
      graft.functions.Governance.temperatureSample(
        Tables.read(s, dir, "documents")
          .select(col("doc_id"), col("lang")),
        "doc_id", "lang", targetFraction = 0.3, salt = TempSalt)),

    // --- adaptive SemDeDup behind an exact-duplicate collapse: the q181
    // guard's own remedy as a first-class operator. Identical vectors
    // share every sign bucket at ANY plane count, so exact replication
    // defeats escalation (the sf1 sweep measured q181 failing directed
    // on 160-fold verbatim copies); collapsing to distinct vectors first
    // makes the adaptive pass see only splittable mass. At this SF the
    // corpus is already distinct, so the collapse is the identity and
    // the verdicts equal q181's with n_copies = 1 — at the replicated
    // sf1 this query SURVIVES where q181 refuses (rehearsed).
    "q202_semdedup_distinct" -> ((s, dir) => {
      val e = Tables.read(s, dir, "embeddings")
      graft.functions.Similarity.semanticDedupDistinct(
        e, "vec_id", "embedding", simThreshold = 0.95,
        basePlanes = 6, extraPlanes = 4, maxBucket = 100L, maxRounds = 3)
    }),

    // --- WIDE twin of q161: paragraph dedup at the 60-bit key. A
    // paragraph-hash collision DELETES real content (two different
    // paragraphs conflated, the loser erased corpus-wide) — the same
    // silent-corruption class as the winnow finding, so the wide form is
    // the one to run past ~2^20 distinct paragraphs.
    "q203_paragraph_dedup_wide" -> ((s, dir) => {
      val docs = Tables.read(s, dir, "documents")
      val aug = docs.select(col("doc_id"),
        concat(col("text"),
          when(col("doc_id") % 3 === 0, lit("\n" + Boiler1))
            .otherwise(lit("")),
          when(col("doc_id") % 5 === 0, lit("\n" + Boiler2))
            .otherwise(lit(""))).as("text"))
      graft.functions.Curation.dropDuplicateParagraphs(aug, "doc_id",
          "text", wideHash = true)
        .select(col("doc_id"), md5(col("clean_text")).as("clean_md5"),
          col("n_kept"), col("n_dropped"))
    }),

    // --- WIDE twin of q192: the persisted contamination gram index at
    // the 60-bit key (a collision only inflates a count by one, but the
    // persisted layout should entrench collision-safe with the rest)
    "q204_source_overlap_wide" -> ((s, dir) => {
      val table = Tables.stagedTable(s, "graft_q204_gramidx")
      val docs = Tables.read(s, dir, "documents")
      val corpus = docs.filter(col("doc_id") % 10 =!= 7)
      val batch = docs.filter(col("doc_id") % 10 === 7)
      graft.functions.Contamination.sourceGramIndexTap(table, 8).write(
        graft.functions.Contamination.sourceGramIndex(
          corpus, "text", "source", n = 8, wideHash = true),
        graft.sources.SinkMode.Replace)
      graft.functions.Contamination.sourceOverlapMatrixIndexed(
        s.table(table), batch, "text", "source", n = 8,
        assertBucketScan = true, wideHash = true)
    }),

    // --- index COMPACTION under the gate: the q133 append loop decays
    // into small files (each Update lands writer-tasks × buckets files;
    // the bucket-aware scan pays per FILE) — compaction rewrites the
    // accumulated rows through the same bucket layout via a staging
    // swap. Asserted in-query: the file count COLLAPSES to one per
    // bucket, the bucket metadata survives the swap (the batch match
    // still plans a bucket-aware scan with ONE batch-side exchange),
    // and the oracle gates that compaction changed NO values.
    "q205_index_compaction" -> contracted(
      ExchangeOn("band").exactly(1, "post-compaction index join must " +
        "shuffle ONLY the batch band rows"),
      BucketedScan.present("bucket metadata must survive the compaction swap")
    ) { (s, dir) =>
      val table = Tables.stagedTable(s, "graft_q205_bandidx")
      s.sql(s"DROP TABLE IF EXISTS ${table}__compact")
      val docs = Tables.read(s, dir, "documents")
      val day0 = docs.filter(col("doc_id") % 10 =!= 7 &&
        col("doc_id") % 10 =!= 8)
      val day1 = docs.filter(col("doc_id") % 10 === 8)
      val batch = docs.filter(col("doc_id") % 10 === 7)
      val tap = Dedup.bandIndexTap(table, 8)
      // narrow oracle-mirroring layout, pinned (production default is wide)
      tap.write(Dedup.bandIndex(day0, "doc_id", "text", wideHash = false),
        graft.sources.SinkMode.Replace)
      tap.write(Dedup.bandIndex(day1, "doc_id", "text", wideHash = false),
        graft.sources.SinkMode.Update)
      val filesBefore = s.table(table).inputFiles.length
      tap.compact(s)
      val filesAfter = s.table(table).inputFiles.length
      require(filesAfter < filesBefore && filesAfter <= 8,
        s"compaction must collapse the file count to ≤ buckets " +
          s"(before=$filesBefore after=$filesAfter)")
      mergeJoins(Dedup.incrementalNearDupsAgainstIndex(
        corpusIndex = s.table(table), batch = batch, "doc_id", "text",
        wideHash = false))
    },

    // --- q205's maintenance loop UNDER CONCURRENT READERS: the same
    // build → append → compact → query cadence through the blue/green
    // PingPongBucketedTap — generations alternate, the live name is a
    // view repointed atomically at swap, and the retired generation's
    // files survive a full compact cycle, so a reader that PLANNED
    // before the swap (checked in-query: planned pre-compact, executed
    // post-compact) still reads a complete, consistent file set where
    // q205's drop+rename swap would have deleted its files mid-scan.
    // Same zero-exchange plan asserts as q205 — the view is transparent
    // to bucketing metadata.
    "q216_compact_pingpong" -> contracted(
      ExchangeOn("band").exactly(1, "post-compaction index join must " +
        "shuffle ONLY the batch band rows"),
      BucketedScan.present(
        "bucket metadata must survive the view + generation swap")
    ) { (s, dir) =>
      val table = Tables.processLocal("graft_q216_bandidx")
      val tap = graft.sources.PingPongBucketedTap(table, 8, Seq("band", "key"))
      tap.drop(s)
      val docs = Tables.read(s, dir, "documents")
      val day0 = docs.filter(col("doc_id") % 10 =!= 7 &&
        col("doc_id") % 10 =!= 8)
      val day1 = docs.filter(col("doc_id") % 10 === 8)
      val batch = docs.filter(col("doc_id") % 10 === 7)
      // narrow oracle-mirroring layout, pinned (production default is wide)
      tap.write(Dedup.bandIndex(day0, "doc_id", "text", wideHash = false),
        graft.sources.SinkMode.Replace)
      tap.write(Dedup.bandIndex(day1, "doc_id", "text", wideHash = false),
        graft.sources.SinkMode.Update)
      val filesBefore = s.table(table).inputFiles.length
      val expectedRows = s.table(table).count()
      // the concurrent reader: fully planned BEFORE the swap
      val preSwap = PlanContract(Scan(table).present(
        "a reader planned pre-swap scans the live generation")).check(
        s.table(table))
      tap.compact(s)
      require(preSwap.count() == expectedRows,
        "a reader planned pre-swap must still read the full index")
      val filesAfter = s.table(table).inputFiles.length
      require(filesAfter < filesBefore && filesAfter <= 8,
        s"compaction must collapse the file count to ≤ buckets " +
          s"(before=$filesBefore after=$filesAfter)")
      mergeJoins(Dedup.incrementalNearDupsAgainstIndex(
        corpusIndex = s.table(table), batch = batch, "doc_id", "text",
        wideHash = false))
    },

    // --- q82 AT ARRIVAL TIME: the decontamination screen as a stream.
    // The benchmark's distinct 60-bit gram keys persist once (bucketed
    // tap — benchmarks are small, the table broadcasts); arriving docs
    // key their grams IN-FLIGHT (stateless explode, no stream shuffle,
    // no state store) and stream-static join the index; overlap counts
    // aggregate post-stream over the matched (id, h) rows. Oracle = the
    // same per-doc overlap computed from scratch in SQL — stream ≡ batch
    // screen is the gate (the q182/q200 decomposition applied to q82).
    "q206_stream_decontaminate" -> ((s, dir) => {
      val table = Tables.stagedTable(s, "graft_q206_evalidx")
      val (in, out, chk) = freshStreamDirs("graft_q206_stream")
      // planted contamination (the q161 fixture discipline): every eval
      // doc and HALF the arrival slice carry a fixed phrase, so the gate
      // has guaranteed directed positives at every SF (natural 4-gram
      // overlap is 0 at sf0.001 — and an all-empty stream sink writes no
      // parquet at all); the unplanted half still tests natural overlap
      val docs = Tables.read(s, dir, "documents")
        .select(col("doc_id"),
          concat(col("text"),
            when(col("doc_id") % 50 === 0 || col("doc_id") % 20 === 7,
              lit(" " + DecontamPhrase)).otherwise(lit(""))).as("text"))
      val C = graft.functions.Contamination
      C.evalGramIndexTap(table, 8).write(
        C.evalGramIndex(docs.filter(col("doc_id") % 50 === 0), "text",
          DecontamN),
        graft.sources.SinkMode.Replace)
      val arrivals = docs.filter(col("doc_id") % 10 === 7)
      // plan assert on the screen's batch shape (the q127/q180 index
      // discipline): the persisted eval-gram index must BROADCAST into
      // the arrival gram scan — the streaming micro-batches plan the
      // identical stream-static join, so a regression to a shuffled
      // join (e.g. dropped table stats) fails here, not silently in
      // production latency
      PlanContract(Node("BroadcastHashJoin").present(
          "eval-gram index side must broadcast into the arrival scan"))
        .check(C.docGramKeys(arrivals, "doc_id", "text", DecontamN)
          .join(s.table(table), Seq("h")))
      stageSliced(in, Seq(
        arrivals.filter(col("doc_id") % 30 === 7),
        arrivals.filter(col("doc_id") % 30 === 17),
        arrivals.filter(col("doc_id") % 30 === 27)))
      val index = s.table(table)
      val stream = graft.streaming.StreamOps.readStream(s, in,
        arrivals.schema, Map("maxFilesPerTrigger" -> "1"))
      val matched = C.docGramKeys(stream, "doc_id", "text", DecontamN)
        .join(index, Seq("h"))
        .select(col("id"), col("h"))
      graft.streaming.StreamOps.runToParquet(matched, out, chk)
      Parquet.read(s, out).groupBy(col("id").as("doc_id"))
        .agg(count(lit(1)).as("n_overlap"))
    }),

    // --- SPAN-level decontamination: the ACTION q206's flag-level
    // screen feeds — tokens covered by any eval-overlapping n-gram are
    // REMOVED and the clean text reassembled (the q139 strip pattern
    // against the eval-gram index), the form training pipelines ship:
    // a doc leaking one benchmark sentence loses THAT SENTENCE, not its
    // whole text. Same q206 fixture (planted phrase on eval docs and
    // half the arrival slice), same shingles windows as the screen, so
    // strip coverage ≡ screen verdicts; gate hashes full cleaned text.
    // Index side plan-asserted broadcast (the q127 discipline).
    "q215_decontaminate_strip" -> contracted(
      Node("BroadcastHashJoin").present(
        "eval-gram index side must broadcast into the positional gram scan")
    ) { (s, dir) =>
      val docs = Tables.read(s, dir, "documents")
        .select(col("doc_id"),
          concat(col("text"),
            when(col("doc_id") % 50 === 0 || col("doc_id") % 20 === 7,
              lit(" " + DecontamPhrase)).otherwise(lit(""))).as("text"))
      val C = graft.functions.Contamination
      val idx = C.evalGramIndex(docs.filter(col("doc_id") % 50 === 0),
        "text", DecontamN)
      C.stripContaminatedSpans(
          docs.filter(col("doc_id") % 10 === 7), idx,
          "doc_id", "text", DecontamN)
        .select(col("doc_id"), md5(col("clean_text")).as("clean_md5"),
          col("n_kept"), col("n_removed"))
    },

    // --- URL canonicalization + URL-level dedup: the crawl pipeline's
    // first pass (one short-key hash agg drops ~1/3 of a raw crawl
    // before any body text is read). The corpus has no URL column, so a
    // deterministic messy-URL fixture is injected in-query (the q83 PII
    // discipline): four variants per canonical group exercising case,
    // www, default ports, trailing slash, fragments, tracking params
    // and param order — three variants collapse to one canonical form,
    // the fragment-only variant to a second.
    "q207_url_dedup" -> ((s, dir) => {
      val d = Tables.read(s, dir, "documents")
      val grp = (col("doc_id") % 13).cast("string")
      val k = ((col("doc_id") % 13) % 7).cast("string")
      val v = col("doc_id") % 4
      val url =
        when(v === 0, concat(lit("http://Example"), k, lit(".ORG:80/p/"),
          grp, lit("/?b=2&a=1&utm_source=x")))
        .when(v === 1, concat(lit("HTTP://www.example"), k, lit(".org/p/"),
          grp, lit("?a=1&b=2")))
        .when(v === 2, concat(lit("http://EXAMPLE"), k, lit(".org/p/"),
          grp, lit("/#sec2")))
        .otherwise(concat(lit("http://Example"), k, lit(".org:80/p/"),
          grp, lit("/?fbclid=zz&b=2&a=1")))
      graft.functions.Web.urlDedup(
        d.select(col("doc_id"), url.as("url")), "doc_id", "url")
    }),

    // --- per-domain crawl-frontier diagnostic over a hostile URL mix:
    // embedded absolute URLs in query params (must stay payload — the
    // first-'://' anchor), percent-escape case variants (normalize to
    // one canonical form), non-default ports (a DISTINCT origin), and
    // grammar-failing strings (host NULL — the parser's error budget
    // stays a visible row, never a silent drop). Output is the crawl
    // operator's recrawl-budget table: pages and distinct canonical
    // URLs per canonical host.
    "q214_domain_stats" -> ((s, dir) => {
      val d = Tables.read(s, dir, "documents")
      val k = (col("doc_id") % 3).cast("string")
      val grp = (col("doc_id") % 13).cast("string")
      val v = col("doc_id") % 6
      val url =
        when(v === 0, concat(lit("http://Example"), k, lit(".ORG:80/p/"),
          grp, lit("/?b=2&a=1&utm_source=x")))
        .when(v === 1, concat(lit("HTTP://www.example"), k, lit(".org/p/"),
          grp, lit("?a=1&b=2")))
        .when(v === 2, concat(lit("http://example"), k,
          lit(".org/r?next=https://target"), k, lit(".com/p")))
        .when(v === 3, concat(lit("https://Example"), k, lit(".org:443/a%2fb/"),
          grp, lit("?x=%3d1")))
        .when(v === 4, concat(lit("nonsense-"), grp))
        .otherwise(concat(lit("http://example"), k, lit(".org:8080/p/"), grp))
      graft.functions.Web.domainStats(
        d.select(col("doc_id"), url.as("url")), "url")
    }),

    // --- corpus-wide boilerplate stripping by document frequency: q161
    // dedups (keep-first); this REMOVES every paragraph whose distinct-
    // doc frequency ≥ 3 from all docs (the RefinedWeb/CCNet boilerplate
    // pass). Fixture: q161's boiler lines (df » 3 at every SF) plus a
    // WITHIN-doc repeated paragraph on doc 1 only — df = 1, so it must
    // survive twice (distinct-doc counting, not occurrence counting).
    // wideHash: a paragraph-key collision deletes real content.
    "q211_boilerplate_strip" -> ((s, dir) => {
      val docs = Tables.read(s, dir, "documents")
      val aug = docs.select(col("doc_id"),
        concat(col("text"),
          when(col("doc_id") % 3 === 0, lit("\n" + Boiler1))
            .otherwise(lit("")),
          when(col("doc_id") % 5 === 0, lit("\n" + Boiler2))
            .otherwise(lit("")),
          when(col("doc_id") === 1,
            lit("\nsolo repeated para\nsolo repeated para"))
            .otherwise(lit(""))).as("text"))
      graft.functions.Curation.stripBoilerplateParagraphs(
          aug, "doc_id", "text", minDocFreq = 3, wideHash = true)
        .select(col("doc_id"), md5(col("clean_text")).as("clean_md5"),
          col("n_kept"), col("n_dropped"))
    }),

    // --- product quantization + ADC top-k (Jégou et al. 2011): the
    // compressed-domain scan that makes dense similarity affordable at
    // 100 TB — 64 floats/vector (256 B) become 8 byte-codes (32×), and
    // the query scan is integer table-lookups, never a raw vector read.
    // Per-subspace Lloyd rides the q66 micro-quantized integer
    // discipline, so codebooks, codes, distances and ranks are ALL
    // exact integers the oracle replays arithmetically.
    "q208_pq_adc" -> ((s, dir) => {
      val e = Tables.read(s, dir, "embeddings")
      graft.functions.Similarity.pqAdcTopK(e, e.filter(col("vec_id") < 8),
        "vec_id", "embedding", k = 5, m = 8, kSub = 16, iters = 2, dim = 64)
    }),

    // --- the PQ index as a STORED artifact + the bounded-heap serving
    // path (q208's doc contract discharged): the codebook lands in a
    // table, the packed codes (ONE row per vector, m dense byte-codes)
    // land in a BucketedTap, and the query phase reads both back and
    // ranks via MinKPairsAgg — per-query distance tables broadcast into
    // the code scan as lookup maps, the only shuffle is O(queries × k)
    // heap partials. Plan-asserted: no Window anywhere, no exchange of
    // the corpus-sized codes side. Same exact-integer ranks as q208's
    // window form — the oracle is shared verbatim.
    "q212_pq_index" -> contracted(
      Node("Window").absent(
        "ADC serving path must not window-sort the corpus"),
      ExchangeOn("nn_id").absent("packed-codes side must never exchange — " +
        "top-k moves as heap partials")
    ) { (s, dir) =>
      val (bookT, codesT) =
        (Tables.stagedTable(s, "graft_q212_pq_book"),
         Tables.stagedTable(s, "graft_q212_pq_codes"))
      val e = Tables.read(s, dir, "embeddings")
      val (cents, codes) = Similarity.pqBuild(
        e, "vec_id", "embedding", m = 8, kSub = 16, iters = 2, dim = 64)
      val book = Similarity.pqDenseCodebook(cents)
      book.write.mode("overwrite").saveAsTable(bookT)
      graft.sources.BucketedTap(codesT, 8, Seq("nn_id"))
        .write(Similarity.pqPackCodes(codes, book), graft.sources.SinkMode.Replace)
      Similarity.pqAdcTopKPacked(s.table(bookT), s.table(codesT),
        e.filter(col("vec_id") < 8), "vec_id", "embedding",
        k = 5, m = 8, kSub = 16, dim = 64)
    },

    // --- IVFADC (Jégou et al. 2011 §III): the IVF coarse quantizer
    // prunes WHICH vectors are scanned (nprobe/nlist of the corpus), PQ
    // compresses HOW survivors are scored (m byte-codes, ADC lookups) —
    // the composition is THE published serving shape for billion-vector
    // ANN. Both indexes are stored artifacts (IVF centroids + codebook
    // as tiny tables, per-list packed codes in a BucketedTap keyed by
    // cent so the probe join prunes at rest); the query phase
    // broadcasts probes + distance maps and ranks via MinKPairsAgg.
    // The probe ranking windows queries × nlist rows (tiny, by design);
    // the corpus-sized codes side is plan-asserted exchange-free.
    "q213_ivfadc" -> contracted(
      ExchangeOn("cent").absent(
        "probed ADC must never exchange the corpus-sized codes side"),
      ExchangeOn("nn_id").absent(
        "top-k must move as MinKPairsAgg heap partials, not row exchanges")
    ) { (s, dir) =>
      val (centsT, bookT, codesT) = (
        Tables.stagedTable(s, "graft_q213_ivf_cents"),
        Tables.stagedTable(s, "graft_q213_pq_book"),
        Tables.stagedTable(s, "graft_q213_ivf_codes"))
      val e = Tables.read(s, dir, "embeddings")
      val (ivfCents, lists) = Similarity.ivfKMeansBuild(
        e, "vec_id", "embedding", nlist = 16, iters = 2)
      val (pqCents, codes) = Similarity.pqBuild(
        e, "vec_id", "embedding", m = 8, kSub = 16, iters = 2, dim = 64)
      val book = Similarity.pqDenseCodebook(pqCents)
      ivfCents.write.mode("overwrite").saveAsTable(centsT)
      book.write.mode("overwrite").saveAsTable(bookT)
      val ivfCodes = lists.select(col("nn_id"), col("cent"))
        .join(Similarity.pqPackCodes(codes, book), Seq("nn_id"))
      graft.sources.BucketedTap(codesT, 8, Seq("cent"))
        .write(ivfCodes, graft.sources.SinkMode.Replace)
      Similarity.ivfAdcQuery(s.table(centsT), s.table(bookT),
        s.table(codesT), e.filter(col("vec_id") < 8), "vec_id", "embedding",
        k = 5, nprobe = 4, m = 8, kSub = 16, dim = 64)
    },

    // --- TWO-STAGE serving: IVFADC recall (compressed scan, 16
    // candidates/query) + EXACT re-rank of only those survivors against
    // raw vectors — the refinement step that closes PQ's quantization
    // gap in every production ANN stack. The raw-vector leg is plan-
    // asserted exchange-free: the O(queries × R) candidate set
    // broadcasts INTO the vector scan, so at 100 TB stage 2 reads
    // R/|corpus| of the raw bytes instead of re-running brute force.
    "q223_ivfadc_rerank" -> contracted(
      ExchangeOn("cent").absent(
        "probed ADC must never exchange the corpus-sized codes side"),
      ExchangeOn("nn_id").absent(
        "candidates must broadcast into the raw-vector scan and top-k " +
          "move as heap partials — never a corpus-side row exchange")
    ) { (s, dir) =>
      val (centsT, bookT, codesT) = (
        Tables.stagedTable(s, "graft_q223_ivf_cents"),
        Tables.stagedTable(s, "graft_q223_pq_book"),
        Tables.stagedTable(s, "graft_q223_ivf_codes"))
      val e = Tables.read(s, dir, "embeddings")
      val (ivfCents, lists) = Similarity.ivfKMeansBuild(
        e, "vec_id", "embedding", nlist = 16, iters = 2)
      val (pqCents, codes) = Similarity.pqBuild(
        e, "vec_id", "embedding", m = 8, kSub = 16, iters = 2, dim = 64)
      val book = Similarity.pqDenseCodebook(pqCents)
      ivfCents.write.mode("overwrite").saveAsTable(centsT)
      book.write.mode("overwrite").saveAsTable(bookT)
      val ivfCodes = lists.select(col("nn_id"), col("cent"))
        .join(Similarity.pqPackCodes(codes, book), Seq("nn_id"))
      graft.sources.BucketedTap(codesT, 8, Seq("cent"))
        .write(ivfCodes, graft.sources.SinkMode.Replace)
      Similarity.ivfAdcRerankTopK(s.table(centsT), s.table(bookT),
        s.table(codesT), e, e.filter(col("vec_id") < 8), "vec_id",
        "embedding", k = 5, rerankR = 16, nprobe = 4, m = 8, kSub = 16,
        dim = 64)
    },

    // --- SCALAR (int8) quantization top-k: the 4× compression point on
    // the dense-serving spectrum (PQ/ADC is the 32× point) — symmetric
    // code-space distances, so ranks are exact integers both engines
    // replay. Bounds and codes are STORED artifacts (dim-row table +
    // bucketed codes tap — the q212 discipline, not an in-query
    // rebuild); the serving scan is exchange-free with query codes
    // broadcast in and MinKPairsAgg heap partials as the only shuffle.
    "q224_sq8_topk" -> contracted(
      Node("Window").absent("SQ8 serving must not window-sort the corpus"),
      ExchangeOn("nn_id").absent(
        "codes side must never exchange — query codes broadcast in, " +
          "top-k moves as heap partials")
    ) { (s, dir) =>
      val (boundsT, codesT) = (Tables.stagedTable(s, "graft_q224_sq8_bounds"),
        Tables.stagedTable(s, "graft_q224_sq8_codes"))
      val e = Tables.read(s, dir, "embeddings")
      val (bounds, codes) =
        Similarity.sq8Build(e, "vec_id", "embedding", dim = 64)
      bounds.write.mode("overwrite").saveAsTable(boundsT)
      graft.sources.BucketedTap(codesT, 8, Seq("nn_id"))
        .write(codes, graft.sources.SinkMode.Replace)
      Similarity.sq8TopK(s.table(boundsT), s.table(codesT),
        e.filter(col("vec_id") < 8), "vec_id", "embedding", k = 5, dim = 64)
    },

    // --- RESIDUAL-encoded IVFADC (the paper's §III.A formulation,
    // refining q213's raw-vector variant): each vector PQ-encodes its
    // residual from the assigned coarse centroid, so the shared
    // codebook's kSub cells model within-list differences instead of
    // the coarse structure IVF already captured. Residuals subtract
    // ALREADY-quantized micros (exact longs — subtract-then-quantize
    // would re-round), so the whole chain still replays arithmetically
    // in the oracle. Query distance tables go per (query, probed cent)
    // — still tiny, still broadcast; same exchange-free codes scan and
    // O(queries × k) heap shuffle, plan-asserted.
    "q218_ivfadc_residual" -> contracted(
      ExchangeOn("cent").absent(
        "probed residual ADC must never exchange the corpus-sized codes side"),
      ExchangeOn("nn_id").absent(
        "top-k must move as MinKPairsAgg heap partials, not row exchanges")
    ) { (s, dir) =>
      val (centsT, bookT, codesT) = (
        Tables.stagedTable(s, "graft_q218_ivf_cents"),
        Tables.stagedTable(s, "graft_q218_pq_book"),
        Tables.stagedTable(s, "graft_q218_ivf_codes"))
      val e = Tables.read(s, dir, "embeddings")
      val (ivfCents, book, ivfCodes) = Similarity.ivfPqResidualBuild(
        e, "vec_id", "embedding", nlist = 16, ivfIters = 2,
        m = 8, kSub = 16, pqIters = 2, dim = 64)
      ivfCents.write.mode("overwrite").saveAsTable(centsT)
      book.write.mode("overwrite").saveAsTable(bookT)
      graft.sources.BucketedTap(codesT, 8, Seq("cent"))
        .write(ivfCodes, graft.sources.SinkMode.Replace)
      Similarity.ivfPqResidualQuery(s.table(centsT), s.table(bookT),
        s.table(codesT), e.filter(col("vec_id") < 8), "vec_id", "embedding",
        k = 5, nprobe = 4, m = 8, kSub = 16, dim = 64)
    },

    // --- recall@5 audit of BOTH IVFADC encodings vs exact brute force:
    // does residual encoding actually buy recall on THIS corpus? One
    // shared deterministic coarse quantizer, exact integer hit counts,
    // recall in micros — the q189 audit discipline on the
    // compressed-domain paths. An audit job (the brute leg is
    // queries × corpus), run at refresh cadence.
    "q219_adc_recall" -> ((s, dir) => {
      val e = Tables.read(s, dir, "embeddings")
      graft.functions.Similarity.adcRecallAudit(
        e, e.filter(col("vec_id") < 8), "vec_id", "embedding",
        k = 5, nlist = 16, ivfIters = 2, m = 8, kSub = 16, pqIters = 2,
        dim = 64, nprobe = 4)
    }),

    // --- PQ index MAINTENANCE at arrival time (the q133 loop for the
    // compressed-domain index): day-0 trains the codebook and persists
    // it + the packed codes; arrivals ENCODE IN-STREAM against the
    // frozen codebook (pqEncodeWithBook — a stateless per-partition
    // loop over the driver-collected book, no state store, no stream
    // shuffle) and append into the codes tap (SinkMode.Update — the
    // bucketed layout absorbs appends). The result reads THE TAP:
    // day-0 + streamed codes must equal the whole corpus encoded
    // against the day-0 codebook, which the oracle recomputes from
    // scratch — a silently dead append or any encode drift fails the
    // hash. Codes map back to centroid ids through the book so the
    // oracle never sees the dense-index storage detail.
    "q221_stream_pq_encode" -> ((s, dir) => {
      val (bookT, codesT) =
        (Tables.stagedTable(s, "graft_q221_pq_book"),
         Tables.stagedTable(s, "graft_q221_pq_codes"))
      val (in, out, chk) = freshStreamDirs("graft_q221_stream")
      val e = Tables.read(s, dir, "embeddings")
      val day0 = e.filter(col("vec_id") % 10 =!= 7)
      val arrivals = e.filter(col("vec_id") % 10 === 7)
      val (cents, codes) = Similarity.pqBuild(
        day0, "vec_id", "embedding", m = 8, kSub = 16, iters = 2, dim = 64)
      val book = Similarity.pqDenseCodebook(cents)
      book.write.mode("overwrite").saveAsTable(bookT)
      val tap = graft.sources.BucketedTap(codesT, 8, Seq("nn_id"))
      tap.write(Similarity.pqPackCodes(codes, book),
        graft.sources.SinkMode.Replace)
      stageSliced(in, Seq(
        arrivals.filter(col("vec_id") % 30 === 7),
        arrivals.filter(col("vec_id") % 30 === 17),
        arrivals.filter(col("vec_id") % 30 === 27)))
      val stream = graft.streaming.StreamOps.readStream(s, in,
        arrivals.schema, Map("maxFilesPerTrigger" -> "1"))
      val encoded = Similarity.pqEncodeWithBook(stream, s.table(bookT),
        "vec_id", "embedding", m = 8, kSub = 16, dim = 64)
      graft.streaming.StreamOps.runToParquet(encoded, out, chk)
      tap.write(Parquet.read(s, out), graft.sources.SinkMode.Update)
      s.table(codesT)
        .select(col("nn_id"), posexplode(col("codes")).as(Seq("sub", "code_ix")))
        .join(broadcast(s.table(bookT)
          .select(col("sub"), col("code_ix"), col("cent_id").as("code"))),
          Seq("sub", "code_ix"))
        .select(col("nn_id"), col("sub"), col("code"))
    }),

    // --- boundary-splitting packing: q128's bins, with straddling docs
    // exploded into per-bin fragments (what the loader materializes);
    // Σ frag_len per doc ≡ n_tok by construction
    "q185_pack_fragments" -> ((s, dir) => {
      val packed = graft.functions.SequencePack.pack(
        Tables.read(s, dir, "documents")
          .select(col("source"), col("doc_id"),
            TA.tokenCount(col("text")).as("n_tok")),
        "source", "doc_id", "n_tok", budget = 256L, substreams = 4)
      graft.functions.SequencePack.packFragments(packed, "n_tok", 256L)
    }),

    // --- per-label embedding centroids + pairwise affinity (exact
    // integer micros end to end: a float sum over a shuffle is
    // order-dependent; the quantized int sum is not)
    "q174_label_affinity" -> ((s, dir) => {
      val e = Tables.read(s, dir, "embeddings")
      graft.functions.Similarity.centroidAffinity(
        graft.functions.Similarity.groupCentroids(e, "label", "embedding"))
    })
  )

  // shared fixture constants for q161/q162 (Spark construction and the
  // generated oracle both read these — they cannot drift)
  /** q206 planted-contamination fixture: appended to every eval doc and
    * to arrivals with doc_id % 20 == 7 (words outside the synthetic
    * corpus vocabulary, so planted overlap is exactly its own 4-grams). */
  private val DecontamPhrase =
    "held out benchmark answer alpha beta gamma delta"
  /** q278's shared boilerplate block: exactly 8 tokens, so it is block 0
    * (a p block) of every synth page — the corpus-wide duplicate
    * paragraph the ladder's dedup stage provably kills everywhere but
    * its global first occurrence. */
  private val CrawlBoiler = Seq("subscribe", "to", "our", "newsletter",
    "for", "daily", "curated", "updates")

  private val Boiler1 = "follow us on example social for updates today"
  private val Boiler2 = "all rights reserved contact the site administrator"
  private val C4BraceLine = "{ var data = 1; }"
  private val C4LoremLine =
    "lorem ipsum dolor sit amet consectetur adipiscing elit."
  private val C4JsLine =
    "please enable javascript and cookies to continue browsing now."
  private val NavLine = "home products about contact"
  private val LadderBoiler =
    "subscribe to our newsletter for updates today."
  // q170 crafted fixtures — each fires one attribution bit in isolation
  private val AttrTinyDoc = "hi there"
  private val AttrLowQualDoc = "the ab cd ef gh"
  private val AttrRepeatDoc = "the cat and the dog runs the cat and " +
    "the dog jumps the cat and the dog sleeps"

  /** The packed winnow-fingerprint CTE over `documents` rows matching
    * `pred`: exposes (doc_id, pos, h). The exact q179 fold spelling,
    * shared by q179 and q180 so they cannot drift. Both the gram size
    * `n` and window `w` are parameters — the slice bound (i..i+n-1,
    * DuckDB slices are inclusive), the gram count G = len(t)-(n-1)
    * (spelled as the exclusive range end len(t)-(n-2)) and the G >= w
    * row filter are all derived from them, so an oracle reuse at a
    * different n cannot silently disagree with the Scala side. */
  private def winnowFpCte(name: String, pred: String,
                          w: Int = 4, n: Int = 4): String =
    // MATERIALIZED: multi-referenced in the propagation oracles; DuckDB
    // 1.0 inlines CTEs per reference, re-running the fold per mention
    s"""$name AS MATERIALIZED (
       |  SELECT doc_id, CAST(f & 1048575 AS INTEGER) AS pos,
       |    f >> 20 AS h
       |  FROM (
       |    SELECT doc_id, unnest(list_distinct(
       |      list_transform(range(1, len(h) - ${w - 2}), s ->
       |        list_reduce(
       |          list_transform(range(s, s + $w), j -> (h[j] << 20) + j),
       |          (acc, x) -> CASE WHEN (x >> 20) <= (acc >> 20)
       |            THEN x ELSE acc END)))) AS f
       |    FROM (
       |      SELECT doc_id, list_transform(range(1, len(t) - ${n - 2}), i ->
       |        CAST(concat('0x', substr(md5(
       |          array_to_string(t[i:i+${n - 1}], ' ')), 1, 10)) AS BIGINT)) AS h
       |      FROM (SELECT doc_id, string_split(text, ' ') AS t
       |            FROM documents WHERE $pred)
       |      WHERE len(t) - ${n - 1} >= $w)))""".stripMargin

  /** WIDE (60-bit) winnow CTE: per-doc distinct per-window minimum of
    * 15-hex-nibble md5 gram hashes (the q176 spelling). Positions are
    * dropped, so the fold collapses to a plain list_min per window — the
    * value SET needs no rightmost-tie rule (tied positions share the
    * value). Mirrors [[graft.functions.Dedup.winnowWide]] exactly. */
  private def winnowWideCte(name: String, pred: String,
                            w: Int = 4, n: Int = 4): String =
    s"""$name AS MATERIALIZED (
       |  SELECT doc_id, unnest(list_distinct(
       |    list_transform(range(1, len(h) - ${w - 2}), s ->
       |      list_min(h[s:s+${w - 1}])))) AS h
       |  FROM (
       |    SELECT doc_id, list_transform(range(1, len(t) - ${n - 2}), i ->
       |      CAST(concat('0x', substr(md5(
       |        array_to_string(t[i:i+${n - 1}], ' ')), 1, 15)) AS BIGINT)) AS h
       |    FROM (SELECT doc_id, string_split(text, ' ') AS t
       |          FROM documents WHERE $pred)
       |    WHERE len(t) - ${n - 1} >= $w))""".stripMargin

  /** Incremental winnow-family adoption oracle, shared by q187 (batch)
    * and q200 (the same arrivals fingerprinted in-stream) — corpus
    * families from the q186-style unrolled propagation restricted to the
    * corpus split, then a second unrolled propagation over ONLY the
    * subgraph the batch's fingerprints touch, corpus nodes seeded with
    * their family label, batch nodes with their own id. */
  private lazy val winnowIncrementalOracle: String = {
    val rounds = 40      // corpus refresh: ≥ q186's convergence depth
    val iRounds = 40     // incremental subgraph: matches Spark maxIters=40
    def unroll(prefix: String, bands: String,
               nRounds: Int = rounds): String =
      (1 to nRounds).map { i =>
        s"""${prefix}bl$i AS MATERIALIZED (SELECT b.key, min(l.label) AS blabel
           |  FROM $bands b JOIN ${prefix}l${i - 1} l ON b.id = l.id
           |  GROUP BY 1),
           |${prefix}l$i AS MATERIALIZED (SELECT b.id, min(x.blabel) AS label
           |  FROM $bands b JOIN ${prefix}bl$i x ON b.key = x.key
           |  GROUP BY 1)""".stripMargin
      }.mkString(",\n")
    s"""WITH ${winnowFpCte("cfp", "doc_id % 10 <> 7", w = 8)},
       |${winnowFpCte("bfp0", "doc_id % 10 = 7", w = 8)},
       |csh AS MATERIALIZED (SELECT h FROM cfp GROUP BY h
       |        HAVING count(DISTINCT doc_id) >= 2),
       |cbands AS MATERIALIZED (
       |  SELECT DISTINCT cfp.doc_id AS id, CAST(cfp.h AS VARCHAR) AS key
       |  FROM cfp JOIN csh USING (h)),
       |cl0 AS MATERIALIZED (SELECT DISTINCT id, id AS label FROM cbands),
       |${unroll("c", "cbands")},
       |fam AS MATERIALIZED (
       |  SELECT d.doc_id AS id, coalesce(cl$rounds.label, d.doc_id)
       |    AS family_id
       |  FROM documents d LEFT JOIN cl$rounds ON d.doc_id = cl$rounds.id
       |  WHERE d.doc_id % 10 <> 7),
       |bfp AS MATERIALIZED (SELECT DISTINCT doc_id, h FROM bfp0),
       |touched AS MATERIALIZED (SELECT DISTINCT h FROM bfp),
       |cm AS MATERIALIZED (SELECT DISTINCT cfp.doc_id AS corpus_id, cfp.h
       |       FROM cfp JOIN touched USING (h)),
       |ibands AS MATERIALIZED (
       |  SELECT doc_id AS id, CAST(h AS VARCHAR) AS key FROM bfp
       |  UNION
       |  SELECT corpus_id AS id, CAST(h AS VARCHAR) AS key FROM cm
       |  UNION
       |  SELECT f.id, concat('f', CAST(f.family_id AS VARCHAR)) AS key
       |  FROM fam f WHERE f.id IN (SELECT corpus_id FROM cm)),
       |il0 AS MATERIALIZED (
       |  SELECT n.id, coalesce(f.family_id, n.id) AS label
       |  FROM (SELECT DISTINCT id FROM ibands) n
       |  LEFT JOIN fam f ON n.id = f.id),
       |${unroll("i", "ibands", iRounds)}
       |SELECT d.doc_id AS id, coalesce(il$iRounds.label, d.doc_id)
       |  AS family_id
       |FROM documents d LEFT JOIN il$iRounds ON d.doc_id = il$iRounds.id
       |WHERE d.doc_id % 10 = 7""".stripMargin
  }

  /** The adaptive-escalation CTE chain over a prior CTE `v(id, vec)` —
    * shared by q181 (raw corpus) and q202 (distinct vectors after exact
    * collapse). Ends in `rv(id, lvl, kept, dup_of, n_smaller_dups,
    * best_sim)`. Parameters mirror both registrations: base 6, extra 4,
    * 3 rounds, maxBucket 100, threshold 0.95. */
  private lazy val adaptiveDedupCtes: String = {
    val base = 6; val extra = 4; val rounds = 3; val maxB = 100
    val levelCtes = (1 to rounds).map { r =>
      val planes = base + r * extra
      val p = r - 1
      s"""c$p AS (SELECT b, count(*) AS n FROM l$p
         |  WHERE lvl = $p GROUP BY 1),
         |l$r AS (
         |  SELECT l$p.id, l$p.vec,
         |    CASE WHEN l$p.lvl = $p AND c$p.n > $maxB THEN $r
         |         ELSE l$p.lvl END AS lvl,
         |    CASE WHEN l$p.lvl = $p AND c$p.n > $maxB
         |         THEN ${dBucket(s"l$p.vec", planes)}
         |         ELSE l$p.b END AS b
         |  FROM l$p LEFT JOIN c$p
         |    ON l$p.lvl = $p AND l$p.b = c$p.b)""".stripMargin
    }.mkString(",\n")
    s"""l0 AS (SELECT id, vec, 0 AS lvl, ${dBucket("vec", base)} AS b
       |       FROM v),
       |$levelCtes,
       |k AS (
       |  SELECT id, vec, CAST(lvl AS INTEGER) AS lvl,
       |    CAST(lvl AS VARCHAR) || ':' || CAST(b AS VARCHAR) AS key
       |  FROM l$rounds),
       |p AS (
       |  SELECT a.id AS id1, z.id AS id2, ${dCos("a.vec", "z.vec")} AS sim
       |  FROM k a JOIN k z ON a.key = z.key AND a.id < z.id),
       |drops AS (
       |  SELECT id2 AS id, min(id1) AS dup_of,
       |    CAST(count(*) AS BIGINT) AS n_smaller_dups, max(sim) AS best_sim
       |  FROM p WHERE sim >= 0.95 GROUP BY 1),
       |rv AS (
       |  SELECT k.id, k.lvl, d.dup_of IS NULL AS kept, d.dup_of,
       |    coalesce(d.n_smaller_dups, 0) AS n_smaller_dups, d.best_sim
       |  FROM k LEFT JOIN drops d USING (id))""".stripMargin
  }

  /** Winnow-index match oracle, shared by q180 (batch) and q182 (the
    * same arrivals as a stream) — the two paths must flag identically. */
  private lazy val winnowIndexOracle: String =
    s"""WITH ${winnowFpCte("cw", "doc_id % 10 <> 7")},
       |${winnowFpCte("bw", "doc_id % 10 = 7")}
       |SELECT b.doc_id AS id, c.doc_id AS corpus_id,
       |  CAST(count(DISTINCT b.h) AS BIGINT) AS n_shared
       |FROM bw b JOIN cw c ON b.h = c.h
       |GROUP BY 1, 2
       |HAVING count(DISTINCT b.h) >= 2""".stripMargin

  /** DuckDB string literal for a fixture (quotes doubled, embedded
    * newlines spelled `chr(10)` so the literal survives any transport). */
  private def sqlStr(s: String): String =
    "'" + s.replace("'", "''").replace("\n", "' || chr(10) || '") + "'"

  // q171 crafted fixtures — a 23-word clean filler (mean word length
  // ~4.5, 4 stopword hits, all-alpha, no symbols) plus one violation per
  // rule bit, constructed so each fires in ISOLATION at
  // minWords=20/maxWords=1000 (counts verified in GovernanceSpec)
  private val GFiller = "under the green water many people carry small " +
    "boats and bring fresh fruit of every kind to market each morning " +
    "with great care"
  private[queries] val GopherFixtures: Seq[(Long, String)] = Seq(
    9100001L -> GFiller,                                      // rules = 0
    // 15 words < minWords → bit 1 only
    9100002L -> ("under the green water many people carry small boats " +
      "and bring fresh fruit of every"),
    // +16×21-char words pushes mean length to 11.3 chars → bit 2 only
    9100003L -> (GFiller +
      " incomprehensibilities" * 16),
    // 3 '#' in 26 words = 11.5% symbol ratio → bit 4 only
    9100004L -> (GFiller + " # # #"),
    // every line bulleted → bit 8 only
    9100005L -> List.fill(4)("- under the green water many people")
      .mkString("\n"),
    // 2 of 3 lines end with an ellipsis (66% > 30%) → bit 16 only
    9100006L -> ("under the green water many people carry small boats...\n" +
      "bring fresh fruit of every kind to market each morning...\n" +
      "with great care"),
    // +6 numeric tokens: 23/29 = 79.3% alpha words < 80% → bit 32 only
    9100007L -> (GFiller + " 12345" * 6),
    // 20 words, zero EnStop hits → bit 64 only
    9100008L -> ("green water people carry small boats fresh fruit " +
      "every kind market each morning with great care many under " +
      "bring light"))

  /** DuckDB spelling of the C4 keep rule over line variable `l` (shared
    * by q162 and the q168 ladder so the rule set cannot drift). */
  private val C4KeepRule: String =
    """len(list_filter(string_split(l, ' '), w -> len(w) > 0)) >= 5
      |      AND regexp_matches(l, '[.!?"]$')
      |      AND NOT contains(l, '{') AND NOT contains(l, '}')
      |      AND NOT contains(lower(l), 'lorem ipsum')
      |      AND NOT contains(lower(l), 'javascript')""".stripMargin

  /** The paragraph-dedup CTE chain over a source relation `src` (must
    * expose doc_id, text): paras → dup (packed-min keeper) → kept → agg
    * + tot. Shared by q161 and the q168 curation-ladder composition.
    * Callers SELECT from `agg`/`tot` (left join, coalesce for
    * fully-deduped docs). */
  private def paragraphDedupBody(src: String, nibbles: Int = 10): String =
    s"""paras AS (
       |  SELECT doc_id, CAST(pos AS BIGINT) AS ppos, p[pos] AS para
       |  FROM (SELECT doc_id, string_split(text, chr(10)) AS p FROM $src),
       |  LATERAL (SELECT unnest(range(1, len(p) + 1)) AS pos) r),
       |dup AS (
       |  SELECT CAST(concat('0x', substr(md5(para), 1, $nibbles)) AS BIGINT)
       |      AS h,
       |    min(doc_id * 1000000 + ppos) AS keeper
       |  FROM paras GROUP BY 1 HAVING count(*) >= 2),
       |kept AS (
       |  SELECT p.doc_id, p.ppos, p.para FROM paras p
       |  LEFT JOIN dup ON CAST(concat('0x',
       |      substr(md5(p.para), 1, $nibbles)) AS BIGINT) = dup.h
       |  WHERE dup.h IS NULL
       |     OR p.doc_id * 1000000 + p.ppos = dup.keeper),
       |agg AS (
       |  SELECT doc_id,
       |    string_agg(para, chr(10) ORDER BY ppos) AS clean_text,
       |    CAST(count(*) AS BIGINT) AS n_kept
       |  FROM kept GROUP BY doc_id),
       |tot AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_total
       |        FROM paras GROUP BY doc_id)""".stripMargin

  // ---- oracle SQL ---------------------------------------------------------
  /** The Stupid Backoff oracle, shared by q155 (inline counting) and
    * q159 (persisted count table) — the index changes the plan, never
    * the values. */
  private lazy val sbFluencyOracle: String =
    s"""WITH train AS MATERIALIZED (
     |  SELECT string_split(text, ' ') AS t FROM documents
     |  WHERE doc_id % 50 <> 3),
     |score AS MATERIALIZED (
     |  SELECT doc_id, string_split(concat(text, ' qz',
     |    CAST(doc_id % 5 AS VARCHAR)), ' ') AS t
     |  FROM documents WHERE doc_id % 50 = 3),
     |cnt AS MATERIALIZED (
     |  SELECT g, CAST(count(*) AS BIGINT) AS c FROM (
     |    SELECT unnest(t) AS g FROM train
     |    UNION ALL
     |    SELECT array_to_string(t[i:i+1], ' ') AS g FROM train,
     |      LATERAL (SELECT unnest(range(1, len(t))) AS i) x
     |      WHERE len(t) >= 2
     |    UNION ALL
     |    SELECT array_to_string(t[i:i+2], ' ') AS g FROM train,
     |      LATERAL (SELECT unnest(range(1, len(t) - 1)) AS i) y
     |      WHERE len(t) >= 3
     |  ) GROUP BY g),
     |tot AS (SELECT CAST(sum(c) AS DOUBLE) AS n_tokens FROM cnt
     |  WHERE g NOT LIKE '% %'),
     |pos AS MATERIALIZED (
     |  SELECT doc_id, array_to_string(t[i:i+2], ' ') AS tg
     |  FROM score, LATERAL (SELECT unnest(range(1, len(t) - 1)) AS i) z
     |  WHERE len(t) >= 3),
     |d AS (SELECT tg, string_split(tg, ' ') AS p
     |  FROM (SELECT DISTINCT tg FROM pos)),
     |sc AS (
     |  SELECT tg, CAST(floor(1000000.0 * (CASE WHEN ct.c IS NOT NULL
     |      THEN CAST(ct.c AS DOUBLE) / CAST(cb12.c AS DOUBLE)
     |      ELSE 0.4 * (CASE WHEN cb23.c IS NOT NULL
     |        THEN CAST(cb23.c AS DOUBLE) / CAST(cu2.c AS DOUBLE)
     |        ELSE 0.4 * (CAST(coalesce(cu3.c, 0) AS DOUBLE)
     |          / (SELECT n_tokens FROM tot)) END) END)) AS BIGINT) AS s
     |  FROM d
     |  LEFT JOIN cnt ct ON ct.g = d.tg
     |  LEFT JOIN cnt cb12 ON cb12.g = p[1] || ' ' || p[2]
     |  LEFT JOIN cnt cb23 ON cb23.g = p[2] || ' ' || p[3]
     |  LEFT JOIN cnt cu2 ON cu2.g = p[2]
     |  LEFT JOIN cnt cu3 ON cu3.g = p[3]),
     |agg AS (SELECT pos.doc_id, CAST(count(*) AS BIGINT) AS n_tri,
     |    CAST(sum(sc.s) AS BIGINT) AS sb
     |  FROM pos JOIN sc USING (tg) GROUP BY 1)
     |SELECT s.doc_id, CAST(coalesce(a.n_tri, 0) AS BIGINT) AS n_tri,
     |  CAST(coalesce(a.sb, 0) AS BIGINT) AS sb_micros
     |FROM score s LEFT JOIN agg a USING (doc_id)""".stripMargin

  /** DuckDB spelling of the perceptual-image pipeline: same 9×7 pixel
    * synth (the decode stub), same MSB-first doubling fold to the 56-bit
    * dHash (BIGINT bits — an INTEGER fold would overflow at bit 31). */
  private lazy val dhashCtes: String = {
    val MM = graft.functions.Multimodal
    val (w, bits) = (MM.DHashW, MM.DHashBits)
    s"""ipx AS MATERIALIZED (
       |  SELECT doc_id, list_transform(range(0, ${w * MM.DHashH}), i ->
       |    CAST(${dTokHash("t[(i % len(t)) + 1]")} % 256 AS INTEGER)) AS p
       |  FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents)),
       |idh AS MATERIALIZED (
       |  SELECT doc_id, list_reduce(
       |    list_transform(range(${bits - 1}, -1, -1), i ->
       |      CASE WHEN p[(i // ${w - 1}) * $w + (i % ${w - 1}) + 1]
       |             < p[(i // ${w - 1}) * $w + (i % ${w - 1}) + 2]
       |           THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END),
       |    (acc, x) -> acc * 2 + x) AS h
       |  FROM ipx)""".stripMargin
  }

  /** 4-band key rows (band folded into the key) over a relation exposing
    * `h` — the oracle twin of Multimodal.dhashBandRows. */
  private def dhashBandSql(src: String): String = {
    val MM = graft.functions.Multimodal
    (0 until MM.DHashBands).map { b =>
      val div = 1L << (b * MM.DHashBandBits)
      val base = b.toLong << MM.DHashBandBits
      s"SELECT h, $b AS band, CAST($base + (h // $div) % ${1 << MM.DHashBandBits} AS BIGINT) AS key FROM $src"
    }.mkString("\n  UNION ALL ")
  }

  /** DuckDB spelling of the Cavnar–Trenkle profile classifier
    * ([[TA.langIdProfile]]): the reference profiles are the SAME Scala
    * constants spelled as literal rows (one source of truth — the oracle
    * does not re-derive them), the doc profile is the same
    * (count desc, gram asc) rank, the distance the same integer
    * out-of-place sum. Emits a CTE chain ending in `lid(doc_id,
    * lang_pred)`; every CTE is MATERIALIZED (the DuckDB-1.0 inlining
    * trap documented at [[winnowFpCte]]). */
  private lazy val langProfileRows: String =
    TA.LangProfiles.flatMap { case (l, ps) =>
      ps.zipWithIndex.map { case (g, i) =>
        s"('$l', '${g.replace("'", "''")}', ${i + 1})" }
    }.mkString(", ")

  private lazy val langPriorityCase: String =
    "CASE lang " + TA.LangSeeds.map(_._1).zipWithIndex.map {
      case (l, i) => s"WHEN '$l' THEN ${i + 1}" }.mkString(" ") + " ELSE 99 END"

  private def langIdProfileCtes(src: String = "documents",
                                cut: Long = 900000L): String =
    s"""lpf(lang, g, rk) AS MATERIALIZED (VALUES $langProfileRows),
       |lnorm AS MATERIALIZED (
       |  SELECT doc_id, concat(' ',
       |    trim(regexp_replace(lower(text), '[^a-z]+', ' ', 'g')), ' ') AS s
       |  FROM $src),
       |lgrams AS MATERIALIZED (
       |  SELECT doc_id,
       |    unnest(list_transform(range(1, len(s) - 1), i -> s[i:i+2])) AS g
       |  FROM lnorm WHERE len(s) >= 3),
       |lgc AS MATERIALIZED (
       |  SELECT doc_id, g, count(*) AS c FROM lgrams GROUP BY 1, 2),
       |ldp AS MATERIALIZED (
       |  SELECT doc_id, g,
       |    row_number() OVER (PARTITION BY doc_id ORDER BY c DESC, g) AS rk
       |  FROM lgc QUALIFY rk <= ${TA.DocProfileSize}),
       |ldist AS MATERIALIZED (
       |  SELECT ldp.doc_id, langs.lang,
       |    sum(CASE WHEN lpf.rk IS NULL THEN ${TA.LangProfileSize}
       |        ELSE abs(ldp.rk - lpf.rk) END) AS d,
       |    count(*) AS np
       |  FROM ldp
       |  CROSS JOIN (SELECT DISTINCT lang FROM lpf) langs
       |  LEFT JOIN lpf ON lpf.lang = langs.lang AND lpf.g = ldp.g
       |  GROUP BY 1, 2),
       |lpick AS MATERIALIZED (
       |  SELECT doc_id, lang, d, np,
       |    row_number() OVER (PARTITION BY doc_id
       |      ORDER BY d, $langPriorityCase) AS pr,
       |    min(d) OVER (PARTITION BY doc_id) AS best
       |  FROM ldist),
       |lid AS MATERIALIZED (
       |  SELECT dd.doc_id,
       |    CASE WHEN p.doc_id IS NULL
       |           OR p.best * 1000000 > p.np * ${TA.LangProfileSize} * $cut
       |         THEN 'unknown' ELSE p.lang END AS lang_pred
       |  FROM $src dd
       |  LEFT JOIN (SELECT * FROM lpick WHERE pr = 1) p
       |    ON dd.doc_id = p.doc_id)""".stripMargin

  /** DuckDB spelling of TA.langId (shared by q21 and the q90 pipeline). */
  private lazy val dLangCase =
    s"""CASE
       |    WHEN ${dStopHits(TA.EnStop)} > 0 AND ${dStopHits(TA.EnStop)} >= greatest(${dStopHits(TA.DeStop)}, ${dStopHits(TA.FrStop)}, ${dStopHits(TA.EsStop)}) THEN 'en'
       |    WHEN ${dStopHits(TA.DeStop)} > 0 AND ${dStopHits(TA.DeStop)} >= greatest(${dStopHits(TA.FrStop)}, ${dStopHits(TA.EsStop)}) THEN 'de'
       |    WHEN ${dStopHits(TA.FrStop)} > 0 AND ${dStopHits(TA.FrStop)} >= ${dStopHits(TA.EsStop)} THEN 'fr'
       |    WHEN ${dStopHits(TA.EsStop)} > 0 THEN 'es'
       |    ELSE 'unknown' END""".stripMargin

  /** DuckDB spelling of TA.qualityScore (shared by q22 and q90). */
  private lazy val dQualityExpr =
    s"""CAST(greatest(
       |  (CASE WHEN length(text) BETWEEN 100 AND 2000 THEN 40
       |        WHEN length(text) BETWEEN 20 AND 99 THEN 20 ELSE 0 END)
       |  + CAST(least(${dStopHits(TA.EnStop)} * 5, 30) AS INTEGER)
       |  + (CASE WHEN len($dToks) >= 10 THEN 30 WHEN len($dToks) >= 3 THEN 15 ELSE 0 END)
       |  - CAST(least(floor(len(regexp_extract_all(text, '[.,!?;:]')) * 100 / greatest(length(text), 1)), 20) AS INTEGER)
       |, 0) AS INTEGER)""".stripMargin
  private val minhashSigCols: String = (0 until 16).map { i =>
    val a = Dedup.aCoef(i); val b = Dedup.bCoef(i)
    s"list_min(list_transform(tl, t -> (${dTokHash("t")} % ${Dedup.P} * $a + $b) % ${Dedup.P})) AS m$i"
  }.mkString(",\n    ")

  private val bandSelects: String = (0 until 4).map { bnd =>
    val parts = (0 until 4).map(r => s"m${4 * bnd + r}").mkString(", ")
    s"SELECT doc_id, $bnd AS band, concat_ws(',', $parts) AS key FROM sig"
  }.mkString("\n    UNION ALL ")

  /** The minhash band CTE chain over an arbitrary source relation `src`
    * (must expose doc_id, text) — q160 bands an AUGMENTED arrival set. */
  private def minhashBody(src: String) =
    s"""toks AS (SELECT doc_id, list_distinct($dToks) AS tl FROM $src),
       |sig AS (SELECT doc_id,
       |    $minhashSigCols
       |  FROM toks),
       |bands AS (
       |    $bandSelects
       |)""".stripMargin

  private val minhashCte = s"WITH ${minhashBody("documents")}"

  /** WIDE (61-bit) minhash band CTE chain: 60-bit token hashes permuted
    * mod P₆₁ = 2⁶¹−1 in HUGEINT arithmetic (the product is ~2⁹⁶), each
    * component cast back to BIGINT (< 2⁶¹ always fits). Mirrors
    * [[graft.catalyst.MinHashSig61]]; `bandSelects` is shared with the
    * narrow chain (same m0..m15 → 4-band concat keys). MATERIALIZED: the
    * propagation oracles reference `bands` twice per unrolled round. */
  private val minhashSigCols61: String = (0 until 16).map { i =>
    val a = graft.catalyst.MinHashSig61.aCoef(i)
    val b = graft.catalyst.MinHashSig61.bCoef(i)
    s"CAST(list_min(list_transform(tl, t -> (CAST(${dTokHash60("t")} AS HUGEINT) * $a + $b) % ${graft.catalyst.MinHashSig61.P61})) AS BIGINT) AS m$i"
  }.mkString(",\n    ")

  private def minhashBodyWide(src: String) =
    s"""toks AS MATERIALIZED (SELECT doc_id, list_distinct($dToks) AS tl FROM $src),
       |sig AS MATERIALIZED (SELECT doc_id,
       |    $minhashSigCols61
       |  FROM toks),
       |bands AS MATERIALIZED (
       |    $bandSelects
       |)""".stripMargin

  /** q64's unrolled propagation over the WIDE band rows — the q197 gate. */
  private lazy val minhashTransitiveWideOracle: String = {
    val rounds = 8
    val iterCtes = (1 to rounds).map { i =>
      s"""bl$i AS (SELECT b.band, b.key, min(l.label) AS blabel
         |  FROM bands b JOIN l${i - 1} l ON b.doc_id = l.id GROUP BY 1, 2),
         |l$i AS (SELECT b.doc_id AS id, min(x.blabel) AS label
         |  FROM bands b JOIN bl$i x ON b.band = x.band AND b.key = x.key
         |  GROUP BY 1)""".stripMargin
    }.mkString(",\n")
    s"""WITH ${minhashBodyWide("documents")},
       |l0 AS (SELECT DISTINCT doc_id AS id, doc_id AS label FROM bands),
       |$iterCtes
       |SELECT id, label AS cluster_id FROM l$rounds""".stripMargin
  }

  /** q127's batch-vs-index match over the WIDE band rows — the q198 gate. */
  private lazy val incNearDupWideOracle: String =
    s"""WITH ${minhashBodyWide("documents")},
       |cb AS (SELECT doc_id AS corpus_id, band, key FROM bands
       |       WHERE doc_id % 10 <> 7),
       |bb AS (SELECT doc_id, band, key FROM bands WHERE doc_id % 10 = 7)
       |SELECT b.doc_id AS id, min(c.corpus_id) AS nearest_corpus_id,
       |count(DISTINCT c.corpus_id) AS n_corpus_matches
       |FROM bb b JOIN cb c ON b.band = c.band AND b.key = c.key
       |GROUP BY 1""".stripMargin

  // fixed-iteration unrolled min-label propagation; 8 rounds is a safe
  // upper bound for the converged count (Spark side converges in 2-4 on
  // this corpus shape and a fixed point is stable under extra rounds).
  // Spark maxIters MUST equal the unrolled round count (see q64 comment).
  // Shared by q64 (clusters) and q147 (leakage-safe split over clusters).
  private val minhashTransitiveOracle: String = {
    val rounds = 8
    val iterCtes = (1 to rounds).map { i =>
      s"""bl$i AS (SELECT b.band, b.key, min(l.label) AS blabel
         |  FROM bands b JOIN l${i - 1} l ON b.doc_id = l.id GROUP BY 1, 2),
         |l$i AS (SELECT b.doc_id AS id, min(x.blabel) AS label
         |  FROM bands b JOIN bl$i x ON b.band = x.band AND b.key = x.key
         |  GROUP BY 1)""".stripMargin
    }.mkString(",\n")
    s"""$minhashCte,
       |l0 AS (SELECT DISTINCT doc_id AS id, doc_id AS label FROM bands),
       |$iterCtes
       |SELECT id, label AS cluster_id FROM l$rounds""".stripMargin
  }

  // q138's spans → covered positions → per-token anti-join → ordered
  // reassembly (string_agg ORDER BY position); all docs driven from the
  // token-count side so fully-covered docs keep their (empty) row.
  // Shared by q139 (the strip itself), q148 (the curation chain), and
  // q184 (the 60-bit hash form: nibbles = 15).
  private def stripSpansOracleAt(nibbles: Int): String =
    s"""WITH toks AS (
      |  SELECT doc_id, string_split(text, ' ') AS t FROM documents),
      |ngr AS (
      |  SELECT doc_id, CAST(pos AS INTEGER) AS pos,
      |    CAST(concat('0x', substr(md5(
      |      array_to_string(t[pos:pos+7], ' ')), 1, $nibbles)) AS BIGINT) AS h
      |  FROM toks, LATERAL (SELECT unnest(range(1, len(t) - 6)) AS pos) p
      |  WHERE len(t) >= 8),
      |duph AS (SELECT h FROM ngr GROUP BY h
      |         HAVING count(DISTINCT doc_id) >= 2),
      |isl AS (
      |  SELECT g.doc_id, g.pos,
      |    g.pos - CAST(row_number() OVER (PARTITION BY g.doc_id
      |      ORDER BY g.pos) AS INTEGER) AS isle
      |  FROM ngr g JOIN duph USING (h)),
      |sp AS (SELECT doc_id, min(pos) AS a, max(pos) + 7 AS b
      |       FROM isl GROUP BY doc_id, isle),
      |cov AS (SELECT DISTINCT doc_id, CAST(tpos AS INTEGER) AS tpos
      |        FROM sp, LATERAL (SELECT unnest(range(a, b + 1)) AS tpos) r),
      |tk AS (
      |  SELECT doc_id, CAST(pos AS INTEGER) AS tpos, t[pos] AS tok
      |  FROM toks, LATERAL (SELECT unnest(range(1, len(t) + 1)) AS pos) p),
      |kept AS (
      |  SELECT tk.doc_id, tk.tpos, tk.tok FROM tk
      |  LEFT JOIN cov ON tk.doc_id = cov.doc_id AND tk.tpos = cov.tpos
      |  WHERE cov.doc_id IS NULL),
      |ka AS (
      |  SELECT doc_id, string_agg(tok, ' ' ORDER BY tpos) AS clean_text,
      |    CAST(count(*) AS BIGINT) AS n_kept
      |  FROM kept GROUP BY doc_id),
      |nt AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_total
      |       FROM tk GROUP BY doc_id)
      |SELECT nt.doc_id, coalesce(ka.clean_text, '') AS clean_text,
      |  CAST(coalesce(ka.n_kept, 0) AS BIGINT) AS n_kept,
      |  CAST(nt.n_total - coalesce(ka.n_kept, 0) AS BIGINT) AS n_removed
      |FROM nt LEFT JOIN ka USING (doc_id)""".stripMargin

  private lazy val stripSpansOracle: String = stripSpansOracleAt(10)

  /** DuckDB spelling of Similarity.cosine: ordered left-fold dot products. */
  private def dCos(a: String, b: String) =
    s"""round(
       |  list_reduce(list_transform(list_zip($a, $b), s -> CAST(s[1] AS DOUBLE) * CAST(s[2] AS DOUBLE)), (x, y) -> x + y)
       |  / (sqrt(list_reduce(list_transform($a, v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE)), (x, y) -> x + y))
       |   * sqrt(list_reduce(list_transform($b, v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE)), (x, y) -> x + y))), 6)""".stripMargin

  /** DuckDB spelling of Similarity.hyperplaneBucket (i is 1-based in DuckDB
    * index lambdas; planeCoef uses 0-based dim). */
  private def dBucket(v: String, nPlanes: Int): String =
    (0 until nPlanes).map { j =>
      s"""CASE WHEN list_reduce(list_transform($v, (x, i) -> CAST(x AS DOUBLE) * ((($j * 31 + (i - 1) * 17) % 7) - 3)), (a, b) -> a + b) > 0
         | THEN CAST(${1L << j} AS BIGINT) ELSE 0 END""".stripMargin
    }.mkString(" + ")

  private val dShingles =
    s"""list_transform(range(0, greatest(len($dToks) - 3, 0) + 1),
       |  i -> concat_ws(' ', $dToks[i + 1], $dToks[i + 2], $dToks[i + 3]))""".stripMargin

  /** 2-gram variant of dShingles (mirrors `Shingles(tokens, 2)`). */
  private val dShingles2 =
    s"""list_transform(range(0, greatest(len($dToks) - 2, 0) + 1),
       |  i -> concat_ws(' ', $dToks[i + 1], $dToks[i + 2]))""".stripMargin

  /** Shared by q127 (batch daily-ingest shape) and q130 (the same arrival
    * as an actual stream): both must produce the identical per-batch-doc
    * near-dup verdicts, so they gate against the same SQL. */
  private lazy val incNearDupOracle: String =
    s"""$minhashCte,
       |cb AS (SELECT doc_id AS corpus_id, band, key FROM bands
       |       WHERE doc_id % 10 <> 7),
       |bb AS (SELECT doc_id, band, key FROM bands WHERE doc_id % 10 = 7)
       |SELECT b.doc_id AS id, min(c.corpus_id) AS nearest_corpus_id,
       |count(DISTINCT c.corpus_id) AS n_corpus_matches
       |FROM bb b JOIN cb c ON b.band = c.band AND b.key = c.key
       |GROUP BY 1""".stripMargin

  /** Shared by q66 (build-per-query) and q131 (query against the PERSISTED
    * index): the index round-trips through storage bit-identically, so
    * both gate against the same unrolled-Lloyd SQL. */
  /** The k-means corpus-assignment CTE chain (qbase → 2 Lloyd rounds →
    * `lists(nn_id, nn_vec, cent)`), shared by q66/q131 (probed KNN) and
    * q166 (cluster-balanced sampling). */
  private lazy val ivfAssignCtes: String = {
    // 2 unrolled Lloyd rounds, mirroring ivfKnnKMeans exactly: quantized
    // components floor(x*1e6) as BIGINT, assignment by the same rounded
    // ordered-fold cosine, centroid update = element-wise floor(mean)
    def duckAssign(i: Int, cents: String) =
      s"""a$i AS (
         |  SELECT nn_id, q, cent_id FROM (
         |    SELECT b.nn_id, b.q, c.cent_id,
         |    row_number() OVER (PARTITION BY b.nn_id
         |      ORDER BY ${dCos("b.q", "c.cent_q")} DESC, c.cent_id ASC) AS rn
         |    FROM qbase b CROSS JOIN $cents c) WHERE rn = 1)""".stripMargin
    def duckUpdate(i: Int) =
      s"""c$i AS (
         |  SELECT cent_id, list(cv ORDER BY pos) AS cent_q FROM (
         |    SELECT cent_id, pos,
         |    CAST(floor(CAST(sum(v) AS DOUBLE) / count(*)) AS BIGINT) AS cv
         |    FROM (SELECT cent_id, unnest(q) AS v,
         |          unnest(range(1, len(q) + 1)) AS pos FROM a$i)
         |    GROUP BY 1, 2) GROUP BY 1)""".stripMargin
    s"""qbase AS (
       |  SELECT vec_id AS nn_id, embedding,
       |  list_transform(embedding,
       |    x -> CAST(floor(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS q
       |  FROM embeddings),
       |c0 AS (SELECT nn_id AS cent_id, q AS cent_q FROM qbase
       |       ORDER BY nn_id LIMIT 16),
       |${duckAssign(1, "c0")},
       |${duckUpdate(1)},
       |${duckAssign(2, "c1")},
       |${duckUpdate(2)},
       |lists AS (
       |  SELECT b.nn_id, b.embedding AS nn_vec, f.cent_id AS cent
       |  FROM (SELECT nn_id, cent_id FROM (
       |    SELECT b2.nn_id, c.cent_id,
       |    row_number() OVER (PARTITION BY b2.nn_id
       |      ORDER BY ${dCos("b2.q", "c.cent_q")} DESC, c.cent_id ASC) AS rn
       |    FROM qbase b2 CROSS JOIN c2 c) WHERE rn = 1) f
       |  JOIN qbase b USING (nn_id))""".stripMargin
  }

  /** PQ + ADC oracle: the per-subspace Lloyd (2 rounds, m=8 subspaces of
    * 8 dims, kSub=16) unrolled once over (nn_id, sub) subspace rows —
    * the ivfAssignCtes pattern with exact integer squared-L2 instead of
    * cosine, so every distance, code and rank replays arithmetically. */
  /** Exact integer squared-L2 over dsub=8-long subvector lists — the PQ
    * oracle's distance spelling, shared by q208/q212/q213. */
  private def pqDL2(a: String, b: String) =
    s"""list_sum(list_transform(range(1, 9),
       |      i -> ($a[i] - $b[i]) * ($a[i] - $b[i])))""".stripMargin

  /** The PQ build CTE chain (qb/sb subspace rows → 2 per-subspace Lloyd
    * rounds → `codes(nn_id, sub, code)`), Lloyd CTEs prefixed `$cp` so
    * the chain composes with [[ivfAssignCtes]] (whose c0..c2 names it
    * would otherwise collide with) in the q213 IVFADC oracle. q208/q212
    * and q213 all share this builder — the PQ arithmetic cannot drift
    * between the plain and the composed form. */
  /** The per-subspace Lloyd chain (`{cp}c0 → {cp}c2` + `codes`) over ANY
    * (nn_id, sub, sq) subspace-row CTE `src` — shared by the raw-vector
    * chains (src = sb) and the residual chain (src = rsb), so the PQ
    * arithmetic is spelled once. */
  private def pqLloydCtes(cp: String, src: String,
                          codesName: String = "codes"): String = {
    def duckAssign(name: String, cents: String, keep: String) =
      s"""$name AS (
         |  SELECT nn_id, sub, $keep cent_id FROM (
         |    SELECT b.nn_id, b.sub, b.sq, c.cent_id,
         |    row_number() OVER (PARTITION BY b.nn_id, b.sub
         |      ORDER BY ${pqDL2("b.sq", "c.cent_q")} ASC, c.cent_id ASC) AS rn
         |    FROM $src b JOIN $cents c USING (sub)) WHERE rn = 1)""".stripMargin
    def duckUpdate(from: String, name: String) =
      s"""$name AS (
         |  SELECT sub, cent_id, list(cv ORDER BY pos) AS cent_q FROM (
         |    SELECT sub, cent_id, pos,
         |    CAST(floor(CAST(sum(v) AS DOUBLE) / count(*)) AS BIGINT) AS cv
         |    FROM (SELECT sub, cent_id, unnest(sq) AS v,
         |          unnest(range(1, len(sq) + 1)) AS pos FROM $from)
         |    GROUP BY 1, 2, 3) GROUP BY 1, 2)""".stripMargin
    s"""${cp}c0 AS (
       |  SELECT sub, nn_id AS cent_id, sq AS cent_q FROM $src
       |  WHERE nn_id IN (SELECT DISTINCT nn_id FROM $src
       |                  ORDER BY nn_id LIMIT 16)),
       |${duckAssign(s"${cp}a1", s"${cp}c0", "sq,")},
       |${duckUpdate(s"${cp}a1", s"${cp}c1")},
       |${duckAssign(s"${cp}a2", s"${cp}c1", "sq,")},
       |${duckUpdate(s"${cp}a2", s"${cp}c2")},
       |$codesName AS MATERIALIZED (
       |  SELECT nn_id, sub, cent_id AS code FROM (
       |    SELECT b.nn_id, b.sub, c.cent_id,
       |    row_number() OVER (PARTITION BY b.nn_id, b.sub
       |      ORDER BY ${pqDL2("b.sq", "c.cent_q")} ASC, c.cent_id ASC) AS rn
       |    FROM $src b JOIN ${cp}c2 c USING (sub)) WHERE rn = 1)""".stripMargin
  }

  private def pqCodeCtes(cp: String,
                         queryPred: String = "b.nn_id < 8"): String = {
    val dsub = 8
    s"""qb AS MATERIALIZED (
       |  SELECT vec_id AS nn_id,
       |  list_transform(embedding,
       |    x -> CAST(floor(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS q
       |  FROM embeddings),
       |sb AS MATERIALIZED (
       |  SELECT nn_id, sub, q[sub * $dsub + 1 : sub * $dsub + $dsub] AS sq
       |  FROM qb CROSS JOIN (SELECT unnest(range(0, 8)) AS sub)),
       |${pqLloydCtes(cp, "sb")},
       |t AS MATERIALIZED (
       |  SELECT b.nn_id AS query_id, b.sub, c.cent_id,
       |  ${pqDL2("b.sq", "c.cent_q")} AS d
       |  FROM sb b JOIN ${cp}c2 c USING (sub) WHERE $queryPred)""".stripMargin
  }

  private lazy val pqAdcOracle: String =
    s"""WITH ${pqCodeCtes("p")},
       |scored AS (
       |  SELECT t.query_id, codes.nn_id, CAST(sum(t.d) AS BIGINT) AS adc_dist
       |  FROM codes JOIN t ON codes.sub = t.sub AND codes.code = t.cent_id
       |  WHERE codes.nn_id <> t.query_id
       |  GROUP BY 1, 2)
       |SELECT query_id, nn_id, adc_dist, rk FROM (
       |  SELECT query_id, nn_id, adc_dist,
       |  CAST(row_number() OVER (PARTITION BY query_id
       |    ORDER BY adc_dist ASC, nn_id ASC) AS INTEGER) AS rk
       |  FROM scored) WHERE rk <= 5""".stripMargin

  /** Residual IVFADC oracle: the IVF chain supplies assignments AND the
    * residual arithmetic (q − cent_q of the ASSIGNED list, exact longs);
    * the shared Lloyd builder runs over the residual subspace rows; the
    * query distance tables are per (query, probed cent) residuals. */
  /** The residual PQ chain as reusable CTE text: residual subspace rows
    * (corpus AND per-probe query residuals), the r-prefixed Lloyd, and
    * the query distance tables. References qb (quantized corpus rows),
    * qbase/c2/lists (the IVF chain) and `probes` — all must be defined
    * EARLIER in the enclosing WITH. */
  private def residualChainCtes(codesName: String): String = {
    val dsub = 8
    s"""rres AS MATERIALIZED (
       |  SELECT b.nn_id, l.cent,
       |    list_transform(range(1, len(b.q) + 1),
       |      j -> b.q[j] - c.cent_q[j]) AS rq
       |  FROM qb b JOIN lists l ON b.nn_id = l.nn_id
       |  JOIN c2 c ON l.cent = c.cent_id),
       |rsb AS MATERIALIZED (
       |  SELECT nn_id, sub, rq[sub * $dsub + 1 : sub * $dsub + $dsub] AS sq
       |  FROM rres CROSS JOIN (SELECT unnest(range(0, 8)) AS sub)),
       |${pqLloydCtes("r", "rsb", codesName)},
       |qres AS (
       |  SELECT b.nn_id AS query_id, p.cent,
       |    list_transform(range(1, len(b.q) + 1),
       |      j -> b.q[j] - c.cent_q[j]) AS rq
       |  FROM qb b JOIN probes p ON b.nn_id = p.query_id
       |  JOIN c2 c ON p.cent = c.cent_id),
       |qrsb AS (
       |  SELECT query_id, cent, sub,
       |    rq[sub * $dsub + 1 : sub * $dsub + $dsub] AS sq
       |  FROM qres CROSS JOIN (SELECT unnest(range(0, 8)) AS sub)),
       |rt AS MATERIALIZED (
       |  SELECT q.query_id, q.cent, q.sub, c.cent_id,
       |  ${pqDL2("q.sq", "c.cent_q")} AS d
       |  FROM qrsb q JOIN rc2 c USING (sub))""".stripMargin
  }

  /** Shared probe CTE (queries = nn_id < 8, nprobe 4 by quantized
    * cosine against the IVF centroids — the q131 spelling). */
  private lazy val probeCte: String =
    s"""probes AS (
       |  SELECT query_id, cent FROM (
       |    SELECT b.nn_id AS query_id, c.cent_id AS cent,
       |    row_number() OVER (PARTITION BY b.nn_id
       |      ORDER BY ${dCos("b.q", "c.cent_q")} DESC, c.cent_id ASC) AS rn
       |    FROM qbase b CROSS JOIN c2 c WHERE b.nn_id < 8) WHERE rn <= 4)""".stripMargin

  /** Residual IVFADC oracle: the IVF chain supplies assignments AND the
    * residual arithmetic (q - cent_q of the ASSIGNED list, exact longs);
    * the shared Lloyd builder runs over the residual subspace rows; the
    * query distance tables are per (query, probed cent) residuals. */
  private lazy val ivfPqResidualOracle: String =
    s"""WITH $ivfAssignCtes,
       |qb AS MATERIALIZED (SELECT nn_id, q FROM qbase),
       |$probeCte,
       |${residualChainCtes("codes")},
       |scored AS (
       |  SELECT rt.query_id, codes.nn_id, CAST(sum(rt.d) AS BIGINT) AS adc_dist
       |  FROM codes
       |  JOIN lists ON codes.nn_id = lists.nn_id
       |  JOIN rt ON codes.sub = rt.sub AND codes.code = rt.cent_id
       |         AND rt.cent = lists.cent
       |  WHERE codes.nn_id <> rt.query_id
       |  GROUP BY 1, 2)
       |SELECT query_id, nn_id, adc_dist, rk FROM (
       |  SELECT query_id, nn_id, adc_dist,
       |  CAST(row_number() OVER (PARTITION BY query_id
       |    ORDER BY adc_dist ASC, nn_id ASC) AS INTEGER) AS rk
       |  FROM scored) WHERE rk <= 5""".stripMargin

  /** IVFADC oracle: the IVF chain ([[ivfAssignCtes]] — cosine Lloyd,
    * probes, lists) composed with the PQ chain ([[pqCodeCtes]] prefixed
    * `p` — L2 Lloyd, codes, query distance tables); scored pairs are
    * RESTRICTED to each query's probed lists via the lists⋈probes join,
    * exactly the pruning the Spark side's bucketed probe join applies. */
  /** Shared oracle for the compressed-container dHash gates (q217 PNG,
    * q222 GIF): both synthesize the SAME deterministic 18×14 grid from
    * doc text, so one arithmetic replay of decode+resample+dHash+bands
    * covers both codecs without the oracle touching zlib or LZW. */
  private lazy val synthImageDhashOracle: String =
    synthDhashOracleFor("(36 * (i // 9) + 2 * (i % 9))")

  /** The q217/q222 oracle on the JPEG gate's 36×28 BLOCK-CONSTANT grid:
    * the 4-px-step resample always lands inside block
    * (row (i//9)//2, col (i%9)//2) of the 5-wide block grid, so the
    * token index is the block index — the oracle replays the decoded
    * pixels without touching the DCT or the entropy coder, which the
    * Spark side must invert exactly. */
  private lazy val synthJpegDhashOracle: String =
    synthDhashOracleFor("(((i // 9) // 2) * 5 + ((i % 9) // 2))")

  /** The exact-integer EWMA (α = ½) replayed as a list_reduce over the
    * (tus, event_id)-ordered value list — shared by the batch Buffer form
    * (q255) and the cross-batch streaming fold (q256). */
  private lazy val ewmaOracle: String =
    """WITH ev AS MATERIALIZED (
      |  SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS tus, event_id,
      |    CAST(floor(value * 1000000.0) AS BIGINT) AS vm
      |  FROM events),
      |o AS (SELECT user_id, list(vm ORDER BY tus, event_id) AS vs
      |      FROM ev GROUP BY 1)
      |SELECT user_id, CAST(len(vs) AS BIGINT) AS n_events,
      |  CAST(list_reduce(vs, (acc, x) -> (acc + x) // 2) AS BIGINT)
      |    AS ewma_micros
      |FROM o""".stripMargin

  /** Component sizes by recursive-CTE reachability + per-vertex min — a
    * DIFFERENT algorithm from the pointer-jumping propagation, required
    * to land on the same fixed point. Shared verbatim by q251 (batch)
    * and q253 (incremental maintenance must be indistinguishable from
    * rebuild, for ANY edge split). */
  private lazy val componentSizesOracle: String =
    s"""WITH RECURSIVE su AS MATERIALIZED (
       |  SELECT DISTINCT l_orderkey AS k, l_suppkey AS v FROM lineitem),
       |pw AS MATERIALIZED (
       |  SELECT a.v AS src, b.v AS dst, CAST(count(*) AS BIGINT) AS w
       |  FROM su a JOIN su b ON a.k = b.k AND a.v <> b.v
       |  GROUP BY 1, 2),
       |e AS MATERIALIZED (
       |  SELECT src, dst, w FROM (
       |    SELECT src, dst, w, row_number() OVER (
       |      PARTITION BY src ORDER BY w DESC, dst) AS rn FROM pw)
       |  WHERE rn <= 64),
       |und AS MATERIALIZED (
       |  SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
       |  FROM e),
       |bi AS MATERIALIZED (
       |  SELECT a AS v, b AS u FROM und UNION ALL SELECT b, a FROM und),
       |reach(v, u) AS (
       |  SELECT DISTINCT v, v AS u FROM bi
       |  UNION
       |  SELECT r.v, bi.u FROM reach r JOIN bi ON bi.v = r.u)
       |SELECT component, CAST(count(*) AS BIGINT) AS size
       |FROM (SELECT v, min(u) AS component FROM reach GROUP BY v)
       |GROUP BY 1""".stripMargin

  /** Shared CTE prefix for the graph gates (q249/q250): the co-order
    * supplier projection with the 64-neighbor degree cap — row_number
    * over (w desc, dst asc) selects the same SET as the Spark side's
    * TopKAgg membership filter because (w, dst) is unique per src. */
  private val coOccurEdgeCtes: String =
    """WITH su AS MATERIALIZED (
      |  SELECT DISTINCT l_orderkey AS k, l_suppkey AS v FROM lineitem),
      |pw AS MATERIALIZED (
      |  SELECT a.v AS src, b.v AS dst, CAST(count(*) AS BIGINT) AS w
      |  FROM su a JOIN su b ON a.k = b.k AND a.v <> b.v
      |  GROUP BY 1, 2),
      |e AS MATERIALIZED (
      |  SELECT src, dst, w FROM (
      |    SELECT src, dst, w, row_number() OVER (
      |      PARTITION BY src ORDER BY w DESC, dst) AS rn FROM pw)
      |  WHERE rn <= 64)""".stripMargin

  /** Shared CTE prefix for the video gates (q247/q248): per-(doc, frame)
    * dHash over the salted block grid — the q240 block-index formula with
    * the frame's scene salt — plus the consecutive-frame boundary table;
    * `withKeyframeCtes` appends keyframe selection + band rows for the
    * dedup form. */
  /** The q268/q272 corpus link-graph oracle (direct extraction and the
    * persisted-index maintenance loop must agree): the synth link
    * structure replayed arithmetically, never parsed. */
  private val linkGraphOracle: String =
    """WITH t AS (
      |  SELECT doc_id, list_filter(string_split(text, ' '), w -> w <> '') AS t
      |  FROM documents),
      |b AS (
      |  SELECT doc_id, t, unnest(range(0, (len(t) + 7) // 8)) AS b FROM t),
      |l AS (
      |  SELECT doc_id, '/w/' || t[8 * b + j + 1] AS href
      |  FROM b, LATERAL (SELECT unnest(range(0,
      |    least(8, len(t) - 8 * b))) AS j) jj
      |  WHERE CAST(b % 3 AS INTEGER) = 1 AND j % 2 = 1
      |  UNION ALL
      |  SELECT doc_id, '/nav/' || t[8 * b + j + 1] AS href
      |  FROM b, LATERAL (SELECT unnest(range(0,
      |    least(8, len(t) - 8 * b))) AS j) jj
      |  WHERE CAST(b % 3 AS INTEGER) = 2)
      |SELECT href, CAST(count(*) AS BIGINT) AS n_refs,
      |  CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
      |FROM l GROUP BY 1""".stripMargin

  /** The q267/q270 per-document extraction oracle (batch and stream must
    * agree): the synth block structure replayed arithmetically — see the
    * q266 oracle comment. */
  private val htmlExtractOracle: String =
    """WITH t AS (
      |  SELECT doc_id, list_filter(string_split(text, ' '), w -> w <> '') AS t
      |  FROM documents),
      |b AS (
      |  SELECT doc_id, t, unnest(range(0, (len(t) + 7) // 8)) AS b FROM t),
      |blk AS (
      |  SELECT doc_id, b,
      |    CASE CAST(b % 3 AS INTEGER) WHEN 0 THEN 'p' WHEN 1 THEN 'div'
      |         ELSE 'nav' END AS tag,
      |    least(8, len(t) - 8 * b) AS nt,
      |    CASE CAST(b % 3 AS INTEGER) WHEN 0 THEN 0
      |         WHEN 1 THEN least(8, len(t) - 8 * b) // 2
      |         ELSE least(8, len(t) - 8 * b) END AS nl,
      |    array_to_string(
      |      list_slice(t, 8 * b + 1, 8 * b + least(8, len(t) - 8 * b)),
      |      ' ') AS txt
      |  FROM b),
      |k AS (
      |  SELECT doc_id, b, txt FROM blk
      |  WHERE tag NOT IN ('nav', 'footer', 'aside')
      |    AND nl * 1000000 // nt < 500000),
      |agg AS (
      |  SELECT doc_id, count(*) AS n_kept,
      |    string_agg(txt, chr(10) ORDER BY b) AS ct
      |  FROM k GROUP BY 1),
      |tot AS (SELECT doc_id, count(*) AS n_blocks FROM blk GROUP BY 1)
      |SELECT tot.doc_id, CAST(tot.n_blocks AS BIGINT) AS n_blocks,
      |  CAST(coalesce(agg.n_kept, 0) AS BIGINT) AS n_kept,
      |  md5(coalesce(agg.ct, '')) AS clean_md5
      |FROM tot LEFT JOIN agg USING (doc_id)""".stripMargin

  private def videoSceneOracle(finalSelect: String,
                               withKeyframeCtes: Boolean = false): String = {
    val MM = graft.functions.Multimodal
    val (w, bits) = (MM.DHashW, MM.DHashBits)
    val saltIdx = "(((((i // 9) // 2) * 5 + ((i % 9) // 2)) + " +
      "((f // (CASE WHEN doc_id % 2 = 0 THEN 2 ELSE 3 END)) * 7)) % len(t)) + 1"
    val kfCtes = if (!withKeyframeCtes) "" else
      s""",
         |kf AS MATERIALIZED (
         |  SELECT doc_id, f, h FROM fh WHERE f = 0
         |  UNION ALL
         |  SELECT b.doc_id, b.f, fh.h
         |  FROM bd b JOIN fh ON fh.doc_id = b.doc_id AND fh.f = b.f
         |  WHERE b.bdy = 1),
         |icnt AS MATERIALIZED (
         |  SELECT h, CAST(count(*) AS BIGINT) AS n FROM kf GROUP BY 1),
         |ib AS MATERIALIZED (
         |  ${dhashBandSql("(SELECT h FROM icnt)")})""".stripMargin
    s"""WITH fr AS MATERIALIZED (
       |  SELECT doc_id, f, list_transform(range(0, ${w * MM.DHashH}), i ->
       |    CAST(${dTokHash(s"t[$saltIdx]")} % 256 AS INTEGER)) AS p
       |  FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
       |       (SELECT unnest(range(0, 6)) AS f)),
       |fh AS MATERIALIZED (
       |  SELECT doc_id, f, list_reduce(
       |    list_transform(range(${bits - 1}, -1, -1), i ->
       |      CASE WHEN p[(i // ${w - 1}) * $w + (i % ${w - 1}) + 1]
       |             < p[(i // ${w - 1}) * $w + (i % ${w - 1}) + 2]
       |           THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END),
       |    (acc, x) -> acc * 2 + x) AS h
       |  FROM fr),
       |bd AS MATERIALIZED (
       |  SELECT a.doc_id, a.f,
       |    CASE WHEN bit_count(xor(a.h, b.h)) > 3 THEN 1 ELSE 0 END AS bdy
       |  FROM fh a JOIN fh b ON a.doc_id = b.doc_id AND b.f = a.f - 1)$kfCtes
       |$finalSelect""".stripMargin
  }

  /** Shared skeleton: dHash + banding + near-dup pairs over a synth
    * grid whose RESAMPLED pixel i hashes token[idxExpr mod n]. */
  private def synthDhashOracleFor(idxExpr: String): String = {
    val MM = graft.functions.Multimodal
    val (w, bits) = (MM.DHashW, MM.DHashBits)
    s"""WITH rp AS MATERIALIZED (
       |  SELECT doc_id, list_transform(range(0, ${w * MM.DHashH}), i ->
       |    CAST(${dTokHash(
            s"t[($idxExpr % len(t)) + 1]")} % 256 AS INTEGER)) AS p
       |  FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents)),
       |rdh AS MATERIALIZED (
       |  SELECT doc_id, list_reduce(
       |    list_transform(range(${bits - 1}, -1, -1), i ->
       |      CASE WHEN p[(i // ${w - 1}) * $w + (i % ${w - 1}) + 1]
       |             < p[(i // ${w - 1}) * $w + (i % ${w - 1}) + 2]
       |           THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END),
       |    (acc, x) -> acc * 2 + x) AS h
       |  FROM rp),
       |icnt AS MATERIALIZED (
       |  SELECT h, CAST(count(*) AS BIGINT) AS n FROM rdh GROUP BY 1),
       |ib AS MATERIALIZED (
       |  ${dhashBandSql("(SELECT h FROM icnt)")}),
       |ipr AS MATERIALIZED (
       |  SELECT DISTINCT a.h AS h1, b.h AS h2
       |  FROM ib a JOIN ib b ON a.key = b.key AND a.h < b.h),
       |isel AS (
       |  SELECT h1, h2, CAST(bit_count(xor(h1, h2)) AS INTEGER) AS hamming
       |  FROM ipr WHERE bit_count(xor(h1, h2)) <= 3)
       |SELECT h1, h2, hamming, c1.n AS n1, c2.n AS n2
       |FROM isel
       |JOIN icnt c1 ON isel.h1 = c1.h
       |JOIN icnt c2 ON isel.h2 = c2.h""".stripMargin
  }

  private lazy val ivfAdcOracle: String =
    s"""WITH $ivfAssignCtes,
       |${pqCodeCtes("p")},
       |probes AS (
       |  SELECT query_id, cent FROM (
       |    SELECT b.nn_id AS query_id, c.cent_id AS cent,
       |    row_number() OVER (PARTITION BY b.nn_id
       |      ORDER BY ${dCos("b.q", "c.cent_q")} DESC, c.cent_id ASC) AS rn
       |    FROM qbase b CROSS JOIN c2 c WHERE b.nn_id < 8) WHERE rn <= 4),
       |scored AS (
       |  SELECT t.query_id, codes.nn_id, CAST(sum(t.d) AS BIGINT) AS adc_dist
       |  FROM codes
       |  JOIN lists ON codes.nn_id = lists.nn_id
       |  JOIN probes ON lists.cent = probes.cent
       |  JOIN t ON codes.sub = t.sub AND codes.code = t.cent_id
       |        AND t.query_id = probes.query_id
       |  WHERE codes.nn_id <> t.query_id
       |  GROUP BY 1, 2)
       |SELECT query_id, nn_id, adc_dist, rk FROM (
       |  SELECT query_id, nn_id, adc_dist,
       |  CAST(row_number() OVER (PARTITION BY query_id
       |    ORDER BY adc_dist ASC, nn_id ASC) AS INTEGER) AS rk
       |  FROM scored) WHERE rk <= 5""".stripMargin

  /** Two-stage oracle: the q213 ADC chain widened to 16 candidates,
    * then the exact integer full-vector squared-L2 re-rank over ONLY
    * those (query, candidate) pairs — qbase carries the micro-quantized
    * vectors both legs share. */
  /** The IVFADC+rerank chain as reusable CTE text ending in `adc_topk`
    * (query_id, nn_id, exact_dist, rk) — parameterized by the query
    * predicate so q223 (vec_id < 8) and the composed index-served
    * fusion q313 (vec_id = 0) share ONE spelling. */
  private def ivfAdcRerankChainCtes(queryPred: String): String =
    s"""$ivfAssignCtes,
       |${pqCodeCtes("p", queryPred)},
       |probes AS (
       |  SELECT query_id, cent FROM (
       |    SELECT b.nn_id AS query_id, c.cent_id AS cent,
       |    row_number() OVER (PARTITION BY b.nn_id
       |      ORDER BY ${dCos("b.q", "c.cent_q")} DESC, c.cent_id ASC) AS rn
       |    FROM qbase b CROSS JOIN c2 c WHERE $queryPred) WHERE rn <= 4),
       |scored AS (
       |  SELECT t.query_id, codes.nn_id, CAST(sum(t.d) AS BIGINT) AS adc_dist
       |  FROM codes
       |  JOIN lists ON codes.nn_id = lists.nn_id
       |  JOIN probes ON lists.cent = probes.cent
       |  JOIN t ON codes.sub = t.sub AND codes.code = t.cent_id
       |        AND t.query_id = probes.query_id
       |  WHERE codes.nn_id <> t.query_id
       |  GROUP BY 1, 2),
       |cand AS (
       |  SELECT query_id, nn_id FROM (
       |    SELECT query_id, nn_id,
       |    row_number() OVER (PARTITION BY query_id
       |      ORDER BY adc_dist ASC, nn_id ASC) AS rk
       |    FROM scored) WHERE rk <= 16),
       |ex AS (
       |  SELECT c.query_id, c.nn_id,
       |  CAST(list_sum(list_transform(range(1, 65),
       |    i -> (qq.q[i] - nq.q[i]) * (qq.q[i] - nq.q[i]))) AS BIGINT)
       |    AS exact_dist
       |  FROM cand c
       |  JOIN qbase qq ON qq.nn_id = c.query_id
       |  JOIN qbase nq ON nq.nn_id = c.nn_id),
       |adc_topk AS (
       |  SELECT query_id, nn_id, exact_dist, rk FROM (
       |    SELECT query_id, nn_id, exact_dist,
       |    CAST(row_number() OVER (PARTITION BY query_id
       |      ORDER BY exact_dist ASC, nn_id ASC) AS INTEGER) AS rk
       |    FROM ex) WHERE rk <= 5)""".stripMargin

  private lazy val ivfAdcRerankOracle: String =
    s"""WITH ${ivfAdcRerankChainCtes("b.nn_id < 8")}
       |SELECT query_id, nn_id, exact_dist, rk FROM adc_topk""".stripMargin

  /** The q330/q331 list-grid oracle: [[graft.functions.Html.listGridOracleCte]]
    * projected to the walker's item schema; `decorated` adds q331's
    * class-2 entity dirt on every PLAIN-text item — lists 1 and 2
    * entirely, plus list 0's 'foot' (item 2); 'nav links' carries
    * inline markup and 'main data' wraps the inner list, so neither
    * matched the decoration regex. */
  private def listGridOracle(decorated: Boolean): String = {
    val nb = graft.functions.Html.entityText("nbsp")
    val md = graft.functions.Html.entityText("mdash")
    val txt =
      if (decorated)
        s"CASE WHEN doc_id % 3 = 2 AND (li >= 1 OR ii = 2) " +
          s"THEN '$nb' || w || '$md' ELSE w END"
      else "w"
    s"""WITH ${graft.functions.Html.listGridOracleCte}
       |SELECT doc_id,
       |  CAST(li AS INTEGER) AS list_idx,
       |  ord AS ordered,
       |  CAST(ii AS INTEGER) AS item_idx,
       |  $txt AS text
       |FROM pos""".stripMargin
  }

  /** The q326/q327 multi-query fusion oracle: q313's spelling per
    * query — one shared ADC+rerank chain over ALL probe ids, one
    * bm25OracleSql lexical leg per query with its own term set, RRF
    * fused and top-20'd per query, unioned with the query_id tag. */
  private lazy val indexedRrfBatchOracle: String = {
    val preds = MultiQueryTerms.map(_._1).mkString(", ")
    val legs = MultiQueryTerms.map { case (qid, terms) =>
      val lexSql = graft.functions.Relevance.bm25OracleSql(
        "documents", "doc_id", "text", terms, topK = 100)
      s"""lex$qid AS ($lexSql),
         |lexr$qid AS (
         |  SELECT doc_id, CAST(row_number() OVER (
         |    ORDER BY score_micros DESC, doc_id) AS INTEGER) AS lr
         |  FROM lex$qid),
         |dnr$qid AS (
         |  SELECT nn_id AS doc_id, rk AS dr FROM adc_topk
         |  WHERE query_id = $qid),
         |fused$qid AS (
         |  SELECT doc_id,
         |    coalesce(lr, 0) AS lex_rank, coalesce(dr, 0) AS dense_rank
         |  FROM lexr$qid FULL JOIN dnr$qid USING (doc_id)),
         |top$qid AS (
         |  SELECT CAST($qid AS BIGINT) AS query_id, doc_id, lex_rank,
         |    dense_rank,
         |    CAST(floor(1000000.0 * (
         |      CASE WHEN lex_rank > 0
         |        THEN CAST(1 AS DOUBLE) / (60.0 + lex_rank) ELSE 0 END +
         |      CASE WHEN dense_rank > 0
         |        THEN CAST(1 AS DOUBLE) / (60.0 + dense_rank) ELSE 0 END))
         |      AS BIGINT) AS rrf_micros
         |  FROM fused$qid
         |  ORDER BY rrf_micros DESC, doc_id LIMIT 20)""".stripMargin
    }.mkString(",\n")
    s"""WITH ${ivfAdcRerankChainCtes(s"b.nn_id IN ($preds)")},
       |$legs
       |${MultiQueryTerms.map(q => s"SELECT * FROM top${q._1}")
          .mkString("\nUNION ALL ")}""".stripMargin
  }

  private lazy val ivfKMeansOracle: String = {
    s"""WITH $ivfAssignCtes,
       |probes AS (
       |  SELECT query_id, q_vec, cent FROM (
       |    SELECT b.nn_id AS query_id, b.embedding AS q_vec,
       |    c.cent_id AS cent,
       |    row_number() OVER (PARTITION BY b.nn_id
       |      ORDER BY ${dCos("b.q", "c.cent_q")} DESC, c.cent_id ASC) AS rn
       |    FROM qbase b CROSS JOIN c2 c WHERE b.nn_id < 10) WHERE rn <= 4),
       |scored AS (
       |  SELECT DISTINCT query_id, nn_id, ${dCos("q_vec", "nn_vec")} AS sim
       |  FROM lists JOIN probes USING (cent)
       |  WHERE query_id <> nn_id)
       |SELECT query_id, nn_id, sim, rk FROM (
       |  SELECT query_id, nn_id, sim,
       |  CAST(row_number() OVER (PARTITION BY query_id
       |    ORDER BY sim DESC, nn_id ASC) AS INTEGER) AS rk
       |  FROM scored) WHERE rk <= 3""".stripMargin
  }

  /** The q298/q314 tolerance-gated PageRank oracle: 12 unrolled
    * exact-integer rounds over the capped part graph, per-round
    * max |dr|, the first round at tolerance selected by the SAME
    * stopping rule (rounds is a gated column). q314 (the rank-
    * ARTIFACT cadence) shares it VERBATIM: the persisted-rank warm
    * loop must be indistinguishable from the from-scratch cold
    * refresh (the q253/q292 twin discipline). */
  private lazy val pageRankWarmOracle: String = {
      val eps = 500000L
      val rmax = 12
      val rounds = (1 to rmax).map { n =>
        s"""r$n AS MATERIALIZED (
           |  SELECT v.v, CAST(150000000 + coalesce(s.s, 0) AS BIGINT) AS r
           |  FROM vx v LEFT JOIN (
           |    SELECT e.dst AS v,
           |      sum((r.r * 85) // (100 * od.outdeg)) AS s
           |    FROM e JOIN r${n - 1} r ON e.src = r.v
           |    JOIN od ON e.src = od.src
           |    GROUP BY 1) s USING (v)),
           |d$n AS (
           |  SELECT max(abs(a.r - b.r)) AS d
           |  FROM r$n a JOIN r${n - 1} b USING (v))""".stripMargin
      }.mkString(",\n")
      val ds = (1 to rmax)
        .map(n => s"SELECT $n AS t, (SELECT d FROM d$n) AS d")
        .mkString(" UNION ALL ")
      val allr = (1 to rmax)
        .map(n => s"SELECT $n AS t, v, r FROM r$n")
        .mkString(" UNION ALL ")
      s"""WITH su AS MATERIALIZED (
         |  SELECT DISTINCT l_orderkey AS k, l_partkey AS v FROM lineitem),
         |pw AS MATERIALIZED (
         |  SELECT a.v AS src, b.v AS dst, CAST(count(*) AS BIGINT) AS w
         |  FROM su a JOIN su b ON a.k = b.k AND a.v <> b.v
         |  GROUP BY 1, 2),
         |e AS MATERIALIZED (
         |  SELECT src, dst FROM (
         |    SELECT src, dst, row_number() OVER (
         |      PARTITION BY src ORDER BY w DESC, dst) AS rn FROM pw)
         |  WHERE rn <= 64),
         |od AS MATERIALIZED (
         |  SELECT src, CAST(count(*) AS BIGINT) AS outdeg FROM e GROUP BY 1),
         |vx AS MATERIALIZED (SELECT DISTINCT src AS v FROM e),
         |r0 AS MATERIALIZED (
         |  SELECT v, CAST(1000000000 AS BIGINT) AS r FROM vx),
         |$rounds,
         |ds AS ($ds),
         |stop AS (SELECT min(t) AS t FROM ds WHERE d <= $eps),
         |allr AS ($allr)
         |SELECT v AS vertex, r AS rank_scaled,
         |  CAST((SELECT t FROM stop) AS BIGINT) AS rounds
         |FROM allr WHERE t = (SELECT t FROM stop)""".stripMargin
  }

  /** The q302/q307 table-grid oracle: the synth grid recomputed
    * arithmetically — token i → table i%2, row (i div 2) div 3,
    * col (i div 2) % 3, row 0 is the header. */
  private lazy val tableGridOracle: String =
    s"""WITH t AS (
       |  SELECT doc_id, list_filter(string_split(text, ' '), w -> w <> '')
       |    AS t
       |  FROM documents),
       |c AS (
       |  SELECT doc_id, i - 1 AS i0, t[i] AS w
       |  FROM t, LATERAL (SELECT unnest(range(1, len(t) + 1)) AS i) ii)
       |SELECT doc_id,
       |  CAST(i0 % 2 AS INTEGER) AS table_idx,
       |  CAST((i0 // 2) // 3 AS INTEGER) AS row_idx,
       |  CAST((i0 // 2) % 3 AS INTEGER) AS col_idx,
       |  ((i0 // 2) // 3 = 0) AS is_header,
       |  w AS text
       |FROM c""".stripMargin

  /** The q310/q311 span-grid oracle: the expanded-coverage CTE from
    * Html.spanGridOracleCte projected to the walker's cell schema;
    * `decorated` adds q311's class-2 entity dirt on header + caption
    * cells (NamedEntities-interpolated, glued — the q303 spelling). */
  private def spanGridOracle(decorated: Boolean): String = {
    val nb = graft.functions.Html.entityText("nbsp")
    val md = graft.functions.Html.entityText("mdash")
    val txt =
      if (decorated)
        s"CASE WHEN doc_id % 3 = 2 AND (hdr OR r = -1) " +
          s"THEN '$nb' || w || '$md' ELSE w END"
      else "w"
    s"""WITH ${graft.functions.Html.spanGridOracleCte}
       |SELECT doc_id,
       |  CAST(0 AS INTEGER) AS table_idx,
       |  CAST(r AS INTEGER) AS row_idx,
       |  CAST(cx AS INTEGER) AS col_idx,
       |  hdr AS is_header,
       |  $txt AS text
       |FROM pos""".stripMargin
  }

  /** The q324/q325 nested-grid oracle: the SAME shared expanded-grid
    * CTE keyed to the INNER table's ordinal (table_idx 1) plus the
    * outer layout table's two constant cells — ('nav menu', at col 0)
    * and the wrapping cell whose text is 'main data' (suspend/resume
    * with zero inner-text leak); q325's truncation class clips it to
    * 'main' and decorates the inner header + caption cells with the
    * q311 entity dirt. */
  private def nestedGridOracle(decorated: Boolean): String = {
    val nb = graft.functions.Html.entityText("nbsp")
    val md = graft.functions.Html.entityText("mdash")
    val txt =
      if (decorated)
        s"CASE WHEN doc_id % 3 = 2 AND (hdr OR r = -1) " +
          s"THEN '$nb' || w || '$md' ELSE w END"
      else "w"
    val mainTxt =
      if (decorated) "CASE WHEN doc_id % 3 = 2 THEN 'main' " +
        "ELSE 'main data' END"
      else "'main data'"
    s"""WITH ${graft.functions.Html.spanGridOracleCte}
       |SELECT doc_id,
       |  CAST(0 AS INTEGER) AS table_idx,
       |  CAST(0 AS INTEGER) AS row_idx,
       |  CAST(0 AS INTEGER) AS col_idx,
       |  FALSE AS is_header,
       |  'nav menu' AS text
       |FROM t
       |UNION ALL
       |SELECT doc_id, CAST(0 AS INTEGER), CAST(0 AS INTEGER),
       |  CAST(1 AS INTEGER), FALSE, $mainTxt
       |FROM t
       |UNION ALL
       |SELECT doc_id, CAST(1 AS INTEGER), CAST(r AS INTEGER),
       |  CAST(cx AS INTEGER), hdr, $txt
       |FROM pos""".stripMargin
  }

  /** The q304/q306 distillation oracle: gopher labels (the shared
    * gopherRulesSqlExpr) chained into the NB oracle, agreement joined
    * back. */
  private lazy val qualityDistillOracle: String = {
    val lab = s"SELECT doc_id, CASE WHEN ${gopherRulesSqlExpr(60, 1000)}" +
      " = 0 THEN 'keep' ELSE 'drop' END AS c, text FROM documents"
    val nb = graft.functions.Classify.nbOracleSql(
      "SELECT c, text FROM lab", "SELECT doc_id, text FROM lab")
    val composed = s"WITH lab AS MATERIALIZED ($lab),\n" +
      nb.stripPrefix("WITH ")
    s"""SELECT n.doc_id, l.c AS label, n.pred, l.c = n.pred AS agree,
       |  n.best_bits, n.margin
       |FROM ($composed) n JOIN ($lab) l USING (doc_id)""".stripMargin
  }

  /** The q278 crawl-to-clean oracle — see the registration comment. The
    * entity dirt appears POST-DECODE + POST-NORMALIZE: the NBSP class
    * vanishes (ReSpace + collapse), the mdash/bare-amp classes keep
    * their decoded characters — both interpolated from
    * Html.NamedEntities via entityText (shared-constant discipline). */
  private lazy val crawlToCleanOracle: String = {
    val bo = CrawlBoiler.map(w => s"'$w'").mkString(", ")
    val mdash = graft.functions.Html.entityText("mdash")
    val amp = graft.functions.Html.entityText("amp")
    s"""WITH raw AS (
       |  SELECT doc_id, list_filter(string_split(text, ' '), w -> w <> '')
       |    AS t0
       |  FROM documents),
       |dpos AS MATERIALIZED (
       |  SELECT doc_id, i,
       |    (CASE WHEN i <= 8 THEN [$bo][i] ELSE t0[i - 8] END)
       |    || (CASE WHEN (i - 1) % 48 = 25 THEN '{' ELSE '' END)
       |    || (CASE WHEN (i - 1) % 48 = 29 THEN '$mdash' ELSE '' END)
       |    || (CASE WHEN (i - 1) % 48 = 3 THEN '$amp' ELSE '' END)
       |    || (CASE WHEN (i - 1) % 8 = 7 OR i = len(t0) + 8 THEN '.'
       |        ELSE '' END) AS w
       |  FROM raw, LATERAL (SELECT unnest(range(1, len(t0) + 9)) AS i) ii),
       |t AS MATERIALIZED (
       |  SELECT doc_id, list(w ORDER BY i) AS t FROM dpos GROUP BY 1),
       |b AS (
       |  SELECT doc_id, t, unnest(range(0, (len(t) + 7) // 8)) AS b FROM t),
       |blk AS (
       |  SELECT doc_id, b,
       |    CASE CAST(b % 3 AS INTEGER) WHEN 0 THEN 'p' WHEN 1 THEN 'div'
       |         ELSE 'nav' END AS tag,
       |    least(8, len(t) - 8 * b) AS nt,
       |    CASE CAST(b % 3 AS INTEGER) WHEN 0 THEN 0
       |         WHEN 1 THEN least(8, len(t) - 8 * b) // 2
       |         ELSE least(8, len(t) - 8 * b) END AS nl,
       |    array_to_string(
       |      list_slice(t, 8 * b + 1, 8 * b + least(8, len(t) - 8 * b)),
       |      ' ') AS txt
       |  FROM b),
       |k AS (
       |  SELECT doc_id, b, txt FROM blk
       |  WHERE tag NOT IN ('nav', 'footer', 'aside')
       |    AND nl * 1000000 // nt < 500000),
       |ext AS (
       |  SELECT doc_id, count(*) AS n_kept,
       |    string_agg(txt, chr(10) ORDER BY b) AS ct
       |  FROM k GROUP BY 1),
       |tot0 AS (SELECT doc_id, count(*) AS n_blocks FROM blk GROUP BY 1),
       |lraw AS (SELECT doc_id, string_split(ct, chr(10)) AS ls FROM ext),
       |lc AS (SELECT doc_id,
       |    list_filter(ls, l ->
       |      $C4KeepRule) AS kl,
       |    len(ls) AS nlines
       |  FROM lraw),
       |aug AS (SELECT doc_id, array_to_string(kl, chr(10)) AS text,
       |    CAST(nlines - len(kl) AS BIGINT) AS lines_dropped FROM lc),
       |${paragraphDedupBody("aug", nibbles = 15)}
       |SELECT tot.doc_id,
       |  CAST(tot0.n_blocks AS BIGINT) AS n_blocks,
       |  CAST(ext.n_kept AS BIGINT) AS n_kept_blocks,
       |  aug.lines_dropped,
       |  CAST(tot.n_total - coalesce(a.n_kept, 0) AS BIGINT)
       |    AS paras_dropped,
       |  md5(coalesce(a.clean_text, '')) AS final_md5
       |FROM tot LEFT JOIN agg a USING (doc_id)
       |JOIN tot0 USING (doc_id) JOIN ext USING (doc_id)
       |JOIN aug USING (doc_id)""".stripMargin
  }

  /** The q271 link-graph edge extraction + `iters` UNROLLED rounds of
    * the exact-integer HITS map (q277): each round is the a-step then
    * the h-step (the h-step omitted on the final round — the
    * authorities are the result). All-rows output, no top-k. */
  private def hitsFixedPointOracle(iters: Int): String = {
    val rounds = (1 to iters).map { k =>
      val a =
        s"""a${k}r AS MATERIALIZED (
           |  SELECT dst, sum(h) AS ar FROM e JOIN h${k - 1} USING (src)
           |  GROUP BY 1),
           |a$k AS MATERIALIZED (
           |  SELECT dst, CAST((ar * 1000000000) //
           |    (SELECT max(ar) FROM a${k}r) AS BIGINT) AS a FROM a${k}r)"""
          .stripMargin
      val h =
        s""",h${k}r AS MATERIALIZED (
           |  SELECT src, sum(a) AS hr FROM e JOIN a$k USING (dst)
           |  GROUP BY 1),
           |h$k AS MATERIALIZED (
           |  SELECT src, CAST((hr * 1000000000) //
           |    (SELECT max(hr) FROM h${k}r) AS BIGINT) AS h FROM h${k}r)"""
          .stripMargin
      if (k < iters) a + h else a
    }.mkString(",\n")
    s"""WITH t AS (
       |  SELECT doc_id, list_filter(string_split(text, ' '), w -> w <> '') AS t
       |  FROM documents),
       |b AS (
       |  SELECT doc_id, t, unnest(range(0, (len(t) + 7) // 8)) AS b FROM t),
       |l AS (
       |  SELECT doc_id, '/w/' || t[8 * b + j + 1] AS href
       |  FROM b, LATERAL (SELECT unnest(range(0,
       |    least(8, len(t) - 8 * b))) AS j) jj
       |  WHERE CAST(b % 3 AS INTEGER) = 1 AND j % 2 = 1
       |  UNION ALL
       |  SELECT doc_id, '/nav/' || t[8 * b + j + 1] AS href
       |  FROM b, LATERAL (SELECT unnest(range(0,
       |    least(8, len(t) - 8 * b))) AS j) jj
       |  WHERE CAST(b % 3 AS INTEGER) = 2),
       |e AS MATERIALIZED (SELECT DISTINCT doc_id AS src, href AS dst FROM l),
       |h0 AS (SELECT DISTINCT src, CAST(1000000000 AS BIGINT) AS h FROM e),
       |$rounds
       |SELECT dst AS target, a AS authority_scaled FROM a$iters""".stripMargin
  }

  /** The q279/q280 train/batch split + TRAIN-side count CTEs, shared so
    * the two arrival oracles cannot drift: counts freeze on the %50≠3
    * corpus; the %50==3 batch carries " qz<k> qw<k>" novel-token tails
    * (seen-context/unseen-continuation AND unseen-context positions both
    * provably occur). */
  private val lmArrivalCtes: String =
    """train AS MATERIALIZED (
      |  SELECT text FROM documents WHERE doc_id % 50 <> 3),
      |batch AS MATERIALIZED (
      |  SELECT doc_id, text || ' qz' || CAST(doc_id % 5 AS VARCHAR) || ' qw' || CAST(doc_id % 5 AS VARCHAR) AS text
      |  FROM documents WHERE doc_id % 50 = 3),
      |tt AS (SELECT string_split(text, ' ') AS t FROM train),
      |tpos AS MATERIALIZED (
      |  SELECT t[i] AS prev, t[i] || ' ' || t[i + 1] AS bg
      |  FROM tt, LATERAL (SELECT unnest(range(1, len(t))) AS i) ii
      |  WHERE len(t) >= 2),
      |ctx AS MATERIALIZED (SELECT prev, count(*) AS c1 FROM tpos GROUP BY 1),
      |bic AS MATERIALIZED (SELECT bg, count(*) AS c2 FROM tpos GROUP BY 1),
      |bt AS (SELECT doc_id, string_split(text, ' ') AS t FROM batch),
      |bpos AS MATERIALIZED (
      |  SELECT doc_id, t[i] AS prev, t[i + 1] AS w,
      |    t[i] || ' ' || t[i + 1] AS bg
      |  FROM bt, LATERAL (SELECT unnest(range(1, len(t))) AS i) ii
      |  WHERE len(t) >= 2)""".stripMargin

  /** q285/q286 shared Spark side: plant the dirt, redact, count,
    * extract, hash — all per-row Column kernels (works unchanged over a
    * batch scan and a stream). */
  /** The q285/q286/q315 planted-PII text — ONE Column spelling for the
    * scrub gates and the dataset card's hit-rate column (the shared-
    * fragment discipline: the card cannot drift from the scrub gate). */
  private def piiPlantedText: org.apache.spark.sql.Column = {
    def plant(m: Int, dirt: String) =
      when(col("doc_id") % m === 0, lit(dirt)).otherwise(lit(""))
    concat(col("text"),
      plant(7, " contact j.doe+spam@mail-example.org today"),
      plant(11, " call 555-867-5309 now"),
      plant(13, " from 192.168.001.042 logged"),
      plant(49, " cc e2@a.bc also"))
  }

  private def piiScrubProjection(
      docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val aug = docs.select(col("doc_id"), piiPlantedText.as("text"))
    val C = graft.functions.Curation
    aug.select(col("doc_id"),
      C.piiCount(col("text"), "email").as("n_email"),
      C.piiCount(col("text"), "phone").as("n_phone"),
      C.piiCount(col("text"), "ip").as("n_ip"),
      C.piiMatches(col("text"), "email").as("emails_found"),
      md5(C.piiScrub(col("text"))).as("clean_md5"))
  }

  /** q285/q286 shared oracle: the PII redaction pass over the planted
    * corpus — every spelling generated from Curation.PiiRules (the
    * shared-constant discipline). */
  /** The q82/q315 decontamination CTEs — eval split (doc_id % 50 = 0)
    * gram set + per-training-doc distinct grams, ONE spelling for the
    * standalone gate and the dataset card's contamination column. */
  private lazy val decontamCtes: String = {
    val ng = graft.functions.Contamination.oracleNgrams("text", DecontamN)
    s"""ev AS (
       |  SELECT DISTINCT unnest($ng) AS gram
       |  FROM documents WHERE doc_id % 50 = 0),
       |cg AS (
       |  SELECT doc_id, unnest(list_distinct($ng)) AS gram
       |  FROM documents WHERE doc_id % 50 <> 0)""".stripMargin
  }

  /** The planted-PII text in SQL — the oracle twin of [[piiPlantedText]]
    * (kept single-line: the nested-stripMargin `||` trap). */
  private lazy val piiAugSqlExpr: String =
    "text" +
      " || CASE WHEN doc_id % 7 = 0 THEN ' contact j.doe+spam@mail-example.org today' ELSE '' END" +
      " || CASE WHEN doc_id % 11 = 0 THEN ' call 555-867-5309 now' ELSE '' END" +
      " || CASE WHEN doc_id % 13 = 0 THEN ' from 192.168.001.042 logged' ELSE '' END" +
      " || CASE WHEN doc_id % 49 = 0 THEN ' cc e2@a.bc also' ELSE '' END"

  private lazy val piiScrubOracle: String = {
    val C = graft.functions.Curation
    s"""WITH aug AS (
       |  SELECT doc_id, $piiAugSqlExpr AS text
       |  FROM documents)
       |SELECT doc_id,
       |  ${C.piiCountOracleExpr("text", "email")} AS n_email,
       |  ${C.piiCountOracleExpr("text", "phone")} AS n_phone,
       |  ${C.piiCountOracleExpr("text", "ip")} AS n_ip,
       |  ${C.piiMatchesOracleExpr("text", "email")} AS emails_found,
       |  md5(${C.piiScrubOracleExpr("text")}) AS clean_md5
       |FROM aug""".stripMargin
  }

  /** q279: the documented frozen-table bits rules in SQL — NULL bits for
    * an unseen context (counted as n_oov), ⌊log2 c1⌋+1 for a seen
    * context with an unseen continuation, the q264 arithmetic otherwise. */
  private lazy val bigramBitsArrivalOracle: String =
    s"""WITH $lmArrivalCtes,
       |sc AS (
       |  SELECT p.doc_id,
       |    CASE WHEN c.c1 IS NULL THEN NULL
       |         WHEN b.c2 IS NULL THEN length(bin(c.c1))
       |         ELSE (length(bin(c.c1)) - 1) - (length(bin(b.c2)) - 1)
       |    END AS bits
       |  FROM bpos p LEFT JOIN ctx c USING (prev) LEFT JOIN bic b USING (bg)),
       |agg AS (
       |  SELECT doc_id, count(bits) AS n_bi, sum(bits) AS bb,
       |    count(*) - count(bits) AS oov
       |  FROM sc GROUP BY 1)
       |SELECT d.doc_id, CAST(coalesce(a.n_bi, 0) AS BIGINT) AS n_bi,
       |  CAST(coalesce(a.bb, 0) AS BIGINT) AS bigram_bits,
       |  CAST(coalesce(a.oov, 0) AS BIGINT) AS n_oov
       |FROM batch d LEFT JOIN agg a USING (doc_id)""".stripMargin

  /** q280: interpolated KN against the frozen table — unseen
    * continuations smooth natively (c2 = 0 pure continuation mass, the
    * greatest(x, 0) arm; an unseen w has n1b = 0 → 0), unseen context is
    * the only n_oov. Expression tree mirrors the Spark side paren-for-
    * paren (the q269 discipline). */
  private lazy val knArrivalOracle: String =
    s"""WITH $lmArrivalCtes,
       |typ AS MATERIALIZED (SELECT DISTINCT prev, bg FROM tpos),
       |n1f AS MATERIALIZED (SELECT prev, count(*) AS n1f FROM typ GROUP BY 1),
       |n1b AS MATERIALIZED (
       |  SELECT string_split(bg, ' ')[2] AS w, count(*) AS n1b
       |  FROM typ GROUP BY 1),
       |nt AS (SELECT count(*) AS nt FROM typ),
       |sc AS (
       |  SELECT p.doc_id,
       |    CASE WHEN c.c1 IS NULL THEN NULL
       |    ELSE CAST(floor(1000000.0 * (
       |      greatest(CAST(coalesce(b.c2, 0) AS DOUBLE) - 0.75,
       |               CAST(0.0 AS DOUBLE)) / CAST(c.c1 AS DOUBLE)
       |      + ((0.75 * CAST(f.n1f AS DOUBLE)) / CAST(c.c1 AS DOUBLE))
       |        * (CAST(coalesce(nb.n1b, 0) AS DOUBLE)
       |           / CAST(nt.nt AS DOUBLE)))) AS BIGINT)
       |    END AS s
       |  FROM bpos p
       |  LEFT JOIN ctx c USING (prev) LEFT JOIN bic b USING (bg)
       |  LEFT JOIN n1f f USING (prev) LEFT JOIN n1b nb ON nb.w = p.w
       |  CROSS JOIN nt),
       |agg AS (
       |  SELECT doc_id, count(s) AS n_bi, sum(s) AS km,
       |    count(*) - count(s) AS oov
       |  FROM sc GROUP BY 1)
       |SELECT d.doc_id, CAST(coalesce(a.n_bi, 0) AS BIGINT) AS n_bi,
       |  CAST(coalesce(a.km, 0) AS BIGINT) AS kn_micros,
       |  CAST(coalesce(a.oov, 0) AS BIGINT) AS n_oov
       |FROM batch d LEFT JOIN agg a USING (doc_id)""".stripMargin

  /** q264's oracle — shared verbatim with q273 (the persisted
    * count-table form): the index changes the plan, never the
    * numbers. */
  private lazy val bigramSurprisalOracle: String =
      """WITH t AS (
        |  SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |pos AS MATERIALIZED (
        |  SELECT doc_id, t[i] AS prev, t[i] || ' ' || t[i + 1] AS bg
        |  FROM t, LATERAL (SELECT unnest(range(1, len(t))) AS i) ii
        |  WHERE len(t) >= 2),
        |ctx AS MATERIALIZED (SELECT prev, count(*) AS c1 FROM pos GROUP BY 1),
        |bic AS MATERIALIZED (SELECT bg, count(*) AS c2 FROM pos GROUP BY 1),
        |sc AS (
        |  SELECT p.doc_id,
        |    (length(bin(c.c1)) - 1) - (length(bin(b.c2)) - 1) AS bits
        |  FROM pos p JOIN ctx c USING (prev) JOIN bic b USING (bg)),
        |agg AS (
        |  SELECT doc_id, count(*) AS n_bi, sum(bits) AS bb
        |  FROM sc GROUP BY 1)
        |SELECT d.doc_id, CAST(coalesce(a.n_bi, 0) AS BIGINT) AS n_bi,
        |  CAST(coalesce(a.bb, 0) AS BIGINT) AS bigram_bits
        |FROM documents d LEFT JOIN agg a USING (doc_id)""".stripMargin

  /** The interpolated-KN bigram chain's CTE body, through the per-doc
    * `agg(doc_id, n_bi, km)` — ONE spelling shared by q269/q274 (the
    * standalone LM gates), q328 (the KN-perplexity mixture, r15
    * verdict #4) and q332 (the CCNet pipeline, over its CLEANED
    * corpus): formula drift fails every consumer's hash. `corpus`
    * must expose (doc_id, text). */
  private def knBigramCtes(corpus: String = "documents"): String =
      s"""t AS (
        |  SELECT doc_id, string_split(text, ' ') AS t FROM $corpus),
        |pos AS MATERIALIZED (
        |  SELECT doc_id, t[i] AS prev, t[i] || ' ' || t[i + 1] AS bg
        |  FROM t, LATERAL (SELECT unnest(range(1, len(t))) AS i) ii
        |  WHERE len(t) >= 2),
        |ctx AS MATERIALIZED (SELECT prev, count(*) AS c1 FROM pos GROUP BY 1),
        |bic AS MATERIALIZED (SELECT bg, count(*) AS c2 FROM pos GROUP BY 1),
        |typ AS MATERIALIZED (SELECT DISTINCT prev, bg FROM pos),
        |n1f AS MATERIALIZED (SELECT prev, count(*) AS n1f FROM typ GROUP BY 1),
        |n1b AS MATERIALIZED (
        |  SELECT string_split(bg, ' ')[2] AS w, count(*) AS n1b
        |  FROM typ GROUP BY 1),
        |nt AS (SELECT count(*) AS nt FROM typ),
        |sc AS (
        |  SELECT typ.bg,
        |    CAST(floor(1000000.0 * (
        |      (CAST(c2 AS DOUBLE) - 0.75) / CAST(c1 AS DOUBLE)
        |      + ((0.75 * CAST(n1f.n1f AS DOUBLE)) / CAST(c1 AS DOUBLE))
        |        * (CAST(n1b.n1b AS DOUBLE) / CAST(nt.nt AS DOUBLE))))
        |      AS BIGINT) AS s
        |  FROM typ
        |  JOIN bic USING (bg) JOIN ctx USING (prev) JOIN n1f USING (prev)
        |  JOIN n1b ON n1b.w = string_split(typ.bg, ' ')[2]
        |  CROSS JOIN nt),
        |agg AS (
        |  SELECT doc_id, count(*) AS n_bi, sum(s) AS km
        |  FROM pos JOIN sc USING (bg) GROUP BY 1)""".stripMargin

  /** q269's oracle — shared verbatim with q274; built from
    * [[knBigramCtes]] (the q328 shared fragment). */
  private lazy val knBigramOracle: String =
    s"""WITH ${knBigramCtes()}
       |SELECT d.doc_id, CAST(coalesce(a.n_bi, 0) AS BIGINT) AS n_bi,
       |  CAST(coalesce(a.km, 0) AS BIGINT) AS kn_micros
       |FROM documents d LEFT JOIN agg a USING (doc_id)""".stripMargin

  val oracle: Map[String, String] = Map(
    "q20_token_stats" ->
      s"""SELECT doc_id,
         |CAST(len($dToks) AS INTEGER) AS n_tokens,
         |CAST(len(list_distinct($dToks)) AS INTEGER) AS n_distinct,
         |CAST(floor(CAST(list_sum(list_transform($dToks, t -> length(t))) AS BIGINT) * 1000000 / len($dToks)) AS BIGINT) AS mean_tok_len_micros,
         |CAST(len(regexp_extract_all(text, '${TA.PreTokenRegex}')) AS INTEGER) AS n_pretokens
         |FROM documents""".stripMargin,

    "q21_langid" ->
      s"""SELECT lang, pred_lang, count(*) AS n FROM (
         |  SELECT lang, $dLangCase AS pred_lang
         |  FROM documents
         |) GROUP BY 1, 2""".stripMargin,

    "q22_quality" ->
      s"""SELECT doc_id, $dQualityExpr AS quality
         |FROM documents""".stripMargin,

    "q23_fingerprint" ->
      s"""SELECT doc_id,
         |CAST(CAST(list_sum(list_transform($dToks,
         |  (t, i) -> ${dTokHash("t")} * (((i - 1) % 8) + 1))) AS BIGINT) % 1000000007 AS BIGINT) AS fp
         |FROM documents""".stripMargin,

    "q75_ngram_topk" ->
      s"""WITH g AS (SELECT unnest($dShingles2) AS bigram FROM documents),
         |c AS (SELECT bigram, count(*) AS n FROM g GROUP BY 1)
         |SELECT bigram, n FROM c ORDER BY n DESC, bigram ASC LIMIT 20""".stripMargin,

    // dup-bigram fraction from list ops; top-token mass via unnest+group
    // (different algorithm than the Spark sorted-run fold, same value)
    "q76_repetition" ->
      s"""WITH rep AS (
         |  SELECT doc_id,
         |  CAST(floor((len($dShingles2) - len(list_distinct($dShingles2))) * 1000000
         |    / greatest(len($dShingles2), 1)) AS BIGINT) AS dup_bigram_micros
         |  FROM documents),
         |t AS (SELECT doc_id, unnest($dToks) AS tok FROM documents),
         |c AS (SELECT doc_id, tok, count(*) AS n FROM t GROUP BY 1, 2),
         |m AS (SELECT doc_id, max(n) AS maxn, CAST(sum(n) AS BIGINT) AS tot FROM c GROUP BY 1)
         |SELECT rep.doc_id, dup_bigram_micros,
         |CAST(floor(maxn * 1000000 / greatest(tot, 1)) AS BIGINT) AS top_tok_micros
         |FROM rep LEFT JOIN m ON rep.doc_id = m.doc_id""".stripMargin,

    "q24_dedup_exact" ->
      """SELECT md5(lower(regexp_replace(trim(text), '\s+', ' ', 'g'))) AS content_hash,
        |min(doc_id) AS keep_id, count(*) AS n_dups
        |FROM documents GROUP BY 1""".stripMargin,

    "q25_minhash_lsh" ->
      s"""$minhashCte,
         |bucket_min AS (
         |  SELECT band, key, min(doc_id) AS bmin FROM bands GROUP BY 1, 2)
         |SELECT b.doc_id AS id, min(m.bmin) AS canonical_id
         |FROM bands b JOIN bucket_min m ON b.band = m.band AND b.key = m.key
         |GROUP BY 1""".stripMargin,

    "q64_minhash_transitive" -> minhashTransitiveOracle,

    // dedup-and-reweight: the q64 transitive clusters grouped — label IS
    // the member min id under min-propagation, so it is the rep id
    "q169_dedup_reweight" ->
      s"""SELECT cluster_id AS doc_id, CAST(count(*) AS BIGINT) AS weight
         |FROM ($minhashTransitiveOracle) GROUP BY 1""".stripMargin,

    // filter attribution: each rule's oracle fragment is the SAME shared
    // string its standalone gate uses (dQualityExpr = q22, dLangCase =
    // q21, the dup-bigram spelling = q76, dToks = q20)
    "q170_filter_attribution" ->
      s"""WITH aug AS MATERIALIZED (
         |  SELECT doc_id, text FROM documents
         |  UNION ALL SELECT 9000001, '$AttrTinyDoc'
         |  UNION ALL SELECT 9000002, '$AttrLowQualDoc'
         |  UNION ALL SELECT 9000003, '$AttrRepeatDoc'),
         |${langIdProfileCtes(src = "aug")},
         |r AS (
         |  SELECT doc_id,
         |    CAST((CASE WHEN $dQualityExpr < 40 THEN 1 ELSE 0 END)
         |      + (CASE WHEN (SELECT lang_pred FROM lid
         |                    WHERE lid.doc_id = aug.doc_id) = 'unknown'
         |         THEN 2 ELSE 0 END)
         |      + (CASE WHEN CAST(floor((len($dShingles2)
         |            - len(list_distinct($dShingles2))) * 1000000
         |            / greatest(len($dShingles2), 1)) AS BIGINT) > 200000
         |         THEN 4 ELSE 0 END)
         |      + (CASE WHEN len($dToks) < 5 THEN 8 ELSE 0 END)
         |      AS INTEGER) AS reasons
         |  FROM aug)
         |SELECT doc_id, reasons, reasons = 0 AS kept FROM r""".stripMargin,

    // Gopher rule battery: same fixtures, same rule constants, every
    // ratio the same floor(n·1e6/den) integer form
    "q171_gopher_rules" -> {
      val fixtureRows = GopherFixtures.map { case (id, t) =>
        s"UNION ALL SELECT $id, ${sqlStr(t)}"
      }.mkString("\n  ")
      s"""WITH aug AS (
         |  SELECT doc_id, text FROM documents
         |  $fixtureRows),
         |r AS (
         |  SELECT doc_id, ${gopherRulesSqlExpr(20, 1000)} AS rules
         |  FROM aug)
         |SELECT doc_id, rules, rules = 0 AS kept FROM r""".stripMargin
    },

    // q304: the gopher labels (shared gopherRulesSqlExpr) chained into
    // the NB oracle (q283's spelling), agreement joined back; q306
    // (the streaming router) shares it VERBATIM — the stream changes
    // the delivery, never the numbers
    "q304_quality_distill" -> qualityDistillOracle,
    "q306_stream_quality_router" -> qualityDistillOracle,

    // q309: the per-source card — volume + dedup ratio + quality
    // profile, every signal in its standalone gate's spelling
    "q309_dataset_card" ->
      s"""SELECT source,
         |  CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(len(list_filter($dToks, w -> w <> ''))) AS BIGINT)
         |    AS n_tokens,
         |  CAST(count(DISTINCT text) AS BIGINT) AS n_distinct_texts,
         |  CAST(floor(count(DISTINCT text) * 1000000 / count(*)) AS BIGINT)
         |    AS distinct_ratio_micros,
         |  CAST(floor(sum($dQualityExpr) * 1000000 / count(*)) AS BIGINT)
         |    AS mean_quality_micros,
         |  min($dQualityExpr) AS min_quality,
         |  max($dQualityExpr) AS max_quality
         |FROM documents GROUP BY 1""".stripMargin,

    // q315: the FULL card — q309's rollup columns + modal language
    // (q188's lid chain), PII hit rate (the q285 planted corpus via the
    // shared piiAugSqlExpr + PiiRules count spellings), contamination
    // rate (the q82 decontamCtes verbatim) — every signal in its
    // standalone gate's spelling
    "q315_dataset_card_full" -> {
      val C = graft.functions.Curation
      val piiHitSum = s"${C.piiCountOracleExpr("text", "email")} + " +
        s"${C.piiCountOracleExpr("text", "phone")} + " +
        s"${C.piiCountOracleExpr("text", "ip")}"
      s"""WITH ${langIdProfileCtes()},
         |$decontamCtes,
         |paug AS (
         |  SELECT doc_id, source, $piiAugSqlExpr AS text FROM documents),
         |base AS (
         |  SELECT source,
         |    CAST(count(*) AS BIGINT) AS n_docs,
         |    CAST(sum(len(list_filter($dToks, w -> w <> ''))) AS BIGINT)
         |      AS n_tokens,
         |    CAST(floor(count(DISTINCT text) * 1000000 / count(*))
         |      AS BIGINT) AS distinct_ratio_micros,
         |    CAST(floor(sum($dQualityExpr) * 1000000 / count(*)) AS BIGINT)
         |      AS mean_quality_micros
         |  FROM documents GROUP BY 1),
         |lmix AS (
         |  SELECT d.source, l.lang_pred, count(*) AS n
         |  FROM lid l JOIN documents d USING (doc_id) GROUP BY 1, 2),
         |ltop AS (
         |  SELECT source, lang_pred AS top_lang,
         |    CAST(n AS BIGINT) AS top_lang_docs
         |  FROM (SELECT source, lang_pred, n,
         |    row_number() OVER (PARTITION BY source
         |      ORDER BY n DESC, lang_pred) AS rk FROM lmix)
         |  WHERE rk = 1),
         |pii AS (
         |  SELECT source,
         |    CAST(sum(CASE WHEN $piiHitSum > 0 THEN 1 ELSE 0 END)
         |      AS BIGINT) AS pii_docs,
         |    count(*) AS n
         |  FROM paug GROUP BY 1),
         |piir AS (
         |  SELECT source, pii_docs,
         |    CAST(floor(pii_docs * 1000000 / n) AS BIGINT)
         |      AS pii_rate_micros
         |  FROM pii),
         |contamd AS (SELECT DISTINCT doc_id FROM cg JOIN ev USING (gram)),
         |train AS (
         |  SELECT doc_id, source FROM documents WHERE doc_id % 50 <> 0),
         |ctr AS (
         |  SELECT t.source, CAST(count(*) AS BIGINT) AS n_train_docs,
         |    CAST(count(c.doc_id) AS BIGINT) AS contam_docs
         |  FROM train t LEFT JOIN contamd c USING (doc_id) GROUP BY 1),
         |ctrr AS (
         |  SELECT source, n_train_docs, contam_docs,
         |    CAST(floor(contam_docs * 1000000 / n_train_docs) AS BIGINT)
         |      AS contam_rate_micros
         |  FROM ctr)
         |SELECT b.source, b.n_docs, b.n_tokens, b.distinct_ratio_micros,
         |  b.mean_quality_micros, lt.top_lang, lt.top_lang_docs,
         |  p.pii_docs, p.pii_rate_micros,
         |  c.n_train_docs, c.contam_docs, c.contam_rate_micros
         |FROM base b JOIN ltop lt USING (source) JOIN piir p USING (source)
         |JOIN ctrr c USING (source)""".stripMargin
    },

    // per-source CDF of the quality score — dQualityExpr is the SAME
    // shared string q22/q90/q170 use
    "q172_quantile_normalize" ->
      s"""WITH s AS (
         |  SELECT doc_id, source, $dQualityExpr AS quality FROM documents),
         |c AS (SELECT source, quality, count(*) AS n FROM s GROUP BY 1, 2),
         |cc AS (SELECT source, quality,
         |    sum(n) OVER (PARTITION BY source ORDER BY quality) AS cum,
         |    sum(n) OVER (PARTITION BY source) AS tot
         |  FROM c)
         |SELECT s.doc_id, s.source, s.quality,
         |  CAST(floor(cum * 1000000 / tot) AS BIGINT) AS pct_micros
         |FROM s JOIN cc USING (source, quality)""".stripMargin,

    // MinHash estimator vs exact token-set Jaccard on the band-bucket
    // candidate pairs (minhashBody = the q25/q27 shared CTE chain; its
    // toks CTE is already the distinct token set)
    "q173_minhash_accuracy" -> {
      val eq = (0 until 16).map(i =>
        s"(CASE WHEN a.m$i = b.m$i THEN 1 ELSE 0 END)").mkString(" + ")
      s"""$minhashCte,
         |bucket_min AS (
         |  SELECT band, key, min(doc_id) AS bmin FROM bands GROUP BY 1, 2),
         |clusters AS (
         |  SELECT b.doc_id AS id, min(m.bmin) AS canonical_id
         |  FROM bands b JOIN bucket_min m
         |    ON b.band = m.band AND b.key = m.key
         |  GROUP BY 1),
         |p AS (
         |  SELECT canonical_id AS id1, id AS id2 FROM clusters
         |  WHERE canonical_id < id),
         |e AS (
         |  SELECT id1, id2, $eq AS eq,
         |    len(list_intersect(ta.tl, tb.tl)) AS inter,
         |    len(ta.tl) AS n1, len(tb.tl) AS n2
         |  FROM p JOIN sig a ON p.id1 = a.doc_id
         |    JOIN sig b ON p.id2 = b.doc_id
         |    JOIN toks ta ON p.id1 = ta.doc_id
         |    JOIN toks tb ON p.id2 = tb.doc_id),
         |m AS (
         |  SELECT id1, id2,
         |    CAST(floor(eq * 1000000 / 16) AS BIGINT) AS est_micros,
         |    CAST(floor(inter * 1000000
         |      / greatest(n1 + n2 - inter, 1)) AS BIGINT) AS exact_micros
         |  FROM e)
         |SELECT id1, id2, est_micros, exact_micros,
         |  abs(est_micros - exact_micros) AS err_micros FROM m""".stripMargin
    },

    // training delivery: q164's (shard, hash, id) permutation + the
    // q128 cum-sum packing spelling in permutation order per shard
    "q177_training_delivery" -> {
      val h = "CAST(concat('0x', substr(md5('ep0#' || " +
        "CAST(doc_id AS VARCHAR)), 1, 10)) AS BIGINT)"
      s"""WITH o AS (
         |  SELECT doc_id, CAST(shard AS INTEGER) AS shard,
         |    CAST(row_number() OVER (ORDER BY shard, h, doc_id)
         |      AS BIGINT) AS grank
         |  FROM (SELECT doc_id, $h AS h, $h % 8 AS shard FROM documents)),
         |t AS (SELECT doc_id,
         |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
         |  FROM documents),
         |c AS (
         |  SELECT o.doc_id, o.shard, o.grank, t.n_tok,
         |    coalesce(sum(t.n_tok) OVER (PARTITION BY o.shard
         |      ORDER BY o.grank
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         |      AS cum_prev
         |  FROM o JOIN t USING (doc_id))
         |SELECT doc_id, shard, grank, n_tok,
         |  CAST(cum_prev // 256 AS BIGINT) AS bin,
         |  CAST(cum_prev % 256 AS BIGINT) AS bin_offset
         |FROM c""".stripMargin
    },

    // bucket-size histogram over the shared band CTE; pair_work mirrors
    // the same n(n−1)/2 spelling
    "q178_lsh_load_profile" ->
      s"""$minhashCte,
         |bs AS (
         |  SELECT band, key, CAST(count(*) AS BIGINT) AS bucket_size
         |  FROM bands GROUP BY 1, 2)
         |SELECT band, bucket_size, CAST(count(*) AS BIGINT) AS n_buckets,
         |  CAST(bucket_size * (bucket_size - 1) / 2 * count(*) AS BIGINT)
         |    AS pair_work
         |FROM bs GROUP BY 1, 2""".stripMargin,

    // same left fold over the packed (h << 20 | pos) longs, same <=
    // on the unpacked hash (rightmost-minimum tie rule); n=4, w=4
    "q179_winnowing" ->
      s"""WITH ${winnowFpCte("fp", "TRUE")}
         |SELECT doc_id, pos, h FROM fp""".stripMargin,

    // winnow-index match: the SAME fingerprint CTE on both sides of the
    // %10 split (q98/q127's split), joined on the hash
    "q180_winnow_index" -> winnowIndexOracle,

    // the streaming arrival must flag exactly what the batch path flags
    "q182_stream_winnow" -> winnowIndexOracle,

    // winnow families: the q64 unrolled min-label propagation over
    // doc–fingerprint bucket rows (8 rounds, matching Spark maxIters);
    // singleton docs coalesce to themselves
    "q186_winnow_clusters" -> {
      val rounds = 40
      // every CTE is MATERIALIZED: DuckDB inlines per reference, and
      // `bands` is referenced twice per round — the inlined 24-round
      // chain re-evaluates the winnow fold superlinearly (>400 s at
      // sf0.01 vs 0.6 s materialized)
      val iterCtes = (1 to rounds).map { i =>
        s"""bl$i AS MATERIALIZED (SELECT b.key, min(l.label) AS blabel
           |  FROM bands b JOIN l${i - 1} l ON b.doc_id = l.id GROUP BY 1),
           |l$i AS MATERIALIZED (SELECT b.doc_id AS id, min(x.blabel) AS label
           |  FROM bands b JOIN bl$i x ON b.key = x.key
           |  GROUP BY 1)""".stripMargin
      }.mkString(",\n")
      s"""WITH ${winnowFpCte("fp", "TRUE", w = 8)},
         |sh AS MATERIALIZED (SELECT h FROM fp GROUP BY h
         |       HAVING count(DISTINCT doc_id) >= 2),
         |bands AS MATERIALIZED (
         |  SELECT DISTINCT fp.doc_id, CAST(fp.h AS VARCHAR) AS key
         |  FROM fp JOIN sh USING (h)),
         |l0 AS MATERIALIZED (SELECT DISTINCT doc_id AS id, doc_id AS label FROM bands),
         |$iterCtes
         |SELECT d.doc_id AS id,
         |  coalesce(l$rounds.label, d.doc_id) AS cluster_id
         |FROM documents d LEFT JOIN l$rounds ON d.doc_id = l$rounds.id""".stripMargin
    },

    // incremental winnow-family maintenance: corpus families from the
    // SAME unrolled propagation as q186 restricted to the corpus split,
    // then a second unrolled propagation over ONLY the subgraph the
    // batch's fingerprints touch, corpus nodes seeded with their family
    // label, batch nodes with their own id
    "q187_winnow_incremental" -> winnowIncrementalOracle,

    // the streamed arrival path must adopt EXACTLY what the one-shot
    // batch adoption assigns (fingerprinting rides the micro-batches;
    // the fixed point runs once over the accumulated arrivals)
    "q200_stream_winnow_families" -> winnowIncrementalOracle,

    "q197_minhash_transitive_wide" -> minhashTransitiveWideOracle,
    "q198_band_index_wide" -> incNearDupWideOracle,

    // compaction must change NO values: the post-compact batch match
    // equals the from-scratch q127 matrix over the full %10<>7 corpus
    "q205_index_compaction" -> incNearDupOracle,
    // q216: identical content semantics through the blue/green swap —
    // generations and the view pointer are storage mechanics the oracle
    // never sees
    "q216_compact_pingpong" -> incNearDupOracle,

    // q82's screen from scratch over the streamed arrival slice, at the
    // stream's 60-bit gram keys — stream ≡ batch decontamination
    "q206_stream_decontaminate" -> {
      val ng = graft.functions.Contamination.oracleNgrams("text", DecontamN)
      s"""WITH aug AS MATERIALIZED (
         |  SELECT doc_id, text ||
         |    CASE WHEN doc_id % 50 = 0 OR doc_id % 20 = 7
         |         THEN ' $DecontamPhrase' ELSE '' END AS text
         |  FROM documents),
         |ev AS (
         |  SELECT DISTINCT unnest(list_distinct(list_transform($ng,
         |    g -> ${dTokHash60("g")}))) AS h
         |  FROM aug WHERE doc_id % 50 = 0),
         |cg AS (
         |  SELECT doc_id, unnest(list_distinct(list_transform($ng,
         |    g -> ${dTokHash60("g")}))) AS h
         |  FROM aug WHERE doc_id % 10 = 7)
         |SELECT doc_id, count(*) AS n_overlap
         |FROM cg JOIN ev USING (h) GROUP BY 1""".stripMargin
    },

    // q215: the positional form of q206's gram keys (same 60-bit hash,
    // same shingles windows incl. the short-doc partial), covered
    // positions exploded per matched gram, reassembly as in the q139
    // strip oracle
    "q215_decontaminate_strip" -> {
      val n = DecontamN
      val gram = s"concat_ws(' ', ${(1 to n).map(j => s"t[i + $j]").mkString(", ")})"
      val ng = graft.functions.Contamination.oracleNgrams("text", n)
      s"""WITH aug AS MATERIALIZED (
         |  SELECT doc_id, text ||
         |    CASE WHEN doc_id % 50 = 0 OR doc_id % 20 = 7
         |         THEN ' $DecontamPhrase' ELSE '' END AS text
         |  FROM documents),
         |ev AS (
         |  SELECT DISTINCT unnest(list_distinct(list_transform($ng,
         |    g -> ${dTokHash60("g")}))) AS h
         |  FROM aug WHERE doc_id % 50 = 0),
         |toks AS (SELECT doc_id, string_split(text, ' ') AS t
         |         FROM aug WHERE doc_id % 10 = 7),
         |ngr AS (
         |  SELECT doc_id, CAST(i + 1 AS INTEGER) AS gpos,
         |    ${dTokHash60(gram)} AS h
         |  FROM toks, LATERAL (SELECT unnest(range(0,
         |    greatest(len(t) - $n, 0) + 1)) AS i) p),
         |cov AS (
         |  SELECT DISTINCT g.doc_id, CAST(tpos AS INTEGER) AS tpos
         |  FROM (SELECT doc_id, gpos FROM ngr JOIN ev USING (h)) g,
         |    LATERAL (SELECT unnest(range(g.gpos, g.gpos + $n)) AS tpos) r),
         |tk AS (
         |  SELECT doc_id, CAST(pos AS INTEGER) AS tpos, t[pos] AS tok
         |  FROM toks, LATERAL (SELECT unnest(range(1, len(t) + 1)) AS pos) p),
         |kept AS (
         |  SELECT tk.doc_id, tk.tpos, tk.tok FROM tk
         |  LEFT JOIN cov ON tk.doc_id = cov.doc_id AND tk.tpos = cov.tpos
         |  WHERE cov.doc_id IS NULL),
         |ka AS (
         |  SELECT doc_id, string_agg(tok, ' ' ORDER BY tpos) AS clean_text,
         |    CAST(count(*) AS BIGINT) AS n_kept
         |  FROM kept GROUP BY doc_id),
         |nt AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_total
         |       FROM tk GROUP BY doc_id)
         |SELECT nt.doc_id, md5(coalesce(ka.clean_text, '')) AS clean_md5,
         |  CAST(coalesce(ka.n_kept, 0) AS BIGINT) AS n_kept,
         |  CAST(nt.n_total - coalesce(ka.n_kept, 0) AS BIGINT) AS n_removed
         |FROM nt LEFT JOIN ka USING (doc_id)""".stripMargin
    },

    "q208_pq_adc" -> pqAdcOracle,
    // q212 re-reads the PQ artifacts from storage and ranks via the
    // bounded-heap aggregate — same exact-integer (dist, id) order, so
    // the window-form oracle is shared verbatim
    "q212_pq_index" -> pqAdcOracle,
    "q213_ivfadc" -> ivfAdcOracle,
    "q223_ivfadc_rerank" -> ivfAdcRerankOracle,

    // q224: the whole SQ8 chain replayed arithmetically — per-dim
    // min/max bounds, affine int8 codes (// = floor division over
    // non-negative numerators, matching Spark's exact floor), symmetric
    // code-space distances, (dist, nn_id) ranks
    "q224_sq8_topk" ->
      s"""WITH qb AS MATERIALIZED (
         |  SELECT vec_id AS nn_id, list_transform(embedding,
         |    x -> CAST(floor(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS q
         |  FROM embeddings),
         |bnd AS MATERIALIZED (
         |  SELECT list(lo ORDER BY pos) AS lo, list(hi ORDER BY pos) AS hi
         |  FROM (
         |    SELECT pos, min(v) AS lo, max(v) AS hi FROM (
         |      SELECT unnest(q) AS v, unnest(range(1, len(q) + 1)) AS pos
         |      FROM qb)
         |    GROUP BY 1)),
         |sc AS MATERIALIZED (
         |  SELECT nn_id, list_transform(range(1, 65),
         |    i -> ((q[i] - lo[i]) * 255) // greatest(hi[i] - lo[i], 1)) AS c
         |  FROM qb CROSS JOIN bnd),
         |qs AS (SELECT nn_id AS query_id, c AS qc FROM sc WHERE nn_id < 8),
         |d AS (
         |  SELECT qs.query_id, sc.nn_id,
         |    CAST(list_sum(list_transform(range(1, 65),
         |      i -> (qs.qc[i] - sc.c[i]) * (qs.qc[i] - sc.c[i])))
         |      AS BIGINT) AS sq_dist
         |  FROM sc CROSS JOIN qs WHERE sc.nn_id <> qs.query_id)
         |SELECT query_id, nn_id, sq_dist, rk FROM (
         |  SELECT query_id, nn_id, sq_dist,
         |  CAST(row_number() OVER (PARTITION BY query_id
         |    ORDER BY sq_dist ASC, nn_id ASC) AS INTEGER) AS rk
         |  FROM d) WHERE rk <= 5""".stripMargin,
    "q218_ivfadc_residual" -> ivfPqResidualOracle,
    // q221: the whole maintained codes table (day-0 build + streamed
    // arrival appends) recomputed from scratch — every vector encoded
    // against the codebook trained on DAY-0 ONLY (the frozen-book
    // contract; a codebook accidentally retrained on arrivals, a dead
    // append, or any in-stream encode drift all diverge)
    "q221_stream_pq_encode" -> {
      val dsub = 8
      s"""WITH qb AS MATERIALIZED (
         |  SELECT vec_id AS nn_id,
         |  list_transform(embedding,
         |    x -> CAST(floor(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS q
         |  FROM embeddings),
         |sb AS MATERIALIZED (
         |  SELECT nn_id, sub, q[sub * $dsub + 1 : sub * $dsub + $dsub] AS sq
         |  FROM qb CROSS JOIN (SELECT unnest(range(0, 8)) AS sub)),
         |day0 AS MATERIALIZED (SELECT * FROM sb WHERE nn_id % 10 <> 7),
         |${pqLloydCtes("f", "day0", "d0codes")},
         |allc AS (
         |  SELECT nn_id, sub, cent_id AS code FROM (
         |    SELECT b.nn_id, b.sub, c.cent_id,
         |    row_number() OVER (PARTITION BY b.nn_id, b.sub
         |      ORDER BY ${pqDL2("b.sq", "c.cent_q")} ASC, c.cent_id ASC) AS rn
         |    FROM sb b JOIN fc2 c USING (sub)) WHERE rn = 1)
         |SELECT nn_id, CAST(sub AS INTEGER) AS sub, code FROM allc""".stripMargin
    },

    // q219: both ADC chains + the exact leg in one WITH (raw chain via
    // pqCodeCtes/"codes", residual via residualChainCtes/"rcodes" — the
    // codes name is parameterized exactly so the two can coexist)
    "q219_adc_recall" ->
      s"""WITH $ivfAssignCtes,
         |${pqCodeCtes("p")},
         |$probeCte,
         |${residualChainCtes("rcodes")},
         |topRaw AS (
         |  SELECT query_id, nn_id FROM (
         |    SELECT query_id, nn_id,
         |    row_number() OVER (PARTITION BY query_id
         |      ORDER BY adc_dist ASC, nn_id ASC) AS rk
         |    FROM (
         |      SELECT t.query_id, codes.nn_id,
         |        CAST(sum(t.d) AS BIGINT) AS adc_dist
         |      FROM codes
         |      JOIN lists ON codes.nn_id = lists.nn_id
         |      JOIN probes ON lists.cent = probes.cent
         |      JOIN t ON codes.sub = t.sub AND codes.code = t.cent_id
         |            AND t.query_id = probes.query_id
         |      WHERE codes.nn_id <> t.query_id
         |      GROUP BY 1, 2)) WHERE rk <= 5),
         |topRes AS (
         |  SELECT query_id, nn_id FROM (
         |    SELECT query_id, nn_id,
         |    row_number() OVER (PARTITION BY query_id
         |      ORDER BY adc_dist ASC, nn_id ASC) AS rk
         |    FROM (
         |      SELECT rt.query_id, rcodes.nn_id,
         |        CAST(sum(rt.d) AS BIGINT) AS adc_dist
         |      FROM rcodes
         |      JOIN lists ON rcodes.nn_id = lists.nn_id
         |      JOIN rt ON rcodes.sub = rt.sub AND rcodes.code = rt.cent_id
         |             AND rt.cent = lists.cent
         |      WHERE rcodes.nn_id <> rt.query_id
         |      GROUP BY 1, 2)) WHERE rk <= 5),
         |ex AS MATERIALIZED (
         |  SELECT query_id, nn_id FROM (
         |    SELECT q.vec_id AS query_id, b.vec_id AS nn_id,
         |    row_number() OVER (PARTITION BY q.vec_id
         |      ORDER BY ${dCos("q.embedding", "b.embedding")} DESC,
         |        b.vec_id ASC) AS rn
         |    FROM embeddings q JOIN embeddings b ON q.vec_id <> b.vec_id
         |    WHERE q.vec_id < 8) WHERE rn <= 5),
         |h AS (
         |  SELECT 'raw' AS variant, CAST(count(*) AS BIGINT) AS hits
         |  FROM topRaw JOIN ex USING (query_id, nn_id)
         |  UNION ALL
         |  SELECT 'residual' AS variant, CAST(count(*) AS BIGINT) AS hits
         |  FROM topRes JOIN ex USING (query_id, nn_id)),
         |tot AS (SELECT CAST(count(*) AS BIGINT) AS total FROM ex)
         |SELECT variant, hits, total,
         |  CAST(hits * 1000000 // total AS BIGINT) AS recall_micros
         |FROM h CROSS JOIN tot""".stripMargin,

    // q161's fixture + the solo-repeat plant; boilerplate = df ≥ 3 over
    // DISTINCT docs at the 15-nibble key, losers erased everywhere
    "q211_boilerplate_strip" ->
      s"""WITH aug AS (
         |  SELECT doc_id, text ||
         |    CASE WHEN doc_id % 3 = 0 THEN chr(10) || '$Boiler1'
         |         ELSE '' END ||
         |    CASE WHEN doc_id % 5 = 0 THEN chr(10) || '$Boiler2'
         |         ELSE '' END ||
         |    CASE WHEN doc_id = 1 THEN chr(10) || 'solo repeated para'
         |         || chr(10) || 'solo repeated para'
         |         ELSE '' END AS text
         |  FROM documents),
         |paras AS (
         |  SELECT doc_id, CAST(pos AS BIGINT) AS ppos, p[pos] AS para
         |  FROM (SELECT doc_id, string_split(text, chr(10)) AS p FROM aug),
         |  LATERAL (SELECT unnest(range(1, len(p) + 1)) AS pos) r),
         |boiler AS (
         |  SELECT h FROM (
         |    SELECT DISTINCT
         |      CAST(concat('0x', substr(md5(para), 1, 15)) AS BIGINT) AS h,
         |      doc_id
         |    FROM paras) GROUP BY 1 HAVING count(*) >= 3),
         |kept AS (
         |  SELECT p.doc_id, p.ppos, p.para FROM paras p
         |  LEFT JOIN boiler ON CAST(concat('0x',
         |      substr(md5(p.para), 1, 15)) AS BIGINT) = boiler.h
         |  WHERE boiler.h IS NULL),
         |agg AS (
         |  SELECT doc_id,
         |    string_agg(para, chr(10) ORDER BY ppos) AS clean_text,
         |    CAST(count(*) AS BIGINT) AS n_kept
         |  FROM kept GROUP BY doc_id),
         |tot AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_total
         |        FROM paras GROUP BY doc_id)
         |SELECT t.doc_id, md5(coalesce(a.clean_text, '')) AS clean_md5,
         |  CAST(coalesce(a.n_kept, 0) AS BIGINT) AS n_kept,
         |  CAST(t.n_total - coalesce(a.n_kept, 0) AS BIGINT) AS n_dropped
         |FROM tot t LEFT JOIN agg a USING (doc_id)""".stripMargin,

    // same fixture, canonicalization spelled by Web.oracleCanonicalUrl
    // (generated next to the Spark form — the two cannot drift)
    "q207_url_dedup" -> {
      // NOTE: no line here may START with '|' — this fragment embeds in
      // an outer stripMargin string, which would eat one pipe of a '||'
      val k = "CAST((doc_id % 13) % 7 AS VARCHAR)"
      val grp = "CAST(doc_id % 13 AS VARCHAR)"
      val urlExpr =
        s"CASE doc_id % 4 " +
        s"WHEN 0 THEN 'http://Example' || $k || '.ORG:80/p/' || $grp || " +
        s"'/?b=2&a=1&utm_source=x' " +
        s"WHEN 1 THEN 'HTTP://www.example' || $k || '.org/p/' || $grp || " +
        s"'?a=1&b=2' " +
        s"WHEN 2 THEN 'http://EXAMPLE' || $k || '.org/p/' || $grp || '/#sec2' " +
        s"ELSE 'http://Example' || $k || '.org:80/p/' || $grp || " +
        s"'/?fbclid=zz&b=2&a=1' END"
      s"""SELECT ${graft.functions.Web.oracleCanonicalUrl("url")} AS canon_url,
         |min(doc_id) AS keep_id, count(*) AS n_dups
         |FROM (SELECT doc_id, $urlExpr AS url FROM documents)
         |GROUP BY 1""".stripMargin
    },

    // same hostile fixture, host/url canonicalization spelled by
    // Web.oracleCanonicalHost / oracleCanonicalUrl (generated next to
    // the Spark forms — the sides cannot drift)
    "q214_domain_stats" -> {
      // NOTE: no line here may START with '|' — this fragment embeds in
      // an outer stripMargin string, which would eat one pipe of a '||'
      val k = "CAST(doc_id % 3 AS VARCHAR)"
      val grp = "CAST(doc_id % 13 AS VARCHAR)"
      val urlExpr =
        s"CASE doc_id % 6 " +
        s"WHEN 0 THEN 'http://Example' || $k || '.ORG:80/p/' || $grp || " +
        s"'/?b=2&a=1&utm_source=x' " +
        s"WHEN 1 THEN 'HTTP://www.example' || $k || '.org/p/' || $grp || " +
        s"'?a=1&b=2' " +
        s"WHEN 2 THEN 'http://example' || $k || '.org/r?next=https://target' " +
        s"|| $k || '.com/p' " +
        s"WHEN 3 THEN 'https://Example' || $k || '.org:443/a%2fb/' || $grp || " +
        s"'?x=%3d1' " +
        s"WHEN 4 THEN 'nonsense-' || $grp " +
        s"ELSE 'http://example' || $k || '.org:8080/p/' || $grp END"
      s"""SELECT ${graft.functions.Web.oracleCanonicalHost("url")} AS host,
         |count(*) AS n_pages,
         |count(DISTINCT ${graft.functions.Web.oracleCanonicalUrl("url")})
         |  AS n_canon_urls
         |FROM (SELECT doc_id, $urlExpr AS url FROM documents)
         |GROUP BY 1""".stripMargin
    },

    // q161 at the 15-nibble key — same fixtures, same body
    "q203_paragraph_dedup_wide" ->
      s"""WITH aug AS (
         |  SELECT doc_id, text ||
         |    CASE WHEN doc_id % 3 = 0 THEN chr(10) || '$Boiler1'
         |         ELSE '' END ||
         |    CASE WHEN doc_id % 5 = 0 THEN chr(10) || '$Boiler2'
         |         ELSE '' END AS text
         |  FROM documents),
         |${paragraphDedupBody("aug", nibbles = 15)}
         |SELECT t.doc_id, md5(coalesce(a.clean_text, '')) AS clean_md5,
         |  CAST(coalesce(a.n_kept, 0) AS BIGINT) AS n_kept,
         |  CAST(t.n_total - coalesce(a.n_kept, 0) AS BIGINT) AS n_dropped
         |FROM tot t LEFT JOIN agg a USING (doc_id)""".stripMargin,

    // q149's matrix at the 15-nibble key — the q204 wide index must
    // reproduce it exactly
    "q204_source_overlap_wide" ->
      """WITH g AS (
        |  SELECT DISTINCT source,
        |    CAST(concat('0x', substr(md5(
        |      array_to_string(t[pos:pos+7], ' ')), 1, 15)) AS BIGINT) AS h
        |  FROM (SELECT source, string_split(text, ' ') AS t FROM documents) d,
        |    LATERAL (SELECT unnest(range(1, len(t) - 6)) AS pos) p
        |  WHERE len(t) >= 8)
        |SELECT a.source AS src_a, b.source AS src_b,
        |  CAST(count(*) AS BIGINT) AS shared_ngrams
        |FROM g a JOIN g b ON a.h = b.h AND a.source < b.source
        |GROUP BY 1, 2""".stripMargin,

    // real-decode image dedup: the oracle recomputes the DECODED grid
    // arithmetically — even ids sample the 18×14 source at (2r, 2c)
    // (nearest-neighbor 18×14 → 9×7), odd ids use the 9×7 source
    // directly; then the same doubling fold and pair SQL as q190
    "q201_image_dhash_real" -> {
      val MM = graft.functions.Multimodal
      val (w, bits) = (MM.DHashW, MM.DHashBits)
      s"""WITH rp AS MATERIALIZED (
         |  SELECT doc_id, list_transform(range(0, ${w * MM.DHashH}), i ->
         |    CAST(${dTokHash(
              "t[((CASE WHEN doc_id % 2 = 0 THEN 36 * (i // 9) + 2 * (i % 9) ELSE i END) % len(t)) + 1]")} % 256 AS INTEGER)) AS p
         |  FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents)),
         |rdh AS MATERIALIZED (
         |  SELECT doc_id, list_reduce(
         |    list_transform(range(${bits - 1}, -1, -1), i ->
         |      CASE WHEN p[(i // ${w - 1}) * $w + (i % ${w - 1}) + 1]
         |             < p[(i // ${w - 1}) * $w + (i % ${w - 1}) + 2]
         |           THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END),
         |    (acc, x) -> acc * 2 + x) AS h
         |  FROM rp),
         |icnt AS MATERIALIZED (
         |  SELECT h, CAST(count(*) AS BIGINT) AS n FROM rdh GROUP BY 1),
         |ib AS MATERIALIZED (
         |  ${dhashBandSql("(SELECT h FROM icnt)")}),
         |ipr AS MATERIALIZED (
         |  SELECT DISTINCT a.h AS h1, b.h AS h2
         |  FROM ib a JOIN ib b ON a.key = b.key AND a.h < b.h),
         |isel AS (
         |  SELECT h1, h2, CAST(bit_count(xor(h1, h2)) AS INTEGER) AS hamming
         |  FROM ipr WHERE bit_count(xor(h1, h2)) <= 3)
         |SELECT h1, h2, hamming, c1.n AS n1, c2.n AS n2
         |FROM isel
         |JOIN icnt c1 ON isel.h1 = c1.h
         |JOIN icnt c2 ON isel.h2 = c2.h""".stripMargin
    },

    // q217/q222: the q201 chain with every doc on an 18×14 COMPRESSED
    // source (PNG zlib / GIF LZW) — the oracle recomputes the decoded +
    // resampled grid arithmetically (36·row + 2·col nearest-neighbor
    // index), never seeing either codec: the compression round-trip is
    // exactly what each gate proves, and identical decoded pixels are
    // why ONE oracle covers both containers
    "q217_image_dhash_png" -> synthImageDhashOracle,
    "q222_image_dhash_gif" -> synthImageDhashOracle,

    // q240: the same chain on the LOSSY container — block-constant
    // pixels make flat-quant baseline JPEG exactly invertible, so the
    // oracle replays the block grid arithmetically (block index =
    // (row//2)·5 + col//2 under the 4-px resample step)
    "q240_image_dhash_jpeg" -> synthJpegDhashOracle,

    // q244: the greedy MMR loop unrolled — step n's CTE scores the
    // unselected candidates against the UNION of steps 1..n-1 (max over
    // rounded-6dp sims), both λ and μ parsed from the same decimal text
    // as the Spark side's stored literals
    "q244_mmr_diversify" -> {
      val steps = 8
      val lam = "CAST(0.7 AS DOUBLE)"
      val mu = "CAST(0.3 AS DOUBLE)"
      val stepCtes = (1 to steps).map { n =>
        val selSoFar = (1 until n).map(i => s"SELECT id FROM p$i")
          .mkString(" UNION ALL ")
        val msExpr =
          if (n == 1) "CAST(0 AS DOUBLE)"
          else s"""(SELECT max(s.ps) FROM sims s
                   | WHERE s.id1 = c.id AND s.id2 IN ($selSoFar))""".stripMargin
        val notIn =
          if (n == 1) ""
          else s" WHERE c.id NOT IN ($selSoFar)"
        s"""s$n AS MATERIALIZED (
           |  SELECT c.id, $lam * c.sim - $mu * $msExpr AS sc
           |  FROM cand c$notIn),
           |p$n AS MATERIALIZED (
           |  SELECT id, sc FROM s$n ORDER BY sc DESC, id LIMIT 1)"""
          .stripMargin
      }.mkString(",\n")
      val finalSel = (1 to steps).map { n =>
        s"""SELECT CAST($n AS INTEGER) AS sel_rank, id AS doc_id,
           |CAST(floor(CAST(1000000 AS DOUBLE) * sc) AS BIGINT)
           |  AS mmr_micros FROM p$n""".stripMargin
      }.mkString("\nUNION ALL\n")
      s"""WITH qv AS MATERIALIZED (
         |  SELECT embedding AS q FROM embeddings WHERE vec_id = 0),
         |cand AS MATERIALIZED (
         |  SELECT vec_id AS id, embedding AS vec,
         |    ${dCos("embedding", "q")} AS sim
         |  FROM embeddings CROSS JOIN qv WHERE vec_id <> 0
         |  ORDER BY sim DESC, id LIMIT 20),
         |sims AS MATERIALIZED (
         |  SELECT a.id AS id1, b.id AS id2, ${dCos("a.vec", "b.vec")} AS ps
         |  FROM cand a JOIN cand b ON a.id <> b.id),
         |$stepCtes
         |$finalSel
         |ORDER BY sel_rank""".stripMargin
    },

    // q245: the oracle recomputes the DECODED PCM arithmetically (sample
    // i = md5₄₀(token[i mod n]) mod 65536 − 32768 — the synth is
    // deterministic) and derives the same exact-integer features; the
    // container round-trip (chunk walk, pad byte, sign extension) is
    // exactly what the gate proves
    "q245_audio_features" ->
      s"""WITH ss AS MATERIALIZED (
         |  SELECT doc_id, list_transform(
         |    range(0, CASE WHEN doc_id % 2 = 0 THEN 64 ELSE 48 END),
         |    i -> CAST(${dTokHash("concat(t[(i % len(t)) + 1], '@', i)")}
         |      % 65536 - 32768 AS INTEGER)) AS s
         |  FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents))
         |SELECT doc_id,
         |  CAST(8000 AS INTEGER) AS sample_rate,
         |  CAST(len(s) AS INTEGER) AS n_samples,
         |  CAST(list_max(list_transform(s, x -> abs(x))) AS INTEGER) AS peak,
         |  CAST(list_sum(list_transform(range(1, len(s)), i ->
         |    CASE WHEN (s[i] >= 0) != (s[i+1] >= 0) THEN 1 ELSE 0 END))
         |    AS INTEGER) AS zero_cross,
         |  CAST(list_sum(list_transform(s, x -> CAST(x AS BIGINT) * x))
         |    AS BIGINT) AS energy
         |FROM ss""".stripMargin,

    // q246: samples → 57 exact frame energies → 56 delta-sign bits folded
    // MSB-first → the SAME band/pair SQL as the image chain — one fold
    // convention across modalities is what lets the skeleton be shared.
    // The docs CTE replays the Spark-side twin planting verbatim (cyclic
    // 228-token expansion, frames 55/56 overwritten) so the near-dup
    // pairs the gate now demands exist identically in both engines.
    "q246_audio_fingerprint" ->
      s"""WITH twinsrc AS MATERIALIZED (
         |  SELECT doc_id, string_split(text, ' ') AS t FROM documents
         |  WHERE doc_id % 100 = 0),
         |docs AS MATERIALIZED (
         |  SELECT doc_id, text FROM documents
         |  UNION ALL
         |  SELECT doc_id + 1000000000,
         |    array_to_string(list_transform(range(0, 228), i ->
         |      CASE WHEN i >= 224 THEN 'dup9'
         |           WHEN i >= 220 THEN 'dup180'
         |           ELSE t[(i % len(t)) + 1] END), ' ')
         |  FROM twinsrc
         |  UNION ALL
         |  SELECT doc_id + 2000000000,
         |    array_to_string(list_transform(range(0, 228), i ->
         |      CASE WHEN i >= 224 THEN 'dup193'
         |           WHEN i >= 220 THEN 'dup180'
         |           ELSE t[(i % len(t)) + 1] END), ' ')
         |  FROM twinsrc),
         |ss AS MATERIALIZED (
         |  SELECT doc_id, list_transform(range(0, 228),
         |    i -> CAST(${dTokHash("concat(t[(i % len(t)) + 1], '@', i)")}
         |      % 65536 - 32768 AS INTEGER)) AS s
         |  FROM (SELECT doc_id, string_split(text, ' ') AS t FROM docs)),
         |en AS MATERIALIZED (
         |  SELECT doc_id, list_transform(range(0, 57), f ->
         |    list_sum(list_transform(range(1, 5), j ->
         |      CAST(s[4*f + j] AS BIGINT) * s[4*f + j]))) AS e
         |  FROM ss),
         |fp AS MATERIALIZED (
         |  SELECT doc_id, list_reduce(
         |    list_transform(range(55, -1, -1), b ->
         |      CASE WHEN e[b+1] < e[b+2] THEN CAST(1 AS BIGINT)
         |           ELSE CAST(0 AS BIGINT) END),
         |    (acc, x) -> acc * 2 + x) AS h
         |  FROM en),
         |icnt AS MATERIALIZED (
         |  SELECT h, CAST(count(*) AS BIGINT) AS n FROM fp GROUP BY 1),
         |ib AS MATERIALIZED (
         |  ${dhashBandSql("(SELECT h FROM icnt)")}),
         |ipr AS MATERIALIZED (
         |  SELECT DISTINCT a.h AS h1, b.h AS h2
         |  FROM ib a JOIN ib b ON a.key = b.key AND a.h < b.h),
         |isel AS (
         |  SELECT h1, h2, CAST(bit_count(xor(h1, h2)) AS INTEGER) AS hamming
         |  FROM ipr WHERE bit_count(xor(h1, h2)) <= 3)
         |SELECT h1, h2, hamming, c1.n AS n1, c2.n AS n2
         |FROM isel
         |JOIN icnt c1 ON isel.h1 = c1.h
         |JOIN icnt c2 ON isel.h2 = c2.h""".stripMargin,

    // q247: per-frame hashes replay the q240 block-grid formula with the
    // frame's SCENE salt ((f // sceneLen) · 7); boundary logic (Hamming >
    // 3 between consecutive frames) replays in plain SQL — the container
    // walk + per-frame JPEG decode is the round-trip the gate proves
    "q247_video_scenes" -> videoSceneOracle(
      """SELECT n.doc_id, n.n_frames,
        |  CAST(1 + s.sb AS BIGINT) AS n_scenes, s.mask AS boundary_mask
        |FROM (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_frames
        |      FROM fh GROUP BY 1) n
        |JOIN (SELECT doc_id, sum(bdy) AS sb,
        |        CAST(coalesce(sum(CASE WHEN bdy = 1
        |          THEN (CAST(1 AS BIGINT) << (f - 1)) ELSE 0 END), 0)
        |          AS BIGINT) AS mask
        |      FROM bd GROUP BY 1) s USING (doc_id)""".stripMargin),

    // q249: the oracle replays the degree-capped projection (row_number
    // over (w desc, dst) ≤ 64 ≡ the TopKAgg membership filter — (w, dst)
    // is unique per src, so the selected SETS are identical) and unrolls
    // the 4 floor-division iterations as MATERIALIZED CTEs
    "q249_pagerank" -> {
      val iters = (1 to 4).map { n =>
        s"""r$n AS MATERIALIZED (
           |  SELECT v.v, CAST(150000000 + coalesce(s.s, 0) AS BIGINT) AS r
           |  FROM vx v LEFT JOIN (
           |    SELECT e.dst AS v,
           |      sum((r.r * 85) // (100 * od.outdeg)) AS s
           |    FROM e JOIN r${n - 1} r ON e.src = r.v
           |    JOIN od ON e.src = od.src
           |    GROUP BY 1) s USING (v))""".stripMargin
      }.mkString(",\n")
      s"""$coOccurEdgeCtes,
         |od AS MATERIALIZED (
         |  SELECT src, CAST(count(*) AS BIGINT) AS outdeg FROM e GROUP BY 1),
         |vx AS MATERIALIZED (SELECT DISTINCT src AS v FROM e),
         |r0 AS MATERIALIZED (
         |  SELECT v, CAST(1000000000 AS BIGINT) AS r FROM vx),
         |$iters
         |SELECT v AS vertex, r AS rank_scaled FROM r4
         |ORDER BY r DESC, v LIMIT 20""".stripMargin
    },

    // q298: the SAME stopping rule replayed in SQL — 12 unrolled
    // floor-division rounds over the co-order PART graph, every round's
    // max |Δr| computed, the FIRST round at tolerance selected, and the
    // ranks AT that round (plus the round number) emitted. A Spark-side
    // stop one round early or late changes both the `rounds` column and
    // every rank — the stopping rule itself is under the hash.
    "q298_pagerank_warm" -> pageRankWarmOracle,
    // q314: the artifact cadence shares q298's oracle VERBATIM
    "q314_pagerank_artifact" -> pageRankWarmOracle,

    // q250: the oriented wedge join on the undirected support of the
    // same capped edges; a<b<c holds by construction so each triangle
    // closes exactly once
    "q250_triangles" ->
      s"""$coOccurEdgeCtes,
         |und AS MATERIALIZED (
         |  SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
         |  FROM e)
         |SELECT
         |  (SELECT CAST(count(DISTINCT v) AS BIGINT) FROM (
         |     SELECT a AS v FROM und UNION ALL SELECT b FROM und))
         |    AS n_vertices,
         |  (SELECT CAST(count(*) AS BIGINT) FROM und) AS n_edges,
         |  (SELECT CAST(count(*) AS BIGINT)
         |   FROM und e1 JOIN und e2 ON e1.b = e2.a
         |   JOIN und e3 ON e3.a = e1.a AND e3.b = e2.b) AS n_triangles""".stripMargin,

    // q251: the oracle derives components by a DIFFERENT algorithm —
    // recursive-CTE reachability closure + per-vertex min — and must land
    // on the same fixed point as the pointer-jumping propagation.
    // q253 (incremental maintenance over an 80/20 edge split) shares it
    // VERBATIM: incremental must be indistinguishable from rebuild.
    "q253_components_incremental" -> componentSizesOracle,
    "q251_components" -> componentSizesOracle,

    // q254: all moments as HUGEINT sums, sign-split magnitude division
    // (`//` floors, Spark `div` truncates — identical on non-negatives)
    "q254_ols_by_group" ->
      """WITH b AS MATERIALIZED (
        |  SELECT l_returnflag, l_linestatus,
        |    CAST(l_quantity AS HUGEINT) AS x,
        |    CAST(floor(l_extendedprice * 100) AS HUGEINT) AS y
        |  FROM lineitem),
        |m AS MATERIALIZED (
        |  SELECT l_returnflag, l_linestatus,
        |    CAST(count(*) AS HUGEINT) AS n,
        |    sum(x) AS sx, sum(y) AS sy,
        |    sum(x * y) AS sxy, sum(x * x) AS sxx
        |  FROM b GROUP BY 1, 2)
        |SELECT l_returnflag, l_linestatus, CAST(n AS BIGINT) AS n,
        |  CAST((CASE WHEN n * sxy - sx * sy < 0 THEN -1 ELSE 1 END) *
        |    ((abs(n * sxy - sx * sy) * 1000000) // (n * sxx - sx * sx))
        |    AS BIGINT) AS slope_micros,
        |  CAST((CASE WHEN sy * sxx - sx * sxy < 0 THEN -1 ELSE 1 END) *
        |    ((abs(sy * sxx - sx * sxy) * 1000000) // (n * sxx - sx * sx))
        |    AS BIGINT) AS intercept_micros
        |FROM m WHERE n * sxx - sx * sx > 0""".stripMargin,

    // q255: the fold replays as list_reduce over the identically-ordered
    // list — list_reduce seeds with the FIRST element, exactly ew₀ = v₀;
    // DuckDB `//` floors like Math.floorDiv. q256 (the same fold as a
    // 3-micro-batch stream with cross-batch state) shares it VERBATIM:
    // streaming must be indistinguishable from batch.
    "q255_ewma" -> ewmaOracle,
    "q256_stream_ewma" -> ewmaOracle,

    // q262: lead() over the same (tus, event_id) order; row-normalized
    // probabilities in exact floor micros
    "q262_event_transitions" ->
      """WITH ev AS MATERIALIZED (
        |  SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS tus,
        |    event_id, event_type
        |  FROM events),
        |p AS MATERIALIZED (
        |  SELECT event_type AS from_type, next_type AS to_type,
        |    CAST(count(*) AS BIGINT) AS n
        |  FROM (SELECT event_type, lead(event_type) OVER (
        |          PARTITION BY user_id ORDER BY tus, event_id) AS next_type
        |        FROM ev)
        |  WHERE next_type IS NOT NULL
        |  GROUP BY 1, 2),
        |t AS (SELECT from_type, CAST(sum(n) AS BIGINT) AS tot
        |      FROM p GROUP BY 1)
        |SELECT from_type, to_type, n,
        |  CAST((1000000 * n) // tot AS BIGINT) AS prob_micros
        |FROM p JOIN t USING (from_type)""".stripMargin,

    // q260: rules replay as plain joins; thresholds and the floor-micros
    // confidence/lift are pure integer arithmetic
    "q260_association_rules" ->
      """WITH su AS MATERIALIZED (
        |  SELECT DISTINCT l_orderkey AS k, l_partkey AS v FROM lineitem),
        |nn AS (SELECT CAST(count(DISTINCT k) AS BIGINT) AS n FROM su),
        |item AS MATERIALIZED (
        |  SELECT v, CAST(count(*) AS BIGINT) AS cnt FROM su GROUP BY 1),
        |pair AS MATERIALIZED (
        |  SELECT a.v AS ia, b.v AS ib, CAST(count(*) AS BIGINT) AS cp
        |  FROM su a JOIN su b ON a.k = b.k AND a.v < b.v
        |  GROUP BY 1, 2 HAVING count(*) >= 3),
        |bth AS (
        |  SELECT ia AS ante, ib AS cons, cp FROM pair
        |  UNION ALL SELECT ib, ia, cp FROM pair)
        |SELECT ante, cons, cp AS n_pair,
        |  CAST((1000000 * cp) // ca.cnt AS BIGINT) AS conf_micros,
        |  CAST((1000000 * nn.n * cp) // (ca.cnt * cc.cnt) AS BIGINT)
        |    AS lift_micros
        |FROM bth
        |JOIN item ca ON bth.ante = ca.v
        |JOIN item cc ON bth.cons = cc.v
        |CROSS JOIN nn""".stripMargin,

    // q261: integer week index (epoch-day div 7) — no calendar functions,
    // both engines agree by construction
    "q261_cohort_retention" ->
      """WITH ev AS MATERIALIZED (
        |  SELECT user_id,
        |    epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 // 7 AS wk
        |  FROM events),
        |f AS (SELECT user_id, min(wk) AS cw FROM ev GROUP BY 1)
        |SELECT cw AS cohort_week, wk - cw AS week_offset,
        |  CAST(count(DISTINCT ev.user_id) AS BIGINT) AS n_active
        |FROM ev JOIN f USING (user_id)
        |GROUP BY 1, 2""".stripMargin,

    // q259: q249's unroll with weighted contributions (w / Σw per src)
    "q259_pagerank_weighted" -> {
      val iters = (1 to 4).map { n =>
        s"""r$n AS MATERIALIZED (
           |  SELECT v.v, CAST(150000000 + coalesce(s.s, 0) AS BIGINT) AS r
           |  FROM vx v LEFT JOIN (
           |    SELECT e.dst AS v,
           |      sum((r.r * 85 * e.w) // (100 * sw.sw)) AS s
           |    FROM e JOIN r${n - 1} r ON e.src = r.v
           |    JOIN sw ON e.src = sw.src
           |    GROUP BY 1) s USING (v))""".stripMargin
      }.mkString(",\n")
      s"""$coOccurEdgeCtes,
         |sw AS MATERIALIZED (
         |  SELECT src, CAST(sum(w) AS BIGINT) AS sw FROM e GROUP BY 1),
         |vx AS MATERIALIZED (SELECT DISTINCT src AS v FROM e),
         |r0 AS MATERIALIZED (
         |  SELECT v, CAST(1000000000 AS BIGINT) AS r FROM vx),
         |$iters
         |SELECT v AS vertex, r AS rank_scaled FROM r4
         |ORDER BY r DESC, v LIMIT 20""".stripMargin
    },

    // q258: the oracle is EXHAUSTIVE — every pair sharing ≥1 shingle,
    // verified by the same rational-threshold integer arithmetic; the
    // Spark side must return exactly this set through prefix filtering
    "q258_setjoin_exact" ->
      s"""WITH sh AS MATERIALIZED (
         |  SELECT DISTINCT doc_id AS id, ${dTokHash60(
              "array_to_string(t[i:i+7], ' ')")} AS h
         |  FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents) d,
         |    LATERAL (SELECT unnest(range(1, len(t) - 6)) AS i) p
         |  WHERE len(t) >= 8),
         |sz AS MATERIALIZED (
         |  SELECT id, CAST(count(*) AS BIGINT) AS nsz FROM sh GROUP BY 1),
         |pairs AS MATERIALIZED (
         |  SELECT a.id AS ia, b.id AS ib, CAST(count(*) AS BIGINT) AS inter
         |  FROM sh a JOIN sh b ON a.h = b.h AND a.id < b.id
         |  GROUP BY 1, 2)
         |SELECT ia AS id_a, ib AS id_b, inter,
         |  CAST((1000000 * inter) // (na.nsz + nb.nsz - inter) AS BIGINT)
         |    AS jaccard_micros
         |FROM pairs
         |JOIN sz na ON pairs.ia = na.id
         |JOIN sz nb ON pairs.ib = nb.id
         |WHERE 9 * inter >= 4 * (na.nsz + nb.nsz)""".stripMargin,

    // q257: 8 peel rounds unrolled — equal to the fixed point because the
    // Spark side ASSERTS convergence within 8 (peeling is idempotent at
    // the fixed point, so extra unrolled rounds are no-ops)
    "q257_kcore" -> {
      val rounds = (1 to 8).map { i =>
        s"""k$i AS MATERIALIZED (
           |  SELECT v FROM (
           |    SELECT v, count(*) AS d FROM (
           |      SELECT a AS v FROM e${i - 1} UNION ALL SELECT b FROM e${i - 1})
           |    GROUP BY 1) WHERE d >= 60),
           |e$i AS MATERIALIZED (
           |  SELECT a, b FROM e${i - 1}
           |  WHERE a IN (SELECT v FROM k$i) AND b IN (SELECT v FROM k$i))"""
          .stripMargin
      }.mkString(",\n")
      s"""WITH su AS MATERIALIZED (
         |  SELECT DISTINCT l_orderkey AS k, l_partkey AS v FROM lineitem),
         |pw AS MATERIALIZED (
         |  SELECT a.v AS src, b.v AS dst, CAST(count(*) AS BIGINT) AS w
         |  FROM su a JOIN su b ON a.k = b.k AND a.v <> b.v
         |  GROUP BY 1, 2),
         |e AS MATERIALIZED (
         |  SELECT src, dst, w FROM (
         |    SELECT src, dst, w, row_number() OVER (
         |      PARTITION BY src ORDER BY w DESC, dst) AS rn FROM pw)
         |  WHERE rn <= 64),
         |e0 AS MATERIALIZED (
         |  SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
         |  FROM e),
         |$rounds
         |SELECT v, CAST(count(*) AS BIGINT) AS core_degree FROM (
         |  SELECT a AS v FROM e8 UNION ALL SELECT b FROM e8)
         |GROUP BY 1""".stripMargin
    },

    // q252: per-corner triangle credit over distinct-neighbor degree,
    // exact floor micros, top-20 (coeff desc, vertex asc)
    "q252_clustering" ->
      s"""$coOccurEdgeCtes,
         |und AS MATERIALIZED (
         |  SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
         |  FROM e),
         |deg AS MATERIALIZED (
         |  SELECT v, CAST(count(*) AS BIGINT) AS d FROM (
         |    SELECT a AS v FROM und UNION ALL SELECT b FROM und)
         |  GROUP BY 1),
         |tri AS MATERIALIZED (
         |  SELECT v, CAST(count(*) AS BIGINT) AS t FROM (
         |    SELECT unnest([e1.a, e1.b, e2.b]) AS v
         |    FROM und e1 JOIN und e2 ON e1.b = e2.a
         |    JOIN und e3 ON e3.a = e1.a AND e3.b = e2.b)
         |  GROUP BY 1)
         |SELECT deg.v AS vertex, deg.d AS degree,
         |  CAST(coalesce(tri.t, 0) AS BIGINT) AS triangles,
         |  CAST((2000000 * coalesce(tri.t, 0)) // (deg.d * (deg.d - 1))
         |    AS BIGINT) AS coeff_micros
         |FROM deg LEFT JOIN tri ON deg.v = tri.v
         |WHERE deg.d >= 2
         |ORDER BY coeff_micros DESC, vertex LIMIT 20""".stripMargin,

    // q248: keyframes (frame 0 + boundary frames) feed the shared band/
    // pair SQL — the corpus-wide video-dedup twin of q201
    "q248_keyframe_dedup" -> videoSceneOracle(
      s"""SELECT h1, h2, hamming, c1.n AS n1, c2.n AS n2 FROM (
         |  SELECT h1, h2, CAST(bit_count(xor(h1, h2)) AS INTEGER) AS hamming
         |  FROM (SELECT DISTINCT a.h AS h1, b.h AS h2
         |        FROM ib a JOIN ib b ON a.key = b.key AND a.h < b.h)
         |  WHERE bit_count(xor(h1, h2)) <= 3) isel
         |JOIN icnt c1 ON isel.h1 = c1.h
         |JOIN icnt c2 ON isel.h2 = c2.h""".stripMargin,
      withKeyframeCtes = true),

    // q265: the q191 index-match SQL over keyframe hashes — corpus band
    // table from DISTINCT corpus keyframe hashes, batch side DISTINCT
    // (id, h) (a keyframe recurring inside one video probes once),
    // candidates through shared band keys only. The leading comma
    // continues videoSceneOracle's keyframe CTE chain.
    // q266/q267: the synth block structure replayed arithmetically —
    // block b of a doc's non-empty tokens t covers t[8b..8b+7] (ragged
    // tail), tag cycles p/div/nav, link counts 0 / ⌊n/2⌋ (odd local
    // indices) / n, text = the slice joined by ' '. The Spark side
    // round-trips these numbers through real HTML bytes + the real
    // walker; the oracle never parses.
    "q266_html_blocks" ->
      """WITH t AS (
        |  SELECT doc_id, list_filter(string_split(text, ' '), w -> w <> '') AS t
        |  FROM documents),
        |b AS (
        |  SELECT doc_id, t, unnest(range(0, (len(t) + 7) // 8)) AS b FROM t),
        |blk AS (
        |  SELECT doc_id, b,
        |    CASE CAST(b % 3 AS INTEGER) WHEN 0 THEN 'p' WHEN 1 THEN 'div'
        |         ELSE 'nav' END AS tag,
        |    least(8, len(t) - 8 * b) AS nt,
        |    CASE CAST(b % 3 AS INTEGER) WHEN 0 THEN 0
        |         WHEN 1 THEN least(8, len(t) - 8 * b) // 2
        |         ELSE least(8, len(t) - 8 * b) END AS nl,
        |    array_to_string(
        |      list_slice(t, 8 * b + 1, 8 * b + least(8, len(t) - 8 * b)),
        |      ' ') AS txt
        |  FROM b)
        |SELECT doc_id, CAST(b AS INTEGER) AS block_idx, tag,
        |  CAST(nt AS INTEGER) AS n_tokens, CAST(nl AS INTEGER) AS n_link_tokens,
        |  CAST(nl * 1000000 // nt AS BIGINT) AS link_density_micros,
        |  md5(txt) AS text_md5
        |FROM blk""".stripMargin,

    "q267_html_extract" -> htmlExtractOracle,

    // q278: the whole crawl-to-clean ladder replayed arithmetically —
    // the dirtied token stream (boiler block + '{' + block-final '.'),
    // q266's block arithmetic, the q267 extraction verdict, then the
    // SHARED C4KeepRule and paragraphDedupBody fragments verbatim. The
    // oracle models the POST-normalize text: the `&#160;` entity dirt
    // never appears here because recovery decode + normalizeText must
    // erase it — either breaking shifts every md5
    "q278_crawl_to_clean" -> crawlToCleanOracle,

    // q275: q266's block arithmetic over the corrupted corpus — classes
    // 1/2 (truncation, stray closes) change NO text or counts once
    // recovered; class 3's entity decoration shifts only the p-block
    // first token, recomputed here from the raw token stream
    "q275_html_recovery" ->
      """WITH t AS (
        |  SELECT doc_id, list_filter(string_split(text, ' '), w -> w <> '') AS t
        |  FROM documents),
        |b AS (
        |  SELECT doc_id, t, unnest(range(0, (len(t) + 7) // 8)) AS b FROM t),
        |blk AS (
        |  SELECT doc_id, b,
        |    CASE CAST(b % 3 AS INTEGER) WHEN 0 THEN 'p' WHEN 1 THEN 'div'
        |         ELSE 'nav' END AS tag,
        |    least(8, len(t) - 8 * b) AS nt,
        |    CASE CAST(b % 3 AS INTEGER) WHEN 0 THEN 0
        |         WHEN 1 THEN least(8, len(t) - 8 * b) // 2
        |         ELSE least(8, len(t) - 8 * b) END AS nl,
        |    CASE WHEN doc_id % 4 = 3 AND b % 3 = 0 THEN
        |      '&<' || t[8 * b + 1] || '>"!' ||
        |      CASE WHEN least(8, len(t) - 8 * b) > 1 THEN ' ' ||
        |        array_to_string(list_slice(t, 8 * b + 2,
        |          8 * b + least(8, len(t) - 8 * b)), ' ')
        |      ELSE '' END
        |    ELSE array_to_string(
        |      list_slice(t, 8 * b + 1, 8 * b + least(8, len(t) - 8 * b)),
        |      ' ')
        |    END AS txt
        |  FROM b)
        |SELECT doc_id, CAST(b AS INTEGER) AS block_idx, tag,
        |  CAST(nt AS INTEGER) AS n_tokens, CAST(nl AS INTEGER) AS n_link_tokens,
        |  CAST(nl * 1000000 // nt AS BIGINT) AS link_density_micros,
        |  md5(txt) AS text_md5
        |FROM blk""".stripMargin,

    // q270: the stream must extract exactly what the batch path
    // extracts — q267's oracle text, shared by reference
    "q270_stream_html_extract" -> htmlExtractOracle,

    // q268: the synth link structure replayed arithmetically — div
    // blocks (b%3==1) emit '/w/'||tok at odd local indices, nav blocks
    // (b%3==2) emit '/nav/'||tok for every token; the oracle never
    // parses markup
    "q268_link_graph" -> linkGraphOracle,

    // q272: post-append index stats must equal the FULL-corpus rebuild —
    // q268's oracle text, shared by reference
    "q272_link_index_maintenance" -> linkGraphOracle,

    // q271: q268's edge arithmetic + both HITS iterations unrolled —
    // hugeint sums, (raw * 1e9) // max rescale, non-negative so // == div
    // q277: the cold-start fixed point, 14 rounds unrolled — the Spark
    // side asserts in-query that its cold run converged within 14, and
    // once two successive iterates are equal the map repeats, so round
    // 14 IS the fixed point the converged Spark output carries
    "q277_hits_warm_refresh" -> hitsFixedPointOracle(14),

    "q271_hits_authorities" ->
      """WITH t AS (
        |  SELECT doc_id, list_filter(string_split(text, ' '), w -> w <> '') AS t
        |  FROM documents),
        |b AS (
        |  SELECT doc_id, t, unnest(range(0, (len(t) + 7) // 8)) AS b FROM t),
        |l AS (
        |  SELECT doc_id, '/w/' || t[8 * b + j + 1] AS href
        |  FROM b, LATERAL (SELECT unnest(range(0,
        |    least(8, len(t) - 8 * b))) AS j) jj
        |  WHERE CAST(b % 3 AS INTEGER) = 1 AND j % 2 = 1
        |  UNION ALL
        |  SELECT doc_id, '/nav/' || t[8 * b + j + 1] AS href
        |  FROM b, LATERAL (SELECT unnest(range(0,
        |    least(8, len(t) - 8 * b))) AS j) jj
        |  WHERE CAST(b % 3 AS INTEGER) = 2),
        |e AS MATERIALIZED (SELECT DISTINCT doc_id AS src, href AS dst FROM l),
        |h0 AS (SELECT DISTINCT src, CAST(1000000000 AS BIGINT) AS h FROM e),
        |a1r AS MATERIALIZED (
        |  SELECT dst, sum(h) AS ar FROM e JOIN h0 USING (src) GROUP BY 1),
        |a1 AS MATERIALIZED (
        |  SELECT dst, CAST((ar * 1000000000) // (SELECT max(ar) FROM a1r)
        |    AS BIGINT) AS a FROM a1r),
        |h1r AS MATERIALIZED (
        |  SELECT src, sum(a) AS hr FROM e JOIN a1 USING (dst) GROUP BY 1),
        |h1 AS MATERIALIZED (
        |  SELECT src, CAST((hr * 1000000000) // (SELECT max(hr) FROM h1r)
        |    AS BIGINT) AS h FROM h1r),
        |a2r AS MATERIALIZED (
        |  SELECT dst, sum(h) AS ar FROM e JOIN h1 USING (src) GROUP BY 1)
        |SELECT dst AS target,
        |  CAST((ar * 1000000000) // (SELECT max(ar) FROM a2r) AS BIGINT)
        |    AS authority_scaled
        |FROM a2r
        |ORDER BY authority_scaled DESC, dst LIMIT 20""".stripMargin,

    // q269: the KN formula with MATCHING parentheses — (c2-0.75)/c1 +
    // ((0.75*n1f)/c1) * (n1b/nt), floored to micros per TYPE before the
    // per-doc sum; typ is both the scoring domain and the N1+ source
    "q269_kneser_ney" -> knBigramOracle,
    "q274_kneser_ney_indexed" -> knBigramOracle,
    "q279_bigram_bits_arrival" -> bigramBitsArrivalOracle,
    "q280_kneser_ney_arrival" -> knArrivalOracle,

    // q281/q282: the unigram-LM tokenizer — the oracle enumerates EVERY
    // composition of every word into vocabulary pieces (recursive CTE)
    // instead of running Viterbi, independently validating the DP and
    // its tie order (Vocab.unigramEmOracleSql scaladoc)
    "q281_unigram_em_segment" -> graft.functions.Vocab.unigramEmOracleSql(),

    // q294: the pruning schedule replayed round-for-round (3 rounds,
    // keep 50%, unrolled DP per round — the q287 spelling)
    "q294_unigram_pruned_em" -> graft.functions.Vocab
      .unigramEmPrunedOracleSql(
        maxPieceLen = graft.functions.Vocab.UnigramMaxPieceLen,
        topK = graft.functions.Vocab.UnigramTopK,
        source = "SELECT text FROM documents",
        maxWordLen = 8, rounds = 3, keepPct = 50),

    // q299: the same schedule over the %512-salted realistic word
    // space — q287's source and maxWordLen, q294's round chain
    "q299_unigram_pruned_salted" -> graft.functions.Vocab
      .unigramEmPrunedOracleSql(
        maxPieceLen = 4, topK = 4096,
        source = "SELECT regexp_replace(text, '(\\S+)', " +
          "'\\1~' || CAST(doc_id % 512 AS VARCHAR), 'g') AS text " +
          "FROM documents",
        maxWordLen = 12, rounds = 3, keepPct = 50),
    "q282_unigram_frozen_arrival" ->
      graft.functions.Vocab.unigramArrivalOracleSql(),

    // q287: the q281 EM chain over the salt-widened corpus, both
    // segmentation passes as UNROLLED DP (exhaustive enumeration over a
    // 12k-word vocabulary costs minutes; the DP spelling costs <1s and
    // the enumeration-vs-DP equivalence is exactly what q281 pins)
    "q287_unigram_salted" -> graft.functions.Vocab.unigramEmDpOracleSql(
      maxPieceLen = 4, topK = 4096,
      source = "SELECT regexp_replace(text, '(\\S+)', " +
        "'\\1~' || CAST(doc_id % 512 AS VARCHAR), 'g') AS text " +
        "FROM documents",
      maxWordLen = 12),

    // q283/q284: the exact-bits NB posterior (Classify.scala's quantized
    // formula, recomputed verbatim; margin = best − runner-up)
    "q283_nb_posterior" -> graft.functions.Classify.nbSelfOracleSql(),
    "q284_nb_frozen_arrival" -> graft.functions.Classify.nbArrivalOracleSql(),
    // q288/q289: the kernel + streaming forms share the join forms'
    // oracles verbatim — new plan, same numbers
    "q288_nb_kernel" -> graft.functions.Classify.nbSelfOracleSql(),
    "q289_stream_nb_router" -> graft.functions.Classify.nbArrivalOracleSql(),

    // q290: every cell and estimate from the same md5-prefix arithmetic;
    // q291: the arrival merge equals the full rebuild EXACTLY (the CMS
    // merge property), so it shares the rebuild oracle
    "q290_countmin" -> graft.functions.Sketch.cmsOracleSql(
      "SELECT regexp_replace(text, '(\\S+)', " +
        "'\\1~' || CAST(doc_id % 64 AS VARCHAR), 'g') AS text " +
        "FROM documents"),
    // q297: the sliding-window estimate must equal the REBUILD over the
    // live (non-expired) windows' corpus — the CMS merge property is
    // the gate; %61 salt is co-prime with the 4-window cadence
    "q297_cms_window" -> graft.functions.Sketch.cmsOracleSql(
      "SELECT regexp_replace(text, '(\\S+)', " +
        "'\\1~' || CAST(doc_id % 61 AS VARCHAR), 'g') AS text " +
        "FROM documents WHERE doc_id % 4 <> 0"),
    // q301: the decayed chain — per-window cells AND per-window exact
    // counts both right-shifted by age, summed, min'd
    "q301_cms_decayed" -> graft.functions.Sketch.cmsDecayedOracleSql(
      "SELECT doc_id % 4 AS win, regexp_replace(text, '(\\S+)', " +
        "'\\1~' || CAST(doc_id % 61 AS VARCHAR), 'g') AS text " +
        "FROM documents", curWin = 3L),
    "q291_cms_arrival" -> graft.functions.Sketch.cmsOracleSql(
      "SELECT regexp_replace(text, '(\\S+)', " +
        "'\\1~' || CAST(doc_id % 64 AS VARCHAR), 'g') AS text " +
        "FROM documents"),

    // q302/q303: the synth table grid recomputed arithmetically —
    // token i → table i%2, row (i div 2) div 3, col (i div 2) % 3, row
    // 0 is the header; q303's class-2 header cells carry the DECODED
    // entity decoration (NamedEntities-interpolated, glued — NBSP is
    // not whitespace to the cell tokenizer)
    "q302_html_tables" -> tableGridOracle,
    // q307 (the streaming walk) must land exactly the batch cells
    "q307_stream_html_tables" -> tableGridOracle,
    "q303_html_tables_recovery" -> {
      val nb = graft.functions.Html.entityText("nbsp")
      val md = graft.functions.Html.entityText("mdash")
      s"""WITH t AS (
         |  SELECT doc_id, list_filter(string_split(text, ' '), w -> w <> '')
         |    AS t
         |  FROM documents),
         |c AS (
         |  SELECT doc_id, i - 1 AS i0, t[i] AS w
         |  FROM t, LATERAL (SELECT unnest(range(1, len(t) + 1)) AS i) ii)
         |SELECT doc_id,
         |  CAST(i0 % 2 AS INTEGER) AS table_idx,
         |  CAST((i0 // 2) // 3 AS INTEGER) AS row_idx,
         |  CAST((i0 // 2) % 3 AS INTEGER) AS col_idx,
         |  ((i0 // 2) // 3 = 0) AS is_header,
         |  CASE WHEN doc_id % 3 = 2 AND (i0 // 2) // 3 = 0
         |       THEN '$nb' || w || '$md' ELSE w END AS text
         |FROM c""".stripMargin
    },

    // q305: body cells (row ≥ 1) of the q302 grid, header token derived
    // arithmetically — column c of table k is corpus token 2c + k
    "q305_table_records" -> {
      s"""WITH t AS (
         |  SELECT doc_id, list_filter(string_split(text, ' '), w -> w <> '')
         |    AS t
         |  FROM documents),
         |c AS (
         |  SELECT doc_id, i - 1 AS i0, t, t[i] AS w
         |  FROM t, LATERAL (SELECT unnest(range(1, len(t) + 1)) AS i) ii)
         |SELECT doc_id,
         |  CAST(i0 % 2 AS INTEGER) AS table_idx,
         |  CAST((i0 // 2) // 3 AS INTEGER) AS row_idx,
         |  t[2 * ((i0 // 2) % 3) + (i0 % 2) + 1] AS col_name,
         |  w AS value
         |FROM c WHERE (i0 // 2) // 3 >= 1""".stripMargin
    },

    // q310/q311: the EXPANDED span grid recomputed arithmetically —
    // the coverage CTE lives in Html.spanGridOracleCte (one Scala
    // constant feeds the renderer contract, the strict gate, the
    // recovery gate, and the records gate); q311's class-2 header and
    // caption cells carry the DECODED entity decoration
    "q310_html_span_tables" -> spanGridOracle(decorated = false),
    "q311_html_span_recovery" -> spanGridOracle(decorated = true),

    // q312: header-keyed records over the EXPANDED grid, NESTED
    // fixture (r15 verdict #1) — the outer layout table has no header
    // row so it yields ZERO records; the inner table (ordinal 1)
    // records exactly as before: cols 0-1 named by token 1 (the
    // colspan-2 header), col 2 by token 2; the rowspan body cell
    // records in BOTH covered rows; caption excluded
    "q312_span_table_records" -> {
      s"""WITH ${graft.functions.Html.spanGridOracleCte}
         |SELECT p.doc_id,
         |  CAST(1 AS INTEGER) AS table_idx,
         |  CAST(p.r AS INTEGER) AS row_idx,
         |  CASE WHEN p.cx <= 1 THEN t.t[2] ELSE t.t[3] END AS col_name,
         |  p.w AS value
         |FROM pos p JOIN t ON t.doc_id = p.doc_id
         |WHERE p.r >= 1""".stripMargin
    },

    // q324/q325: the nested two-table grid — the shared CTE keyed to
    // the inner ordinal + the layout table's constant cells; q325's
    // truncation class clips the wrapping cell to 'main' and carries
    // the q311 entity decoration on inner header/caption cells
    "q324_html_nested_tables" -> nestedGridOracle(decorated = false),
    "q325_html_nested_recovery" -> nestedGridOracle(decorated = true),

    // q330/q331: the list grid — Html.listGridOracleCte's arithmetic
    // items; q331's class-2 decoration lands on every PLAIN-text item
    // (the markup-bearing 'nav links' and the suspended 'main data'
    // wrapper stay undecorated — their regex never matched)
    "q330_html_lists" -> listGridOracle(decorated = false),
    "q331_html_lists_recovery" -> listGridOracle(decorated = true),
    // q333 (the in-stream walk) shares q330's oracle VERBATIM — the
    // stream must extract exactly what the batch walk extracts
    "q333_stream_html_lists" -> listGridOracle(decorated = false),

    // q313: the composed index-served stack — the BM25 leg replays as
    // q81's corpus-scan spelling (q300 proved index == scan), the dense
    // leg as q223's unrolled ADC+rerank chain (the SHARED
    // ivfAdcRerankChainCtes builder, predicate vec_id = 0), fused by
    // q241's RRF spelling verbatim
    "q313_indexed_rrf" -> {
      val lexSql = graft.functions.Relevance.bm25OracleSql(
        "documents", "doc_id", "text", Bm25Terms, topK = 100)
      s"""WITH ${ivfAdcRerankChainCtes("b.nn_id = 0")},
         |lex AS ($lexSql),
         |lexr AS (
         |  SELECT doc_id, CAST(row_number() OVER (
         |    ORDER BY score_micros DESC, doc_id) AS INTEGER) AS lr
         |  FROM lex),
         |dnr AS (
         |  SELECT nn_id AS doc_id, rk AS dr FROM adc_topk
         |  WHERE query_id = 0),
         |fused AS (
         |  SELECT doc_id,
         |    coalesce(lr, 0) AS lex_rank, coalesce(dr, 0) AS dense_rank
         |  FROM lexr FULL JOIN dnr USING (doc_id))
         |SELECT doc_id, lex_rank, dense_rank,
         |CAST(floor(1000000.0 * (
         |  CASE WHEN lex_rank > 0
         |    THEN CAST(1 AS DOUBLE) / (60.0 + lex_rank) ELSE 0 END +
         |  CASE WHEN dense_rank > 0
         |    THEN CAST(1 AS DOUBLE) / (60.0 + dense_rank) ELSE 0 END))
         |  AS BIGINT) AS rrf_micros
         |FROM fused
         |ORDER BY rrf_micros DESC, doc_id LIMIT 20""".stripMargin
    },

    // q326/q327: the multi-query composed stack — q313's per-query
    // chain instantiated once per MultiQueryTerms entry (each query's
    // lexical leg = q81's corpus-scan spelling with ITS terms; the
    // dense legs share ONE ADC+rerank chain over all three probes) and
    // unioned. q327 (queries arriving in-stream, served per
    // micro-batch) shares it VERBATIM — a dropped or double-served
    // query diverges the hash.
    "q326_indexed_rrf_batch" -> indexedRrfBatchOracle,
    "q327_stream_query_arrival" -> indexedRrfBatchOracle,

    // q292: all-occurrences counts by brute positional enumeration;
    // q295 (versioned-artifact arrival) and q296 (streaming screen)
    // must produce exactly the batch screen — same oracle verbatim
    "q292_blocklist_screen" -> graft.functions.Curation.blocklistOracleSql,
    "q295_blocklist_tap" -> graft.functions.Curation.blocklistOracleSql,
    "q296_stream_blocklist" -> graft.functions.Curation.blocklistOracleSql,

    // q293: the q281 DP chain's per-word piece counts through the q128
    // packing arithmetic (max core word length 8 on the plain corpus)
    "q293_tokenize_and_pack" -> graft.functions.Vocab.unigramPackOracleSql(
      maxPieceLen = 4, topK = 256, maxWordLen = 8,
      budget = 512L, substreams = 4),

    // q285/q286: PII scrub — rule table shared with the Spark side
    // (Curation.PiiRules), dirt planted on the same residues; the
    // streaming form shares the batch oracle verbatim (the q270
    // discipline)
    "q285_pii_scrub" -> piiScrubOracle,
    "q286_stream_pii_screen" -> piiScrubOracle,

    // q317: card candidates gated on the REPLAYED Luhn arithmetic; the
    // %19 decoy is shape-matching but checksum-invalid and must survive
    // into clean_md5 unredacted
    "q317_pii_card" -> {
      val C = graft.functions.Curation
      val aug = "text" +
        " || CASE WHEN doc_id % 17 = 0 THEN ' pay 4111 1111 1111 1111 ok' ELSE '' END" +
        " || CASE WHEN doc_id % 19 = 0 THEN ' order 1234 5678 9012 3456 ref' ELSE '' END" +
        " || CASE WHEN doc_id % 23 = 0 THEN ' card 4111-1111-1111-1111 bill' ELSE '' END"
      s"""WITH aug AS (SELECT doc_id, $aug AS text FROM documents)
         |SELECT doc_id,
         |  ${C.cardCountOracleExpr("text")} AS n_cards,
         |  ${C.cardMatchesOracleExpr("text")} AS cards_found,
         |  md5(${C.cardScrubOracleExpr(C.piiScrubOracleExpr("text"))})
         |    AS clean_md5
         |FROM aug""".stripMargin
    },

    // q318: q264's bigram surprisal chain quantized to centibits per
    // bigram, q172's CDF spelling, q84's hash keep — composed
    "q318_perplexity_mixture" -> {
      val keep = graft.functions.Governance.oracleHashBucket(
        "doc_id", "graft-ccnet")
      s"""WITH t AS (
         |  SELECT doc_id, string_split(text, ' ') AS t FROM documents),
         |pos AS MATERIALIZED (
         |  SELECT doc_id, t[i] AS prev, t[i] || ' ' || t[i + 1] AS bg
         |  FROM t, LATERAL (SELECT unnest(range(1, len(t))) AS i) ii
         |  WHERE len(t) >= 2),
         |ctx AS MATERIALIZED (
         |  SELECT prev, count(*) AS c1 FROM pos GROUP BY 1),
         |bic AS MATERIALIZED (
         |  SELECT bg, count(*) AS c2 FROM pos GROUP BY 1),
         |bsc AS (
         |  SELECT p.doc_id,
         |    (length(bin(c.c1)) - 1) - (length(bin(b.c2)) - 1) AS bits
         |  FROM pos p JOIN ctx c USING (prev) JOIN bic b USING (bg)),
         |per AS (
         |  SELECT doc_id,
         |    CAST(sum(bits) AS BIGINT) * 100 // count(*) AS ppl_cb
         |  FROM bsc GROUP BY 1),
         |sc AS (
         |  SELECT d.doc_id, d.source, CAST(p.ppl_cb AS BIGINT) AS ppl_cb
         |  FROM documents d JOIN per p USING (doc_id)),
         |c AS (SELECT source, ppl_cb, count(*) AS n FROM sc GROUP BY 1, 2),
         |cc AS (SELECT source, ppl_cb,
         |    sum(n) OVER (PARTITION BY source ORDER BY ppl_cb) AS cum,
         |    sum(n) OVER (PARTITION BY source) AS tot FROM c),
         |pct AS (
         |  SELECT s.doc_id, s.source, s.ppl_cb,
         |    CAST(floor(cum * 1000000 / tot) AS BIGINT) AS pct_micros
         |  FROM sc s JOIN cc USING (source, ppl_cb)),
         |b AS (SELECT doc_id, source, ppl_cb, pct_micros,
         |    CASE WHEN pct_micros <= 333333 THEN 'head'
         |         WHEN pct_micros <= 666666 THEN 'middle'
         |         ELSE 'tail' END AS bucket FROM pct)
         |SELECT doc_id, source, ppl_cb, pct_micros, bucket FROM b
         |WHERE $keep < CASE bucket WHEN 'head' THEN 100
         |  WHEN 'middle' THEN 50 ELSE 10 END""".stripMargin
    },

    // q328: the SHARED knBigramCtes fragment (q269/q274's spelling)
    // per-doc-averaged and negated, through q172's CDF spelling and
    // q84's hash keep — the q318 composition on the trained LM signal
    "q328_kn_perplexity_mixture" -> {
      val keep = graft.functions.Governance.oracleHashBucket(
        "doc_id", "graft-ccnet-kn")
      s"""WITH ${knBigramCtes()},
         |per AS (
         |  SELECT doc_id, -(CAST(km AS BIGINT) // n_bi) AS neg_kn
         |  FROM agg WHERE n_bi >= 1),
         |sc2 AS (
         |  SELECT d.doc_id, d.source, CAST(p.neg_kn AS BIGINT) AS neg_kn
         |  FROM documents d JOIN per p USING (doc_id)),
         |c2c AS (SELECT source, neg_kn, count(*) AS n
         |  FROM sc2 GROUP BY 1, 2),
         |cc AS (SELECT source, neg_kn,
         |    sum(n) OVER (PARTITION BY source ORDER BY neg_kn) AS cum,
         |    sum(n) OVER (PARTITION BY source) AS tot FROM c2c),
         |pct AS (
         |  SELECT s.doc_id, s.source, s.neg_kn,
         |    CAST(floor(cum * 1000000 / tot) AS BIGINT) AS pct_micros
         |  FROM sc2 s JOIN cc USING (source, neg_kn)),
         |b AS (SELECT doc_id, source, neg_kn, pct_micros,
         |    CASE WHEN pct_micros <= 333333 THEN 'head'
         |         WHEN pct_micros <= 666666 THEN 'middle'
         |         ELSE 'tail' END AS bucket FROM pct)
         |SELECT doc_id, source, neg_kn, pct_micros, bucket FROM b
         |WHERE $keep < CASE bucket WHEN 'head' THEN 100
         |  WHEN 'middle' THEN 50 ELSE 10 END""".stripMargin
    },

    // q332: the whole CCNet chain replayed fragment by fragment — the
    // q188 lid CTEs filter, the q211 paragraph spelling strips, the
    // shared knBigramCtes scores the CLEANED corpus, q172's CDF and
    // q84's keep sample the mixture
    "q332_ccnet_pipeline" -> {
      val keep = graft.functions.Governance.oracleHashBucket(
        "doc_id", "graft-ccnet-pipe")
      s"""WITH ${langIdProfileCtes()},
         |ckept AS MATERIALIZED (
         |  SELECT d.doc_id, d.source, d.text
         |  FROM documents d JOIN lid USING (doc_id)
         |  WHERE lid.lang_pred <> 'unknown'),
         |caug AS (
         |  SELECT doc_id, text ||
         |    CASE WHEN doc_id % 3 = 0 THEN chr(10) || '$Boiler1'
         |         ELSE '' END ||
         |    CASE WHEN doc_id % 5 = 0 THEN chr(10) || '$Boiler2'
         |         ELSE '' END AS text
         |  FROM ckept),
         |cparas AS (
         |  SELECT doc_id, CAST(pos AS BIGINT) AS ppos, p[pos] AS para
         |  FROM (SELECT doc_id, string_split(text, chr(10)) AS p FROM caug),
         |  LATERAL (SELECT unnest(range(1, len(p) + 1)) AS pos) r),
         |cboiler AS (
         |  SELECT h FROM (
         |    SELECT DISTINCT
         |      CAST(concat('0x', substr(md5(para), 1, 15)) AS BIGINT) AS h,
         |      doc_id
         |    FROM cparas) GROUP BY 1 HAVING count(*) >= 3),
         |ckeptp AS (
         |  SELECT p.doc_id, p.ppos, p.para FROM cparas p
         |  LEFT JOIN cboiler ON CAST(concat('0x',
         |      substr(md5(p.para), 1, 15)) AS BIGINT) = cboiler.h
         |  WHERE cboiler.h IS NULL),
         |cagg AS (
         |  SELECT doc_id,
         |    string_agg(para, chr(10) ORDER BY ppos) AS clean_text
         |  FROM ckeptp GROUP BY doc_id),
         |cclean AS MATERIALIZED (
         |  SELECT k.doc_id,
         |    replace(coalesce(a.clean_text, ''), chr(10), ' ') AS text
         |  FROM ckept k LEFT JOIN cagg a USING (doc_id)),
         |${knBigramCtes(corpus = "cclean")},
         |cper AS (
         |  SELECT doc_id, -(CAST(km AS BIGINT) // n_bi) AS neg_kn
         |  FROM agg WHERE n_bi >= 1),
         |csc AS (
         |  SELECT k.doc_id, k.source, CAST(p.neg_kn AS BIGINT) AS neg_kn
         |  FROM ckept k JOIN cper p USING (doc_id)),
         |ccnt AS (SELECT source, neg_kn, count(*) AS n
         |  FROM csc GROUP BY 1, 2),
         |ccdf AS (SELECT source, neg_kn,
         |    sum(n) OVER (PARTITION BY source ORDER BY neg_kn) AS cum,
         |    sum(n) OVER (PARTITION BY source) AS tot FROM ccnt),
         |cpct AS (
         |  SELECT s.doc_id, s.source, s.neg_kn,
         |    CAST(floor(cum * 1000000 / tot) AS BIGINT) AS pct_micros
         |  FROM csc s JOIN ccdf USING (source, neg_kn)),
         |cb AS (SELECT doc_id, source, neg_kn, pct_micros,
         |    CASE WHEN pct_micros <= 333333 THEN 'head'
         |         WHEN pct_micros <= 666666 THEN 'middle'
         |         ELSE 'tail' END AS bucket FROM cpct)
         |SELECT doc_id, source, neg_kn, pct_micros, bucket FROM cb
         |WHERE $keep < CASE bucket WHEN 'head' THEN 100
         |  WHEN 'middle' THEN 50 ELSE 10 END""".stripMargin
    },

    // q319: the waterfill closed form replayed — sorted-cap prefix
    // sums, the valid prefix's floored level, per-source min(cap, λ)
    "q319_token_budget" ->
      """WITH per AS (
        |  SELECT source,
        |    CAST(sum(len(list_filter(string_split(text, ' '),
        |      w -> w <> ''))) AS BIGINT) AS avail
        |  FROM documents GROUP BY 1),
        |b AS (SELECT CAST((39 * sum(avail)) // 10 AS BIGINT) AS budget
        |      FROM per),
        |caps AS (SELECT source, avail,
        |    CAST(avail * 4 AS BIGINT) AS cap FROM per),
        |ranked AS (
        |  SELECT source, avail, cap,
        |    row_number() OVER (ORDER BY cap, source) AS rk,
        |    CAST(coalesce(sum(cap) OVER (ORDER BY cap, source
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS BIGINT) AS cum_prev,
        |    lag(cap) OVER (ORDER BY cap, source) AS prev_cap,
        |    count(*) OVER () AS n
        |  FROM caps),
        |lamq AS (
        |  SELECT CAST(min(((SELECT budget FROM b) - cum_prev)
        |    // (n - rk + 1)) AS BIGINT) AS lam
        |  FROM ranked
        |  WHERE ((SELECT budget FROM b) - cum_prev) // (n - rk + 1) < cap
        |    AND (rk = 1 OR prev_cap <=
        |      ((SELECT budget FROM b) - cum_prev) // (n - rk + 1)))
        |SELECT c.source, c.avail AS avail_tokens, c.cap AS cap_tokens,
        |  CAST(least(c.cap, (SELECT lam FROM lamq)) AS BIGINT)
        |    AS served_tokens,
        |  CAST(least(c.cap, (SELECT lam FROM lamq)) * 1000000 // c.avail
        |    AS BIGINT) AS epochs_micros,
        |  c.cap = least(c.cap, (SELECT lam FROM lamq)) AS capped
        |FROM caps c""".stripMargin,


    "q265_video_keyframe_index" -> videoSceneOracle(
      s""",vch AS MATERIALIZED (
         |  SELECT DISTINCT h FROM kf WHERE doc_id % 10 <> 7),
         |vcb AS MATERIALIZED (${dhashBandSql("vch")}),
         |vbh AS MATERIALIZED (
         |  SELECT DISTINCT doc_id AS id, h AS bh FROM kf
         |  WHERE doc_id % 10 = 7),
         |vbdist AS MATERIALIZED (SELECT DISTINCT bh AS h FROM vbh),
         |vbb AS MATERIALIZED (${dhashBandSql("vbdist")}),
         |vcand AS MATERIALIZED (
         |  SELECT DISTINCT b.h AS bh, c.h AS ch
         |  FROM vbb b JOIN vcb c ON b.key = c.key
         |  WHERE bit_count(xor(b.h, c.h)) <= 3)
         |SELECT vbh.id, vcand.ch AS corpus_h,
         |  CAST(bit_count(xor(vcand.bh, vcand.ch)) AS INTEGER) AS hamming
         |FROM vbh JOIN vcand ON vbh.bh = vcand.bh""".stripMargin,
      withKeyframeCtes = true),

    // q243: the whole feedback loop replayed in SQL — original leg from
    // the literal generator, expansion terms re-mined (count desc, tok
    // asc, originals excluded), expansion leg via term-ROW scoring
    // (order-free integer micros), 3:2 blend in integer division
    "q243_rm3_feedback" -> {
      val R = graft.functions.Relevance
      val lexSql = R.bm25OracleSql(
        "documents", "doc_id", "text", Bm25Terms, topK = 100)
      val termList = Bm25Terms.map(t => s"'$t'").mkString(", ")
      s"""WITH lex AS ($lexSql),
         |fb AS (
         |  SELECT doc_id FROM lex
         |  ORDER BY score_micros DESC, doc_id LIMIT 10),
         |mined AS (
         |  SELECT tok FROM (
         |    SELECT unnest(string_split(text, ' ')) AS tok
         |    FROM documents JOIN fb USING (doc_id))
         |  WHERE tok NOT IN ($termList)
         |  GROUP BY tok ORDER BY count(*) DESC, tok LIMIT 5),
         |${R.bm25OracleSqlTermRows(
              "documents", "doc_id", "text", "mined", "e", topK = 100)},
         |blended AS (
         |  SELECT coalesce(l.doc_id, e.doc_id) AS doc_id,
         |    coalesce(l.score_micros, 0) AS orig_micros,
         |    coalesce(e.score_micros, 0) AS exp_micros
         |  FROM lex l FULL JOIN escored e ON l.doc_id = e.doc_id)
         |SELECT doc_id, orig_micros, exp_micros,
         |CAST((3 * orig_micros + 2 * exp_micros) // 5 AS BIGINT)
         |  AS blend_micros
         |FROM blended ORDER BY blend_micros DESC, doc_id LIMIT 20""".stripMargin
    },

    // q242: per-class thresholds replayed with the identical double op
    // order (shared threshold-expression generator; s_norm through
    // decimal(38,6) so partial-agg order cannot shift it), keep set via
    // the exact-int64 rate predicate
    "q242_temperature_sample" -> {
      val G = graft.functions.Governance
      s"""WITH stats AS (
         |  SELECT lang, CAST(count(*) AS BIGINT) AS n_d
         |  FROM documents GROUP BY 1),
         |norm AS (
         |  SELECT CAST(sum(n_d) AS BIGINT) AS n_total,
         |    CAST(sum(CAST(sqrt(CAST(n_d AS DOUBLE))
         |      AS DECIMAL(38,6))) AS DOUBLE) AS s_norm
         |  FROM stats),
         |thresh AS (
         |  SELECT lang, ${G.oracleTemperatureThreshold(0.3)} AS keep_micros
         |  FROM stats CROSS JOIN norm)
         |SELECT doc_id, lang, keep_micros
         |FROM documents JOIN thresh USING (lang)
         |WHERE ${G.oracleRateKeep("doc_id", "keep_micros", "graft-r11-temp")}""".stripMargin
    },

    // q241: both legs replayed at depth 100 (the BM25 CTE is generated
    // from the same Scala constants as the Spark plan; the dense leg is
    // the ordered-fold cosine), ranks fused as 1/(60+rank) with one
    // IEEE division per leg and a floor-micros quantization
    "q241_hybrid_rrf" -> {
      val lexSql = graft.functions.Relevance.bm25OracleSql(
        "documents", "doc_id", "text", Bm25Terms, topK = 100)
      s"""WITH lex AS ($lexSql),
         |lexr AS (
         |  SELECT doc_id, CAST(row_number() OVER (
         |    ORDER BY score_micros DESC, doc_id) AS INTEGER) AS lr
         |  FROM lex),
         |qv AS (SELECT embedding AS q FROM embeddings WHERE vec_id = 0),
         |dn AS (
         |  SELECT vec_id AS doc_id, ${dCos("embedding", "q")} AS sim
         |  FROM embeddings CROSS JOIN qv WHERE vec_id <> 0),
         |dnr AS (
         |  SELECT doc_id, CAST(row_number() OVER (
         |    ORDER BY sim DESC, doc_id) AS INTEGER) AS dr
         |  FROM dn ORDER BY sim DESC, doc_id LIMIT 100),
         |fused AS (
         |  SELECT doc_id,
         |    coalesce(lr, 0) AS lex_rank, coalesce(dr, 0) AS dense_rank
         |  FROM lexr FULL JOIN dnr USING (doc_id))
         |SELECT doc_id, lex_rank, dense_rank,
         |CAST(floor(1000000.0 * (
         |  CASE WHEN lex_rank > 0
         |    THEN CAST(1 AS DOUBLE) / (60.0 + lex_rank) ELSE 0 END +
         |  CASE WHEN dense_rank > 0
         |    THEN CAST(1 AS DOUBLE) / (60.0 + dense_rank) ELSE 0 END))
         |  AS BIGINT) AS rrf_micros
         |FROM fused
         |ORDER BY rrf_micros DESC, doc_id LIMIT 20""".stripMargin
    },

    // incremental SemDeDup: the day-2 verdict recomputed FROM SCRATCH
    // against day0+day1 (the q133 twin trick — the oracle has no index,
    // so a missing append leg diverges immediately)
    "q199_semdedup_incremental" ->
      s"""WITH base AS (SELECT vec_id, embedding FROM embeddings),
         |day0 AS MATERIALIZED (
         |  SELECT vec_id, embedding FROM base
         |  WHERE vec_id % 10 <> 7 AND vec_id % 10 <> 8),
         |day1 AS MATERIALIZED (
         |  SELECT vec_id, embedding FROM base WHERE vec_id % 10 = 8
         |  UNION ALL
         |  SELECT vec_id + 100000, embedding FROM day0 WHERE vec_id % 50 = 0),
         |corpus AS MATERIALIZED (
         |  SELECT vec_id AS corpus_id, embedding AS cvec,
         |    ${dBucket("embedding", 8)} AS bucket
         |  FROM (SELECT * FROM day0 UNION ALL SELECT * FROM day1)),
         |day2 AS MATERIALIZED (
         |  SELECT vec_id, embedding FROM base WHERE vec_id % 10 = 7
         |  UNION ALL
         |  SELECT vec_id + 300000, embedding FROM base WHERE vec_id % 20 = 8
         |  UNION ALL
         |  SELECT vec_id + 200000, list_transform(embedding, (x, i) ->
         |    CASE WHEN i = 1 THEN CAST(x + CAST(0.25 AS FLOAT) AS FLOAT)
         |         ELSE x END)
         |  FROM base WHERE vec_id % 20 = 18),
         |bb AS MATERIALIZED (
         |  SELECT vec_id AS id, embedding AS vec,
         |    ${dBucket("embedding", 8)} AS bucket FROM day2),
         |m AS (
         |  SELECT b.id, c.corpus_id, ${dCos("b.vec", "c.cvec")} AS sim
         |  FROM bb b JOIN corpus c USING (bucket)
         |  WHERE ${dCos("b.vec", "c.cvec")} >= 0.95),
         |drops AS (
         |  SELECT id, CAST(min(corpus_id) AS BIGINT) AS dup_of,
         |    CAST(count(*) AS BIGINT) AS n_corpus_dups,
         |    max(sim) AS best_sim
         |  FROM m GROUP BY 1)
         |SELECT b.id, d.dup_of IS NULL AS kept, d.dup_of,
         |  CAST(coalesce(d.n_corpus_dups, 0) AS BIGINT) AS n_corpus_dups,
         |  d.best_sim
         |FROM bb b LEFT JOIN drops d ON b.id = d.id""".stripMargin,

    // wide (60-bit) winnow-index twin: identical SELECT to q180's
    // oracle, fingerprint CTE at the 15-hex-nibble key (q176 precedent)
    "q194_winnow_index_wide" ->
      s"""WITH ${winnowWideCte("cw", "doc_id % 10 <> 7")},
         |${winnowWideCte("bw", "doc_id % 10 = 7")}
         |SELECT b.doc_id AS id, c.doc_id AS corpus_id,
         |  CAST(count(DISTINCT b.h) AS BIGINT) AS n_shared
         |FROM bw b JOIN cw c ON b.h = c.h
         |GROUP BY 1, 2
         |HAVING count(DISTINCT b.h) >= 2""".stripMargin,

    // wide twin of q186's unrolled propagation — same round structure,
    // 60-bit fingerprint CTE
    "q195_winnow_clusters_wide" -> {
      val rounds = 40
      val iterCtes = (1 to rounds).map { i =>
        s"""bl$i AS MATERIALIZED (SELECT b.key, min(l.label) AS blabel
           |  FROM bands b JOIN l${i - 1} l ON b.doc_id = l.id GROUP BY 1),
           |l$i AS MATERIALIZED (SELECT b.doc_id AS id, min(x.blabel) AS label
           |  FROM bands b JOIN bl$i x ON b.key = x.key
           |  GROUP BY 1)""".stripMargin
      }.mkString(",\n")
      s"""WITH ${winnowWideCte("fp", "TRUE", w = 8)},
         |sh AS MATERIALIZED (SELECT h FROM fp GROUP BY h
         |       HAVING count(DISTINCT doc_id) >= 2),
         |bands AS MATERIALIZED (
         |  SELECT DISTINCT fp.doc_id, CAST(fp.h AS VARCHAR) AS key
         |  FROM fp JOIN sh USING (h)),
         |l0 AS MATERIALIZED (SELECT DISTINCT doc_id AS id, doc_id AS label FROM bands),
         |$iterCtes
         |SELECT d.doc_id AS id,
         |  coalesce(l$rounds.label, d.doc_id) AS cluster_id
         |FROM documents d LEFT JOIN l$rounds ON d.doc_id = l$rounds.id""".stripMargin
    },

    // wide twin of q187: the same two unrolled propagations over 60-bit
    // fingerprint CTEs
    "q196_winnow_incremental_wide" -> {
      val rounds = 40
      val iRounds = 40
      def unroll(prefix: String, bands: String,
                 nRounds: Int = rounds): String =
        (1 to nRounds).map { i =>
          s"""${prefix}bl$i AS MATERIALIZED (SELECT b.key, min(l.label) AS blabel
             |  FROM $bands b JOIN ${prefix}l${i - 1} l ON b.id = l.id
             |  GROUP BY 1),
             |${prefix}l$i AS MATERIALIZED (SELECT b.id, min(x.blabel) AS label
             |  FROM $bands b JOIN ${prefix}bl$i x ON b.key = x.key
             |  GROUP BY 1)""".stripMargin
        }.mkString(",\n")
      s"""WITH ${winnowWideCte("cfp", "doc_id % 10 <> 7", w = 8)},
         |${winnowWideCte("bfp0", "doc_id % 10 = 7", w = 8)},
         |csh AS MATERIALIZED (SELECT h FROM cfp GROUP BY h
         |        HAVING count(DISTINCT doc_id) >= 2),
         |cbands AS MATERIALIZED (
         |  SELECT DISTINCT cfp.doc_id AS id, CAST(cfp.h AS VARCHAR) AS key
         |  FROM cfp JOIN csh USING (h)),
         |cl0 AS MATERIALIZED (SELECT DISTINCT id, id AS label FROM cbands),
         |${unroll("c", "cbands")},
         |fam AS MATERIALIZED (
         |  SELECT d.doc_id AS id, coalesce(cl$rounds.label, d.doc_id)
         |    AS family_id
         |  FROM documents d LEFT JOIN cl$rounds ON d.doc_id = cl$rounds.id
         |  WHERE d.doc_id % 10 <> 7),
         |bfp AS MATERIALIZED (SELECT DISTINCT doc_id, h FROM bfp0),
         |touched AS MATERIALIZED (SELECT DISTINCT h FROM bfp),
         |cm AS MATERIALIZED (SELECT DISTINCT cfp.doc_id AS corpus_id, cfp.h
         |       FROM cfp JOIN touched USING (h)),
         |ibands AS MATERIALIZED (
         |  SELECT doc_id AS id, CAST(h AS VARCHAR) AS key FROM bfp
         |  UNION
         |  SELECT corpus_id AS id, CAST(h AS VARCHAR) AS key FROM cm
         |  UNION
         |  SELECT f.id, concat('f', CAST(f.family_id AS VARCHAR)) AS key
         |  FROM fam f WHERE f.id IN (SELECT corpus_id FROM cm)),
         |il0 AS MATERIALIZED (
         |  SELECT n.id, coalesce(f.family_id, n.id) AS label
         |  FROM (SELECT DISTINCT id FROM ibands) n
         |  LEFT JOIN fam f ON n.id = f.id),
         |${unroll("i", "ibands", iRounds)}
         |SELECT d.doc_id AS id, coalesce(il$iRounds.label, d.doc_id)
         |  AS family_id
         |FROM documents d LEFT JOIN il$iRounds ON d.doc_id = il$iRounds.id
         |WHERE d.doc_id % 10 = 7""".stripMargin
    },

    // perceptual image dedup: same pixel synth, MSB-first doubling fold,
    // band-folded keys, exact-dup collapse, Hamming verify
    "q190_image_dhash" ->
      s"""WITH $dhashCtes,
         |icnt AS MATERIALIZED (
         |  SELECT h, CAST(count(*) AS BIGINT) AS n FROM idh GROUP BY 1),
         |ib AS MATERIALIZED (
         |  ${dhashBandSql("(SELECT h FROM icnt)")}),
         |ipr AS MATERIALIZED (
         |  SELECT DISTINCT a.h AS h1, b.h AS h2
         |  FROM ib a JOIN ib b ON a.key = b.key AND a.h < b.h),
         |isel AS (
         |  SELECT h1, h2, CAST(bit_count(xor(h1, h2)) AS INTEGER) AS hamming
         |  FROM ipr WHERE bit_count(xor(h1, h2)) <= 3)
         |SELECT h1, h2, hamming, c1.n AS n1, c2.n AS n2
         |FROM isel
         |JOIN icnt c1 ON isel.h1 = c1.h
         |JOIN icnt c2 ON isel.h2 = c2.h""".stripMargin,

    // batch-vs-index image match: the same split as q180 (%10), corpus
    // hashes banded, batch candidates Hamming-verified, reported per
    // batch image id
    "q191_image_dhash_index" ->
      s"""WITH $dhashCtes,
         |ch AS MATERIALIZED (
         |  SELECT DISTINCT h FROM idh WHERE doc_id % 10 <> 7),
         |cb AS MATERIALIZED (${dhashBandSql("ch")}),
         |bh AS MATERIALIZED (
         |  SELECT doc_id AS id, h AS bh FROM idh WHERE doc_id % 10 = 7),
         |bdist AS MATERIALIZED (SELECT DISTINCT bh AS h FROM bh),
         |bb AS MATERIALIZED (${dhashBandSql("bdist")}),
         |cand AS MATERIALIZED (
         |  SELECT DISTINCT b.h AS bh, c.h AS ch
         |  FROM bb b JOIN cb c ON b.key = c.key
         |  WHERE bit_count(xor(b.h, c.h)) <= 3)
         |SELECT bh.id, cand.ch AS corpus_h,
         |  CAST(bit_count(xor(cand.bh, cand.ch)) AS INTEGER) AS hamming
         |FROM bh JOIN cand ON bh.bh = cand.bh""".stripMargin,

    // the streaming arrival must flag exactly what the q191 batch path
    // flags — same oracle text
    "q193_stream_image_dhash" ->
      s"""WITH $dhashCtes,
         |ch AS MATERIALIZED (
         |  SELECT DISTINCT h FROM idh WHERE doc_id % 10 <> 7),
         |cb AS MATERIALIZED (${dhashBandSql("ch")}),
         |bh AS MATERIALIZED (
         |  SELECT doc_id AS id, h AS bh FROM idh WHERE doc_id % 10 = 7),
         |bdist AS MATERIALIZED (SELECT DISTINCT bh AS h FROM bh),
         |bb AS MATERIALIZED (${dhashBandSql("bdist")}),
         |cand AS MATERIALIZED (
         |  SELECT DISTINCT b.h AS bh, c.h AS ch
         |  FROM bb b JOIN cb c ON b.key = c.key
         |  WHERE bit_count(xor(b.h, c.h)) <= 3)
         |SELECT bh.id, cand.ch AS corpus_h,
         |  CAST(bit_count(xor(cand.bh, cand.ch)) AS INTEGER) AS hamming
         |FROM bh JOIN cand ON bh.bh = cand.bh""".stripMargin,

    // ANN recall audit: same Lloyd CTEs as q66/q131, exact top-10 via the
    // raw-float cosine (q28's spelling), one probe/score chain per nprobe,
    // integer hit counts against the exact pair set
    "q189_ann_recall" -> {
      val ks = 10
      def perProbe(np: Int): String =
        s"""p$np AS MATERIALIZED (
           |  SELECT query_id, q_vec, cent FROM (
           |    SELECT b.nn_id AS query_id, b.embedding AS q_vec,
           |    c.cent_id AS cent,
           |    row_number() OVER (PARTITION BY b.nn_id
           |      ORDER BY ${dCos("b.q", "c.cent_q")} DESC, c.cent_id ASC) AS rn
           |    FROM qbase b CROSS JOIN c2 c
           |    WHERE b.nn_id IN (SELECT nn_id FROM probesel))
           |  WHERE rn <= $np),
           |s$np AS MATERIALIZED (
           |  SELECT query_id, nn_id FROM (
           |    SELECT query_id, nn_id,
           |    row_number() OVER (PARTITION BY query_id
           |      ORDER BY sim DESC, nn_id ASC) AS rk
           |    FROM (SELECT DISTINCT query_id, nn_id,
           |            ${dCos("q_vec", "nn_vec")} AS sim
           |          FROM lists JOIN p$np USING (cent)
           |          WHERE query_id <> nn_id)) WHERE rk <= $ks),
           |h$np AS (
           |  SELECT $np AS nprobe, CAST(count(*) AS BIGINT) AS hits
           |  FROM s$np JOIN exact USING (query_id, nn_id))""".stripMargin
      s"""WITH $ivfAssignCtes,
         |probesel AS MATERIALIZED (
         |  SELECT nn_id FROM qbase
         |  ORDER BY CAST(concat('0x', substr(md5(concat('q189',
         |    CAST(nn_id AS VARCHAR))), 1, 13)) AS BIGINT) ASC, nn_id ASC
         |  LIMIT 64),
         |exact AS MATERIALIZED (
         |  SELECT query_id, nn_id FROM (
         |    SELECT q.nn_id AS query_id, c.nn_id AS nn_id,
         |    row_number() OVER (PARTITION BY q.nn_id
         |      ORDER BY ${dCos("q.embedding", "c.embedding")} DESC,
         |        c.nn_id ASC) AS rk
         |    FROM qbase q CROSS JOIN qbase c
         |    WHERE q.nn_id IN (SELECT nn_id FROM probesel)
         |      AND c.nn_id <> q.nn_id)
         |  WHERE rk <= $ks),
         |${perProbe(1)},
         |${perProbe(2)},
         |${perProbe(4)},
         |tot AS (SELECT CAST(count(*) AS BIGINT) AS total FROM exact)
         |SELECT nprobe, hits, total, hits * 1000000 // total AS recall_micros
         |FROM (SELECT * FROM h1 UNION ALL SELECT * FROM h2
         |      UNION ALL SELECT * FROM h4) CROSS JOIN tot""".stripMargin
    },

    // profile language ID: profiles as literal rows from the same Scala
    // constants, same rank + out-of-place distance + reject threshold
    "q188_langid_profile" ->
      s"""WITH ${langIdProfileCtes()}
         |SELECT doc_id, lang_pred FROM lid""".stripMargin,

    // boundary-splitting packing: the q128 CTE + per-bin fragment
    // explosion with identical integer arithmetic
    "q185_pack_fragments" ->
      s"""WITH t AS (
         |  SELECT source, CAST(doc_id % 4 AS BIGINT) AS sub, doc_id,
         |  CAST(len($dToks) AS BIGINT) AS n_tok
         |  FROM documents),
         |c AS (
         |  SELECT source, sub, doc_id, n_tok,
         |  coalesce(sum(n_tok) OVER (PARTITION BY source, sub ORDER BY doc_id
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_prev
         |  FROM t),
         |pk AS (
         |  SELECT source, sub, doc_id, n_tok,
         |  CAST(cum_prev // 256 AS BIGINT) AS bin,
         |  CAST(cum_prev % 256 AS BIGINT) AS bin_offset
         |  FROM c),
         |f AS (
         |  SELECT *, 256 - bin_offset AS rem,
         |    CASE WHEN n_tok <= 256 - bin_offset THEN 1
         |         ELSE 1 + CAST(floor((n_tok - (256 - bin_offset) + 255)
         |           / 256) AS BIGINT) END AS nfrags
         |  FROM pk)
         |SELECT source, sub, doc_id, n_tok,
         |  CAST(fr AS BIGINT) AS frag,
         |  CAST(bin + fr AS BIGINT) AS bin,
         |  CAST(CASE WHEN fr = 0 THEN bin_offset ELSE 0 END AS BIGINT)
         |    AS bin_offset,
         |  CAST(CASE WHEN fr = 0 THEN least(n_tok, rem)
         |       ELSE least(256, n_tok - rem - (fr - 1) * 256) END
         |    AS BIGINT) AS frag_len
         |FROM f, LATERAL (SELECT unnest(range(0, nfrags)) AS fr) r""".stripMargin,

    // funnel: the shared dQualityExpr/dLangCase fragments, keeper
    // computed among q∧l survivors exactly as the operator does
    "q183_curation_funnel" ->
      s"""WITH ${langIdProfileCtes()},
         |d AS (
         |  SELECT doc_id, source,
         |    CAST(len($dToks) AS BIGINT) AS n_tok,
         |    $dQualityExpr >= 40 AS q,
         |    (SELECT lang_pred FROM lid
         |     WHERE lid.doc_id = documents.doc_id) <> 'unknown' AS l,
         |    md5(text) AS m
         |  FROM documents),
         |k AS (SELECT m, min(doc_id) AS keeper FROM d
         |      WHERE q AND l GROUP BY 1)
         |SELECT source,
         |  CAST(count(*) AS BIGINT) AS raw_docs,
         |  CAST(sum(n_tok) AS BIGINT) AS raw_toks,
         |  CAST(sum(CASE WHEN q THEN 1 ELSE 0 END) AS BIGINT) AS q_docs,
         |  CAST(sum(CASE WHEN q THEN n_tok ELSE 0 END) AS BIGINT)
         |    AS q_toks,
         |  CAST(sum(CASE WHEN q AND l THEN 1 ELSE 0 END) AS BIGINT)
         |    AS ql_docs,
         |  CAST(sum(CASE WHEN q AND l THEN n_tok ELSE 0 END) AS BIGINT)
         |    AS ql_toks,
         |  CAST(sum(CASE WHEN q AND l AND doc_id = k.keeper
         |    THEN 1 ELSE 0 END) AS BIGINT) AS dedup_docs,
         |  CAST(sum(CASE WHEN q AND l AND doc_id = k.keeper
         |    THEN n_tok ELSE 0 END) AS BIGINT) AS dedup_toks
         |FROM d LEFT JOIN k USING (m)
         |GROUP BY 1""".stripMargin,

    // adaptive escalation mirrored level by level (CTEs generated for
    // the same base/extra/rounds/maxBucket constants as the query):
    // same dBucket per level, same population thresholds, same min-id
    // verdict
    "q181_semantic_dedup_adaptive" ->
      s"""WITH v AS (SELECT vec_id AS id, embedding AS vec FROM embeddings),
         |$adaptiveDedupCtes
         |SELECT id, lvl, kept, dup_of, n_smaller_dups, best_sim
         |FROM rv""".stripMargin,

    // q202 = exact collapse, the SAME adaptive chain over the distinct
    // vectors, expand: reps carry the adaptive verdict, copies are exact
    // dups of their rep (kept false, dup_of rep, best_sim 1.0)
    "q202_semdedup_distinct" ->
      s"""WITH base AS (SELECT vec_id, embedding FROM embeddings),
         |g AS MATERIALIZED (
         |  SELECT embedding AS gvec, CAST(min(vec_id) AS BIGINT) AS rep,
         |    CAST(count(*) AS BIGINT) AS n_copies
         |  FROM base GROUP BY 1),
         |v AS (SELECT rep AS id, gvec AS vec FROM g),
         |$adaptiveDedupCtes
         |SELECT b.vec_id AS id, rv.lvl,
         |  CASE WHEN b.vec_id = g.rep THEN rv.kept ELSE FALSE END AS kept,
         |  CASE WHEN b.vec_id = g.rep THEN rv.dup_of ELSE g.rep END
         |    AS dup_of,
         |  g.n_copies,
         |  CASE WHEN b.vec_id = g.rep THEN rv.best_sim ELSE 1.0 END
         |    AS best_sim
         |FROM base b JOIN g ON b.embedding = g.gvec
         |JOIN rv ON g.rep = rv.id""".stripMargin,

    // per-label centroid affinity: quantize to micros BEFORE the sum
    // (exact int), mean = floor(double(sum)/n) — identical IEEE ops
    "q174_label_affinity" ->
      s"""WITH q AS (
         |  SELECT label AS grp, CAST(pos - 1 AS INTEGER) AS pos,
         |    CAST(floor(CAST(embedding[pos] AS DOUBLE) * 1000000)
         |      AS BIGINT) AS qv
         |  FROM embeddings,
         |    LATERAL (SELECT unnest(range(1, len(embedding) + 1)) AS pos) r),
         |cent AS (
         |  SELECT grp, pos,
         |    CAST(floor(CAST(sum(qv) AS DOUBLE) / count(*)) AS BIGINT) AS c
         |  FROM q GROUP BY 1, 2),
         |norms AS (
         |  SELECT grp, CAST(sum(c * c) AS BIGINT) AS norm2
         |  FROM cent GROUP BY 1),
         |d AS (
         |  SELECT a.grp AS grp_a, b.grp AS grp_b,
         |    CAST(sum(a.c * b.c) AS BIGINT) AS dot_u
         |  FROM cent a JOIN cent b ON a.pos = b.pos AND a.grp < b.grp
         |  GROUP BY 1, 2)
         |SELECT grp_a, grp_b, dot_u, na.norm2 AS norm2_a,
         |  nb.norm2 AS norm2_b
         |FROM d JOIN norms na ON d.grp_a = na.grp
         |  JOIN norms nb ON d.grp_b = nb.grp""".stripMargin,

    "q26_simhash" ->
      s"""SELECT doc_id,
         |CAST(list_sum(list_transform(range(0, 32), j ->
         |  CASE WHEN CAST(list_sum(list_transform($dToks,
         |    t -> ((${dTokHash("t")} >> j) & 1) * 2 - 1)) AS BIGINT) > 0
         |  THEN (CAST(1 AS BIGINT) << j) ELSE 0 END)) AS BIGINT) AS simhash
         |FROM documents""".stripMargin,

    "q27_neardup_jaccard" ->
      s"""$minhashCte,
         |bucket_min AS (
         |  SELECT band, key, min(doc_id) AS bmin FROM bands GROUP BY 1, 2),
         |clusters AS (
         |  SELECT b.doc_id AS id, min(m.bmin) AS canonical_id
         |  FROM bands b JOIN bucket_min m ON b.band = m.band AND b.key = m.key
         |  GROUP BY 1),
         |cands AS (
         |  SELECT canonical_id AS id1, id AS id2 FROM clusters
         |  WHERE canonical_id < id),
         |sh AS (SELECT doc_id, list_distinct($dShingles) AS sset FROM documents)
         |SELECT id1, id2, jaccard_micros FROM (
         |  SELECT id1, id2,
         |  CAST(floor(len(list_intersect(a.sset, b.sset)) * 1000000
         |    / greatest(len(list_distinct(list_concat(a.sset, b.sset))), 1)) AS BIGINT) AS jaccard_micros
         |  FROM cands JOIN sh a ON cands.id1 = a.doc_id JOIN sh b ON cands.id2 = b.doc_id
         |) WHERE jaccard_micros >= 400000""".stripMargin,

    "q28_knn_brute" ->
      s"""WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 20),
         |c AS (SELECT vec_id AS nn_id, embedding AS cv FROM embeddings),
         |s AS (SELECT query_id, nn_id, ${dCos("qv", "cv")} AS sim
         |      FROM q CROSS JOIN c WHERE query_id <> nn_id)
         |SELECT query_id, nn_id, sim, rk FROM (
         |  SELECT query_id, nn_id, sim,
         |  CAST(row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, nn_id ASC) AS INTEGER) AS rk
         |  FROM s) WHERE rk <= 3""".stripMargin,

    "q32_lsh_buckets" ->
      s"""SELECT bucket, count(*) AS n FROM (
         |  SELECT vec_id, ${dBucket("embedding", 8)} AS bucket FROM embeddings
         |) GROUP BY 1""".stripMargin,

    // q308: truncated-prefix retrieval ranked by the 16-dim cosine,
    // membership-flagged against the full-dim exact top-k
    "q308_mrl_truncation" ->
      s"""WITH q AS (SELECT vec_id AS query_id, embedding AS qv
         |           FROM embeddings WHERE vec_id < 20),
         |c AS (SELECT vec_id AS nn_id, embedding AS cv FROM embeddings),
         |ft AS (SELECT query_id, nn_id FROM (
         |  SELECT query_id, nn_id,
         |    row_number() OVER (PARTITION BY query_id
         |      ORDER BY ${dCos("qv", "cv")} DESC, nn_id ASC) AS rk
         |  FROM q CROSS JOIN c WHERE query_id <> nn_id) WHERE rk <= 3),
         |st AS (SELECT query_id, nn_id,
         |    ${dCos("list_slice(qv, 1, 16)", "list_slice(cv, 1, 16)")} AS sim
         |  FROM q CROSS JOIN c WHERE query_id <> nn_id),
         |tt AS (SELECT query_id, nn_id, sim, rk FROM (
         |  SELECT query_id, nn_id, sim,
         |    CAST(row_number() OVER (PARTITION BY query_id
         |      ORDER BY sim DESC, nn_id ASC) AS INTEGER) AS rk
         |  FROM st) WHERE rk <= 3)
         |SELECT t.query_id, t.nn_id, t.rk, t.sim,
         |  ft.nn_id IS NOT NULL AS in_full_topk
         |FROM tt t LEFT JOIN ft
         |  ON t.query_id = ft.query_id AND t.nn_id = ft.nn_id""".stripMargin,

    "q33_lsh_knn" ->
      s"""WITH b AS (SELECT vec_id, embedding, ${dBucket("embedding", 8)} AS bucket FROM embeddings),
         |q AS (SELECT vec_id AS query_id, embedding AS qv, bucket FROM b WHERE vec_id < 20),
         |c AS (SELECT vec_id AS nn_id, embedding AS cv, bucket FROM b),
         |s AS (SELECT query_id, nn_id, ${dCos("qv", "cv")} AS sim
         |      FROM q JOIN c USING (bucket) WHERE query_id <> nn_id)
         |SELECT query_id, nn_id, sim, rk FROM (
         |  SELECT query_id, nn_id, sim,
         |  CAST(row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, nn_id ASC) AS INTEGER) AS rk
         |  FROM s) WHERE rk <= 3""".stripMargin,

    "q48_ivf_knn" ->
      s"""WITH cents AS (
         |  SELECT vec_id AS cent_id, embedding AS cent_vec FROM embeddings
         |  ORDER BY vec_id LIMIT 16),
         |lists AS (
         |  SELECT nn_id, nn_vec, cent FROM (
         |    SELECT e.vec_id AS nn_id, e.embedding AS nn_vec, c.cent_id AS cent,
         |    row_number() OVER (PARTITION BY e.vec_id
         |      ORDER BY ${dCos("e.embedding", "c.cent_vec")} DESC, c.cent_id ASC) AS rn
         |    FROM embeddings e CROSS JOIN cents c
         |  ) WHERE rn = 1),
         |probes AS (
         |  SELECT query_id, q_vec, cent FROM (
         |    SELECT e.vec_id AS query_id, e.embedding AS q_vec, c.cent_id AS cent,
         |    row_number() OVER (PARTITION BY e.vec_id
         |      ORDER BY ${dCos("e.embedding", "c.cent_vec")} DESC, c.cent_id ASC) AS rn
         |    FROM embeddings e CROSS JOIN cents c WHERE e.vec_id < 10
         |  ) WHERE rn <= 4),
         |scored AS (
         |  SELECT DISTINCT query_id, nn_id, ${dCos("q_vec", "nn_vec")} AS sim
         |  FROM lists JOIN probes USING (cent)
         |  WHERE query_id <> nn_id)
         |SELECT query_id, nn_id, sim, rk FROM (
         |  SELECT query_id, nn_id, sim,
         |  CAST(row_number() OVER (PARTITION BY query_id
         |    ORDER BY sim DESC, nn_id ASC) AS INTEGER) AS rk
         |  FROM scored) WHERE rk <= 3""".stripMargin,

    "q66_ivf_kmeans" -> ivfKMeansOracle,

    // q131 re-reads the q66 index from storage — same values, different
    // (amortized) plan; see ivfKMeansOracle
    "q131_ivf_index" -> ivfKMeansOracle,

    "q58_quantize" ->
      """WITH s AS (
        |  SELECT vec_id, embedding,
        |  list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) / 127.0 AS scale
        |  FROM embeddings)
        |SELECT vec_id, CAST(scale AS REAL) AS scale,
        |CASE WHEN scale = 0 THEN 0 ELSE
        |  CAST(list_sum(list_transform(embedding,
        |    x -> CAST(floor(CAST(x AS DOUBLE) / scale + 0.5) AS BIGINT))) AS BIGINT)
        |END AS code_sum
        |FROM s""".stripMargin,

    // identical SQL to q29: the stateful streaming run must reproduce the
    // batch sessionization exactly
    "q67_stream_sessions" ->
      """WITH flagged AS (
        |  SELECT user_id, event_id, ts, value,
        |  CASE WHEN lag(ts) OVER w IS NULL
        |       OR date_diff('second', lag(ts) OVER w, ts) > 1800
        |       THEN 1 ELSE 0 END AS is_new
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        |), sessions AS (
        |  SELECT user_id, event_id, ts, value,
        |  CAST(sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
        |  FROM flagged
        |)
        |SELECT user_id, session_id, count(*) AS n_events,
        |CAST(min(ts) AS TIMESTAMP) AS start_ts, CAST(max(ts) AS TIMESTAMP) AS end_ts,
        |CAST(sum(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS sum_value
        |FROM sessions GROUP BY 1, 2""".stripMargin,

    "q29_sessionize" ->
      """WITH flagged AS (
        |  SELECT user_id, event_id, ts, value,
        |  CASE WHEN lag(ts) OVER w IS NULL
        |       OR date_diff('second', lag(ts) OVER w, ts) > 1800
        |       THEN 1 ELSE 0 END AS is_new
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        |), sessions AS (
        |  SELECT user_id, event_id, ts, value,
        |  CAST(sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
        |  FROM flagged
        |)
        |SELECT user_id, session_id, count(*) AS n_events,
        |CAST(min(ts) AS TIMESTAMP) AS start_ts, CAST(max(ts) AS TIMESTAMP) AS end_ts,
        |CAST(sum(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS sum_value
        |FROM sessions GROUP BY 1, 2""".stripMargin,

    "q47_range_join" ->
      """WITH flagged AS (
        |  SELECT user_id, event_id, ts, value,
        |  CASE WHEN lag(ts) OVER w IS NULL
        |       OR date_diff('second', lag(ts) OVER w, ts) > 1800
        |       THEN 1 ELSE 0 END AS is_new
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        |), numbered AS (
        |  SELECT user_id, event_id, ts, value,
        |  CAST(sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
        |  FROM flagged
        |), sessions AS (
        |  SELECT user_id, session_id, min(ts) AS start_ts, max(ts) AS end_ts
        |  FROM numbered GROUP BY 1, 2
        |)
        |SELECT e.event_id, e.user_id, CAST(e.ts AS TIMESTAMP) AS ts, s.session_id
        |FROM events e JOIN sessions s
        |  ON e.user_id = s.user_id AND e.ts BETWEEN s.start_ts AND s.end_ts
        |WHERE e.event_type = 'error'""".stripMargin,

    "q31_stream_window" ->
      """SELECT CAST(date_trunc('hour', CAST(ts AS TIMESTAMP)) AS TIMESTAMP) AS w_start,
        |event_type, count(*) AS n,
        |CAST(sum(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY 1, 2""".stripMargin,

    // identical SQL to q31: the streaming run must reproduce the batch
    // tumbling-window result exactly
    "q65_stream_sink" ->
      """SELECT CAST(date_trunc('hour', CAST(ts AS TIMESTAMP)) AS TIMESTAMP) AS w_start,
        |event_type, count(*) AS n,
        |CAST(sum(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY 1, 2""".stripMargin,

    "q79_stream_join" ->
      """SELECT p.event_id AS p_id, p.user_id AS p_user,
        |CAST(p.ts AS TIMESTAMP) AS p_ts,
        |v.event_id AS v_id, CAST(v.ts AS TIMESTAMP) AS v_ts
        |FROM events p JOIN events v
        |  ON p.user_id = v.user_id
        | AND v.ts >= p.ts - INTERVAL 600 SECOND AND v.ts <= p.ts
        |WHERE p.event_type = 'purchase' AND v.event_type = 'view'""".stripMargin,

    "q80_stream_dedup" ->
      """SELECT DISTINCT md5(lower(regexp_replace(trim(text), '\s+', ' ', 'g'))) AS content_hash
        |FROM documents""".stripMargin,

    "q38_rollup" ->
      """SELECT l_returnflag, l_linestatus, count(*) AS n,
        |CAST(SUM(CAST(l_quantity AS DECIMAL(38,6))) AS DOUBLE) AS sum_qty
        |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)""".stripMargin,

    "q39_cube" ->
      """SELECT o_orderstatus, o_orderpriority, count(*) AS n
        |FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)""".stripMargin,

    "q40_lag_lead" ->
      """SELECT o_custkey, o_orderkey,
        |lag(o_orderkey, 1) OVER w AS prev_order,
        |lead(o_orderkey, 1) OVER w AS next_order,
        |epoch_ms(o_orderdate) - epoch_ms(lag(o_orderdate, 1) OVER w) AS ms_since_prev
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)""".stripMargin,

    "q41_salted_count" ->
      "SELECT l_returnflag, count(*) AS n FROM lineitem GROUP BY 1",

    "q61_salted_join" ->
      """SELECT o_orderstatus, count(*) AS n,
        |CAST(SUM(CAST(l_quantity AS DECIMAL(38,6))) AS DOUBLE) AS sum_qty
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY 1""".stripMargin,

    "q43_emb_neardup" ->
      s"""WITH base AS (SELECT vec_id, embedding FROM embeddings),
         |aug AS (
         |  SELECT vec_id, embedding FROM base
         |  UNION ALL
         |  SELECT vec_id + 100000, embedding FROM base WHERE vec_id < 5
         |  UNION ALL
         |  SELECT vec_id + 200000,
         |    list_transform(embedding, (x, i) ->
         |      CASE WHEN i = 1 THEN CAST(x + CAST(0.25 AS FLOAT) AS FLOAT)
         |           ELSE x END)
         |  FROM base WHERE vec_id >= 5 AND vec_id < 8),
         |b AS (SELECT vec_id AS id, embedding AS vec,
         |  ${dBucket("embedding", 8)} AS bucket FROM aug)
         |SELECT l.id AS id1, r.id AS id2, ${dCos("l.vec", "r.vec")} AS sim
         |FROM b l JOIN b r ON l.bucket = r.bucket AND l.id < r.id
         |WHERE ${dCos("l.vec", "r.vec")} >= 0.95""".stripMargin,

    // generated beside the Spark form (same micro-bucket + CDF
    // interpolation steps, IEEE-exact on both engines)
    "q44_percentile" ->
      s"""WITH ${graft.functions.Percentile.oracleCtes(
            "a", "lineitem", Seq("l_returnflag"), "l_quantity", 0.5, "p50")},
         |${graft.functions.Percentile.oracleCtes(
            "b", "lineitem", Seq("l_returnflag"), "l_extendedprice", 0.9, "p90")}
         |SELECT l_returnflag, p50, p90
         |FROM ares JOIN bres USING (l_returnflag)""".stripMargin,

    "q45_json_props" ->
      """SELECT event_type, CAST(props->>'k' AS INTEGER) % 10 AS k_bucket,
        |count(*) AS n, max(CAST(props->>'k' AS INTEGER)) AS max_k
        |FROM events GROUP BY 1, 2""".stripMargin,

    "q46_asof_join" ->
      """SELECT p.event_id, p.user_id, CAST(p.ts AS TIMESTAMP) AS ts,
        |v.view_value, CAST(v.ts AS TIMESTAMP) AS view_ts
        |FROM (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase') p
        |ASOF LEFT JOIN (
        |  SELECT user_id, ts, max(value) AS view_value FROM events
        |  WHERE event_type = 'view' GROUP BY 1, 2) v
        |ON p.user_id = v.user_id AND p.ts >= v.ts""".stripMargin,

    "q57_minhash_group" -> {
      val mins = (0 until 16).map(i => s"min(m$i) AS m$i").mkString(",\n    ")
      s"""WITH toks AS (SELECT lang, $dToks AS tl FROM documents),
         |sig AS (SELECT lang,
         |    $minhashSigCols
         |  FROM toks)
         |SELECT lang, $mins FROM sig GROUP BY 1""".stripMargin
    },

    "q81_bm25" ->
      graft.functions.Relevance.bm25OracleSql(
        "documents", "doc_id", "text", Bm25Terms, topK = 20),

    // q300: index-served BM25 after the arrival append must equal the
    // corpus-scan score — q81's oracle verbatim
    "q300_bm25_from_index" ->
      graft.functions.Relevance.bm25OracleSql(
        "documents", "doc_id", "text", Bm25Terms, topK = 20),
    // q316 (the in-stream arrival) shares it VERBATIM: the streamed
    // append must be indistinguishable from the full rebuild
    "q316_stream_bm25_arrival" ->
      graft.functions.Relevance.bm25OracleSql(
        "documents", "doc_id", "text", Bm25Terms, topK = 20),

    "q82_decontaminate" ->
      s"""WITH $decontamCtes
         |SELECT doc_id, count(*) AS n_overlap
         |FROM cg JOIN ev USING (gram) GROUP BY 1""".stripMargin,

    "q83_pii_redact" -> {
      val G = graft.functions.Governance
      val injected =
        "text || CASE WHEN doc_id % 5 = 0 THEN ' contact user' || " +
          "CAST(doc_id AS VARCHAR) || '@example.com' ELSE '' END" +
        " || CASE WHEN doc_id % 7 = 0 THEN ' call 555-' || " +
          "lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') ELSE '' END" +
        " || CASE WHEN doc_id % 11 = 0 THEN ' from 10.0.' || " +
          "CAST(doc_id % 256 AS VARCHAR) || '.1' ELSE '' END"
      s"""WITH inj AS (SELECT doc_id, $injected AS t FROM documents)
         |SELECT doc_id,
         |CAST(len(regexp_extract_all(t, '${G.EmailRegex}')) AS INTEGER) AS n_emails,
         |CAST(len(regexp_extract_all(t, '${G.PhoneRegex}')) AS INTEGER) AS n_phones,
         |CAST(len(regexp_extract_all(t, '${G.Ipv4Regex}')) AS INTEGER) AS n_ips,
         |md5(regexp_replace(regexp_replace(regexp_replace(t,
         |  '${G.EmailRegex}', '<EMAIL>', 'g'),
         |  '${G.PhoneRegex}', '<PHONE>', 'g'),
         |  '${G.Ipv4Regex}', '<IP>', 'g')) AS redacted_hash
         |FROM inj""".stripMargin
    },

    "q84_hash_sample" -> {
      val bucket = graft.functions.Governance.oracleHashBucket("doc_id", SampleSalt)
      val cases = SampleRates.map { case (l, p) => s"WHEN lang = '$l' THEN $p" }
        .mkString(" ")
      s"""SELECT doc_id, lang FROM documents
         |WHERE $bucket < CASE $cases ELSE $SampleDefaultPct END""".stripMargin
    },

    "q85_chunk_dedup" -> {
      val chunks = graft.functions.Dedup.chunkOracleList("text", 10)
      s"""WITH ch AS (
         |  SELECT doc_id, md5(c) AS h FROM (
         |    SELECT doc_id, unnest($chunks) AS c FROM documents)),
         |k AS (SELECT h, min(doc_id) AS keep_id FROM ch GROUP BY 1)
         |SELECT ch.doc_id, count(*) AS n_chunks,
         |CAST(sum(CASE WHEN keep_id < ch.doc_id THEN 1 ELSE 0 END) AS BIGINT)
         |  AS n_dup_chunks
         |FROM ch JOIN k USING (h) GROUP BY 1""".stripMargin
    },

    "q86_profile" ->
      graft.functions.Profile.oracleSql("lineitem", ProfileSpecs),

    "q87_window_dist" ->
      """SELECT o_custkey, o_orderkey,
        |CAST(ntile(4) OVER w AS INTEGER) AS quartile,
        |percent_rank() OVER w AS pct_rank,
        |cume_dist() OVER w AS cume
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)""".stripMargin,

    "q90_curation_pipeline" -> {
      val bucket = graft.functions.Governance.oracleHashBucket("doc_id", PipeSalt)
      s"""WITH enriched AS (
         |  SELECT doc_id,
         |  $dQualityExpr AS quality,
         |  $dLangCase AS pred_lang,
         |  md5(lower(regexp_replace(trim(text), '\\s+', ' ', 'g'))) AS ch
         |  FROM documents),
         |kept AS (
         |  SELECT ch, min(doc_id) AS doc_id, max(quality) AS quality
         |  FROM enriched WHERE quality >= 40 AND pred_lang = 'en'
         |  GROUP BY 1)
         |SELECT doc_id, quality FROM kept WHERE $bucket < 50""".stripMargin
    },

    "q91_dataset_split" -> {
      val assign = graft.functions.Governance.oracleSplitAssign(
        "doc_id", 88, 7, SplitSalt)
      s"""SELECT source, $assign AS split, count(*) AS n
         |FROM documents GROUP BY 1, 2""".stripMargin
    },

    "q92_length_histogram" ->
      s"""SELECT CAST(floor(len($dToks) / 10) * 10 AS BIGINT) AS tok_bucket,
         |count(*) AS n
         |FROM documents GROUP BY 1""".stripMargin,

    "q93_topk_agg" ->
      """SELECT l_returnflag, CAST(rk AS INTEGER) AS rk, price FROM (
        |  SELECT l_returnflag, l_extendedprice AS price,
        |  row_number() OVER (PARTITION BY l_returnflag
        |    ORDER BY l_extendedprice DESC) AS rk
        |  FROM lineitem) WHERE rk <= 5""".stripMargin,

    "q30_multimodal_meta" ->
      """SELECT doc_id, CAST(octet_length(encode(text)) AS INTEGER) AS byte_len,
        |sha256(text) AS digest,
        |CAST(concat('0x', substr(sha256(text), 1, 10)) AS BIGINT) AS stub_feature
        |FROM documents""".stripMargin,

    // the sliding-window generator unrolled: every event belongs to the
    // k=0 (hour-floor) and k=1 (hour-floor − 1h) window instances
    "q96_stream_sliding" ->
      """SELECT CAST(date_trunc('hour', CAST(ts AS TIMESTAMP)) AS TIMESTAMP)
        |    - k.k * INTERVAL '1 hour' AS w_start,
        |event_type, count(*) AS n,
        |CAST(sum(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS sum_value
        |FROM events, (VALUES (0), (1)) AS k(k)
        |GROUP BY 1, 2""".stripMargin,

    "q97_heavy_hitters" ->
      """WITH toks AS (
        |  SELECT unnest(string_split(text, ' ')) AS tok FROM documents)
        |SELECT tok, count(*) AS n FROM toks
        |GROUP BY tok
        |HAVING count(*) * 500 > (SELECT count(*) FROM toks)""".stripMargin,

    "q99_chunk_windows" ->
      """WITH t AS (
        |  SELECT doc_id, string_split(text, ' ') AS tl FROM documents),
        |c AS (
        |  SELECT doc_id, tl,
        |    unnest(generate_series(0, (greatest(len(tl) - 50, 0) + 24) // 25)) AS k
        |  FROM t)
        |SELECT doc_id, CAST(k AS INTEGER) AS chunk_idx,
        |CAST(len(list_slice(tl, k * 25 + 1, k * 25 + 50)) AS INTEGER) AS n_tok,
        |md5(array_to_string(list_slice(tl, k * 25 + 1, k * 25 + 50), ' ')) AS chunk_hash
        |FROM c""".stripMargin,

    // the oracle recomputes the injected dimensions arithmetically — the
    // Spark side must round-trip them through real container-header bytes
    "q100_image_meta" ->
      """SELECT doc_id,
        |CASE CAST(doc_id % 3 AS INTEGER) WHEN 0 THEN 'png' WHEN 1 THEN 'gif'
        |  ELSE 'jpeg' END AS format,
        |CAST(doc_id % 997 + 1 AS INTEGER) AS width,
        |CAST((doc_id * 7) % 997 + 1 AS INTEGER) AS height
        |FROM documents""".stripMargin,

    "q103_zorder_layout" -> {
      val zk = graft.functions.ZOrder.zkeySql(
        "l_partkey % 2048", "l_orderkey % 2048")
      s"""WITH z AS (
         |  SELECT $zk AS zkey,
         |    l_partkey % 2048 AS xm, l_orderkey % 2048 AS ym
         |  FROM lineitem)
         |SELECT zkey >> 16 AS bucket, count(*) AS n,
         |min(xm) AS min_x, max(xm) AS max_x,
         |min(ym) AS min_y, max(ym) AS max_y
         |FROM z GROUP BY 1""".stripMargin
    },

    // neighbor-bucket expansion spelled as |bucket difference| <= 1;
    // crafted probe words unioned in exactly as the Spark side does
    "q104_fuzzy_match" -> {
      val vals = CraftedFuzzyWords.map(w => s"('$w')").mkString(", ")
      s"""WITH words AS (
         |  SELECT DISTINCT w FROM (
         |    SELECT regexp_extract(text, '^([A-Za-z]+)', 1) AS w
         |    FROM documents
         |    UNION ALL
         |    SELECT w FROM (VALUES $vals) probes(w))
         |  WHERE length(w) >= 4)
         |SELECT a.w AS w1, b.w AS w2,
         |CAST(levenshtein(a.w, b.w) AS INTEGER) AS dist
         |FROM words a JOIN words b
         |  ON substr(a.w, 1, 1) = substr(b.w, 1, 1)
         | AND abs(length(a.w) // 2 - length(b.w) // 2) <= 1
         | AND a.w < b.w
         |WHERE levenshtein(a.w, b.w) <= 2""".stripMargin
    },

    "q105_random_projection" -> {
      val p = graft.functions.Projection
      val comps = (0 until p.OutDim)
        .map(j => s"${p.projMicrosSql("embedding", j)} AS p$j").mkString(",\n")
      s"""SELECT vec_id,
         |$comps
         |FROM embeddings""".stripMargin
    },

    "q106_pivot" ->
      """SELECT o_orderpriority,
        |count(*) FILTER (WHERE o_orderstatus = 'F') AS F,
        |count(*) FILTER (WHERE o_orderstatus = 'O') AS O,
        |count(*) FILTER (WHERE o_orderstatus = 'P') AS P
        |FROM orders GROUP BY 1""".stripMargin,

    // the oracle spells the SEMANTICS (rank by hash ascending = negated
    // hash descending) with a window — DuckDB has no bounded-heap
    // aggregate; the Spark plan under test is the heap form
    "q107_group_sample" ->
      """WITH d AS (
        |  SELECT source, doc_id,
        |  -CAST(CAST(concat('0x', substr(md5(concat('graft-r5c',
        |      CAST(doc_id AS VARCHAR))), 1, 13)) AS BIGINT) AS DOUBLE) AS nh
        |  FROM documents)
        |SELECT source, doc_id, CAST(rk AS INTEGER) AS rk FROM (
        |  SELECT source, doc_id,
        |    row_number() OVER (PARTITION BY source ORDER BY nh DESC) AS rk
        |  FROM d) WHERE rk <= 5""".stripMargin,

    "q108_union_by_name" ->
      """SELECT o_orderstatus, count(*) AS n,
        |count(tp) AS n_priced,
        |CAST(sum(CAST(coalesce(tp, 0) AS DECIMAL(38,6))) AS DOUBLE) AS total
        |FROM (
        |  SELECT o_orderkey, o_orderstatus, o_totalprice AS tp
        |  FROM orders WHERE o_orderstatus = 'F'
        |  UNION ALL
        |  SELECT o_orderkey, o_orderstatus, NULL AS tp
        |  FROM orders WHERE o_totalprice > 100000)
        |GROUP BY 1""".stripMargin,

    // documents are pure ASCII (asserted in the ingest check), so the
    // VARCHAR substr is byte-addressed like Spark's binary substr
    "q109_frame_sample" ->
      """WITH f AS (
        |  SELECT doc_id, text, octet_length(encode(text)) AS bl,
        |    unnest(generate_series(0, 3)) AS k
        |  FROM documents)
        |SELECT doc_id, CAST(k AS INTEGER) AS frame_idx,
        |hex(substr(text, least(k * (bl // 4) + 1, bl), 1)) AS frame_hex
        |FROM f""".stripMargin,

    // plain join — the hybrid hot/cold split must be invisible in results
    "q110_hybrid_skew_join" ->
      """SELECT c_mktsegment, count(*) AS n_orders,
        |CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_users,
        |CAST(sum(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE) AS total
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY 1""".stripMargin,

    // session_window semantics: a gap of EXACTLY 30 min starts a new
    // session (exclusive window end), hence >= in the flag
    "q111_session_window" ->
      """WITH flagged AS (
        |  SELECT user_id, event_id, ts, value,
        |  CASE WHEN lag(ts) OVER w IS NULL
        |       OR epoch_us(CAST(ts AS TIMESTAMP))
        |        - epoch_us(CAST(lag(ts) OVER w AS TIMESTAMP)) >= 1800000000
        |       THEN 1 ELSE 0 END AS is_new
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        |), sessions AS (
        |  SELECT user_id, ts, value,
        |  sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM flagged)
        |SELECT user_id,
        |CAST(min(ts) AS TIMESTAMP) AS start_ts,
        |CAST(max(ts) AS TIMESTAMP) + INTERVAL 30 MINUTE AS end_ts,
        |count(*) AS n_events,
        |CAST(sum(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS sum_value
        |FROM sessions GROUP BY user_id, sid""".stripMargin,

    // identical SQL to q111: the streaming session_window run must
    // reproduce the batch result exactly
    // identical sessionization to q112 — the restart must be INVISIBLE in
    // the data; spans_restart=TRUE pins that the run provably crossed a
    // checkpoint recovery (the Spark side computes it from the commit log)
    "q123_stream_checkpoint_recovery" ->
      """WITH flagged AS (
        |  SELECT user_id, event_id, ts, value,
        |  CASE WHEN lag(ts) OVER w IS NULL
        |       OR epoch_us(CAST(ts AS TIMESTAMP))
        |        - epoch_us(CAST(lag(ts) OVER w AS TIMESTAMP)) >= 1800000000
        |       THEN 1 ELSE 0 END AS is_new
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        |), sessions AS (
        |  SELECT user_id, ts, value,
        |  sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM flagged)
        |SELECT user_id,
        |CAST(min(ts) AS TIMESTAMP) AS start_ts,
        |CAST(max(ts) AS TIMESTAMP) + INTERVAL 30 MINUTE AS end_ts,
        |count(*) AS n_events,
        |CAST(sum(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS sum_value,
        |TRUE AS spans_restart
        |FROM sessions GROUP BY user_id, sid""".stripMargin,

    // identical sessionization to q67/q29 (the custom-GroupState
    // sessionizer), with spans_restart pinned TRUE: the restored
    // flatMapGroupsWithState state must make the kill invisible in the data
    "q134_stream_fmgws_recovery" ->
      """WITH flagged AS (
        |  SELECT user_id, event_id, ts, value,
        |  CASE WHEN lag(ts) OVER w IS NULL
        |       OR date_diff('second', lag(ts) OVER w, ts) > 1800
        |       THEN 1 ELSE 0 END AS is_new
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        |), sessions AS (
        |  SELECT user_id, event_id, ts, value,
        |  CAST(sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
        |  FROM flagged
        |)
        |SELECT user_id, session_id, count(*) AS n_events,
        |CAST(min(ts) AS TIMESTAMP) AS start_ts, CAST(max(ts) AS TIMESTAMP) AS end_ts,
        |CAST(sum(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS sum_value,
        |TRUE AS spans_restart
        |FROM sessions GROUP BY 1, 2""".stripMargin,

    "q112_stream_session_window" ->
      """WITH flagged AS (
        |  SELECT user_id, event_id, ts, value,
        |  CASE WHEN lag(ts) OVER w IS NULL
        |       OR epoch_us(CAST(ts AS TIMESTAMP))
        |        - epoch_us(CAST(lag(ts) OVER w AS TIMESTAMP)) >= 1800000000
        |       THEN 1 ELSE 0 END AS is_new
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        |), sessions AS (
        |  SELECT user_id, ts, value,
        |  sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM flagged)
        |SELECT user_id,
        |CAST(min(ts) AS TIMESTAMP) AS start_ts,
        |CAST(max(ts) AS TIMESTAMP) + INTERVAL 30 MINUTE AS end_ts,
        |count(*) AS n_events,
        |CAST(sum(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS sum_value
        |FROM sessions GROUP BY user_id, sid""".stripMargin,

    "q113_grouping_sets" ->
      """SELECT o_orderstatus, o_orderpriority,
        |CAST(grouping(o_orderstatus) * 2 + grouping(o_orderpriority) AS INTEGER) AS gid,
        |count(*) AS n,
        |CAST(sum(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE) AS total
        |FROM orders
        |GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority),
        |  (o_orderstatus), ())""".stripMargin,

    "q114_stream_static_join" ->
      """SELECT CAST(date_trunc('hour', CAST(ts AS TIMESTAMP)) AS TIMESTAMP) AS w_start,
        |c_mktsegment, count(*) AS n,
        |CAST(sum(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS sum_value
        |FROM events JOIN customer ON user_id = c_custkey
        |GROUP BY 1, 2""".stripMargin,

    "q115_surprisal" ->
      """WITH toks AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
        |counts AS (SELECT tok, count(*) AS cnt FROM toks GROUP BY tok),
        |tot AS (SELECT count(*) AS n FROM toks)
        |SELECT doc_id, count(*) AS n_tok,
        |CAST(sum((length(bin((SELECT n FROM tot))) - 1)
        |       - (length(bin(cnt)) - 1)) AS BIGINT) AS surprisal_bits
        |FROM toks JOIN counts USING (tok)
        |GROUP BY doc_id""".stripMargin,

    "q116_resample" ->
      """WITH hourly AS (
        |  SELECT user_id, date_trunc('hour', CAST(ts AS TIMESTAMP)) AS h,
        |    count(*) AS n,
        |    CAST(sum(CAST(floor(value * 1000000.0) AS BIGINT)) AS BIGINT) AS sm
        |  FROM events GROUP BY 1, 2),
        |bounds AS (SELECT user_id, min(h) AS h0, max(h) AS h1 FROM hourly GROUP BY 1),
        |grid AS (
        |  SELECT user_id, unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS h
        |  FROM bounds)
        |SELECT g.user_id, CAST(g.h AS TIMESTAMP) AS h,
        |CAST(coalesce(hy.n, 0) AS BIGINT) AS n,
        |CAST(last_value(hy.sm IGNORE NULLS) OVER (
        |  PARTITION BY g.user_id ORDER BY g.h ROWS UNBOUNDED PRECEDING) AS BIGINT)
        |  AS filled_micros
        |FROM grid g LEFT JOIN hourly hy ON g.user_id = hy.user_id AND g.h = hy.h""".stripMargin,

    "q117_weighted_sample" -> {
      val keep = graft.functions.Governance.oracleWeightedKeep(
        "doc_id", dQualityExpr, "graft-r5w")
      s"""SELECT doc_id, $dQualityExpr AS quality
         |FROM documents
         |WHERE $keep""".stripMargin
    },

    // the oracle recomputes the injected audio parameters arithmetically
    "q118_audio_meta" ->
      """SELECT doc_id,
        |CAST(doc_id % 2 + 1 AS INTEGER) AS channels,
        |CAST(8000 * (doc_id % 5 + 1) AS INTEGER) AS sample_rate,
        |CAST(8 * (doc_id % 3 + 1) AS INTEGER) AS bits
        |FROM documents""".stripMargin,

    "q119_string_agg" ->
      """SELECT n_name, count(*) AS n_supp,
        |string_agg(s_name, ',' ORDER BY s_name) AS suppliers
        |FROM nation JOIN supplier ON n_nationkey = s_nationkey
        |GROUP BY 1""".stripMargin,

    "q120_window_frames" ->
      """WITH ev AS (
        |  SELECT user_id, event_id,
        |    epoch_us(CAST(ts AS TIMESTAMP)) AS tus,
        |    CAST(floor(value * 1000000.0) AS BIGINT) AS vm
        |  FROM events)
        |SELECT user_id, event_id,
        |CAST(sum(vm) OVER (PARTITION BY user_id ORDER BY tus, event_id
        |  ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS BIGINT) AS last4_sum,
        |CAST(sum(vm) OVER (PARTITION BY user_id ORDER BY tus
        |  RANGE BETWEEN 600000000 PRECEDING AND CURRENT ROW) AS BIGINT) AS last10min_sum,
        |CAST(count(*) OVER (PARTITION BY user_id ORDER BY tus
        |  RANGE BETWEEN 600000000 PRECEDING AND CURRENT ROW) AS BIGINT) AS last10min_n
        |FROM ev""".stripMargin,

    "q121_drift" ->
      """WITH b AS (
        |  SELECT CAST(floor(len(string_split(text, ' ')) / 10) * 10 AS BIGINT) AS tok_bucket,
        |    CAST(sum(CASE WHEN source = 'src0' THEN 1 ELSE 0 END) AS BIGINT) AS n_probe,
        |    CAST(sum(CASE WHEN source = 'src0' THEN 0 ELSE 1 END) AS BIGINT) AS n_rest
        |  FROM documents GROUP BY 1),
        |tot AS (
        |  SELECT CAST(sum(n_probe) AS BIGINT) AS m_tot,
        |    CAST(sum(n_rest) AS BIGINT) AS n_tot FROM b)
        |SELECT tok_bucket, n_probe, n_rest,
        |CAST(abs(n_rest * (SELECT m_tot FROM tot)
        |       - n_probe * (SELECT n_tot FROM tot)) AS BIGINT) AS drift_term
        |FROM b""".stripMargin,

    "q122_exact_moments" ->
      """WITH m AS (
        |  SELECT l_returnflag, count(*) AS n,
        |    CAST(sum(x) AS BIGINT) AS sum_x, CAST(sum(y) AS BIGINT) AS sum_y,
        |    CAST(sum(x * y) AS BIGINT) AS sum_xy,
        |    CAST(sum(x * x) AS BIGINT) AS sum_x2,
        |    CAST(sum(y * y) AS BIGINT) AS sum_y2
        |  FROM (
        |    SELECT l_returnflag, CAST(l_quantity AS BIGINT) AS x,
        |      CAST(floor(l_discount * 1000000.0) AS BIGINT) AS y
        |    FROM lineitem)
        |  GROUP BY 1)
        |SELECT l_returnflag, n, sum_x, sum_y, sum_xy, sum_x2, sum_y2,
        |((CAST(n AS DOUBLE) * CAST(sum_xy AS DOUBLE)
        |    - CAST(sum_x AS DOUBLE) * CAST(sum_y AS DOUBLE))
        | * (CAST(n AS DOUBLE) * CAST(sum_xy AS DOUBLE)
        |    - CAST(sum_x AS DOUBLE) * CAST(sum_y AS DOUBLE)))
        | / ((CAST(n AS DOUBLE) * CAST(sum_x2 AS DOUBLE)
        |    - CAST(sum_x AS DOUBLE) * CAST(sum_x AS DOUBLE))
        |  * (CAST(n AS DOUBLE) * CAST(sum_y2 AS DOUBLE)
        |    - CAST(sum_y AS DOUBLE) * CAST(sum_y AS DOUBLE))) AS corr_sq
        |FROM m""".stripMargin,

    "q98_incremental_dedup" ->
      """SELECT b.doc_id,
        |md5(lower(regexp_replace(trim(b.text), '\s+', ' ', 'g'))) AS content_hash
        |FROM documents b
        |WHERE b.doc_id % 10 = 7 AND NOT EXISTS (
        |  SELECT 1 FROM documents c
        |  WHERE c.doc_id % 10 <> 7
        |    AND md5(lower(regexp_replace(trim(c.text), '\s+', ' ', 'g')))
        |      = md5(lower(regexp_replace(trim(b.text), '\s+', ' ', 'g'))))""".stripMargin,

    "q128_sequence_packing" ->
      s"""WITH t AS (
         |  SELECT source, CAST(doc_id % 4 AS BIGINT) AS sub, doc_id,
         |  CAST(len($dToks) AS BIGINT) AS n_tok
         |  FROM documents),
         |c AS (
         |  SELECT source, sub, doc_id, n_tok,
         |  coalesce(sum(n_tok) OVER (PARTITION BY source, sub ORDER BY doc_id
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_prev
         |  FROM t)
         |SELECT source, sub, doc_id, n_tok,
         |CAST(cum_prev // 256 AS BIGINT) AS bin,
         |CAST(cum_prev % 256 AS BIGINT) AS bin_offset
         |FROM c""".stripMargin,

    // the shared minhash CTE computes band rows for ALL docs; the two
    // sides are the same %10 split as q98
    "q127_incremental_neardup" -> incNearDupOracle,

    // the streaming arrival of the same batch must flag the same docs
    "q130_stream_neardup_index" -> incNearDupOracle,

    // the maintained index after day-1 = everything except day-2's slice,
    // plus the synthetic twins (ids +1e6) — identical texts have identical
    // signatures, so the twins' band rows are the originals' re-keyed
    "q133_index_maintenance" ->
      s"""$minhashCte,
         |cb AS (
         |  SELECT doc_id AS corpus_id, band, key FROM bands
         |  WHERE doc_id % 10 <> 7
         |  UNION ALL
         |  SELECT doc_id + 1000000 AS corpus_id, band, key FROM bands
         |  WHERE doc_id % 10 = 7 AND doc_id % 50 = 7),
         |bb AS (SELECT doc_id, band, key FROM bands WHERE doc_id % 10 = 7)
         |SELECT b.doc_id AS id, min(c.corpus_id) AS nearest_corpus_id,
         |count(DISTINCT c.corpus_id) AS n_corpus_matches
         |FROM bb b JOIN cb c ON b.band = c.band AND b.key = c.key
         |GROUP BY 1""".stripMargin,

    // recomputes shard assignment + within-shard rank from (salt, doc_id)
    // alone — agreement proves the written files carry exactly the
    // designed shuffle (the rank-weighted checksum is order-sensitive)
    "q136_shard_export" ->
      """WITH h AS (
        |  SELECT doc_id,
        |    CAST(concat('0x', substr(md5(concat('q136',
        |      CAST(doc_id AS VARCHAR))), 1, 10)) AS BIGINT) AS hh
        |  FROM documents),
        |s AS (
        |  SELECT doc_id, hh, CAST(hh % 16 AS INT) AS shard,
        |    row_number() OVER (PARTITION BY hh % 16
        |      ORDER BY hh, doc_id) AS pos
        |  FROM h)
        |SELECT shard, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(pos * (doc_id % 1000003)) AS BIGINT) AS order_checksum,
        |  min(hh) AS min_h, max(hh) AS max_h
        |FROM s GROUP BY shard""".stripMargin,

    // coerced mode = sum/avg over coalesce(v,0); native mode = SQL
    // null-ignoring sum/avg — the two differ on avg for every bucket with
    // nulls and on both columns for the all-null bucket 2
    "q137_coerced_agg" ->
      """WITH t AS (
        |  SELECT CAST(doc_id % 5 AS INT) AS bucket,
        |    CASE WHEN doc_id % 5 = 2 OR doc_id % 3 = 0 THEN NULL
        |         ELSE doc_id % 7 END AS v
        |  FROM documents)
        |SELECT bucket, CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(coalesce(v, 0)) AS BIGINT) AS sum_c,
        |  avg(coalesce(v, 0)) AS avg_c,
        |  CAST(sum(v) AS BIGINT) AS sum_n, avg(v) AS avg_n
        |FROM t GROUP BY bucket""".stripMargin,

    // same 40-bit ngram hash, same gaps-and-islands fold — a span
    // differing by one position on either end fails the hash
    "q138_dup_spans" ->
      """WITH toks AS (
        |  SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |ngr AS (
        |  SELECT doc_id, CAST(pos AS INTEGER) AS pos,
        |    CAST(concat('0x', substr(md5(
        |      array_to_string(t[pos:pos+7], ' ')), 1, 10)) AS BIGINT) AS h
        |  FROM toks, LATERAL (SELECT unnest(range(1, len(t) - 6)) AS pos) p
        |  WHERE len(t) >= 8),
        |duph AS (SELECT h FROM ngr GROUP BY h
        |         HAVING count(DISTINCT doc_id) >= 2),
        |isl AS (
        |  SELECT g.doc_id, g.pos,
        |    g.pos - CAST(row_number() OVER (PARTITION BY g.doc_id
        |      ORDER BY g.pos) AS INTEGER) AS isle
        |  FROM ngr g JOIN duph USING (h))
        |SELECT doc_id, CAST(min(pos) AS INTEGER) AS span_start,
        |  CAST(max(pos) AS INTEGER) AS span_end_ngram,
        |  CAST(count(*) AS BIGINT) AS n_hits,
        |  CAST(max(pos) - min(pos) + 8 AS INTEGER) AS span_tokens
        |FROM isl GROUP BY doc_id, isle""".stripMargin,

    // q138 with the 60-bit gram key: 15 hex nibbles of the md5 instead
    // of 10 — everything else identical
    "q176_dup_spans_wide" ->
      """WITH toks AS (
        |  SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |ngr AS (
        |  SELECT doc_id, CAST(pos AS INTEGER) AS pos,
        |    CAST(concat('0x', substr(md5(
        |      array_to_string(t[pos:pos+7], ' ')), 1, 15)) AS BIGINT) AS h
        |  FROM toks, LATERAL (SELECT unnest(range(1, len(t) - 6)) AS pos) p
        |  WHERE len(t) >= 8),
        |duph AS (SELECT h FROM ngr GROUP BY h
        |         HAVING count(DISTINCT doc_id) >= 2),
        |isl AS (
        |  SELECT g.doc_id, g.pos,
        |    g.pos - CAST(row_number() OVER (PARTITION BY g.doc_id
        |      ORDER BY g.pos) AS INTEGER) AS isle
        |  FROM ngr g JOIN duph USING (h))
        |SELECT doc_id, CAST(min(pos) AS INTEGER) AS span_start,
        |  CAST(max(pos) AS INTEGER) AS span_end_ngram,
        |  CAST(count(*) AS BIGINT) AS n_hits,
        |  CAST(max(pos) - min(pos) + 8 AS INTEGER) AS span_tokens
        |FROM isl GROUP BY doc_id, isle""".stripMargin,

    // same integer Dice and the same total (c12, w1, w2) order — a tie
    // mis-break at the top-100 boundary fails the row hash
    "q140_collocations" ->
      """WITH toks AS (SELECT string_split(text, ' ') AS t FROM documents),
        |pr AS (
        |  SELECT t[i] AS w1, t[i + 1] AS w2
        |  FROM toks, LATERAL (SELECT unnest(range(1, len(t))) AS i) x
        |  WHERE len(t) >= 2),
        |uni AS (
        |  SELECT w, CAST(count(*) AS BIGINT) AS c
        |  FROM (SELECT unnest(t) AS w FROM toks) GROUP BY w),
        |pc AS (
        |  SELECT w1, w2, CAST(count(*) AS BIGINT) AS c12
        |  FROM pr GROUP BY w1, w2 HAVING count(*) >= 2)
        |SELECT p.w1, p.w2, p.c12, u1.c AS c1, u2.c AS c2,
        |  CAST((2000000 * p.c12) // (u1.c + u2.c) AS BIGINT) AS dice_micros
        |FROM pc p JOIN uni u1 ON p.w1 = u1.w JOIN uni u2 ON p.w2 = u2.w
        |ORDER BY p.c12 DESC, p.w1, p.w2 LIMIT 100""".stripMargin,

    // q138's spans → covered positions → per-token anti-join → ordered
    // reassembly (string_agg ORDER BY position); all docs driven from the
    // token-count side so fully-covered docs keep their (empty) row
    "q139_strip_spans" -> stripSpansOracle,

    // the same strip at 15 hex nibbles (60-bit keys)
    "q184_strip_spans_wide" -> stripSpansOracleAt(15),

    // the full curation chain re-spelled independently: strip (the q139
    // CTE) → n_kept>0 → hashing-trick logit over the CLEANED text →
    // logit>=0 → exact dedup on the cleaned text (smallest id wins)
    "q148_curation_e2e" -> {
      val wt = graft.functions.Relevance
        .hashClassifierOracleWeight("tok", 4096, "w#")
      s"""WITH cleaned AS (
         |$stripSpansOracle
         |),
         |surv AS (SELECT doc_id, clean_text, n_kept FROM cleaned
         |         WHERE n_kept > 0),
         |lg AS (
         |  SELECT doc_id, CAST(sum($wt) AS BIGINT) AS logit
         |  FROM (SELECT doc_id, unnest(string_split(clean_text, ' ')) AS tok
         |        FROM surv)
         |  GROUP BY doc_id)
         |SELECT min(s.doc_id) AS doc_id, md5(s.clean_text) AS clean_md5,
         |  min(s.n_kept) AS n_kept, min(lg.logit) AS logit
         |FROM surv s JOIN lg USING (doc_id)
         |WHERE lg.logit >= 0
         |GROUP BY md5(s.clean_text)""".stripMargin
    },

    // mirrors Governance.mixtureSample exactly: same hi/lo-decomposed
    // integer budget/target/rate arithmetic, same 40-bit hash keep rule
    "q132_mixture_sample" -> {
      val values = MixtureShares.toSeq.sortBy(_._1)
        .map { case (src, ppm) => s"('$src', $ppm)" }.mkString(", ")
      val ratio = MixtureBudgetRatioMicros
      s"""WITH t AS (
         |  SELECT source, doc_id, CAST(len($dToks) AS BIGINT) AS n_tok
         |  FROM documents),
         |a AS (SELECT source, CAST(sum(n_tok) AS BIGINT) AS actual
         |      FROM t GROUP BY 1),
         |shares(source, share_ppm) AS (VALUES $values),
         |b AS (SELECT (tot // 1000000) * $ratio
         |           + ((tot % 1000000) * $ratio) // 1000000 AS budget
         |      FROM (SELECT CAST(sum(actual) AS BIGINT) AS tot FROM a)),
         |r AS (
         |  SELECT a.source, least(1000000,
         |    ((budget // 1000000) * share_ppm
         |     + ((budget % 1000000) * share_ppm) // 1000000)
         |    * 1000000 // actual) AS rate_micros
         |  FROM a JOIN shares USING (source) CROSS JOIN b)
         |SELECT t.source, t.doc_id, t.n_tok
         |FROM t JOIN r USING (source)
         |WHERE ${graft.functions.Governance.oracleRateKeep(
                   "doc_id", "rate_micros", MixtureSalt)}""".stripMargin
    },

    // the bloom prefilter cannot change the answer (no false negatives +
    // exact join over survivors), so the oracle is the plain semi join
    "q141_bloom_semijoin" ->
      """SELECT l_returnflag, count(*) AS n_rows,
        |CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty
        |FROM lineitem l
        |WHERE EXISTS (SELECT 1 FROM orders o
        |  WHERE o.o_orderkey = l.l_orderkey AND o.o_totalprice > 475000.0)
        |GROUP BY 1""".stripMargin,

    // same batch derivation, same match/insert/carry-through version rule
    "q142_snapshot_upsert" ->
      """WITH snap AS (
        |  SELECT doc_id, text, source, CAST(1 AS BIGINT) AS version
        |  FROM documents),
        |batch AS (
        |  SELECT doc_id, concat('v2 ', text) AS text, source
        |  FROM documents WHERE doc_id % 7 = 3
        |  UNION ALL
        |  SELECT doc_id + 1000000, text, 'ingest'
        |  FROM documents WHERE doc_id % 50 = 11)
        |SELECT coalesce(s.doc_id, b.doc_id) AS doc_id,
        |  md5(CASE WHEN b.doc_id IS NOT NULL THEN b.text ELSE s.text END)
        |    AS text_md5,
        |  CASE WHEN b.doc_id IS NOT NULL THEN b.source ELSE s.source END
        |    AS source,
        |  CAST(CASE WHEN b.doc_id IS NULL THEN s.version
        |            WHEN s.doc_id IS NULL THEN 1
        |            ELSE s.version + 1 END AS BIGINT) AS version
        |FROM snap s FULL OUTER JOIN batch b ON s.doc_id = b.doc_id""".stripMargin,

    // same postings (term, doc, tf), same conjunctive ALL-terms semantics
    "q144_inverted_index" ->
      """WITH p AS (
        |  SELECT tok AS term, doc_id, count(*) AS tf
        |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
        |        FROM documents)
        |  GROUP BY 1, 2)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_terms,
        |  CAST(sum(tf) AS BIGINT) AS total_tf
        |FROM p WHERE term IN ('join', 'scan', 'merge')
        |GROUP BY doc_id HAVING count(*) = 3""".stripMargin,

    // same synthesized v1/v2 and the same insert/delete/update tagging;
    // deletes carry the OLD payload, everything else the new
    "q145_snapshot_diff" ->
      """WITH v1 AS (
        |  SELECT doc_id, text, source FROM documents WHERE doc_id % 11 <> 5),
        |v2 AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 7 = 2 THEN concat('v2 ', text) ELSE text END
        |      AS text, source
        |  FROM documents WHERE doc_id % 13 <> 3),
        |j AS (
        |  SELECT coalesce(v1.doc_id, v2.doc_id) AS doc_id,
        |    CASE WHEN v1.doc_id IS NULL THEN 'insert'
        |         WHEN v2.doc_id IS NULL THEN 'delete'
        |         WHEN v1.text <> v2.text OR v1.source <> v2.source
        |           THEN 'update' END AS change,
        |    CASE WHEN v2.doc_id IS NULL THEN v1.text ELSE v2.text END AS text,
        |    CASE WHEN v2.doc_id IS NULL THEN v1.source ELSE v2.source END
        |      AS source
        |  FROM v1 FULL OUTER JOIN v2 ON v1.doc_id = v2.doc_id)
        |SELECT doc_id, change, md5(text) AS text_md5, source
        |FROM j WHERE change IS NOT NULL""".stripMargin,

    // the sequential-merge fixed point: %4==0 keys see batches b0,b1,b2
    // (version 4, last writer b2), %4==1 see b1,b2 (version 3), %4==2 see
    // b2 (version 2), %4==3 untouched (version 1); batch-1 inserts stay
    // at version 1 with their arrival text
    "q146_stream_upsert" ->
      """SELECT doc_id,
        |  md5(CASE WHEN doc_id % 4 = 3 THEN text
        |           ELSE concat('b2 ', text) END) AS text_md5,
        |  source, CAST(4 - (doc_id % 4) AS BIGINT) AS version
        |FROM documents
        |UNION ALL
        |SELECT doc_id + 1000000, md5(concat('ins ', text)), source,
        |  CAST(1 AS BIGINT)
        |FROM documents WHERE doc_id % 40 = 13""".stripMargin,

    // same clusters (the q64 unrolled propagation), split keyed by
    // cluster_id with the q91 salt/percent spelling
    "q147_leakage_safe_split" -> {
      val assign = graft.functions.Governance.oracleSplitAssign(
        "cluster_id", 88, 7, SplitSalt)
      s"""WITH clusters AS (
         |$minhashTransitiveOracle
         |)
         |SELECT id, cluster_id, $assign AS split FROM clusters""".stripMargin
    },

    // same 40-bit ngram hash (the q138 spelling); the per-occurrence join
    // collapses to distinct (source, h) rows first, so count(*) per pair
    // = distinct shared hashes — identical to the set-explode count
    "q149_source_overlap" ->
      """WITH g AS (
        |  SELECT DISTINCT source,
        |    CAST(concat('0x', substr(md5(
        |      array_to_string(t[pos:pos+7], ' ')), 1, 10)) AS BIGINT) AS h
        |  FROM (SELECT source, string_split(text, ' ') AS t FROM documents) d,
        |    LATERAL (SELECT unnest(range(1, len(t) - 6)) AS pos) p
        |  WHERE len(t) >= 8)
        |SELECT a.source AS src_a, b.source AS src_b,
        |  CAST(count(*) AS BIGINT) AS shared_ngrams
        |FROM g a JOIN g b ON a.h = b.h AND a.source < b.source
        |GROUP BY 1, 2""".stripMargin,

    // the indexed path must reproduce the from-scratch full-corpus
    // matrix exactly — same oracle text as q149
    "q192_source_overlap_indexed" ->
      """WITH g AS (
        |  SELECT DISTINCT source,
        |    CAST(concat('0x', substr(md5(
        |      array_to_string(t[pos:pos+7], ' ')), 1, 10)) AS BIGINT) AS h
        |  FROM (SELECT source, string_split(text, ' ') AS t FROM documents) d,
        |    LATERAL (SELECT unnest(range(1, len(t) - 6)) AS pos) p
        |  WHERE len(t) >= 8)
        |SELECT a.source AS src_a, b.source AS src_b,
        |  CAST(count(*) AS BIGINT) AS shared_ngrams
        |FROM g a JOIN g b ON a.h = b.h AND a.source < b.source
        |GROUP BY 1, 2""".stripMargin,

    // same hash-derived weights: token -> bucket (mod 4096) -> weight in
    // [-100, 100]; logit = multiplicity-weighted sum
    "q143_hash_classifier" -> {
      val wt = graft.functions.Relevance
        .hashClassifierOracleWeight("tok", 4096, "w#")
      s"""WITH w AS (
         |  SELECT doc_id, $wt AS wt
         |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
         |        FROM documents))
         |SELECT doc_id, CAST(count(*) AS INTEGER) AS n_tok,
         |CAST(sum(wt) AS BIGINT) AS logit, (sum(wt) >= 0) AS kept
         |FROM w GROUP BY doc_id""".stripMargin
    },

    // generated CTE chain (iterations unrolled — the q64 discipline);
    // merge application is the same single-pass replace() both engines run
    "q150_bpe_merges" -> graft.functions.Vocab.oracleSql(8),
    // q320: the WordPiece rounds unrolled with the likelihood argmax
    "q320_wordpiece_merges" -> graft.functions.Vocab.wordPieceOracleSql(8),
    // q321: greedy longest-match unrolled, vocab from the SAME chain;
    // the plant char 'z' is outside the corpus alphabet by inspection
    "q321_wordpiece_encode" ->
      graft.functions.Vocab.wordPieceEncodeOracleSql(
        nMerges = 8, maxWordLen = 8,
        source = "SELECT doc_id, text || CASE WHEN doc_id % 31 = 0 " +
          "THEN ' abzd' ELSE '' END AS text FROM documents"),
    // q322 (frozen-vocab in-stream encode) and q323 (the versioned
    // model artifact) share it VERBATIM — a stale version load or a
    // broken stream both diverge through the same hash
    "q322_stream_wordpiece" ->
      graft.functions.Vocab.wordPieceEncodeOracleSql(
        nMerges = 8, maxWordLen = 8,
        source = "SELECT doc_id, text || CASE WHEN doc_id % 31 = 0 " +
          "THEN ' abzd' ELSE '' END AS text FROM documents"),
    "q323_wordpiece_model_tap" ->
      graft.functions.Vocab.wordPieceEncodeOracleSql(
        nMerges = 8, maxWordLen = 8,
        source = "SELECT doc_id, text || CASE WHEN doc_id % 31 = 0 " +
          "THEN ' abzd' ELSE '' END AS text FROM documents"),
    // q329: the from-scratch twin on the GROWN corpus — training CTEs
    // AND encode source both read the wpGrownSql fixture, so only a
    // correctly retrained-and-flipped v3 reproduces it
    "q329_wordpiece_refresh" ->
      graft.functions.Vocab.wordPieceEncodeOracleSql(
        nMerges = 8, maxWordLen = 8,
        source = s"SELECT doc_id, text FROM $wpGrownSql",
        corpus = wpGrownSql),

    "q151_vocab_growth" ->
      """WITH bt AS (
        |  SELECT doc_id // 50 AS bucket, tok
        |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
        |        FROM documents)
        |  WHERE tok <> ''),
        |g AS (SELECT bucket, tok, count(*) AS n FROM bt GROUP BY 1, 2),
        |tot AS (SELECT bucket, CAST(sum(n) AS BIGINT) AS bucket_tokens
        |        FROM g GROUP BY 1),
        |fs AS (SELECT bucket, CAST(count(*) AS BIGINT) AS new_types FROM (
        |         SELECT tok, min(bucket) AS bucket FROM g GROUP BY 1)
        |       GROUP BY 1)
        |SELECT t.bucket,
        |  CAST(coalesce(f.new_types, 0) AS BIGINT) AS new_types,
        |  CAST(sum(coalesce(f.new_types, 0)) OVER (ORDER BY t.bucket)
        |       AS BIGINT) AS cum_types,
        |  t.bucket_tokens,
        |  CAST(sum(t.bucket_tokens) OVER (ORDER BY t.bucket) AS BIGINT)
        |    AS cum_tokens
        |FROM tot t LEFT JOIN fs f USING (bucket)""".stripMargin,

    // the q150 learning chain + the merge chain applied per word
    "q152_bpe_encode" -> graft.functions.Vocab.encodeOracleSql(8),

    // batch = the same crafted half-excerpts; candidates only through
    // shared (band, key) buckets; containment vs jaccard side by side
    "q153_containment_arrival" -> {
      def bandsFrom(sig: String) = (0 until 4).map { bnd =>
        val parts = (0 until 4).map(r => s"m${4 * bnd + r}").mkString(", ")
        s"SELECT doc_id, $bnd AS band, concat_ws(',', $parts) AS key FROM $sig"
      }.mkString("\n    UNION ALL ")
      s"""WITH batch AS MATERIALIZED (
         |  SELECT doc_id + 2000000 AS doc_id,
         |         array_to_string(t[1:(len(t)+1)//2], ' ') AS text
         |  FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents
         |        WHERE doc_id % 50 = 3)),
         |ctoks AS (SELECT doc_id, list_distinct($dToks) AS tl FROM documents),
         |csig AS (SELECT doc_id,
         |    $minhashSigCols
         |  FROM ctoks),
         |cbands AS MATERIALIZED (${bandsFrom("csig")}),
         |btoks AS (SELECT doc_id, list_distinct($dToks) AS tl FROM batch),
         |bsig AS (SELECT doc_id,
         |    $minhashSigCols
         |  FROM btoks),
         |bbands AS (${bandsFrom("bsig")}),
         |cands AS (SELECT DISTINCT b.doc_id AS batch_id, c.doc_id AS corpus_id
         |  FROM bbands b JOIN cbands c ON b.band = c.band AND b.key = c.key),
         |cs AS (SELECT doc_id, list_distinct($dShingles) AS sset FROM documents),
         |bs AS (SELECT doc_id, list_distinct($dShingles) AS sset FROM batch)
         |SELECT batch_id, corpus_id,
         |  CAST(floor(len(list_intersect(b.sset, c.sset)) * 1000000
         |    / greatest(least(len(b.sset), len(c.sset)), 1)) AS BIGINT)
         |    AS containment_micros,
         |  CAST(floor(len(list_intersect(b.sset, c.sset)) * 1000000
         |    / greatest(len(list_distinct(list_concat(b.sset, c.sset))), 1))
         |    AS BIGINT) AS jaccard_micros
         |FROM cands JOIN bs b ON cands.batch_id = b.doc_id
         |  JOIN cs c ON cands.corpus_id = c.doc_id
         |WHERE containment_micros >= 900000""".stripMargin
    },

    // whole classes while they fit, then the boundary class's greedy
    // (hash, id) prefix — filter by inclusive running sum ≡ prefix stop
    // (token counts are positive)
    "q154_budget_curate" ->
      s"""WITH base AS MATERIALIZED (
         |  SELECT doc_id, source, $dQualityExpr AS quality,
         |    CAST(len($dToks) AS BIGINT) AS n_tok,
         |    CAST(concat('0x', substr(md5(concat('graft-r7-budget',
         |      CAST(doc_id AS VARCHAR))), 1, 10)) AS BIGINT) AS h
         |  FROM documents),
         |cls AS (SELECT source, quality, CAST(sum(n_tok) AS BIGINT) AS class_tok
         |  FROM base GROUP BY 1, 2),
         |cum AS (SELECT source, quality, class_tok,
         |  CAST(coalesce(sum(class_tok) OVER (PARTITION BY source
         |    ORDER BY quality DESC
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
         |    AS cum_before FROM cls),
         |bud AS (SELECT source, CAST(sum(class_tok) * 400000 // 1000000
         |    AS BIGINT) AS budget FROM cls GROUP BY 1),
         |cl AS (SELECT c.*, b.budget FROM cum c JOIN bud b USING (source)),
         |fullk AS (SELECT source, quality FROM cl
         |  WHERE cum_before + class_tok <= budget),
         |bound AS (SELECT source, quality, budget - cum_before AS remaining
         |  FROM cl WHERE cum_before < budget AND cum_before + class_tok > budget),
         |bk AS (SELECT doc_id, source, quality, n_tok FROM (
         |  SELECT b.doc_id, b.source, b.quality, b.n_tok, r.remaining,
         |    sum(b.n_tok) OVER (PARTITION BY b.source ORDER BY b.h, b.doc_id
         |      ROWS UNBOUNDED PRECEDING) AS run
         |  FROM base b JOIN bound r ON b.source = r.source AND b.quality = r.quality)
         |  WHERE run <= remaining)
         |SELECT b.doc_id, b.source, b.quality, b.n_tok
         |FROM base b JOIN fullk f ON b.source = f.source AND b.quality = f.quality
         |UNION ALL SELECT * FROM bk""".stripMargin,

    // the same single (gram, c) table for all three orders (a gram's
    // order is its space count), the same nested-CASE backoff with α
    // multiplied per level (never an α² literal), the same floor(1e6·S)
    // micros quantization — IEEE-754 /,× are correctly rounded, so the
    // doubles agree bit-for-bit and the integer per-doc sums hash-match
    "q155_sb_fluency" -> sbFluencyOracle,

    // the flat-depth encoder is value-identical to q152's nested chain by
    // construction — same oracle, and the gate proves the identity
    "q157_bpe_encode_flat" -> graft.functions.Vocab.encodeOracleSql(8),

    // 4 derivation rounds × 64 word-level merges, applied via one
    // recursion step per rank on the oracle side too
    "q158_phrase_bpe256" -> graft.functions.Vocab.phraseBpeOracleSql(4, 64),

    // q263: the same generator at 8 × 512 — per round, a MATERIALIZED
    // pair count + ranked merge table and a recursive CTE applying the
    // round's merges in rank order (one recursion step per rank), so the
    // oracle replays all 4096 merges without a 4096-deep expression tree
    "q263_phrase_bpe4k" -> graft.functions.Vocab.phraseBpeOracleSql(8, 512),

    "q276_phrase_bpe16k" ->
      graft.functions.Vocab.phraseBpeSaltedOracleSql(16, 1024),

    // q264: the conditional-bits arithmetic replayed verbatim — context
    // counts (prev as LEFT element only), bigram counts, bin()-length
    // floor-log2 on both, left join back so short docs keep (0, 0)
    "q264_bigram_surprisal" -> bigramSurprisalOracle,
    // scoring against the persisted bigram-family count table returns
    // the exact q264 values — the index changes the plan, never the
    // numbers (the q159 contract)
    "q273_bigram_bits_indexed" -> bigramSurprisalOracle,
    

    // scoring against the persisted count table returns the exact q155
    // values — the index changes the plan, never the numbers
    "q159_sb_fluency_indexed" -> sbFluencyOracle,

    // survivors = arrivals (originals + suffixed novel twins) sharing NO
    // band bucket with the corpus AND classifier logit >= 0; version =
    // arrival count under the staged overlap (%30: 7 → batches 1+3,
    // 17 → 1+2+3, 27 → 2+3; +3e6 preserves the class)
    "q160_stream_curation" -> {
      val wt = graft.functions.Relevance
        .hashClassifierOracleWeight("tok", 4096, "w#")
      s"""WITH aug AS (
         |  SELECT doc_id, text, source FROM documents
         |  UNION ALL
         |  SELECT doc_id + 3000000, regexp_replace(text, '(\\S+)',
         |    '\\1qz' || CAST(doc_id AS VARCHAR), 'g'), source
         |  FROM documents WHERE doc_id % 10 = 7),
         |${minhashBody("aug")},
         |cb AS (SELECT doc_id AS corpus_id, band, key FROM bands
         |       WHERE doc_id < 3000000 AND doc_id % 10 <> 7),
         |bb AS (SELECT doc_id, band, key FROM bands
         |       WHERE doc_id >= 3000000 OR doc_id % 10 = 7),
         |flagged AS (SELECT DISTINCT b.doc_id FROM bb b
         |  JOIN cb c ON b.band = c.band AND b.key = c.key),
         |logits AS (
         |  SELECT doc_id, sum($wt) AS logit
         |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
         |        FROM aug WHERE doc_id >= 3000000 OR doc_id % 10 = 7)
         |  GROUP BY 1)
         |SELECT a.doc_id, md5(a.text) AS text_md5, a.source,
         |  CAST(CASE a.doc_id % 30 WHEN 17 THEN 3 ELSE 2 END AS BIGINT)
         |    AS version
         |FROM aug a JOIN logits l USING (doc_id)
         |WHERE (a.doc_id >= 3000000 OR a.doc_id % 10 = 7) AND l.logit >= 0
         |  AND a.doc_id NOT IN (SELECT doc_id FROM flagged)""".stripMargin
    },

    // q43's pair CTE verbatim, then the min-id survivor verdict per id
    "q156_semantic_dedup" ->
      s"""WITH base AS (SELECT vec_id, embedding FROM embeddings),
         |aug AS (
         |  SELECT vec_id, embedding FROM base
         |  UNION ALL
         |  SELECT vec_id + 100000, embedding FROM base WHERE vec_id < 5
         |  UNION ALL
         |  SELECT vec_id + 200000,
         |    list_transform(embedding, (x, i) ->
         |      CASE WHEN i = 1 THEN CAST(x + CAST(0.25 AS FLOAT) AS FLOAT)
         |           ELSE x END)
         |  FROM base WHERE vec_id >= 5 AND vec_id < 8),
         |b AS (SELECT vec_id AS id, embedding AS vec,
         |  ${dBucket("embedding", 8)} AS bucket FROM aug),
         |pairs AS (
         |  SELECT l.id AS id1, r.id AS id2, ${dCos("l.vec", "r.vec")} AS sim
         |  FROM b l JOIN b r ON l.bucket = r.bucket AND l.id < r.id
         |  WHERE ${dCos("l.vec", "r.vec")} >= 0.95),
         |drops AS (
         |  SELECT id2 AS id, CAST(min(id1) AS BIGINT) AS dup_of,
         |    CAST(count(*) AS BIGINT) AS n_smaller_dups,
         |    max(sim) AS best_sim
         |  FROM pairs GROUP BY 1)
         |SELECT b.id, d.dup_of IS NULL AS kept, d.dup_of,
         |  CAST(coalesce(d.n_smaller_dups, 0) AS BIGINT) AS n_smaller_dups,
         |  d.best_sim
         |FROM b LEFT JOIN drops d ON b.id = d.id""".stripMargin,

    // paragraph-level exact dedup: same augmented construction, 40-bit
    // paragraph hash, global first occurrence as the packed integer min,
    // ordered reassembly via string_agg; every doc driven from the
    // total-paragraph side so a fully-boilerplate doc keeps its row
    "q161_paragraph_dedup" ->
      s"""WITH aug AS (
         |  SELECT doc_id, text ||
         |    CASE WHEN doc_id % 3 = 0 THEN chr(10) || '$Boiler1'
         |         ELSE '' END ||
         |    CASE WHEN doc_id % 5 = 0 THEN chr(10) || '$Boiler2'
         |         ELSE '' END AS text
         |  FROM documents),
         |${paragraphDedupBody("aug", nibbles = 15)}
         |SELECT t.doc_id, md5(coalesce(a.clean_text, '')) AS clean_md5,
         |  CAST(coalesce(a.n_kept, 0) AS BIGINT) AS n_kept,
         |  CAST(t.n_total - coalesce(a.n_kept, 0) AS BIGINT) AS n_dropped
         |FROM tot t LEFT JOIN agg a USING (doc_id)""".stripMargin,

    // C4 line cleaning: the same six constructed lines, the same five
    // rules (word count over non-empty tokens, terminal punctuation,
    // braces, lorem ipsum, javascript) as a list_filter lambda
    "q162_c4_line_clean" ->
      s"""WITH t0 AS (
         |  SELECT doc_id, string_split(text, ' ') AS t FROM documents),
         |lines AS (SELECT doc_id, [
         |    array_to_string(t[1:8], ' ') || ' today.',
         |    '$C4BraceLine',
         |    array_to_string(t[1:3], ' '),
         |    '$C4LoremLine',
         |    '$C4JsLine',
         |    array_to_string(t[9:16], ' ') || ' done!'] AS ls
         |  FROM t0),
         |kept AS (SELECT doc_id,
         |    list_filter(ls, l ->
         |      $C4KeepRule) AS k,
         |    len(ls) AS n
         |  FROM lines)
         |SELECT doc_id, md5(array_to_string(k, chr(10))) AS clean_md5,
         |  CAST(len(k) AS BIGINT) AS n_kept,
         |  CAST(n - len(k) AS BIGINT) AS n_dropped
         |FROM kept""".stripMargin,

    // unicode normalization: dirty construction mirrored chr-for-chr
    // (NBSP 160, ZWSP 8203, tab 9, CR 13, LF 10, BEL 7, LS 8232); the
    // rule chain is GENERATED from the same constants the Spark side
    // compiles (normalizeOracleExpr) — and FunctionsSpec hand-pins the
    // chain on literal examples so a wrong shared constant still fails
    "q163_normalize_text" -> {
      val dirtySql = "chr(160) || chr(8203) || '  ' || " +
        "replace(text, ' ', '  ' || chr(9)) || " +
        "' ' || chr(13) || chr(10) || chr(7) || ' x' || chr(8232) || 'y '"
      val cleanSql = graft.functions.Curation.normalizeOracleExpr("dirty")
      s"""WITH d AS (SELECT doc_id, $dirtySql AS dirty FROM documents)
         |SELECT doc_id, md5($cleanSql) AS clean_md5,
         |  CAST(length(dirty) - length($cleanSql) AS BIGINT) AS n_removed
         |FROM d""".stripMargin
    },

    // epoch reshuffle: the global order is (shard, hash, id) — exactly
    // what the sharded+prefix-sum Spark plan materializes
    "q164_epoch_reshuffle" -> {
      def epoch(e: Int): String = {
        val h = s"CAST(concat('0x', substr(md5('ep$e#' || " +
          "CAST(doc_id AS VARCHAR)), 1, 10)) AS BIGINT)"
        s"""SELECT CAST($e AS BIGINT) AS epoch,
           |  CAST(count(*) AS BIGINT) AS n_docs,
           |  CAST(sum(grank) AS BIGINT) AS rank_sum,
           |  CAST(sum(grank * ((doc_id % 997) + 1)) AS BIGINT)
           |    AS order_checksum
           |FROM (
           |  SELECT doc_id, CAST(row_number() OVER
           |      (ORDER BY shard, h, doc_id) AS BIGINT) AS grank
           |  FROM (SELECT doc_id, $h AS h, $h % 8 AS shard
           |        FROM documents))""".stripMargin
      }
      epoch(0) + "\nUNION ALL\n" + epoch(1)
    },

    // fertility: learning chain + nested replace encode, grouped per
    // (lang, source) with identical integer floor divisions
    "q165_tokenizer_fertility" ->
      graft.functions.Vocab.fertilityOracleSql(8),

    // cluster-balanced sample: the shared k-means assignment chain +
    // per-cluster hash rank (negated 52-bit hash, q107's spelling)
    "q166_cluster_balanced_sample" ->
      s"""WITH $ivfAssignCtes,
         |d AS (
         |  SELECT nn_id, cent,
         |  -CAST(CAST(concat('0x', substr(md5(concat('graft-r8b',
         |      CAST(nn_id AS VARCHAR))), 1, 13)) AS BIGINT) AS DOUBLE) AS nh
         |  FROM lists)
         |SELECT cent, nn_id AS vec_id, CAST(rk AS INTEGER) AS rk FROM (
         |  SELECT cent, nn_id,
         |    row_number() OVER (PARTITION BY cent ORDER BY nh DESC) AS rk
         |  FROM d) WHERE rk <= 8""".stripMargin,

    // repeated-line dedup: same construction; DuckDB's index lambda is
    // 1-based where Spark's is 0-based (the recorded cross-engine
    // lesson), so keep = list_position(ls, l) = i vs array_position = i+1
    "q167_repeated_lines" ->
      s"""WITH t0 AS (
         |  SELECT doc_id, string_split(text, ' ') AS t FROM documents),
         |lines AS (SELECT doc_id, [
         |    '$NavLine',
         |    coalesce(array_to_string(t[1:6], ' '), ''),
         |    '$NavLine',
         |    coalesce(array_to_string(t[7:12], ' '), ''),
         |    '',
         |    '$NavLine',
         |    coalesce(array_to_string(t[13:18], ' '), '')] AS ls
         |  FROM t0),
         |kept AS (SELECT doc_id,
         |    list_filter(ls, (l, i) ->
         |      length(l) = 0 OR list_position(ls, l) = i) AS k,
         |    len(ls) AS n
         |  FROM lines)
         |SELECT doc_id, md5(array_to_string(k, chr(10))) AS clean_md5,
         |  CAST(len(k) AS BIGINT) AS n_kept,
         |  CAST(n - len(k) AS BIGINT) AS n_dropped
         |FROM kept""".stripMargin,

    // the ladder composed: dirty construction mirrored chr-for-chr, the
    // GENERATED normalize chain, the shared C4 keep rule, the shared
    // paragraph-dedup body — each stage's oracle fragment is the same
    // string its standalone gate uses
    "q168_curation_ladder" -> {
      val dirtySql = "chr(160) || ' ' || " +
        "coalesce(array_to_string(t[1:8], '  '), '') || " +
        "'  today.' || chr(13) || chr(10) || " +
        s"'$C4BraceLine' || chr(10) || '$LadderBoiler'"
      val cleanSql = graft.functions.Curation.normalizeOracleExpr("dirty")
      s"""WITH t0 AS (
         |  SELECT doc_id, string_split(text, ' ') AS t FROM documents),
         |d AS (SELECT doc_id, $dirtySql AS dirty FROM t0),
         |n AS (SELECT doc_id, $cleanSql AS text FROM d),
         |lraw AS (SELECT doc_id, string_split(text, chr(10)) AS ls FROM n),
         |lc AS (SELECT doc_id,
         |    list_filter(ls, l ->
         |      $C4KeepRule) AS k,
         |    len(ls) AS nl
         |  FROM lraw),
         |aug AS (SELECT doc_id, array_to_string(k, chr(10)) AS text,
         |    CAST(nl - len(k) AS BIGINT) AS lines_dropped FROM lc),
         |${paragraphDedupBody("aug", nibbles = 15)}
         |SELECT t.doc_id, md5(coalesce(a.clean_text, '')) AS final_md5,
         |  b.lines_dropped,
         |  CAST(t.n_total - coalesce(a.n_kept, 0) AS BIGINT)
         |    AS paras_dropped
         |FROM tot t
         |LEFT JOIN agg a USING (doc_id)
         |JOIN aug b ON t.doc_id = b.doc_id""".stripMargin
    }
  )
}
