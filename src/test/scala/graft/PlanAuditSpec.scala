package graft

import org.apache.spark.sql.execution.FormattedMode

/** Guard-rails on the physical plans of headline queries — the properties
  * that decide 100 TB viability. A regression here (lost pushdown, a
  * broadcast turning into a shuffle join, an extra exchange) is a
  * performance bug even while results stay correct. */
class PlanAuditSpec extends SparkSpec {

  private def formatted(q: String): String =
    SparkEntry.queries(q)(spark, sf("sf0.01"))
      .queryExecution.explainString(FormattedMode)

  test("q02: filters and pruning reach the parquet scan") {
    val plan = formatted("q02_filter_expr")
    assert(plan.contains("PushedFilters: [IsNotNull(l_shipdate)") ||
      plan.contains("LessThan(l_shipdate"))
    // projection pruned: only the needed columns in ReadSchema
    val readSchema = plan.linesIterator.find(_.startsWith("ReadSchema")).get
    assert(!readSchema.contains("l_returnflag"))
    assert(readSchema.contains("l_extendedprice"))
  }

  test("q06: all three dim joins broadcast; fact side never shuffles before agg") {
    val plan = formatted("q06_hashjoin_nway")
    assert("BroadcastHashJoin".r.findAllMatchIn(plan).size >= 3)
    assert(!plan.contains("SortMergeJoin"))
  }

  test("q01: partial aggregation before the single exchange") {
    val plan = formatted("q01_groupby_agg")
    // FormattedMode prints each node in the tree and once more in the
    // details list — count tree references only
    assert("Exchange \\(\\d+\\)".r.findAllMatchIn(plan).size == 1)
    assert(plan.contains("HashAggregate"))
  }

  test("q25: signature computation is a single-pass native expression") {
    val plan = formatted("q25_minhash_lsh")
    assert(plan.contains("minhash_sig"))
  }

  test("q13/q14: semi and anti lower to dedicated join types") {
    assert(formatted("q13_semijoin").contains("LeftSemi"))
    assert(formatted("q14_antijoin").contains("LeftAnti"))
  }

  test("q18: bufferJoin stays in Tungsten (no RDD scan nodes)") {
    val plan = formatted("q18_bufferjoin")
    assert(plan.contains("CoGroup"))
    assert(!plan.contains("Scan ExistingRDD"))
    assert(plan.contains("Exchange"))
  }

  test("q51: key-less scan buffer range-partitions, no single-partition pass") {
    val plan = formatted("q51_global_scan")
    assert(plan.contains("rangepartitioning"))
    assert(!plan.contains("Coalesce (") && !plan.contains("SinglePartition"))
  }

  test("q59: PartitionTap read is partition-pruned to the filtered key") {
    val plan = formatted("q59_partition_tap")
    assert(plan.contains("PartitionFilters"))
    assert(plan.contains("event_type"))
    // the scan must not read the partition column from data files
    val readSchema = plan.linesIterator.find(_.startsWith("ReadSchema")).get
    assert(!readSchema.contains("event_type"))
  }

  test("q81: bm25 stats row broadcasts; scoring pass has no shuffle before the top-k") {
    val plan = formatted("q81_bm25")
    // the 1-row stats relation joins via broadcast (nested-loop on a
    // true cross), never a shuffled join
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastExchange"))
    assert(!plan.contains("SortMergeJoin"))
    // global ordered limit gathers k rows — no full global sort
    assert(plan.contains("TakeOrderedAndProject"))
  }

  test("q82: eval-set n-grams broadcast into a semi join (corpus never shuffles pre-join)") {
    val plan = formatted("q82_decontaminate")
    assert(plan.contains("BroadcastHashJoin") && plan.contains("LeftSemi"))
    assert(!plan.contains("SortMergeJoin"))
  }

  test("q84: hash sampling is a pure scan-filter — zero exchanges") {
    val plan = formatted("q84_hash_sample")
    assert(!plan.contains("Exchange"))
    // the deterministic bucket predicate stays in the scan stage filter
    assert(plan.contains("md5_prefix40") || plan.contains("Filter"))
  }

  test("q86: profiling avoids the multi-distinct Expand/sort plan") {
    val plan = formatted("q86_profile")
    // no Expand (the multi-distinct rewrite) and no sort-based aggregation:
    // every distinct runs as its own two-phase HashAggregate
    assert(!plan.contains("Expand"))
    assert(!plan.contains("SortAggregate") || !plan.contains("Sort ("))
    // each single-distinct scan is pruned to its one column
    val schemas = plan.linesIterator.filter(_.startsWith("ReadSchema")).toSeq
    assert(schemas.count(s => s.count(_ == ',') == 0) >= 4)
  }

  test("q85: chunk dedup is the linear hash-keyed form (agg + equi-join, no product)") {
    val plan = formatted("q85_chunk_dedup")
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoop"))
    assert(plan.contains("HashAggregate"))
    // keeper join is equi-keyed on the chunk hash
    assert(plan.contains("SortMergeJoin") || plan.contains("ShuffledHashJoin") ||
      plan.contains("BroadcastHashJoin"))
  }

  test("q90: curation pipeline is one corpus scan + single dedup exchange pre-sample") {
    val plan = formatted("q90_curation_pipeline")
    // quality/langid filters evaluate in the scan stage (no pre-filter
    // exchange); dedup is the only data-bearing exchange; the hash-sample
    // predicate needs no shuffle at all
    assert("Exchange \\(\\d+\\)".r.findAllMatchIn(plan).size == 1)
    assert("Scan parquet".r.findAllMatchIn(plan).size == 2) // tree + details
    assert(plan.contains("HashAggregate"))
  }

  test("q93: top-k runs as a partial+final aggregate, never a window sort") {
    val plan = formatted("q93_topk_agg")
    assert(!plan.contains("Window"))
    // partial heaps merge map-side: the exchange carries O(groups x k)
    // buffers, and ObjectHashAggregate (TypedImperativeAggregate host)
    // appears in both phases
    assert(plan.contains("ObjectHashAggregate"))
    assert("Exchange \\(\\d+\\)".r.findAllMatchIn(plan).size == 1)
  }

  test("q11-shaped cross broadcasts the tiny side (BroadcastNestedLoopJoin)") {
    val plan = formatted("q11_cross")
    assert(plan.contains("BroadcastNestedLoopJoin"))
    assert(plan.contains("CartesianProduct") == false)
    // opting out keeps the partitioned cross for huge-by-huge
    import graft.pipes.{CrossSide, Pipe}
    import graft.sources.ParquetTap
    val both = Pipe.source(ParquetTap(s"${sf("sf0.01")}/region.parquet"))
      .cross(Pipe.source(ParquetTap(s"${sf("sf0.01")}/nation.parquet")),
        tiny = CrossSide.Neither)
    val p2 = graft.exec.Flow.toDF(both)(spark)
      .queryExecution.executedPlan.toString
    assert(p2.contains("CartesianProduct") || p2.contains("BroadcastNestedLoopJoin"))
  }

  test("q44: percentile has no per-value aggregation buffer") {
    val plan = formatted("q44_percentile")
    // the scale hazard this guards: Spark's `percentile` holds one counter
    // per distinct value per group inside ONE ObjectHashAggregate buffer —
    // the micro-bucket form must aggregate plain counts in codegen'd
    // HashAggregate (state distributed across partitions, spill-safe)
    assert(!plan.contains("percentile"))
    assert(!plan.contains("ObjectHashAggregate"))
    assert(plan.contains("HashAggregate"))
    // bucket counts are partially aggregated before their exchange
    assert(plan.contains("partial_count") || plan.contains("merge_count") ||
      plan.contains("count"))
    // BOTH percentiles (different columns) ride ONE corpus scan — at
    // 100 TB the scan dominates, so n specs must not mean n scans
    // (FormattedMode lists each node twice: tree + details)
    assert("Scan parquet".r.findAllMatchIn(plan).size <= 2, "expected a single scan")
  }

  /** Run `body` with auto-broadcast disabled: plans show their true
    * at-scale shape (a 10 MB test file auto-broadcasting would mask a
    * 100 TB shuffle), while EXPLICIT broadcast hints still apply. */
  private def atScale[T](body: => T): T = {
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try body finally
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("q94: facts shuffle-join, dims broadcast by hint, top-10 is a heap gather") {
    atScale {
      val plan = formatted("q94_tpch_q3")
      // lineitem⋈orders must survive as a shuffle join at scale…
      assert(plan.contains("SortMergeJoin") || plan.contains("ShuffledHashJoin"))
      // …while the filtered customer slice broadcasts by explicit hint
      assert(plan.contains("BroadcastHashJoin"))
      // orderBy+limit lowers to a per-partition heap + k-row gather,
      // never a global Sort of the aggregate output
      assert(plan.contains("TakeOrderedAndProject"))
      // the date filter reaches the lineitem scan
      assert(plan.contains("GreaterThan(l_shipdate") ||
        plan.contains("PushedFilters: [IsNotNull(l_shipdate)"))
    }
  }

  test("q209: 6-table chain — facts shuffle (incl. the composite supplier " +
      "key), nation+region broadcast") {
    atScale {
      val plan = formatted("q209_tpch_q5")
      // lineitem⋈orders, ⋈customer, ⋈supplier(composite key) all shuffle
      assert("SortMergeJoin|ShuffledHashJoin".r.findAllMatchIn(plan).size >= 3)
      // nation and the ASIA-filtered region ride broadcast hashJoins
      assert("BroadcastHashJoin".r.findAllMatchIn(plan).size >= 2)
      // the date filter reaches the orders scan
      assert(plan.contains("o_orderdate"))
    }
  }

  test("q210: excluded suppliers broadcast into a LeftAnti; part joins on " +
      "the fact shuffle") {
    atScale {
      val plan = formatted("q210_tpch_q16")
      assert(plan.contains("LeftAnti"))
      assert(plan.contains("BroadcastHashJoin"))
      assert(plan.contains("SortMergeJoin") || plan.contains("ShuffledHashJoin"))
    }
  }

  test("q95: customer joins through the shuffle path, only nation broadcasts") {
    atScale {
      val plan = formatted("q95_tpch_q10")
      // two fact-sized shuffle joins (orderkey, custkey)…
      assert("SortMergeJoin|ShuffledHashJoin".r.findAllMatchIn(plan).size >= 2)
      // …exactly the nation dim on the broadcast path
      assert(plan.contains("BroadcastHashJoin"))
      assert(plan.contains("TakeOrderedAndProject"))
    }
  }

  test("q97: candidate counting pass is a broadcast semi-style join") {
    // phase 1 runs eagerly during construction; the returned plan is the
    // phase-2 exact count restricted to the broadcast candidate set
    val plan = formatted("q97_heavy_hitters")
    assert(plan.contains("BroadcastHashJoin"))
    assert(!plan.contains("SortMergeJoin"))
    assert(plan.contains("HashAggregate"))
  }

  test("q98: incremental dedup is a single anti join on the hash key") {
    val plan = atScale(formatted("q98_incremental_dedup"))
    assert(plan.contains("LeftAnti"))
    // one join, no residual cartesian/nested-loop fallback
    assert(!plan.contains("BroadcastNestedLoopJoin") &&
      !plan.contains("CartesianProduct"))
  }

  test("q99/q100: chunking and image-meta are scan-bound — zero exchanges") {
    // generator + per-row parse shapes must never shuffle; at 100 TB both
    // are pure scan throughput
    val chunk = formatted("q99_chunk_windows")
    assert(!chunk.contains("Exchange"))
    assert(chunk.contains("Generate")) // posexplode generator
    val img = formatted("q100_image_meta")
    assert(!img.contains("Exchange"))
  }

  test("q110: hybrid skew join keeps both paths — hot broadcast, cold shuffle") {
    atScale {
      val plan = formatted("q110_hybrid_skew_join")
      assert(plan.contains("BroadcastHashJoin")) // hot keys skip the shuffle
      assert(plan.contains("SortMergeJoin") || plan.contains("ShuffledHashJoin"))
      assert(plan.contains("Union"))
    }
  }

  test("q48: corpus centroid assignment is an aggregate, not a Window") {
    val plan = formatted("q48_ivf_knn")
    // min_by aggregation (partial+final) assigns nearest centroids
    assert(plan.contains("min_by"))
    assert(plan.contains("HashAggregate") || plan.contains("SortAggregate") ||
      plan.contains("ObjectHashAggregate"))
    // exactly 2 Window nodes remain: probe (query-side) top-n and final
    // top-k rank — FormattedMode lists each node twice (tree + details)
    assert("\\(\\d+\\) Window\\b".r.findAllMatchIn(plan).size <= 4)
  }

  test("q107: exact-size group sample is heap-aggregated — no Window sort") {
    val plan = formatted("q107_group_sample")
    // the row_number form would sort every group's full row set; the
    // topk_agg default keeps O(k) state and must leave NO Window node
    assert(!plan.contains("Window"), "q107 regressed to the window sort form")
    assert(plan.contains("topk_agg"))
    // the per-group heads join back via broadcast, not a second shuffle
    // of the row set
    assert(plan.contains("BroadcastHashJoin"))
  }

  test("q124: TPC-H Q1 is one scan, partial agg before a single exchange") {
    val plan = formatted("q124_tpch_q1")
    // 6-group aggregate: map-side partial, ONE shuffle of 6-row partials
    assert("Exchange \\(\\d+\\)".r.findAllMatchIn(plan).size == 1)
    assert(plan.contains("HashAggregate"))
    // the date filter reaches the parquet scan
    assert(plan.contains("LessThanOrEqual(l_shipdate") ||
      plan.contains("PushedFilters: [IsNotNull(l_shipdate)"))
    // only the 7 needed columns are read
    val readSchema = plan.linesIterator.find(_.startsWith("ReadSchema")).get
    assert(!readSchema.contains("l_orderkey") && !readSchema.contains("l_partkey"))
  }

  test("q125: TPC-H Q18 having-side semi-joins through the shuffle, never broadcast") {
    atScale {
      val plan = formatted("q125_tpch_q18")
      // the HAVING aggregate is order-cardinality (fact-sized at 100 TB):
      // it must meet orders in a shuffled LeftSemi, not a broadcast
      assert(plan.contains("LeftSemi"))
      val semiLines = plan.linesIterator.filter(_.contains("LeftSemi")).toSeq
      assert(semiLines.exists(l =>
          l.contains("SortMergeJoin") || l.contains("ShuffledHashJoin")),
        s"having-side semi join not on the shuffle path: $semiLines")
      assert(!semiLines.exists(_.contains("Broadcast")),
        s"having-side semi join broadcasts at scale: $semiLines")
      // the final top-100 is a heap gather, not a global sort
      assert(plan.contains("TakeOrderedAndProject"))
    }
  }

  test("q138: dup-hash set broadcasts back; the exploded side never shuffles pre-join") {
    val plan = formatted("q138_dup_spans")
    // the corpus-sized explode meets the (small) duplicated-hash set on
    // the broadcast path — shuffling the exploded side would be an
    // O(tokens) exchange for an O(duplicated) question
    assert(plan.contains("BroadcastHashJoin"))
    assert(!plan.contains("SortMergeJoin") && !plan.contains("CartesianProduct"))
    // exactly three shuffle exchanges: two for the distinct-doc-count
    // aggregate, one for the per-doc island window (" Exchange" excludes
    // the BroadcastExchange node)
    val nEx = plan.linesIterator.count(_.matches(""".* Exchange \(\d+\)$"""))
    assert(nEx == 3, s"expected 3 shuffle exchanges, got $nEx:\n$plan")
  }

  test("q139: strip is an anti-join pipeline — no product, no extra window") {
    val plan = formatted("q139_strip_spans")
    assert(plan.contains("LeftAnti"))
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoop"))
    // exactly ONE window in the whole plan: the island fold inherited
    // from span detection — the text reassembly itself is windowless
    // (array_sort over (pos, token) structs inside the aggregate)
    assert("Window \\(\\d+\\)".r.findAllMatchIn(plan).size == 1, plan)
  }

  test("q140: collocation top-k is a heap gather; no window anywhere") {
    val plan = formatted("q140_collocations")
    assert(plan.contains("TakeOrderedAndProject"))
    assert(!plan.contains("Window"))
    assert(!plan.contains("CartesianProduct"))
  }

  test("q153: containment candidates only through the band equi-join — " +
       "no product anywhere") {
    val plan = formatted("q153_containment_arrival")
    assert(!plan.contains("CartesianProduct"))
    assert(!plan.contains("BroadcastNestedLoopJoin"))
  }

  test("q154: class admission broadcasts; the only window runs over the " +
       "class table, never over documents") {
    val plan = formatted("q154_budget_curate")
    // the doc-side joins against the tiny class tables broadcast
    assert(plan.contains("BroadcastHashJoin"))
    assert(!plan.contains("SortMergeJoin"))
    // every Window node orders by quality DESC over the aggregated class
    // rows (the ≤101-row-per-source cumsum) — a window over raw documents
    // would order by (h, doc_id) instead, the per-source-sort plan this
    // operator exists to avoid (the boundary prefix runs through the
    // range-partitioned two-pass scan, not a window)
    val windowLines = plan.linesIterator
      .filter(l => l.contains("Window") && l.contains("windowspecdefinition"))
      .toSeq
    assert(windowLines.forall(_.contains("quality")), windowLines.mkString("\n"))
    assert(!windowLines.exists(_.contains("doc_id")), windowLines.mkString("\n"))
  }

  test("q155: the only nested-loop join is the 1-row stats broadcast; " +
       "scores reduce per DISTINCT trigram before the position join-back") {
    val plan = formatted("q155_sb_fluency")
    assert(!plan.contains("CartesianProduct"))
    // crossJoin(broadcast(1-row stats)) is the single BNLJ in the plan
    assert("\\(\\d+\\) BroadcastNestedLoopJoin".r
      .findAllMatchIn(plan).size == 1, plan.linesIterator
        .filter(_.contains("BroadcastNestedLoopJoin")).mkString("\n"))
    // the distinct that factors scoring out of the position stream exists:
    // an aggregate whose grouping key is the trigram text alone
    assert("Keys \\[1\\]: \\[tg#".r.findFirstIn(plan).nonEmpty,
      "distinct-trigram aggregate missing")
  }

  test("n-gram/pair explodes keep the materialized token projection " +
       "(the O(len²) lambda-CSE regression canary)") {
    // Catalyst does not CSE across higher-order-function lambda bodies:
    // if the split()/tokens() subtree is referenced INSIDE the transform
    // lambda, tokenization re-runs per position — O(len²) per row
    // (measured 7× on q158, 5× on q140). The fix materializes the token
    // array as a `__t` projection that CollapseProject must NOT inline
    // (non-cheap expr, >1 reference). This canary pins the projection's
    // survival into the OPTIMIZED plan for every operator the round-8
    // sweep fixed; if a refactor reverts to the lambda form, `__t`
    // disappears and this fails before the bench does.
    val dir = sf("sf0.01")
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    def optimized(df: org.apache.spark.sql.DataFrame): String =
      df.queryExecution.optimizedPlan.toString
    assert(optimized(graft.functions.Dedup.duplicatedSpans(docs))
      .contains("__t"), "duplicatedSpans lost the token projection")
    assert(optimized(graft.functions.TextAnalysis.collocations(docs))
      .contains("__t"), "collocations lost the token projection")
    assert(optimized(graft.functions.Contamination.sourceOverlapMatrix(
      docs, "text", "source")).contains("__t"),
      "sourceOverlapMatrix lost the token projection")
    assert(optimized(graft.functions.LanguageModel.stupidBackoff(
      docs.limit(50), docs.limit(10))).contains("__t"),
      "LM gram scans lost the token projection")
  }

  test("q162/q163: line cleaning and normalization are scan-only — zero exchanges") {
    for (q <- Seq("q162_c4_line_clean", "q163_normalize_text")) {
      val plan = formatted(q)
      assert(!plan.contains("Exchange"), s"$q should not shuffle:\n$plan")
      // a pure scan→project pipeline: no join, no aggregate, no sort
      // (higher-order-function lambdas are CodegenFallback by design;
      // the scale property is the absence of any data movement)
      assert(!plan.contains("Join") && !plan.contains("Aggregate") &&
        !plan.contains("Sort"), s"$q grew non-scan nodes:\n$plan")
    }
  }

  test("q161: paragraph dedup shuffles only on hash/doc keys, never a product") {
    val plan = atScale(formatted("q161_paragraph_dedup"))
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"), plan)
    // the dup-set join keys on the 40-bit paragraph hash; reassembly and
    // totals group per document — no whole-corpus sort anywhere
    assert(!plan.contains("Sort [") || !plan.contains("global=true"),
      s"unexpected global sort:\n$plan")
  }

  test("q164: epoch order has no single-partition window (shard-partitioned)") {
    val plan = formatted("q164_epoch_reshuffle")
    // every window partitions by shard — a keyless Window (global rank
    // on one task) would be the 100 TB cliff
    assert(plan.contains("Window"), plan)
    assert(!plan.contains("Window [row_number()") ||
      plan.linesIterator.filter(_.contains("windowspecdefinition"))
        .forall(_.contains("shard")),
      s"window not shard-partitioned:\n$plan")
    // the shard base offsets ride a broadcast, not a shuffle
    assert(plan.contains("BroadcastHashJoin") ||
      plan.contains("BroadcastExchange"), plan)
  }

  test("q166: per-cluster cap is an aggregate + broadcast-back, not a Window") {
    val plan = formatted("q166_cluster_balanced_sample")
    assert(plan.contains("topk_agg") || plan.contains("TopKAgg"), plan)
    assert(!plan.contains("windowspecdefinition"),
      s"cap must not sort clusters via a Window:\n$plan")
  }

  test("q171: the whole Gopher battery is scan-only — zero exchanges") {
    val plan = formatted("q171_gopher_rules")
    assert(!plan.contains("Exchange"), s"rule battery must not shuffle:\n$plan")
  }

  test("q177: the whole epoch delivery plan has exactly ONE shuffle " +
       "exchange (token counts carry through the permutation)") {
    val plan = formatted("q177_training_delivery")
    // shard base offsets ride a broadcast; everything else — rank
    // window, cum-sum window, bin math — reuses the one shard exchange.
    // Count detail headers only: formatted mode prints each node twice
    // (tree line + "(n) Exchange" section)
    val shuffles = plan.linesIterator
      .count(_.matches("""\(\d+\) Exchange\s*"""))
    assert(shuffles == 1, s"expected one shuffle exchange:\n$plan")
  }

  test("q172: quantile normalization windows ONLY the count table and " +
       "broadcasts the CDF back (corpus never windowed or shuffle-joined)") {
    val plan = formatted("q172_quantile_normalize")
    // the corpus-side join back is a broadcast, never a shuffle join
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("SortMergeJoin") &&
      !plan.contains("ShuffledHashJoin"), plan)
    // every window partitions by the key over the aggregated count table
    // — exactly one aggregate exchange feeds it
    assert(plan.linesIterator
      .filter(_.contains("windowspecdefinition"))
      .forall(_.contains("source")), s"window not keyed by source:\n$plan")
  }

  test("q264/q269: the LM pair plans with no window, no cartesian " +
       "product, and a BROADCAST 1-row total (q269) — keyed shuffles only") {
    Seq("q264_bigram_surprisal", "q269_kneser_ney").foreach { q =>
      val plan = formatted(q)
      assert(!plan.contains("Window"), s"$q: corpus-keyed window leaked")
      assert(!plan.contains("CartesianProduct"),
        s"$q: a non-broadcast cross leaked")
    }
    // q269's N1+(··) total rides a broadcast nested-loop (1-row cross),
    // never a shuffled cross
    val kn = formatted("q269_kneser_ney")
    assert(kn.contains("BroadcastNestedLoopJoin") ||
      kn.contains("BroadcastHashJoin"), kn.take(400))
  }

  test("q271 shape: a HITS half-iteration + top-k is keyed aggregate + " +
       "broadcast 1-row max + TakeOrderedAndProject — no window, no " +
       "cartesian, no global sort") {
    // hitsTopK returns its k-row result as a driver-local relation, so
    // its own executed plan reads as a local table scan after the fact;
    // audit the structurally identical half-iteration inline instead. The source must be parquet-backed:
    // a local table's KNOWN maxRows lets EliminateLimits drop the
    // Limit (maxRows ≤ k) and the TakeOrderedAndProject never forms.
    import org.apache.spark.sql.functions._
    val e = spark.read.parquet(s"${sf("sf0.001")}/documents.parquet")
      .select(col("doc_id").as("src"),
        (col("doc_id") % 7).cast("string").as("dst"))
    val hub = e.select(col("src")).distinct()
      .select(col("src"), lit(1000000000L).as("h"))
    val aRaw = e.join(hub, Seq("src")).groupBy(col("dst"))
      .agg(sum(col("h")).cast("decimal(38,0)").as("ar"))
    val topk = aRaw.crossJoin(broadcast(aRaw.agg(max(col("ar")).as("amax"))))
      .select(col("dst"),
        expr("CAST(ar * 1000000000 div amax AS BIGINT)").as("a"))
      .orderBy(col("a").desc, col("dst")).limit(20)
    val plan = topk.queryExecution.explainString(FormattedMode)
    assert(!plan.contains("Window"), "corpus-keyed window leaked")
    assert(!plan.contains("CartesianProduct"), "non-broadcast cross leaked")
    assert(plan.contains("BroadcastNestedLoopJoin") ||
      plan.contains("BroadcastHashJoin"), plan.take(400))
    // the top-k lowers to TakeOrderedAndProject, never a global Sort
    assert(plan.contains("TakeOrderedAndProject"), plan.take(400))
  }

  test("wordPieceEncode: ONE codegen'd scan-shaped projection — the " +
       "word_piece_encode expression rides the plan, no mapPartitions " +
       "object boundary, no exchange (r15 what's-wrong #3)") {
    val docs = spark.read.parquet(s"${sf("sf0.001")}/documents.parquet")
      .select(org.apache.spark.sql.functions.col("doc_id"),
        org.apache.spark.sql.functions.col("text"))
    val df = graft.functions.Vocab.wordPieceEncode(
      docs, "doc_id", "text", Set("a", "##a", "##b", "b"))
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("word_piece_encode"), plan.take(600))
    assert(!plan.contains("MapPartitions") &&
      !plan.contains("SerializeFromObject"),
      "the encode fell off codegen into an object boundary")
    assert(!plan.contains("Exchange"), "the encode must not shuffle")
  }

  test("q288: the NB kernel is ONE scan-shaped projection — no join, " +
       "no exchange, no aggregate; the model rides the expression") {
    val plan = formatted("q288_nb_kernel")
    assert(!plan.contains("Exchange"), "exchange leaked into the kernel")
    assert(!plan.contains("Join"), "a join survived the kernel collapse")
    assert(!plan.contains("HashAggregate"), "an aggregate leaked")
    assert(plan.contains("nb_score"), plan.take(400))
  }

  test("q285: the PII redaction battery is scan-only — zero exchanges, " +
       "regex kernels fused in one projection") {
    val plan = formatted("q285_pii_scrub")
    assert(!plan.contains("Exchange"), "the redaction pass must not shuffle")
    assert(!plan.contains("Join"))
  }

  test("q290: the CMS estimate side broadcasts the bounded sketch and " +
       "aggregates on the vocab-sized token table — no corpus-keyed " +
       "window, no sort-merge join") {
    val plan = formatted("q290_countmin")
    assert(plan.contains("BroadcastHashJoin"), plan.take(400))
    assert(!plan.contains("SortMergeJoin"))
    assert(!plan.contains("Window"))
  }

  test("q298: ONE PageRank iteration is a single aggregation — one " +
       "v-keyed shuffle, the rank lookup broadcast, no sort-merge join") {
    import org.apache.spark.sql.functions._
    val G = graft.functions.Graph
    val edges = G.coOccurrenceEdges(
      spark.read.parquet(s"${sf("sf0.01")}/lineitem.parquet"),
      "l_orderkey", "l_partkey", maxDegree = 64)
    // materialize the loop-invariant inputs as the loops hold them
    // (checkpointed edges, vertices and rank), then audit the round's
    // own plan in isolation
    val out = edges.groupBy(col("src")).agg(count(lit(1)).as("outdeg"))
    val e = edges.join(out, Seq("src"))
      .select(col("src"), col("dst"), col("outdeg")).localCheckpoint(true)
    val verts = e.select(col("src").as("v")).distinct().localCheckpoint(true)
    val rank = verts.select(col("v"), lit(1000000000L).as("r"))
      .localCheckpoint(true)
    val df = G.prNext(e, verts, rank)
    df.collect() // AQE decides broadcasts at runtime — audit the FINAL plan
    val full = df.queryExecution.executedPlan.toString
    assert(full.contains("isFinalPlan=true"), full.take(200))
    val plan = full.split("== Initial Plan ==").head
    // contributions ∪ zero rows, summed per vertex: the v-keyed sum is
    // the round's only keyed shuffle; the rank lookup is its only join.
    // (AQE still writes the join sides' speculative shuffles before it
    // picks the broadcast, and reads them LOCALLY — no keyed movement.)
    val lines = plan.split("\n").toSeq
    val keyed = lines.indices.filter(i =>
      lines(i).contains("Exchange hashpartitioning") &&
        !(i >= 2 && lines(i - 2).contains("AQEShuffleRead local")))
    assert(keyed.size == 1 &&
      lines(keyed.head).contains("Exchange hashpartitioning(v#"), plan)
    assert("BroadcastHashJoin".r.findAllMatchIn(plan).size == 1,
      "the rank lookup must broadcast at gate scale")
    assert(!plan.contains("SortMergeJoin"))
  }

  test("propagation round: the pre-partitioned, pre-sorted checkpointed " +
       "edge copies join with NO edge-side exchange and NO edge-side sort " +
       "(the r17 transitiveClustersOver shape)") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      // -1 pins sort-merge joins: the audit must hold where nothing
      // broadcasts (the 100 TB regime and the q187 gate's pinned config)
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val rows = (0L until 400L).map(i =>
          (i, 0, s"k${i % 37}"))
        .toDF("id", "band", "key")
      val P = spark.sessionState.conf.numShufflePartitions
      // the transitiveClustersOver construction, verbatim
      graft.exec.Frames { f =>
        val br = f.partitioned(rows, P, col("id"))
        val brByBucket = f.partitioned(br, P, col("band"), col("key"))
        val labels = br.select(col("id")).distinct()
          .withColumn("label", col("id"))
        // one full round: labels hop + bucket-min + bucket hop + id-min
        val bucketLabel = br.join(labels, "id")
          .groupBy(col("band"), col("key"))
          .agg(min(col("label")).as("blabel"))
        val next = brByBucket.join(bucketLabel, Seq("band", "key"))
          .groupBy(col("id")).agg(min(col("blabel")).as("label"))
        next.collect() // AQE finalizes at runtime — audit the FINAL plan
        val full = next.queryExecution.executedPlan.toString
        val plan = full.split("== Initial Plan ==").head
        // the round's only id-exchange is the FINAL per-id min aggregate's
        // (partial minima, O(nodes)); br's captured HashPartitioning(id, P)
        // serves both children of the labels-hop join (labels derives from
        // br), so the per-round EDGE shuffle by id is gone
        assert("Exchange hashpartitioning\\(id"
          .r.findAllMatchIn(plan).size == 1, plan)
        // the bucket hop: only the bucket-min aggregate exchanges on
        // (band, key); brByBucket's captured partitioning serves its side
        assert("Exchange hashpartitioning\\(band"
          .r.findAllMatchIn(plan).size == 1, plan)
        // neither checkpointed edge copy is re-exchanged or re-sorted: a
        // Scan ExistingRDD may sit under a Filter, but never under a Sort
        // or an Exchange (the captured partitioning + ordering serve the
        // merge joins directly)
        val reshuffled =
          "(Sort|Exchange)[^\\n]*\\n[^\\n]*Scan ExistingRDD".r
        assert(reshuffled.findFirstIn(plan).isEmpty, plan)
      }
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }
}
