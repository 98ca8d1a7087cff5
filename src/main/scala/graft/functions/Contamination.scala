package graft.functions

import org.apache.spark.sql.{DataFrame, Column}
import org.apache.spark.sql.functions._
import graft.exec.PlanContract
import graft.exec.PlanContract.{BucketedScan, ExchangeOn}

/** Benchmark decontamination — the standard LLM-training hygiene step:
  * find corpus documents that share word n-grams with an evaluation
  * (benchmark) set, so they can be dropped before training. The widely
  * used recipe (GPT-3 appendix C / PaLM / Llama) flags any training doc
  * containing an n-gram (n≈8..13) that also occurs in an eval document.
  *
  * Scale shape: both sides reduce to DISTINCT n-gram sets; the eval side
  * is tiny by construction (benchmarks are a few thousand docs), so the
  * overlap test is a BROADCAST semi-join of corpus n-grams against the
  * eval n-gram set — one corpus scan, zero shuffles of corpus-sized data,
  * then a per-doc count aggregation on doc ids. If the eval set ever
  * outgrew broadcast range, the same plan degrades gracefully to a
  * shuffled equi-join on the n-gram hash (uniform keys, no skew).
  */
object Contamination {

  /** Per-corpus-doc overlap counts against an eval set: (id, n_overlap)
    * where n_overlap = number of DISTINCT n-grams of the doc that occur
    * anywhere in `eval`. Docs with zero overlap are absent (this is the
    * contamination report, inner-join semantics). */
  def overlapReport(corpus: DataFrame, eval: DataFrame,
                    idCol: String, textCol: String, n: Int): DataFrame = {
    def grams(df: DataFrame): DataFrame =
      df.select(col(idCol).as("id"),
          explode(array_distinct(Dedup.shingles(col(textCol), n))).as("gram"))
    val evalGrams = grams(eval).select("gram").distinct()
    grams(corpus)
      .join(broadcast(evalGrams), Seq("gram"), "left_semi")
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_overlap"))
  }

  /** CROSS-SOURCE contamination matrix: for every pair of sources, how
    * many DISTINCT n-grams they share — the corpus-level diagnostic
    * behind source selection ("how much of source B is already in source
    * A"), run before paying for dedup across a new crawl.
    *
    * Shape: one explode scan to DISTINCT (source, ngram-hash40) rows
    * (uniform keys); per-hash source SET via collect_set — bounded by
    * the number of sources, NOT by how often the n-gram occurs, so a
    * boilerplate n-gram appearing a billion times across a 100 TB corpus
    * still costs one row of ≤ S sources (the reason this is not the
    * quadratic per-occurrence self-join); sorted pairs explode from each
    * set (≤ S²/2, with S = #sources ~ dozens) and a uniform count
    * aggregates the matrix. Output: (src_a, src_b, shared_ngrams),
    * src_a < src_b. */
  def sourceOverlapMatrix(docs: DataFrame, textCol: String, srcCol: String,
                          n: Int = 8,
                          wideHash: Boolean = false): DataFrame =
    pairMatrixOf(
      sourceGramRows(docs, textCol, srcCol, n, wideHash)
        .groupBy(col("h"))
        .agg(sort_array(collect_set(col("source"))).as("ss")))

  /** Distinct (source, h) n-gram membership rows — the shared scan of
    * the from-scratch matrix and the persisted index build. Default
    * 40-bit keys; `wideHash` selects the 60-bit Md5Prefix60 key — a gram
    * collision only INFLATES an overlap count by one (a statistic, not a
    * family corruption), but the PERSISTED index layout (q192) should
    * still entrench wide before ~2^20 distinct grams, matching the
    * winnow/MinHash discipline. */
  def sourceGramRows(docs: DataFrame, textCol: String, srcCol: String,
                     n: Int, wideHash: Boolean = false): DataFrame =
    // token array materialized BEFORE the lambda: referencing the split()
    // subtree inside transform re-evaluates it per position (O(len²) per
    // row); as an attribute it splits once and the slices stay linear
    docs
      .select(col(srcCol).as("source"), split(col(textCol), " ").as("__t"))
      .filter(size(col("__t")) >= n)
      .select(col("source"),
        explode(transform(sequence(lit(1), size(col("__t")) - (n - 1)),
          i => {
            val gram = concat_ws(" ", slice(col("__t"), i, lit(n)))
            if (wideHash) graft.catalyst.Md5Prefix60(gram)
            else graft.catalyst.Md5Prefix40(gram)
          })).as("h"))
      .distinct()

  /** Sorted-pair explode + count over a (h, ss sorted source set) table:
    * the matrix aggregation both variants share. */
  private def pairMatrixOf(sets: DataFrame): DataFrame =
    sets
      .filter(size(col("ss")) >= 2)
      .select(explode(flatten(transform(col("ss"), (x, i) =>
        transform(slice(col("ss"), i + lit(2), size(col("ss"))), y =>
          struct(x.as("src_a"), y.as("src_b")))))).as("p"))
      .groupBy(col("p.src_a").as("src_a"), col("p.src_b").as("src_b"))
      .agg(count(lit(1)).as("shared_ngrams"))

  /** Corpus (h, source-set) index rows for persistence through a
    * BucketedTap keyed by h — the q159 treatment applied to the
    * contamination matrix: the corpus's gram scan is paid once per
    * refresh, and every new crawl's matrix recompute reads the corpus
    * ONLY through this table. `wideHash` defaults TRUE for this
    * PERSISTED layout (the stored-index width discipline — re-keying
    * later costs a full rebuild); the from-scratch
    * [[sourceOverlapMatrix]] keeps the narrow oracle-mirroring default.
    * [[sourceOverlapMatrixIndexed]] must match the build's width. */
  def sourceGramIndex(docs: DataFrame, textCol: String, srcCol: String,
                      n: Int = 8, wideHash: Boolean = true): DataFrame =
    sourceGramRows(docs, textCol, srcCol, n, wideHash)
      .groupBy(col("h"))
      .agg(sort_array(collect_set(col("source"))).as("ss"))

  def sourceGramIndexTap(table: String, buckets: Int): graft.sources.BucketedTap =
    graft.sources.BucketedTap(table, buckets, Seq("h"))

  /** The FULL-corpus contamination matrix at index cadence: batch grams
    * full-outer-join the persisted (h, source-set) index on its bucket
    * column (corpus side plans with NO exchange — the q180 discipline,
    * assertable in-query), per-hash sets merge by array union, and the
    * same sorted-pair explode aggregates the matrix. Result is
    * EXACTLY [[sourceOverlapMatrix]] over old ∪ batch — the oracle gates
    * that identity — without rescanning the corpus text. */
  def sourceOverlapMatrixIndexed(corpusIndex: DataFrame, batch: DataFrame,
                                 textCol: String, srcCol: String,
                                 n: Int = 8, indexBuckets: Int = 8,
                                 assertBucketScan: Boolean = false,
                                 wideHash: Boolean = true): DataFrame = {
    // repartition to the INDEX's bucket count before the set aggregate:
    // the aggregation then reuses that partitioning AND the join aligns
    // with the bucketed scan — otherwise the plan pays a second
    // h-exchange re-aligning 32 aggregate partitions to 8 buckets.
    // wideHash must match the index build's width.
    val bs = sourceGramRows(batch, textCol, srcCol, n, wideHash)
      .repartition(indexBuckets, col("h"))
      .groupBy(col("h")).agg(sort_array(collect_set(col("source"))).as("bss"))
    // a full outer join never broadcasts: the shape needs no hint
    val joined = corpusIndex.join(bs, Seq("h"), "full_outer")
    if (assertBucketScan) PlanContract(
      ExchangeOn("h").exactly(1,
        "indexed matrix must shuffle ONLY the batch gram sets"),
      BucketedScan.present("corpus side must be the bucket-aware index scan")
    ).check(joined)
    pairMatrixOf(joined.select(array_sort(array_union(
      coalesce(col("ss"), lit(Array.empty[String])),
      coalesce(col("bss"), lit(Array.empty[String])))).as("ss")))
  }

  /** Distinct 60-bit gram keys of the EVAL (benchmark) set, for
    * persistence through a BucketedTap keyed by h — the index side of
    * the arrival-time decontamination screen. 60-bit (Md5Prefix60, the
    * q203 discipline) because a key collision here FLAGS A CLEAN
    * DOCUMENT: a false contamination verdict deletes real training
    * data, the silent-corruption class, not a statistic. Benchmarks are
    * small (thousands of docs), so this whole table broadcasts. */
  def evalGramIndex(eval: DataFrame, textCol: String, n: Int): DataFrame =
    eval.select(explode(docGramKeysCol(col(textCol), n)).as("h")).distinct()

  def evalGramIndexTap(table: String, buckets: Int): graft.sources.BucketedTap =
    graft.sources.BucketedTap(table, buckets, Seq("h"))

  /** Per-doc DISTINCT 60-bit gram-key rows: (id, h). Stateless — a pure
    * per-row explode with no aggregation — so it composes unchanged into
    * Structured Streaming: arriving docs key their grams in-flight and
    * join the persisted eval index (stream-static, eval side broadcast),
    * never shuffling the arrival stream. */
  def docGramKeys(docs: DataFrame, idCol: String, textCol: String,
                  n: Int): DataFrame =
    docs.select(col(idCol).as("id"),
      explode(docGramKeysCol(col(textCol), n)).as("h"))

  private def docGramKeysCol(text: Column, n: Int): Column =
    array_distinct(transform(Dedup.shingles(text, n),
      g => graft.catalyst.Md5Prefix60(g)))

  /** SPAN-level decontamination — the ACTION the flag-level screens
    * (q82/q206) feed: every token covered by an n-gram that occurs in
    * the eval index is REMOVED from the document and the clean text
    * reassembled, the form training pipelines actually ship (dropping
    * whole documents over one leaked benchmark sentence wastes the rest
    * of the document; keeping them ships the leak). The q139 strip
    * pattern pointed at an eval-gram index instead of a corpus
    * duplicated-span set.
    *
    * `evalIndex` is the persisted [[evalGramIndex]] table (distinct
    * 60-bit keys — collisions here DELETE clean tokens, hence wide).
    * Gram positions ride the same [[Dedup.shingles]] windows as the
    * screen (max(len−n,0)+1 grams, one partial window for short docs),
    * so strip coverage and screen verdicts can never disagree on which
    * grams are contaminated. Scale shape: the index side broadcasts
    * into the positional gram scan (benchmarks are small — the q127
    * discipline, plan-assertable by callers); reassembly is the q139
    * (position, token) array_sort — no window, deterministic on any
    * partitioning. Output (id, clean_text, n_kept, n_removed); fully
    * covered docs stay as empty rows. */
  def stripContaminatedSpans(docs: DataFrame, evalIndex: DataFrame,
                             idCol: String, textCol: String,
                             n: Int): DataFrame = {
    val base = docs.select(col(idCol), col(textCol))
    val grams = base
      .select(col(idCol),
        posexplode(transform(Dedup.shingles(col(textCol), n),
          g => graft.catalyst.Md5Prefix60(g))).as(Seq("p0", "h")))
      .select(col(idCol), (col("p0") + 1).as("gpos"), col("h"))
    val covered = grams
      .join(broadcast(evalIndex.select(col("h"))), Seq("h"), "left_semi")
      .select(col(idCol),
        explode(sequence(col("gpos"), col("gpos") + (n - 1))).as("tpos"))
      .distinct()
    val toks = base
      .select(col(idCol), posexplode(split(col(textCol), " ")))
      .select(col(idCol), (col("pos") + 1).as("tpos"), col("col").as("tok"))
    val keptAgg = toks.join(covered, Seq(idCol, "tpos"), "left_anti")
      .groupBy(col(idCol))
      .agg(concat_ws(" ", transform(
          array_sort(collect_list(struct(col("tpos"), col("tok")))),
          x => x.getField("tok"))).as("clean_text"),
        count(lit(1)).as("n_kept"))
    val nTok = toks.groupBy(col(idCol)).agg(count(lit(1)).as("n_total"))
    nTok.join(keptAgg, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("clean_text"), lit("")).as("clean_text"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        (col("n_total") - coalesce(col("n_kept"), lit(0L))).as("n_removed"))
  }

  /** DuckDB n-gram list over whitespace tokens — exact mirror of
    * `Dedup.shingles(tokens, n)`: max(len-n,0)+1 shingles, so a doc
    * shorter than n emits ONE partial shingle (out-of-range list indexes
    * are NULL and concat_ws skips them, matching the kernel). */
  def oracleNgrams(textCol: String, n: Int): String = {
    val toks = s"string_split($textCol, ' ')"
    val parts = (1 to n).map(j => s"$toks[i + $j]").mkString(", ")
    s"""list_transform(range(0, greatest(len($toks) - $n, 0) + 1),
       |  i -> concat_ws(' ', $parts))""".stripMargin
  }
}
