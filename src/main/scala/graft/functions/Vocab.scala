package graft.functions

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.exec.Frames

/** Tokenizer-training vocabulary induction — byte-pair-encoding merge
  * learning (Sennrich et al. 2016) as a distributed pipeline.
  *
  * BPE training never iterates over the corpus: it iterates over the
  * WORD-FREQUENCY table (vocabulary-sized, ≪ corpus). That is the whole
  * scale design here:
  *
  *   1. ONE corpus scan builds (word, count) — a zipfian-key aggregation
  *      with map-side partials, the same shape as word count. At 100 TB
  *      this is the only pass that touches the data.
  *   2. Each merge iteration runs entirely on the vocab table: explode
  *      adjacent symbol pairs (weighted by word count), aggregate, take
  *      the top pair. The per-iteration driver carry is ONE row (the
  *      winning pair) — the Lloyd-centroid discipline; the vocab table
  *      itself never leaves the executors and is localCheckpoint'ed each
  *      iteration so plan lineage stays O(1), not O(iterations).
  *   3. Applying a merge is a codegen'd string `replace` over the
  *      symbol-spaced representation — a narrow map, no shuffle.
  *
  * Representation: a word's symbol sequence is kept as a single string
  * " s1 s2 ... sn " (space-separated, space-bounded), so merging pair
  * (l, r) is `replace(repr, " l r ", " lr ")`. Cross-engine exactness:
  * `replace` is left-to-right, non-overlapping, continue-after-replacement
  * in both Spark (UTF8String.replace) and ANSI SQL engines — for l ≠ r
  * occurrences can never overlap, so this IS the reference greedy merge;
  * for the self-pair (l = r) inside a run like "a a a" the single pass
  * merges the odd occurrences (deterministically, identically on every
  * engine), which is the documented tie-handling of this implementation.
  *
  * Tie-break for the winning pair: (count DESC, left ASC, right ASC) —
  * total order, lowered to TakeOrderedAndProject (never a global sort).
  *
  * Reference frame: the reference engine (cascading-flink) has no vocab
  * induction; this is a first-class extension for LLM-training pipelines
  * (SURVEY §2.14), sharing the whitespace tokenizer with
  * [[TextAnalysis.tokens]].
  */
object Vocab {

  /** Initial symbol-spaced representation of a word: "abc" → " a b c ".
    * Regex '(.)' matches one codepoint (excluding \n in both Java regex
    * and RE2 — mirrored by the oracle spelling). */
  private def charSpaced(w: org.apache.spark.sql.Column) =
    concat(lit(" "), regexp_replace(w, "(.)", "$1 "))

  /** Learn `nMerges` BPE merges from the corpus' whitespace words.
    * Returns one row per learned merge: (iter, l, r, pair_count) where
    * pair_count is the word-frequency-weighted count of the adjacent pair
    * at the time it was chosen. Stops early (fewer rows) if no pair is
    * left (all words fused to single symbols). */
  def bpeMerges(docs: DataFrame, textCol: String,
                nMerges: Int): DataFrame = Frames { f =>
    val spark = docs.sparkSession
    import spark.implicits._

    // Pass 1 (the only corpus scan): word counts, then symbol-space them.
    // LAZY checkpoints throughout the merge loop (r16): each iteration's
    // top-pair collect materializes the blocks in the same job, so a
    // merge costs ONE vocab pass instead of an eager checkpoint pass
    // plus the counting pass
    var vocab = f.lazily(docs
      .select(explode(split(col(textCol), " ")).as("w"))
      .filter(length(col("w")) > 0)
      .groupBy("w").agg(count(lit(1)).as("cnt"))
      .select(charSpaced(col("w")).as("repr"), col("cnt")))
    var spent: DataFrame = null

    val merges = Seq.newBuilder[(Int, String, String, Long)]
    var it = 1
    var exhausted = false
    while (it <= nMerges && !exhausted) {
      // Adjacent symbol pairs weighted by word count; top-1 with a total
      // tie-break order → TakeOrderedAndProject, one-row driver carry.
      // slice+zip over a materialized symbol column (the phraseBpe/
      // lambda-CSE finding): element_at inside a transform re-splits the
      // repr per position — O(symbols²) per word.
      val top = vocab
        .select(col("cnt"), split(trim(col("repr")), " ").as("__t"))
        .filter(size(col("__t")) >= 2)
        .select(col("cnt"),
          slice(col("__t"), lit(1), size(col("__t")) - 1).as("ls"),
          slice(col("__t"), lit(2), size(col("__t")) - 1).as("rs"))
        .select(col("cnt"), explode(arrays_zip(col("ls"), col("rs"))).as("p"))
        .groupBy(col("p.ls").as("l"), col("p.rs").as("r"))
        .agg(sum(col("cnt")).as("pair_count"))
        .orderBy(col("pair_count").desc, col("l"), col("r"))
        .limit(1)
        .collect()
      f.release(spent) // the collect materialized vocab, its only reader
      if (top.isEmpty) exhausted = true
      else {
        val l = top(0).getString(0)
        val r = top(0).getString(1)
        merges += ((it, l, r, top(0).getLong(2)))
        // Apply the merge (narrow map) and re-truncate lineage: the vocab
        // table stays vocabulary-sized, so the checkpoint is O(vocab) per
        // iteration — corpus-size independent.
        spent = vocab
        vocab = f.lazily(vocab.withColumn("repr",
          replace(col("repr"), lit(s" $l $r "), lit(s" $l$r "))))
        it += 1
      }
    }
    merges.result().toDF("iter", "l", "r", "pair_count")
      .select(col("iter").cast("int").as("iter"), col("l"), col("r"),
        col("pair_count"))
  }

  /** DuckDB spelling of `bpeMerges` — the iterations unrolled as a CTE
    * chain (the q64 unrolled-propagation discipline): wk = vocab after k
    * merges, pk = pair counts over w(k-1), mk = the chosen pair. Generated
    * programmatically so the merge-application string and tie-break can
    * never drift from the Spark side. */
  /** The unrolled learning CTE chain shared by the q150 and q152 oracles:
    * w0 (symbol-spaced word counts), then per iteration pk (pair counts),
    * mk (chosen pair), wk (vocab after the merge). MATERIALIZED is
    * load-bearing: wk references w(k-1) five times, and an inlining
    * engine would otherwise expand the chain into 5^n scans. */
  private def oracleCtes(nMerges: Int): String = {
    val w0 =
      """w0 AS MATERIALIZED (
        |  SELECT ' ' || regexp_replace(tok, '(.)', '\1 ', 'g') AS repr,
        |         CAST(count(*) AS BIGINT) AS cnt
        |  FROM (SELECT unnest(string_split(text, ' ')) AS tok FROM documents)
        |  WHERE tok <> '' GROUP BY 1)""".stripMargin
    val iters = (1 to nMerges).map { k =>
      s"""p$k AS MATERIALIZED (
         |  SELECT t[i] AS l, t[i + 1] AS r, CAST(sum(cnt) AS BIGINT) AS pair_count
         |  FROM (SELECT string_split(trim(repr), ' ') AS t, cnt FROM w${k - 1}) s,
         |       LATERAL (SELECT unnest(range(1, len(t))) AS i) ii
         |  GROUP BY 1, 2),
         |m$k AS MATERIALIZED (SELECT $k AS iter, l, r, pair_count FROM p$k
         |  ORDER BY pair_count DESC, l, r LIMIT 1),
         |w$k AS MATERIALIZED (
         |  SELECT replace(repr,
         |    ' ' || (SELECT l FROM m$k) || ' ' || (SELECT r FROM m$k) || ' ',
         |    ' ' || (SELECT l FROM m$k) || (SELECT r FROM m$k) || ' ') AS repr,
         |    cnt FROM w${k - 1})""".stripMargin
    }.mkString(",\n")
    s"$w0,\n$iters"
  }

  def oracleSql(nMerges: Int): String = {
    val union = (1 to nMerges).map(k => s"SELECT * FROM m$k").mkString("\n  UNION ALL ")
    s"""WITH ${oracleCtes(nMerges)}
       |SELECT CAST(iter AS INTEGER) AS iter, l, r, pair_count FROM (
       |  $union)""".stripMargin
  }

  /** Apply a learned merge list to every word of every document — the
    * tokenizer APPLICATION pass that q150's learning feeds — and report
    * per-document subword statistics (n_words, n_subwords, n_chars; the
    * compression the tokenizer achieves is n_chars/n_subwords).
    *
    * Scale: the merge list is O(nMerges) driver state compiled into a
    * chain of nMerges codegen'd `replace` calls inside ONE explode scan
    * (no broadcast table, no shuffle before the per-doc aggregation on
    * uniform doc-id keys). Word boundaries are preserved by encoding
    * per exploded word — a merge can never cross words. */
  def bpeEncode(docs: DataFrame, idCol: String, textCol: String,
                merges: Seq[(String, String)]): DataFrame = {
    val enc = merges.foldLeft(charSpaced(col("w"))) { case (acc, (l, r)) =>
      replace(acc, lit(s" $l $r "), lit(s" $l$r ")) }
    docs.select(col(idCol).as("doc_id"),
        explode(split(col(textCol), " ")).as("w"))
      .filter(length(col("w")) > 0)
      .select(col("doc_id"), size(split(trim(enc), " ")).as("ns"),
        length(col("w")).as("nc"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_words"), sum(col("ns")).as("n_subwords"),
        sum(col("nc")).as("n_chars"))
  }

  /** The SCALE form of [[bpeEncode]] — same output contract, flat plan
    * depth, distinct-word memoization. [[bpeEncode]]'s compiled chain
    * nests one Catalyst `replace` per merge: sound at nMerges = 8,
    * unanalyzable at a real tokenizer's ~50k merges (thousands of nested
    * expression nodes). Here the whole chain is ONE
    * [[graft.catalyst.BpeEncode]] node (the merge table is a reference
    * object the generated code loops over — merge count is data, not
    * plan shape), and it runs once per DISTINCT word — the q155
    * distinct-trigram factoring — so per-word cost O(nMerges · len) is
    * paid on the vocab-sized table, never per corpus token. The join
    * back to corpus positions keys on raw words (zipfian — the declared
    * AQE-skew point, exactly as in LanguageModel.stupidBackoff); the
    * per-doc aggregation keys on uniform doc ids. */
  def bpeEncodeFlat(docs: DataFrame, idCol: String, textCol: String,
                    merges: Seq[(String, String)]): DataFrame = {
    val subs = merges.map { case (l, r) => (s" $l $r ", s" $l$r ") }
    val words = docs.select(col(idCol).as("doc_id"),
        explode(split(col(textCol), " ")).as("w"))
      .filter(length(col("w")) > 0)
    val encoded = words.select(col("w")).distinct()
      .select(col("w"), size(split(trim(
        graft.catalyst.BpeEncode(charSpaced(col("w")), subs)), " ")).as("ns"))
    words.join(encoded, Seq("w"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_words"), sum(col("ns")).as("n_subwords"),
        sum(length(col("w"))).as("n_chars"))
  }

  /** Tokenizer fertility audit: subwords-per-word and chars-per-subword
    * (exact integer micros) per dimension group (e.g. language × source)
    * under a given merge vocabulary. THE acceptance metric for a
    * tokenizer over a multilingual corpus — a language with fertility 3×
    * another's pays 3× the context budget per word, and this surfaces
    * it per slice before training starts.
    *
    * Scale: rides [[bpeEncodeFlat]] (encode per DISTINCT word, join back
    * on zipfian words — the declared AQE-skew point); the dimension
    * aggregation runs over the doc-count-sized per-doc table with
    * map-side partials. Integer arithmetic throughout (×1e6 then floor
    * div), so the numbers are engine-exact. */
  def fertility(docs: DataFrame, idCol: String, textCol: String,
                dims: Seq[String],
                merges: Seq[(String, String)]): DataFrame = {
    val perDoc = bpeEncodeFlat(docs, idCol, textCol, merges)
    perDoc.join(
        docs.select((col(idCol).as("doc_id") +: dims.map(col)): _*),
        Seq("doc_id"))
      .groupBy(dims.map(col): _*)
      .agg(sum(col("n_words")).as("n_words"),
        sum(col("n_subwords")).as("n_subwords"),
        sum(col("n_chars")).as("n_chars"))
      .select(dims.map(col) ++ Seq(
        col("n_words"), col("n_subwords"), col("n_chars"),
        expr("n_subwords * 1000000 div n_words").as("fertility_micros"),
        expr("n_chars * 1000000 div n_subwords")
          .as("chars_per_subword_micros")): _*)
  }

  /** DuckDB spelling of [[fertility]] over (lang, source): the q150
    * learning CTE chain + nested replace() per token, aggregated per
    * dimension group with the same integer floor divisions. */
  def fertilityOracleSql(nMerges: Int): String = {
    val enc = (1 to nMerges).foldLeft(
      "' ' || regexp_replace(tok, '(.)', '\\1 ', 'g')") { (acc, k) =>
      s"""replace($acc,
         |    ' ' || (SELECT l FROM m$k) || ' ' || (SELECT r FROM m$k) || ' ',
         |    ' ' || (SELECT l FROM m$k) || (SELECT r FROM m$k) || ' ')""".stripMargin
    }
    s"""WITH ${oracleCtes(nMerges)},
       |enc AS (
       |  SELECT doc_id, lang, source,
       |         len(string_split(trim($enc), ' ')) AS ns,
       |         len(tok) AS nc
       |  FROM (SELECT doc_id, lang, source,
       |          unnest(string_split(text, ' ')) AS tok
       |        FROM documents)
       |  WHERE tok <> ''),
       |g AS (
       |  SELECT lang, source, CAST(count(*) AS BIGINT) AS n_words,
       |    CAST(sum(ns) AS BIGINT) AS n_subwords,
       |    CAST(sum(nc) AS BIGINT) AS n_chars
       |  FROM enc GROUP BY 1, 2)
       |SELECT lang, source, n_words, n_subwords, n_chars,
       |  CAST(n_subwords * 1000000 // n_words AS BIGINT)
       |    AS fertility_micros,
       |  CAST(n_chars * 1000000 // n_subwords AS BIGINT)
       |    AS chars_per_subword_micros
       |FROM g""".stripMargin
  }

  /** Word-level BPE (phrase induction, the SentencePiece-over-tokens
    * shape): symbols are whitespace tokens, a merge fuses an adjacent
    * token pair (l, r) into "l_r". Derivation is ROUND-BATCHED — each of
    * `rounds` rounds counts adjacent pairs ONCE over the current corpus
    * representation, takes the top `perRound` pairs by
    * (count DESC, l ASC, r ASC), and applies them in rank order — so a
    * rounds × perRound = 256-merge vocabulary costs `rounds` counting
    * scans + `rounds` bounded driver carries (perRound rows each, via
    * TakeOrderedAndProject), not 256 iterations. Application is one
    * [[graft.catalyst.BpeEncode]] node per round: plan depth and lineage
    * are O(rounds) — localCheckpoint per round, the bpeMerges
    * discipline — regardless of total merge count.
    *
    * Returns one row per document: (doc_id, n_words, n_symbols) — token
    * count before and symbol count after the 256-merge encode; the
    * compression the phrase vocabulary achieves is n_words/n_symbols.
    *
    * `requireFullRounds` fails DIRECTED when a round's pair space can't
    * sustain `perRound` merges (corpus fused tight / too small) — the
    * guard that makes a "≥ rounds × perRound merges derived" claim a
    * gated fact instead of an assumption (q263). */
  def phraseBpe(docs: DataFrame, idCol: String, textCol: String,
                rounds: Int, perRound: Int,
                requireFullRounds: Boolean = false)
      : DataFrame = Frames { f =>
    require(rounds >= 1, s"phraseBpe: rounds must be >= 1, got $rounds")
    // lazy checkpoint: round 1's pair-count collect materializes it
    // (r16 — one corpus pass per round instead of two)
    var reprs = f.lazily(docs.select(col(idCol).as("doc_id"),
      size(split(col(textCol), " ")).as("n_words"),
      concat(lit(" "), col(textCol), lit(" ")).as("repr")))
    var spent: DataFrame = null
    for (round <- 1 to rounds) {
      // adjacent pairs via slice+zip over a MATERIALIZED token column:
      // element_at inside a transform lambda re-evaluates the split()
      // subtree per position (O(len²) per row — measured 2 s/round on
      // 5000 docs); the zip form splits once and stays linear
      val top = reprs
        .select(split(trim(col("repr")), " ").as("t"))
        .filter(size(col("t")) >= 2)
        .select(slice(col("t"), lit(1), size(col("t")) - 1).as("ls"),
          slice(col("t"), lit(2), size(col("t")) - 1).as("rs"))
        .select(explode(arrays_zip(col("ls"), col("rs"))).as("p"))
        .groupBy(col("p.ls").as("l"), col("p.rs").as("r"))
        .agg(count(lit(1)).as("pc"))
        .orderBy(col("pc").desc, col("l"), col("r"))
        .limit(perRound)
        .collect()
      f.release(spent) // the collect materialized reprs, its only reader
      spent = reprs
      if (requireFullRounds) require(top.length == perRound,
        s"phraseBpe: round $round yielded only ${top.length} of $perRound " +
        "merges — the corpus' pair space is exhausted; lower perRound/" +
        "rounds or drop requireFullRounds")
      val subs = top.map(r =>
        (s" ${r.getString(0)} ${r.getString(1)} ",
          s" ${r.getString(0)}_${r.getString(1)} ")).toSeq
      val applied = reprs.withColumn("repr",
        graft.catalyst.BpeEncode(col("repr"), subs))
      // intermediate rounds checkpoint (the next round's counting scan
      // must not re-run the whole chain); the FINAL application is
      // consumed exactly once downstream — materializing it would only
      // add a full extra pass over the corpus representation
      // lazy: the NEXT round's counting scan materializes the applied
      // representation in its own job — the eager form paid a separate
      // full pass per round just to fill the blocks (r16)
      reprs = if (round < rounds) f.lazily(applied) else applied
    }
    // the returned relation reads the last round's input frame:
    // caller-owned
    f.keep(spent)
    reprs.select(col("doc_id"), col("n_words"),
      size(split(trim(col("repr")), " ")).as("n_symbols"))
  }

  /** DuckDB spelling of [[phraseBpe]]: per round, pair counts + a ranked
    * top-`perRound` merge table, then a RECURSIVE CTE applying the
    * round's merges in rank order (one recursion step per rank — the
    * flat-depth shape on the oracle side too, no nested replace chain). */
  def phraseBpeOracleSql(rounds: Int, perRound: Int): String = {
    val roundCtes = (1 to rounds).map { k =>
      s"""p$k AS MATERIALIZED (
         |  SELECT t[i] AS l, t[i + 1] AS r, count(*) AS pc
         |  FROM (SELECT string_split(trim(repr), ' ') AS t FROM d${k - 1}
         |        WHERE len(string_split(trim(repr), ' ')) >= 2) s,
         |       LATERAL (SELECT unnest(range(1, len(t))) AS i) ii
         |  GROUP BY 1, 2),
         |m$k AS MATERIALIZED (
         |  SELECT l, r, row_number() OVER (ORDER BY pc DESC, l, r) AS rk
         |  FROM p$k QUALIFY rk <= $perRound),
         |e$k AS (
         |  SELECT doc_id, n_words, repr, 0 AS rk FROM d${k - 1}
         |  UNION ALL
         |  SELECT e.doc_id, e.n_words,
         |    replace(e.repr, ' ' || m.l || ' ' || m.r || ' ',
         |      ' ' || m.l || '_' || m.r || ' ') AS repr, e.rk + 1
         |  FROM e$k e JOIN m$k m ON m.rk = e.rk + 1),
         |d$k AS MATERIALIZED (
         |  SELECT doc_id, n_words, repr FROM e$k
         |  WHERE rk = (SELECT count(*) FROM m$k))""".stripMargin
    }.mkString(",\n")
    s"""WITH RECURSIVE
       |d0 AS MATERIALIZED (
       |  SELECT doc_id, len(string_split(text, ' ')) AS n_words,
       |         ' ' || text || ' ' AS repr FROM documents),
       |$roundCtes
       |SELECT doc_id, CAST(n_words AS INTEGER) AS n_words,
       |  CAST(len(string_split(trim(repr), ' ')) AS INTEGER) AS n_symbols
       |FROM d$rounds""".stripMargin
  }

  /** DuckDB spelling of [[phraseBpe]] over the SALTED corpus (token ⊕
    * doc-id suffix — the realistic-vocab widening, q276): derivation
    * CTEs are [[phraseBpeOracleSql]]'s verbatim, but application
    * exploits salt-locality — every symbol of a document carries that
    * document's salt, so merges of different salts act on DISJOINT
    * documents and commute; a document needs only ITS salt's merges, in
    * global-rank order (= local rank within the salt partition). The
    * recursion therefore steps per-salt local rank (≈ merges/docs deep)
    * instead of per global rank: measured 1.7 s vs 49 s for the naive
    * 16×1024 chain at 500 docs, value-identical. */
  def phraseBpeSaltedOracleSql(rounds: Int, perRound: Int): String = {
    val roundCtes = (1 to rounds).map { k =>
      s"""p$k AS MATERIALIZED (
         |  SELECT t[i] AS l, t[i + 1] AS r, count(*) AS pc
         |  FROM (SELECT string_split(trim(repr), ' ') AS t FROM d${k - 1}
         |        WHERE len(string_split(trim(repr), ' ')) >= 2) s,
         |       LATERAL (SELECT unnest(range(1, len(t))) AS i) ii
         |  GROUP BY 1, 2),
         |m$k AS MATERIALIZED (
         |  SELECT l, r, salt, row_number() OVER (PARTITION BY salt
         |    ORDER BY rk) AS lrk
         |  FROM (SELECT l, r, regexp_extract(l, '~(\\d+)', 1) AS salt,
         |          row_number() OVER (ORDER BY pc DESC, l, r) AS rk
         |        FROM p$k QUALIFY rk <= $perRound)),
         |e$k AS (
         |  SELECT doc_id, n_words, repr, 0 AS lrk FROM d${k - 1}
         |  UNION ALL
         |  SELECT e.doc_id, e.n_words,
         |    replace(e.repr, ' ' || m.l || ' ' || m.r || ' ',
         |      ' ' || m.l || '_' || m.r || ' ') AS repr, e.lrk + 1
         |  FROM e$k e JOIN m$k m
         |    ON m.salt = CAST(e.doc_id AS VARCHAR) AND m.lrk = e.lrk + 1),
         |d$k AS MATERIALIZED (
         |  SELECT e.doc_id, e.n_words, e.repr FROM e$k e
         |  WHERE e.lrk = (SELECT count(*) FROM m$k m2
         |                 WHERE m2.salt = CAST(e.doc_id AS VARCHAR)))"""
        .stripMargin
    }.mkString(",\n")
    s"""WITH RECURSIVE
       |d0 AS MATERIALIZED (
       |  SELECT doc_id, len(string_split(text, ' ')) AS n_words,
       |         ' ' || regexp_replace(text, '(\\S+)',
       |           '\\1~' || CAST(doc_id AS VARCHAR), 'g') || ' ' AS repr
       |  FROM documents),
       |$roundCtes
       |SELECT doc_id, CAST(n_words AS INTEGER) AS n_words,
       |  CAST(len(string_split(trim(repr), ' ')) AS INTEGER) AS n_symbols
       |FROM d$rounds""".stripMargin
  }

  /** DuckDB spelling of learn-then-encode: the q150 learning CTE chain,
    * then the merge chain applied as nested replace() calls per word. */
  def encodeOracleSql(nMerges: Int): String = {
    val enc = (1 to nMerges).foldLeft(
      "' ' || regexp_replace(tok, '(.)', '\\1 ', 'g')") { (acc, k) =>
      s"""replace($acc,
         |    ' ' || (SELECT l FROM m$k) || ' ' || (SELECT r FROM m$k) || ' ',
         |    ' ' || (SELECT l FROM m$k) || (SELECT r FROM m$k) || ' ')""".stripMargin
    }
    s"""WITH ${oracleCtes(nMerges)},
       |enc AS (
       |  SELECT doc_id, len(string_split(trim($enc), ' ')) AS ns,
       |         len(tok) AS nc
       |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
       |        FROM documents)
       |  WHERE tok <> '')
       |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_words,
       |  CAST(sum(ns) AS BIGINT) AS n_subwords,
       |  CAST(sum(nc) AS BIGINT) AS n_chars
       |FROM enc GROUP BY doc_id""".stripMargin
  }

  // --------------------------------------------------------------------
  // WORDPIECE (Schuster & Nakajima 2012; the BERT tokenizer) — the third
  // of the big-three subword families next to BPE (q150) and unigram-LM
  // (q281). Training is BPE-shaped with TWO published differences:
  // continuation symbols carry the "##" prefix (word "abc" seeds as
  // " a ##b ##c "; merging l with r yields l + r-without-##), and the
  // merge choice maximizes the LIKELIHOOD score
  //   score(l, r) = count(l r) / (count(l) · count(r))
  // — the pair whose fusion most increases corpus likelihood under a
  // unigram model — instead of raw pair count. Scores are single IEEE
  // divisions of exact integer counts (products ≤ 1e12 ≪ 2^53, so the
  // doubles are exact and both engines order them identically; ties
  // break (l, r) asc). Encoding is greedy longest-match-first per word
  // with [UNK] fallback ([[wordPieceEncode]]).

  /** WordPiece symbol seeding: "abc" → " a ##b ##c ". */
  private def wpCharSpaced(w: org.apache.spark.sql.Column) =
    concat(lit(" "), substring(w, 1, 1), lit(" "),
      regexp_replace(substring(w, 2, Int.MaxValue), "(.)", "##$1 "))

  /** Learn `nMerges` WordPiece merges. One row per merge:
    * (iter, l, r, merged, pair_count, l_count, r_count) — the exact
    * integer counts behind the chosen score (the score itself is their
    * ratio; emitting the integers keeps the gate float-free). Stops
    * early if no adjacent pair remains. */
  def wordPieceMerges(docs: DataFrame, textCol: String,
                      nMerges: Int): DataFrame = Frames { f =>
    val spark = docs.sparkSession
    import spark.implicits._
    // lazy checkpoints — the bpeMerges r16 note
    var vocab = f.lazily(docs
      .select(explode(split(col(textCol), " ")).as("w"))
      .filter(length(col("w")) > 0)
      .groupBy("w").agg(count(lit(1)).as("cnt"))
      .select(wpCharSpaced(col("w")).as("repr"), col("cnt")))
    var spent: DataFrame = null
    val merges = Seq.newBuilder[(Int, String, String, String, Long, Long, Long)]
    var it = 1
    var exhausted = false
    while (it <= nMerges && !exhausted) {
      val syms = vocab
        .select(col("cnt"), split(trim(col("repr")), " ").as("__t"))
      val symCounts = syms
        .select(col("cnt"), explode(col("__t")).as("s"))
        .groupBy(col("s")).agg(sum(col("cnt")).as("sc"))
      val top = syms
        .filter(size(col("__t")) >= 2)
        .select(col("cnt"),
          slice(col("__t"), lit(1), size(col("__t")) - 1).as("ls"),
          slice(col("__t"), lit(2), size(col("__t")) - 1).as("rs"))
        .select(col("cnt"), explode(arrays_zip(col("ls"), col("rs"))).as("p"))
        .groupBy(col("p.ls").as("l"), col("p.rs").as("r"))
        .agg(sum(col("cnt")).as("pair_count"))
        .join(symCounts.select(col("s").as("l"), col("sc").as("lc")),
          Seq("l"))
        .join(symCounts.select(col("s").as("r"), col("sc").as("rc")),
          Seq("r"))
        .select(col("l"), col("r"), col("pair_count"), col("lc"), col("rc"),
          (col("pair_count").cast("double") /
            (col("lc") * col("rc")).cast("double")).as("score"))
        .orderBy(col("score").desc, col("l"), col("r"))
        .limit(1)
        .collect()
      f.release(spent) // the collect materialized vocab, its only reader
      if (top.isEmpty) exhausted = true
      else {
        val l = top(0).getString(0)
        val r = top(0).getString(1)
        val merged = l + r.stripPrefix("##")
        merges += ((it, l, r, merged, top(0).getLong(2), top(0).getLong(3),
          top(0).getLong(4)))
        spent = vocab
        vocab = f.lazily(vocab.withColumn("repr",
          replace(col("repr"), lit(s" $l $r "), lit(s" $merged "))))
        it += 1
      }
    }
    merges.result()
      .toDF("iter", "l", "r", "merged", "pair_count", "l_count", "r_count")
      .select(col("iter").cast("int").as("iter"), col("l"), col("r"),
        col("merged"), col("pair_count"), col("l_count"), col("r_count"))
  }

  /** The unrolled WordPiece learning chain (the q150 oracleCtes shape
    * with the likelihood argmax): wp0 seeds " a ##b ##c " symbol rows;
    * per iteration wps_k (symbol counts), wpp_k (pair counts joined to
    * both symbol counts), wpm_k (argmax by the IEEE-division score,
    * ties (l, r) asc), wp_k (merge applied — l + r without "##"). */
  private def wpOracleCtes(nMerges: Int,
                           corpus: String = "documents"): String = {
    val w0 =
      s"""wp0 AS MATERIALIZED (
        |  SELECT ' ' || tok[1] || ' ' ||
        |         regexp_replace(tok[2:], '(.)', '##\\1 ', 'g') AS repr,
        |         CAST(count(*) AS BIGINT) AS cnt
        |  FROM (SELECT unnest(string_split(text, ' ')) AS tok FROM $corpus)
        |  WHERE tok <> '' GROUP BY 1)""".stripMargin
    val iters = (1 to nMerges).map { k =>
      s"""wpt$k AS MATERIALIZED (
         |  SELECT string_split(trim(repr), ' ') AS t, cnt FROM wp${k - 1}),
         |wps$k AS MATERIALIZED (
         |  SELECT s, CAST(sum(cnt) AS BIGINT) AS sc FROM (
         |    SELECT unnest(t) AS s, cnt FROM wpt$k) GROUP BY 1),
         |wpp$k AS MATERIALIZED (
         |  SELECT t[i] AS l, t[i + 1] AS r,
         |         CAST(sum(cnt) AS BIGINT) AS pair_count
         |  FROM wpt$k, LATERAL (SELECT unnest(range(1, len(t))) AS i) ii
         |  GROUP BY 1, 2),
         |wpm$k AS MATERIALIZED (
         |  SELECT $k AS iter, p.l, p.r,
         |    p.l || CASE WHEN p.r LIKE '##%' THEN p.r[3:] ELSE p.r END
         |      AS merged,
         |    p.pair_count, a.sc AS l_count, b.sc AS r_count
         |  FROM wpp$k p JOIN wps$k a ON p.l = a.s JOIN wps$k b ON p.r = b.s
         |  ORDER BY CAST(p.pair_count AS DOUBLE) /
         |    CAST(a.sc * b.sc AS DOUBLE) DESC, p.l, p.r LIMIT 1),
         |wp$k AS MATERIALIZED (
         |  SELECT replace(repr,
         |    ' ' || (SELECT l FROM wpm$k) || ' ' ||
         |      (SELECT r FROM wpm$k) || ' ',
         |    ' ' || (SELECT merged FROM wpm$k) || ' ') AS repr,
         |    cnt FROM wp${k - 1})""".stripMargin
    }.mkString(",\n")
    s"$w0,\n$iters"
  }

  def wordPieceOracleSql(nMerges: Int,
                         corpus: String = "documents"): String = {
    val union = (1 to nMerges).map(k => s"SELECT * FROM wpm$k")
      .mkString("\n  UNION ALL ")
    s"""WITH ${wpOracleCtes(nMerges, corpus)}
       |SELECT CAST(iter AS INTEGER) AS iter, l, r, merged, pair_count,
       |  l_count, r_count FROM ($union)""".stripMargin
  }

  /** The trained WordPiece vocabulary: the POSITIONAL single-symbol
    * alphabet the seeding produced (a char only ever seen word-internal
    * has no word-initial form — real WordPiece semantics; such a word
    * start is [UNK]) plus every merged symbol, intermediates included
    * (the published vocab keeps them). A bounded driver carry:
    * O(alphabet + merges). */
  def wordPieceVocab(trainDocs: DataFrame, textCol: String,
                     merges: DataFrame): Set[String] = {
    val alpha = trainDocs
      .select(explode(split(col(textCol), " ")).as("w"))
      .filter(length(col("w")) > 0)
      .select(explode(split(trim(wpCharSpaced(col("w"))), " ")).as("s"))
      .distinct().collect().map(_.getString(0))
    val merged = merges.select(col("merged")).collect().map(_.getString(0))
    (alpha ++ merged).toSet
  }

  /** The WordPiece vocabulary as a VERSIONED data artifact (the q295
    * blocklist discipline applied to the tokenizer): one row per
    * (version, piece), versions immutable and append-only — a retrain
    * lands as a new version, serving loads the LATEST. Version-pick is
    * load-bearing: encoding with a stale version produces a different
    * segmentation (the q323 gate plants a degenerate alphabet-only v1
    * under the full v2). */
  def wordPieceModelRows(spark: org.apache.spark.sql.SparkSession,
                         vocab: Set[String], version: Long): DataFrame = {
    import spark.implicits._
    vocab.toSeq.sorted.map(p => (version, p)).toDF("version", "piece")
  }

  def wordPieceModelTap(path: String): graft.sources.ParquetTap =
    graft.sources.ParquetTap(path)

  /** Load the latest version's pieces — an O(versions × pieces) driver
    * carry (KBs; the loadLatestBlockTerms shape). */
  def loadLatestWordPieceVocab(rows: DataFrame): Set[String] = {
    val all = rows.select(col("version").cast("long"), col("piece"))
      .collect().map(r => (r.getLong(0), r.getString(1)))
    require(all.nonEmpty, "loadLatestWordPieceVocab: empty model tap")
    val latest = all.map(_._1).max
    all.filter(_._1 == latest).map(_._2).toSet
  }

  /** WordPiece ENCODING — greedy longest-match-first per word (the
    * published serving algorithm: take the longest vocab piece that
    * prefixes the remaining word, "##"-prefixed after the first piece;
    * a position with NO matching piece makes the whole word [UNK]).
    * Per-doc output (doc_id, n_words, n_pieces, n_unk) — an [UNK] word
    * contributes one piece. The greedy walk counts CODEPOINTS — the
    * training seeding ('(.)' is a codepoint regex) and the DuckDB
    * oracle (len/slice are codepoint ops) both do (r15 advice).
    *
    * Scale shape: ONE pure-Column projection — the per-word walk is
    * the codegen'd [[graft.catalyst.WordPieceEncode]] expression (the
    * vocabulary rides as a shared reference object; vocab size is
    * data, not plan shape), folded per doc with `aggregate` — so the
    * whole chain stays inside WholeStageCodegen, composes into
    * streaming projections stateless, and the plan audits read a
    * single scan-shaped Project (r15 what's-wrong #3). */
  def wordPieceEncode(docs: DataFrame, idCol: String, textCol: String,
                      vocab: Set[String]): DataFrame = {
    require(vocab.nonEmpty, "wordPieceEncode: empty vocabulary")
    val toks = filter(split(col(textCol), " "), w => w =!= lit(""))
    // per-word packed result: piece count, or −1 for an [UNK] word
    val encs = transform(toks,
      w => graft.catalyst.WordPieceEncode(w, vocab.toSeq.sorted))
    docs.select(col(idCol).as("doc_id"),
      size(toks).cast("long").as("n_words"),
      aggregate(encs, lit(0L),
        (acc, v) => acc + when(v < 0L, lit(1L)).otherwise(v))
        .as("n_pieces"),
      aggregate(encs, lit(0L),
        (acc, v) => acc + when(v < 0L, lit(1L)).otherwise(lit(0L)))
        .as("n_unk"))
  }

  /** The q321 oracle: greedy longest-match unrolled over DISTINCT words
    * — vocabulary = the wp0 positional alphabet ∪ the merge chain's
    * `merged` symbols (both straight from the q320 CTEs, one spelling);
    * per step the best piece length is the max candidate length whose
    * (##-positional) substring is in the vocab; a step with no match
    * marks the word [UNK] (1 piece). `maxWordLen` bounds the unroll —
    * a longer word fails LOUDLY via the leftover-state `error()` guard
    * (never a silent NULL the outer sum would ignore — r15 advice).
    * The candidate piece length ceiling derives from the ACTUAL
    * trained vocabulary (`vlen`), not a fixed constant — 8 merges can
    * chain pieces past any hand-picked cap. `source` must yield
    * (doc_id, text). */
  def wordPieceEncodeOracleSql(nMerges: Int, maxWordLen: Int,
                               source: String,
                               corpus: String = "documents"): String = {
    val steps = (1 to maxWordLen).map { k =>
      s"""es$k AS MATERIALIZED (
         |  SELECT g.w, g.pos, g.np, g.unk,
         |    max(CASE WHEN v.p IS NOT NULL THEN ll.l END) AS best
         |  FROM eg${k - 1} g
         |  CROSS JOIN (SELECT unnest(range(1, (SELECT ml FROM vlen) + 1))
         |    AS l) ll
         |  LEFT JOIN vset v ON g.pos + ll.l - 1 <= len(g.w)
         |    AND v.p = CASE WHEN g.pos = 1
         |      THEN g.w[g.pos : g.pos + ll.l - 1]
         |      ELSE '##' || g.w[g.pos : g.pos + ll.l - 1] END
         |  GROUP BY 1, 2, 3, 4),
         |eg$k AS MATERIALIZED (
         |  SELECT w,
         |    CASE WHEN unk OR pos > len(w) OR best IS NULL THEN pos
         |         ELSE pos + best END AS pos,
         |    CASE WHEN unk OR pos > len(w) OR best IS NULL THEN np
         |         ELSE np + 1 END AS np,
         |    (unk OR (pos <= len(w) AND best IS NULL)) AS unk
         |  FROM es$k)""".stripMargin
    }.mkString(",\n")
    s"""WITH ${wpOracleCtes(nMerges, corpus)},
       |vset AS MATERIALIZED (
       |  SELECT DISTINCT unnest(string_split(trim(repr), ' ')) AS p
       |  FROM wp0
       |  UNION
       |  ${(1 to nMerges).map(k => s"SELECT merged FROM wpm$k")
          .mkString("\n  UNION\n  ")}),
       |vlen AS MATERIALIZED (
       |  SELECT max(len(CASE WHEN p LIKE '##%' THEN p[3:] ELSE p END))
       |    AS ml FROM vset),
       |src AS MATERIALIZED ($source),
       |dw AS MATERIALIZED (
       |  SELECT DISTINCT w FROM (
       |    SELECT unnest(string_split(text, ' ')) AS w FROM src)
       |  WHERE w <> ''),
       |eg0 AS (SELECT w, 1 AS pos, 0 AS np, FALSE AS unk FROM dw),
       |$steps,
       |fin AS (
       |  SELECT w,
       |    CASE WHEN unk THEN CAST(1 AS BIGINT)
       |         WHEN pos > len(w) THEN CAST(np AS BIGINT)
       |         ELSE CAST(error('wordpiece oracle: word ''' || w ||
       |           ''' unfinished after $maxWordLen greedy steps — ' ||
       |           'raise maxWordLen') AS BIGINT) END AS pieces,
       |    unk
       |  FROM eg$maxWordLen),
       |pos2 AS (
       |  SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM src),
       |perw AS (
       |  SELECT p.doc_id, f.pieces, f.unk
       |  FROM pos2 p JOIN fin f USING (w) WHERE p.w <> '')
       |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_words,
       |  CAST(sum(pieces) AS BIGINT) AS n_pieces,
       |  CAST(sum(CASE WHEN unk THEN 1 ELSE 0 END) AS BIGINT) AS n_unk
       |FROM perw GROUP BY doc_id""".stripMargin
  }

  /** Heaps-law vocabulary-growth curve: bucket the corpus by document id
    * (bucket = id div bucketSize — ingest order), and report per bucket
    * how many token TYPES appear for the first time, plus cumulative
    * types and token totals. The standard diagnostic for "is the
    * vocabulary still growing" when sizing a tokenizer / dedup budget.
    *
    * Scale: one explode scan → groupBy (bucket, token) count (near-uniform
    * keys: zipfian tokens are spread across buckets) → per-token min
    * bucket (vocab-sized input) and per-bucket totals, both map-side
    * combined; the cumulative window runs over O(buckets) rows. No
    * driver-side state. */
  def vocabGrowth(docs: DataFrame, textCol: String, idCol: String,
                  bucketSize: Long): DataFrame = {
    val perBucketTok = docs
      .select(expr(s"CAST($idCol AS BIGINT) div $bucketSize").as("bucket"),
        explode(split(col(textCol), " ")).as("tok"))
      .filter(length(col("tok")) > 0)
      .groupBy("bucket", "tok").agg(count(lit(1)).as("n"))
    val totals = perBucketTok.groupBy("bucket")
      .agg(sum(col("n")).as("bucket_tokens"))
    val firstSeen = perBucketTok.groupBy("tok")
      .agg(min(col("bucket")).as("bucket"))
      .groupBy("bucket").agg(count(lit(1)).as("new_types"))
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("bucket"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    totals.join(firstSeen, Seq("bucket"), "left")
      .withColumn("new_types", coalesce(col("new_types"), lit(0L)))
      .withColumn("cum_types", sum(col("new_types")).over(w))
      .withColumn("cum_tokens", sum(col("bucket_tokens")).over(w))
      .select("bucket", "new_types", "cum_types", "bucket_tokens", "cum_tokens")
  }

  // --------------------------------------------------------------------
  // Unigram-LM tokenizer (Kudo 2018, SentencePiece) — the OTHER subword
  // family next to BPE. Same scale contract as bpeMerges: ONE corpus scan
  // builds the word-frequency table; everything after (piece inventory,
  // scoring, Viterbi, hard-EM re-estimation) runs on vocab-sized tables,
  // and the piece table — the MODEL, O(V) rows like a BPE merge list —
  // is the only driver carry. All arithmetic is exact-integer bits
  // (s(p) = ⌊log2 f(p)⌋ − ⌊log2 F⌋, the q115/q264 bin() discipline), so
  // Spark and the DuckDB oracle agree bit-for-bit with no float drift.
  // The oracle segments by EXHAUSTIVE composition enumeration (recursive
  // CTE), independently validating the DP in catalyst.UnigramSegment.
  // --------------------------------------------------------------------

  /** Default unigram-LM hyperparameters: pieces up to 4 chars, top-256
    * multi-char seeds by the SentencePiece freq×len seeding heuristic. */
  val UnigramMaxPieceLen = 4
  val UnigramTopK = 256

  /** The q282 arrival batch's novel words: concatenations of corpus word
    * pairs, picked by doc_id % 5 — unseen as WORDS at every SF (the
    * corpus word list is fixed) while every character is covered by the
    * trained piece inventory, so the frozen vocabulary must GENERALIZE:
    * segment words it never saw into pieces it did. */
  val UnigramNovelWords: Seq[String] =
    Seq("sortmerge", "hashjoin", "batchscan", "streamfilter", "keyvalue")

  /** One corpus scan: the (w, cnt) word-frequency table. */
  def unigramWordTable(docs: DataFrame, textCol: String): DataFrame =
    docs.select(explode(split(col(textCol), " ")).as("w"))
      .filter(length(col("w")) > 0)
      .groupBy("w").agg(count(lit(1)).as("cnt"))

  /** Seed piece inventory from the word table: every substring of length
    * ≤ maxPieceLen, occurrence-weighted (a word containing p twice
    * contributes 2·cnt to f(p)). Kept set = ALL single characters (so
    * every observed word stays coverable) plus the top-K multi-char
    * pieces by (f·len DESC, p ASC) — the SentencePiece seeding heuristic,
    * lowered to TakeOrderedAndProject (never a global sort). */
  def unigramPieceTable(words: DataFrame, maxPieceLen: Int = UnigramMaxPieceLen,
                        topK: Int = UnigramTopK): DataFrame = {
    val subs = words
      .select(col("cnt"), explode(expr(
        s"""flatten(transform(sequence(1, char_length(w)),
           |  s -> transform(sequence(1, least($maxPieceLen, char_length(w) - s + 1)),
           |    l -> substring(w, s, l))))""".stripMargin)).as("p"))
      .groupBy("p").agg(sum(col("cnt")).as("f"))
    val multi = subs.filter(length(col("p")) >= 2)
      .orderBy((col("f") * length(col("p"))).desc, col("p").asc)
      .limit(topK)
    subs.filter(length(col("p")) === 1).unionByName(multi)
  }

  /** Collect a (p, f)-shaped piece/usage table into exact bits-scores:
    * (pieces with s(p) = ⌊log2 f⌋ − ⌊log2 Σf⌋, and ⌊log2 Σf⌋ itself).
    * Driver carry is O(V) — the tokenizer-model contract (a BPE merge
    * list is the same carry; q157/q276). */
  def unigramScoredPieces(pieceTable: DataFrame,
                          freqCol: String = "f"): (Array[(String, Long)], Long) = {
    val rows = pieceTable.select(col("p"), col(freqCol).cast("long"))
      .collect().map(r => (r.getString(0), r.getLong(1)))
    require(rows.nonEmpty, "unigram piece table is empty")
    val bTot = 63 - java.lang.Long.numberOfLeadingZeros(rows.map(_._2).sum)
    (rows.map { case (p, f) =>
      (p, (63 - java.lang.Long.numberOfLeadingZeros(f)).toLong - bTot)
    }, bTot.toLong)
  }

  /** Segment every word of a (w, …) table against a scored piece
    * vocabulary; an uncoverable word fails DIRECTED (raise_error names
    * it) rather than silently dropping from the output. */
  def unigramSegmentCol(word: org.apache.spark.sql.Column,
                        scored: Array[(String, Long)]): org.apache.spark.sql.Column = {
    val seg = graft.catalyst.UnigramSegment(word, scored.toSeq)
    when(seg === "", raise_error(concat(
      lit("unigram: word not coverable by the piece vocabulary: "), word)))
      .otherwise(seg)
  }

  /** Viterbi + ONE hard-EM round (Viterbi re-estimation: f′(p) = usage of
    * p in the round-1 argmax segmentations, dead pieces dropped), scored
    * and re-segmented — per DISTINCT word:
    * (w, cnt, seg0, seg, n_pieces, seg_bits) where seg0 is the round-1
    * segmentation, seg/n_pieces/seg_bits the round-2 state. On this
    * corpus hard EM reaches its fixed point in one round (seg == seg0 —
    * observed, NOT asserted: the oracle recomputes both rounds, so a
    * divergence would surface as a value mismatch, and the usage-based
    * seg_bits differ numerically from round-1 scores either way).
    *
    * Scale: `words` is localCheckpoint'ed after the one corpus scan —
    * the whole EM chain below it is vocab-sized and corpus-free (the
    * q281 gate asserts the final plan contains no corpus file scan). The
    * per-piece bits join BROADCASTS the piece table back to the exploded
    * segmentations. Round-1 coverage is total by construction (all
    * single chars kept); round-2 coverage follows because a word's own
    * round-1 pieces all have usage ≥ cnt(w) ≥ 1 and therefore survive
    * the dead-piece drop. */
  def unigramEmSegmented(docs: DataFrame, textCol: String,
                         maxPieceLen: Int = UnigramMaxPieceLen,
                         topK: Int = UnigramTopK,
                         minMultiPieces: Int = 0): DataFrame = {
    // caller-owned: the returned DataFrame reads this checkpoint
    val words = unigramWordTable(docs, textCol).localCheckpoint()
    val (scored1, _) = unigramScoredPieces(unigramPieceTable(words, maxPieceLen, topK))
    // the q276 requireFullRounds discipline: a piece space too small for
    // the demanded scale fails DIRECTED, never silently under-trains
    require(scored1.count(_._1.length >= 2) >= minMultiPieces,
      s"unigram: seed piece space has ${scored1.count(_._1.length >= 2)} " +
      s"multi-char pieces, below the demanded $minMultiPieces")
    val seg1 = words.withColumn("seg0", unigramSegmentCol(col("w"), scored1))
    val usage = seg1
      .select(col("cnt"), explode(split(col("seg0"), "\\|")).as("p"))
      .groupBy("p").agg(sum(col("cnt")).as("u"))
      .localCheckpoint() // caller-owned: the returned DataFrame reads it
    val (scored2, bTot2) = unigramScoredPieces(usage, "u")
    seg1
      .withColumn("seg", unigramSegmentCol(col("w"), scored2))
      .select(col("w"), col("cnt"), col("seg0"), col("seg"),
        explode(split(col("seg"), "\\|")).as("p"))
      .join(broadcast(usage), Seq("p"))
      .groupBy("w", "cnt", "seg0", "seg")
      .agg(count(lit(1)).as("n_pieces"),
        sum((length(bin(col("u"))) - 1).cast("long") - lit(bTot2)).as("seg_bits"))
  }

  /** MULTI-ROUND hard EM with a SHRINKING-VOCABULARY pruning schedule
    * (round-13 verdict item 3 — the SentencePiece training loop shape
    * that [[unigramEmSegmented]]'s single re-estimation round left
    * unexercised). Per round t = 1..rounds:
    *   1. Viterbi-segment the word table against the current scores;
    *   2. re-estimate usage u(p) = Σ cnt over the argmax segmentations
    *      (dead pieces drop — they have no usage row);
    *   3. PRUNE: among the M used multi-char pieces, keep the top
    *      ⌈M·keepPct/100⌉ by (u·(len−1) DESC, p ASC) — u·(len−1) is the
    *      exact-integer loss proxy (characters the piece merges per
    *      occurrence × occurrences = the hard-EM bit cost of losing
    *      it); SentencePiece's float likelihood-drop ranking is not
    *      engine-exact;
    *   4. COVERAGE floor: every single character of the SEED survives
    *      with u′(c) = max(u(c), 1) — the SentencePiece
    *      required-character rule, and the invariant that keeps every
    *      word segmentable after ANY prune (a word whose multi pieces
    *      all die re-segments through its characters).
    * The returned state is the FINAL ENCODE: the word table segmented
    * against the round-`rounds` pruned model, with bits under that
    * model — (w, cnt, seg, n_pieces, seg_bits, live_multi), live_multi
    * = the final model's multi-piece count (the schedule's endpoint,
    * gated). Also returns the per-round (used-multi, kept-multi)
    * schedule so gates can assert the prune actually fired and shrank.
    *
    * Scale: the q281 contract unchanged — ONE corpus scan builds the
    * checkpointed word table; every round below it is vocab-sized
    * (segmentation is a codegen'd column over DISTINCT words, usage a
    * vocab-keyed aggregate, the prune a TakeOrderedAndProject); the
    * model is the O(V) driver carry; per-round usage tables are
    * localCheckpoint'ed (the q276/q277 lineage discipline). */
  def unigramEmPruned(docs: DataFrame, textCol: String,
                      rounds: Int = 3, keepPct: Int = 50,
                      maxPieceLen: Int = UnigramMaxPieceLen,
                      topK: Int = UnigramTopK)
      : (DataFrame, Seq[(Long, Long)]) = Frames { f =>
    require(rounds >= 1, s"unigramEmPruned: rounds must be >= 1")
    require(keepPct >= 1 && keepPct <= 100,
      s"unigramEmPruned: keepPct must be in [1, 100], got $keepPct")
    // caller-owned: the returned DataFrame reads this checkpoint
    val words = f.result(unigramWordTable(docs, textCol))
    val seed = unigramPieceTable(words, maxPieceLen, topK)
    // the seed's single characters — the coverage-floor set, fixed for
    // the whole schedule (O(alphabet) driver carry)
    val chars = f.eagerly(seed.filter(length(col("p")) === 1)
      .select(col("p")))
    var (scored, _) = unigramScoredPieces(seed)
    var usage: DataFrame = null
    val schedule = Seq.newBuilder[(Long, Long)]
    var t = 0
    while (t < rounds) {
      t += 1
      val seg = words.withColumn("seg", unigramSegmentCol(col("w"), scored))
      val raw = f.eagerly(seg
        .select(col("cnt"), explode(split(col("seg"), "\\|")).as("p"))
        .groupBy("p").agg(sum(col("cnt")).as("u")))
      val m = raw.filter(length(col("p")) >= 2).count()
      val keepN = ((m * keepPct + 99) / 100).toInt
      val keptMulti = raw.filter(length(col("p")) >= 2)
        .orderBy((col("u") * (length(col("p")) - 1)).desc, col("p").asc)
        .limit(keepN)
      val floored = chars.join(raw, Seq("p"), "left_outer")
        .select(col("p"), greatest(coalesce(col("u"), lit(0L)), lit(1L))
          .as("u"))
      f.release(usage)
      usage = f.eagerly(floored.unionByName(keptMulti))
      f.release(raw) // usage is materialized: raw has no reader left
      schedule += ((m, keepN.toLong))
      val (s2, _) = unigramScoredPieces(usage, "u")
      scored = s2
    }
    val liveMulti = scored.count(_._1.length >= 2).toLong
    val (_, bTot) = unigramScoredPieces(usage, "u")
    val df = words
      .withColumn("seg", unigramSegmentCol(col("w"), scored))
      .select(col("w"), col("cnt"), col("seg"),
        explode(split(col("seg"), "\\|")).as("p"))
      // caller-owned: the returned DataFrame reads the final usage
      .join(broadcast(f.keep(usage)), Seq("p"))
      .groupBy("w", "cnt", "seg")
      .agg(count(lit(1)).as("n_pieces"),
        sum((length(bin(col("u"))) - 1).cast("long") - lit(bTot))
          .as("seg_bits"))
      .withColumn("live_multi", lit(liveMulti))
    (df, schedule.result())
  }

  /** The tap a frozen unigram-LM model (the post-EM usage table (p, u))
    * persists through — plain parquet: scoring COLLECTS the O(V) model
    * (the merge-list carry), it never joins corpus-side on p, so
    * bucketing buys nothing here. */
  def unigramModelTap(path: String): graft.sources.ParquetTap =
    graft.sources.ParquetTap(path)

  /** Train the frozen model: word table → seed pieces → Viterbi →
    * usage re-estimation. Returns the (p, u) table to persist. */
  def unigramTrainModel(docs: DataFrame, textCol: String,
                        maxPieceLen: Int = UnigramMaxPieceLen,
                        topK: Int = UnigramTopK): DataFrame = {
    // caller-owned: the returned DataFrame reads this checkpoint
    val words = unigramWordTable(docs, textCol).localCheckpoint()
    val (scored1, _) = unigramScoredPieces(unigramPieceTable(words, maxPieceLen, topK))
    words.withColumn("seg0", unigramSegmentCol(col("w"), scored1))
      .select(col("cnt"), explode(split(col("seg0"), "\\|")).as("p"))
      .groupBy("p").agg(sum(col("cnt")).as("u"))
  }

  /** Score an ARRIVAL batch against a frozen persisted model — the q159
    * amortization discipline applied to the tokenizer: the corpus is
    * never rescanned and never re-trained; batch words the model never
    * saw (including genuinely novel words) segment by Viterbi over the
    * pieces it did learn. Per batch document:
    * (idCol, n_tok, n_pieces, doc_bits).
    *
    * Shape: distinct BATCH words (batch-vocab-sized) segment via the
    * collected model; per-word bits come from broadcasting the model
    * TABLE to the exploded segmentations (the model scan is IN this
    * plan — asserted by the q282 gate); the per-word rows then broadcast
    * back to the batch token stream. Both joins carry explicit
    * broadcast() hints. */
  def scoreUnigramArrivals(model: DataFrame, batch: DataFrame,
                           idCol: String = "doc_id",
                           textCol: String = "text"): DataFrame = {
    val (scored, bTot) = unigramScoredPieces(model, "u")
    val bWords = batch
      .select(explode(split(col(textCol), " ")).as("w"))
      .filter(length(col("w")) > 0).distinct()
    val wseg = bWords
      .withColumn("seg", unigramSegmentCol(col("w"), scored))
      .select(col("w"), col("seg"), explode(split(col("seg"), "\\|")).as("p"))
      .join(broadcast(model), Seq("p"))
      .groupBy("w")
      .agg(count(lit(1)).as("wp"),
        sum((length(bin(col("u"))) - 1).cast("long") - lit(bTot)).as("wb"))
    batch.select(col(idCol), explode(split(col(textCol), " ")).as("w"))
      .filter(length(col("w")) > 0)
      .join(broadcast(wseg), Seq("w"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_tok"),
        sum(col("wp")).as("n_pieces"),
        sum(col("wb")).as("doc_bits"))
  }

  /** Shared oracle CTE chain: corpus → word table → seed pieces → scores
    * → exhaustive-composition round-1 segmentation → usage → re-scored
    * round-2 state. `source` is the training-corpus CTE body. */
  /** Head CTEs shared by every unigram oracle form: corpus → word table
    * → seed pieces → round-1 scores. */
  private def unigramHeadCtes(source: String, maxPieceLen: Int,
                              topK: Int): String =
    s"""srcdocs AS MATERIALIZED ($source),
       |toks AS (SELECT unnest(string_split(text, ' ')) AS w FROM srcdocs),
       |words AS MATERIALIZED (
       |  SELECT w, CAST(count(*) AS BIGINT) AS cnt
       |  FROM toks WHERE len(w) > 0 GROUP BY 1),
       |subs AS MATERIALIZED (
       |  SELECT substr(w, s, l) AS p, sum(cnt) AS f
       |  FROM words,
       |    LATERAL (SELECT unnest(range(1, len(w) + 1)) AS s) ss,
       |    LATERAL (SELECT unnest(range(1, least($maxPieceLen, len(w) - s + 1) + 1)) AS l) ll
       |  GROUP BY 1),
       |keep AS MATERIALIZED (
       |  SELECT p, f FROM subs WHERE len(p) = 1
       |  UNION ALL
       |  SELECT p, f FROM (
       |    SELECT p, f, row_number() OVER (ORDER BY f * len(p) DESC, p ASC) AS rn
       |    FROM subs WHERE len(p) >= 2) WHERE rn <= $topK),
       |tot AS (SELECT length(bin(sum(f))) - 1 AS b FROM keep),
       |scored AS MATERIALIZED (
       |  SELECT p, CAST(length(bin(f)) - 1 - (SELECT b FROM tot) AS BIGINT) AS s
       |  FROM keep)""".stripMargin

  private def unigramOracleCtes(source: String, maxPieceLen: Int,
                                topK: Int): String =
    s"""${unigramHeadCtes(source, maxPieceLen, topK)},
       |paths AS (
       |  SELECT w, cnt, 0 AS pos, CAST(0 AS BIGINT) AS sc, 0 AS np, '' AS seg
       |  FROM words
       |  UNION ALL
       |  SELECT t.w, t.cnt, t.pos + len(v.p), t.sc + v.s, t.np + 1,
       |         CASE WHEN t.seg = '' THEN v.p ELSE t.seg || '|' || v.p END
       |  FROM paths t JOIN scored v ON substr(t.w, t.pos + 1, len(v.p)) = v.p),
       |best AS (
       |  SELECT w, cnt, seg, np, sc,
       |    row_number() OVER (PARTITION BY w ORDER BY sc DESC, np ASC, seg ASC) AS rn
       |  FROM paths WHERE pos = len(w)),
       |usg AS MATERIALIZED (
       |  SELECT p, sum(cnt) AS u FROM (
       |    SELECT b.cnt, unnest(string_split(b.seg, '|')) AS p
       |    FROM best b WHERE b.rn = 1) GROUP BY 1),
       |tot2 AS (SELECT length(bin(sum(u))) - 1 AS b FROM usg),
       |scored2 AS MATERIALIZED (
       |  SELECT p, CAST(length(bin(u)) - 1 - (SELECT b FROM tot2) AS BIGINT) AS s
       |  FROM usg)""".stripMargin

  /** q281 oracle: the whole EM chain over the full corpus, final state
    * per distinct word. Exhaustive composition enumeration — validates
    * the Spark side's Viterbi DP (and its tie order) independently. */
  def unigramEmOracleSql(maxPieceLen: Int = UnigramMaxPieceLen,
                         topK: Int = UnigramTopK,
                         source: String = "SELECT text FROM documents"): String =
    s"""WITH RECURSIVE
       |${unigramOracleCtes(source, maxPieceLen, topK)},
       |paths2 AS (
       |  SELECT w, cnt, 0 AS pos, CAST(0 AS BIGINT) AS sc, 0 AS np, '' AS seg
       |  FROM words
       |  UNION ALL
       |  SELECT t.w, t.cnt, t.pos + len(v.p), t.sc + v.s, t.np + 1,
       |         CASE WHEN t.seg = '' THEN v.p ELSE t.seg || '|' || v.p END
       |  FROM paths2 t JOIN scored2 v ON substr(t.w, t.pos + 1, len(v.p)) = v.p),
       |best2 AS (
       |  SELECT w, cnt, seg, np, sc,
       |    row_number() OVER (PARTITION BY w ORDER BY sc DESC, np ASC, seg ASC) AS rn
       |  FROM paths2 WHERE pos = len(w))
       |SELECT b1.w AS w, b1.cnt AS cnt, b1.seg AS seg0, b2.seg AS seg,
       |  CAST(b2.np AS BIGINT) AS n_pieces, b2.sc AS seg_bits
       |FROM (SELECT * FROM best WHERE rn = 1) b1
       |JOIN (SELECT * FROM best2 WHERE rn = 1) b2 USING (w)""".stripMargin

  /** One UNROLLED-DP segmentation round for the oracle (the HITS
    * 14-round-unroll precedent): per position i ≤ maxWordLen, candidates
    * extend the best states at positions i−1..i−maxPieceLen with a piece
    * of exactly the bridging length, and row_number keeps the single
    * best per word under the (sc DESC, np ASC, seg ASC) tie order — the
    * DP itself, spelled in SQL. Exhaustive-enumeration validation of the
    * SAME DP is q281's job (tractable at the 31-word vocabulary); this
    * form exists because enumeration over a 12k-word salted vocabulary
    * costs minutes while the DP costs under a second. */
  private def dpRoundCtes(r: Int, scoredCte: String, maxPieceLen: Int,
                          maxWordLen: Int): String = {
    val steps = Seq.newBuilder[String]
    steps += s"n${r}_0 AS (SELECT w, cnt, 0 AS pos, " +
      "CAST(0 AS BIGINT) AS sc, 0 AS np, '' AS seg FROM words)"
    for (i <- 1 to maxWordLen) {
      val cands = (1 to math.min(maxPieceLen, i)).map { l =>
        s"""SELECT b.w, b.cnt, b.sc + v.s AS sc, b.np + 1 AS np,
           |      CASE WHEN b.seg = '' THEN v.p ELSE b.seg || '|' || v.p END AS seg
           |    FROM n${r}_${i - l} b JOIN $scoredCte v
           |      ON len(v.p) = $l AND $i <= len(b.w)
           |         AND substr(b.w, ${i - l} + 1, $l) = v.p""".stripMargin
      }.mkString("\n    UNION ALL\n    ")
      steps +=
        s"""n${r}_$i AS MATERIALIZED (
           |  SELECT w, cnt, $i AS pos, sc, np, seg FROM (
           |    SELECT *, row_number() OVER (PARTITION BY w
           |      ORDER BY sc DESC, np ASC, seg ASC) AS rn
           |    FROM ($cands)) WHERE rn = 1)""".stripMargin
    }
    val fin = (1 to maxWordLen)
      .map(i => s"SELECT w, cnt, seg, np, sc FROM n${r}_$i WHERE len(w) = $i")
      .mkString("\n  UNION ALL\n  ")
    steps += s"best$r AS MATERIALIZED (\n  $fin)"
    steps.result().mkString(",\n")
  }

  /** q287 oracle: the q281 EM chain with both segmentation passes as
    * unrolled DP (see [[dpRoundCtes]]) — SF-stable cost over the salted
    * 12k-word vocabulary. Words longer than maxWordLen would silently
    * miss from bestN and fail the gate on row count — directed. */
  /** Both unrolled-DP rounds with the hard-EM usage re-scoring between
    * them — the shared middle of every DP-oracle form. */
  private def dpEmChainCtes(maxPieceLen: Int, maxWordLen: Int): String =
    s"""${dpRoundCtes(1, "scored", maxPieceLen, maxWordLen)},
       |usg AS MATERIALIZED (
       |  SELECT p, sum(cnt) AS u FROM (
       |    SELECT b.cnt, unnest(string_split(b.seg, '|')) AS p
       |    FROM best1 b) GROUP BY 1),
       |tot2 AS (SELECT length(bin(sum(u))) - 1 AS b FROM usg),
       |scored2 AS MATERIALIZED (
       |  SELECT p, CAST(length(bin(u)) - 1 - (SELECT b FROM tot2) AS BIGINT) AS s
       |  FROM usg),
       |${dpRoundCtes(2, "scored2", maxPieceLen, maxWordLen)}""".stripMargin

  def unigramEmDpOracleSql(maxPieceLen: Int, topK: Int, source: String,
                           maxWordLen: Int): String = {
    s"""WITH
       |${unigramHeadCtes(source, maxPieceLen, topK)},
       |${dpEmChainCtes(maxPieceLen, maxWordLen)}
       |SELECT b1.w AS w, b1.cnt AS cnt, b1.seg AS seg0, b2.seg AS seg,
       |  CAST(b2.np AS BIGINT) AS n_pieces, b2.sc AS seg_bits
       |FROM best1 b1 JOIN best2 b2 USING (w)""".stripMargin
  }

  /** q294 oracle: the multi-round pruned EM ([[unigramEmPruned]])
    * replayed round-for-round — per round an unrolled-DP segmentation
    * ([[dpRoundCtes]], the q287 spelling), the usage re-estimation, the
    * ⌈M·keepPct/100⌉ loss-proxy prune and the single-char coverage
    * floor, then the FINAL encode against the round-`rounds` model.
    * Every round's scores feed the next round's DP, so a drift anywhere
    * in the schedule shifts every later segmentation. */
  def unigramEmPrunedOracleSql(maxPieceLen: Int, topK: Int, source: String,
                               maxWordLen: Int, rounds: Int,
                               keepPct: Int): String = {
    val roundCtes = (1 to rounds).map { r =>
      val scoredCte = if (r == 1) "scored" else s"scoredp${r - 1}"
      s"""${dpRoundCtes(r, scoredCte, maxPieceLen, maxWordLen)},
         |u${r}raw AS MATERIALIZED (
         |  SELECT p, sum(cnt) AS u FROM (
         |    SELECT b.cnt, unnest(string_split(b.seg, '|')) AS p
         |    FROM best$r b) GROUP BY 1),
         |m$r AS (SELECT count(*) AS m FROM u${r}raw WHERE len(p) >= 2),
         |keepp$r AS MATERIALIZED (
         |  SELECT c.p, greatest(coalesce(u.u, 0), 1) AS u
         |  FROM chars c LEFT JOIN u${r}raw u ON u.p = c.p
         |  UNION ALL
         |  SELECT p, u FROM (
         |    SELECT p, u, row_number() OVER (
         |      ORDER BY u * (len(p) - 1) DESC, p ASC) AS rn
         |    FROM u${r}raw WHERE len(p) >= 2)
         |  WHERE rn <= ((SELECT m FROM m$r) * $keepPct + 99) // 100),
         |tot$r AS (SELECT length(bin(sum(u))) - 1 AS b FROM keepp$r),
         |scoredp$r AS MATERIALIZED (
         |  SELECT p,
         |    CAST(length(bin(u)) - 1 - (SELECT b FROM tot$r) AS BIGINT) AS s
         |  FROM keepp$r)""".stripMargin
    }.mkString(",\n")
    val fin = rounds + 1
    s"""WITH
       |${unigramHeadCtes(source, maxPieceLen, topK)},
       |chars AS (SELECT p FROM keep WHERE len(p) = 1),
       |$roundCtes,
       |${dpRoundCtes(fin, s"scoredp$rounds", maxPieceLen, maxWordLen)},
       |lm AS (SELECT CAST(count(*) AS BIGINT) AS n
       |       FROM scoredp$rounds WHERE len(p) >= 2)
       |SELECT b.w, b.cnt, b.seg, CAST(b.np AS BIGINT) AS n_pieces,
       |  b.sc AS seg_bits, (SELECT n FROM lm) AS live_multi
       |FROM best$fin b""".stripMargin
  }

  /** q293 oracle: the EM chain's per-word piece counts, summed per doc
    * and fed through the q128 packing arithmetic — tokenizer fertility
    * deciding bin boundaries, end to end. */
  def unigramPackOracleSql(maxPieceLen: Int, topK: Int, maxWordLen: Int,
                           budget: Long, substreams: Int): String =
    s"""WITH
       |${unigramHeadCtes("SELECT text FROM documents", maxPieceLen, topK)},
       |${dpEmChainCtes(maxPieceLen, maxWordLen)},
       |wnp AS (SELECT w, np FROM best2),
       |dtok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w
       |         FROM documents),
       |dnp AS (SELECT doc_id, CAST(sum(ws.np) AS BIGINT) AS n_pieces
       |        FROM dtok d JOIN wnp ws ON ws.w = d.w
       |        WHERE len(d.w) > 0 GROUP BY 1),
       |t AS (SELECT doc.source, CAST(doc.doc_id % $substreams AS BIGINT) AS sub,
       |             doc.doc_id, dnp.n_pieces
       |      FROM documents doc JOIN dnp USING (doc_id)),
       |c AS (SELECT source, sub, doc_id, n_pieces,
       |  coalesce(sum(n_pieces) OVER (PARTITION BY source, sub
       |    ORDER BY doc_id
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_prev
       |  FROM t)
       |SELECT source, sub, doc_id, n_pieces,
       |  CAST(cum_prev // $budget AS BIGINT) AS bin,
       |  CAST(cum_prev % $budget AS BIGINT) AS bin_offset
       |FROM c""".stripMargin

  /** q282 oracle: train on doc_id % 50 <> 3, freeze, score the arrival
    * batch (%50 = 3 docs each carrying one novel concatenated word). */
  def unigramArrivalOracleSql(maxPieceLen: Int = UnigramMaxPieceLen,
                              topK: Int = UnigramTopK): String = {
    val novel = UnigramNovelWords.zipWithIndex
      .map { case (wd, k) => s"($k, '$wd')" }.mkString(",")
    s"""WITH RECURSIVE
       |${unigramOracleCtes("SELECT text FROM documents WHERE doc_id % 50 <> 3", maxPieceLen, topK)},
       |novel AS (SELECT * FROM (VALUES $novel) AS t(k, nw)),
       |batch AS MATERIALIZED (
       |  SELECT d.doc_id, d.text || ' ' || n.nw AS text
       |  FROM documents d JOIN novel n ON d.doc_id % 5 = n.k
       |  WHERE d.doc_id % 50 = 3),
       |bwords AS MATERIALIZED (
       |  SELECT DISTINCT w FROM (
       |    SELECT unnest(string_split(text, ' ')) AS w FROM batch)
       |  WHERE len(w) > 0),
       |paths2 AS (
       |  SELECT w, 0 AS pos, CAST(0 AS BIGINT) AS sc, 0 AS np, '' AS seg
       |  FROM bwords
       |  UNION ALL
       |  SELECT t.w, t.pos + len(v.p), t.sc + v.s, t.np + 1,
       |         CASE WHEN t.seg = '' THEN v.p ELSE t.seg || '|' || v.p END
       |  FROM paths2 t JOIN scored2 v ON substr(t.w, t.pos + 1, len(v.p)) = v.p),
       |best2 AS (
       |  SELECT w, seg, np, sc,
       |    row_number() OVER (PARTITION BY w ORDER BY sc DESC, np ASC, seg ASC) AS rn
       |  FROM paths2 WHERE pos = len(w)),
       |wseg AS (SELECT w, np, sc FROM best2 WHERE rn = 1),
       |dtok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM batch)
       |SELECT d.doc_id, CAST(count(*) AS BIGINT) AS n_tok,
       |  CAST(sum(ws.np) AS BIGINT) AS n_pieces,
       |  CAST(sum(ws.sc) AS BIGINT) AS doc_bits
       |FROM dtok d JOIN wseg ws USING (w) WHERE len(d.w) > 0 GROUP BY 1""".stripMargin
  }
}
