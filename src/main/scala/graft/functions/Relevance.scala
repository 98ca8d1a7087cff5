package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import TextAnalysis.tokens

/** Corpus relevance scoring (BM25 family) for training-data curation:
  * score every document of a corpus against a bag of query terms, keep the
  * top-k. Used at scale to mine topic-relevant subsets out of a web crawl
  * (quality-targeted sampling), which makes it a first-class pipeline op
  * next to dedup and quality filtering.
  *
  * Scale shape: ONE global-aggregate scan computes the corpus statistics
  * (doc count N, token total T, per-term document frequencies) into a
  * single row that is broadcast; ONE scoring scan then evaluates a pure
  * Column expression per document (no explode, no per-term shuffle — the
  * query terms are literals, so each tf is a codegen'd array fold); the
  * only gather is the final ordered LIMIT k. A 100 TB corpus pays two
  * scans and moves k rows.
  *
  * Engine portability: the score uses the BM25 saturation shape
  * tf·(k1+1)/(tf + k1·(1−b + b·dl/avgdl)) with a RATIONAL idf
  * (N − df + ½)/(df + ½) instead of its log — IEEE-754 binary64 ops
  * (+,−,×,/) are correctly rounded and therefore bit-identical across
  * engines for the same expression tree, while `ln` is a libm call with
  * no such guarantee. The log is monotone in the rational idf, so ranking
  * is BM25-faithful; the constants are emitted from the same Scala values
  * into both the Spark plan and the DuckDB oracle so the literal parses
  * cannot drift. Final scores are floor-quantized to integer micros
  * (the q66 discipline).
  */
object Relevance {

  /** BM25 k1 (term-frequency saturation) and b (length normalization).
    * K1Plus1 is a stored literal — computing k1+1 at runtime would round
    * to a DIFFERENT double than parsing "2.2", and the oracle parses. */
  val K1: Double = 1.2
  val K1Plus1: Double = 2.2
  val B: Double = 0.75
  val OneMinusB: Double = 0.25

  /** Top-k most relevant documents for `terms`: (id, score_micros),
    * score desc, id asc. Documents matching no term are dropped. */
  def bm25TopK(df: DataFrame, idCol: String, textCol: String,
               terms: Seq[String], topK: Int = 20): DataFrame = {
    require(terms.nonEmpty && terms.size <= 32,
      s"bm25TopK: 1..32 literal query terms, got ${terms.size}")
    val toks = tokens(col(textCol))
    // one corpus scan -> a single stats row: N, T, df per term. Per-term
    // dfs ride the same hash-free global aggregate (map-side partials).
    val statsAggs =
      count(lit(1)).cast("double").as("n_docs") +:
      sum(size(toks).cast("long")).cast("double").as("n_tokens") +:
      terms.zipWithIndex.map { case (t, i) =>
        sum(when(array_contains(toks, t), 1L).otherwise(0L))
          .cast("double").as(s"df_$i")
      }
    val stats = df.agg(statsAggs.head, statsAggs.tail: _*)
    // scoring scan: broadcast the 1-row stats, fold the literal terms into
    // one Column expression (assoc order mirrored exactly by the oracle)
    val dl = size(toks).cast("double")
    val score = terms.zipWithIndex.map { case (t, i) =>
      val tf = size(filter(toks, x => x === lit(t))).cast("double")
      val df_ = col(s"df_$i")
      val idf = (col("n_docs") - df_ + lit(0.5)) / (df_ + lit(0.5))
      val tfn = tf * lit(K1Plus1) /
        (tf + lit(K1) * (lit(OneMinusB) +
          lit(B) * dl * col("n_docs") / col("n_tokens")))
      when(tf > lit(0.0), floor(lit(1000000.0) * idf * tfn).cast("bigint"))
        .otherwise(lit(0L))
    }.reduce(_ + _)
    df.crossJoin(broadcast(stats))
      .select(col(idCol), score.as("score_micros"))
      .filter(col("score_micros") > 0L)
      .orderBy(col("score_micros").desc, col(idCol).asc)
      .limit(topK)
  }

  /** Corpus-level BM25 stats as ONE row (n_docs, n_tokens) — exact
    * longs, so arrival maintenance is pure ADDITION (append a batch's
    * stats row; scoring sums the rows — merge equals rebuild by
    * construction, the CMS discipline). Zero-token documents count into
    * n_docs here even though they have no posting rows — exactly like
    * [[bm25TopK]]'s count(*). */
  def corpusStats(df: DataFrame, textCol: String): DataFrame =
    df.agg(count(lit(1)).cast("long").as("n_docs"),
      coalesce(sum(size(tokens(col(textCol))).cast("long")), lit(0L))
        .cast("long").as("n_tokens"))

  /** BM25 served ENTIRELY from the persisted postings index — the
    * amortized form of [[bm25TopK]]: tf and dl come off the probed
    * posting rows ([[InvertedIndex.buildWithDl]]'s denormalized layout),
    * per-term document frequencies are counted over the SAME probe
    * (a posting row exists iff tf ≥ 1, so the probe-local count IS the
    * corpus df), and N/T come from the maintained [[corpusStats]] rows
    * (summed — additive under arrival). Scoring therefore touches
    * O(postings of the query terms) — the corpus is NEVER scanned
    * (asserted in-query by q300).
    *
    * Value-identical to [[bm25TopK]] by construction: the probe pivots
    * to per-term tf columns and folds the SAME Column expression tree
    * in the same term order (float addition order pinned — a SUM over
    * per-row scores would re-associate doubles), so q300 shares q81's
    * corpus-scan oracle VERBATIM. */
  def bm25FromIndex(postings: DataFrame, stats: DataFrame,
                    terms: Seq[String], topK: Int = 20): DataFrame = {
    require(terms.nonEmpty && terms.size <= 32,
      s"bm25FromIndex: 1..32 literal query terms, got ${terms.size}")
    // read twice (dfs + pivot) — two bucket-pruned scans of the query
    // terms' buckets, both O(query postings); deliberately NOT
    // checkpointed so the probing scan stays plan-visible (q300's
    // contract finds its pruned bucket set)
    val probe = postings.filter(col("term").isin(terms: _*))
    val dfAggs = terms.zipWithIndex.map { case (t, i) =>
      sum(when(col("term") === t, 1L).otherwise(0L))
        .cast("double").as(s"df_$i")
    }
    val termStats = probe.agg(dfAggs.head, dfAggs.tail: _*)
    val pivotAggs = max(col("dl")).as("dl") +:
      terms.zipWithIndex.map { case (t, i) =>
        max(when(col("term") === t, col("tf"))).as(s"tf_$i")
      }
    val pivoted = probe.groupBy(col("id"))
      .agg(pivotAggs.head, pivotAggs.tail: _*)
    val glob = stats
      .agg(sum(col("n_docs")).cast("double").as("n_docs"),
        sum(col("n_tokens")).cast("double").as("n_tokens"))
    val dl = col("dl").cast("double")
    val score = terms.indices.map { i =>
      val tf = coalesce(col(s"tf_$i"), lit(0L)).cast("double")
      val df_ = col(s"df_$i")
      val idf = (col("n_docs") - df_ + lit(0.5)) / (df_ + lit(0.5))
      val tfn = tf * lit(K1Plus1) /
        (tf + lit(K1) * (lit(OneMinusB) +
          lit(B) * dl * col("n_docs") / col("n_tokens")))
      when(tf > lit(0.0), floor(lit(1000000.0) * idf * tfn).cast("bigint"))
        .otherwise(lit(0L))
    }.reduce(_ + _)
    pivoted.crossJoin(broadcast(glob)).crossJoin(broadcast(termStats))
      .select(col("id"), score.as("score_micros"))
      .filter(col("score_micros") > 0L)
      .orderBy(col("score_micros").desc, col("id").asc)
      .limit(topK)
  }

  /** BATCH-of-queries BM25 from the SAME persisted postings index (r15
    * verdict #2 — production serves K queries, not one): every query's
    * term set rides ONE bucket-pruned probe of the UNION term list
    * (each term's postings are read once however many queries share
    * it), the probe pivots to per-union-term tf columns, and each
    * query then folds ITS OWN terms in ITS OWN order over those
    * columns — per (query, doc) the expression tree is IDENTICAL to
    * [[bm25FromIndex]]'s (float addition order pinned per query), so
    * the oracle is q81's corpus-scan spelling instantiated per query.
    * Per-query candidate lists cap at `legK` by a window PARTITIONED
    * on query_id — the window input is O(union postings × K), never
    * corpus-sized. The query batch is a bounded driver carry (the
    * known-queries serving shape); the corpus is never scanned.
    * Output (query_id, doc_id, score_micros), score desc / id asc
    * within each query. */
  def bm25FromIndexMulti(postings: DataFrame, stats: DataFrame,
                         queryTerms: Seq[(Long, Seq[String])],
                         legK: Int = 20): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(queryTerms.nonEmpty && queryTerms.size <= 64,
      s"bm25FromIndexMulti: 1..64 queries, got ${queryTerms.size}")
    queryTerms.foreach { case (qid, ts) =>
      require(ts.nonEmpty && ts.size <= 32,
        s"bm25FromIndexMulti: query $qid needs 1..32 terms, got ${ts.size}")
    }
    val union = queryTerms.flatMap(_._2).distinct
    val uix = union.zipWithIndex.toMap
    val probe = postings.filter(col("term").isin(union: _*))
    val dfAggs = union.zipWithIndex.map { case (t, i) =>
      sum(when(col("term") === t, 1L).otherwise(0L))
        .cast("double").as(s"df_u$i")
    }
    val termStats = probe.agg(dfAggs.head, dfAggs.tail: _*)
    val pivotAggs = max(col("dl")).as("dl") +:
      union.zipWithIndex.map { case (t, i) =>
        max(when(col("term") === t, col("tf"))).as(s"tf_u$i")
      }
    val pivoted = probe.groupBy(col("id"))
      .agg(pivotAggs.head, pivotAggs.tail: _*)
    val glob = stats
      .agg(sum(col("n_docs")).cast("double").as("n_docs"),
        sum(col("n_tokens")).cast("double").as("n_tokens"))
    val dl = col("dl").cast("double")
    def scoreOf(terms: Seq[String]): Column = terms.map { t =>
      val i = uix(t)
      val tf = coalesce(col(s"tf_u$i"), lit(0L)).cast("double")
      val df_ = col(s"df_u$i")
      val idf = (col("n_docs") - df_ + lit(0.5)) / (df_ + lit(0.5))
      val tfn = tf * lit(K1Plus1) /
        (tf + lit(K1) * (lit(OneMinusB) +
          lit(B) * dl * col("n_docs") / col("n_tokens")))
      when(tf > lit(0.0), floor(lit(1000000.0) * idf * tfn).cast("bigint"))
        .otherwise(lit(0L))
    }.reduce(_ + _)
    val perQuery = array(queryTerms.map { case (qid, ts) =>
      struct(lit(qid).cast("long").as("query_id"),
        scoreOf(ts).as("score_micros"))
    }: _*)
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("score_micros").desc, col("doc_id").asc)
    pivoted.crossJoin(broadcast(glob)).crossJoin(broadcast(termStats))
      .select(col("id").as("doc_id"), explode(perQuery).as("qs"))
      .select(col("qs.query_id").as("query_id"), col("doc_id"),
        col("qs.score_micros").as("score_micros"))
      .filter(col("score_micros") > 0L)
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= legK).drop("__rn")
  }

  /** Per-query twin of [[rankByScore]]: (query_id, doc_id,
    * score_micros) → (query_id, doc_id, lr), the window partitioned on
    * query_id — input is the per-query capped candidate lists, so the
    * window is K × legK rows. */
  def rankByScorePerQuery(scored: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("score_micros").desc, col("doc_id").asc)
    scored.withColumn("lr", row_number().over(w).cast("int"))
      .select(col("query_id"), col("doc_id"), col("lr"))
  }

  /** Per-query twin of [[rrfFuse]] (r15 verdict #2): fuse K lexical
    * lists (query_id, doc_id, lr) with K dense lists (query_id,
    * doc_id, dr) in ONE plan — full outer on (query_id, doc_id),
    * 1/(rrfK + rank) per present leg, floor micros, per-query top-k
    * by a window partitioned on query_id. Everything is K × k-sized. */
  def rrfFusePerQuery(lexRanked: DataFrame, denseRanked: DataFrame,
                      topK: Int, rrfK: Int = 60): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val contrib = (r: Column) =>
      when(r > 0, lit(1.0) / (lit(rrfK.toDouble) + r.cast("double")))
        .otherwise(lit(0.0))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("rrf_micros").desc, col("doc_id").asc)
    lexRanked.join(denseRanked, Seq("query_id", "doc_id"), "full_outer")
      .select(col("query_id"), col("doc_id"),
        coalesce(col("lr"), lit(0)).as("lex_rank"),
        coalesce(col("dr"), lit(0)).as("dense_rank"))
      .select(col("query_id"), col("doc_id"), col("lex_rank"),
        col("dense_rank"),
        floor(lit(1000000.0) *
          (contrib(col("lex_rank")) + contrib(col("dense_rank"))))
          .cast("bigint").as("rrf_micros"))
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= topK).drop("__rn")
  }

  /** DuckDB spelling of the same score, for oracle generation. `table`
    * must expose `id`/`text`; emits the full top-k query. Every literal is
    * printed from the SAME Scala constants the Spark plan uses. */
  def bm25OracleSql(table: String, idCol: String, textCol: String,
                    terms: Seq[String], topK: Int = 20): String = {
    val dToks = s"string_split($textCol, ' ')"
    val statsCols =
      s"CAST(count(*) AS DOUBLE) AS n_docs, CAST(sum(len($dToks)) AS DOUBLE) AS n_tokens, " +
      terms.zipWithIndex.map { case (t, i) =>
        s"CAST(sum(CASE WHEN list_contains($dToks, '$t') THEN 1 ELSE 0 END) AS DOUBLE) AS df_$i"
      }.mkString(", ")
    val dl = s"CAST(len($dToks) AS DOUBLE)"
    val scoreSql = terms.zipWithIndex.map { case (t, i) =>
      val tf = s"CAST(len(list_filter($dToks, x -> x = '$t')) AS DOUBLE)"
      val idf = s"((n_docs - df_$i + 0.5) / (df_$i + 0.5))"
      val tfn = s"($tf * $K1Plus1 / ($tf + $K1 * ($OneMinusB + $B * $dl * n_docs / n_tokens)))"
      s"CASE WHEN $tf > 0.0 THEN CAST(floor(1000000.0 * $idf * $tfn) AS BIGINT) ELSE 0 END"
    }.mkString("\n  + ")
    s"""WITH stats AS (SELECT $statsCols FROM $table),
       |scored AS (
       |  SELECT $idCol, $scoreSql AS score_micros
       |  FROM $table CROSS JOIN stats)
       |SELECT $idCol, score_micros FROM scored WHERE score_micros > 0
       |ORDER BY score_micros DESC, $idCol ASC LIMIT $topK""".stripMargin
  }

  /** Pseudo-relevance feedback (RM3-lite): run BM25 with the original
    * terms, mine the top `fbTerms` tokens from the top `fbDocs` hits
    * (excluding the originals; count desc, token asc), score the corpus
    * again with the MINED terms, and blend the two candidate lists at
    * 3:2 — final = (3·orig + 2·exp) div 5, EXACT int64 over the two
    * floor-micros legs (no doubles in the blend, so the gate hashes).
    * The classic query-expansion loop of Lavrenko–Croft RM3, restricted
    * to score interpolation over candidate lists.
    *
    * Scale shape: two BM25 passes (each two scans + a k-row gather), one
    * token-count aggregate over the fbDocs slice (broadcast-joined into
    * the scan), and a k×k candidate blend. The mined terms are a
    * BOUNDED DRIVER CARRY (`fbTerms` strings — the Lloyd-centroid
    * discipline) so the second pass plans with literal terms and stays
    * codegen'd; the term selection itself is distributed.
    *
    * Engine portability: term selection orders by exact integer counts
    * (token asc tiebreak); each leg's per-term scores are floor-micros
    * integers, so the oracle's term-ROW sum equals Spark's literal-term
    * fold regardless of order; the blend is integer division. */
  def rm3TopK(docs: DataFrame, idCol: String, textCol: String,
              terms: Seq[String], fbDocs: Int = 10, fbTerms: Int = 5,
              legK: Int = 100, topK: Int = 20): DataFrame = {
    val orig = bm25TopK(docs, idCol, textCol, terms, legK)
      .select(col(idCol).as("doc_id"), col("score_micros").as("orig_micros"))
    val fbIds = orig
      .orderBy(col("orig_micros").desc, col("doc_id").asc).limit(fbDocs)
      .select(col("doc_id"))
    val mined = docs
      .join(broadcast(fbIds), docs(idCol) === fbIds("doc_id"))
      .select(explode(tokens(col(textCol))).as("tok"))
      .filter(!col("tok").isin(terms: _*))
      .groupBy(col("tok")).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("tok").asc).limit(fbTerms)
      .collect().map(_.getString(0)).toSeq // bounded: fbTerms strings
    require(mined.nonEmpty,
      "rm3TopK: feedback docs yielded no expansion terms beyond the " +
        "originals — widen fbDocs or check the corpus")
    val exp = bm25TopK(docs, idCol, textCol, mined, legK)
      .select(col(idCol).as("doc_id"), col("score_micros").as("exp_micros"))
    orig.join(exp, Seq("doc_id"), "full_outer")
      .select(col("doc_id"),
        coalesce(col("orig_micros"), lit(0L)).as("orig_micros"),
        coalesce(col("exp_micros"), lit(0L)).as("exp_micros"))
      .withColumn("blend_micros",
        expr("(3 * orig_micros + 2 * exp_micros) div 5"))
      .orderBy(col("blend_micros").desc, col("doc_id").asc)
      .limit(topK)
  }

  /** Oracle twin of [[rm3TopK]]'s expansion leg: BM25 scoring where the
    * query terms come from a CTE of term ROWS (`termsCte` must expose a
    * `tok` column) instead of literals. Emits score CTEs named with
    * `prefix`; the final relation `<prefix>scored` has (idCol,
    * score_micros) for docs with score > 0, capped at `topK` in
    * (score desc, id asc) order — exactly [[bm25TopK]]'s contract. The
    * per-(doc,term) micros are floored integers, so this row-based sum
    * equals the literal fold whatever the order. */
  def bm25OracleSqlTermRows(table: String, idCol: String, textCol: String,
                            termsCte: String, prefix: String,
                            topK: Int): String = {
    val dToks = s"string_split($textCol, ' ')"
    val dl = s"CAST(len($dToks) AS DOUBLE)"
    val tf = s"CAST(len(list_filter($dToks, x -> x = tok)) AS DOUBLE)"
    s"""${prefix}stats AS (
       |  SELECT CAST(count(*) AS DOUBLE) AS n_docs,
       |    CAST(sum(len($dToks)) AS DOUBLE) AS n_tokens FROM $table),
       |${prefix}df AS (
       |  SELECT tok, CAST(count(*) AS DOUBLE) AS df
       |  FROM $termsCte t JOIN $table d
       |    ON list_contains(string_split(d.$textCol, ' '), t.tok)
       |  GROUP BY 1),
       |${prefix}pt AS (
       |  SELECT $idCol,
       |    CASE WHEN $tf > 0.0 THEN CAST(floor(1000000.0 *
       |      ((n_docs - df + 0.5) / (df + 0.5)) *
       |      ($tf * $K1Plus1 / ($tf + $K1 * ($OneMinusB + $B * $dl * n_docs / n_tokens))))
       |      AS BIGINT) ELSE 0 END AS term_micros
       |  FROM $table CROSS JOIN ${prefix}stats
       |  JOIN ${prefix}df ON true),
       |${prefix}scored AS (
       |  SELECT $idCol, CAST(sum(term_micros) AS BIGINT) AS score_micros
       |  FROM ${prefix}pt GROUP BY 1 HAVING sum(term_micros) > 0
       |  ORDER BY score_micros DESC, $idCol ASC LIMIT $topK)""".stripMargin
  }

  /** Hybrid retrieval fusion by Reciprocal Rank Fusion (RRF, Cormack et
    * al.): the production-default way to combine a lexical and a dense
    * retriever — fuse the two CANDIDATE LISTS by rank, never by score
    * (BM25 micros and cosine live on incomparable scales; ranks are
    * scale-free). Each leg contributes 1/(rrfK + rank) for the documents
    * it retrieved; absent legs contribute 0; final order is fused score
    * desc, id asc.
    *
    * Scale shape: the corpus-sized work is ENTIRELY inside the two leg
    * kernels — [[bm25TopK]] (two scans, k-row gather) and the dense
    * candidate generator (here [[Similarity.bruteForceKnn]], the
    * documented exact baseline; production swaps the IVF/SQ8/PQ serving
    * paths — fusion is agnostic to the generator). The fusion itself
    * touches only the two ≤legK-row lists: the rank windows are
    * k-SIZED, not corpus-sized (the q208 lesson), the outer join is
    * k×k, and the final top-k is an ordered LIMIT.
    *
    * Engine portability: ranks are small exact integers; each
    * contribution is one correctly-rounded IEEE division; the fused
    * score floor-quantizes to micros (the q66 discipline), so the gate
    * hashes exactly. Absent ranks surface as 0 (not null) so the output
    * schema is null-free on both engines. */
  def hybridRrfTopK(docs: DataFrame, embeddings: DataFrame,
                    docIdCol: String, textCol: String,
                    vecIdCol: String, vecCol: String,
                    terms: Seq[String], queryVecId: Long,
                    legK: Int = 100, topK: Int = 20,
                    rrfK: Int = 60): DataFrame = {
    val lexRanked = rankByScore(
      bm25TopK(docs, docIdCol, textCol, terms, legK)
        .select(col(docIdCol).as("doc_id"), col("score_micros")))
    val queries = embeddings.filter(col(vecIdCol) === queryVecId)
    val dense = Similarity
      .bruteForceKnn(embeddings, queries, vecIdCol, vecCol, legK)
      .select(col("nn_id").as("doc_id"), col("rk").cast("int").as("dr"))
    rrfFuse(lexRanked, dense, topK, rrfK)
  }

  /** Rank a k-sized (doc_id, score_micros) candidate list → (doc_id,
    * lr): the lexical leg's rank assignment, score desc / id asc. A
    * single-partition window over ≤ legK rows — bounded by the leg's
    * own LIMIT, never corpus-sized. */
  def rankByScore(scored: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.orderBy(col("score_micros").desc, col("doc_id").asc)
    scored.withColumn("lr", row_number().over(w).cast("int"))
      .select(col("doc_id"), col("lr"))
  }

  /** The RRF fusion step ALONE, generator-agnostic (the claim
    * [[hybridRrfTopK]]'s scaladoc makes, now an API surface the
    * composed index-served stack exercises): fuse a lexical ranked
    * list (doc_id, lr) and a dense ranked list (doc_id, dr) as
    * 1/(rrfK + rank) per leg, absent legs contributing 0, fused score
    * floor-quantized to micros, order fused desc / id asc, top-k.
    * Everything here is k×k-sized — both inputs are candidate lists. */
  def rrfFuse(lexRanked: DataFrame, denseRanked: DataFrame,
              topK: Int, rrfK: Int = 60): DataFrame = {
    val contrib = (r: Column) =>
      when(r > 0, lit(1.0) / (lit(rrfK.toDouble) + r.cast("double")))
        .otherwise(lit(0.0))
    lexRanked.join(denseRanked, Seq("doc_id"), "full_outer")
      .select(col("doc_id"),
        coalesce(col("lr"), lit(0)).as("lex_rank"),
        coalesce(col("dr"), lit(0)).as("dense_rank"))
      .select(col("doc_id"), col("lex_rank"), col("dense_rank"),
        floor(lit(1000000.0) *
          (contrib(col("lex_rank")) + contrib(col("dense_rank"))))
          .cast("bigint").as("rrf_micros"))
      .orderBy(col("rrf_micros").desc, col("doc_id").asc)
      .limit(topK)
  }

  /** Model-based quality scoring via the hashing trick — the fastText-style
    * linear classifier every large curation pipeline runs over the whole
    * corpus (CCNet/GPT-3-style "does this look like reference text"
    * filtering), expressed so that 100 TB pays exactly ONE scan and ZERO
    * shuffles: the model is not a lookup table to broadcast but a pure
    * function of the token hash (weight = hash-derived int in
    * [-100, 100]), so the logit is a codegen'd array fold per row —
    * embarrassingly parallel, no driver state, no join.
    *
    * `aggregate(transform(tokens, w(t)), 0, +)` with
    * w(t) = (hash40(salt ++ (hash40(t) mod dims)) mod 201) − 100:
    * token → bucket (hashing trick, `dims` buckets) → bucket weight. All
    * arithmetic is int64-exact (40-bit hashes, ≤2^40·201 products), so the
    * gate hashes engine-exactly; a REAL trained model drops in by replacing
    * the hash-derived weight with an `element_at(lit(weights), bucket)`
    * over a broadcast literal array — the plan shape (one scan, one fold)
    * is identical, which is what the query pins. */
  def hashClassifierLogit(text: Column, dims: Int, salt: String): Column = {
    val bucket = (t: Column) => graft.catalyst.Md5Prefix40(t) % dims
    val weight = (t: Column) =>
      graft.catalyst.Md5Prefix40(concat(lit(salt), bucket(t).cast("string"))) % 201L - 100L
    aggregate(tokens(text), lit(0L), (acc, t) => acc + weight(t))
  }

  /** DuckDB spelling of [[hashClassifierLogit]] over a token column `tok`. */
  def hashClassifierOracleWeight(tokExpr: String, dims: Int, salt: String): String = {
    val bucket = s"(CAST(concat('0x', substr(md5($tokExpr), 1, 10)) AS BIGINT) % $dims)"
    s"(CAST(concat('0x', substr(md5(concat('$salt', CAST($bucket AS VARCHAR))), 1, 10)) AS BIGINT) % 201 - 100)"
  }
}
