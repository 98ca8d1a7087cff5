package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.storage.StorageLevel
import graft.exec.Frames

/** Similarity search over embedding columns (`Array[Float]`).
  *
  * Two paths:
  *  - brute-force cosine top-k: exact, O(Q×N) — the baseline; Q (query set)
  *    is broadcast so the corpus is scanned once with no shuffle.
  *  - LSH-bucketed (random-hyperplane signs): the scale path — one
  *    shuffle on bucket id, candidate sets bounded by bucket size.
  *
  * All float math is widened to double and folded in array order, so an
  * external engine computing the same fold gets bit-identical results.
  */
object Similarity {

  /** Σ aᵢ·bᵢ as an ordered left fold in double precision. */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, v) => acc + v)

  def norm2(a: Column): Column = dot(a, a)

  /** Cosine similarity, rounded to 6 dp for cross-engine stability.
    * One-pass native kernel (fold order identical to the dot/norm2
    * composition, so values are unchanged). */
  def cosine(a: Column, b: Column): Column =
    round(graft.catalyst.CosineSim(a, b), 6)

  /** Exact brute-force top-k neighbors for each query vector.
    * The query set is broadcast (small side); ranking is deterministic via
    * (similarity desc, corpus id asc). */
  def bruteForceKnn(corpus: DataFrame, queries: DataFrame, idCol: String,
                    vecCol: String, k: Int): DataFrame = {
    val c = corpus.select(col(idCol).as("nn_id"), col(vecCol).as("nn_vec"))
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("q_vec"))
    val scored = c.crossJoin(broadcast(q))
      .filter(col("query_id") =!= col("nn_id"))
      .select(col("query_id"), col("nn_id"),
        cosine(col("q_vec"), col("nn_vec")).as("sim"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("sim").desc, col("nn_id").asc)
    scored.withColumn("rk", row_number().over(w)).filter(col("rk") <= k)
      .select(col("query_id"), col("nn_id"), col("sim"), col("rk"))
  }

  /** MATRYOSHKA truncation audit (Kusupati et al. 2022, MRL): retrieve
    * with only the first `dims` dimensions — the dimension-adaptive
    * serving trick (a prefix slice of an MRL-trained embedding is
    * itself a valid embedding; cosine renormalizes implicitly) — and
    * audit each truncated top-k hit against the FULL-dimension exact
    * top-k (`in_full_topk`). The audit-job twin of the ANN recall
    * audits (q189/q219): run at refresh cadence to pick the cheapest
    * prefix width that still retrieves what the full vectors retrieve.
    *
    * Scale shape: the corpus pays two scans (truncated scoring + the
    * full-dim baseline), both against the BROADCAST query set — the
    * known queries × corpus audit cost; production serving pays only
    * the truncated scan (dims/64 of the dot-product flops and, with a
    * prefix-sliced storage layout, of the bytes). */
  def mrlTruncationAudit(corpus: DataFrame, queries: DataFrame,
                         idCol: String, vecCol: String,
                         k: Int, dims: Int): DataFrame = {
    require(dims >= 1,
      s"mrlTruncationAudit: dims must be >= 1, got $dims — a zero/" +
        "negative prefix has no cosine")
    // the query side is the broadcast (small) side — a one-row driver
    // peek validates the prefix fits the stored width instead of
    // letting slice() silently shorten and skew the audit
    queries.select(size(col(vecCol)).as("__d")).head(1).foreach { r =>
      require(dims <= r.getInt(0),
        s"mrlTruncationAudit: dims=$dims exceeds the embedding width " +
          s"${r.getInt(0)}")
    }
    val c = corpus.select(col(idCol).as("nn_id"), col(vecCol).as("nn_vec"))
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("q_vec"))
    val full = bruteForceKnn(corpus, queries, idCol, vecCol, k)
      .select(col("query_id"), col("nn_id"), lit(true).as("__hit"))
    val scored = c.crossJoin(broadcast(q))
      .filter(col("query_id") =!= col("nn_id"))
      .select(col("query_id"), col("nn_id"),
        cosine(slice(col("q_vec"), 1, dims), slice(col("nn_vec"), 1, dims))
          .as("sim"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("sim").desc, col("nn_id").asc)
    scored.withColumn("rk", row_number().over(w)).filter(col("rk") <= k)
      .join(full, Seq("query_id", "nn_id"), "left_outer")
      .select(col("query_id"), col("nn_id"), col("rk"), col("sim"),
        coalesce(col("__hit"), lit(false)).as("in_full_topk"))
  }

  /** MMR trade-off weights as STORED literals (the K1Plus1 precedent):
    * computing 1 − 0.7 at runtime rounds to 0.30000000000000004, a
    * DIFFERENT double than the oracle's parsed 0.3 — both factors must
    * parse from the same decimal text on both engines. */
  val MmrLambda: Double = 0.7
  val MmrMu: Double = 0.3

  /** Maximal Marginal Relevance re-rank (Carbonell–Goldstein) over a
    * dense top-k candidate list: greedily pick the candidate maximizing
    * λ·sim(q,c) − μ·max_{s∈selected} sim(c,s) — the standard
    * diversification pass after retrieval (dedup near-identical hits
    * before they reach a training batch or a context window). Completes
    * the serving chain: search (IVF/SQ8/PQ) → rerank (q223) → fuse
    * (q241) → DIVERSIFY.
    *
    * Scale shape: the corpus pays ONE scan (the candidate search — here
    * the exact baseline; any serving path drops in); everything after
    * operates on the candK-row list: the pairwise-sim self-join is
    * candK², and the greedy loop is a BOUNDED DRIVER CARRY (≤ candK +
    * candK² rows, the Lloyd discipline) because k sequential argmax
    * steps are inherently ordered — distributing a ≤20-row loop would
    * buy nothing and cost k barriers.
    *
    * Engine portability: sims are the rounded-6dp cosine (engine-exact),
    * the step score is two literal-weight multiplies and one subtract
    * in mirrored order, ties break by id asc, and the emitted score is
    * floor micros. The oracle unrolls the k steps as chained CTEs. */
  def mmrDenseTopK(embeddings: DataFrame, idCol: String, vecCol: String,
                   queryVecId: Long, candK: Int = 20,
                   k: Int = 8): DataFrame = Frames { f =>
    val spark0 = embeddings.sparkSession
    val q = embeddings.filter(col(idCol) === queryVecId)
      .select(col(vecCol).as("q_vec"))
    // candidate search: one corpus scan; eagerly materialized (candK
    // rows) so the two downstream uses don't rescan
    val cand = f.eagerly(embeddings.filter(col(idCol) =!= queryVecId)
      .crossJoin(broadcast(q))
      .select(col(idCol).as("id"), col(vecCol).as("vec"),
        cosine(col(vecCol), col("q_vec")).as("sim"))
      .orderBy(col("sim").desc, col("id").asc).limit(candK))
    // pairwise sims among candidates: candK² rows, computed distributed
    val a = cand.select(col("id").as("id1"), col("vec").as("v1"))
    val b = cand.select(col("id").as("id2"), col("vec").as("v2"))
    val pairSims = a.join(b, col("id1") =!= col("id2"))
      .select(col("id1"), col("id2"), cosine(col("v1"), col("v2")).as("ps"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2))
      .toMap
    val rel = cand.select(col("id"), col("sim")).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).sortBy(_._1)
    val chosen = scala.collection.mutable.ArrayBuffer.empty[Long]
    val out = scala.collection.mutable.ArrayBuffer.empty[(Int, Long, Long)]
    var step = 1
    while (step <= math.min(k, rel.length)) {
      var bestId = -1L
      var bestSc = Double.NegativeInfinity
      for ((id, s) <- rel if !chosen.contains(id)) {
        val ms = if (chosen.isEmpty) 0.0
          else chosen.map(c => pairSims((id, c))).max
        val sc = MmrLambda * s - MmrMu * ms
        if (sc > bestSc) { bestSc = sc; bestId = id } // ties: first (id asc)
      }
      chosen += bestId
      out += ((step, bestId, math.floor(1000000.0 * bestSc).toLong))
      step += 1
    }
    spark0.createDataFrame(out.toSeq)
      .toDF("sel_rank", "doc_id", "mmr_micros")
  }

  /** Deterministic pseudo-random hyperplane coefficient for (plane j, dim d):
    * integer in [-3, 3] — reproducible in any SQL engine, no RNG. */
  def planeCoef(j: Int, d: Column): Column = (lit(j) * 31 + d * 17) % 7 - 3

  /** Sign-bucket id from `nPlanes` random hyperplanes: bit j = 1 iff
    * Σ_d vec[d]·coef(j,d) > 0. */
  def hyperplaneBucket(vec: Column, nPlanes: Int): Column = {
    val bits = (0 until nPlanes).map { j =>
      val proj = aggregate(
        zip_with(vec, sequence(lit(0), size(vec) - 1),
          (x, d) => x.cast("double") * planeCoef(j, d).cast("double")),
        lit(0.0), (acc, v) => acc + v)
      when(proj > 0, lit(1L << j)).otherwise(lit(0L))
    }
    bits.reduce(_ + _)
  }

  /** Within-bucket pair work is Σ bucket² and sign-buckets are
    * DATA-DEPENDENT: a dense embedding region (all of one template's
    * near-copies, a collapsed encoder) concentrates mass in one bucket and
    * silently turns the "bounded candidates" claim quadratic. Default cap
    * on any single bucket's population — exceeded → directed runtime error
    * naming the bucket, its population, and the knob (more planes splits
    * every bucket in half per plane). 2^16 rows ⇒ ≤ 2^31 pairs in the
    * worst bucket — the outer limit of acceptable for one skewed task. */
  val DefaultMaxBucket: Long = 1L << 16

  /** Embedding-cosine near-duplicate pairs: hyperplane-LSH bucketing, then
    * exact cosine only on within-bucket pairs (id1 < id2) ≥ threshold.
    * The all-pairs product never materializes — pair count is bounded by
    * Σ bucket² over sign buckets, and vectors travel through one shuffle
    * keyed by bucket. `maxBucket` guards the Σ bucket² claim in-query:
    * the population check rides the pair join itself (bucket counts are a
    * ≤2^nPlanes-row broadcast), so an oversized bucket fails the job with
    * a directed error instead of quietly running quadratic. */
  def embeddingNearDups(df: DataFrame, idCol: String, vecCol: String,
                        simThreshold: Double, nPlanes: Int = 8,
                        maxBucket: Long = DefaultMaxBucket): DataFrame = {
    // caller-owned: the returned DataFrame reads this cache
    val b = df.select(col(idCol).as("id"), col(vecCol).as("vec"),
      hyperplaneBucket(col(vecCol), nPlanes).as("bucket")).cache()
    val counts = b.groupBy(col("bucket")).agg(count(lit(1)).as("__bn"))
    val guard = when(col("__bn") <= maxBucket, col("bucket")).otherwise(
      raise_error(concat(
        lit("semanticDedup/embeddingNearDups: sign-bucket "), col("bucket"),
        lit(" holds "), col("__bn"),
        lit(s" vectors > maxBucket=$maxBucket — within-bucket pair work is"
          + s" quadratic; raise nPlanes (currently $nPlanes) to split dense"
          + " regions, or raise maxBucket deliberately"))))
    val l = b.join(broadcast(counts), Seq("bucket"))
      .select(guard.as("bucket"), col("id").as("id1"), col("vec").as("v1"))
    val r = b.select(col("bucket"), col("id").as("id2"), col("vec").as("v2"))
    l.join(r, Seq("bucket"))
      .filter(col("id1") < col("id2"))
      .select(col("id1"), col("id2"), cosine(col("v1"), col("v2")).as("sim"))
      .filter(col("sim") >= simThreshold)
  }

  /** SemDeDup-style semantic deduplication (Abbas et al. 2023,
    * arXiv:2303.09540): cluster the embedding space cheaply, compare only
    * within clusters, and keep ONE representative per semantic-duplicate
    * set. Two deliberate departures from the paper, both for
    * engine-reproducibility at scale:
    *  - clusters are deterministic sign-buckets (hyperplaneBucket — no
    *    k-means RNG, any engine recomputes the same partition of the
    *    space);
    *  - the survivor rule is min-id (a vector is dropped iff some
    *    SMALLER-id vector in its bucket has cosine ≥ threshold) rather
    *    than the paper's farthest-from-centroid, so the verdict for a row
    *    is a pure function of its bucket's contents — no tie-prone
    *    centroid distances.
    * Per-row verdicts are local (not transitive-closure): of three
    * mutually-near vectors a<b<c, only `a` survives, matching the paper's
    * one-per-group outcome for cliques; chains that cross the threshold
    * only pairwise keep their earliest element per adjacent pair.
    *
    * Scale: candidate pairs exist only within buckets (Σ bucket² work, one
    * shuffle keyed on bucket), the drop aggregation keys on the dropped
    * id (uniform), and the final verdict join is id-keyed. Nothing is
    * quadratic in the corpus and no driver-side state exists, so the
    * 100 TB form is the same plan with more buckets (`nPlanes` up) — and
    * the `maxBucket` guard (see embeddingNearDups) makes a dense region
    * that WOULD go quadratic fail directed instead of running. */
  def semanticDedup(df: DataFrame, idCol: String, vecCol: String,
                    simThreshold: Double, nPlanes: Int = 8,
                    maxBucket: Long = DefaultMaxBucket): DataFrame = {
    val pairs = embeddingNearDups(df, idCol, vecCol, simThreshold, nPlanes,
      maxBucket)
    val drops = pairs.groupBy(col("id2").as("id"))
      .agg(min(col("id1")).as("dup_of"),
        count(lit(1)).as("n_smaller_dups"),
        max(col("sim")).as("best_sim"))
    df.select(col(idCol).as("id")).join(drops, Seq("id"), "left")
      .select(col("id"), col("dup_of").isNull.as("kept"),
        col("dup_of"),
        coalesce(col("n_smaller_dups"), lit(0L)).as("n_smaller_dups"),
        col("best_sim"))
  }

  /** IVF (inverted-file) ANN — the other classic scale path:
    * 1. take `nlist` deterministic centroids (lowest ids — no RNG, so any
    *    engine reproduces the index);
    * 2. assign every vector to its nearest centroid (one broadcast pass —
    *    the "inverted lists");
    * 3. a query probes only the `nprobe` nearest centroid lists and ranks
    *    exactly within them.
    * Per-query work drops from O(N) to O(N·nprobe/nlist); the assignment
    * shuffle is keyed by centroid id (near-uniform for spread-out data).
    *
    * Returns (query_id, nn_id, sim, rk) like the other knn variants. */
  def ivfKnn(corpus: DataFrame, queries: DataFrame, idCol: String,
             vecCol: String, k: Int, nlist: Int = 16, nprobe: Int = 4): DataFrame = {
    val cents = corpus.orderBy(col(idCol).asc).limit(nlist)
      .select(col(idCol).as("cent_id"), col(vecCol).as("cent_vec"))
    // top-n centroid assignment for the (small, broadcast) query side
    def assign(df: DataFrame, id: String, vec: String, n: Int, as: String) = {
      val w = Window.partitionBy(col(id)).orderBy(
        cosine(col(vec), col("cent_vec")).desc, col("cent_id").asc)
      df.crossJoin(broadcast(cents))
        .withColumn("__cr", row_number().over(w))
        .filter(col("__cr") <= n)
        .select(col(id), col(vec), col("cent_id").as(as))
    }
    // Inverted lists: nearest centroid per corpus vector. This side is the
    // whole corpus, so it uses min_by over an inverted sort key — an
    // aggregate with map-side partial aggregation — instead of a Window,
    // which would sort-shuffle all N×nlist scored rows keyed by vector id.
    // The key inverts the similarity so (asc min_by) == (Window sim desc,
    // cent_id asc), with the desc ordering's edge cases preserved: NaN sims
    // sort first (mapped to -∞) and null sims last (mapped to +∞), exactly
    // like desc_nulls_last — negating alone would misplace both.
    val sim = cosine(col("nn_vec"), col("cent_vec"))
    val invKey = coalesce(
      when(isnan(sim), lit(Double.NegativeInfinity)).otherwise(-sim),
      lit(Double.PositiveInfinity))
    val lists = corpus
      .select(col(idCol).as("nn_id"), col(vecCol).as("nn_vec"))
      .crossJoin(broadcast(cents))
      .groupBy(col("nn_id"))
      .agg(min_by(
        struct(col("nn_vec"), col("cent_id")),
        struct(invKey, col("cent_id"))).as("__best"))
      .select(col("nn_id"), col("__best.nn_vec").as("nn_vec"),
        col("__best.cent_id").as("cent"))
    val probes = assign(
      queries.select(col(idCol).as("query_id"), col(vecCol).as("q_vec")),
      "query_id", "q_vec", nprobe, "cent")
    val scored = lists.join(probes, "cent")
      .filter(col("query_id") =!= col("nn_id"))
      .select(col("query_id"), col("nn_id"),
        cosine(col("q_vec"), col("nn_vec")).as("sim"))
      // a corpus vector can sit in several probed lists of one query
      .distinct()
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("sim").desc, col("nn_id").asc)
    scored.withColumn("rk", row_number().over(w)).filter(col("rk") <= k)
      .select(col("query_id"), col("nn_id"), col("sim"), col("rk"))
  }

  /** k-means-refined IVF ANN: Lloyd iterations sharpen the first-nlist-ids
    * index (better recall — seed centroids cluster near low ids; refined
    * centroids spread over the data). Fully DETERMINISTIC and engine-
    * portable, no RNG:
    *  - centroid arithmetic is micro-quantized: components are
    *    `floor(x·1e6)` longs, so widen/multiply/floor — all IEEE-exact —
    *    reproduce bit-identically in any engine (no sum-order or decimal
    *    rounding hazards; round() at a .5 boundary would NOT be portable);
    *  - each Lloyd round: nearest-centroid assignment via the same
    *    min_by aggregate as [[ivfKnn]] (map-side partials, no N×nlist
    *    Window), then centroid = element-wise floor(mean) via
    *    posexplode + one hash aggregate on (cent, pos);
    *  - a FIXED iteration count (both engines run the same rounds).
    * Final ranking is exact cosine on the original float vectors within
    * the probed lists, like [[ivfKnn]].
    *
    * 100 TB profile: per round, one broadcast of nlist quantized
    * centroids + two hash-aggregate shuffles (keys: nn_id, then
    * (cent,pos) — both near-uniform); the corpus projection is cached
    * across rounds. floor(mean) uses double division of the long micro
    * sum — exact while per-centroid sums stay under 2^53 micros
    * (|x|≤1e3-ish embeddings: ~9e9 rows per centroid), documented. */
  def ivfKnnKMeans(corpus: DataFrame, queries: DataFrame, idCol: String,
                   vecCol: String, k: Int, nlist: Int = 16, nprobe: Int = 4,
                   iters: Int = 2): DataFrame = {
    val (cents, lists) = ivfKMeansBuild(corpus, idCol, vecCol, nlist, iters)
    ivfProbedQuery(cents, lists, queries, idCol, vecCol, k, nprobe)
  }

  /** The BUILD phase of [[ivfKnnKMeans]], split out so the index can be
    * PERSISTED and amortized: returns (centroids `(cent_id, cent_q)`,
    * inverted lists `(nn_id, nn_vec, cent)`). Write the lists through a
    * BucketedTap keyed by `cent` and the centroids as a (tiny) table; every
    * later query batch then runs [[ivfProbedQuery]] against the stored
    * index without re-running a single Lloyd round or corpus scan — at
    * 100 TB the build is a once-per-refresh job, not a per-query cost. */
  def ivfKMeansBuild(corpus: DataFrame, idCol: String, vecCol: String,
                     nlist: Int = 16, iters: Int = 2): (DataFrame, DataFrame) = {
    def qvec(c: Column) =
      transform(c, x => floor(x.cast("double") * 1e6).cast("long"))
    // native one-pass kernel (handles long arrays), same ordered fold as
    // the oracle's list_reduce composition
    def cosD(a: Column, b: Column) = cosine(a, b)
    def invKey(sim: Column) = coalesce(
      when(isnan(sim), lit(Double.NegativeInfinity)).otherwise(-sim),
      lit(Double.PositiveInfinity))

    // caller-owned: the returned lists read this cached projection (the
    // final probed ranking re-joins the corpus); callers doing repeated
    // sweeps should `spark.catalog.clearCache()` between runs
    val base = corpus.select(col(idCol).as("nn_id"), col(vecCol).as("nn_vec"),
      qvec(col(vecCol)).as("q"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    var cents = base.orderBy(col("nn_id").asc).limit(nlist)
      .select(col("nn_id").as("cent_id"), col("q").as("cent_q"))

    // assignment of every corpus vector to its nearest centroid (payload
    // travels through the min_by aggregate, one shuffle)
    def assignCorpus(payload: Column): DataFrame = {
      val sim = cosD(col("q"), col("cent_q"))
      base.crossJoin(broadcast(cents))
        .groupBy(col("nn_id"))
        .agg(min_by(struct(payload.as("p"), col("cent_id")),
          struct(invKey(sim), col("cent_id"))).as("__best"))
    }

    for (_ <- 1 to iters) {
      val assigned = assignCorpus(col("q"))
        .select(col("__best.cent_id").as("cent_id"), col("__best.p").as("q"))
      val updated = assigned
        .select(col("cent_id"), posexplode(col("q")).as(Seq("pos", "v")))
        .groupBy(col("cent_id"), col("pos"))
        .agg(floor(sum(col("v")).cast("double") / count(lit(1)))
          .cast("long").as("cv"))
        .groupBy(col("cent_id"))
        .agg(transform(array_sort(collect_list(struct(col("pos"), col("cv")))),
          s => s.getField("cv")).as("cent_q"))
      // per-round sync barrier: materialize the nlist tiny centroids to the
      // driver and restart lineage from a local relation — otherwise every
      // downstream consumer (next round, lists, probes) re-executes the
      // whole prior round's corpus pass (measured 3x on the q66 gate).
      // Every Lloyd implementation has this barrier; it moves nlist rows.
      val rows = updated.collect().toSeq
      cents = corpus.sparkSession.createDataFrame(
        scala.jdk.CollectionConverters.SeqHasAsJava(rows).asJava, updated.schema)
    }

    val lists = assignCorpus(col("nn_vec"))
      .select(col("nn_id"), col("__best.p").as("nn_vec"),
        col("__best.cent_id").as("cent"))
    (cents, lists)
  }

  /** Cluster-balanced subsampling: cap every k-means cluster at
    * `perCluster` members, chosen by deterministic salted hash — the
    * topic-diversity sampler for training mixes (a dense topical blob
    * contributes at most `perCluster` docs, the long tail survives
    * whole; SemDeDup's "prune dense regions" as a SAMPLING policy
    * rather than a dedup).
    *
    * Returns (cent, idCol, rk) — rk is the 1-based hash rank within the
    * cluster. Callers gate ties: the 52-bit hash must be duplicate-free
    * over the corpus (the q107 tie-freedom discipline) or rank order is
    * engine-dependent.
    *
    * Scale: rides [[ivfKMeansBuild]] (corpus never exchanged beyond the
    * assignment aggregate); the cap is a bounded-heap
    * [[graft.catalyst.TopKAgg]] per cluster — map-side-combined, never
    * a per-cluster sort — and the winner set broadcasts back
    * (nlist × perCluster rows). */
  def clusterBalancedSample(corpus: DataFrame, idCol: String, vecCol: String,
                            nlist: Int, iters: Int, perCluster: Int,
                            salt: String): DataFrame = {
    require(perCluster > 0,
      s"clusterBalancedSample: perCluster must be positive, got $perCluster")
    val (_, lists) = ivfKMeansBuild(corpus, idCol, vecCol, nlist, iters)
    val nh = -conv(substring(md5(concat(lit(salt),
      col("nn_id").cast("string"))), 1, 13), 16, 10).cast("double")
    val d = lists.select(col("nn_id"), col("cent"), nh.as("nh"))
    val tops = d.groupBy(col("cent"))
      .agg(graft.catalyst.TopKAgg(col("nh"), perCluster).as("top"))
    d.join(broadcast(tops), Seq("cent"))
      .filter(array_contains(col("top"), col("nh")))
      .select(col("cent"), col("nn_id").as(idCol),
        array_position(col("top"), col("nh")).cast("int").as("rk"))
  }

  /** The QUERY phase of [[ivfKnnKMeans]] against an already-built (or
    * persisted and re-read) index. Scale shape: the probe table is
    * queries×nprobe — small per batch — and is BROADCAST into the lists
    * join, so the corpus-sized lists side is never exchanged (with lists
    * bucketed by `cent`, not even at rest); the only corpus-sized work is
    * the probed-list cosine scan. */
  def ivfProbedQuery(cents: DataFrame, lists: DataFrame, queries: DataFrame,
                     idCol: String, vecCol: String, k: Int,
                     nprobe: Int = 4): DataFrame = {
    def qvec(c: Column) =
      transform(c, x => floor(x.cast("double") * 1e6).cast("long"))
    def cosD(a: Column, b: Column) = cosine(a, b)
    val qs = queries.select(col(idCol).as("query_id"), col(vecCol).as("q_vec"),
      qvec(col(vecCol)).as("qq"))
    val pw = Window.partitionBy(col("query_id")).orderBy(
      cosD(col("qq"), col("cent_q")).desc, col("cent_id").asc)
    val probes = qs.crossJoin(broadcast(cents))
      .withColumn("__cr", row_number().over(pw))
      .filter(col("__cr") <= nprobe)
      .select(col("query_id"), col("q_vec"), col("cent_id").as("cent"))
    val scored = lists.join(broadcast(probes), "cent")
      .filter(col("query_id") =!= col("nn_id"))
      .select(col("query_id"), col("nn_id"),
        cosine(col("q_vec"), col("nn_vec")).as("sim"))
      // a corpus vector can sit in several probed lists of one query
      .distinct()
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("sim").desc, col("nn_id").asc)
    scored.withColumn("rk", row_number().over(w)).filter(col("rk") <= k)
      .select(col("query_id"), col("nn_id"), col("sim"), col("rk"))
  }

  /** Recall@k audit of the probed-IVF path against exact brute force as
    * nprobe varies — "can I trust nprobe=4 on MY corpus": q131 gates the
    * index round-trip exactly, but nothing there measures what the probe
    * budget costs in recall. One brute-force pass (the probe set is the
    * small side — broadcast into the corpus scan, the q46 shape) and one
    * probed query per nprobe against a single shared index build; hits
    * are exact integer counts of (query, neighbor) agreement, recall in
    * integer micros. On a 100 TB corpus the exact pass is the expensive
    * leg — run the audit on a sampled probe set at index-refresh cadence
    * (this is an AUDIT job, not a serving path).
    *
    * Returns one row per nprobe: (nprobe, hits, total, recall_micros),
    * total = |exact pairs| (= probes × k when the corpus has ≥ k + 1
    * vectors). The exact pass is persisted for the audit's lifetime (two
    * consumers: the per-nprobe joins and the total); callers doing
    * repeated sweeps should clearCache between runs (the
    * [[ivfKMeansBuild]] contract). */
  def annRecallAudit(corpus: DataFrame, queries: DataFrame, idCol: String,
                     vecCol: String, k: Int, nlist: Int = 16,
                     iters: Int = 2,
                     nprobes: Seq[Int] = Seq(1, 2, 4))
      : DataFrame = Frames { f =>
    require(nprobes.nonEmpty, "annRecallAudit: nprobes must be non-empty")
    val exact = f.persist(bruteForceKnn(corpus, queries, idCol, vecCol, k)
      .select(col("query_id"), col("nn_id")))
    val (cents, lists0) = ivfKMeansBuild(corpus, idCol, vecCol, nlist, iters)
    // materialize the inverted lists ONCE (r16): the per-nprobe legs all
    // reference the lists subtree inside one union plan, so the lazy
    // build's corpus assignment aggregate previously ran once per probed
    // leg (3× at the default sweep)
    val lists = f.lazily(lists0)
    val approx = nprobes.map { np =>
      ivfProbedQuery(cents, lists, queries, idCol, vecCol, k, np)
        .select(lit(np).as("nprobe"), col("query_id"), col("nn_id"))
    }.reduce(_ unionByName _)
    val hitCounts = approx.join(exact, Seq("query_id", "nn_id"))
      .groupBy(col("nprobe")).agg(count(lit(1)).as("__h"))
    val total = exact.agg(count(lit(1)).as("total"))
    // left join against the literal nprobe list: an nprobe with ZERO
    // agreeing pairs must still report its (hits = 0) row
    val spark0 = corpus.sparkSession
    import spark0.implicits._
    // eager: the (O(nprobes)-row) result is materialized so the scope
    // can release the exact and lists frames HERE instead of leaking
    // them for the session per audit invocation
    f.result(nprobes.toDF("nprobe").join(hitCounts, Seq("nprobe"), "left")
      .crossJoin(broadcast(total))
      .select(col("nprobe"), coalesce(col("__h"), lit(0L)).as("hits"),
        col("total"))
      .withColumn("recall_micros", expr("hits * 1000000 div total")))
  }

  /** Symmetric int8 quantization of an embedding column — the standard 4×
    * storage/shuffle reduction for vector corpora (100 TB of float32
    * embeddings becomes 25 TB of int8 + one scale per vector).
    *
    * scale = max(|x|)/127; q_i = round_half_up(x_i / scale). All arithmetic
    * is double-precision column expressions with explicit floor-based
    * rounding, so any SQL engine reproduces the exact codes. Zero vectors
    * get scale 0 and all-zero codes. */
  def quantizeInt8(vec: Column): Column = {
    val absmax = aggregate(vec, lit(0.0d),
      (acc, x) => greatest(acc, abs(x.cast("double"))))
    val scale = absmax / 127.0d
    val codes = when(scale === 0.0d,
        transform(vec, _ => lit(0).cast("tinyint")))
      .otherwise(transform(vec, x =>
        floor(x.cast("double") / scale + 0.5d).cast("tinyint")))
    struct(scale.cast("float").as("scale"), codes.as("codes"))
  }

  /** Reconstruct float32 vectors from int8 codes (`quantizeInt8` output). */
  def dequantizeInt8(q: Column): Column =
    transform(q.getField("codes"),
      c => (c.cast("double") * q.getField("scale").cast("double")).cast("float"))

  /** LSH-bucketed ANN: exact cosine ranking *within* each sign bucket.
    * Trades recall for a shuffle bounded by bucket populations — the 100 TB
    * path (brute force is O(N) per query; this is O(bucket) per query). */
  def lshKnn(corpus: DataFrame, queries: DataFrame, idCol: String,
             vecCol: String, k: Int, nPlanes: Int = 8): DataFrame = {
    val c = corpus.select(col(idCol).as("nn_id"), col(vecCol).as("nn_vec"),
      hyperplaneBucket(col(vecCol), nPlanes).as("bucket"))
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("q_vec"),
      hyperplaneBucket(col(vecCol), nPlanes).as("bucket"))
    val scored = c.join(broadcast(q), "bucket")
      .filter(col("query_id") =!= col("nn_id"))
      .select(col("query_id"), col("nn_id"),
        cosine(col("q_vec"), col("nn_vec")).as("sim"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("sim").desc, col("nn_id").asc)
    scored.withColumn("rk", row_number().over(w)).filter(col("rk") <= k)
      .select(col("query_id"), col("nn_id"), col("sim"), col("rk"))
  }

  /** Adaptive sign-bucket assignment — the escalation path for
    * [[semanticDedup]]'s dense-region problem: every vector starts in
    * its `basePlanes`-bit bucket; vectors whose bucket exceeds
    * `maxBucket` re-bucket with `extraPlanes` more hyperplanes, up to
    * `maxRounds` times. Plane bits are prefix-consistent
    * (bucket_m = bucket_{m+d} & (2^m − 1)), so an escalated bucket is a
    * strict refinement of its parent. Deterministic end to end — the
    * level decision is a pure function of bucket populations, so any
    * engine recomputes the identical assignment. Returns
    * (id, vec, lvl, bucket) with bucket = "lvl:bits" (levels use
    * different plane counts, so raw bits from different levels must not
    * collide).
    *
    * Scale: each round is one O(buckets) count aggregate (broadcast
    * back) + a scan-local re-bucket of ONLY the oversized population;
    * nothing pairwise. Exact duplicates cannot be split by any plane
    * count — the final [[semanticDedupAdaptive]] guard still fails
    * directed if a bucket stays oversized after `maxRounds`. */
  def adaptiveBuckets(df: DataFrame, idCol: String, vecCol: String,
                      basePlanes: Int, extraPlanes: Int,
                      maxBucket: Long,
                      maxRounds: Int = 2): DataFrame = Frames { f =>
    require(basePlanes >= 1 && extraPlanes >= 1 && maxRounds >= 1,
      s"adaptiveBuckets: planes/rounds must be ≥ 1 " +
        s"(got base=$basePlanes extra=$extraPlanes rounds=$maxRounds)")
    var cur = df.select(col(idCol).as("id"), col(vecCol).as("vec"),
      lit(0).as("lvl"), hyperplaneBucket(col(vecCol), basePlanes).as("b"))
    // each round reads cur twice (the counts branch + the main branch);
    // without a per-round persist the uncached lineage re-evaluates every
    // prior round's hyperplane projections AND the corpus scan, so cost
    // multiplies with maxRounds. Persist the round result, drop the
    // previous round's cache once the new one is materialized.
    for (r <- 1 to maxRounds) {
      val planes = basePlanes + r * extraPlanes
      val counts = cur.filter(col("lvl") === (r - 1))
        .groupBy(col("b").as("__cb")).agg(count(lit(1)).as("__n"))
      val next = f.persist(cur.join(broadcast(counts),
          col("lvl") === (r - 1) && col("b") === col("__cb"), "left")
        .select(col("id"), col("vec"),
          when(col("__n") > maxBucket, lit(r)).otherwise(col("lvl"))
            .as("lvl"),
          when(col("__n") > maxBucket,
            hyperplaneBucket(col("vec"), planes)).otherwise(col("b"))
            .as("b")))
      next.count() // materialize before releasing the previous round
      f.release(cur)
      cur = next
    }
    // eager: the result keeps its blocks on the raw RDD (freed on GC, no
    // session-lifetime CacheManager entry), so the last round's persist
    // is released here instead of leaking
    f.result(cur.select(col("id"), col("vec"), col("lvl"),
      concat(col("lvl").cast("string"), lit(":"),
        col("b").cast("string")).as("bucket")))
  }

  /** [[semanticDedup]] with adaptive plane escalation: dense sign-bucket
    * regions refine themselves ([[adaptiveBuckets]]) instead of failing
    * the fixed-plane maxBucket guard outright. The guard still stands at
    * the FINAL level — a bucket that `maxRounds` escalations cannot
    * split (e.g. > maxBucket exact duplicates) fails directed rather
    * than running quadratic. Output adds `lvl` (0 = never escalated) to
    * the per-vector verdict so the escalation distribution is part of
    * the gated result. */
  def semanticDedupAdaptive(df: DataFrame, idCol: String, vecCol: String,
                            simThreshold: Double, basePlanes: Int = 6,
                            extraPlanes: Int = 4,
                            maxBucket: Long = DefaultMaxBucket,
                            maxRounds: Int = 2): DataFrame = {
    // caller-owned: the returned DataFrame reads this cache
    val b = adaptiveBuckets(df, idCol, vecCol, basePlanes, extraPlanes,
      maxBucket, maxRounds).cache()
    val counts = b.groupBy(col("bucket")).agg(count(lit(1)).as("__bn"))
    val guard = when(col("__bn") <= maxBucket, col("bucket")).otherwise(
      raise_error(concat(
        lit("semanticDedupAdaptive: bucket "), col("bucket"),
        lit(" still holds "), col("__bn"),
        lit(s" vectors > maxBucket=$maxBucket after $maxRounds" +
          " escalations — likely > maxBucket exact duplicates; dedup" +
          " exact copies first, or raise maxRounds/extraPlanes/maxBucket"))))
    val l = b.join(broadcast(counts), Seq("bucket"))
      .select(guard.as("bucket"), col("id").as("id1"), col("vec").as("v1"))
    val r = b.select(col("bucket"), col("id").as("id2"), col("vec").as("v2"))
    val pairs = l.join(r, Seq("bucket"))
      .filter(col("id1") < col("id2"))
      .select(col("id1"), col("id2"),
        cosine(col("v1"), col("v2")).as("sim"))
      .filter(col("sim") >= simThreshold)
    val drops = pairs.groupBy(col("id2").as("id"))
      .agg(min(col("id1")).as("dup_of"),
        count(lit(1)).as("n_smaller_dups"),
        max(col("sim")).as("best_sim"))
    b.select(col("id"), col("lvl")).join(drops, Seq("id"), "left")
      .select(col("id"), col("lvl"), col("dup_of").isNull.as("kept"),
        col("dup_of"),
        coalesce(col("n_smaller_dups"), lit(0L)).as("n_smaller_dups"),
        col("best_sim"))
  }

  /** [[semanticDedupAdaptive]] behind an EXACT-DUPLICATE collapse — the
    * adaptive guard's own remedy, operationalized. Identical vectors can
    * never be separated by more planes (they share every sign bucket),
    * so a corpus with heavy exact replication drives ANY bucket cap to a
    * directed failure (measured: the synthesized sf1's 10× verbatim
    * copies → 160-fold buckets → q181 refuses). Collapse exact copies to
    * their min-id representative FIRST (one aggregate keyed on the
    * vector value — uniform, linear), run the adaptive pass on DISTINCT
    * vectors, then expand: a non-representative copy is an exact dup of
    * its representative (kept = false, dup_of = rep, best_sim = 1.0);
    * representatives carry the adaptive verdict. Returns (id, lvl, kept,
    * dup_of, n_copies, best_sim) — n_copies the exact multiplicity of
    * the id's vector.
    *
    * The group table feeds two branches (reps + the expand join) and is
    * recomputed per branch here (deterministic); a 100 TB run persists
    * it — or keys it on a wide content hash — once per refresh. */
  def semanticDedupDistinct(df: DataFrame, idCol: String, vecCol: String,
                            simThreshold: Double, basePlanes: Int = 6,
                            extraPlanes: Int = 4,
                            maxBucket: Long = DefaultMaxBucket,
                            maxRounds: Int = 2): DataFrame = {
    val groups = df.groupBy(col(vecCol).as("gvec"))
      .agg(min(col(idCol)).as("rep"), count(lit(1)).as("n_copies"))
    val reps = groups.select(col("rep").as(idCol), col("gvec").as(vecCol))
    val verdict = semanticDedupAdaptive(reps, idCol, vecCol, simThreshold,
        basePlanes, extraPlanes, maxBucket, maxRounds)
      .select(col("id").as("rep"), col("lvl"), col("kept"),
        col("dup_of"), col("best_sim"))
    df.select(col(idCol).as("id"), col(vecCol).as("gvec"))
      .join(groups, Seq("gvec"))
      .join(verdict, Seq("rep"))
      .select(col("id"), col("lvl"),
        when(col("id") === col("rep"), col("kept"))
          .otherwise(lit(false)).as("kept"),
        when(col("id") === col("rep"), col("dup_of"))
          .otherwise(col("rep")).as("dup_of"),
        col("n_copies"),
        when(col("id") === col("rep"), col("best_sim"))
          .otherwise(lit(1.0)).as("best_sim"))
  }

  /** Persisted SIGN-BUCKET INDEX rows: (id, bucket, vec) — the q127/q133
    * index discipline applied to SemDeDup so arriving embeddings stop
    * paying a full corpus re-bucket per batch. Write through
    * [[signBucketIndexTap]] (bucketed by `bucket`): a later
    * batch-vs-corpus join then plans with NO corpus-side exchange, and
    * the per-batch append (SinkMode.Update) keeps the index current. */
  def signBucketIndex(df: DataFrame, idCol: String, vecCol: String,
                      nPlanes: Int = 8): DataFrame =
    df.select(col(idCol).as("id"),
      hyperplaneBucket(col(vecCol), nPlanes).as("bucket"),
      col(vecCol).as("vec"))

  def signBucketIndexTap(table: String, buckets: Int): graft.sources.BucketedTap =
    graft.sources.BucketedTap(table, buckets, Seq("bucket"))

  /** SemDeDup at INDEX CADENCE: which arriving vectors semantically
    * duplicate something already in the corpus? Batch vectors bucket
    * in-flight and join ONLY their bucket's corpus vectors from the
    * PERSISTED sign-bucket index — the corpus is never re-bucketed and
    * (with bucket pruning on selective batches) barely re-scanned. A
    * batch vector is a dup iff some corpus vector in its bucket has
    * cosine ≥ threshold; returns one row per batch vector:
    * (id, kept, dup_of = min matching corpus id, n_corpus_dups,
    * best_sim) — the arrival-side counterpart of [[semanticDedup]]'s
    * corpus-refresh verdict (same one-sided semantics as q98/q127:
    * batch-internal dups are the NEXT refresh's business).
    *
    * The Σ bucket² guard rides the touched buckets: corpus bucket counts
    * aggregate bucket-aware over the index (≤ 2^nPlanes rows, broadcast)
    * and an oversized TOUCHED bucket fails directed, exactly like
    * [[embeddingNearDups]]. nPlanes must match the index build. */
  def semanticDedupAgainstIndex(corpusIndex: DataFrame, batch: DataFrame,
                                idCol: String, vecCol: String,
                                simThreshold: Double, nPlanes: Int = 8,
                                maxBucket: Long = DefaultMaxBucket): DataFrame = {
    val counts = corpusIndex.groupBy(col("bucket"))
      .agg(count(lit(1)).as("__bn"))
    val guard = when(col("__bn").isNull || col("__bn") <= maxBucket,
      col("bucket")).otherwise(
      raise_error(concat(
        lit("semanticDedupAgainstIndex: sign-bucket "), col("bucket"),
        lit(" holds "), col("__bn"),
        lit(s" corpus vectors > maxBucket=$maxBucket — batch-vs-bucket " +
          s"work is |batch bucket|×|corpus bucket|; rebuild the index " +
          s"with more planes (currently $nPlanes), or raise maxBucket"))))
    val bb = batch.select(col(idCol).as("id"),
        hyperplaneBucket(col(vecCol), nPlanes).as("bucket"),
        col(vecCol).as("vec"))
      .join(broadcast(counts), Seq("bucket"), "left")
      .select(guard.as("bucket"), col("id"), col("vec"))
    val matched = bb
      .join(corpusIndex.select(col("bucket"), col("id").as("corpus_id"),
        col("vec").as("cvec")), Seq("bucket"))
      .select(col("id"), col("corpus_id"),
        cosine(col("vec"), col("cvec")).as("sim"))
      .filter(col("sim") >= simThreshold)
    val drops = matched.groupBy(col("id"))
      .agg(min(col("corpus_id")).as("dup_of"),
        count(lit(1)).as("n_corpus_dups"),
        max(col("sim")).as("best_sim"))
    batch.select(col(idCol).as("id")).join(drops, Seq("id"), "left")
      .select(col("id"), col("dup_of").isNull.as("kept"), col("dup_of"),
        coalesce(col("n_corpus_dups"), lit(0L)).as("n_corpus_dups"),
        col("best_sim"))
  }

  /** Exact per-group embedding centroids in integer micros — the domain
    * map of a multi-source corpus (each source/label/topic collapses to
    * one vector). Components are quantized to int64 micros BEFORE the
    * sum: a float sum over a shuffle is order-dependent (non-deterministic
    * across runs and engines); the int sum is exact and associative, so
    * the centroid is bit-identical anywhere. Per-component mean is
    * floor(double(sum)/n) — sums stay < 2^53 so the double division is
    * the same IEEE operation on every engine.
    *
    * Scale shape: posexplode is dim× row inflation but the aggregation
    * keys (group, pos) are perfectly uniform; output is O(groups × dim)
    * rows — tiny. One exchange total. */
  def groupCentroids(emb: DataFrame, groupCol: String, vecCol: String)
      : DataFrame =
    emb.select(col(groupCol).as("grp"), posexplode(col(vecCol)).as(Seq("pos", "v")))
      .select(col("grp"), col("pos"),
        floor(col("v").cast("double") * 1000000L).cast("bigint").as("q"))
      .groupBy("grp", "pos")
      .agg(sum(col("q")).as("s"), count(lit(1)).as("n"))
      .select(col("grp"), col("pos"),
        floor(col("s").cast("double") / col("n")).cast("bigint")
          .as("c_micros"))

  // ---- product quantization (Jégou/Douze/Schmid, TPAMI 2011) -----------

  /** Exact integer squared-L2 distance between two equal-length long
    * arrays (micros² units). HOF composition — the oracle-mirroring
    * reference form; sub-vectors are dim/m ≤ 8 elements so the
    * CodegenFallback cost stays per-subspace, not per-dimension². */
  private def l2q(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => (x - y) * (x - y)), lit(0L), _ + _)

  private def qvecPq(c: Column): Column =
    transform(c, x => floor(x.cast("double") * 1e6).cast("long"))

  /** (id, sub, sq) subspace rows: the d-dim micro-quantized vector split
    * into m contiguous dsub-long slices. One scan, m rows per vector. */
  private def pqSubRows(df: DataFrame, idCol: String, qCol: String,
                        m: Int, dsub: Int): DataFrame =
    df.select(col(idCol), posexplode(
        transform(sequence(lit(0), lit(m - 1)),
          i => slice(col(qCol), i * dsub + 1, lit(dsub)))).as(Seq("sub", "sq")))

  /** PRODUCT-QUANTIZATION codebook + code build: split `dim`-dim vectors
    * into `m` contiguous subspaces, run per-subspace k-means (`kSub`
    * codewords, the micro-quantized integer Lloyd of [[ivfKMeansBuild]]:
    * floor(x·1e6) longs, exact integer squared-L2 assignment, floor-mean
    * updates — every step engine-portable), and encode each vector as m
    * codes. ALL subspaces train in one frame: each Lloyd round is one
    * assignment aggregate over the (corpus × m) subspace rows plus ONE
    * driver barrier of m·kSub centroid rows (not a job per subspace).
    *
    * Returns (codebooks `(sub, cent_id, cent_q)` — m·kSub tiny rows, and
    * codes `(nn_id, sub, code)` — the 100 TB artifact: m small ints per
    * vector instead of dim floats, a 32× storage/scan reduction at
    * m=8/dim=64. Persist codes through a tap and [[pqAdcTopK]] never
    * touches a raw vector again. */
  def pqBuild(corpus: DataFrame, idCol: String, vecCol: String,
              m: Int = 8, kSub: Int = 16, iters: Int = 2,
              dim: Int = 64): (DataFrame, DataFrame) =
    pqBuildQuantized(
      corpus.select(col(idCol).as("nn_id"), qvecPq(col(vecCol)).as("q")),
      m, kSub, iters, dim)

  /** [[pqBuild]] over ALREADY micro-quantized `(nn_id, q: array<long>)`
    * rows — the entry point RESIDUAL encoding uses: residuals
    * `q − cent_q` are exact long arithmetic over already-quantized
    * values, so quantize-then-subtract keeps the whole chain integer
    * (subtract-then-quantize would re-round and break oracle replay). */
  def pqBuildQuantized(quant: DataFrame,
                       m: Int = 8, kSub: Int = 16, iters: Int = 2,
                       dim: Int = 64): (DataFrame, DataFrame) = Frames { f =>
    require(dim % m == 0, s"pqBuild: dim=$dim not divisible by m=$m")
    val dsub = dim / m
    val base = f.persist(quant)
    val sb = f.persist(pqSubRows(base, "nn_id", "q", m, dsub))

    // seed: the first kSub vectors by id, sliced per subspace (the
    // ivfKMeansBuild seeding, deterministic on any engine)
    var cents = pqSubRows(
      base.orderBy(col("nn_id").asc).limit(kSub)
        .select(col("nn_id").as("cent_id"), col("q")),
      "cent_id", "q", m, dsub)
      .select(col("sub"), col("cent_id"), col("sq").as("cent_q"))

    def assign(payload: Column): DataFrame =
      sb.join(broadcast(cents), Seq("sub"))
        .groupBy(col("nn_id"), col("sub"))
        .agg(min_by(struct(payload.as("p"), col("cent_id")),
          struct(l2q(col("sq"), col("cent_q")), col("cent_id"))).as("__best"))

    for (_ <- 1 to iters) {
      val assigned = assign(col("sq")).select(col("sub"),
        col("__best.cent_id").as("cent_id"), col("__best.p").as("sq"))
      val updated = assigned
        .select(col("sub"), col("cent_id"), posexplode(col("sq")).as(Seq("pos", "v")))
        .groupBy(col("sub"), col("cent_id"), col("pos"))
        .agg(floor(sum(col("v")).cast("double") / count(lit(1)))
          .cast("long").as("cv"))
        .groupBy(col("sub"), col("cent_id"))
        .agg(transform(array_sort(collect_list(struct(col("pos"), col("cv")))),
          s => s.getField("cv")).as("cent_q"))
      // per-round sync barrier (the ivfKMeansBuild discipline): m·kSub
      // rows to the driver, lineage restarts from a local relation
      val rows = updated.collect().toSeq
      cents = quant.sparkSession.createDataFrame(
        scala.jdk.CollectionConverters.SeqHasAsJava(rows).asJava, updated.schema)
    }

    // eager: the codes (the small build artifact: m small ints per
    // vector) are materialized so the scope releases base/sb HERE
    // instead of leaking two session-lifetime persists per build
    // invocation (the annRecallAudit discipline)
    val codes = f.result(assign(lit(0L))
      .select(col("nn_id"), col("sub"), col("__best.cent_id").as("code")))
    (cents, codes)
  }

  /** ASYMMETRIC-DISTANCE (ADC) top-k over PQ codes: the query's exact
    * integer squared-L2 table against every codeword (m·kSub tiny rows
    * per query) BROADCASTS into the code scan, which becomes a
    * lookup-and-sum — approximate dist(q, x) = Σ_sub ‖q_sub −
    * codeword(x, sub)‖². The corpus side never exchanges and never
    * reads a raw vector; at 100 TB this is the only dense-scan shape
    * that fits (8 bytes/vector scanned, integer adds only). Exact
    * integers end-to-end ⇒ ranks are engine-portable (ties by nn_id). */
  def pqAdcTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
                vecCol: String, k: Int, m: Int = 8, kSub: Int = 16,
                iters: Int = 2, dim: Int = 64): DataFrame = {
    val (cents, codes) = pqBuild(corpus, idCol, vecCol, m, kSub, iters, dim)
    pqAdcQuery(cents, codes, queries, idCol, vecCol, k, m, dim)
  }

  /** The QUERY phase of [[pqAdcTopK]] against an already-built (or
    * persisted and re-read) codebook + code table. */
  def pqAdcQuery(cents: DataFrame, codes: DataFrame, queries: DataFrame,
                 idCol: String, vecCol: String, k: Int, m: Int = 8,
                 dim: Int = 64): DataFrame = {
    val dsub = dim / m
    val qs = pqSubRows(
      queries.select(col(idCol).as("query_id"), qvecPq(col(vecCol)).as("q")),
      "query_id", "q", m, dsub)
    val t = qs.join(broadcast(cents), Seq("sub"))
      .select(col("query_id"), col("sub"), col("cent_id"),
        l2q(col("sq"), col("cent_q")).as("d"))
    val scored = codes.join(broadcast(t),
        codes("sub") === t("sub") && codes("code") === t("cent_id"))
      .filter(col("nn_id") =!= col("query_id"))
      .groupBy(col("query_id"), col("nn_id"))
      .agg(sum(col("d")).as("adc_dist"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("adc_dist").asc, col("nn_id").asc)
    scored.withColumn("rk", row_number().over(w).cast("int"))
      .filter(col("rk") <= k)
  }

  /** Dense per-subspace code indices for a PQ codebook: adds `code_ix` =
    * the 0-based rank of `cent_id` within its subspace (ordered by
    * cent_id). [[pqBuild]] centroids carry their SEED VECTOR's id (the
    * first-kSub-by-id seeding), which is neither contiguous nor 0-based —
    * the dense index is what a flattened ADC lookup table keys on, and it
    * stays correct even when a subspace's codebook SHRANK during Lloyd
    * (a centroid that loses all members disappears from the update).
    * The row_number window runs over m·kSub rows — the codebook, not the
    * corpus. */
  def pqDenseCodebook(cents: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("sub")).orderBy(col("cent_id").asc)
    cents.withColumn("code_ix", (row_number().over(w) - 1).cast("int"))
  }

  /** Pack per-subspace PQ code rows into ONE row per vector:
    * (nn_id, codes array<int> ordered by sub, holding dense code
    * indices). This is the STORED form of the 100 TB artifact — m bytes
    * of information per vector in one row, so the serving scan reads
    * |corpus| rows instead of |corpus|·m and never shuffles on
    * (query, vector) pairs. One hash aggregation at build cadence. */
  def pqPackCodes(codes: DataFrame, denseBook: DataFrame): DataFrame = {
    val db = denseBook.select(col("sub").as("__dbsub"),
      col("cent_id").as("__dbcent"), col("code_ix"))
    codes.join(broadcast(db),
        col("sub") === col("__dbsub") && col("code") === col("__dbcent"))
      .select(col("nn_id"), col("sub"), col("code_ix"))
      .groupBy(col("nn_id"))
      .agg(transform(array_sort(collect_list(struct(col("sub"), col("code_ix")))),
        s => s.getField("code_ix")).as("codes"))
  }

  /** ADC top-k over PACKED codes with a bounded-heap aggregate — the
    * serving-path shape of [[pqAdcQuery]], with both of its corpus-sized
    * costs removed:
    *  - the per-(query, vector) SUM-over-subspaces aggregate becomes an
    *    in-row lookup-table fold: each query's m·kSub exact integer
    *    distance table broadcasts as a map and dist(q, x) =
    *    Σ_sub dmap[sub·kSub + codes[sub]] — one pass over the packed
    *    code rows, NO exchange keyed by (query, vector);
    *  - the corpus-sized `row_number` window becomes
    *    [[graft.catalyst.MinKPairsAgg]]: a k-element heap per query with
    *    map-side partials, so the only shuffle is O(queries × k) pairs.
    * Exact integers end-to-end ⇒ identical (dist, id) ranks to the
    * window form — the output is [[pqAdcQuery]]'s, row for row. */
  def pqAdcTopKPacked(denseBook: DataFrame, packedCodes: DataFrame,
                      queries: DataFrame, idCol: String, vecCol: String,
                      k: Int, m: Int = 8, kSub: Int = 16,
                      dim: Int = 64): DataFrame = {
    val dsub = dim / m
    val qs = pqSubRows(
      queries.select(col(idCol).as("query_id"), qvecPq(col(vecCol)).as("q")),
      "query_id", "q", m, dsub)
    val qmaps = qs.join(broadcast(denseBook), Seq("sub"))
      .select(col("query_id"),
        (col("sub") * kSub + col("code_ix")).cast("int").as("slot"),
        l2q(col("sq"), col("cent_q")).as("d"))
      .groupBy(col("query_id"))
      .agg(map_from_entries(collect_list(struct(col("slot"), col("d"))))
        .as("dmap"))
    val scored = packedCodes.crossJoin(broadcast(qmaps))
      .filter(col("nn_id") =!= col("query_id"))
      .select(col("query_id"), col("nn_id"),
        aggregate(
          zip_with(col("codes"), sequence(lit(0), lit(m - 1)),
            (c, i) => element_at(col("dmap"), (i * kSub + c).cast("int"))),
          lit(0L), (acc, x) => acc + x).as("adc_dist"))
    scored.groupBy(col("query_id"))
      .agg(graft.catalyst.MinKPairsAgg(col("adc_dist"), col("nn_id"), k)
        .as("top"))
      .select(col("query_id"), posexplode(col("top")).as(Seq("p", "pair")))
      .select(col("query_id"), col("pair.id").as("nn_id"),
        col("pair.v").as("adc_dist"), (col("p") + 1).cast("int").as("rk"))
  }

  /** IVFADC (Jégou et al. 2011 §III): the IVF coarse quantizer prunes
    * WHICH vectors are scanned, PQ/ADC compresses HOW each survivor is
    * scored — composed, a query reads nprobe/nlist of the corpus at
    * m bytes per vector. `ivfCodes` is the stored composition artifact:
    * (nn_id, cent, codes) — [[ivfKMeansBuild]] list assignment joined
    * with [[pqPackCodes]] rows, persisted bucketed by `cent` so the
    * probe join prunes at rest. This variant encodes RAW vectors (not
    * residuals r = x − centroid): exact-integer oracle replay and
    * codebook sharing across lists outweigh the recall gain of residual
    * encoding at the scales gated here; the residual refinement slots in
    * by re-pointing pqBuild at (x − cent_q) rows without changing this
    * query shape.
    *
    * Scale shape: probes (queries × nprobe) + distance maps broadcast
    * into the codes join — the corpus-sized codes side is never
    * exchanged (bucketed by cent, not even at rest); each corpus vector
    * sits in exactly ONE list, so no cross-probe dedup is needed; the
    * final shuffle is MinKPairsAgg partials, O(queries × k). */
  def ivfAdcQuery(ivfCents: DataFrame, denseBook: DataFrame,
                  ivfCodes: DataFrame, queries: DataFrame, idCol: String,
                  vecCol: String, k: Int, nprobe: Int = 4, m: Int = 8,
                  kSub: Int = 16, dim: Int = 64): DataFrame = {
    val dsub = dim / m
    def qvec(c: Column) =
      transform(c, x => floor(x.cast("double") * 1e6).cast("long"))
    val qs = queries.select(col(idCol).as("query_id"), col(vecCol).as("q_vec"),
      qvec(col(vecCol)).as("qq"))
    val pw = Window.partitionBy(col("query_id")).orderBy(
      cosine(col("qq"), col("cent_q")).desc, col("cent_id").asc)
    val probes = qs.crossJoin(broadcast(ivfCents))
      .withColumn("__cr", row_number().over(pw))
      .filter(col("__cr") <= nprobe)
      .select(col("query_id"), col("cent_id").as("cent"))
    val qsub = pqSubRows(
      queries.select(col(idCol).as("query_id"), qvecPq(col(vecCol)).as("q")),
      "query_id", "q", m, dsub)
    val qmaps = qsub.join(broadcast(denseBook), Seq("sub"))
      .select(col("query_id"),
        (col("sub") * kSub + col("code_ix")).cast("int").as("slot"),
        l2q(col("sq"), col("cent_q")).as("d"))
      .groupBy(col("query_id"))
      .agg(map_from_entries(collect_list(struct(col("slot"), col("d"))))
        .as("dmap"))
    val probeMaps = probes.join(qmaps, Seq("query_id"))
    val scored = ivfCodes.join(broadcast(probeMaps), Seq("cent"))
      .filter(col("nn_id") =!= col("query_id"))
      .select(col("query_id"), col("nn_id"),
        aggregate(
          zip_with(col("codes"), sequence(lit(0), lit(m - 1)),
            (c, i) => element_at(col("dmap"), (i * kSub + c).cast("int"))),
          lit(0L), (acc, x) => acc + x).as("adc_dist"))
    scored.groupBy(col("query_id"))
      .agg(graft.catalyst.MinKPairsAgg(col("adc_dist"), col("nn_id"), k)
        .as("top"))
      .select(col("query_id"), posexplode(col("top")).as(Seq("p", "pair")))
      .select(col("query_id"), col("pair.id").as("nn_id"),
        col("pair.v").as("adc_dist"), (col("p") + 1).cast("int").as("rk"))
  }

  /** RESIDUAL-encoded IVFADC build (Jégou et al. 2011 §III.A — the
    * paper's actual formulation, refining [[ivfAdcQuery]]'s raw-vector
    * variant): each vector is PQ-encoded as its residual r = q − c(q)
    * from its assigned coarse centroid. Residuals concentrate near the
    * origin, so the shared per-subspace codebook spends its kSub cells
    * on the DIFFERENCES that distinguish list members instead of the
    * coarse structure the IVF assignment already captured — the recall
    * win that made IVFADC the billion-vector standard. Everything stays
    * exact integer: residuals subtract ALREADY-quantized micros
    * (quantize-then-subtract — subtract-then-quantize would re-round),
    * so codebooks, codes and ADC distances all replay arithmetically.
    *
    * Returns (ivfCents `(cent_id, cent_q)`, denseBook, ivfCodes
    * `(nn_id, cent, codes)`) — the same stored-artifact triple as the
    * raw-vector path; persist codes bucketed by `cent`. */
  def ivfPqResidualBuild(corpus: DataFrame, idCol: String, vecCol: String,
                         nlist: Int = 16, ivfIters: Int = 2, m: Int = 8,
                         kSub: Int = 16, pqIters: Int = 2,
                         dim: Int = 64,
                         prebuiltIvf: Option[(DataFrame, DataFrame)] = None)
      : (DataFrame, DataFrame, DataFrame) = {
    // `prebuiltIvf` (r17, guide §1.2 don't compute things twice): a
    // caller that has ALREADY run ivfKMeansBuild with the same
    // (nlist, ivfIters) — adcRecallAudit builds the raw variant first —
    // passes its (cents, lists) instead of paying a second, bit-identical
    // Lloyd run. The build is deterministic, so the output is the same
    // triple either way; the contract that both variants share ONE
    // quantizer is unchanged (it is now shared by reference instead of
    // by replay).
    val (cents, lists) = prebuiltIvf.getOrElse(
      ivfKMeansBuild(corpus, idCol, vecCol, nlist, ivfIters))
    val q = corpus.select(col(idCol).as("nn_id"), qvecPq(col(vecCol)).as("q"))
    val res = lists.select(col("nn_id"), col("cent"))
      .join(q, Seq("nn_id"))
      .join(broadcast(cents.select(col("cent_id").as("cent"), col("cent_q"))),
        Seq("cent"))
      .select(col("nn_id"), col("cent"),
        zip_with(col("q"), col("cent_q"), (a, b) => a - b).as("q"))
    val (pqCents, codes) = pqBuildQuantized(
      res.select(col("nn_id"), col("q")), m, kSub, pqIters, dim)
    val book = pqDenseCodebook(pqCents)
    val ivfCodes = res.select(col("nn_id"), col("cent"))
      .join(pqPackCodes(codes, book), Seq("nn_id"))
    (cents, book, ivfCodes)
  }

  /** The QUERY phase of residual IVFADC: the query's residual is
    * PER PROBED LIST (r_q = q − c for each probed centroid c), so the
    * distance table is keyed (query, cent, sub, code) — still tiny
    * (queries × nprobe × m × kSub integers) and still broadcast; the
    * codes side joins on `cent` exactly as the raw-vector path (each
    * vector in ONE list, no cross-probe dedup, no corpus exchange,
    * MinKPairsAgg partials as the only shuffle). Same output shape:
    * (query_id, nn_id, adc_dist, rk). */
  def ivfPqResidualQuery(ivfCents: DataFrame, denseBook: DataFrame,
                         ivfCodes: DataFrame, queries: DataFrame,
                         idCol: String, vecCol: String, k: Int,
                         nprobe: Int = 4, m: Int = 8, kSub: Int = 16,
                         dim: Int = 64): DataFrame = {
    val dsub = dim / m
    val qs = queries.select(col(idCol).as("query_id"),
      qvecPq(col(vecCol)).as("qq"))
    val pw = Window.partitionBy(col("query_id")).orderBy(
      cosine(col("qq"), col("cent_q")).desc, col("cent_id").asc)
    val probes = qs.crossJoin(broadcast(ivfCents))
      .withColumn("__cr", row_number().over(pw))
      .filter(col("__cr") <= nprobe)
      .select(col("query_id"), col("cent_id").as("cent"),
        zip_with(col("qq"), col("cent_q"), (a, b) => a - b).as("rq"))
    val qsub = probes.select(col("query_id"), col("cent"),
      posexplode(transform(sequence(lit(0), lit(m - 1)),
        i => slice(col("rq"), i * dsub + 1, lit(dsub)))).as(Seq("sub", "sq")))
    val probeMaps = qsub.join(broadcast(denseBook), Seq("sub"))
      .select(col("query_id"), col("cent"),
        (col("sub") * kSub + col("code_ix")).cast("int").as("slot"),
        l2q(col("sq"), col("cent_q")).as("d"))
      .groupBy(col("query_id"), col("cent"))
      .agg(map_from_entries(collect_list(struct(col("slot"), col("d"))))
        .as("dmap"))
    val scored = ivfCodes.join(broadcast(probeMaps), Seq("cent"))
      .filter(col("nn_id") =!= col("query_id"))
      .select(col("query_id"), col("nn_id"),
        aggregate(
          zip_with(col("codes"), sequence(lit(0), lit(m - 1)),
            (c, i) => element_at(col("dmap"), (i * kSub + c).cast("int"))),
          lit(0L), (acc, x) => acc + x).as("adc_dist"))
    scored.groupBy(col("query_id"))
      .agg(graft.catalyst.MinKPairsAgg(col("adc_dist"), col("nn_id"), k)
        .as("top"))
      .select(col("query_id"), posexplode(col("top")).as(Seq("p", "pair")))
      .select(col("query_id"), col("pair.id").as("nn_id"),
        col("pair.v").as("adc_dist"), (col("p") + 1).cast("int").as("rk"))
  }

  /** SCALAR (int8) quantization build — the 4× point on the
    * dense-serving compression spectrum (PQ is the 32× point with ADC
    * error; SQ8 keeps per-dimension resolution so symmetric distances
    * track exact ranks much more closely). Per-dimension affine map over
    * the micro-quantized longs: `code_d = floor((x_d − lo_d)·255 /
    * max(hi_d − lo_d, 1))` ∈ [0, 255] — exact integer arithmetic both
    * engines replay (the numerator stays < 2^53, so the floor of the
    * IEEE quotient equals integer floor-division). The bounds come from
    * ONE min/max aggregate (an O(dim) driver carry, the Lloyd-barrier
    * discipline) and the encode itself is SCAN-LOCAL — no shuffle at
    * any corpus size. Returns (bounds `(pos, lo, hi)` — the dim-row
    * stored artifact, codes `(nn_id, codes array<int>)` — 1 byte/dim at
    * rest). */
  def sq8Build(corpus: DataFrame, idCol: String, vecCol: String,
               dim: Int = 64): (DataFrame, DataFrame) = {
    val qb = corpus.select(col(idCol).as("nn_id"), qvecPq(col(vecCol)).as("q"))
    val bounds = qb.select(posexplode(col("q")).as(Seq("pos", "v")))
      .groupBy(col("pos"))
      .agg(min(col("v")).as("lo"), max(col("v")).as("hi"))
    val rows = bounds.orderBy(col("pos")).collect()
    require(rows.length == dim,
      s"sq8Build: expected $dim dimensions, saw ${rows.length}")
    val lo = rows.map(_.getLong(1)).toSeq
    val hi = rows.map(_.getLong(2)).toSeq
    val codes = qb.select(col("nn_id"), sq8Quantize(col("q"), lo, hi).as("codes"))
    (bounds, codes)
  }

  /** The scan-local SQ8 encoder: micro-quantized vector → int8 codes
    * against broadcast per-dimension bounds (as literal arrays — the
    * Column-expression twin of a broadcast variable). */
  private def sq8Quantize(v: Column, lo: Seq[Long], hi: Seq[Long]): Column = {
    val loC = typedLit(lo); val hiC = typedLit(hi)
    transform(sequence(lit(1), lit(lo.length)), i =>
      floor((element_at(v, i) - element_at(loC, i)).cast("double") * 255.0 /
          greatest(element_at(hiC, i) - element_at(loC, i), lit(1L))
            .cast("double"))
        .cast("int"))
  }

  /** SQ8 top-k serving: queries quantize against the SAME stored bounds
    * (symmetric quantization — both sides live in code space, so the
    * distance is an exact integer both engines replay), the codes scan
    * is brute-force but 4×-compressed and exchange-free (query codes
    * broadcast in), and ranks move as MinKPairsAgg heap partials —
    * O(queries × k) rows on the only shuffle. The 100 TB shape: this is
    * the un-pruned baseline PQ/IVF refine; it exists because at modest
    * corpus sizes (or as a re-rank stage) SQ8's rank fidelity beats
    * ADC's and its scan cost is still 4× under raw. */
  def sq8TopK(bounds: DataFrame, codes: DataFrame, queries: DataFrame,
              idCol: String, vecCol: String, k: Int,
              dim: Int = 64): DataFrame = {
    val rows = bounds.orderBy(col("pos")).collect()
    require(rows.length == dim,
      s"sq8TopK: bounds table has ${rows.length} rows, expected $dim")
    val lo = rows.map(_.getLong(1)).toSeq
    val hi = rows.map(_.getLong(2)).toSeq
    val qs = queries.select(col(idCol).as("query_id"),
      sq8Quantize(qvecPq(col(vecCol)), lo, hi).as("qc"))
    val scored = codes.crossJoin(broadcast(qs))
      .filter(col("nn_id") =!= col("query_id"))
      .select(col("query_id"), col("nn_id"),
        aggregate(zip_with(col("qc"), col("codes"),
            (a, b) => (a - b).cast("long") * (a - b).cast("long")),
          lit(0L), (acc, x) => acc + x).as("sq_dist"))
    scored.groupBy(col("query_id"))
      .agg(graft.catalyst.MinKPairsAgg(col("sq_dist"), col("nn_id"), k)
        .as("top"))
      .select(col("query_id"), posexplode(col("top")).as(Seq("p", "pair")))
      .select(col("query_id"), col("pair.id").as("nn_id"),
        col("pair.v").as("sq_dist"), (col("p") + 1).cast("int").as("rk"))
  }

  /** TWO-STAGE dense serving: IVFADC recall feeding an EXACT re-rank of
    * the survivors — the production recipe for closing PQ's
    * quantization-error gap (Jégou et al. 2011 §V evaluates exactly this
    * refinement step). Stage 1 keeps `rerankR ≥ k` candidates per query
    * from the compressed codes scan (never touching a raw vector);
    * stage 2 reads raw vectors for ONLY those candidates: the
    * O(queries × R) candidate set BROADCASTS into the raw-vector scan
    * (no corpus-side exchange — plan-asserted in the gate), distances
    * are the exact integer squared-L2 in micro space, and final ranks
    * move as MinKPairsAgg heap partials. At 100 TB the raw-vector read
    * is R/|corpus| of a brute-force pass and column-pruned to (id, vec),
    * which is why serving systems run recall wide and rank narrow. */
  def ivfAdcRerankTopK(ivfCents: DataFrame, denseBook: DataFrame,
                       ivfCodes: DataFrame, corpus: DataFrame,
                       queries: DataFrame, idCol: String, vecCol: String,
                       k: Int, rerankR: Int, nprobe: Int = 4, m: Int = 8,
                       kSub: Int = 16, dim: Int = 64): DataFrame = {
    require(rerankR >= k, s"ivfAdcRerankTopK: rerankR=$rerankR < k=$k")
    val cands = ivfAdcQuery(ivfCents, denseBook, ivfCodes, queries, idCol,
        vecCol, rerankR, nprobe, m, kSub, dim)
      .select(col("query_id"), col("nn_id"))
    val vecs = corpus
      .select(col(idCol).as("nn_id"), qvecPq(col(vecCol)).as("nq"))
      .join(broadcast(cands), Seq("nn_id"))
    val exact = vecs.join(
        broadcast(queries.select(col(idCol).as("query_id"),
          qvecPq(col(vecCol)).as("qq"))),
        Seq("query_id"))
      .select(col("query_id"), col("nn_id"),
        l2q(col("qq"), col("nq")).as("exact_dist"))
    exact.groupBy(col("query_id"))
      .agg(graft.catalyst.MinKPairsAgg(col("exact_dist"), col("nn_id"), k)
        .as("top"))
      .select(col("query_id"), posexplode(col("top")).as(Seq("p", "pair")))
      .select(col("query_id"), col("pair.id").as("nn_id"),
        col("pair.v").as("exact_dist"), (col("p") + 1).cast("int").as("rk"))
  }

  /** Encode vectors against a FROZEN dense codebook — the arrival-time
    * counterpart of [[pqBuild]] (which trains): a per-partition JVM loop
    * over a driver-collected codebook (m·kSub·dsub longs — KBs; the
    * broadcast-variable production shape), so it is STATELESS and
    * composes unchanged into Structured Streaming: arriving vectors
    * encode in-flight and append their packed rows to the codes tap, the
    * q133 maintenance discipline applied to the PQ index. Arithmetic is
    * the exact integer chain of the build (floor(x·1e6) micros, integer
    * squared-L2, (dist, cent_id) tie-break — dense code_ix order IS
    * cent_id order, so tie-breaking on code_ix is identical), which the
    * gate's oracle replays. Output (nn_id, codes array<int>) — the
    * packed layout [[pqPackCodes]] stores. */
  def pqEncodeWithBook(df: DataFrame, denseBook: DataFrame, idCol: String,
                       vecCol: String, m: Int = 8, kSub: Int = 16,
                       dim: Int = 64): DataFrame = {
    import org.apache.spark.sql.types._
    val dsub = dim / m
    // (sub → sorted-by-code_ix array of centroid subvectors); collected
    // once at plan time and closed over — the broadcast shape
    val book: Array[Array[Array[Long]]] = {
      val bySub = Array.fill(m)(
        scala.collection.mutable.ArrayBuffer.empty[(Int, Array[Long])])
      denseBook.select(col("sub"), col("code_ix"), col("cent_q")).collect()
        .foreach { r =>
          bySub(r.getInt(0)) +=
            ((r.getInt(1), r.getSeq[Long](2).toArray))
        }
      bySub.map(_.sortBy(_._1).map(_._2).toArray)
    }
    require(book.forall(_.nonEmpty),
      "pqEncodeWithBook: codebook is missing a subspace")
    val schema = StructType(Seq(
      StructField("nn_id", df.schema(idCol).dataType),
      StructField("codes", ArrayType(IntegerType, containsNull = false))))
    val enc = org.apache.spark.sql.Encoders.row(schema)
    val idIdx = df.columns.indexOf(idCol)
    val vIdx = df.columns.indexOf(vecCol)
    df.mapPartitions { it =>
      it.map { row =>
        val vec = row.getSeq[Float](vIdx)
        val q = new Array[Long](dim)
        var i = 0
        while (i < dim && i < vec.length) {
          q(i) = math.floor(vec(i).toDouble * 1e6).toLong; i += 1
        }
        val codes = new Array[Int](m)
        var sub = 0
        while (sub < m) {
          val cands = book(sub)
          var best = 0; var bestD = Long.MaxValue
          var c = 0
          while (c < cands.length) {
            val cq = cands(c)
            var d = 0L; var j = 0
            while (j < dsub) {
              val x = q(sub * dsub + j) - cq(j); d += x * x; j += 1
            }
            if (d < bestD) { bestD = d; best = c } // ties: first (lowest ix)
            c += 1
          }
          codes(sub) = best
          sub += 1
        }
        org.apache.spark.sql.Row(row.get(idIdx), codes.toSeq)
      }
    }(enc)
  }

  /** Recall@k audit of the TWO IVFADC encodings against exact brute
    * force — the measurement that justifies (or refutes) residual
    * encoding on YOUR corpus: the paper's recall win comes from
    * residual concentration, which a corpus can lack (e.g. one whose
    * clusters are tight already). Shares ONE deterministic coarse
    * quantizer across variants (both builds replay the same Lloyd);
    * hits are exact integer counts, recall in integer micros — the
    * q189 audit discipline applied to the compressed-domain paths.
    * Output one row per variant: (variant, hits, total, recall_micros).
    * An AUDIT job (brute-force leg = queries × corpus): run on a
    * sampled probe set at index-refresh cadence, not in serving. */
  def adcRecallAudit(corpus: DataFrame, queries: DataFrame, idCol: String,
                     vecCol: String, k: Int, nlist: Int = 16,
                     ivfIters: Int = 2, m: Int = 8, kSub: Int = 16,
                     pqIters: Int = 2, dim: Int = 64,
                     nprobe: Int = 4): DataFrame = Frames { f =>
    val exact = f.persist(bruteForceKnn(corpus, queries, idCol, vecCol, k)
      .select(col("query_id"), col("nn_id")))
    val (ivfCents, listsLazy) = ivfKMeansBuild(corpus, idCol, vecCol, nlist,
      ivfIters)
    // both variants consume the inverted lists (raw codes join + residual
    // encode): materialize the assignment aggregate once instead of once
    // per reference (lazy checkpoint — the q189 annRecallAudit discipline)
    val lists = f.lazily(listsLazy)
    val (pqCents, rawCodes) = pqBuild(corpus, idCol, vecCol, m, kSub,
      pqIters, dim)
    val rawBook = pqDenseCodebook(pqCents)
    val rawIvfCodes = lists.select(col("nn_id"), col("cent"))
      .join(pqPackCodes(rawCodes, rawBook), Seq("nn_id"))
    val raw = ivfAdcQuery(ivfCents, rawBook, rawIvfCodes, queries, idCol,
      vecCol, k, nprobe, m, kSub, dim)
    // the residual build shares the raw variant's coarse quantizer BY
    // REFERENCE (r17; it previously re-ran the same deterministic IVF —
    // bit-identical, so handing it the built (cents, lists) changes
    // nothing downstream and drops one full Lloyd run from the audit)
    val (rCents, rBook, rCodes) = ivfPqResidualBuild(corpus, idCol, vecCol,
      nlist, ivfIters, m, kSub, pqIters, dim,
      prebuiltIvf = Some((ivfCents, lists)))
    val res = ivfPqResidualQuery(rCents, rBook, rCodes, queries, idCol,
      vecCol, k, nprobe, m, kSub, dim)
    val hits = Seq("raw" -> raw, "residual" -> res).map { case (name, df) =>
      df.select(col("query_id"), col("nn_id"))
        .join(exact, Seq("query_id", "nn_id"))
        .agg(count(lit(1)).as("__h"))
        .select(lit(name).as("variant"), col("__h"))
    }.reduce(_ unionByName _)
    val total = exact.agg(count(lit(1)).as("total"))
    // eager: the 2-row result is materialized so the scope releases the
    // exact leg and the shared lists frame here (the annRecallAudit
    // discipline)
    f.result(hits.crossJoin(broadcast(total))
      .select(col("variant"), col("__h").as("hits"), col("total"))
      .withColumn("recall_micros", expr("hits * 1000000 div total")))
  }

  /** Pairwise affinity between group centroids: exact int64 dot product
    * (micros² units) plus each side's squared norm, from which cosine is
    * derivable downstream without losing exactness here. All pairs over
    * the O(groups × dim) centroid table — groups are few; this never
    * touches the corpus again. Headroom: |c| ≤ 1e6-scale micros ⇒ a
    * dot term ≤ ~1e12·dim — int64-safe through dim ~10⁶. */
  def centroidAffinity(centroids: DataFrame): DataFrame = {
    val l = centroids.toDF("grp_a", "pos", "ca")
    val r = centroids.toDF("grp_b", "pos", "cb")
    val norms = centroids.groupBy(col("grp").as("g"))
      .agg(sum(col("c_micros") * col("c_micros")).as("norm2"))
    l.join(r, Seq("pos"))
      .filter(col("grp_a") < col("grp_b"))
      .groupBy("grp_a", "grp_b")
      .agg(sum(col("ca") * col("cb")).as("dot_u"))
      .join(norms.toDF("grp_a", "norm2_a"), "grp_a")
      .join(norms.toDF("grp_b", "norm2_b"), "grp_b")
      .select(col("grp_a"), col("grp_b"), col("dot_u"),
        col("norm2_a"), col("norm2_b"))
  }
}
