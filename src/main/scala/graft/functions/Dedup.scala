package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import TextAnalysis.{tokens, tokenHash}
import graft.exec.{Frames, PlanContract}
import graft.exec.PlanContract.{BucketedScan, ExchangeOn}

/** Deduplication operators for training-data pipelines: exact, MinHash+LSH,
  * SimHash, and n-gram Jaccard.
  *
  * Scale design: signatures are per-row Column expressions (one scan, no
  * shuffle); the only shuffles are (a) the groupBy on content hash for exact
  * dedup and (b) the groupBy on LSH band keys — both on keys with
  * near-uniform hash distribution, so no skew. Candidate pairing happens
  * within LSH buckets only (never an all-pairs product), which is what keeps
  * near-dup detection tractable at 100 TB.
  */
object Dedup {

  /** Canonical text normalization: trim, lowercase, collapse whitespace. */
  def normText(text: Column): Column =
    lower(regexp_replace(trim(text), "\\s+", " "))

  /** Content hash for exact dedup. */
  def contentHash(text: Column): Column = md5(normText(text))

  /** Exact dedup: one row per distinct content hash with the surviving
    * (minimum) id and the duplicate count. */
  def exactDedup(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.groupBy(contentHash(col(textCol)).as("content_hash"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_dups"))

  /** MinHash parameters: k permutations hᵢ(x) = (aᵢ·x + bᵢ) mod P over
    * 31-bit token hashes. a,b are small deterministic constants so any SQL
    * engine reproduces the signature. */
  val P: Long = graft.catalyst.MinHashSig.P // 2^31-1 (Mersenne prime)
  def aCoef(i: Int): Long = graft.catalyst.MinHashSig.aCoef(i)
  def bCoef(i: Int): Long = graft.catalyst.MinHashSig.bCoef(i)

  /** One MinHash component: min over distinct tokens of hᵢ(tokenHash mod P). */
  def minhashComponent(text: Column, i: Int): Column = {
    val toks = array_distinct(tokens(text))
    array_min(transform(toks,
      t => (tokenHash(t) % P * aCoef(i) + bCoef(i)) % P))
  }

  /** Full k-component signature as one array column — the one-pass native
    * `MinHashSig` expression (each token hashed once, zero intermediate
    * arrays; duplicates need no dedup since they cannot change a minimum). */
  def minhashSignature(text: Column, k: Int): Column =
    graft.catalyst.MinHashSig(tokens(text), k)

  /** WIDE (61-bit) signature — [[graft.catalyst.MinHashSig61]]: 60-bit
    * token hashes permuted mod P₆₁ = 2⁶¹−1. The narrow form's
    * `md5₄₀(t) mod P₃₁` reduction makes two tokens congruent mod 2³¹−1
    * IDENTICAL in every permutation — a ~2³¹-birthday channel by which a
    * single token collision can equate band keys of unrelated docs and
    * chain false near-dup families at corpus scale. Band rows persisted
    * from wide signatures move that bound to ~2⁶¹. */
  def minhashSignatureWide(text: Column, k: Int): Column =
    graft.catalyst.MinHashSig61(tokens(text), k)

  /** LSH band key for band b over `rowsPerBand` signature components,
    * joined as a string (engine-portable; int64 packing overflows past two
    * 31-bit components). */
  def bandKey(sig: Column, band: Int, rowsPerBand: Int): Column =
    concat_ws(",", (0 until rowsPerBand).map(r =>
      element_at(sig, band * rowsPerBand + r + 1)): _*)

  /** MinHash-LSH candidate pairs: ids sharing any band bucket.
    * Shuffle profile: one exchange on (band, key); bucket sizes are bounded
    * by near-duplicate cluster sizes, not corpus size. */
  def minhashCandidatePairs(df: DataFrame, idCol: String, textCol: String,
                            k: Int = 16, bands: Int = 4): DataFrame = {
    val br = bandRows(df, idCol, textCol, k, bands)
    val l = br.as("l"); val r = br.as("r")
    l.join(r, col("l.band") === col("r.band") && col("l.key") === col("r.key")
        && col("l.id") < col("r.id"))
      .select(col("l.id").as("id1"), col("r.id").as("id2"))
      .distinct()
  }

  /** SimHash (32-bit): bit j is set when the frequency-weighted sum of
    * ±1 contributions from token-hash bit j is positive. One-pass native
    * kernel (each token hashed once, 32 running counters). */
  def simhash32(text: Column): Column =
    graft.catalyst.SimHash32(tokens(text))

  /** Hamming distance between two simhash values. */
  def hamming(a: Column, b: Column): Column =
    bit_count(a.bitwiseXOR(b))

  /** Word n-gram shingles (order-preserving) — one-pass native kernel. */
  def shingles(text: Column, n: Int): Column =
    graft.catalyst.Shingles(tokens(text), n)

  /** n-gram Jaccard similarity ×1e6 as exact integer (set semantics). */
  def jaccardMicros(a: Column, b: Column): Column = {
    val sa = array_distinct(a); val sb = array_distinct(b)
    val inter = size(array_intersect(sa, sb)).cast("long")
    val uni = size(array_union(sa, sb)).cast("long")
    // floor() before the cast: Spark's cast truncates but DuckDB's rounds;
    // floor is identical on both (operands are exact in double range)
    floor(inter * 1000000L / greatest(uni, lit(1L))).cast("bigint")
  }

  /** Band rows `(id, band, key)` — the LSH explode shared by the pairing,
    * clustering, and incremental paths. Public as the INDEX ROW layout:
    * persist this table bucketed by (band, key) — [[bandIndexTap]] — and
    * it becomes the corpus-side near-dup index that daily batches join
    * with zero corpus-side shuffle.
    *
    * `wideHash` defaults TRUE for this persisted entry point (the 61-bit
    * MinHashSig61 signature): a stored 40-bit layout entrenches a
    * collision budget of ~2^20 docs — the sf1 sweep measured one narrow
    * collision chaining two unrelated families — and re-keying a 100 TB
    * index later costs a full rebuild. The narrow form stays reachable
    * (`wideHash = false`) as the oracle-mirroring reference; legacy
    * gates pin it explicitly. Batch-side queries must match the width
    * ([[incrementalNearDupsAgainstIndex]]). */
  def bandIndex(df: DataFrame, idCol: String, textCol: String,
                k: Int = 16, bands: Int = 4,
                wideHash: Boolean = true): DataFrame =
    bandRows(df, idCol, textCol, k, bands, wideHash)

  /** The tap a persisted band index is written through: bucketed by the
    * join key (band, key) so a later batch-vs-corpus join plans with NO
    * exchange on the corpus side (asserted in BucketingSpec and inside the
    * q127 gate query). Bucket count is the layout decision: size it so one
    * bucket ≈ one task of index rows at the target corpus scale. */
  def bandIndexTap(table: String, buckets: Int): graft.sources.BucketedTap =
    graft.sources.BucketedTap(table, buckets, Seq("band", "key"))

  private def bandRows(df: DataFrame, idCol: String, textCol: String,
                       k: Int, bands: Int,
                       wideHash: Boolean = false): DataFrame = {
    val rowsPerBand = k / bands
    val sig = if (wideHash) minhashSignatureWide(col(textCol), k)
              else minhashSignature(col(textCol), k)
    df.select(col(idCol).as("id"), sig.as("sig"))
      .select(col("id"), explode(array(
        (0 until bands).map(b =>
          struct(lit(b).as("band"), bandKey(col("sig"), b, rowsPerBand).as("key"))): _*
      )).as("bk"))
      .select(col("id"), col("bk.band").as("band"), col("bk.key").as("key"))
  }

  /** MinHash-LSH cluster assignment: each id maps to the minimum id sharing
    * any band bucket (its canonical representative). Unlike the all-pairs
    * candidate emission this stays LINEAR in bucket population — the form
    * that survives a near-dup-dense 100 TB corpus: per-bucket min (one
    * shuffle), then per-id min over its buckets (second shuffle). */
  def minhashClusters(df: DataFrame, idCol: String, textCol: String,
                      k: Int = 16, bands: Int = 4): DataFrame = {
    // cache: the band table is consumed by two plan branches and Catalyst
    // does not share subplans across branches — without this the md5
    // signature computation (and the corpus scan under it) runs twice.
    // Band rows are (id, band, key): tiny relative to the corpus.
    // caller-owned: the returned DataFrame reads this cache
    val br = bandRows(df, idCol, textCol, k, bands).cache()
    val bucketMin = br.groupBy(col("band"), col("key"))
      .agg(min(col("id")).as("bucket_min"))
    br.join(bucketMin, Seq("band", "key"))
      .groupBy(col("id"))
      .agg(min(col("bucket_min")).as("canonical_id"))
  }

  /** Transitive MinHash clusters — the semantics real dedup pipelines
    * assume: connected components over the id–bucket bipartite graph, so
    * two near-dups sharing no band but both sharing one with a third doc
    * land in the SAME cluster (single-hop `minhashClusters` puts them in
    * different ones). Iterated min-label propagation:
    *
    *   labels⁰(id) = id
    *   bucketᵗ(b)  = min over members of labelsᵗ⁻¹     (one shuffle)
    *   labelsᵗ(id) = min over id's buckets of bucketᵗ  (one shuffle)
    *
    * converging in O(component diameter) rounds — near-dup components are
    * shallow (a hub doc shares a band with most members), so 3–5 rounds in
    * practice. 100 TB profile: the band table is computed once and cached
    * (tiny relative to the corpus: (id, band, key) × bands); each round is
    * two hash-aggregate shuffles on near-uniform keys plus one driver-side
    * convergence count over cached relations; no all-pairs product
    * anywhere. Returns (id, cluster_id = component-min id). */
  def minhashClustersTransitive(df: DataFrame, idCol: String, textCol: String,
                                k: Int = 16, bands: Int = 4,
                                maxIters: Int = 30,
                                wideHash: Boolean = false): DataFrame =
    minhashClustersTransitiveStats(df, idCol, textCol, k, bands, maxIters,
      wideHash)._1

  /** As [[minhashClustersTransitive]], also returning the number of
    * propagation rounds run (the convergence counter: strictly less than
    * `maxIters` iff the labels reached a fixed point). The returned frame
    * reads the last round's checkpointed labels, which the caller owns
    * (the [[Frames]] ownership rule). */
  def minhashClustersTransitiveStats(df: DataFrame, idCol: String, textCol: String,
                                     k: Int = 16, bands: Int = 4,
                                     maxIters: Int = 30,
                                     wideHash: Boolean = false): (DataFrame, Int) =
    transitiveClustersOver(
      bandRows(df, idCol, textCol, k, bands, wideHash), maxIters)

  /** Min-label propagation to a fixed point over ANY (id, band, key)
    * bucket-membership table — the connected-components engine behind
    * [[minhashClustersTransitive]] (band rows) and
    * [[winnowClustersTransitive]] (fingerprint rows): two docs land in
    * one cluster iff a chain of shared buckets connects them.
    *
    * SEED CONTRACT (normative): with the default `validateSeeds = true`,
    * every seed label that itself appears as a node id in `rows` must
    * share at least one DIRECT (band, key) bucket with its seeded node —
    * i.e. the caller must add an explicit membership row linking the
    * seed label to its node's bucket. A label connected only
    * TRANSITIVELY (reachable through other nodes but no shared bucket)
    * is rejected with IllegalArgumentException even though propagation
    * from it would reach a correct fixed point: the validator cannot
    * distinguish that case from a wrong-component seed (which ships
    * silently wrong labels) without running the propagation it guards.
    * Callers whose construction proves transitive connectivity opt out
    * with `validateSeeds = false` — the relaxed requirement is then only
    * that each in-rows seed label be in the SAME component as its node.
    *
    * Returns the last round's (id, cluster_id) frame itself, caller-owned
    * (the [[Frames]] ownership rule): a caller that materializes its own
    * result eagerly can `adopt` it and release it with its scope. */
  def transitiveClustersOver(rows: DataFrame,
                             maxIters: Int = 30,
                             requireConvergence: Boolean = true,
                             seeds: Option[DataFrame] = None,
                             validateSeeds: Boolean = true)
      : (DataFrame, Int) = Frames { f =>
    // LAZY localCheckpoint, not a bare persist (r16, guide §7.3 "driver
    // thread dumps → Optimizer"): a persisted frame keeps its FULL logical
    // plan, and every round's action re-analyzes and re-optimizes that
    // tree (the caller's rows lineage — co-occurrence self-joins, index
    // scans, unions — appears once per br reference in every round's
    // plan). The event-log profile of q253 measured 28.5 s of a 52 s run
    // in DRIVER gaps between jobs, one 11 s planning pause per early
    // round. Checkpointing truncates br to a LogicalRDD: the blocks
    // materialize on the same first action that used to populate the
    // cache, and every round now plans against a leaf. The scope
    // releases the blocks on every exit path ([[Frames]]).
    //
    // r17 (guide §2.4 remove shuffles outright): the loop joins the edge
    // table TWICE per round — by id (labels hop) and by (band, key)
    // (bucket hop) — and a bare checkpoint leaves it unpartitioned, so
    // every round re-exchanged the FULL edge table on both keys (2 ×
    // rounds edge shuffles; the label-table sides are O(nodes), an order
    // smaller). Materialize the edges ONCE PER JOIN KEY instead: each
    // copy hash-partitioned to the session shuffle-partition count
    // (explicit numPartitions — a REPARTITION_BY_NUM shuffle AQE never
    // re-coalesces, so the alignment can't drift) and sorted within
    // partitions on its join key. A checkpointed Dataset captures the
    // physical outputPartitioning AND outputOrdering in its LogicalRDD,
    // so every round's sort-merge join consumes the edge side with NO
    // exchange and NO per-round sort; only the label-sized sides and the
    // two partial-min aggregates shuffle. (AQE cannot coalesce the
    // per-round ENSURE_REQUIREMENTS exchanges against these leaves
    // either: a plan fragment with a non-stage leaf is skipped by
    // CoalesceShufflePartitions — plan-asserted in PlanAuditSpec.)
    // Upfront cost: two edge shuffles once; saving: two edge exchanges
    // + one edge-side sort per round, rounds = O(log diameter) (19
    // measured at sf0.1 for q186). The second copy derives from the
    // first, so the caller's `rows` lineage is still evaluated once.
    // SCALE-ADAPTIVE partition count (guide §2): the loop's exchanges are
    // sized to the EDGE TABLE, not the session constant — the LogicalRDD
    // leaves below pin every per-round fragment's partition count (AQE
    // cannot re-coalesce against a non-stage leaf), so using the session
    // setting directly would pay rounds × shufP near-empty tasks on a
    // small subgraph (measured: q186 12.3 → 18.8 s at sf0.1 with P=32
    // pinned). ~1M edge rows per partition ≈ 100 MB — the guide's
    // partition-size band — capped by the session setting, which a
    // cluster deployment sizes to its scale. The count action doubles as
    // the materialization the labels⁰ action used to perform.
    val br0 = f.lazily(rows)
    val edgeRows = br0.count()
    val targetRowsPerPart = 1000000L
    val shufP = rows.sparkSession.sessionState.conf.numShufflePartitions
    val loopP = math.max(1L, math.min(shufP.toLong,
      (edgeRows + targetRowsPerPart - 1L) / targetRowsPerPart)).toInt
    val br = f.partitioned(br0, loopP, col("id"))
    val brByBucket = f.partitioned(br, loopP, col("band"), col("key"))
    // SEED-CONTRACT ENFORCEMENT (one bounded pre-flight action, O(subgraph)
    // joins on uniform keys): the documented contract below was previously
    // trust-based — a caller whose seed label names an in-rows node of a
    // DIFFERENT component gets silently wrong labels (the sum stays
    // monotone, so the convergence guard cannot catch it). Check the cheap
    // sufficient condition a seeding construction must guarantee: every
    // seed label that itself appears as a node id in
    // `rows` shares at least one (band, key) bucket with its seeded node.
    // Labels absent from `rows` are fine (chasing them is a no-op).
    // `validateSeeds = false` opts out for callers with a proven-by-
    // construction seed set on very large subgraphs.
    seeds.filter(_ => validateSeeds).foreach { sd =>
      val nodeIds = br.select(col("id")).distinct()
      // only seeds whose id IS a node can mislead the propagation — a
      // seed for an absent id never enters labels⁰ and is a harmless
      // no-op whatever its label names
      val s0 = sd.select(col("id"), col("label"))
        .filter(col("label") =!= col("id"))
        .join(nodeIds, Seq("id"), "left_semi")
      val labelNodes = nodeIds.select(col("id").as("label"))
      val sharedBucket = s0
        .join(br.select(col("id"), col("band"), col("key")), Seq("id"))
        .join(br.select(col("id").as("label"), col("band"), col("key")),
          Seq("label", "band", "key"), "left_semi")
        .select(col("id"), col("label")).distinct()
      // after the left_anti on Seq("id","label") the using keys lead in
      // usingColumns order: get(0) = id, get(1) = label
      val bad = s0.join(labelNodes, Seq("label"), "left_semi")
        .join(sharedBucket, Seq("id", "label"), "left_anti")
        .select(col("id"), col("label"))
        .limit(1).collect()
      if (bad.nonEmpty) throw new IllegalArgumentException(
        s"transitiveClustersOver: seed (id=${bad.head.get(0)}, " +
          s"label=${bad.head.get(1)}) violates the seed contract — the " +
          "label names a node of `rows` but shares no (band, key) bucket " +
          "with its seeded node; propagation would chase it as if " +
          "reachable and could ship wrong labels silently. Add an " +
          "explicit (band, key) membership row linking the seed label " +
          "to its node's bucket, or drop the seed.")
    }
    // labels⁰: each node's own id, unless `seeds` (id, label) carries a
    // prior assignment — the incremental-maintenance entry point, where
    // corpus nodes start at their persisted family label and only the
    // arriving docs start fresh. Min propagation is monotone from ANY
    // initial labeling, so the sum-based convergence check is unchanged.
    // SEED CONTRACT (required by the pointer-jumping shortcut below,
    // which chases label values as if they named reachable nodes): every
    // seed label must either be absent from `rows` entirely, or be
    // connected to its seeded node by an explicit (band, key) membership
    // row the caller adds. Unseeded runs satisfy this
    // trivially — a propagated label is always a real member's id.
    var labels = f.persist(seeds.fold(
      br.select(col("id")).distinct().withColumn("cluster_id", col("id"))) { sd =>
      br.select(col("id")).distinct()
        .join(sd.select(col("id"), col("label").as("__seed")), Seq("id"), "left")
        .select(col("id"), coalesce(col("__seed"), col("id")).as("cluster_id"))
    })
    var iters = 0
    var converged = false
    // Convergence WITHOUT a per-round join: min-label propagation is
    // MONOTONE (a label can only decrease), so the labels are a fixed
    // point iff their exact sum is unchanged between rounds. The sum is a
    // decimal(38,0) aggregate over the new labels alone — it rides the
    // same action that materializes the round's cache, replacing the old
    // next-vs-previous count() join (one fewer join and its shuffle-read
    // per round). Seeded from labels⁰ (= ids) so a no-op first round is
    // detected exactly like the old join-based check; the seeding action
    // also materializes the labels cache before the loop.
    var prevSum: java.math.BigDecimal =
      labels.agg(sum(col("cluster_id").cast("decimal(38,0)"))).head.getDecimal(0)
    while (!converged && iters < maxIters) {
      // labels hop reads the id-partitioned copy, bucket hop the
      // (band, key)-partitioned copy — neither join exchanges or sorts
      // the edge side (r17, see the checkpoint comment above)
      val bucketLabel = br.join(labels, "id")
        .groupBy(col("band"), col("key"))
        .agg(min(col("cluster_id")).as("blabel"))
      var next = brByBucket.join(bucketLabel, Seq("band", "key"))
        .groupBy(col("id")).agg(min(col("blabel")).as("cluster_id"))
      // POINTER JUMPING (the Shiloach–Vishkin shortcut): after the bucket
      // hop, chase label ← min(label, label(label)) twice. Each chase is
      // a self-join of the LABEL table (O(docs), ≪ the edge table the
      // bucket hop shuffles), and it collapses chain distance
      // geometrically — measured rounds drop from the component diameter
      // (19 at sf0.1, 27 at the synthesized sf1) to ~6. Labels stay
      // monotone non-increasing and always name a node of the same
      // component, so the fixed point is unchanged (= component minima):
      // oracles compare the FINAL labels and are untouched, and the
      // monotone-sum convergence proof still holds — an unchanged sum
      // across the composite round means the bucket hop changed nothing,
      // which is exactly the bucket fixed point.
      // each chase SELF-JOINS the previous stage, so every stage must be
      // persisted — an uncached chain would re-evaluate the bucket hop
      // 2^jumps times (the same multi-reference lineage trap as
      // adaptiveBuckets); the single sum action below materializes the
      // whole chain with each stage computed exactly once
      var stages: List[DataFrame] = Nil
      next = f.persist(next)
      stages ::= next
      // ONE chase per round (r16; was 2): a single label(label) hop per
      // round is the classic pointer-jumping form and already gives the
      // O(log diameter) collapse for deep chains; the second chase never
      // reduced the measured round count on any gated graph (verified
      // with a knob sweep at sf0.1: rounds identical at 2/3/4 chases)
      // while paying one extra persist + self-join every round.
      for (_ <- 1 to 1) {
        val hop = next.select(col("id").as("__lid"),
          col("cluster_id").as("__ll"))
        next = f.persist(next
          .join(hop, col("cluster_id") === col("__lid"), "left")
          .select(col("id"), least(col("cluster_id"),
            coalesce(col("__ll"), col("cluster_id"))).as("cluster_id")))
        stages ::= next
      }
      // EVERY round ends in a (lazy) localCheckpoint: each self-join
      // references its input twice, so the logical plan grows 4× per
      // round — without a per-round LogicalRDD truncation the analyzed
      // plan string hits 2 GB by round 5 and OOMs the driver. The
      // checkpoint rides the same sum action that materializes the
      // round; the persisted jump stages are released right after.
      next = f.lazily(next)
      val sumNow = next.agg(sum(col("cluster_id").cast("decimal(38,0)")))
        .head.getDecimal(0)
      f.release(labels)
      stages.foreach(f.release)
      labels = next
      iters += 1
      // round 1's action has materialized brByBucket (the bucket hop
      // reads it), so the unpartitioned staging copy can go now — its
      // blocks would otherwise triple the edge footprint for the loop (a
      // no-op on later rounds: the scope no longer holds it)
      f.release(br0)
      // sums are null exactly when the frame is empty: empty input is a
      // trivially converged fixed point (the old join-count check agreed)
      converged =
        if (sumNow == null) prevSum == null
        else prevSum != null && prevSum.compareTo(sumNow) == 0
      prevSum = sumNow
    }
    // Directed failure on non-convergence: a component deeper than
    // maxIters hops (boilerplate families at corpus scale) would
    // otherwise ship WRONG cluster labels with no error — the one
    // silent-corruption path in the propagation engine. The monotone-sum
    // counter already proves the fixed point, so the guard is free.
    // requireConvergence=false opts a caller into inspecting the
    // (labels, iters) pair itself (iters < maxIters iff converged).
    if (requireConvergence && !converged) throw new IllegalStateException(
      s"transitiveClustersOver: label propagation did NOT reach its " +
        s"fixed point within maxIters=$maxIters rounds (labels were " +
        s"still changing at the last round). The component graph has a " +
        s"chain deeper than $maxIters hops; raise maxIters, or pass " +
        s"requireConvergence=false to receive the partial labels.")
    // the last round's (id, cluster_id) frame is the result: caller-owned
    (f.keep(labels), iters)
  }

  /** Transitive RUN-level dedup families: connected components over the
    * doc–winnow-fingerprint bipartite graph, restricted to fingerprints
    * shared by ≥ 2 docs (singleton hashes cannot connect anything and
    * would only inflate the propagation's bucket table). Two docs
    * cluster together iff a CHAIN of shared ≥(w+n−1)-token runs links
    * them — the boilerplate-family detector (page A shares a footer
    * with B, B shares a header with C ⇒ one family), positioned between
    * exact dedup (q24) and MinHash resemblance clusters (q64). Same
    * propagation engine and scale shape as q64: per-round uniform-key
    * aggregates, monotone-sum convergence, bounded label carry.
    *
    * Cost profile: the edge table is fingerprints-per-doc ×
    * shared-fraction — an order denser than q64's fixed 4 band rows per
    * doc, and each propagation round shuffles it twice, so this is a
    * by-design heavy pass (q133's cost class, ~6 s at sf0.1) run at
    * corpus-refresh cadence, not per batch; `w` trades run-length
    * guarantee against density (~2/(w+1) fingerprints per gram). */
  def winnowClustersTransitive(docs: DataFrame, idCol: String = "doc_id",
                               textCol: String = "text", n: Int = 4,
                               w: Int = 4, maxIters: Int = 30,
                               wideHash: Boolean = false)
      : DataFrame = Frames { f =>
    // distinct (id, h): a hash selected at several positions of one doc
    // is ONE membership edge (dups only inflate every propagation
    // round's bucket table); cached — two consumers (the shared-hash
    // aggregate and the edge join). The wide path is distinct per doc
    // already (kernel-level dedup) — no shuffle needed.
    val fp = f.persist(if (wideHash)
        winnowWide(docs, idCol, textCol, n, w)
          .select(col(idCol).as("id"), col("h"))
      else winnow(docs, idCol, textCol, n, w)
        .select(col(idCol).as("id"), col("h")).distinct())
    val shared = fp.groupBy(col("h"))
      .agg(count(lit(1)).as("__nd"))
      .filter(col("__nd") >= 2).select(col("h"))
    val rows = fp.join(shared, Seq("h"))
      .select(col("id"), lit(0).as("band"),
        col("h").cast("string").as("key"))
    // propagation materializes its own label frames (every round's
    // monotone-sum action), so the scope releases fp on return rather
    // than leaking a cached relation per invocation for the session
    val clustered = transitiveClustersOver(rows, maxIters)._1
    // docs with no shared fingerprint are their own singleton cluster
    docs.select(col(idCol).as("id")).join(clustered, Seq("id"), "left")
      .select(col("id"),
        coalesce(col("cluster_id"), col("id")).as("cluster_id"))
  }

  /** [[winnowClustersTransitive]] computed FROM the persisted winnow
    * index instead of re-winnowing the corpus: the refresh pass and the
    * index build share one fingerprint scan (the index rows ARE the
    * distinct (id, h) memberships). `allDocs` supplies the singleton
    * universe — docs with no shared fingerprint cluster as themselves. */
  def winnowClustersFromIndex(index: DataFrame, allDocs: DataFrame,
                              idCol: String = "doc_id",
                              maxIters: Int = 30): DataFrame = {
    // the index keeps one row per selected (id, pos, h) with pos dropped,
    // so (id, h) can repeat — distinct first or a hash selected at two
    // positions of ONE doc would pass the shared-by-≥2-docs filter
    val fp = index.select(col("id"), col("h")).distinct()
    val shared = fp.groupBy(col("h"))
      .agg(count(lit(1)).as("__nd"))
      .filter(col("__nd") >= 2).select(col("h"))
    val rows = fp.join(shared, Seq("h"))
      .select(col("id"), lit(0).as("band"),
        col("h").cast("string").as("key"))
    val clustered = transitiveClustersOver(rows, maxIters)._1
    allDocs.select(col(idCol).as("id")).join(clustered, Seq("id"), "left")
      .select(col("id"),
        coalesce(col("cluster_id"), col("id")).as("cluster_id"))
  }

  /** Incremental winnow-family MAINTENANCE — the q133 append discipline
    * applied to [[winnowClustersTransitive]], so the corpus-refresh pass
    * stops being the only way to label arriving docs: each batch doc
    * adopts a family by propagating over the SUBGRAPH its fingerprints
    * touch. Corpus membership rows come from the PERSISTED winnow index
    * restricted to the batch's hashes (the index is bucketed by h —
    * corpus side plans with no exchange), projected to one FAMILY-REP
    * row per touched (family, hash); min-label propagation runs to its
    * fixed point over this O(batch × match-density) subgraph of batch
    * nodes + family reps — never the corpus (see the in-body
    * equivalence proof).
    *
    * Exactly the full refresh's answer for the batch EXCEPT when a batch
    * doc bridges two existing families whose other members the batch
    * never touches: the propagation then reports the merged (min) label
    * for every node it can reach, but corpus members OUTSIDE the
    * subgraph keep their old label until the next full refresh — the
    * documented incremental/refresh contract (same as the band-index
    * arrival path q130/q133). Returns (id, family_id) for batch docs;
    * docs sharing no fingerprint run are their own singleton family.
    * n, w AND hash width must match the index build AND the refresh
    * propagation (a narrow batch against a wide index joins on disjoint
    * domains and silently adopts nothing).
    *
    * `wideHash` defaults TRUE (the [[bandIndex]] rationale): this path
    * consumes a PERSISTED index, and a stored 40-bit layout entrenches a
    * ~2^20-doc collision budget — the sf1 sweep measured ONE narrow
    *  winnow collision bridging two families and pushing propagation
    * depth 19 → 27. Narrow stays reachable for legacy 40-bit indexes
    * and the oracle-mirroring gates (q187 pins it explicitly). */
  def winnowFamiliesIncremental(corpusIndex: DataFrame,
                                corpusFamilies: DataFrame,
                                batch: DataFrame, idCol: String,
                                textCol: String, n: Int = 4, w: Int = 8,
                                maxIters: Int = 8,
                                assertBucketScan: Boolean = false,
                                wideHash: Boolean = true): DataFrame = {
    // wideHash must match the index build's width (see
    // [[winnowMatchesAgainstIndex]]); wide batch fingerprints are
    // distinct per doc already — the adopt core's distinct dedups either
    val fps = if (wideHash)
        winnowWide(batch, idCol, textCol, n, w)
          .select(col(idCol).as("id"), col("h"))
      else winnow(batch, idCol, textCol, n, w)
        .select(col(idCol).as("id"), col("h"))
    winnowFamiliesAdopt(corpusIndex, corpusFamilies, fps,
      batch.select(col(idCol).as("id")), maxIters, assertBucketScan)
  }

  /** The adoption CORE of [[winnowFamiliesIncremental]], over
    * PRECOMPUTED batch fingerprints (id, h) — the entry point for
    * arrival paths that fingerprint elsewhere (e.g. IN-STREAM, where the
    * scan-shaped winnowing rides the micro-batches and this iterative
    * fixed point runs once over the accumulated arrivals at adoption
    * cadence). `batchIds` supplies the singleton universe: docs with no
    * fingerprint row are their own one-doc family. */
  def winnowFamiliesAdopt(corpusIndex: DataFrame,
                          corpusFamilies: DataFrame,
                          batchFps: DataFrame, batchIds: DataFrame,
                          maxIters: Int = 8,
                          assertBucketScan: Boolean = false)
      : DataFrame = Frames { f =>
    val bfp = f.persist(batchFps.select(col("id"), col("h")).distinct())
    // corpus memberships on touched hashes only: a LEFT SEMI of the index
    // against the batch hashes — h is the index's bucket column, so the
    // corpus side plans with no exchange and the (small) batch-hash side
    // exchanges exactly once (a pre-distinct would cost a second
    // h-exchange to re-align with the bucket count; semi join needs none).
    // The merge hint keeps that shape at every batch size.
    val cmRaw = corpusIndex
      .join(bfp.select(col("h")).hint("merge"), Seq("h"), "leftsemi")
      .select(col("id").as("corpus_id"), col("h"))
    // the q180 plan discipline, asserted in-query: corpus side must be
    // the bucket-aware index scan; only the touched-hash side may
    // exchange on h
    if (assertBucketScan) PlanContract(
      ExchangeOn("h").exactly(1,
        "incremental maintenance must shuffle ONLY the touched hashes"),
      BucketedScan.present("corpus side must be the bucket-aware index scan")
    ).check(cmRaw)
    // FAMILY-REP REDUCTION (r16 optimization, guide §2.3/§2.4 — shuffle
    // fewer bytes per propagation round): the only role corpus-side rows
    // play in the adopt subgraph is linking batch hashes to FAMILIES —
    // a corpus-corpus h-edge is always intra-family (corpusFamilies is
    // the fixed point over exactly those edges), i.e. redundant with
    // family membership. So instead of one propagation row per touched
    // MEMBER (plus a band-1 family bucket and a seed per member — the
    // pre-r16 shape), project each touched (member, h) to its family and
    // keep one (family_id, h) row per distinct pair. The propagation
    // then runs UNSEEDED over batch nodes + family-rep nodes:
    //   fixed point = min over each component of {batch ids ∪ family
    //   ids} — exactly the seeded member-level fixed point (same initial
    //   label multiset per component, same connectivity: batch-member
    //   h-links become batch-family h-links, member-member h-links were
    //   intra-family no-ops). Oracle-gated identical at all 3 SFs
    //   (q187/q196/q200).
    // The per-round bucket table shrinks from O(touched members) to
    // O(touched families) rows, the seed table and its labels⁰ join
    // disappear, and the refresh chain (`corpusFamilies` is usually a
    // lazy tail over the caller's just-converged labels) is evaluated
    // ONCE here instead of 3× (seed validate + rows + labels⁰ — measured
    // 7.5-11 s of pure re-proof per call at sf0.1 before r16).
    val famTouched = cmRaw
      .join(corpusFamilies.select(col("id").as("corpus_id"),
        col("family_id")), Seq("corpus_id"))
      .select(col("family_id"), col("h")).distinct()
    val rows = bfp.select(col("id"), lit(0).as("band"),
        col("h").cast("string").as("key"))
      .unionByName(famTouched.select(col("family_id").as("id"),
        lit(0).as("band"), col("h").cast("string").as("key")))
    val labeled = transitiveClustersOver(rows, maxIters)._1
    batchIds.select(col("id")).join(labeled, Seq("id"), "left")
      .select(col("id"),
        coalesce(col("cluster_id"), col("id")).as("family_id"))
  }

  /** Dedup-and-reweight: collapse every near-dup cluster to its MIN-ID
    * representative carrying the cluster's multiplicity as a training
    * weight — the duplicate-aware alternative to plain dropping (keep
    * one copy, upweight its loss by how often it occurred; the recipe
    * for corpora where duplication frequency is signal, not noise).
    *
    * Returns (idCol, weight): one row per cluster; weight ≥ 1;
    * singletons pass through at weight 1. The min-label propagation
    * makes cluster_id ≡ the cluster's min id; that identity is asserted
    * in-query (raise_error) so a propagation change can never silently
    * ship a non-member representative.
    *
    * Scale: rides [[minhashClustersTransitive]] (banded, never
    * all-pairs); the reweight itself is one uniform-key aggregate over
    * the (id, cluster) table. */
  def dedupReweight(df: DataFrame, idCol: String, textCol: String,
                    k: Int = 16, bands: Int = 4,
                    maxIters: Int = 30): DataFrame = {
    val clusters =
      minhashClustersTransitive(df, idCol, textCol, k, bands, maxIters)
    clusters.groupBy(col("cluster_id"))
      .agg(min(col("id")).as("rep_id"), count(lit(1)).as("weight"))
      .select(
        when(col("rep_id") =!= col("cluster_id"),
          raise_error(concat(lit("dedupReweight: cluster label is not the "
            + "member min id: cluster="), col("cluster_id"),
            lit(" min="), col("rep_id"))))
          .otherwise(col("rep_id")).as(idCol),
        col("weight"))
  }

  /** Chunk-level exact dedup — the sub-document granularity of
    * exact-substring dedup (Lee et al. 2021, "Deduplicating Training Data
    * Makes Language Models Better"): documents are cut into disjoint
    * `w`-token chunks, and a chunk is a duplicate when the same chunk text
    * occurs in any LOWER-id document (first occurrence wins, matching
    * [[exactDedup]]'s min-id convention). Returns one row per doc:
    * (id, n_chunks, n_dup_chunks).
    *
    * Scale shape: chunking is a per-row Column expression (one corpus
    * scan); the explode emits ~tokens/w rows; the keeper table is a
    * hash aggregate on the chunk hash (uniform md5 keys, no skew) and the
    * verdict join is equi-keyed on the same hash — the linear one-shuffle
    * form, never a pairwise product. At 100 TB the chunk-hash relation is
    * ~1/w of the token volume and both shuffles are on uniform keys. */
  def chunkDedup(df: DataFrame, idCol: String, textCol: String,
                 w: Int = 10): DataFrame = {
    val toks = tokens(col(textCol))
    val nChunks = floor((size(toks) - 1).cast("long") / w) + 1
    val chunks = transform(sequence(lit(0L), nChunks - 1),
      i => concat_ws(" ", slice(toks, (i * w + 1).cast("int"), lit(w))))
    // (id, chunk-hash) rows; md5 keeps the shuffle key narrow and uniform
    val rows = df.select(col(idCol).as("id"), explode(chunks).as("chunk"))
      .select(col("id"), md5(col("chunk")).as("h"))
      // consumed by both the keeper aggregate and the verdict join;
      // caller-owned: the returned DataFrame reads this cache
      .cache()
    val keeper = rows.groupBy(col("h")).agg(min(col("id")).as("keep_id"))
    rows.join(keeper, "h")
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_chunks"),
        sum(when(col("keep_id") < col("id"), 1L).otherwise(0L)).as("n_dup_chunks"))
  }

  /** DuckDB spelling of the same disjoint `w`-token chunk list (1-based
    * inclusive list slices; a slice past the end truncates, like Spark's
    * `slice`). */
  def chunkOracleList(textCol: String, w: Int): String = {
    val toks = s"string_split($textCol, ' ')"
    s"""list_transform(range(0, CAST(floor((len($toks) - 1) / $w) AS BIGINT) + 1),
       |  i -> array_to_string($toks[i * $w + 1 : i * $w + $w], ' '))""".stripMargin
  }

  /** Near-dup verification: exact 3-gram Jaccard of each doc against its
    * LSH canonical representative only — O(N) verify step, not O(pairs).
    *
    * One corpus scan: signature and shingles are computed in a single
    * cached projection; bands, bucket-mins, cluster assignment, and both
    * sides of the verify join all read the (small) derived table. */
  def nearDupPairs(df: DataFrame, idCol: String, textCol: String,
                   thresholdMicros: Long, k: Int = 16, bands: Int = 4): DataFrame = {
    val rowsPerBand = k / bands
    // distinct shingle set + size precomputed per doc: the pairwise verify
    // then needs a single array_intersect per pair (|A∪B| = n1+n2-|A∩B|),
    // instead of distinct+intersect+union allocations per pair.
    val base = df.select(col(idCol).as("id"),
      minhashSignature(col(textCol), k).as("sig"),
      array_distinct(shingles(col(textCol), 3)).as("sh"))
      .withColumn("nsh", size(col("sh")).cast("long"))
      .cache() // caller-owned: the returned DataFrame reads this cache
    val br = base.select(col("id"), explode(array(
        (0 until bands).map(b =>
          struct(lit(b).as("band"), bandKey(col("sig"), b, rowsPerBand).as("key"))): _*
      )).as("bk"))
      .select(col("id"), col("bk.band").as("band"), col("bk.key").as("key"))
    val bucketMin = br.groupBy(col("band"), col("key"))
      .agg(min(col("id")).as("bucket_min"))
    val clusters = br.join(bucketMin, Seq("band", "key"))
      .groupBy(col("id"))
      .agg(min(col("bucket_min")).as("canonical_id"))
    val cands = clusters.filter(col("canonical_id") < col("id"))
      .select(col("canonical_id").as("id1"), col("id").as("id2"))
    val sh = base.select(col("id"), col("sh"), col("nsh"))
    val inter = size(array_intersect(col("sh1"), col("sh2"))).cast("long")
    cands
      .join(sh.toDF("id1", "sh1", "n1"), "id1")
      .join(sh.toDF("id2", "sh2", "n2"), "id2")
      .select(col("id1"), col("id2"),
        floor(inter * 1000000L /
          greatest(col("n1") + col("n2") - inter, lit(1L)))
          .cast("bigint").as("jaccard_micros"))
      .filter(col("jaccard_micros") >= thresholdMicros)
  }

  /** Sketch-accuracy audit: for every LSH candidate pair, the MinHash
    * ESTIMATE of token-set Jaccard (fraction of equal signature
    * components — the unbiased MinHash estimator) next to the EXACT
    * Jaccard over the distinct-token sets, plus the absolute error. The
    * operational answer to "can I trust a k=16 signature on MY corpus",
    * measured on the pairs the pipeline actually adjudicates — run it on
    * a sampled slice before committing a threshold at full scale.
    *
    * The audited pair set is the CANONICAL candidate set — each doc
    * paired with its cluster representative (per-bucket min, then
    * per-id min over its buckets) — exactly the pairs
    * [[nearDupPairs]]/[[incrementalNearDups]] verify in production, and
    * LINEAR in corpus size. The naive alternative (every within-bucket
    * pair) is Σ bucket², and a near-dup-dense corpus concentrates mass
    * into few buckets (measured here: 5k docs → 6.5M pairs, 10.9 s; the
    * canonical form audits what the pipeline actually adjudicates at
    * ~N pairs). `pairSampleMod = m` additionally keeps a deterministic
    * 1/m hash-sample — the knob for 100 TB audits where even N pairs is
    * more than an error histogram needs.
    *
    * Scale shape: the corpus is scanned once into (sig, token-set) rows
    * (cached: two consumers); cluster assignment is two uniform-key
    * aggregations; the verify joins ride uniform id keys. */
  def minhashAccuracy(df: DataFrame, idCol: String, textCol: String,
                      k: Int = 16, bands: Int = 4,
                      pairSampleMod: Long = 1L): DataFrame = {
    require(pairSampleMod >= 1L,
      s"minhashAccuracy: pairSampleMod must be ≥ 1, got $pairSampleMod")
    val rowsPerBand = k / bands
    val base = df.select(col(idCol).as("id"),
        minhashSignature(col(textCol), k).as("sig"),
        array_distinct(tokens(col(textCol))).as("ts"))
      .withColumn("nt", size(col("ts")).cast("long"))
      .cache() // caller-owned: the returned DataFrame reads this cache
    val br = base.select(col("id"), explode(array(
        (0 until bands).map(b =>
          struct(lit(b).as("band"),
            bandKey(col("sig"), b, rowsPerBand).as("key"))): _*)).as("bk"))
      .select(col("id"), col("bk.band").as("band"), col("bk.key").as("key"))
    val bucketMin = br.groupBy(col("band"), col("key"))
      .agg(min(col("id")).as("bmin"))
    val cands = br.join(bucketMin, Seq("band", "key"))
      .groupBy(col("id"))
      .agg(min(col("bmin")).as("canonical_id"))
      .filter(col("canonical_id") < col("id"))
      .select(col("canonical_id").as("id1"), col("id").as("id2"))
    val pairs =
      if (pairSampleMod == 1L) cands
      else cands.filter((graft.catalyst.Md5Prefix40(concat_ws("_",
        col("id1").cast("string"), col("id2").cast("string")))
        % pairSampleMod) === 0L)
    val eq = aggregate(
      zip_with(col("sig1"), col("sig2"),
        (a, b) => when(a === b, 1L).otherwise(0L)),
      lit(0L), (acc, x) => acc + x)
    // |A∪B| = n1 + n2 − |A∩B|: one intersect per pair, no union build
    val inter = size(array_intersect(col("t1"), col("t2"))).cast("long")
    pairs
      .join(base.toDF("id1", "sig1", "t1", "n1"), "id1")
      .join(base.toDF("id2", "sig2", "t2", "n2"), "id2")
      .select(col("id1"), col("id2"),
        floor(eq * 1000000L / k).cast("bigint").as("est_micros"),
        floor(inter * 1000000L /
          greatest(col("n1") + col("n2") - inter, lit(1L)))
          .cast("bigint").as("exact_micros"))
      .withColumn("err_micros",
        abs(col("est_micros") - col("exact_micros")))
  }

  /** LSH pre-flight load profile — predict a dedup run's candidate-pair
    * cost BEFORE paying it. Per (band, bucket_size): how many buckets
    * that size exist and the pair work they imply
    * (n·(n−1)/2 · n_buckets). The summed `pair_work` column is exactly
    * the Σ bucket² enumeration a within-bucket pairing pass would
    * execute — the quantity that made the naive q173 form cost 6.5M
    * pairs on 5k documents. Run this first; if the profile is
    * heavy-tailed, use the canonical-pair / bucket-capped forms (or more
    * bands) instead of pair emission. Cost: the band explode plus two
    * uniform-key aggregations — linear, no pairs materialized. */
  def lshLoadProfile(df: DataFrame, idCol: String, textCol: String,
                     k: Int = 16, bands: Int = 4): DataFrame =
    bandRows(df, idCol, textCol, k, bands)
      .groupBy(col("band"), col("key"))
      .agg(count(lit(1)).as("bucket_size"))
      .groupBy(col("band"), col("bucket_size"))
      .agg(count(lit(1)).as("n_buckets"))
      .select(col("band"), col("bucket_size"), col("n_buckets"),
        (col("bucket_size") * (col("bucket_size") - 1) / 2
          * col("n_buckets")).cast("bigint").as("pair_work"))

  /** Winnowing fingerprints (Schleimer, Wilkerson, Aiken 2003 — the MOSS
    * scheme): from each doc's n-gram hash sequence, every length-`w`
    * window contributes its RIGHTMOST minimal hash; the distinct
    * selected (position, hash) set is the document's fingerprint. The
    * guarantee wholesale dedup wants: any shared run of ≥ w + n − 1
    * tokens yields at least one shared fingerprint, while per-doc
    * fingerprint density is ~2/(w+1) — a tunable, position-robust
    * alternative to fixed-stride shingle sampling.
    *
    * Pure scan-local column program (zero shuffles). The default path
    * is the native [[graft.catalyst.WinnowFingerprints]] kernel — one
    * O(G) monotone-deque pass per row, inside codegen. `useKernel =
    * false` runs the composed HOF fold (O(G·w) element lookups, the
    * DuckDB-oracle-mirroring reference form; FunctionsSpec pins the two
    * paths identical). Both pack the state as `(h << 20) | pos`
    * (40-bit hash + 20-bit position) and keep ties' LATER position —
    * the rightmost-minimum rule. Returns one row per fingerprint:
    * (id, pos, h), pos the 1-based gram start. */
  def winnow(docs: DataFrame, idCol: String = "doc_id",
             textCol: String = "text", n: Int = 4, w: Int = 4,
             useKernel: Boolean = true): DataFrame = {
    require(n >= 2, s"winnow: n must be ≥ 2, got $n")
    require(w >= 2, s"winnow: w must be ≥ 2, got $w")
    if (useKernel) {
      return docs.select(col(idCol),
          explode(graft.catalyst.WinnowFingerprints(
            split(col(textCol), " "), n, w)).as("fp"))
        .select(col(idCol),
          col("fp").bitwiseAND(lit(1048575L)).cast("int").as("pos"),
          shiftright(col("fp"), 20).as("h"))
    }
    val withH = docs
      .select(col(idCol), split(col(textCol), " ").as("__t"))
      .filter(size(col("__t")) - (n - 1) >= w)
      .select(col(idCol),
        // same G < 2^20 domain guard as the kernel path's require: the
        // packed (h << 20) | pos state silently corrupts hash bits when a
        // position overflows 20 bits, manufacturing false dedup matches —
        // both paths must fail loudly and stay value-identical
        when(size(col("__t")) - (n - 1) >= lit(1 << 20),
          raise_error(concat(
            lit("winnow: document has "),
            (size(col("__t")) - (n - 1)).cast("string"),
            lit(s" grams >= 2^20; the packed (h<<20)|pos state cannot " +
              s"address positions that wide — chunk the document first"))))
          .otherwise(
            transform(sequence(lit(1), size(col("__t")) - (n - 1)),
              i => graft.catalyst.Md5Prefix40(
                concat_ws(" ", slice(col("__t"), i, lit(n)))))).as("__h"))
    def packed(j: org.apache.spark.sql.Column) =
      shiftleft(element_at(col("__h"), j), 20) + j
    // per window start s: fold positions s+1..s+w-1 against (h[s], s).
    // w ≥ 2 keeps the fold sequence ascending (Spark's sequence(a, b)
    // REVERSES when a > b).
    val fps = array_distinct(transform(
      sequence(lit(1), size(col("__h")) - (w - 1)),
      s => aggregate(
        sequence(s + 1, s + (w - 1)),
        packed(s),
        (acc, j) => when(
          element_at(col("__h"), j) <= shiftright(acc, 20),
          packed(j)).otherwise(acc))))
    withH.select(col(idCol), explode(fps).as("fp"))
      .select(col(idCol),
        col("fp").bitwiseAND(lit(1048575L)).cast("int").as("pos"),
        shiftright(col("fp"), 20).as("h"))
  }

  /** WIDE (60-bit) winnow fingerprints: (id, h) with h DISTINCT per doc,
    * selection and key both on [[graft.catalyst.Md5Prefix60]] — the
    * corpus-scale twin of [[winnow]] (40-bit keys birthday-bound at ~2^20
    * distinct grams; one measured collision at the synthesized sf1 chained
    * two unrelated families, so the persisted index layouts must be keyed
    * wide BEFORE they entrench — the q176 precedent applied to winnowing).
    * Positions are dropped: every index/cluster/family consumer is
    * position-free, and dropping them also lifts the narrow path's
    * 2^20-gram document cap (no packed state). Per window the selected
    * value is the minimum hash (tie positions share the value, so the SET
    * needs no tie rule). `useKernel = false` runs the composed
    * array_min-over-slices HOF form — the DuckDB-oracle-mirroring
    * reference path, spec-pinned identical. */
  def winnowWide(docs: DataFrame, idCol: String = "doc_id",
                 textCol: String = "text", n: Int = 4, w: Int = 4,
                 useKernel: Boolean = true): DataFrame = {
    require(n >= 2, s"winnowWide: n must be ≥ 2, got $n")
    require(w >= 2, s"winnowWide: w must be ≥ 2, got $w")
    if (useKernel) {
      return docs.select(col(idCol),
        explode(graft.catalyst.WinnowHashes60(
          split(col(textCol), " "), n, w)).as("h"))
    }
    val withH = docs
      .select(col(idCol), split(col(textCol), " ").as("__t"))
      .filter(size(col("__t")) - (n - 1) >= w)
      .select(col(idCol),
        transform(sequence(lit(1), size(col("__t")) - (n - 1)),
          i => graft.catalyst.Md5Prefix60(
            concat_ws(" ", slice(col("__t"), i, lit(n))))).as("__h"))
    val sel = array_distinct(transform(
      sequence(lit(1), size(col("__h")) - (w - 1)),
      s => array_min(slice(col("__h"), s, lit(w)))))
    withH.select(col(idCol), explode(sel).as("h"))
  }

  /** Corpus winnow-fingerprint index rows: (id, h) — [[winnow]] output
    * with positions dropped (matching is position-robust by design).
    * Persist through [[winnowIndexTap]] (bucketed by h) and daily
    * batches match with zero corpus-side shuffle — the band-index
    * discipline applied to winnowing. */
  def winnowIndex(df: DataFrame, idCol: String = "doc_id",
                  textCol: String = "text", n: Int = 4, w: Int = 4): DataFrame =
    // DISTINCT at build time: a hash selected at several positions of one
    // doc is ONE membership fact. The build pays the dedup shuffle once
    // per refresh; every consumer (match counts, family propagation,
    // incremental adoption) then reads minimal rows and skips its own
    // distinct. Match semantics are unchanged (consumers count DISTINCT
    // hashes already).
    winnow(df, idCol, textCol, n, w).select(col(idCol).as("id"), col("h"))
      .distinct()

  /** WIDE index rows: [[winnowWide]] is already distinct per doc (the
    * kernel dedups values inline), so the build skips the narrow path's
    * dedup shuffle entirely — the wide layout is both collision-safe AND
    * one exchange cheaper to build. */
  def winnowIndexWide(df: DataFrame, idCol: String = "doc_id",
                      textCol: String = "text", n: Int = 4,
                      w: Int = 4): DataFrame =
    winnowWide(df, idCol, textCol, n, w).select(col(idCol).as("id"), col("h"))

  def winnowIndexTap(table: String, buckets: Int): graft.sources.BucketedTap =
    graft.sources.BucketedTap(table, buckets, Seq("h"))

  /** Match an arriving batch against a PERSISTED winnow-fingerprint
    * index: batch docs are winnowed in-flight, fingerprints join the
    * index on the hash (the index's bucket column — corpus side plans
    * with NO exchange), and each (batch, corpus) pair with
    * ≥ `minShared` distinct shared fingerprints is reported. The
    * winnowing guarantee makes this a RUN-level detector: any shared
    * run of ≥ w+n−1 tokens contributes at least one shared fingerprint,
    * so minShared trades precision against the shortest shared run the
    * pipeline cares about. n, w AND hash width must match the index
    * build (a narrow batch against a wide index joins on disjoint
    * domains and silently matches nothing — the directed-failure note
    * below).
    *
    * `wideHash` defaults TRUE (the [[bandIndex]] rationale): the
    * persisted-index consumer should default to the collision-safe
    * 60-bit key; narrow stays reachable for legacy 40-bit indexes and
    * the oracle-mirroring gates (q180 pins it explicitly). */
  def winnowMatchesAgainstIndex(corpusIndex: DataFrame, batch: DataFrame,
                                idCol: String, textCol: String,
                                n: Int = 4, w: Int = 4,
                                minShared: Long = 2L,
                                wideHash: Boolean = true): DataFrame = {
    val ci = corpusIndex.withColumnRenamed("id", "corpus_id")
    // wideHash: batch fingerprints at the 60-bit key — n, w AND width
    // must match the index build (a narrow batch against a wide index
    // joins on disjoint domains and silently matches nothing)
    val bfp =
      if (wideHash) winnowWide(batch, idCol, textCol, n, w)
        .select(col(idCol).as("id"), col("h"))
      else winnow(batch, idCol, textCol, n, w)
        .select(col(idCol).as("id"), col("h"))
    bfp.join(ci, Seq("h"))
      .groupBy(col("id"), col("corpus_id"))
      .agg(count_distinct(col("h")).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  /** CONTAINMENT verify of an arriving batch against the corpus — the
    * near-SUBSET detector: an excerpt/quotation/truncated copy of a
    * corpus doc has containment ≈ 1 (every n-gram of the smaller side
    * appears in the larger) while its resemblance Jaccard sits near
    * |small|/|large| — far below any near-dup threshold, invisible to
    * [[nearDupPairs]]/[[incrementalNearDups]]. Returns one row per
    * (batch, corpus) candidate with containment_micros =
    * ⌊1e6·|A∩B| / min(|A|,|B|)⌋ ≥ threshold, alongside jaccard_micros so
    * downstream policy can separate subset-dups from full near-dups.
    *
    * Scale (the q127 discipline): candidates exist ONLY where a batch doc
    * shares an LSH band bucket with a corpus doc — batch×corpus never
    * materializes and the corpus never self-joins; in production the
    * corpus side is the [[bandIndexTap]]-persisted band index (zero
    * corpus-side exchange) and the shingle-set verify joins key on ids
    * (uniform). Recall caveat (inherent to resemblance LSH): a tiny
    * excerpt of a huge doc drifts out of the band buckets as the token
    * sets diverge — bounded excerpt ratios (≥ ~half) land in-bucket,
    * which is the dedup-relevant regime. */
  def containmentAgainstCorpus(corpus: DataFrame, batch: DataFrame,
                               idCol: String, textCol: String,
                               thresholdMicros: Long, n: Int = 3,
                               k: Int = 16, bands: Int = 4): DataFrame = {
    val cb = bandRows(corpus, idCol, textCol, k, bands)
      .toDF("corpus_id", "band", "key")
    val bb = bandRows(batch, idCol, textCol, k, bands)
      .toDF("batch_id", "band", "key")
    val cands = bb.join(cb, Seq("band", "key"))
      .select(col("batch_id"), col("corpus_id")).distinct()
    def shs(df: DataFrame, as: String, setAs: String, nAs: String) =
      df.select(col(idCol).as(as),
        array_distinct(shingles(col(textCol), n)).as(setAs))
        .withColumn(nAs, size(col(setAs)).cast("long"))
    val inter = size(array_intersect(col("bsh"), col("csh"))).cast("long")
    cands
      .join(shs(batch, "batch_id", "bsh", "nb"), "batch_id")
      .join(shs(corpus, "corpus_id", "csh", "nc"), "corpus_id")
      .select(col("batch_id"), col("corpus_id"),
        floor(inter * 1000000L / greatest(least(col("nb"), col("nc")), lit(1L)))
          .cast("bigint").as("containment_micros"),
        floor(inter * 1000000L /
          greatest(col("nb") + col("nc") - inter, lit(1L)))
          .cast("bigint").as("jaccard_micros"))
      .filter(col("containment_micros") >= thresholdMicros)
  }

  /** Incremental NEAR-dup detection: which arriving-batch docs near-
    * duplicate something already in the corpus? The near-dup counterpart
    * of the exact-hash incremental dedup (q98): batch band rows join
    * corpus band rows on (band, key), so candidates exist ONLY where a
    * batch doc shares an LSH bucket with a corpus doc — batch×corpus
    * never materializes and the corpus side never self-joins.
    *
    * Returns one row per flagged batch doc: the smallest matching corpus
    * id (a stable canonical target for dropping/linking) and the distinct
    * corpus-match count.
    *
    * This overload recomputes the corpus band rows per call — fine for a
    * one-shot comparison, WRONG as a daily-ingest loop at 100 TB (it pays
    * a full corpus scan + shuffle per batch for an O(batch) question).
    * The production path is [[incrementalNearDupsAgainstIndex]] over a
    * band index persisted once via [[bandIndexTap]]. */
  def incrementalNearDups(corpus: DataFrame, batch: DataFrame,
                          idCol: String, textCol: String,
                          k: Int = 16, bands: Int = 4): DataFrame =
    incrementalNearDupsAgainstIndex(
      bandIndex(corpus, idCol, textCol, k, bands), batch, idCol, textCol,
      k, bands)

  /** Incremental near-dup against a PERSISTED corpus band index (the
    * [[bandIndex]] layout, written through [[bandIndexTap]] so the table
    * is bucketed by (band, key)). Every daily batch then joins the index
    * with zero corpus-side shuffle: only the batch's own band rows — the
    * O(batch) side — are exchanged into the index's bucket layout. The
    * corpus is scanned at most once per batch and NEVER re-signatured,
    * and with partition/bucket pruning on selective batches not even
    * that. k and bands must match the values the index was built with. */
  def incrementalNearDupsAgainstIndex(corpusIndex: DataFrame,
                                      batch: DataFrame,
                                      idCol: String, textCol: String,
                                      k: Int = 16, bands: Int = 4,
                                      wideHash: Boolean = true): DataFrame = {
    val cb = corpusIndex.withColumnRenamed("id", "corpus_id")
    // wideHash must match the index build's width — narrow batch keys
    // against a wide index live in disjoint domains and match nothing
    val bb = bandRows(batch, idCol, textCol, k, bands, wideHash)
    bb.join(cb, Seq("band", "key"))
      .groupBy(col("id"))
      .agg(min(col("corpus_id")).as("nearest_corpus_id"),
        count_distinct(col("corpus_id")).as("n_corpus_matches"))
  }

  /** Exact SUBSTRING-level dedup: duplicated n-gram span detection, the
    * token-level counterpart of document-level dedup (the "dedup exact
    * substrings" pass of LLM corpus curation — find every n-token window
    * that also appears in ≥ `minDocs` distinct documents, then merge
    * overlapping hits into maximal spans per document).
    *
    * Shape: one scan explodes each doc into its n-gram start positions
    * (`pos`, 1-based) keyed by a 40-bit ngram hash; an aggregation keeps
    * hashes seen in ≥ minDocs distinct docs; a join marks the hit
    * positions; consecutive hit positions fold into islands (classic
    * gaps-and-islands: `pos - row_number()` per doc) and each island
    * [a, b] is one span covering tokens a .. b+n-1.
    *
    * Returns one row per span: (id, span_start, span_end_ngram, n_hits,
    * span_tokens).
    *
    * Scale: all shuffles key on uniform hashes or doc ids — the n-gram
    * agg and the hit join shuffle on the gram hash (uniform by
    * construction), and the island window partitions per DOCUMENT,
    * bounded by doc length, never per source. No all-pairs stage
    * anywhere: cost is O(tokens) rows exploded, O(duplicated positions)
    * joined.
    *
    * Hash width: default 40-bit keys (birthday bound ~2^20 distinct
    * grams — a hash collision manufactures a FALSE dup span, so the
    * bound is a correctness knob). `wideHash = true` switches to the
    * 60-bit [[graft.catalyst.Md5Prefix60]] key (~2^30 grams) — the form
    * to run at the 100 TB tier; identical plan shape, gated separately
    * (q176) against the 15-hex-prefix oracle spelling. */
  /** EXACT set-similarity self-join (AllPairs/PPJoin prefix filtering,
    * Bayardo et al. WWW'07 / Xiao et al. WWW'08 — public algorithms):
    * all document pairs whose n-gram shingle-set Jaccard is ≥ tNum/tDen,
    * with NO approximation — the candidate set is pruned, never the
    * answer. The threshold is an exact RATIONAL, so every bound is
    * integer arithmetic both engines replay bit-identically:
    *   - prefix length p(A) = |A| − ⌈t·|A|⌉ + 1 under one GLOBAL shingle
    *     order (df asc, hash asc — rare shingles first, the frequency
    *     ordering that keeps prefix buckets small); J(A,B) ≥ t implies
    *     the prefixes intersect, so joining prefixes loses nothing;
    *   - length filter: t·max(|A|,|B|) ≤ min(|A|,|B|) (else J < t);
    *   - verification: J ≥ tNum/tDen ⟺ (tNum+tDen)·|A∩B| ≥ tNum·(|A|+|B|).
    * Scale shape: candidate pairs exist only through shared PREFIX
    * shingles (never all-pairs); the verify join moves candidate×shingle
    * rows. Complements MinHash LSH (q64): this form is exact — the gate
    * proves prefix filtering returns EXACTLY the exhaustive
    * share-a-shingle join's qualifying pairs. */
  def setSimilarityJoin(docs: DataFrame, idCol: String = "doc_id",
                        textCol: String = "text", n: Int = 8,
                        tNum: Long = 4L,
                        tDen: Long = 5L): DataFrame = Frames { f =>
    require(tNum > 0 && tNum < tDen, s"threshold must be in (0,1): $tNum/$tDen")
    // distinct shingle-hash SET per doc (set semantics — positions and
    // multiplicity do not matter for Jaccard)
    val sh = f.persist(docs
      .select(col(idCol).as("id"), split(col(textCol), " ").as("__t"))
      .filter(size(col("__t")) >= n)
      .select(col("id"), explode(transform(
        sequence(lit(1), size(col("__t")) - (n - 1)),
        i => graft.catalyst.Md5Prefix60(
          concat_ws(" ", slice(col("__t"), i, lit(n)))))).as("h"))
      .distinct())
    val sizes = sh.groupBy(col("id")).agg(count(lit(1)).as("nsz"))
    val df = sh.groupBy(col("h")).agg(count(lit(1)).as("df"))
    // global frequency order: position of each shingle within its doc
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("id")).orderBy(col("df"), col("h"))
    val prefix = sh.join(df, Seq("h"))
      .withColumn("pos", row_number().over(w))
      .join(sizes, Seq("id"))
      // p = n − ⌈t·n⌉ + 1;  ⌈tNum·n/tDen⌉ = (tNum·n + tDen − 1) div tDen
      .filter(col("pos") <=
        col("nsz") - expr(s"($tNum * nsz + $tDen - 1) div $tDen") + 1)
      .select(col("id"), col("h"), col("nsz"))
    val cand = prefix.as("a").join(prefix.as("b"),
        col("a.h") === col("b.h") && col("a.id") < col("b.id"))
      .filter(lit(tNum) * greatest(col("a.nsz"), col("b.nsz")) <=
        lit(tDen) * least(col("a.nsz"), col("b.nsz")))
      .select(col("a.id").as("ia"), col("b.id").as("ib"),
        col("a.nsz").as("na"), col("b.nsz").as("nb"))
      .distinct()
    // exact verification: count shared shingles per surviving pair
    val inter = cand
      .join(sh.select(col("id").as("ia"), col("h")), Seq("ia"))
      .join(sh.select(col("id").as("ib"), col("h")), Seq("ib", "h"))
      .groupBy(col("ia"), col("ib"), col("na"), col("nb"))
      .agg(count(lit(1)).as("inter"))
    f.result(inter
      .filter(lit(tNum + tDen) * col("inter") >=
        lit(tNum) * (col("na") + col("nb")))
      .select(col("ia").as("id_a"), col("ib").as("id_b"),
        col("inter").cast("bigint").as("inter"),
        expr("(1000000 * inter) div (na + nb - inter)")
          .cast("bigint").as("jaccard_micros")))
  }

  def duplicatedSpans(docs: DataFrame, idCol: String = "doc_id",
                      textCol: String = "text", n: Int = 8,
                      minDocs: Int = 2, wideHash: Boolean = false): DataFrame = {
    require(n >= 2, s"duplicatedSpans: n must be ≥ 2, got $n")
    require(minDocs >= 2, s"duplicatedSpans: minDocs must be ≥ 2, got $minDocs")
    def gramHash(c: org.apache.spark.sql.Column) =
      if (wideHash) graft.catalyst.Md5Prefix60(c)
      else graft.catalyst.Md5Prefix40(c)
    // token array materialized BEFORE the lambda (the phraseBpe finding):
    // the split() subtree inside transform re-evaluates per position —
    // O(len²) per row; as an attribute it splits once, slices linear
    val grams = docs
      .select(col(idCol), split(col(textCol), " ").as("__t"))
      .filter(size(col("__t")) >= n)
      .select(col(idCol),
        posexplode(transform(sequence(lit(1), size(col("__t")) - (n - 1)),
          i => gramHash(
            concat_ws(" ", slice(col("__t"), i, lit(n)))))))
      .select(col(idCol), (col("pos") + 1).as("pos"), col("col").as("h"))
    val dup = grams.groupBy(col("h"))
      .agg(count_distinct(col(idCol)).as("nd"))
      .filter(col("nd") >= minDocs)
      .select(col("h"))
    val hits = grams.join(dup, Seq("h"))
    val isle = col("pos") - row_number().over(
      org.apache.spark.sql.expressions.Window
        .partitionBy(col(idCol)).orderBy(col("pos")))
    hits.withColumn("isle", isle)
      .groupBy(col(idCol), col("isle"))
      .agg(min(col("pos")).as("span_start"),
        max(col("pos")).as("span_end_ngram"),
        count(lit(1)).as("n_hits"))
      .withColumn("span_tokens",
        col("span_end_ngram") - col("span_start") + n)
      .drop("isle")
  }

  /** The ACTION companion of [[duplicatedSpans]]: boilerplate strip —
    * delete every duplicated span from every document and reassemble the
    * cleaned text (the contract of a boilerplate-removal pass: content
    * repeated across ≥ minDocs documents survives nowhere). Documents
    * with no duplicated spans pass through verbatim.
    *
    * Shape: spans → covered token positions (distinct — two islands'
    * coverage can overlap even though their start positions don't touch);
    * per-token explode LEFT ANTI the covered set on (id, tpos); ordered
    * reassembly via array_sort over (tpos, token) structs — deterministic
    * on any partitioning, no window needed.
    *
    * Returns (id, clean_text, n_kept, n_removed).
    *
    * Scale: the anti-join keys on (id, position) — perfectly uniform; the
    * reassembly groups per DOCUMENT (partitions bounded by doc length).
    * Everything is one linear pipeline over O(tokens) rows; the span side
    * is O(duplicated positions) and broadcast-eligible when small. */
  def stripDuplicatedSpans(docs: DataFrame, idCol: String = "doc_id",
                           textCol: String = "text", n: Int = 8,
                           minDocs: Int = 2,
                           wideHash: Boolean = false): DataFrame = {
    val covered = duplicatedSpans(docs, idCol, textCol, n, minDocs, wideHash)
      .select(col(idCol), explode(sequence(col("span_start"),
        col("span_start") + col("span_tokens") - 1)).as("tpos"))
      .distinct()
    val toks = docs
      .select(col(idCol), posexplode(split(col(textCol), " ")))
      .select(col(idCol), (col("pos") + 1).as("tpos"), col("col").as("tok"))
    val keptAgg = toks.join(covered, Seq(idCol, "tpos"), "left_anti")
      .groupBy(col(idCol))
      .agg(concat_ws(" ", transform(
          array_sort(collect_list(struct(col("tpos"), col("tok")))),
          x => x.getField("tok"))).as("clean_text"),
        count(lit(1)).as("n_kept"))
    // drive from the all-docs side: a FULLY duplicated doc keeps zero
    // tokens but must still appear, with empty clean_text
    val nTok = toks.groupBy(col(idCol)).agg(count(lit(1)).as("n_total"))
    nTok.join(keptAgg, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("clean_text"), lit("")).as("clean_text"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        (col("n_total") - coalesce(col("n_kept"), lit(0L))).as("n_removed"))
  }
}
