package graft.functions

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.exec.Frames
import scala.jdk.CollectionConverters._

/** Graph analytics over co-occurrence projections — the OLAP-adjacent
  * graph class (entity graphs mined from fact tables: co-purchase,
  * co-citation, co-click). The reference has no graph surface; this is
  * extension territory, built on the repo's existing scale primitives
  * (bounded-heap TopKAgg for degree capping, the exact-integer oracle
  * discipline for iterative ranks).
  *
  * Scale design, in order of appearance:
  *  - the projection joins the relation with itself ON THE GROUP KEY —
  *    fan-out is bounded by group size (lineitems per order), never
  *    corpus size;
  *  - co-occurrence graphs densify as data grows (more orders → more
  *    supplier pairs), so the DEGREE CAP is load-bearing: top-`maxDegree`
  *    neighbors per vertex by (weight desc, id asc) through TopKAgg —
  *    O(V × k) state, no per-vertex full sort, wedge counts bounded by
  *    V·k² downstream no matter how dense the raw projection gets;
  *  - PageRank is EXACT-INTEGER (floor division, both engines identical),
  *    one aggregation and one keyed shuffle per iteration. The fixed-round
  *    loops ([[pageRankTopK]], [[pageRankWeightedTopK]], [[hitsTopK]])
  *    run no action per round: each round is a lazy loop frame
  *    ([[graft.exec.Frames]]), the top-k collect is the loop's one
  *    action, and the scope releases every round's frame on exit. The
  *    rounds stay separate frames rather than one unrolled plan: the
  *    unrolled plan measured slower (its compiles outweigh the actions
  *    it saves).
  */
object Graph {

  /** ADDITIVE pair-weight rows — the artifact form of the co-occurrence
    * graph: w is a plain co-listing count, so arrival maintenance is
    * APPEND + per-pair sum (merge == rebuild when the group key — the
    * order — partitions between batches; the corpusStats/CMS
    * discipline). The degree cap is NOT additive (a capped pre table
    * cannot adopt a batch — a new heavy edge can evict a kept one), so
    * capping applies at READ time over the summed table
    * ([[capByDegree]]), never inside the artifact. */
  def coOccurrencePairWeights(rel: DataFrame, keyCol: String,
                              vCol: String): DataFrame = {
    val su = rel.select(col(keyCol).as("k"), col(vCol).as("v")).distinct()
    val pairs = su.as("a").join(su.as("b"),
        col("a.k") === col("b.k") && col("a.v") =!= col("b.v"))
      .select(col("a.v").as("src"), col("b.v").as("dst"))
    pairs.groupBy(col("src"), col("dst"))
      .agg(count(lit(1)).as("w"))
  }

  /** Sum appended pair-weight batches back to one row per (src, dst) —
    * the read side of the [[coOccurrencePairWeights]] artifact. */
  def mergePairWeights(tapRows: DataFrame): DataFrame =
    tapRows.groupBy(col("src"), col("dst"))
      .agg(sum(col("w")).cast("long").as("w"))

  /** Keep each vertex's `maxDegree` strongest neighbors (weight desc,
    * dst asc via the packed tie-break) — the densification lever,
    * applied over COMPLETE pair weights: one row per (src, dst) with
    * integral `dst` and `w`; a row with a null src has no vertex to cap
    * and drops out. The kept edges are read back out of the
    * TopKAgg array itself — the (w, dst) double packing is exact, so
    * unpacking it recovers the row without a join back onto `pw`. */
  def capByDegree(pw: DataFrame, maxDegree: Int): DataFrame = {
    val packed = pw.filter(col("src").isNotNull).withColumn("nh",
      when(col("dst") < 0L || col("dst") >= (1L << 25) ||
           col("w") >= (1L << 28) || col("w") <= -(1L << 28),
        raise_error(concat(lit("capByDegree: packing domain "),
          lit("exceeded (dst "), col("dst").cast("string"),
          lit(", w "), col("w").cast("string"),
          lit(") — widen the (w, dst) double packing"))))
        .otherwise((col("w") * (1L << 25) +
          (lit((1L << 25) - 1) - col("dst"))).cast("double")))
    // nh = w·2²⁵ + (2²⁵−1−dst): the arithmetic shift floors, so w comes
    // back exactly for negative weights too; the low 25 bits hold dst
    val nh = col("nh").cast("long")
    packed.groupBy(col("src"))
      .agg(graft.catalyst.TopKAgg(col("nh"), maxDegree).as("top"))
      .select(col("src"), explode(col("top")).as("nh"))
      .select(col("src"),
        (lit((1L << 25) - 1) - (nh.bitwiseAND(lit((1L << 25) - 1))))
          .cast(pw.schema("dst").dataType).as("dst"),
        shiftright(nh, 25).cast(pw.schema("w").dataType).as("w"))
  }

  /** Bounded-degree co-occurrence edges: entities (`vCol`) sharing a
    * group key (`keyCol`), weighted by shared-group count, each vertex
    * keeping only its `maxDegree` strongest neighbors (weight desc, id
    * asc — deterministic). Output (src, dst, w), directed: src's
    * retained adjacency. The TopKAgg ordering key packs (w, dst) into a
    * double — exact while w < 2²⁸ and 0 ≤ dst < 2²⁵, enforced with a
    * directed in-query error rather than silent precision loss. */
  def coOccurrenceEdges(rel: DataFrame, keyCol: String, vCol: String,
                        maxDegree: Int): DataFrame =
    capByDegree(coOccurrencePairWeights(rel, keyCol, vCol), maxDegree)

  /** Exact-integer PageRank over directed edges (src, dst): rank scaled
    * by 10⁹ per vertex (r₀ = 10⁹), update
    *   r'(v) = 150 000 000 + Σ_{u→v} (r(u)·85) div (100·outdeg(u))
    * — the standard damping-0.85 form scaled by N·10⁹, with floor
    * division so both engines compute bit-identical ranks. Every vertex
    * appears as a src (co-occurrence adjacency is symmetric pre-cap), so
    * there is no dangling mass. One keyed shuffle per iteration;
    * contributions fit int64 while indeg·8.5·10⁸ < 2⁶³ (~10⁹ in-edges
    * per vertex — beyond any degree-capped graph). Returns the top `k`
    * (rank desc, vertex asc). */
  def pageRankTopK(edges: DataFrame, iters: Int,
                   k: Int): DataFrame = Frames { f =>
    val out = edges.groupBy(col("src")).agg(count(lit(1)).as("outdeg"))
    // LAZY localCheckpoints, not bare persists (r16, the
    // transitiveClustersOver lesson): a persist caches data but keeps
    // the full logical plan, so every iteration's action re-analyzes the
    // caller's edge lineage (the co-occurrence self-join tree) once per
    // reference — driver planning grows linearly in iterations. The
    // checkpoint truncates e/verts/rank to LogicalRDD leaves; blocks
    // materialize on the same first action that used to fill the cache.
    val e = f.lazily(edges.join(out, Seq("src"))
      .select(col("src"), col("dst"), col("outdeg")))
    // vertex set = src ∪ dst: on an asymmetric edge input a dst-only
    // (dangling) vertex still ranks — it accumulates mass and passes
    // none on, the standard sink semantics. (The symmetric co-occurrence
    // callers see the identical set either way, which is why their
    // oracles can derive it from DISTINCT src.)
    val verts = f.lazily(e.select(col("src").as("v"))
      .union(e.select(col("dst").as("v"))).distinct())
    // no action per round: creating round r's lazy frame already runs
    // (under AQE) the stages that read round r−1, and the scope releases
    // every round's frame on exit — at most iters + 2 rank-sized frames
    var rank = verts.select(col("v"), lit(1000000000L).as("r"))
    (1 to iters).foreach { _ => rank = f.lazily(prNext(e, verts, rank)) }
    collected(rank.orderBy(col("r").desc, col("v"))
      .limit(k)
      .select(col("v").as("vertex"), col("r").as("rank_scaled")))
  }

  /** A fixed-k result collected into a driver-local relation before the
    * loop's frames are released: it holds no blocks, so it leaves the
    * caller nothing to release. */
  private def collected(topK: DataFrame): DataFrame =
    topK.sparkSession.createDataFrame(topK.collect().toSeq.asJava, topK.schema)

  /** WEIGHTED exact-integer PageRank: like [[pageRankTopK]] but each
    * neighbor receives mass proportional to its EDGE WEIGHT —
    *   r'(v) = 15·10⁷ + Σ_{u→v} (r(u)·85·w(u,v)) div (100·sw(u)),
    * sw(u) = Σ w over u's retained edges. Still pure floor division
    * (products ≤ r·85·w ≈ 10¹¹·w fit int64 while w < 10⁷); the co-
    * occurrence weight is the natural transition strength (how often the
    * pair actually co-occurs), which plain PageRank discards after the
    * cap. */
  def pageRankWeightedTopK(edges: DataFrame, iters: Int,
                           k: Int): DataFrame = Frames { f =>
    val sw = edges.groupBy(col("src")).agg(sum(col("w")).as("sw"))
    // lazy localCheckpoints — the pageRankTopK planning rationale
    val e = f.lazily(edges.join(sw, Seq("src"))
      .select(col("src"), col("dst"), col("w"), col("sw")))
    // src ∪ dst — the pageRankTopK dangling-vertex note applies
    val verts = f.lazily(e.select(col("src").as("v"))
      .union(e.select(col("dst").as("v"))).distinct())
    // one lazy frame per round, no per-round action — as in pageRankTopK
    var rank = verts.select(col("v"), lit(1000000000L).as("r"))
    (1 to iters).foreach { _ =>
      rank = f.lazily(prRound(e, verts, rank, "(r * 85 * w) div (100 * sw)"))
    }
    collected(rank.orderBy(col("r").desc, col("v"))
      .limit(k)
      .select(col("v").as("vertex"), col("r").as("rank_scaled")))
  }

  /** ONE PageRank round over prepared inputs — `e` (src, dst, outdeg),
    * `verts` (v), `rank` (v, r) → next (v, r). Exposed for the
    * PlanAuditSpec shuffle-count audit. */
  private[graft] def prNext(e: DataFrame, verts: DataFrame,
                            rank: DataFrame): DataFrame =
    prRound(e, verts, rank, "(r * 85) div (100 * outdeg)")

  /** One round as a SINGLE aggregation: each edge's contribution `c`
    * (an expression over e's columns and the source rank r), plus a 0
    * row per vertex so that a vertex nothing points at still ranks,
    * grouped by vertex into 150 000 000 + Σc. The v-keyed sum is the
    * round's only keyed shuffle; the rank lookup broadcasts at gate
    * scale. Sums of floored longs do not depend on order, so the ranks
    * equal the contribution-sum-then-outer-join spelling bit for bit. */
  private def prRound(e: DataFrame, verts: DataFrame, rank: DataFrame,
                      c: String): DataFrame =
    e.join(rank, e("src") === rank("v"))
      .select(col("dst").as("v"), expr(c).as("c"))
      .union(verts.select(col("v"), lit(0L).as("c")))
      .groupBy(col("v")).agg((lit(150000000L) + sum(col("c"))).as("r"))

  /** PageRank iterated to a TOLERANCE-gated stop (round-13 verdict item
    * 4 — the q277 warm-start honesty contract generalized from HITS to
    * PageRank, where an EXACT integer fixed point is out of reach: the
    * 0.85 contraction needs ~130 rounds to quiesce the last unit at the
    * 10⁹ scale, so production refreshes stop at max |Δr| ≤ ε units
    * instead): run [[pageRankTopK]]'s exact floor-division update until
    * the max absolute per-vertex change is ≤ `epsUnits`, optionally
    * WARM-STARTED from a previous cadence's converged ranks (`initRank`
    * (v, r); vertices the new graph lacks drop out, new vertices start
    * cold at 10⁹).
    *
    * The honesty contract: a trajectory stopped at tolerance ε sits
    * within ε·λ/(1−λ) ≈ 5.67ε of the true fixed point (λ = 0.85), so
    * cold and warm stops can legitimately differ by up to ~11.3ε —
    * callers gate the COLD stop against an oracle replaying the SAME
    * stopping rule over unrolled rounds, and pin the warm vector to the
    * cold one with an explicit ε-multiple bound plus a strictly-fewer-
    * rounds assert. Bit-equal warm == cold is not a theorem and is not
    * claimed.
    *
    * Per iteration: ONE keyed shuffle (the v-keyed round sum of
    * [[prNext]]; the rank lookup broadcasts at gate scale) + one bounded
    * driver action (the 1-row max-|Δ| check — the Lloyd discipline),
    * which also fills the round's lazy localCheckpoint; every round's
    * checkpoint is released at the next round with RDD-level release of
    * its predecessor (the q277 lineage discipline: the diff check
    * references two rounds at once — without truncation the plan
    * doubles per round). Fails DIRECTED after `maxIters` rounds above
    * tolerance. Returns (full rank table (v, r) — caller-owned — and
    * the stop round). */
  def pageRankConverge(edges: DataFrame, epsUnits: Long,
                       initRank: Option[DataFrame] = None,
                       maxIters: Int = 24): (DataFrame, Int) = Frames { f =>
    require(epsUnits >= 0, s"pageRankConverge: epsUnits must be >= 0")
    val out = edges.groupBy(col("src")).agg(count(lit(1)).as("outdeg"))
    // lazy localCheckpoints — the pageRankTopK planning rationale
    val e = f.lazily(edges.join(out, Seq("src"))
      .select(col("src"), col("dst"), col("outdeg")))
    val verts = f.lazily(e.select(col("src").as("v"))
      .union(e.select(col("dst").as("v"))).distinct())
    // rank⁰ needs no checkpoint of its own: its plan is a projection (or
    // one small join) over the already-truncated verts leaf — round 1
    // recomputes it from verts' blocks for the price of a map (r16)
    var rank: DataFrame = initRank match {
      case Some(init) =>
        verts.join(init.select(col("v"), col("r").as("__ri")), Seq("v"),
            "left_outer")
          .select(col("v"),
            coalesce(col("__ri"), lit(1000000000L)).as("r"))
      case None => verts.select(col("v"), lit(1000000000L).as("r"))
    }
    var rounds = -1
    var i = 0
    while (rounds < 0 && i < maxIters) {
      i += 1
      // ONE action per round (r16): the next vector is a LAZY checkpoint
      // whose blocks materialize under the same max-|Δr| collect that
      // decides the stop — previously an eager checkpoint (job 1) was
      // followed by the diff collect (job 2) every round.
      val next = f.lazily(prNext(e, verts, rank))
      // vertex set is fixed across rounds (verts), so an inner join
      // covers every vertex — max |Δr| is the stopping statistic
      val maxDiff = next.as("n")
        .join(rank.as("o"), col("n.v") === col("o.v"))
        .agg(max(abs(col("n.r") - col("o.r"))).as("d"))
        .collect().head.getLong(0)
      f.release(rank)
      rank = next
      if (maxDiff <= epsUnits) rounds = i
    }
    require(rounds > 0, s"pageRankConverge: max |Δr| still above " +
      s"$epsUnits units after $maxIters rounds — raise maxIters or " +
      "loosen the tolerance")
    (f.result(rank.select(col("v"), col("r"))), rounds)
  }

  /** Connected components over the undirected support, via the repo's
    * converged min-label propagation (pointer-jumping — rounds ≈ log
    * diameter, `Dedup.transitiveClustersOver`): each undirected edge
    * becomes one shared bucket, so two vertices share a component iff a
    * bucket chain links them — exactly the machinery the winnow/LSH
    * families run on, reused on an explicit graph. The string bucket key
    * "a_b" is collision-free by construction (no hashing — a hash
    * collision would silently MERGE components). Output (component,
    * size), component = min vertex id. */
  def componentSizes(edges: DataFrame): DataFrame =
    componentLabels(edges)
      .groupBy(col("cluster_id").as("component"))
      .agg(count(lit(1)).as("size"))

  /** Per-vertex component labels (id, cluster_id), cluster_id = the
    * component's min vertex id — the persisted-label form the
    * incremental maintenance path consumes. */
  def componentLabels(edges: DataFrame): DataFrame = {
    val und = edges.select(least(col("src"), col("dst")).as("a"),
      greatest(col("src"), col("dst")).as("b")).distinct()
    val key = concat_ws("_", col("a"), col("b"))
    val rows = und.select(col("a").as("id"), lit(0).as("band"), key.as("key"))
      .union(und.select(col("b").as("id"), lit(0).as("band"), key.as("key")))
    Dedup.transitiveClustersOver(rows)._1
  }

  /** Incremental component maintenance — the arrival pattern
    * (winnowFamiliesIncremental) applied to an explicit graph: given the
    * PERSISTED labels of the corpus graph and a batch of arriving edges,
    * relabel only the TOUCHED subgraph and carry everything else
    * verbatim.
    *
    * Touched = vertices incident to a new edge, plus every member of any
    * component containing one (a new edge can merge two components, and
    * the LOSING component's members must all relabel). The propagation
    * runs over the new edges plus one REP node per touched component
    * linked to its touched vertices through a membership bucket
    * ("m_<cluster>") — untouched members relabel through one rep-map
    * join after the fixed point (see the in-body proof). Cost tracks the
    * BATCH (touched vertices + touched components), not the corpus.
    *
    * PRECONDITION (the unseeded cluster-rep reduction relies on it):
    * `corpusLabels` must come from the min-label engine
    * ([[componentLabels]]/[[componentSizes]]'s labeling), i.e.
    * cluster_id = min member id — so no member id is ever smaller than
    * its cluster_id. Labels produced by any other scheme (arbitrary
    * cluster ids) would still yield a consistent partition here, but the
    * output labels could differ from the persisted ids. */
  def componentsIncremental(corpusLabels: DataFrame,
                            newEdges: DataFrame): DataFrame = Frames { f =>
    val und = f.persist(newEdges.select(least(col("src"), col("dst")).as("a"),
      greatest(col("src"), col("dst")).as("b")).distinct())
    val touchedV = und.select(col("a").as("id"))
      .union(und.select(col("b").as("id"))).distinct()
    val touchedClusters = corpusLabels
      .join(touchedV, Seq("id"), "left_semi")
      .select(col("cluster_id")).distinct()
    val members = f.persist(corpusLabels
      .join(touchedClusters, Seq("cluster_id"), "left_semi"))
    // CLUSTER-REP REDUCTION (r16 optimization, guide §2.3 — shuffle fewer
    // bytes per propagation round): untouched members of a touched
    // cluster never influence the propagation — their only contribution
    // was a seeded label equal to their cluster_id, which the cluster's
    // REP node (cluster_id is itself a member) contributes anyway, and a
    // member id can never BE a component min (id ≥ its cluster_id). So
    // the propagation runs UNSEEDED over just the new-edge vertices plus
    // one rep node per touched cluster, linked by per-cluster membership
    // buckets restricted to TOUCHED vertices:
    //   fixed point = min over each component of {touched cluster ids ∪
    //   non-member new-vertex ids} — exactly the pre-r16 seeded
    //   member-level fixed point (same initial label minima per
    //   component, same connectivity). Oracle-gated identical (q253).
    // Every member of a touched cluster then relabels through ONE rep-map
    // join at the end, instead of carrying O(members) rows through every
    // propagation round.
    val touchedLinks = f.persist(corpusLabels
      .join(touchedV, Seq("id"), "left_semi"))
    val edgeKey = concat_ws("_", col("a"), col("b"))
    val rows = und
      .select(col("a").as("id"), lit(0).as("band"), edgeKey.as("key"))
      .union(und.select(col("b").as("id"), lit(0).as("band"),
        edgeKey.as("key")))
      .union(touchedLinks.select(col("id"), lit(1).as("band"),
        concat(lit("m_"), col("cluster_id")).as("key")))
      .union(touchedLinks.select(col("cluster_id").as("id"),
        lit(1).as("band"),
        concat(lit("m_"), col("cluster_id")).as("key")).distinct())
    // the result below is eager, so this scope releases the label frame
    val relabeled = f.adopt(Dedup.transitiveClustersOver(rows)._1)
    // rep map: the new label of each touched cluster's rep carries to
    // every member (reps are nodes of `rows`, so `relabeled` covers them)
    val repMap = relabeled
      .select(col("id").as("cluster_id"), col("cluster_id").as("__nl"))
    val relabeledMembers = members.join(repMap, Seq("cluster_id"))
      .select(col("id"), col("__nl").as("cluster_id"))
    // new vertices outside every corpus cluster keep their own
    // propagated label (reps are members, so the anti-join drops them)
    val newVerts = relabeled
      .join(members.select(col("id")), Seq("id"), "left_anti")
      .select(col("id"), col("cluster_id"))
    val untouched = corpusLabels
      .join(members.select(col("id")), Seq("id"), "left_anti")
    f.result(untouched.select(col("id"), col("cluster_id"))
      .unionByName(relabeledMembers)
      .unionByName(newVerts))
  }

  /** Local clustering coefficients over the undirected support: per
    * vertex, coeff = 2·T(v) / (d(v)·(d(v)−1)) in EXACT floor micros —
    * T(v) from the oriented triangle join (each triangle credited to all
    * three corners), d(v) the distinct-neighbor degree. Vertices with
    * d < 2 are excluded (coefficient undefined). Returns the top `k` by
    * (coeff desc, vertex asc) — deterministic, vertex ids unique. */
  def clusteringTopK(edges: DataFrame, k: Int): DataFrame = Frames { f =>
    // lazy localCheckpoint: und is referenced 4× in one plan (degree +
    // three wedge-join legs) — truncating it plans the caller's edge
    // lineage once instead of four times (r16)
    val und = f.lazily(edges.select(least(col("src"), col("dst")).as("a"),
      greatest(col("src"), col("dst")).as("b")).distinct())
    val deg = und.select(col("a").as("v"))
      .union(und.select(col("b").as("v")))
      .groupBy(col("v")).agg(count(lit(1)).as("d"))
    val tri = und.as("e1").join(und.as("e2"), col("e1.b") === col("e2.a"))
      .select(col("e1.a").as("x"), col("e1.b").as("y"), col("e2.b").as("z"))
      .join(und.as("e3"),
        col("x") === col("e3.a") && col("z") === col("e3.b"))
      .select(explode(array(col("x"), col("y"), col("z"))).as("v"))
      .groupBy(col("v")).agg(count(lit(1)).as("t"))
    f.result(deg.filter(col("d") >= 2)
      .join(tri, Seq("v"), "left_outer")
      .select(col("v").as("vertex"), col("d").as("degree"),
        coalesce(col("t"), lit(0L)).as("triangles"),
        expr("(2000000 * coalesce(t, 0)) div (d * (d - 1))")
          .as("coeff_micros"))
      .orderBy(col("coeff_micros").desc, col("vertex"))
      .limit(k))
  }

  /** k-core decomposition step: the maximal subgraph where every vertex
    * has degree ≥ k in the subgraph, by iterated peeling — a MONOTONE
    * SHRINKING iteration (each round deletes vertices, never adds), the
    * dual convergence class to the label propagation's monotone labels.
    * Runs `rounds` peels and FAILS DIRECTED if the edge set is still
    * shrinking at the last round (the q186 convergence discipline: an
    * unconverged peel would ship a superset of the core silently) —
    * `rounds` bounds the gate; real graphs converge in a few peels
    * because each round removes all current sub-k vertices at once.
    * Returns per-vertex rows (v, degree-in-core) of the surviving core;
    * empty when the whole graph peels away. One keyed shuffle per round
    * over a SHRINKING edge set. */
  def kCore(edges: DataFrame, k: Int,
            rounds: Int = 8): DataFrame = Frames { f =>
    // lazy localCheckpoints per peel (r16): a persisted round kept the
    // full join chain back to the caller's edge lineage in its plan, so
    // each peel's count re-planned a tree one round deeper — the
    // pageRankTopK planning rationale applied to a shrinking loop
    var und = f.lazily(edges.select(least(col("src"), col("dst")).as("a"),
      greatest(col("src"), col("dst")).as("b")).distinct())
    var nEdges = und.count()
    var converged = nEdges == 0L
    var r = 0
    while (!converged && r < rounds) {
      val keep = und.select(col("a").as("v"))
        .union(und.select(col("b").as("v")))
        .groupBy(col("v")).agg(count(lit(1)).as("d"))
        .filter(col("d") >= k)
        .select(col("v"))
      val next = f.lazily(und
        .join(keep.select(col("v").as("a")), Seq("a"), "left_semi")
        .join(keep.select(col("v").as("b")), Seq("b"), "left_semi")
        .select(col("a"), col("b")))
      val nNext = next.count()
      f.release(und)
      und = next
      converged = nNext == nEdges || nNext == 0L
      nEdges = nNext
      r += 1
    }
    if (!converged) throw new IllegalStateException(
      s"kCore: peeling had not converged after $rounds rounds (edges " +
        s"still shrinking, $nEdges left) — raise `rounds`; shipping an " +
        "unconverged peel would silently return a superset of the core.")
    f.result(und.select(col("a").as("v"))
      .union(und.select(col("b").as("v")))
      .groupBy(col("v")).agg(count(lit(1)).as("core_degree")))
  }

  /** Exact triangle census over the UNDIRECTED support of the capped
    * edges (a pair counts if either endpoint retained it): the oriented
    * wedge join — e₁(a,b) ⋈ e₂(b,c) with a<b<c by construction, closed
    * by e₃(a,c) — counts each triangle exactly once, and the wedge
    * count is bounded by V·k² under the degree cap (never Σ deg² of the
    * raw projection). One row out: (n_vertices, n_edges, n_triangles). */
  def triangleStats(edges: DataFrame): DataFrame = Frames { f =>
    // lazy localCheckpoint: und is referenced 5× in one plan — the
    // clusteringTopK planning rationale (r16)
    val und = f.lazily(edges.select(least(col("src"), col("dst")).as("a"),
      greatest(col("src"), col("dst")).as("b")).distinct())
    val nV = und.select(col("a").as("v"))
      .union(und.select(col("b").as("v"))).distinct()
      .agg(count(lit(1)).as("n_vertices"))
    val nE = und.agg(count(lit(1)).as("n_edges"))
    val wedge = und.as("e1").join(und.as("e2"),
        col("e1.b") === col("e2.a"))
      .select(col("e1.a").as("x"), col("e2.b").as("z"))
    val nT = wedge.join(und.as("e3"),
        col("x") === col("e3.a") && col("z") === col("e3.b"))
      .agg(count(lit(1)).as("n_triangles"))
    f.result(nV.crossJoin(nE).crossJoin(nT))
  }

  /** HITS iterated to the exact-integer FIXED POINT (successive
    * authority vectors bit-equal), optionally WARM-STARTED from a
    * previous cadence's converged authorities (q277 — the incremental
    * rank refresh over the q272 link index): `initAuth` seeds the hub
    * vector through one half-step (h₀ = L∞-normalized E·a₀; targets the
    * new graph lacks drop out, new targets start cold), then the
    * [[hitsTopK]] iteration runs until a(t+1) == a(t) exactly.
    *
    * The floor divisions make the fixed point unique only up to ±1 unit
    * at the 10⁹ scale: different trajectories (cold vs warm) can settle
    * on NEIGHBORING fixed points (observed: one target off by 1 of 62
    * at the gate SF). Callers gate the COLD fixed point against the
    * unrolled oracle bit-exactly, and pin the warm vector to it with an
    * explicit ulp bound + a fewer-rounds assert — bit-exact
    * warm == cold is not a theorem in floored arithmetic and is not
    * claimed.
    *
    * Per iteration: the two keyed shuffles + 1-row max broadcasts of
    * [[hitsTopK]], plus ONE bounded driver action (a limit(1) existence
    * check on the successive-difference join — the Lloyd discipline).
    * Fails DIRECTED after `maxIters` rounds without a fixed point (the
    * floor map could in principle 2-cycle; it has not on any gated
    * corpus). Returns (full converged authority table — localCheckpoint,
    * caller-owned — and the round count). */
  def hitsConverge(edges: DataFrame, initAuth: Option[DataFrame] = None,
                   maxIters: Int = 14): (DataFrame, Int) = Frames { f =>
    // r17 (guide §2.4): each round joins the edge table by src (auth
    // half-step) and by dst (hub half-step) — a bare checkpoint left it
    // unpartitioned, so both half-steps re-exchanged the full edge table
    // every round while the rank-vector sides are O(vertices). Keep TWO
    // pre-partitioned, pre-sorted checkpointed copies (one per join key,
    // explicit REPARTITION_BY_NUM partition count so AQE can't
    // re-coalesce the alignment; the LogicalRDD captures partitioning +
    // ordering) — every round's sort-merge join then consumes the edge
    // side with no exchange and no sort; only the O(vertices) rank sides
    // and the partial-sum aggregates shuffle. The dst copy derives from
    // the src copy, so the caller's link lineage is evaluated once.
    // scale-adaptive partition count (guide §2, the transitiveClustersOver
    // rationale): LogicalRDD leaves pin every round fragment's partition
    // count, so size it to the edge table (~1M rows ≈ 100 MB per
    // partition), capped by the session setting
    val e0 = f.lazily(edges.select(col("src"), col("dst")).distinct())
    val edgeRows = e0.count()
    val shufP = edges.sparkSession.sessionState.conf.numShufflePartitions
    val loopP = math.max(1L, math.min(shufP.toLong,
      (edgeRows + 999999L) / 1000000L)).toInt
    val e = f.partitioned(e0, loopP, col("src"))
    val eByDst = f.partitioned(e, loopP, col("dst"))
    def normAuth(raw: DataFrame): DataFrame = {
      val m = raw.agg(max(col("ar")).as("amax"))
      raw.crossJoin(broadcast(m))
        .select(col("dst"),
          expr("CAST(ar * 1000000000 div amax AS BIGINT)").as("a"))
    }
    def normHub(raw: DataFrame): DataFrame = {
      val m = raw.agg(max(col("hr")).as("hmax"))
      raw.crossJoin(broadcast(m))
        .select(col("src"),
          expr("CAST(hr * 1000000000 div hmax AS BIGINT)").as("h"))
    }
    // EVERY round's auth/hub ends in a localCheckpoint: normAuth/
    // normHub reference their input TWICE (the table and its 1-row max),
    // so without per-round LogicalRDD truncation the analyzed plan
    // doubles per half-step — 2^rounds nodes OOMs the driver by round
    // ~10 (the duplicatedSpans multi-reference lineage trap; persist
    // caches data, never the plan). r17: BOTH half-steps checkpoint
    // LAZILY — ONE action per round (the fixed-point probe), which
    // materializes the round's auth AND the previous round's hub in the
    // same job. Lazy blocks must never outlive what they read, so each
    // frame is released only after the NEXT probe action has provably
    // materialized everything referencing it: the previous auth right
    // after the probe (the current hub — its only lazy reader — was
    // materialized by the same probe), and a hub one full round later
    // (`spentHub`). Released root-only (the [[Frames]] release rule).
    var auth: DataFrame =
      initAuth.map(a => f.eagerly(a.select(col("dst"), col("a")))).orNull
    var hub = f.lazily(initAuth match {
      case Some(_) =>
        normHub(eByDst.join(auth, Seq("dst"))
          .groupBy(col("src"))
          .agg(sum(col("a")).cast("decimal(38,0)").as("hr")))
      case None =>
        e.select(col("src")).distinct()
          .select(col("src"), lit(1000000000L).as("h"))
    })
    var spentHub: DataFrame = null
    var rounds = -1
    var i = 0
    while (rounds < 0 && i < maxIters) {
      i += 1
      val nextAuth = f.lazily(normAuth(
        e.join(hub, Seq("src"))
          .groupBy(col("dst"))
          .agg(sum(col("h")).cast("decimal(38,0)").as("ar"))))
      val fixed = auth != null &&
        nextAuth.as("n").join(auth.as("o"), Seq("dst"), "full")
          .filter(col("n.a").isNull || col("o.a").isNull ||
            col("n.a") =!= col("o.a"))
          .limit(1).isEmpty
      if (auth != null) {
        // the probe above ran: it materialized nextAuth, hence also the
        // current hub (nextAuth reads it) and the spent hub's last
        // reader — both releases are now safe. Round 1 cold-start runs
        // no probe (auth == null): nothing is materialized yet and
        // nothing may be released.
        f.release(spentHub)
        f.release(auth)
        // the first probe also proves BOTH partitioned copies are
        // materialized (the hub it computed reads eByDst, which reads e,
        // which reads e0) — the unpartitioned staging copy can go (a
        // no-op on later rounds: the scope no longer holds it)
        f.release(e0)
      }
      auth = nextAuth
      if (fixed) rounds = i
      else {
        val nextHub = f.lazily(normHub(
          eByDst.join(nextAuth, Seq("dst"))
            .groupBy(col("src"))
            .agg(sum(col("a")).cast("decimal(38,0)").as("hr"))))
        spentHub = hub
        hub = nextHub
      }
    }
    require(rounds > 0, s"hitsConverge: no exact fixed point within " +
      s"$maxIters iterations — raise maxIters or inspect the graph " +
      "for a floor-map cycle")
    (f.result(auth.select(col("dst"), col("a"))), rounds)
  }

  /** HITS hubs-and-authorities (Kleinberg 1999) over a DIRECTED (often
    * bipartite) edge set — the link-analysis dual of PageRank, natural
    * over the doc→href graph the HTML walker extracts (q268): a target
    * is authoritative when good hubs point at it, a hub is good when it
    * points at authorities.
    *
    * EXACT integer spelling (the PageRank discipline, with the
    * normalization HITS needs to keep iterations bounded): hubs start at
    * 10⁹; each iteration sums hub scores into raw authorities, rescales
    * by the MAXIMUM (L∞ norm — a_i = (raw_i · 10⁹) div max raw, pure
    * floor division over decimal(38,0) sums, so the oracle unrolls the
    * iterations bit-identically; the conventional L2 norm needs a square
    * root — not engine-exact), then mirrors the same two steps back into
    * hubs (skipped on the last iteration — the final authorities are the
    * result). All operands non-negative, so Spark `div` (truncate) and
    * DuckDB `//` (floor) agree. Overflow headroom: raw ≤ nHubs·10⁹, and
    * raw·10⁹ < 10³⁸ holds for any nHubs < 10²⁰.
    *
    * Scale: two keyed shuffles per iteration over the DISTINCT edge set
    * + a 1-row max broadcast each; each iteration's vectors persisted and
    * filled by the one top-k collect, then released with the scope.
    * Returns the top-`k`
    * authorities (target, authority_scaled), (score desc, target asc). */
  def hitsTopK(edges: DataFrame, iters: Int = 2,
               k: Int = 20): DataFrame = Frames { f =>
    require(iters >= 1, s"hitsTopK: iters must be >= 1, got $iters")
    val e = f.persist(edges.select(col("src"), col("dst")).distinct())
    var hub = e.select(col("src")).distinct()
      .select(col("src"), lit(1000000000L).as("h"))
    var auth: DataFrame = null
    // every vector is a persisted frame read by the next half-step's
    // cached plan; the one action (the collect below) fills them all and
    // the scope releases them on exit
    (1 to iters).foreach { i =>
      val aRaw = e.join(hub, Seq("src"))
        .groupBy(col("dst"))
        .agg(sum(col("h")).cast("decimal(38,0)").as("ar"))
      val aMax = aRaw.agg(max(col("ar")).as("amax"))
      auth = f.persist(aRaw.crossJoin(broadcast(aMax))
        .select(col("dst"),
          expr("CAST(ar * 1000000000 div amax AS BIGINT)").as("a")))
      if (i < iters) {
        val hRaw = e.join(auth, Seq("dst"))
          .groupBy(col("src"))
          .agg(sum(col("a")).cast("decimal(38,0)").as("hr"))
        val hMax = hRaw.agg(max(col("hr")).as("hmax"))
        hub = f.persist(hRaw.crossJoin(broadcast(hMax))
          .select(col("src"),
            expr("CAST(hr * 1000000000 div hmax AS BIGINT)").as("h")))
      }
    }
    collected(auth.orderBy(col("a").desc, col("dst"))
      .limit(k)
      .select(col("dst").as("target"), col("a").as("authority_scaled")))
  }
}
