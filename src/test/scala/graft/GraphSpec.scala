package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.functions.Graph

/** Graph-operator semantics: degree-capped co-occurrence projection,
  * exact-integer PageRank, oriented triangle census. */
class GraphSpec extends SparkSpec {
  import spark.implicits._

  /** The join form of the degree cap, kept as the reference: pack each
    * row's (w, dst), keep each src's top `maxDegree` packed values, join
    * them back onto the rows and keep the rows whose value made it. */
  private def capByJoin(pw: DataFrame, maxDegree: Int): DataFrame = {
    val packed = pw.withColumn("nh", (col("w") * (1L << 25) +
      (lit((1L << 25) - 1) - col("dst"))).cast("double"))
    val tops = packed.groupBy(col("src"))
      .agg(graft.catalyst.TopKAgg(col("nh"), maxDegree).as("top"))
    packed.join(tops, Seq("src"))
      .filter(array_contains(col("top"), col("nh")))
      .select(col("src"), col("dst"), col("w"))
  }

  private def sameCap(pw: DataFrame, maxDegree: Int): Unit = {
    val (got, ref) = (Graph.capByDegree(pw, maxDegree), capByJoin(pw, maxDegree))
    assert(got.schema.map(f => f.name -> f.dataType) ==
      ref.schema.map(f => f.name -> f.dataType), got.schema)
    val rows = (df: DataFrame) => df.collect().map(_.toSeq.map(_.toString)).sortBy(_.mkString(","))
    val (g, r) = (rows(got), rows(ref))
    assert(g.toSeq == r.toSeq, s"maxDegree $maxDegree: exploded ${g.toSeq}, join ${r.toSeq}")
  }

  test("coOccurrenceEdges: weights, deterministic cap tie-break, " +
       "packing-domain guard") {
    val rel = Seq((10L, 1L), (10L, 2L), (10L, 3L), (20L, 1L), (20L, 2L))
      .toDF("k", "v")
    val e = Graph.coOccurrenceEdges(rel, "k", "v", maxDegree = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // src 1 keeps dst 2 (w=2 beats w=1); src 2 keeps dst 1 (w=2); src 3
    // ties (w=1 for both neighbors) → dst asc picks 1
    assert(e == Set((1L, 2L, 2L), (2L, 1L, 2L), (3L, 1L, 1L)))
    // uncapped: the full symmetric projection
    val full = Graph.coOccurrenceEdges(rel, "k", "v", maxDegree = 64)
    assert(full.count() == 6)
    // packing guard: a vertex id outside [0, 2^25) fails DIRECTED
    val wide = Seq((10L, 1L), (10L, 1L << 26)).toDF("k", "v")
    val ex = intercept[Exception] {
      Graph.coOccurrenceEdges(wide, "k", "v", 4).collect()
    }
    assert(ex.getMessage != null)
  }

  test("capByDegree reads the kept edges out of the top-k array: equal to " +
       "the join form on ties, maxDegree = 1, merged weights and int ids") {
    // src 1: three neighbors tie at w=1 behind a w=2 one; src 2 ties two
    val ties = Seq((1L, 2L, 1L), (1L, 3L, 1L), (1L, 4L, 1L), (1L, 5L, 2L),
      (2L, 7L, 3L), (2L, 6L, 3L), (3L, 0L, 0L)).toDF("src", "dst", "w")
    for (k <- Seq(1, 2, 3, 64)) sameCap(ties, k)
    val merged = Graph.mergePairWeights(
      Graph.coOccurrencePairWeights(Seq((10L, 1L), (10L, 2L), (11L, 1L),
        (11L, 2L), (11L, 3L)).toDF("k", "v"), "k", "v")
        .union(Graph.coOccurrencePairWeights(
          Seq((12L, 2L), (12L, 3L), (12L, 4L)).toDF("k", "v"), "k", "v")))
    for (k <- Seq(1, 2, 64)) sameCap(merged, k)
    // int vertex ids keep their type through the unpacking; a null src
    // drops out, as the join form's inner join dropped it
    sameCap(Seq((1, 2, 1L), (1, 3, 1L), (2, 1, 5L)).toDF("src", "dst", "w"), 1)
    sameCap(Seq((Some(1L), 2L, 1L), (None, 3L, 1L)).toDF("src", "dst", "w"), 2)
    val lineitem = Graph.coOccurrencePairWeights(
      spark.read.parquet(s"${sf()}/lineitem.parquet"), "l_orderkey", "l_suppkey")
    for (k <- Seq(1, 3)) sameCap(lineitem, k)
  }

  test("capByDegree: the packing-domain error still raises") {
    for ((dst, w) <- Seq((1L << 25, 1L), (-1L, 1L), (1L, 1L << 28),
                         (1L, -(1L << 28)))) {
      val ex = intercept[Exception] {
        Graph.capByDegree(Seq((1L, dst, w), (1L, 2L, 1L)).toDF("src", "dst", "w"), 4)
          .collect()
      }
      assert(ex.toString.contains("packing domain") ||
        Option(ex.getCause).exists(_.toString.contains("packing domain")), ex)
    }
  }

  test("the fixed-round loops leave no persistent RDDs, also when they throw") {
    val g = Seq((1L, 2L, 1L), (2L, 1L, 1L), (2L, 3L, 2L), (3L, 2L, 2L))
      .toDF("src", "dst", "w")
    val loops: Seq[DataFrame => DataFrame] = Seq(
      e => Graph.pageRankTopK(e.select(col("src"), col("dst")), iters = 3, k = 2),
      e => Graph.pageRankWeightedTopK(e, iters = 3, k = 2),
      e => Graph.hitsTopK(e.select(col("src"), col("dst")), iters = 3, k = 2))
    // the error fires inside the loop, when a frame first reads dst 3
    // (the repartition keeps the projection out of the optimizer's reach)
    val poisoned = g.repartition(2).withColumn("dst",
      when(col("dst") === 3L, raise_error(lit("poisoned edge"))).otherwise(col("dst")))
    for (loop <- loops) {
      val before = persistentRdds
      assert(loop(g).count() == 2)
      assert(persistentRdds == before, s"$persistentRdds persistent RDDs, $before before")
      interceptNoLeak[Exception](loop(poisoned).collect())
    }
  }

  test("pageRankTopK runs a bounded number of jobs, not a few per round") {
    val path = Seq((1L, 2L), (2L, 1L), (2L, 3L), (3L, 2L)).toDF("src", "dst")
    Graph.pageRankTopK(path, iters = 4, k = 3).collect() // warm
    val jobs = jobsOf(Graph.pageRankTopK(path, iters = 4, k = 3).collect())
    // one action per loop: the round frames' own stages and the collect;
    // a count per round would add two jobs a round (26 in all)
    assert(jobs <= 12, s"$jobs jobs for 4 rounds")
  }

  test("pageRankTopK: symmetric fixed point; hand-computed path graph") {
    // complete K3 is a fixed point of the scaled update: every vertex
    // keeps r = 150e6 + 2·((1e9·85) div 200) = 1e9 exactly
    val k3 = Seq((1L, 2L), (2L, 1L), (1L, 3L), (3L, 1L), (2L, 3L), (3L, 2L))
      .toDF("src", "dst")
    val r3 = Graph.pageRankTopK(k3, iters = 3, k = 3).collect()
    assert(r3.forall(_.getLong(1) == 1000000000L))
    // path 1–2–3, two hand-computed iterations (floor division):
    //   r1 = (575e6, 1850e6, 575e6)
    //   r2(2) = 150e6 + 2·((575e6·85) div 100)        = 1 127 500 000
    //   r2(1) = 150e6 + (1850e6·85) div 200           =   936 250 000
    val path = Seq((1L, 2L), (2L, 1L), (2L, 3L), (3L, 2L)).toDF("src", "dst")
    val r = Graph.pageRankTopK(path, iters = 2, k = 3).collect()
      .map(x => x.getLong(0) -> x.getLong(1)).toMap
    assert(r(2L) == 1127500000L && r(1L) == 936250000L &&
      r(3L) == 936250000L)
    // top-k ordering: rank desc, vertex asc
    val top = Graph.pageRankTopK(path, iters = 2, k = 2).collect()
      .map(_.getLong(0)).toSeq
    assert(top == Seq(2L, 1L))
    // asymmetric edges: a dst-only (dangling) vertex ranks as a sink —
    // it accumulates mass and passes none on (the round-11 advice fix:
    // src-only vertex derivation silently dropped it)
    val dangle = Seq((1L, 2L)).toDF("src", "dst")
    val rd = Graph.pageRankTopK(dangle, iters = 1, k = 2).collect()
      .map(x => x.getLong(0) -> x.getLong(1)).toMap
    assert(rd == Map(1L -> 150000000L, 2L -> 1000000000L), rd.toString)
  }

  test("hitsTopK: hand-computed two-iteration authorities with the L-inf " +
       "integer rescale; duplicate edges collapse") {
    // bipartite 1→x, 2→x, 3→y (plus a duplicate 1→x that must collapse):
    //   a1 raw: x = 2e9, y = 1e9 → rescale by max: x = 1e9, y = 5e8
    //   h1 raw: 1 = 1e9, 2 = 1e9, 3 = 5e8 → h1 = (1e9, 1e9, 5e8)
    //   a2 raw: x = 2e9, y = 5e8 → a2: x = 1e9, y = (5e8·1e9) div 2e9
    val edges = Seq((1L, "x"), (1L, "x"), (2L, "x"), (3L, "y"))
      .toDF("src", "dst")
    val got = Graph.hitsTopK(edges, iters = 2, k = 10).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == Map("x" -> 1000000000L, "y" -> 250000000L), got.toString)
    // one iteration = plain in-degree ranking (hub scores constant)
    val one = Graph.hitsTopK(edges, iters = 1, k = 10).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(one == Map("x" -> 1000000000L, "y" -> 500000000L), one.toString)
  }

  test("hitsConverge: reaches the exact fixed point; warm start from " +
       "the converged pre-append ranks takes fewer rounds; drift stays " +
       "within the floor-arithmetic ulp bound") {
    // a connected bipartite graph (10 hubs → x and y, 3 of them → z):
    // simulated fixed point at z = 333333333 after 10 rounds. (A
    // DISCONNECTED minority component decays geometrically to 0 under
    // the L∞ rescale — ~30 rounds for a 2-target toy — so convergence
    // tests need connected graphs, as does any caller with a small
    // round budget.)
    val pre = ((0L until 10L).flatMap(i => Seq((i, "x"), (i, "y"))) ++
      (0L until 3L).map(i => (i, "z"))).toDF("src", "dst")
    val (aPre, tPre) = Graph.hitsConverge(pre)
    assert(tPre >= 2, s"cold start cannot detect a fixed point before " +
      s"round 2, got $tPre")
    val preMap = aPre.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(preMap == Map("x" -> 1000000000L, "y" -> 1000000000L,
      "z" -> 333333333L), preMap.toString)
    // append one hub edge 100→z (the q277 cadence shape): warm start
    // from the pre-append fixed point must converge in fewer rounds
    val post = pre.unionAll(Seq((100L, "z")).toDF("src", "dst"))
    val (aCold, tCold) = Graph.hitsConverge(post)
    val (aWarm, tWarm) = Graph.hitsConverge(post, Some(
      aPre.select(org.apache.spark.sql.functions.col("dst"),
        org.apache.spark.sql.functions.col("a"))))
    assert(tWarm < tCold, s"warm=$tWarm cold=$tCold")
    val cm = aCold.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val wm = aWarm.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(cm.keySet == wm.keySet)
    cm.foreach { case (k, v) =>
      assert(math.abs(v - wm(k)) <= 2, s"$k: cold=$v warm=${wm(k)}") }
    // directed failure when the round budget can't reach a fixed point,
    // cold or warm, with every checkpointed frame released
    val ex = interceptNoLeak[IllegalArgumentException] {
      Graph.hitsConverge(post, maxIters = 1)
    }
    assert(ex.getMessage.contains("fixed point"))
    interceptNoLeak[IllegalArgumentException] {
      Graph.hitsConverge(post, Some(aPre), maxIters = 1)
    }
  }

  test("pageRankConverge: tolerance stop, agreement with the unrolled " +
       "update, warm-from-converged stops immediately, directed failure") {
    // complete K3 is an EXACT fixed point of the scaled update (every
    // round recomputes r = 1e9), so max |Δr| = 0 at round 1
    val k3 = Seq((1L, 2L), (2L, 1L), (1L, 3L), (3L, 1L), (2L, 3L), (3L, 2L))
      .toDF("src", "dst")
    val (rk3, t3) = Graph.pageRankConverge(k3, epsUnits = 0L)
    assert(t3 == 1)
    assert(rk3.collect().forall(_.getLong(1) == 1000000000L))
    // path 1–2–3 with ε = 8e8, hand-unrolled (the q249 spec's numbers):
    //   Δ₁ = max|r₁ − 1e9| = 8.5e8 > ε  (r₁ = 575e6, 1850e6, 575e6)
    //   Δ₂ = max|r₂ − r₁| = 722.5e6 ≤ ε → stop at round 2 with
    //   r₂ = (936 250 000, 1 127 500 000, 936 250 000)
    val path = Seq((1L, 2L), (2L, 1L), (2L, 3L), (3L, 2L)).toDF("src", "dst")
    val eps = 800000000L
    val (conv, rounds) = Graph.pageRankConverge(path, eps)
    assert(rounds == 2, s"expected the hand-computed stop at round 2, " +
      s"got $rounds")
    val cm = conv.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(cm == Map(1L -> 936250000L, 2L -> 1127500000L,
      3L -> 936250000L), cm.toString)
    // cross-check against the independently-coded unrolled loop
    val tm = Graph.pageRankTopK(path, iters = 2, k = 3).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(cm == tm, s"converge=$cm vs topK(2)=$tm")
    // warm start FROM the converged vector: the contraction keeps the
    // next delta ≤ λ·ε, so the refresh stops at round 1 within ε
    val (warm, rw) = Graph.pageRankConverge(path, eps,
      Some(conv.select(col("v"), col("r"))))
    assert(rw == 1)
    val wm = warm.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(wm.keySet == cm.keySet &&
      wm.forall { case (v, r) => math.abs(r - cm(v)) <= eps })
    // init hygiene: unknown vertices ignored, missing vertices start
    // cold at 1e9 — output covers exactly the graph's vertex set
    val (init, _) = Graph.pageRankConverge(path, eps,
      Some(Seq((2L, 900000000L), (99L, 5L)).toDF("v", "r")))
    assert(init.collect().map(_.getLong(0)).toSet == Set(1L, 2L, 3L))
    // directed failure when the budget can't reach tolerance, with
    // every checkpointed frame released
    for (budget <- Seq(1, 2)) {
      val ex = interceptNoLeak[IllegalArgumentException] {
        Graph.pageRankConverge(path, epsUnits = 0L, maxIters = budget)
      }
      assert(ex.getMessage.contains("units"))
    }
  }

  test("pair-weight artifact: appended batches merge to the from-scratch " +
       "capped graph — new vertex, strengthened pair, cap re-applied at " +
       "read (q314's maintenance fixture)") {
    // pre: orders 10 (a,b) and 11 (a,b,c); batch: order 12 (b,c,d) —
    // d is a NEW vertex, (b,c) strengthens from w=1 to w=2
    val pre = Seq((10L, 1L), (10L, 2L), (11L, 1L), (11L, 2L), (11L, 3L))
      .toDF("k", "v")
    val batch = Seq((12L, 2L), (12L, 3L), (12L, 4L)).toDF("k", "v")
    val all = pre.union(batch)
    val appended = Graph.coOccurrencePairWeights(pre, "k", "v")
      .union(Graph.coOccurrencePairWeights(batch, "k", "v"))
    val merged = Graph.capByDegree(Graph.mergePairWeights(appended), 64)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val scratch = Graph.coOccurrenceEdges(all, "k", "v", 64)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(merged == scratch, s"merged=$merged scratch=$scratch")
    assert(merged.contains((2L, 3L, 2L)) && merged.contains((2L, 4L, 1L)),
      merged.toString)
    // the cap is NOT additive: with maxDegree = 1, b keeps only its
    // strongest neighbor from the MERGED weights ((b,a) w=2 ties (b,c)
    // w=2 → dst asc keeps a); capping the pre table first would have
    // decided from stale weights
    val capped = Graph.capByDegree(Graph.mergePairWeights(appended), 1)
      .filter(col("src") === 2L)
      .collect().map(r => (r.getLong(1), r.getLong(2))).toSet
    assert(capped == Set((1L, 2L)), capped.toString)
    // warm start over the merged graph from the pre-converged ranks:
    // the NEW vertex (d) starts cold at 1e9 and still ranks
    val (preRank, _) = Graph.pageRankConverge(
      Graph.coOccurrenceEdges(pre, "k", "v", 64), epsUnits = 500000L)
    val (warm, _) = Graph.pageRankConverge(
      Graph.coOccurrenceEdges(all, "k", "v", 64), epsUnits = 500000L,
      initRank = Some(preRank))
    val wm = warm.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(wm.contains(4L) && wm.size == 4, wm.toString)
    val (cold, _) = Graph.pageRankConverge(
      Graph.coOccurrenceEdges(all, "k", "v", 64), epsUnits = 500000L)
    val cm = cold.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val drift = wm.map { case (v, r) => math.abs(r - cm(v)) }.max
    assert(drift <= 500000L, s"warm-vs-cold drift $drift")
  }

  test("pageRankWeightedTopK: mass splits by edge weight (hand-computed)") {
    // path 1–2–3 with weights: (1,2) w=3, (2,3) w=1. sw: 1→3, 2→4, 3→1.
    //   r1(1) = 150e6 + (1e9·85·3) div 400 = 787 500 000
    //   r1(2) = 150e6 + 850e6 (from 1) + 850e6 (from 3) = 1 850 000 000
    //   r1(3) = 150e6 + (1e9·85·1) div 400 = 362 500 000
    val g = Seq((1L, 2L, 3L), (2L, 1L, 3L), (2L, 3L, 1L), (3L, 2L, 1L))
      .toDF("src", "dst", "w")
    val r = Graph.pageRankWeightedTopK(g, iters = 1, k = 3).collect()
      .map(x => x.getLong(0) -> x.getLong(1)).toMap
    assert(r == Map(1L -> 787500000L, 2L -> 1850000000L, 3L -> 362500000L))
    // uniform weights reduce to the unweighted form
    val u = Seq((1L, 2L, 5L), (2L, 1L, 5L), (2L, 3L, 5L), (3L, 2L, 5L))
      .toDF("src", "dst", "w")
    val rw = Graph.pageRankWeightedTopK(u, iters = 2, k = 3).collect()
      .map(x => x.getLong(0) -> x.getLong(1)).toMap
    val ru = Graph.pageRankTopK(u.select(col("src"), col("dst")), iters = 2,
      k = 3).collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
    assert(rw == ru)
  }

  test("componentSizes: disjoint components labeled by their minima") {
    // path {1,2} plus triangle {3,4,5} — two components, sizes 2 and 3,
    // labels = component minima
    val edges = Seq((1L, 2L), (2L, 1L), (3L, 4L), (4L, 5L), (5L, 3L))
      .toDF("src", "dst")
    val r = Graph.componentSizes(edges).collect()
      .map(x => x.getLong(0) -> x.getLong(1)).toMap
    assert(r == Map(1L -> 2L, 3L -> 3L))
  }

  test("clusteringTopK: exact floor-micros coefficients, d<2 excluded") {
    // triangle {1,2,3} with tail 3–4: v1/v2 have d=2, t=1 → 1e6;
    // v3 has d=3, t=1 → 2e6/(3·2) = 333333; v4 has d=1 → excluded
    val edges = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L)).toDF("src", "dst")
    val r = Graph.clusteringTopK(edges, k = 10).collect()
      .map(x => (x.getLong(0), x.getLong(1), x.getLong(2), x.getLong(3)))
    assert(r.toSeq == Seq((1L, 2L, 1L, 1000000L), (2L, 2L, 1L, 1000000L),
      (3L, 3L, 1L, 333333L)))
  }

  test("componentsIncremental: merge relabels the losing component, " +
       "new vertices start fresh, untouched labels carry verbatim") {
    // corpus: {1,2} labeled 1, {3,4} labeled 3, {7,8} labeled 7
    val corpus = Seq((1L, 1L), (2L, 1L), (3L, 3L), (4L, 3L),
      (7L, 7L), (8L, 7L)).toDF("id", "cluster_id")
    // arrivals: 2–3 merges the first two components (4 must relabel to 1
    // though it touches no new edge); 5–6 is a brand-new component
    val arrivals = Seq((2L, 3L), (5L, 6L)).toDF("src", "dst")
    val r = Graph.componentsIncremental(corpus, arrivals).collect()
      .map(x => x.getLong(0) -> x.getLong(1)).toMap
    assert(r == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      5L -> 5L, 6L -> 5L, 7L -> 7L, 8L -> 7L))
  }

  test("kCore: cascade peel, surviving core degrees, empty graph, " +
       "non-convergence fails directed") {
    // K4 {1..4} with a pendant chain 4–5–6: 2-core = the K4 (5 and 6
    // peel in CASCADE — 6 first, then 5 — proving multi-round peeling)
    val g = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L),
      (3L, 4L), (4L, 5L), (5L, 6L)).toDF("src", "dst")
    val core2 = Graph.kCore(g, k = 2, rounds = 8).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(core2 == Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L))
    // k = 4 peels everything (K4 degrees are 3): empty result, no error
    assert(Graph.kCore(g, k = 4, rounds = 8).count() == 0)
    // rounds too small for the cascade → directed failure, not a
    // silent superset
    val ex = intercept[IllegalStateException] {
      Graph.kCore(g, k = 2, rounds = 1).collect()
    }
    assert(ex.getMessage.contains("not converged") ||
      ex.getMessage.contains("rounds"))
  }

  test("triangleStats: K4 census; path has none; direction-unioned " +
       "support") {
    val k4 = (for { a <- 1L to 4L; b <- 1L to 4L if a != b } yield (a, b))
      .toDF("src", "dst")
    val s = Graph.triangleStats(k4).head()
    assert(s.getLong(0) == 4 && s.getLong(1) == 6 && s.getLong(2) == 4)
    val path = Seq((1L, 2L), (2L, 3L)).toDF("src", "dst")
    val p = Graph.triangleStats(path).head()
    assert(p.getLong(0) == 3 && p.getLong(1) == 2 && p.getLong(2) == 0)
    // an edge kept in ONE direction still contributes to the support:
    // (1,2),(2,3) one-way plus (3,1) one-way closes the triangle
    val oneWay = Seq((1L, 2L), (2L, 3L), (3L, 1L)).toDF("src", "dst")
    assert(Graph.triangleStats(oneWay).head().getLong(2) == 1)
  }
}
