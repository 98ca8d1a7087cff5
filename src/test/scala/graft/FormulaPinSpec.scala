package graft

import org.apache.spark.sql.functions._

/** Brute-force recomputation pins for gate queries whose Spark and DuckDB
  * spellings are GENERATED FROM THE SAME CONSTANTS — the cross-engine hash
  * gate is blind to a wrong formula shared by both sides, so each
  * statistic is recomputed here from first principles (plain Scala over a
  * hand-built corpus) and compared against the registered query itself.
  * q105 has the same treatment in FunctionsSpec (sign-matrix
  * non-degeneracy); these cover q115 (surprisal) and q121 (drift). */
class FormulaPinSpec extends SparkSpec {
  import spark.implicits._

  /** Write a tiny documents table and return its dir (the registered
    * queries read `$dir/documents.parquet`). */
  private def stageDocs(rows: Seq[(Long, String, String)]): String = {
    val dir = java.nio.file.Files.createTempDirectory("formula_pin").toString
    rows.toDF("doc_id", "text", "source")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  test("q115 surprisal: floor-log2 bits match brute force and -log2 p within 1 bit") {
    // 3 docs, 12 tokens total: 'aa'×6, 'bb'×3, 'cc'×2, 'dd'×1
    val docs = Seq(
      (1L, "aa aa aa bb cc dd", "s0"),
      (2L, "aa aa bb cc", "s0"),
      (3L, "aa bb", "s0"))
    val dir = stageDocs(docs)
    val got = SparkEntry.queries("q115_surprisal")(spark, dir)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap

    // brute force from first principles, independent of the query's code
    val toks = docs.flatMap { case (id, text, _) =>
      text.split(" ").map(id -> _) }
    val cnt = toks.groupBy(_._2).view.mapValues(_.size.toLong).toMap
    val n = toks.size.toLong
    def flog2(x: Long) = 63 - java.lang.Long.numberOfLeadingZeros(x)
    def bits(t: String) = flog2(n) - flog2(cnt(t))
    val expect = toks.groupBy(_._1).view.mapValues { ts =>
      (ts.size.toLong, ts.map(t => bits(t._2)).sum) }.toMap
    assert(got == expect, s"got=$got expect=$expect")

    // semantic pin: the integer bits are the QUANTIZED true surprisal —
    // within 1 bit of -log2 p(tok) for every token (floor(log2 N) −
    // floor(log2 c) vs log2(N/c) differ by less than 1 either way)
    for (t <- cnt.keys) {
      val truth = -math.log(cnt(t).toDouble / n) / math.log(2)
      assert(math.abs(bits(t) - truth) < 1.0, s"token $t: ${bits(t)} vs $truth")
    }
    // and it is NOT degenerate: the rarest token is strictly more
    // surprising than the most common one
    assert(bits("dd") > bits("aa"))
  }

  test("q128 sequence packing: hand-computed bins, offsets, and invariants") {
    def words(k: Int) = Seq.fill(k)("w").mkString(" ")
    // classic one-stream-per-source math, pinned through pack(S=1):
    // token counts 100, 200, 50, 300 against budget 256:
    //   cum_prev = 0, 100, 300, 350 → bins 0, 0, 1, 1; offsets 0, 100, 44, 94
    val classic = Seq(
      (1L, words(100), "s0"), (2L, words(200), "s0"),
      (3L, words(50), "s0"), (4L, words(300), "s0"),
      // second source packs independently from zero
      (5L, words(300), "s1"), (6L, words(10), "s1"))
    val cdir = stageDocs(classic)
    val cgot = graft.functions.SequencePack.pack(
        spark.read.parquet(s"$cdir/documents.parquet")
          .select(col("source"), col("doc_id"),
            graft.functions.TextAnalysis.tokenCount(col("text")).as("n_tok")),
        "source", "doc_id", "n_tok", budget = 256L, substreams = 1)
      .collect().map(r => r.getLong(2) ->
        (r.getLong(1), r.getLong(3), r.getLong(4), r.getLong(5))).toMap
    assert(cgot == Map(
      1L -> (0L, 100L, 0L, 0L), 2L -> (0L, 200L, 0L, 100L),
      3L -> (0L, 50L, 1L, 44L), 4L -> (0L, 300L, 1L, 94L),
      5L -> (0L, 300L, 0L, 0L), 6L -> (0L, 10L, 1L, 44L)))

    // the registered q128 (salted, S=4): sub-streams pack independently.
    // s0 sub1 = ids {1, 5}: cum_prev 0, 100; sub2 = {2, 6}: 0, 200;
    // sub3 = {3, 7}: 0, 50; sub0 = {4, 8}: 0, 300 → id 8 is bin 1
    // offset 44 (300 = 256 + 44). s1 groups are singletons from zero.
    val salted = Seq(
      (1L, words(100), "s0"), (2L, words(200), "s0"),
      (3L, words(50), "s0"), (4L, words(300), "s0"),
      (5L, words(60), "s0"), (6L, words(70), "s0"),
      (7L, words(80), "s0"), (8L, words(90), "s0"),
      (9L, words(300), "s1"), (10L, words(10), "s1"))
    val dir = stageDocs(salted)
    val got = SparkEntry.queries("q128_sequence_packing")(spark, dir)
      .collect().map(r => r.getLong(2) ->
        (r.getLong(1), r.getLong(3), r.getLong(4), r.getLong(5))).toMap
    assert(got == Map(
      1L -> (1L, 100L, 0L, 0L), 2L -> (2L, 200L, 0L, 0L),
      3L -> (3L, 50L, 0L, 0L), 4L -> (0L, 300L, 0L, 0L),
      5L -> (1L, 60L, 0L, 100L), 6L -> (2L, 70L, 0L, 200L),
      7L -> (3L, 80L, 0L, 50L), 8L -> (0L, 90L, 1L, 44L),
      9L -> (1L, 300L, 0L, 0L), 10L -> (2L, 10L, 0L, 0L)))
    // invariants: sub = doc_id mod 4; offset within budget
    for ((id, (sub, _, _, off)) <- got) {
      assert(sub == id % 4)
      assert(off >= 0 && off < 256)
    }
  }

  test("packFragments: hand-computed boundary splits and the " +
       "Σ frag_len ≡ n_tok invariant") {
    def words(k: Int) = Seq.fill(k)("w").mkString(" ")
    // S=1 stream: 100, 200, 300 tokens, budget 256:
    //   doc 1: cum 0   → 1 frag  (bin 0 off 0   len 100)
    //   doc 2: cum 100 → 2 frags (bin 0 off 100 len 156; bin 1 off 0 len 44)
    //   doc 3: cum 300 → 2 frags (bin 1 off 44 len 212; bin 2 len 88)
    val docs = Seq(
      (1L, words(100), "s0"), (2L, words(200), "s0"),
      (3L, words(300), "s0"))
    val dir = stageDocs(docs)
    val packed = graft.functions.SequencePack.pack(
      spark.read.parquet(s"$dir/documents.parquet")
        .select(col("source"), col("doc_id"),
          graft.functions.TextAnalysis.tokenCount(col("text")).as("n_tok")),
      "source", "doc_id", "n_tok", budget = 256L, substreams = 1)
    val frags = graft.functions.SequencePack
      .packFragments(packed, "n_tok", 256L)
      .collect().map(r => (r.getLong(2), r.getLong(4)) ->
        (r.getLong(5), r.getLong(6), r.getLong(7))).toMap
    assert(frags == Map(
      (1L, 0L) -> (0L, 0L, 100L),
      (2L, 0L) -> (0L, 100L, 156L), (2L, 1L) -> (1L, 0L, 44L),
      (3L, 0L) -> (1L, 44L, 212L), (3L, 1L) -> (2L, 0L, 88L)))
    // conservation: fragments of a doc sum to its token count
    val sums = frags.toSeq.groupBy(_._1._1)
      .view.mapValues(_.map(_._2._3).sum).toMap
    assert(sums == Map(1L -> 100L, 2L -> 200L, 3L -> 300L))
  }

  test("q132 mixture sampling: brute-force recomputation of rates and keep set") {
    def words(k: Int) = Seq.fill(k)("w").mkString(" ")
    // src0 dominant (rate ends up ~0.2%), src10 fractional (~29%), src19
    // under-target (clamps to keep-everything)
    val docs =
      (1L to 10L).map(i => (i, words(100), "src0")) ++
        (21L to 25L).map(i => (i, words(20), "src10")) ++
        (31L to 33L).map(i => (i, words(10), "src19"))
    val dir = stageDocs(docs)
    val got = SparkEntry.queries("q132_mixture_sample")(spark, dir)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet

    // independent recomputation from first principles (plain Scala md5 +
    // the documented integer arithmetic, no query code)
    val toks = docs.map { case (id, text, src) =>
      (id, src, text.split(" ").length.toLong) }
    val actual = toks.groupBy(_._2).view.mapValues(_.map(_._3).sum).toMap
    val total = actual.values.sum
    val ratio = graft.queries.Extensions.MixtureBudgetRatioMicros
    val budget = (total / 1000000) * ratio + ((total % 1000000) * ratio) / 1000000
    def rate(src: String): Long = {
      val s = graft.queries.Extensions.MixtureShares(src)
      val target = (budget / 1000000) * s + ((budget % 1000000) * s) / 1000000
      math.min(1000000L, target * 1000000L / actual(src))
    }
    def md5prefix40(s: String): Long = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8"))
      java.lang.Long.parseLong(d.map(b => f"$b%02x").mkString.take(10), 16)
    }
    val salt = graft.queries.Extensions.MixtureSalt
    val expect = toks.filter { case (id, src, _) =>
      md5prefix40(salt + id) * 1000000L < rate(src) * (1L << 40) }
      .map { case (id, src, n) => (src, id, n) }.toSet
    assert(got == expect, s"got=$got expect=$expect")
    // semantic pins: the clamp keeps ALL of the under-target source, and
    // the share ramp orders the rates
    assert(rate("src19") == 1000000L)
    assert(expect.count(_._1 == "src19") == 3)
    assert(rate("src0") < rate("src10"))
  }

  test("q121 drift: exact integer L1 statistic matches brute force and N·M·Σ|p−q|") {
    // probe source src0 skewed long (20-token docs), rest short (10-token)
    def words(k: Int) = Seq.fill(k)("w").mkString(" ")
    val docs = Seq(
      (1L, words(20), "src0"), (2L, words(20), "src0"), (3L, words(10), "src0"),
      (4L, words(10), "srcA"), (5L, words(10), "srcA"), (6L, words(10), "srcB"),
      (7L, words(20), "srcB"), (8L, words(30), "srcB"))
    val dir = stageDocs(docs)
    val got = SparkEntry.queries("q121_drift")(spark, dir)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3))).toMap

    // brute force: bucket = floor(tokens/10)*10 over a whitespace count
    val bucketed = docs.map { case (_, text, src) =>
      (text.split(" ").length / 10 * 10).toLong -> (src == "src0") }
    val buckets = bucketed.map(_._1).distinct
    val m = bucketed.count(_._2).toLong  // probe total
    val n = bucketed.count(!_._2).toLong // rest total
    val expect = buckets.map { b =>
      val np = bucketed.count(x => x._1 == b && x._2).toLong
      val nr = bucketed.count(x => x._1 == b && !x._2).toLong
      b -> (np, nr, math.abs(nr * m - np * n))
    }.toMap
    assert(got == expect, s"got=$got expect=$expect")

    // semantic pin: Σ drift_term == N·M·Σ|p̂_i − q̂_i| (the scale-free
    // two-sample L1 distance), recomputed in floating point
    val l1 = buckets.map { b =>
      val p = bucketed.count(x => x._1 == b && x._2).toDouble / m
      val q = bucketed.count(x => x._1 == b && !x._2).toDouble / n
      math.abs(p - q)
    }.sum
    val driftSum = got.values.map(_._3).sum.toDouble
    assert(math.abs(driftSum - n * m * l1) < 1e-6 * n * m,
      s"sum=$driftSum vs nmL1=${n * m * l1}")
    // non-degeneracy: the designed skew is detected (nonzero statistic)
    assert(driftSum > 0)
  }

  test("q143 hash classifier: logit equals a plain-Scala recomputation of " +
       "the hashing-trick weights, multiplicity included") {
    val dir = stageDocs(Seq(
      (1L, "the cat sat on the mat", "s"),   // repeated 'the' counts twice
      (2L, "one token", "s"),
      (3L, "zz", "s")))
    def md5prefix40(s: String): Long = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8"))
      java.lang.Long.parseLong(d.map(b => f"$b%02x").mkString.take(10), 16)
    }
    def weight(tok: String): Long =
      md5prefix40("w#" + (md5prefix40(tok) % 4096)) % 201L - 100L
    val expect = Map(
      1L -> "the cat sat on the mat", 2L -> "one token", 3L -> "zz"
    ).map { case (id, text) =>
      id -> text.split(" ").map(weight).sum
    }
    val got = graft.queries.Extensions.queries("q143_hash_classifier")(spark, dir)
      .collect().map(r => r.getLong(0) ->
        (r.getInt(1), r.getLong(2), r.getBoolean(3))).toMap
    assert(got.keySet == expect.keySet)
    expect.foreach { case (id, logit) =>
      val (nTok, gotLogit, kept) = got(id)
      assert(gotLogit == logit, s"doc $id logit")
      assert(kept == (logit >= 0L), s"doc $id kept flag")
    }
    assert(got(1L)._1 == 6 && got(2L)._1 == 2 && got(3L)._1 == 1)
    // non-degeneracy: the weight table is not constant across these buckets
    assert(Set("the", "cat", "sat", "on", "mat", "one", "token", "zz")
      .map(weight).size > 1)
  }

  test("q150 BPE merges: plain-Scala reference implementation agrees, " +
       "including multi-char merges, the tie-break, and self-pair runs") {
    // Sennrich-shaped fixture: 'er' dominates, then the MERGED symbol
    // 'er' must itself pair ('w er' / 'd er'); 'xy' vs 'xz' counts tie
    // at one iteration (lexicographic winner pinned); 'aaaa' exercises
    // the single-pass self-pair semantics.
    val dir = stageDocs(Seq(
      (1L, "lower wider lower wider lower", "s"),
      (2L, "wer der wer der wer der", "s"),
      (3L, "xy xz xy xz", "s"),
      (4L, "aaaa aaaa aaaa", "s")))

    // reference BPE from first principles: plain JVM strings, no Spark.
    // Pair counting is per-adjacent-occurrence; merge application is
    // String.replace — left-to-right, non-overlapping — the exact
    // documented contract of Vocab.bpeMerges.
    val words = Seq("lower" -> 3L, "wider" -> 2L, "wer" -> 3L, "der" -> 3L,
      "xy" -> 2L, "xz" -> 2L, "aaaa" -> 3L)
    var vocab = words.map { case (w, c) =>
      (" " + w.toCharArray.mkString(" ") + " ", c) }
    val expect = Seq.newBuilder[(Int, String, String, Long)]
    for (it <- 1 to 8) {
      val counts = collection.mutable.LinkedHashMap[(String, String), Long]()
      for ((repr, c) <- vocab; syms = repr.trim.split(" ");
           i <- 0 until syms.length - 1)
        counts((syms(i), syms(i + 1))) =
          counts.getOrElse((syms(i), syms(i + 1)), 0L) + c
      if (counts.nonEmpty) {
        val ((l, r), c) = counts.toSeq.sortBy { case ((l, r), c) =>
          (-c, l, r) }.head
        expect += ((it, l, r, c))
        vocab = vocab.map { case (repr, cnt) =>
          (repr.replace(s" $l $r ", s" $l$r "), cnt) }
      }
    }
    val before = persistentRdds
    val learned = SparkEntry.queries("q150_bpe_merges")(spark, dir)
    // the 8 merge frames are all released: the result is a local relation
    assert(persistentRdds <= before,
      s"$persistentRdds persistent RDDs after learning, $before before")
    val got = learned
      .collect().map(r =>
        (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3))).toSeq
      .sortBy(_._1)
    assert(got == expect.result(), s"got=$got expect=${expect.result()}")
    // the learned sequence exercises what it claims: some merge consumes
    // a previously-merged multi-char symbol, and the self-pair fired
    assert(got.exists(m => m._2.length > 1 || m._3.length > 1),
      "no multi-char merge learned")
    assert(got.exists(m => m._2 == m._3), "no self-pair merge learned")
    // executable documentation of the single-pass self-pair semantics
    // (odd occurrences in a run merge; the shared space is consumed)
    assert(" a a a a ".replace(" a a ", " aa ") == " aa a a ")
  }

  test("q152 BPE encode: per-doc subword counts match a plain-Scala " +
       "replay of the learned merges") {
    val texts = Map(
      1L -> "lower wider lower wider lower",
      2L -> "wer der wer der wer der",
      3L -> "xy xz xy xz",
      4L -> "aaaa aaaa aaaa")
    val dir = stageDocs(texts.toSeq.map { case (id, t) => (id, t, "s") })
    // the learned merges (their correctness is pinned by the q150 test);
    // here we pin that the ENCODE pass applies them faithfully
    val merges = SparkEntry.queries("q150_bpe_merges")(spark, dir)
      .collect().sortBy(_.getInt(0)).map(r => (r.getString(1), r.getString(2)))
    def encode(w: String): Int = {
      var repr = " " + w.toCharArray.mkString(" ") + " "
      for ((l, r) <- merges) repr = repr.replace(s" $l $r ", s" $l$r ")
      repr.trim.split(" ").length
    }
    val expect = texts.map { case (id, t) =>
      val ws = t.split(" ")
      id -> (ws.length.toLong, ws.map(encode(_).toLong).sum,
        ws.map(_.length.toLong).sum) }
    val got = SparkEntry.queries("q152_bpe_encode")(spark, dir)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(got == expect, s"got=$got expect=$expect")
    // non-degeneracy: the merges actually compress (subwords < chars),
    // but encoding never fuses across a word boundary (subwords >= words)
    assert(got.values.forall(v => v._2 >= v._1 && v._2 <= v._3))
    assert(got.values.exists(v => v._2 < v._3))
  }

  test("q157 flat BPE encode: identical to the nested chain, and a " +
       "300-merge chain executes at constant plan depth") {
    val texts = Map(
      1L -> "lower wider lower wider lower",
      2L -> "wer der wer der wer der",
      3L -> "xy xz xy xz",
      4L -> "aaaa aaaa aaaa")
    val dir = stageDocs(texts.toSeq.map { case (id, t) => (id, t, "s") })
    val flat = SparkEntry.queries("q157_bpe_encode_flat")(spark, dir)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    val nested = SparkEntry.queries("q152_bpe_encode")(spark, dir)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(flat == nested, s"flat=$flat nested=$nested")
    // depth gate: a merge list far past the nested chain's analyzable
    // bound runs as ONE expression node and matches a plain-Scala replay
    val subs = (1 to 300).map(i => (s" a a ", s" aa ")).take(1) ++
      (2 to 300).map { i =>
        val s = "a" * i; (s" $s$s ", " XX ") } // mostly-no-op long chain
    val got = Seq(("a " * 40).trim).toDF("w")
      .select(graft.catalyst.BpeEncode(
        concat(lit(" "), col("w"), lit(" ")), subs).as("e"))
      .collect()(0).getString(0)
    var expect = " " + ("a " * 40).trim + " "
    for ((p, r) <- subs) if (expect.contains(p)) expect = expect.replace(p, r)
    assert(got == expect)
  }

  test("q158 phrase BPE: plain-Scala replay of round-batched derivation " +
       "and application") {
    val texts = Map(
      1L -> "the cat sat on the mat",
      2L -> "the cat ran to the cat",
      3L -> "on the mat sat the cat",
      4L -> "the cat the cat the cat")
    val dir = stageDocs(texts.toSeq.map { case (id, t) => (id, t, "s") })
    val perRound = 3
    for (rounds <- Seq(2, 3)) {
      var reprs = texts.map { case (id, t) => id -> (" " + t + " ") }
      for (_ <- 1 to rounds) {
        val pc = scala.collection.mutable.Map[(String, String), Long]()
        for ((_, repr) <- reprs) {
          val t = repr.trim.split(" ")
          for (i <- 0 until t.length - 1) {
            pc((t(i), t(i + 1))) = pc.getOrElse((t(i), t(i + 1)), 0L) + 1
          }
        }
        val top = pc.toSeq
          .sortBy { case ((l, r), c) => (-c, l, r) }.take(perRound)
        reprs = reprs.map { case (id, repr) =>
          var s = repr
          for (((l, r), _) <- top) s = s.replace(s" $l $r ", s" ${l}_$r ")
          id -> s
        }
      }
      val expect = texts.map { case (id, t) =>
        id -> (t.split(" ").length, reprs(id).trim.split(" ").length) }
      val before = persistentRdds
      val out = graft.functions.Vocab.phraseBpe(
        spark.read.parquet(s"$dir/documents.parquet"), "doc_id", "text",
        rounds, perRound)
      // every round's frame is released except the last, which the
      // returned relation reads (caller-owned)
      assert(persistentRdds <= before + 1,
        s"rounds=$rounds: $persistentRdds persistent RDDs, $before before")
      val got = out.collect()
        .map(r => r.getLong(0) -> (r.getInt(1), r.getInt(2))).toMap
      assert(got == expect, s"rounds=$rounds: got=$got expect=$expect")
      // non-degeneracy: at least one phrase merge fired
      assert(got.exists { case (_, (nw, ns)) => ns < nw })
    }
  }

  test("q151 vocab growth: hand-computed Heaps curve, including a bucket " +
       "with zero new types and gapless cumulative sums") {
    // bucketSize=50 (the registered query): ids 0..49 → bucket 0,
    // 50..99 → bucket 1, 100..149 → bucket 2. Bucket 1 repeats bucket
    // 0's tokens only (zero new types); bucket 2 adds two new types.
    val dir = stageDocs(Seq(
      (0L, "a b a", "s"), (1L, "b c", "s"),
      (60L, "c a a b", "s"),
      (110L, "d e a", "s")))
    val got = SparkEntry.queries("q151_vocab_growth")(spark, dir)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    val expect = Map(
      0L -> (3L, 3L, 5L, 5L),   // types a,b,c; 5 tokens
      1L -> (0L, 3L, 4L, 9L),   // no new types; 4 tokens
      2L -> (2L, 5L, 3L, 12L))  // d,e new; 3 tokens
    assert(got == expect, s"got=$got expect=$expect")
  }

  test("q155 Stupid Backoff: plain-Scala reference agrees and every " +
       "backoff arm fires (seen tri, tri→bi, bi→uni, OOV zero)") {
    // train = ids %50 != 3; batch = ids %50 == 3 with ' qz<id%5>' appended
    // (the registered query's split). Counts from train: uni a1 b1 c2 d2
    // x1 e1 (N=8); bi 'a b'1 'b c'1 'c d'2 'x c'1; tri 'a b c'1 'b c d'1
    // 'x c d'1. Batch doc 3 = 'z c d a b c e qz3' exercises, in order:
    // 'z c d' α·c(c d)/c(c)=0.4 → 400000; 'c d a' α²·c(a)/N=0.16/8 →
    // 20000; 'd a b' α·c(a b)/c(a)=0.4; 'a b c' seen → 1/1 → 1000000;
    // 'b c e' α²·c(e)/N → 20000; 'c e qz3' OOV → 0.
    val docs = Seq(
      (1L, "a b c d", "s0"),
      (2L, "x c d", "s0"),
      (4L, "e", "s0"),
      (3L, "z c d a b c e", "s0"),
      (53L, "hi", "s0"))
    val dir = stageDocs(docs)
    val got = SparkEntry.queries("q155_sb_fluency")(spark, dir)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap

    // plain-Scala Stupid Backoff, independent of the query's spelling
    val train = docs.filter(_._1 % 50 != 3).map(_._2.split(" ").toSeq)
    val cnt = scala.collection.mutable.Map.empty[Seq[String], Long]
      .withDefaultValue(0L)
    for (t <- train; n <- 1 to 3; i <- 0 to t.size - n)
      cnt(t.slice(i, i + n)) += 1
    val nTok = train.map(_.size).sum.toDouble
    def sb(w1: String, w2: String, w3: String): Double =
      if (cnt(Seq(w1, w2, w3)) > 0)
        cnt(Seq(w1, w2, w3)).toDouble / cnt(Seq(w1, w2))
      else 0.4 * (
        if (cnt(Seq(w2, w3)) > 0) cnt(Seq(w2, w3)).toDouble / cnt(Seq(w2))
        else 0.4 * (cnt(Seq(w3)).toDouble / nTok))
    def posScores(id: Long, text: String): Seq[Long] =
      (text + " qz" + (id % 5)).split(" ").toSeq.sliding(3)
        .filter(_.size == 3)
        .map(g => math.floor(1000000.0 * sb(g(0), g(1), g(2))).toLong).toSeq
    val expect = docs.filter(_._1 % 50 == 3).map { case (id, text, _) =>
      val ss = posScores(id, text)
      id -> (ss.size.toLong, ss.sum)
    }.toMap
    assert(got == expect, s"got=$got expect=$expect")

    // arm pins, hand-computed (comments above): all four regimes present
    val s3 = posScores(3L, "z c d a b c e")
    assert(s3 == Seq(400000L, 20000L, 400000L, 1000000L, 20000L, 0L), s3)
    assert(got(3L) == (6L, 1840000L))
    // a <3-token batch doc keeps its (0, 0) row rather than vanishing
    assert(got(53L) == (0L, 0L))
  }

  test("q165 fertility: per-slice integer micros match a plain-Scala replay " +
       "and a hand-computed slice") {
    import graft.functions.Vocab
    val merges = Seq(("e", "r"), ("er", "s"))
    val docs = Seq(
      (1L, "er ers xx", "en", "sA"),
      (2L, "ers er", "en", "sA"),
      (3L, "xx yy", "de", "sB")).toDF("doc_id", "text", "lang", "source")
    def encode(w: String): Int = {
      var repr = " " + w.toCharArray.mkString(" ") + " "
      for ((l, r) <- merges) repr = repr.replace(s" $l $r ", s" $l$r ")
      repr.trim.split(" ").length
    }
    val corpus = Seq(
      ("en", "sA", Seq("er", "ers", "xx", "ers", "er")),
      ("de", "sB", Seq("xx", "yy")))
    val expect = corpus.map { case (lang, src, ws) =>
      val nw = ws.length.toLong
      val ns = ws.map(encode(_).toLong).sum
      val nc = ws.map(_.length.toLong).sum
      (lang, src) -> (nw, ns, nc, ns * 1000000L / nw, nc * 1000000L / ns)
    }.toMap
    val got = Vocab.fertility(docs, "doc_id", "text",
        Seq("lang", "source"), merges)
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5),
          r.getLong(6))).toMap
    assert(got == expect, s"got=$got expect=$expect")
    // hand-computed anchor (not derived from the replay code): the en/sA
    // slice is 5 words → 6 subwords ('er'/'ers' each one symbol after
    // the two merges, 'xx' stays two) over 12 chars
    assert(got(("en", "sA")) ==
      ((5L, 6L, 12L, 1200000L, 2000000L)))
  }

  test("q294 pruned EM: plain-Scala replay of the whole schedule — seed, " +
       "Viterbi tie order, usage, loss-proxy prune, coverage floor") {
    import graft.functions.Vocab
    def bits(x: Long): Long = 63 - java.lang.Long.numberOfLeadingZeros(x)
    // reference implementation, written independently of Vocab's code
    def viterbi(w: String, scored: Map[String, Long]): (String, Int, Long) = {
      // best (seg, np, sc) per prefix length under (sc DESC, np ASC,
      // seg ASC); pieces up to 4 chars
      val best = new Array[(String, Int, Long)](w.length + 1)
      best(0) = ("", 0, 0L)
      for (i <- 1 to w.length) {
        var b: (String, Int, Long) = null
        for (l <- 1 to math.min(4, i)) {
          val p = w.substring(i - l, i)
          if (scored.contains(p) && best(i - l) != null) {
            val (ps, pn, pc) = best(i - l)
            val cand = (if (ps.isEmpty) p else ps + "|" + p,
              pn + 1, pc + scored(p))
            if (b == null || cand._3 > b._3 ||
                (cand._3 == b._3 && (cand._2 < b._2 ||
                  (cand._2 == b._2 && cand._1 < b._1)))) b = cand
          }
        }
        best(i) = b
      }
      best(w.length)
    }
    def scoreOf(t: Map[String, Long]): Map[String, Long] = {
      val bTot = bits(t.values.sum)
      t.map { case (p, f) => p -> (bits(f) - bTot) }
    }
    val rows = Seq((1L, "abab abab cded cded cded ab", "s"),
      (2L, "abab cded ab ab fgfg", "s"))
    val words = rows.flatMap(_._2.split(" ")).groupBy(identity)
      .map { case (w, xs) => w -> xs.length.toLong }
    // seed: singles + top-6 multi by (f·len DESC, p ASC), occurrence-
    // weighted substrings up to length 4
    val subs = words.toSeq.flatMap { case (w, cnt) =>
      for (s <- 0 until w.length; l <- 1 to math.min(4, w.length - s))
        yield (w.substring(s, s + l), cnt)
    }.groupBy(_._1).map { case (p, xs) => p -> xs.map(_._2).sum }
    val topK = 6
    val multi = subs.filter(_._1.length >= 2).toSeq
      .sortBy { case (p, f) => (-f * p.length, p) }.take(topK)
    val chars = subs.filter(_._1.length == 1)
    var model: Map[String, Long] = chars ++ multi
    val refSchedule = Seq.newBuilder[(Long, Long)]
    for (_ <- 1 to 2) { // rounds = 2, keepPct = 50
      val scored = scoreOf(model)
      val usage = words.toSeq.flatMap { case (w, cnt) =>
        viterbi(w, scored)._1.split("\\|").map(_ -> cnt)
      }.groupBy(_._1).map { case (p, xs) => p -> xs.map(_._2).sum }
      val m = usage.count(_._1.length >= 2)
      val keepN = (m * 50 + 99) / 100
      val kept = usage.filter(_._1.length >= 2).toSeq
        .sortBy { case (p, u) => (-u * (p.length - 1), p) }.take(keepN)
      refSchedule += ((m.toLong, keepN.toLong))
      model = chars.map { case (c, _) =>
        c -> math.max(usage.getOrElse(c, 0L), 1L) } ++ kept
    }
    val scoredF = scoreOf(model)
    val expect = words.map { case (w, cnt) =>
      val (seg, np, sc) = viterbi(w, scoredF)
      w -> ((cnt, seg, np.toLong, sc))
    }
    val docs = rows.toDF("doc_id", "text", "source")
    val (df, schedule) = Vocab.unigramEmPruned(docs, "text",
      rounds = 2, keepPct = 50, maxPieceLen = 4, topK = topK)
    assert(schedule == refSchedule.result(), s"schedule=$schedule")
    val got = df.collect().map(r => r.getString(0) ->
      ((r.getLong(1), r.getString(2), r.getLong(3), r.getLong(4)))).toMap
    assert(got == expect, s"got=$got\nexpect=$expect")
    // the schedule must actually have pruned a used piece
    assert(schedule.forall { case (m, k) => k < m }, schedule.toString)
  }
}
