package graft.tools
import org.apache.spark.sql.functions._

/** Per-phase decomposition of the round-16 optimization targets (the
  * bench's heaviest families): winnow incremental maintenance (q187/q196),
  * graph iterative loops (q249/q253/q257/q277), and the composed serving
  * stack (q313/q326). Times each sub-phase of the registered query bodies
  * so optimization work targets the phase that actually costs, per
  * spark_optimization_guide §1. Not part of the driver contract.
  *
  * Usage: SPARK_GRAFT_CPUS=32 sbt "runMain graft.tools.ProfileHot q187"
  */
object ProfileHot {
  def main(args: Array[String]): Unit = {
    val only = args.headOption.getOrElse("all")
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    new java.io.File("/tmp/sparklogs").mkdirs()
    val spark = graft.Sessions.local(cpus,
      graft.Sessions.NanosAsLong, graft.Sessions.Adaptive,
      "spark.eventLog.enabled" -> sys.env.getOrElse("GRAFT_EVENTLOG", "false"),
      "spark.eventLog.dir" -> "/tmp/sparklogs",
      "spark.eventLog.compress" -> "false",
      "spark.eventLog.rolling.enabled" -> "false")
    spark.sparkContext.setLogLevel("ERROR")
    def t[A](label: String)(f: => A): A = {
      val t0 = System.nanoTime()
      val r = f
      println(f"[hot] $label%-40s ${(System.nanoTime() - t0) / 1e9}%7.2f s")
      r
    }
    def noop(df: org.apache.spark.sql.DataFrame): Unit =
      df.write.mode("overwrite").format("noop").save()
    val s = spark
    val D = graft.functions.Dedup

    def q187(tag: String): Unit = {
      val table = "graft_prof_q187_winnowidx"
      graft.queries.Tables.dropStagedTable(s, table)
      val docs = s.read.parquet(s"$dir/documents.parquet")
      val corpus = docs.filter(col("doc_id") % 10 =!= 7)
      val batch = docs.filter(col("doc_id") % 10 === 7)
      val idx = t(s"$tag q187.1 winnowIndex build (lazy)")(
        D.winnowIndex(corpus, "doc_id", "text", n = 4, w = 8))
      t(s"$tag q187.2 index tap write")(
        D.winnowIndexTap(table, 8).write(idx, graft.sources.SinkMode.Replace))
      val families = t(s"$tag q187.3 clustersFromIndex (refresh)")(
        D.winnowClustersFromIndex(
          s.table(table), corpus, "doc_id", maxIters = 40)
          .withColumnRenamed("cluster_id", "family_id"))
      val out = t(s"$tag q187.4 familiesIncremental (adopt)")(
        D.winnowFamiliesIncremental(
          corpusIndex = s.table(table), corpusFamilies = families,
          batch = batch, idCol = "doc_id", textCol = "text",
          n = 4, w = 8, maxIters = 40, assertBucketScan = true,
          wideHash = false))
      t(s"$tag q187.5 final noop write")(noop(out))
      graft.queries.Tables.dropStagedTable(s, table)
    }

    def q186(tag: String): Unit = {
      val docs = s.read.parquet(s"$dir/documents.parquet")
      t(s"$tag q186 winnowClustersTransitive")(noop(
        D.winnowClustersTransitive(docs, "doc_id", "text",
          n = 4, w = 8, maxIters = 40)))
    }

    def q253parts(tag: String): Unit = {
      val G = graft.functions.Graph
      val li = s.read.parquet(s"$dir/lineitem.parquet")
      val edges = G.coOccurrenceEdges(li, "l_orderkey", "l_suppkey",
          maxDegree = 64)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val isNew = pmod(hash(col("src"), col("dst")), lit(5)) === 0
      val tmp = java.nio.file.Files
        .createTempDirectory("graft_prof_q253b").toString
      t(s"$tag q253p.1 componentLabels(old) write")(
        G.componentLabels(edges.filter(!isNew))
          .write.mode("overwrite").parquet(tmp))
      val corpusLabels = s.read.parquet(tmp)
      val newEdges = edges.filter(isNew)
      val und = newEdges.select(least(col("src"), col("dst")).as("a"),
          greatest(col("src"), col("dst")).as("b")).distinct()
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      println(s"[hot] $tag und=${und.count()}")
      val touchedV = und.select(col("a").as("id"))
        .union(und.select(col("b").as("id"))).distinct()
      println(s"[hot] $tag touchedV=${touchedV.count()}")
      val touchedClusters = corpusLabels
        .join(touchedV, Seq("id"), "left_semi")
        .select(col("cluster_id")).distinct()
      println(s"[hot] $tag touchedClusters=${touchedClusters.count()}")
      val members = corpusLabels
        .join(touchedClusters, Seq("cluster_id"), "left_semi")
      println(s"[hot] $tag members=${members.count()}")
      val touchedLinks = corpusLabels.join(touchedV, Seq("id"), "left_semi")
      println(s"[hot] $tag touchedLinks=${touchedLinks.count()}")
      t(s"$tag q253p.2 componentsIncremental")(noop(
        G.componentsIncremental(corpusLabels, newEdges)))
      edges.unpersist(); und.unpersist()
    }

    def graphs(tag: String): Unit = {
      val G = graft.functions.Graph
      val li = s.read.parquet(s"$dir/lineitem.parquet")
      val edges = t(s"$tag q253.0 coOccurrenceEdges (cached)") {
        val e = G.coOccurrenceEdges(li, "l_orderkey", "l_suppkey",
            maxDegree = 64)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        e.count(); e
      }
      val isNew = pmod(hash(col("src"), col("dst")), lit(5)) === 0
      val tmp = java.nio.file.Files
        .createTempDirectory("graft_prof_q253").toString
      t(s"$tag q253.1 componentLabels(old) write")(
        G.componentLabels(edges.filter(!isNew))
          .write.mode("overwrite").parquet(tmp))
      t(s"$tag q253.2 componentsIncremental")(noop(
        G.componentsIncremental(
          s.read.parquet(tmp), edges.filter(isNew))))
      edges.unpersist()
      t(s"$tag q257 kCore") {
        val e2 = G.coOccurrenceEdges(li, "l_orderkey", "l_partkey",
          maxDegree = 64)
        noop(G.kCore(e2, k = 60, rounds = 8))
      }
      t(s"$tag q249 pageRankTopK") {
        val e3 = G.coOccurrenceEdges(li, "l_orderkey", "l_partkey",
          maxDegree = 64)
        noop(G.pageRankTopK(e3, iters = 5, k = 20))
      }
    }

    def retrieval(tag: String): Unit = {
      val I = graft.functions.InvertedIndex
      val R = graft.functions.Relevance
      val Sim = graft.functions.Similarity
      val postT = "graft_prof_postings"
      val centsT = "graft_prof_ivf_cents"
      val bookT = "graft_prof_pq_book"
      val codesT = "graft_prof_ivf_codes"
      val vecsT = "graft_prof_raw_vecs"
      t(s"$tag q313.0 drop 5 staged tables")(
        Seq(postT, centsT, bookT, codesT, vecsT)
          .foreach(graft.queries.Tables.dropStagedTable(s, _)))
      val docs = s.read.parquet(s"$dir/documents.parquet")
      val e = s.read.parquet(s"$dir/embeddings.parquet")
      t(s"$tag q313.1 postings tap write")(
        I.indexTap(postT, 16).write(I.buildWithDl(docs, "doc_id", "text"),
          graft.sources.SinkMode.Replace))
      val statsTap = graft.sources.ParquetTap(
        System.getProperty("java.io.tmpdir") + "/graft_prof_stats")
      t(s"$tag q313.2 stats tap write")(
        statsTap.write(R.corpusStats(docs, "text"),
          graft.sources.SinkMode.Replace))
      val (ivfCents, lists) = t(s"$tag q313.3 ivfKMeansBuild")(
        Sim.ivfKMeansBuild(e, "vec_id", "embedding", nlist = 16, iters = 2))
      val (pqCents, codes) = t(s"$tag q313.4 pqBuild")(
        Sim.pqBuild(e, "vec_id", "embedding", m = 8, kSub = 16,
          iters = 2, dim = 64))
      val book = Sim.pqDenseCodebook(pqCents)
      t(s"$tag q313.5 cents+book saveAsTable") {
        ivfCents.write.mode("overwrite").saveAsTable(centsT)
        book.write.mode("overwrite").saveAsTable(bookT)
      }
      t(s"$tag q313.6 codes bucketed write") {
        val ivfCodes = lists.select(col("nn_id"), col("cent"))
          .join(Sim.pqPackCodes(codes, s.table(bookT)), Seq("nn_id"))
        graft.sources.BucketedTap(codesT, 8, Seq("cent"))
          .write(ivfCodes, graft.sources.SinkMode.Replace)
      }
      t(s"$tag q313.7 raw vecs bucketed write")(
        graft.sources.BucketedTap(vecsT, 8, Seq("vec_id"))
          .write(e.select(col("vec_id"), col("embedding")),
            graft.sources.SinkMode.Replace))
      Seq(postT, centsT, bookT, codesT, vecsT)
        .foreach(graft.queries.Tables.dropStagedTable(s, _))
    }

    def prbundle(tag: String): Unit = {
      val G = graft.functions.Graph
      val eps = 500000L
      val edgeT = "graft_prof_q314_pairw"
      val rankT = "graft_prof_q314_ranks"
      Seq(edgeT, rankT).foreach(graft.queries.Tables.dropStagedTable(s, _))
      val li = s.read.parquet(s"$dir/lineitem.parquet")
      val edgeTap = graft.sources.BucketedTap(edgeT, 8, Seq("src"))
      t(s"$tag q314.1 pairweights write")(
        edgeTap.write(
          G.coOccurrencePairWeights(
            li.filter(col("l_orderkey") % 50 =!= 3),
            "l_orderkey", "l_partkey"),
          graft.sources.SinkMode.Replace))
      val (preRank, _) = t(s"$tag q314.2 pre converge")(
        G.pageRankConverge(
          G.capByDegree(G.mergePairWeights(edgeTap.read(s)), 64),
          eps, None, 16))
      val rankTap = graft.sources.BucketedTap(rankT, 8, Seq("v"))
      t(s"$tag q314.3 rank tap write")(
        rankTap.write(preRank, graft.sources.SinkMode.Replace))
      t(s"$tag q314.4 append write")(
        edgeTap.write(
          G.coOccurrencePairWeights(
            li.filter(col("l_orderkey") % 50 === 3),
            "l_orderkey", "l_partkey"),
          graft.sources.SinkMode.Update))
      val merged = t(s"$tag q314.5 merged checkpoint")(
        G.capByDegree(G.mergePairWeights(edgeTap.read(s)), 64)
          .localCheckpoint(true))
      val scratch = t(s"$tag q314.6 scratch checkpoint")(
        G.coOccurrenceEdges(li, "l_orderkey", "l_partkey", 64)
          .localCheckpoint(true))
      t(s"$tag q314.7 exceptAll both ways")(
        require(merged.exceptAll(scratch).limit(1).isEmpty &&
          scratch.exceptAll(merged).limit(1).isEmpty, "merge != rebuild"))
      val (warm, rw) = t(s"$tag q314.8 warm converge")(
        G.pageRankConverge(merged, eps, Some(rankTap.read(s)), 16))
      val (cold, rc) = t(s"$tag q314.9 cold converge")(
        G.pageRankConverge(scratch, eps, None, 16))
      t(s"$tag q314.10 drift join") {
        val drift = warm.as("w").join(cold.as("c"), col("w.v") === col("c.v"))
          .agg(max(abs(col("w.r") - col("c.r"))).as("d"))
          .collect().head.getLong(0)
        require(drift <= eps && rw < rc && rc >= 2 && rc <= 12, "gate")
      }
      Seq(edgeT, rankT).foreach(graft.queries.Tables.dropStagedTable(s, _))
    }

    def bpe(tag: String): Unit = {
      val V = graft.functions.Vocab
      val docs = s.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"),
          regexp_replace(col("text"), lit("(\\S+)"),
            concat(lit("$1~"), col("doc_id").cast("string"))).as("text"))
      // r17 negative result, kept as the measurement hook: a doc-local
      // pair-counting variant (per-row array_sort + run-length encode,
      // no pair exchange — valid on the salted corpus where pairs never
      // span docs) measured SLOWER (18.1 vs 15.1 s prof pass): the
      // per-round cost is the split/zip/count CPU, not the exchange.
      t(s"$tag q276 phraseBpe grouped")(noop(
        V.phraseBpe(docs, "doc_id", "text", rounds = 16, perRound = 1024,
          requireFullRounds = true)))
    }

    def winnow(tag: String): Unit = {
      val docs = s.read.parquet(s"$dir/documents.parquet")
      t(s"$tag q186 winnowClustersTransitive")(noop(
        D.winnowClustersTransitive(docs, "doc_id", "text",
          n = 4, w = 8, maxIters = 40)))
      t(s"$tag q195 winnowClustersTransitive wide")(noop(
        D.winnowClustersTransitive(docs, "doc_id", "text",
          n = 4, w = 8, maxIters = 40, wideHash = true)))
    }

    def hits(tag: String): Unit = {
      val H = graft.functions.Html
      val G = graft.functions.Graph
      val docs = s.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"), col("text"))
      val blocks = H.htmlBlocks(
        H.withSynthHtml(docs, "doc_id", "text"), "id", "html")
      val edges = H.linkIndexRows(blocks.select(col("id"), col("links")))
        .select(col("id").as("src"), col("href").as("dst"))
        .localCheckpoint(true)
      val (aPre, _) = t(s"$tag q277 hitsConverge cold")(
        G.hitsConverge(edges))
      t(s"$tag q277 hitsConverge warm")(
        G.hitsConverge(edges, Some(aPre)))
    }

    def stream(tag: String): Unit = {
      // verdict #6 experiment: per-microbatch checkpoint-file checksum
      // cost (Spark 4 writes + verifies a checksum file per checkpoint
      // file; q123's restart already reads pre-checksum snapshots fine)
      val key = "spark.sql.streaming.checkpoint.fileChecksum.enabled"
      val qs = Seq("q112_stream_session_window", "q114_stream_static_join",
        "q96_stream_sliding", "q123_stream_checkpoint_recovery")
      try Seq("true", "false", "true", "false").zipWithIndex.foreach {
        case (on, i) =>
          s.conf.set(key, on)
          qs.foreach { q =>
            t(s"$tag#$i $q checksum=$on")(noop(
              graft.SparkEntry.queries(q)(s, dir)))
          }
      } finally s.conf.unset(key)
    }

    def roundplan(tag: String): Unit = {
      // Dump ONE propagation round's executed plan under (a) the r16
      // construction (bare lazy checkpoint — unpartitioned edge leaf)
      // and (b) the r17 construction (pre-partitioned + pre-sorted
      // copies) — the per-round evidence the final-plan files cannot
      // show (loop rounds execute eagerly inside the query body).
      import org.apache.spark.sql.functions.{col, min}
      val prevT = s.conf.get("spark.sql.autoBroadcastJoinThreshold")
      try {
        s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        import s.implicits._
        val rows = (0L until 400L).map(i => (i, 0, s"k${i % 37}"))
          .toDF("id", "band", "key")
        def round(br: org.apache.spark.sql.DataFrame,
                  brB: org.apache.spark.sql.DataFrame) = {
          val labels = br.select(col("id")).distinct()
            .withColumn("label", col("id"))
          val bucketLabel = br.join(labels, "id")
            .groupBy(col("band"), col("key"))
            .agg(min(col("label")).as("blabel"))
          val next = brB.join(bucketLabel, Seq("band", "key"))
            .groupBy(col("id")).agg(min(col("blabel")).as("label"))
          next.collect()
          next.queryExecution.executedPlan.toString
            .split("== Initial Plan ==").head
        }
        graft.exec.Frames { f =>
          val br16 = f.lazily(rows)
          println(s"===== $tag round plan: r16 construction =====")
          println(round(br16, br16))
          val P = s.sessionState.conf.numShufflePartitions
          val br17 = f.partitioned(rows, P, col("id"))
          val br17B = f.partitioned(br17, P, col("band"), col("key"))
          println(s"===== $tag round plan: r17 construction =====")
          println(round(br17, br17B))
        }
      } finally s.conf.set("spark.sql.autoBroadcastJoinThreshold", prevT)
    }

    def video(tag: String): Unit = {
      val M = graft.functions.Multimodal
      val docs = s.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"), col("text"))
      t(s"$tag q247.1 synth AVI payload only")(noop(
        M.withSynthAviPayload(docs, "doc_id", "text")))
      t(s"$tag q247.2 synth+frameHashes")(noop(
        M.videoFrameHashes(
          M.withSynthAviPayload(docs, "doc_id", "text"), "id", "payload")))
    }

    val todo = only.split(",").map(_.trim).toSet
    def want(k: String) = todo.contains("all") || todo.contains(k)
    // warm pass at the smallest SF mirrors Bench's methodology
    if (want("q187")) { q187("warm"); q187("prof") }
    if (want("q186")) { q186("warm"); q186("prof") }
    if (want("graph")) { graphs("warm"); graphs("prof") }
    if (want("q253p")) q253parts("prof")
    if (want("retrieval")) { retrieval("warm"); retrieval("prof") }
    if (want("prbundle")) { prbundle("warm"); prbundle("prof") }
    if (want("video")) { video("warm"); video("prof") }
    if (want("bpe")) { bpe("warm"); bpe("prof") }
    if (want("stream")) stream("prof")
    if (want("roundplan")) roundplan("prof")
    if (want("winnow")) { winnow("warm"); winnow("prof") }
    if (want("hits")) { hits("warm"); hits("prof") }
    spark.stop()
  }
}
