package graft.tools
import org.apache.spark.sql.functions._

/** Per-phase decomposition of q158 (phraseBpe) at sf0.1 — identifies
  * whether the cost is the counting scans, the checkpoint
  * materializations, or the merge application. */
object ProfilePhrase {
  def main(args: Array[String]): Unit = {
    val spark = graft.Sessions.local("32", graft.Sessions.Adaptive)
    spark.sparkContext.setLogLevel("ERROR")
    val dir = "/root/testdata/sf0.1"
    def t[A](label: String)(f: => A): A = {
      val t0 = System.nanoTime()
      val r = f
      System.err.println(f"[profile] $label%-28s ${(System.nanoTime() - t0) / 1e9}%6.2f s")
      r
    }
    // warm
    graft.functions.Vocab.phraseBpe(
      spark.read.parquet(s"$dir/documents.parquet"), "doc_id", "text", 4, 64)
      .write.mode("overwrite").format("noop").save()
    t("whole phraseBpe (warm)") {
      graft.functions.Vocab.phraseBpe(
        spark.read.parquet(s"$dir/documents.parquet"), "doc_id", "text", 4, 64)
        .write.mode("overwrite").format("noop").save()
    }
    // phases
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    var reprs = t("initial checkpoint") {
      docs.select(col("doc_id"),
        size(split(col("text"), " ")).as("n_words"),
        concat(lit(" "), col("text"), lit(" ")).as("repr")).localCheckpoint()
    }
    for (round <- 1 to 4) {
      val tt = split(trim(col("repr")), " ")
      val top = t(s"round $round pair agg+collect") {
        reprs.filter(size(tt) >= 2)
          .select(explode(transform(sequence(lit(1), size(tt) - 1),
            i => struct(element_at(tt, i).as("l"),
              element_at(tt, i + 1).as("r")))).as("p"))
          .groupBy(col("p.l").as("l"), col("p.r").as("r"))
          .agg(count(lit(1)).as("pc"))
          .orderBy(col("pc").desc, col("l"), col("r"))
          .limit(64).collect()
      }
      val subs = top.map(r =>
        (s" ${r.getString(0)} ${r.getString(1)} ",
          s" ${r.getString(0)}_${r.getString(1)} ")).toSeq
      reprs = t(s"round $round apply+checkpoint") {
        val a = reprs.withColumn("repr",
          graft.catalyst.BpeEncode(col("repr"), subs))
        if (round < 4) a.localCheckpoint() else a
      }
    }
    t("final noop write") {
      reprs.select(col("doc_id"), col("n_words"),
        size(split(trim(col("repr")), " ")).as("n_symbols"))
        .write.mode("overwrite").format("noop").save()
    }
    spark.stop()
  }
}
