package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.sources._

/** Direct calls into two engine layers, timed from outside: each tap kind
  * the `etl_flows` round trips use, over one fixed frame, and each kernel
  * `GraftExtensions` registers in SQL, by name, over the benchmark input. */
object Probes {
  private def seconds(f: => Unit): Double = {
    val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
  }

  /** Best of two timings after one untimed call. */
  private def timed(f: => Unit): Double = {
    f
    math.min(seconds(f), seconds(f))
  }

  private def noop(df: DataFrame): Unit =
    df.write.mode("overwrite").format("noop").save()

  def taps(spark: SparkSession, dataDir: String, scratch: String): Map[String, Double] = {
    val frame = spark.read.parquet(s"$dataDir/orders.parquet")
      .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderstatus")
      .cache()
    frame.count()
    val schema = frame.schema
    val pairs = frame.select(col("o_orderkey").cast("string"), col("o_orderstatus"))
    def dir(kind: String) = s"$scratch/tap_probe_$kind"
    val kinds: Seq[(String, Tap, DataFrame)] = Seq(
      ("parquet", ParquetTap(dir("parquet")), frame),
      ("csv", CsvTap(dir("csv"), delimiter = "|", header = true,
        schema = Some(schema)), frame),
      ("orc", OrcTap(dir("orc")), frame),
      ("seqfile", SequenceFileTap(dir("seqfile")), pairs))
    val out = kinds.flatMap { case (kind, tap, df) =>
      val w = timed(tap.write(df, SinkMode.Replace))
      val r = timed(noop(tap.read(spark)))
      Seq(s"sources.$kind.write_s" -> w, s"sources.$kind.read_s" -> r)
    }.toMap
    frame.unpersist()
    out
  }

  /** (kernel, input view, SQL) for each kernel. */
  val Kernels: Seq[(String, String, String)] = Seq(
    ("md5_prefix40", "docs", "SELECT md5_prefix40(text) FROM docs"),
    ("md5_prefix60", "docs", "SELECT md5_prefix60(text) FROM docs"),
    ("minhash_sig", "docs", "SELECT minhash_sig(split(text, ' '), 64) FROM docs"),
    ("minhash_agg", "docs",
      "SELECT lang, minhash_agg(split(text, ' '), 64) FROM docs GROUP BY lang"),
    ("simhash32", "docs", "SELECT simhash32(split(text, ' ')) FROM docs"),
    ("rolling_fingerprint", "docs",
      "SELECT rolling_fingerprint(split(text, ' ')) FROM docs"),
    ("shingles", "docs", "SELECT shingles(split(text, ' '), 3) FROM docs"),
    ("winnow_fp", "docs", "SELECT winnow_fp(split(text, ' '), 4, 8) FROM docs"),
    ("cosine_sim", "emb",
      "SELECT cosine_sim(embedding, reverse(embedding)) FROM emb"),
    ("exact_sum_micros", "li",
      "SELECT l_returnflag, exact_sum_micros(l_extendedprice) FROM li GROUP BY l_returnflag"),
    ("top_token_mass_micros", "docs",
      "SELECT top_token_mass_micros(split(text, ' ')) FROM docs"),
    ("topk_agg", "li",
      "SELECT l_returnflag, topk_agg(l_extendedprice, 10) FROM li GROUP BY l_returnflag"),
    ("misra_gries", "li",
      "SELECT l_returnflag, misra_gries(cast(l_partkey AS string), 16) FROM li GROUP BY l_returnflag"),
    ("mink_pairs_agg", "li",
      "SELECT l_returnflag, mink_pairs_agg(l_partkey, l_orderkey, 10) FROM li GROUP BY l_returnflag"))

  /** Kernel throughput in input rows per second. The 500-document corpus
    * and the embeddings are repeated 10 times so that a call is not all
    * planning. */
  def kernels(spark: SparkSession, dataDir: String): Map[String, Double] = {
    val views = Map(
      "docs" -> spark.read.parquet(s"$dataDir/documents.parquet")
        .crossJoin(spark.range(10).toDF("rep")).drop("rep"),
      "emb" -> spark.read.parquet(s"$dataDir/embeddings.parquet")
        .crossJoin(spark.range(10).toDF("rep")).drop("rep"),
      "li" -> spark.read.parquet(s"$dataDir/lineitem.parquet"))
    val rows = views.map { case (k, df) =>
      val cached = df.cache()
      cached.createOrReplaceTempView(k)
      k -> cached.count()
    }
    val out = Kernels.map { case (fn, view, sql) =>
      s"kernels.$fn.rows_per_s" -> rows(view) / timed(noop(spark.sql(sql)))
    }.toMap
    views.keys.foreach(v => spark.catalog.dropTempView(v))
    spark.catalog.clearCache()
    out
  }
}
