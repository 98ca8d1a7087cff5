package graft.functions

import org.apache.spark.sql.{DataFrame, Column}
import org.apache.spark.sql.functions._

/** Multinomial Naive Bayes document classification in EXACT integer
  * arithmetic — the classic fastText-replacement quality/language router
  * of LLM data pipelines, quantized to bits so Spark and the DuckDB
  * oracle agree bit-for-bit (the q115/q264 `bin()` discipline):
  *
  *   score(c, d) = (⌊log2 nDocs(c)⌋ − ⌊log2 N⌋)
  *               + Σ_positions (⌊log2 (cnt(w,c) + 1)⌋ − ⌊log2 (tok(c) + V)⌋)
  *
  * i.e. add-one-smoothed multinomial NB with every log2 floored — a
  * deterministic quantization of the real posterior (argmax fidelity is
  * NOT claimed vs float NB; the formula above IS the contract, and the
  * oracle recomputes it exactly). Prediction is argmax with the total
  * tie order (score DESC, class ASC).
  *
  * The MODEL is one self-describing table (the q273 single-table
  * discipline): kind='wc' rows carry per-(class, word) token counts,
  * kind='docs' rows the per-class document counts, kind='tok' rows the
  * per-class token totals; the smoothing denominator's V (train vocab
  * size) is derivable from the wc rows themselves — no extra persisted
  * state. Model size is O(V · classes): the merge-list/count-table carry
  * class, persisted once through [[nbModelTap]] and never retrained at
  * arrival cadence.
  *
  * Scale shape of scoring (the 100 TB path, executed in the q284 gate):
  * batch positions CROSS JOIN the class table (broadcast, O(classes)
  * rows) then LEFT JOIN the wc slice (broadcast, O(V·classes)) — the
  * zipfian token key never enters a shuffle; the only exchange is the
  * uniform per-doc aggregation. An unseen (w, c) pair contributes
  * bits(0 + 1) = 0 through the null arm — add-one smoothing firing is
  * therefore visible in the values, and the q284 batch plants novel
  * tokens so it provably fires.
  *
  * Reference frame: the reference engine has no classifier surface; this
  * is a first-class LLM-pipeline extension (SURVEY §2.28) next to the
  * kernelized profile classifier (TextAnalysis.langIdProfile, q188). */
object Classify {

  /** ⌊log2 x⌋ for x ≥ 1, exact: length(bin(x)) − 1. */
  private def bits(x: Column): Column = (length(bin(x)) - 1).cast("long")

  /** Train the NB model: one corpus scan → the self-describing
    * (kind, c, w, n) table. */
  def nbTrainCounts(docs: DataFrame, classCol: String,
                    textCol: String): DataFrame = {
    val pos = docs
      .select(col(classCol).as("c"), explode(split(col(textCol), " ")).as("w"))
      .filter(length(col("w")) > 0)
    val wc = pos.groupBy("c", "w").agg(count(lit(1)).as("n"))
      .select(lit("wc").as("kind"), col("c"), col("w"), col("n"))
    val tok = pos.groupBy("c").agg(count(lit(1)).as("n"))
      .select(lit("tok").as("kind"), col("c"), lit(null: String).as("w"), col("n"))
    val dc = docs.groupBy(col(classCol).as("c")).agg(count(lit(1)).as("n"))
      .select(lit("docs").as("kind"), col("c"), lit(null: String).as("w"), col("n"))
    wc.unionByName(tok).unionByName(dc)
  }

  /** The tap the frozen model persists through — plain parquet; scoring
    * broadcasts the O(V·classes) table, it never bucket-joins on it. */
  def nbModelTap(path: String): graft.sources.ParquetTap =
    graft.sources.ParquetTap(path)

  /** The model as the scorers carry it on the driver, read in ONE
    * action: classes ascending, each class's prior bits
    * ⌊log2 nDocs(c)⌋ − ⌊log2 N⌋ and per-position denominator bits
    * ⌊log2 (tok(c) + V)⌋, with V the distinct non-null `w` of the wc
    * rows, and the wc rows as (w, c, n). */
  private final case class NbModel(classes: Array[String], prior: Array[Long],
                                   denom: Array[Long],
                                   wc: Array[(String, String, Long)])

  private def readModel(model: DataFrame): NbModel = {
    val rows = model.select(col("kind"), col("c"), col("w"), col("n")).collect()
    def counts(kind: String) = rows.filter(_.getString(0) == kind)
      .map(r => (r.getString(1), r.getLong(3)))
    val docs = counts("docs").sortBy(_._1)
    require(docs.nonEmpty, "nb: model has no class rows")
    val tok = counts("tok").toMap
    val wc = rows.filter(_.getString(0) == "wc")
      .map(r => (r.getString(2), r.getString(1), r.getLong(3)))
    val vocabV = wc.iterator.map(_._1).filter(_ != null).distinct.size.toLong
    def b(x: Long): Long = (63 - java.lang.Long.numberOfLeadingZeros(x)).toLong
    val nTotal = docs.map(_._2).sum
    NbModel(docs.map(_._1), docs.map { case (_, nd) => b(nd) - b(nTotal) },
      docs.map { case (c, _) => b(tok.getOrElse(c, 0L) + vocabV) }, wc)
  }

  /** Score a batch against a (possibly frozen) model. Per batch doc:
    * (idCol, pred, best_bits, margin) — pred by (score DESC, class ASC),
    * margin = best − runner-up (≥ 0, exact). Docs with no tokens are
    * absent (mirrored by the oracle's inner position join). */
  def scoreNaiveBayes(model: DataFrame, batch: DataFrame,
                      idCol: String = "doc_id",
                      textCol: String = "text"): DataFrame = {
    val spark = model.sparkSession
    // per-class stats from the model's one driver read; the wc slice is
    // broadcast below, so its rows already cross the driver once
    val m = readModel(model)
    val classes = spark.createDataFrame(m.classes.indices.map { i =>
      // prior bits + the per-position denominator bits, both per class
      (m.classes(i), m.prior(i), m.denom(i))
    }).toDF("c", "prior_bits", "denom_bits")

    val pos = batch
      .select(col(idCol), explode(split(col(textCol), " ")).as("w"))
      .filter(length(col("w")) > 0)
    val wc = model.filter(col("kind") === "wc").select(col("c"), col("w"), col("n"))
    val perClass = pos
      .crossJoin(broadcast(classes))
      .join(broadcast(wc), Seq("c", "w"), "left")
      .groupBy(col(idCol), col("c"), col("prior_bits"))
      .agg(sum(coalesce(bits(col("n") + 1), lit(0L)) - col("denom_bits"))
        .as("like_bits"))
      .select(col(idCol), col("c"),
        (col("prior_bits") + col("like_bits")).as("score"))
    perClass
      .groupBy(col(idCol))
      .agg(array_sort(collect_list(struct((-col("score")).as("ns"),
        col("c").as("c")))).as("a"))
      .select(col(idCol),
        col("a").getItem(0).getField("c").as("pred"),
        (-col("a").getItem(0).getField("ns")).as("best_bits"),
        (col("a").getItem(1).getField("ns") -
          col("a").getItem(0).getField("ns")).as("margin"))
  }

  /** The KERNEL form — the whole posterior as one [[graft.catalyst.NbScore]]
    * expression (model collected into its reference objects: classes
    * sorted ascending, per-class prior/denominator bits, the (w →
    * per-class counts) map). Bit-identical to [[scoreNaiveBayes]] (the
    * q288 gate shares q283's oracle) with the plan collapsed to a single
    * scan-shaped projection: zero joins, zero exchanges — and therefore
    * stateless under structured streaming (the q289 router). */
  def scoreNaiveBayesKernel(model: DataFrame, batch: DataFrame,
                            idCol: String = "doc_id",
                            textCol: String = "text"): DataFrame = {
    val m = readModel(model)
    val idx = m.classes.zipWithIndex.toMap
    // O(V · classes) driver carry — the model IS the carry (merge-list
    // contract); absent (w, c) pairs stay 0 (the unseen arm)
    val wcMap = m.wc.groupBy(_._1).map { case (w, rows) =>
      val a = new Array[Long](m.classes.length)
      rows.foreach { case (_, c, n) => a(idx(c)) = n }
      w -> a
    }
    val scored = graft.catalyst.NbScore(col(textCol),
      m.classes.toSeq, m.prior.toSeq, m.denom.toSeq, wcMap)
    batch.select(col(idCol), scored.as("r"))
      .filter(col("r").isNotNull) // token-less docs: the join form drops them
      .select(col(idCol),
        split(col("r"), ",").getItem(0).as("pred"),
        split(col("r"), ",").getItem(1).cast("long").as("best_bits"),
        split(col("r"), ",").getItem(2).cast("long").as("margin"))
  }

  /** Shared oracle CTEs: NB counts over `source` docs, scored positions
    * over `batch` docs — the formula of the scaladoc, verbatim in SQL. */
  /** Public for composed oracles (q304 distillation): `source` must
    * yield (c, text), `batch` (doc_id, text). */
  def nbOracleSql(source: String, batch: String): String =
    nbOracle(source, batch)

  private def nbOracle(source: String, batch: String): String =
    s"""WITH train AS MATERIALIZED ($source),
       |batch AS MATERIALIZED ($batch),
       |tpos AS MATERIALIZED (
       |  SELECT c, unnest(string_split(text, ' ')) AS w FROM train),
       |tp AS (SELECT c, w FROM tpos WHERE len(w) > 0),
       |wc AS MATERIALIZED (SELECT c, w, count(*) AS n FROM tp GROUP BY 1, 2),
       |tokc AS (SELECT c, count(*) AS n FROM tp GROUP BY 1),
       |dc AS (SELECT c, count(*) AS nd FROM train GROUP BY 1),
       |vv AS (SELECT count(DISTINCT w) AS v FROM wc),
       |ntot AS (SELECT sum(nd) AS n FROM dc),
       |cls AS MATERIALIZED (
       |  SELECT dc.c,
       |    (length(bin(dc.nd)) - 1)
       |      - (length(bin((SELECT n FROM ntot))) - 1) AS prior_bits,
       |    (length(bin(coalesce(tokc.n, 0) + (SELECT v FROM vv))) - 1)
       |      AS denom_bits
       |  FROM dc LEFT JOIN tokc USING (c)),
       |bpos AS MATERIALIZED (
       |  SELECT doc_id, w FROM (
       |    SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM batch)
       |  WHERE len(w) > 0),
       |scored AS (
       |  SELECT p.doc_id, k.c,
       |    k.prior_bits + sum(
       |      coalesce(length(bin(wc.n + 1)) - 1, 0) - k.denom_bits) AS score
       |  FROM bpos p CROSS JOIN cls k
       |  LEFT JOIN wc ON wc.c = k.c AND wc.w = p.w
       |  GROUP BY 1, 2, k.prior_bits),
       |ranked AS (
       |  SELECT doc_id, c, score,
       |    row_number() OVER (PARTITION BY doc_id
       |                       ORDER BY score DESC, c ASC) AS rn
       |  FROM scored)
       |SELECT b.doc_id, b.c AS pred, CAST(b.score AS BIGINT) AS best_bits,
       |  CAST(b.score - r2.score AS BIGINT) AS margin
       |FROM (SELECT * FROM ranked WHERE rn = 1) b
       |JOIN (SELECT * FROM ranked WHERE rn = 2) r2 USING (doc_id)""".stripMargin

  /** q283 oracle: self-scoring over the full corpus. */
  def nbSelfOracleSql(classCol: String = "lang"): String =
    nbOracle(s"SELECT $classCol AS c, text FROM documents",
      "SELECT doc_id, text FROM documents")

  /** q284 oracle: frozen %50≠3 model, %50=3 batch with planted novel
    * tokens (the lmArrivalCtes qz/qw pattern) so add-one smoothing's
    * unseen-word arm provably fires. */
  def nbArrivalOracleSql(classCol: String = "lang"): String =
    nbOracle(
      s"SELECT $classCol AS c, text FROM documents WHERE doc_id % 50 <> 3",
      // single-line on purpose: a multi-line fragment interpolated into
      // nbOracle's stripMargin block would lose the leading '|' of '||'
      "SELECT doc_id, text || ' qz' || CAST(doc_id % 5 AS VARCHAR) || " +
        "' qw' || CAST(doc_id % 5 AS VARCHAR) AS text " +
        "FROM documents WHERE doc_id % 50 = 3")
}
