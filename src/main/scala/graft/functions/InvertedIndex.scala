package graft.functions

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import TextAnalysis.tokens

/** Persisted inverted index (term → posting list): the lookup structure
  * that turns "which documents mention these terms" from a corpus scan
  * into an index probe. [[Relevance.bm25TopK]] and
  * [[Contamination.overlapReport]] answer one-off questions by scanning
  * the corpus; a curation team that asks term questions every day builds
  * THIS once and amortizes — the same build-once/probe-many discipline as
  * the near-dup band index ([[Dedup.bandIndexTap]]) and the IVF lists
  * ([[Similarity]]'s `ivfKMeansBuild`), applied to the text itself.
  *
  * Layout: one posting row per (term, id) with its term frequency,
  * persisted through a [[graft.sources.BucketedTap]] bucketed BY TERM.
  * Spark prunes buckets on bucket-column equality/IN predicates, so a
  * k-term lookup reads ONLY the buckets those k terms hash into — at
  * 100 TB the probe cost is O(postings of the query terms), never
  * O(index); the plan-visible witness is the index scan's bucket set,
  * k-ish of B buckets (the q144 gate's `PrunedScan` contract). The scan
  * prunes to those buckets' files whether or not the planner reads it
  * bucketed.
  *
  * Build shape: one corpus scan, explode to (term, id), count into tf —
  * the agg keys are (term, id) pairs, near-uniform even though terms
  * alone are zipfian (the doc component spreads each hot term), so the
  * build is one well-balanced shuffle; the bucketed write then pays the
  * one layout shuffle every persisted index pays at bootstrap.
  *
  * Reference anchor: the reference has no index structure of any kind —
  * every cascading-flink query is a full-scan dataflow; the inverted
  * index is part of this engine's amortization surface. */
object InvertedIndex {

  /** Posting rows `(term, id, tf)` for `df`'s `textCol` — one row per
    * distinct (term, document) pair, `tf` = occurrences in that doc. */
  def build(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol).as("id"),
        explode(tokens(col(textCol))).as("term"))
      .groupBy(col("term"), col("id"))
      .agg(count(lit(1)).as("tf"))

  /** Posting rows with the DOCUMENT LENGTH denormalized onto every row
    * — `(term, id, tf, dl)`. The layout decision that makes index-served
    * BM25 ([[Relevance.bm25FromIndex]]) a pure index probe: tf and dl
    * both live on the posting, so scoring never joins a corpus-sized
    * doc-length table (at 100 TB that join would dwarf the probe).
    * Append-only under arrival (immutable ids — the q133 contract). */
  def buildWithDl(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val toks = tokens(col(textCol))
    df.select(col(idCol).as("id"), size(toks).cast("long").as("dl"),
        explode(toks).as("term"))
      .groupBy(col("term"), col("id"))
      .agg(count(lit(1)).as("tf"), max(col("dl")).as("dl"))
  }

  /** The STATELESS per-row twin of [[buildWithDl]] — posting rows
    * derived entirely WITHIN each document row (every occurrence of a
    * term in one document lives in that document's own text, so tf is
    * a pure per-row expression: occurrences among this row's tokens;
    * dl likewise), no groupBy, no state. That is exactly what Append-
    * mode Structured Streaming needs (the q286 discipline): each
    * arriving document explodes to its own posting rows in-flight and
    * APPENDS to the index — arrival maintenance with zero state store.
    * Row-identical to [[buildWithDl]] by construction: (term, id)
    * pairs are unique per document, so the batch groupBy it replaces
    * only ever aggregated within one row's explosion. */
  def postingRowsPerDoc(df: DataFrame, idCol: String,
                        textCol: String): DataFrame = {
    val toks = tokens(col(textCol))
    df.select(col(idCol).as("id"), size(toks).cast("long").as("dl"),
        toks.as("__toks"))
      .select(col("id"), col("dl"), col("__toks"),
        explode(array_distinct(col("__toks"))).as("term"))
      .select(col("term"), col("id"),
        size(filter(col("__toks"), t => t === col("term")))
          .cast("long").as("tf"),
        col("dl"))
  }

  /** The stateless per-row twin of [[Relevance.corpusStats]]: ONE stats
    * row PER DOCUMENT (n_docs = 1, n_tokens = its length). Scoring sums
    * stats rows anyway (additive under arrival), so appending per-doc
    * rows in-stream is value-identical to appending a batch row. */
  def statsRowsPerDoc(df: DataFrame, textCol: String): DataFrame =
    df.select(lit(1L).as("n_docs"),
      size(tokens(col(textCol))).cast("long").as("n_tokens"))

  /** The tap a persisted posting table is written through: bucketed by
    * `term` so lookups bucket-prune to the query terms' buckets. Bucket
    * count is the layout knob — size it so one bucket ≈ one task of
    * postings at the target corpus scale. */
  def indexTap(table: String, buckets: Int): graft.sources.BucketedTap =
    graft.sources.BucketedTap(table, buckets, Seq("term"))

  /** Conjunctive (ALL-terms) lookup against a posting table: documents
    * containing every term in `terms`, with `n_terms` (= terms.size, kept
    * as evidence) and `total_tf` (sum of the query terms' tfs — the
    * exact-integer relevance proxy). The `isin` predicate on the bucket
    * column is what triggers bucket pruning on a [[indexTap]]-persisted
    * table; the post-probe aggregation touches only the probed postings. */
  def queryAll(postings: DataFrame, terms: Seq[String]): DataFrame = {
    require(terms.nonEmpty, "queryAll: at least one term")
    require(terms.distinct.size == terms.size, "queryAll: duplicate terms")
    postings.filter(col("term").isin(terms: _*))
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_terms"), sum(col("tf")).as("total_tf"))
      .filter(col("n_terms") === terms.size.toLong)
  }
}
