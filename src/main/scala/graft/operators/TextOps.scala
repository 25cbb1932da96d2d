package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-corpus operators: the assignment-2 family of the reference
  * (WordCount, BigramCount, windowed co-occurrence pairs/stripes, PMI).
  *
  * Reference semantics (capability parity, not a port):
  *  - tokenize  = whitespace split, drop empty tokens
  *    (reference/assignment2/src/main/WordCount.java:44-48,
  *     ComputeCooccurrenceMatrixPairs.java:83-85)
  *  - bigrams   = adjacent token pairs joined by "_"
  *    (reference/assignment2/src/main/BigramCount.java:42-58)
  *  - co-occurrence window = all (term, neighbor) pairs within +-w
  *    positions on the same line, excluding the self position
  *    (reference/assignment2/src/main/ComputeCooccurrenceMatrixPairs.java:66-101)
  *  - PMI = ln(N * c(x,y) / (c(x) * c(y))) over per-document DISTINCT
  *    terms, unordered pairs x<y, pair doc-count >= threshold
  *    (reference/assignment2/src/main/PairsPMI.java:55-131). The reference
  *    hardcodes N=156215 (PairsPMI.java:127); we compute it from the corpus.
  *
  * Scale notes: everything is declarative (split/explode/groupBy) so
  * Catalyst inserts partial (map-side) aggregation — the reference's
  * combiner (WordCount.java:138) — automatically. The PMI marginal join is
  * a broadcast join: marginals are vocabulary-sized (tiny vs the corpus),
  * exactly the relation the reference shipped around via its
  * "order inversion" trick (PairsPMI.java:77-79,117-133). No custom
  * partitioner is needed: the shuffle hash-partitions on the group keys.
  */
object TextOps {

  /** Whitespace tokenization with empty-token removal. */
  def tokens(text: Column): Column =
    // array_remove (not a filter() lambda): higher-order functions are
    // CodegenFallback, and ONE fallback expression kicks the whole
    // projection out of whole-stage codegen for every query that
    // tokenizes. Identical semantics: drop empty-string tokens.
    array_remove(split(trim(text), "\\s+"), "")

  private def withToks(docs: DataFrame, textCol: String): DataFrame =
    docs.withColumn("toks", tokens(col(textCol)))

  /** (word, cnt) — A1. */
  def wordCount(docs: DataFrame, textCol: String): DataFrame =
    withToks(docs, textCol)
      .select(explode(col("toks")).as("word"))
      .groupBy("word").agg(count(lit(1)).as("cnt"))

  /** (bigram, cnt) with "x_y" formatting — P2/A2. */
  def bigramCount(docs: DataFrame, textCol: String): DataFrame =
    withToks(docs, textCol)
      .select(explode(bigrams(col("toks"))).as("bigram"))
      .groupBy("bigram").agg(count(lit(1)).as("cnt"))

  /** Adjacent-pair array from a token array; empty when fewer than 2 tokens. */
  def bigrams(toks: Column): Column =
    when(size(toks) >= 2,
      zip_with(
        slice(toks, lit(1), size(toks) - 1),
        slice(toks, lit(2), size(toks) - 1),
        (a, b) => concat_ws("_", a, b)))
      .otherwise(array().cast("array<string>"))

  /** (term, neighbor, cnt): co-occurrence within +-window positions — P3/A3.
    * Both directions are emitted (the reference emits (w_i, w_j) for every
    * ordered in-window pair), self position excluded.
    */
  def coocPairs(docs: DataFrame, textCol: String, window: Int = 2): DataFrame =
    withToks(docs, textCol)
      .select(col("toks"), posexplode(col("toks")).as(Seq("i", "term")))
      .select(col("toks"), col("i"), col("term"),
        explode(sequence(
          greatest(lit(0), col("i") - window),
          least(size(col("toks")) - 1, col("i") + window))).as("j"))
      .where(col("j") =!= col("i"))
      .select(col("term"), element_at(col("toks"), col("j") + 1).as("neighbor"))
      .groupBy("term", "neighbor").agg(count(lit(1)).as("cnt"))

  /** term -> map(neighbor -> cnt): the stripes layout — A4.
    * Same information as [[coocPairs]], materialized as a map column
    * (reference HMapSIW stripes, ComputeCooccurrenceMatrixStripes.java:44-122).
    * Aggregation runs on exploded pairs (partial-agg friendly); the map is
    * assembled only at the end — merging whole maps through the shuffle,
    * as the reference does, would defeat map-side combine at scale.
    */
  def coocStripes(docs: DataFrame, textCol: String, window: Int = 2): DataFrame =
    coocPairs(docs, textCol, window)
      .groupBy("term")
      .agg(map_from_entries(
        sort_array(collect_list(struct(col("neighbor"), col("cnt"))))).as("stripe"))

  /** Per-document sorted distinct terms — P4/T5. */
  def docDistinctTerms(docs: DataFrame, docIdCol: String, textCol: String): DataFrame =
    withToks(docs, textCol)
      .select(col(docIdCol).as("doc_id"), array_sort(array_distinct(col("toks"))).as("terms"))

  /** (x, y, n_docs) for unordered distinct-term pairs x < y — P5/A3. */
  def pairDocCounts(docs: DataFrame, docIdCol: String, textCol: String): DataFrame = {
    val terms = docDistinctTerms(docs, docIdCol, textCol)
    terms
      .select(col("doc_id"), explode(col("terms")).as("x"), col("terms"))
      .select(col("doc_id"), col("x"), explode(col("terms")).as("y"))
      .where(col("x") < col("y"))
      .groupBy("x", "y").agg(count(lit(1)).as("n_docs"))
  }

  /** (x, y, n_docs, pmi): pointwise mutual information — P10-P12/A5/J1.
    *
    * pmi = ln(N * c(x,y) / (c(x) * c(y))), natural log as in the reference
    * (PairsPMI.java:238-240). Marginals c(x) are doc-frequencies of single
    * terms; joined twice via broadcast (vocab is small relative to pairs).
    * `minCount` mirrors the reference's >= 10 threshold (PairsPMI.java:126);
    * applying it BEFORE the joins prunes the pair relation early.
    */
  def pmi(docs: DataFrame, docIdCol: String, textCol: String,
          minCount: Int = 10): DataFrame = {
    // localCheckpoint, not cache(): a cached relation would leak one
    // CacheManager entry per pmi() call for the session's lifetime (the
    // minhashNearDupPairs lesson). Checkpointed blocks are GC'd with the
    // RDD, and both downstream scans (marginals, pairs) still read the
    // materialized blocks instead of re-tokenizing the corpus. The corpus
    // size n (the reference hardcodes 156215) is counted by the same job.
    val (terms, size) = Observed.checkpoint(
      docDistinctTerms(docs, docIdCol, textCol), count(lit(1)))
    val n = size.getLong(0)
    val marginals = terms
      .select(explode(col("terms")).as("t"))
      .groupBy("t").agg(count(lit(1)).as("df"))
    val pairs = terms
      .select(col("doc_id"), explode(col("terms")).as("x"), col("terms"))
      .select(col("doc_id"), col("x"), explode(col("terms")).as("y"))
      .where(col("x") < col("y"))
      .groupBy("x", "y").agg(count(lit(1)).as("n_docs"))
      .where(col("n_docs") >= minCount)
    pairs
      .join(broadcast(marginals.withColumnRenamed("t", "x").withColumnRenamed("df", "df_x")), "x")
      .join(broadcast(marginals.withColumnRenamed("t", "y").withColumnRenamed("df", "df_y")), "y")
      .select(col("x"), col("y"), col("n_docs"),
        log(col("n_docs") * lit(n.toDouble) / (col("df_x") * col("df_y"))).as("pmi"))
  }
}
