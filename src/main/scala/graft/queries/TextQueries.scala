package graft
package queries

import org.apache.spark.sql.functions._
import graft.operators._
import Common._

/** Text counting and the inverted index (the assignment-2 and -3
  * families): counts, co-occurrence, PMI, postings, tf-idf, BM25 and
  * boolean retrieval. */
private[queries] object TextQueries {
  val specs: Seq[QuerySpec] = QuerySpec.family(ScanSplit.text)(
    QuerySpec("q_wordcount", (s, dir) =>
      TextOps.wordCount(docs(s, dir), "text"),
      s"""SELECT word, count(*) AS cnt
         |FROM (SELECT unnest($toksSql) AS word FROM documents)
         |GROUP BY word""".stripMargin),
    QuerySpec("q_bigram_count", (s, dir) =>
      TextOps.bigramCount(docs(s, dir), "text"),
      s"""WITH d AS (SELECT $toksSql AS toks FROM documents),
         |i AS (SELECT toks, unnest(generate_series(1, len(toks)-1)) AS i FROM d)
         |SELECT toks[i] || '_' || toks[i+1] AS bigram, count(*) AS cnt
         |FROM i GROUP BY 1""".stripMargin),
    QuerySpec("q_cooc_pairs", (s, dir) =>
      TextOps.coocPairs(docs(s, dir), "text", window = 2),
      coocSql),
    QuerySpec("q_cooc_stripes", (s, dir) =>
      // stripes layout (map column), exploded back to rows for the oracle
      TextOps.coocStripes(docs(s, dir), "text", window = 2)
        .select(col("term"), explode(col("stripe")).as(Seq("neighbor", "cnt"))),
      coocSql),
    QuerySpec("q_pair_doccount", (s, dir) =>
      TextOps.pairDocCounts(docs(s, dir), "doc_id", "text"),
      s"""WITH d AS (SELECT doc_id, list_distinct($toksSql) AS terms FROM documents),
         |x AS (SELECT doc_id, unnest(terms) AS x, terms FROM d),
         |xy AS (SELECT doc_id, x, unnest(terms) AS y FROM x)
         |SELECT x, y, count(*) AS n_docs FROM xy WHERE x < y GROUP BY x, y""".stripMargin),
    QuerySpec("q_pmi", (s, dir) =>
      TextOps.pmi(docs(s, dir), "doc_id", "text", minCount = 10)
        .select(col("x"), col("y"), col("n_docs"), round(col("pmi"), 6).as("pmi")),
      s"""WITH d AS (SELECT doc_id, list_distinct($toksSql) AS terms FROM documents),
         |n AS (SELECT count(*) AS n FROM documents),
         |m AS (SELECT t, count(*) AS df FROM (SELECT unnest(terms) AS t FROM d) GROUP BY t),
         |x1 AS (SELECT doc_id, unnest(terms) AS x, terms FROM d),
         |xy AS (SELECT doc_id, x, unnest(terms) AS y FROM x1),
         |p AS (SELECT x, y, count(*) AS n_docs FROM xy WHERE x < y
         |      GROUP BY x, y HAVING count(*) >= 10)
         |SELECT p.x, p.y, p.n_docs,
         |       round(ln(p.n_docs * (SELECT n FROM n) / (mx.df * my.df)), 6) AS pmi
         |FROM p JOIN m mx ON p.x = mx.t JOIN m my ON p.y = my.t""".stripMargin),
    QuerySpec("q_term_doctf", (s, dir) =>
      IndexOps.termDocTf(docs(s, dir), "doc_id", "text")
        .withColumnRenamed("docid", "doc_id"),
      termDocTfSql),
    QuerySpec("q_index_stats", (s, dir) =>
      IndexOps.invertedIndex(docs(s, dir), "doc_id", "text")
        .select(col("term"), col("df"),
          aggregate(col("postings"), lit(0L), (acc, x) => acc + x.getField("tf"))
            .as("total_tf"),
          element_at(col("postings"), 1).getField("docid").as("min_docid"),
          element_at(col("postings"), -1).getField("docid").as("max_docid")),
      s"""WITH t AS ($termDocTfSql)
         |SELECT term, count(*) AS df, CAST(sum(tf) AS BIGINT) AS total_tf,
         |       min(doc_id) AS min_docid, max(doc_id) AS max_docid
         |FROM t GROUP BY term""".stripMargin),
    // exercises the d-gap+VInt codec end-to-end: encode then decode must
    // reproduce the raw postings relation
    QuerySpec("q_postings_roundtrip", (s, dir) =>
      IndexOps.decodeIndex(
        IndexOps.compressedIndex(IndexOps.invertedIndex(docs(s, dir), "doc_id", "text")))
        .where(col("term").isin("join", "hash", "vector"))
        .select(col("term"), explode(col("postings")).as("p"))
        .select(col("term"), col("p._1").as("doc_id"), col("p._2").as("tf")),
      s"""WITH t AS ($termDocTfSql)
         |SELECT term, doc_id, tf FROM t
         |WHERE term IN ('join', 'hash', 'vector')""".stripMargin),
    // ranked retrieval on top of the index family
    QuerySpec("q_tfidf", (s, dir) =>
      IndexOps.tfidf(docs(s, dir), "doc_id", "text")
        .where(col("term").isin("join", "hash", "vector"))
        .select(col("term"), col("docid").as("doc_id"), col("tf"),
          round(col("tfidf"), 6).as("tfidf")),
      s"""WITH t AS ($termDocTfSql),
         |nn AS (SELECT count(*) AS n FROM documents),
         |d AS (SELECT term, count(*) AS df FROM t GROUP BY term)
         |SELECT t.term, t.doc_id, t.tf,
         |  round(t.tf * ln(CAST((SELECT n FROM nn) AS DOUBLE) / d.df), 6)
         |    AS tfidf
         |FROM t JOIN d USING (term)
         |WHERE t.term IN ('join', 'hash', 'vector')""".stripMargin),
    QuerySpec("q_bm25_search", (s, dir) =>
      IndexOps.searchBM25(docs(s, dir), "doc_id", "text",
        Seq("join", "hash", "vector"), k = 10)
        .withColumnRenamed("docid", "doc_id"),
      s"""WITH t AS ($termDocTfSql),
         |nn AS (SELECT count(*) AS n FROM documents),
         |d AS (SELECT term, count(*) AS df FROM t GROUP BY term),
         |L AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl FROM t GROUP BY doc_id),
         |a AS (SELECT avg(dl) AS avgdl FROM L),
         |s AS (SELECT t.doc_id,
         |  ln(1.0 + (CAST((SELECT n FROM nn) AS DOUBLE) - d.df + 0.5) / (d.df + 0.5))
         |  * (t.tf * ${1.2 + 1}) / (t.tf + 1.2 * (${1 - 0.75} + 0.75 * L.dl
         |      / (SELECT avgdl FROM a))) AS sc
         |  FROM t JOIN d USING (term) JOIN L USING (doc_id)
         |  WHERE t.term IN ('join', 'hash', 'vector'))
         |SELECT doc_id, round(sum(sc), 6) AS score FROM s GROUP BY doc_id
         |ORDER BY score DESC, doc_id ASC LIMIT 10""".stripMargin),
    QuerySpec("q_bool_retrieval", (s, dir) =>
      IndexOps.booleanRetrieve(
        IndexOps.termDocTf(docs(s, dir), "doc_id", "text"),
        Seq("join", "hash", "AND", "vector", "OR"))
        .withColumnRenamed("docid", "doc_id"),
      s"""WITH d AS (SELECT doc_id, $toksSql AS toks FROM documents)
         |(SELECT doc_id FROM d WHERE list_contains(toks, 'join')
         | INTERSECT
         | SELECT doc_id FROM d WHERE list_contains(toks, 'hash'))
         |UNION
         |SELECT doc_id FROM d WHERE list_contains(toks, 'vector')""".stripMargin),
    // tf-value histogram for one term's postings (A7 / LookupPostings tool)
    QuerySpec("q_tf_histogram", (s, dir) =>
      IndexOps.tfHistogram(
        IndexOps.termDocTf(docs(s, dir), "doc_id", "text"), "join"),
      s"""WITH t AS ($termDocTfSql)
         |SELECT tf, count(*) AS cnt FROM t WHERE term = 'join' GROUP BY tf""".stripMargin),
  )

  private def coocSql: String =
    s"""WITH d AS (SELECT $toksSql AS toks FROM documents),
       |i AS (SELECT toks, unnest(generate_series(1, len(toks))) AS i FROM d),
       |ij AS (SELECT toks, i,
       |       unnest(generate_series(greatest(1, i-2), least(len(toks), i+2))) AS j FROM i)
       |SELECT toks[i] AS term, toks[j] AS neighbor, count(*) AS cnt
       |FROM ij WHERE j <> i GROUP BY 1, 2""".stripMargin

  private lazy val termDocTfSql =
    s"""SELECT term, doc_id, count(*) AS tf
       |FROM (SELECT doc_id, unnest($toksSql) AS term FROM documents)
       |GROUP BY term, doc_id""".stripMargin
}
