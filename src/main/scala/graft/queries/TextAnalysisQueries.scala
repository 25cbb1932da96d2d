package graft
package queries

import org.apache.spark.sql.functions._
import graft.operators._
import Common._

/** Per-document text analysis: language, quality and LM scores, token
  * statistics, subwords, winnowing, PII redaction and JSON stats. */
private[queries] object TextAnalysisQueries {
  val specs: Seq[QuerySpec] = QuerySpec.family(ScanSplit.text)(
    QuerySpec("q_langid", (s, dir) =>
      docs(s, dir).select(col("doc_id"),
        TextAnalysisOps.langId(TextOps.tokens(col("text"))).as("lang_pred")),
      s"""WITH r AS (SELECT doc_id,
         |  ${stopRatioSql("en")} AS r_en, ${stopRatioSql("es")} AS r_es,
         |  ${stopRatioSql("de")} AS r_de, ${stopRatioSql("fr")} AS r_fr
         |  FROM (SELECT doc_id, $toksSql AS toks FROM documents))
         |SELECT doc_id,
         |  CASE WHEN greatest(r_en, r_es, r_de, r_fr) >= 0.02 THEN
         |    CASE WHEN r_en >= r_es AND r_en >= r_de AND r_en >= r_fr THEN 'en'
         |         WHEN r_es >= r_de AND r_es >= r_fr THEN 'es'
         |         WHEN r_de >= r_fr THEN 'de' ELSE 'fr' END
         |  ELSE 'und' END AS lang_pred
         |FROM r""".stripMargin),
    QuerySpec("q_quality", (s, dir) =>
      TextAnalysisOps.qualityScore(docs(s, dir), "doc_id", "text"),
      s"""WITH c AS (SELECT doc_id,
         |  len(toks) AS n_tokens,
         |  CASE WHEN len(toks) > 0 THEN
         |    list_sum(list_transform(toks, s -> length(s)))::DOUBLE / len(toks)
         |  ELSE 0.0 END AS mean_len,
         |  ${stopRatioSql("en")} AS stop_ratio,
         |  CASE WHEN len(toks) > 0 THEN
         |    len(list_distinct(toks))::DOUBLE / len(toks) ELSE 0.0 END AS dr,
         |  CASE WHEN length(text) > 0 THEN
         |    (length(text) - length(regexp_replace(text, '[a-zA-Z]', '', 'g')))::DOUBLE
         |      / length(text) ELSE 0.0 END AS ar
         |  FROM (SELECT doc_id, text, $toksSql AS toks FROM documents))
         |SELECT doc_id, n_tokens, round(mean_len, 6) AS mean_token_len,
         |  round(stop_ratio, 6) AS stopword_ratio, round(dr, 6) AS distinct_ratio,
         |  round(ar, 6) AS alpha_ratio,
         |  round((CASE WHEN mean_len >= 3 AND mean_len <= 10 THEN 1.0
         |              WHEN mean_len > 0 THEN 0.5 ELSE 0.0 END) * 0.25
         |    + least(stop_ratio * 5.0, 1.0) * 0.25 + dr * 0.25 + ar * 0.25, 6)
         |    AS quality
         |FROM c""".stripMargin),
    QuerySpec("q_token_counts", (s, dir) =>
      TextAnalysisOps.tokenCounts(docs(s, dir), "doc_id", "text"),
      s"""SELECT doc_id, len($toksSql) AS ws_tokens,
         |  len(regexp_extract_all(text, '[A-Za-z0-9_]+|[^A-Za-z0-9_\\s]'))
         |    AS regex_tokens,
         |  CAST(ceil(length(text)::DOUBLE / 4) AS BIGINT) AS approx_subwords
         |FROM documents""".stripMargin),
    QuerySpec("q_fingerprint", (s, dir) =>
      TextAnalysisOps.fingerprintSketch(docs(s, dir), "doc_id", "text",
        shingleN = 4, window = 4),
      s"""WITH $winnowCtes
         |SELECT doc_id, len(fps) AS n_fingerprints,
         |       md5(array_to_string(fps, ',')) AS fp_digest
         |FROM w""".stripMargin),
    // unigram token entropy (bits): distribution-shape quality signal —
    // near 0 for one-token spam, log2(n) for all-distinct docs
    QuerySpec("q_entropy", (s, dir) =>
      TextAnalysisOps.tokenEntropy(docs(s, dir), "doc_id", "text"),
      s"""WITH t AS (SELECT doc_id, unnest($toksSql) AS tok FROM documents),
         |c AS (SELECT doc_id, tok, count(*) AS c FROM t GROUP BY doc_id, tok)
         |SELECT doc_id, sum(c)::BIGINT AS n_tokens, count(*) AS n_distinct,
         |  round(log2(sum(c)) - sum(c * log2(c)) / sum(c), 6) AS entropy_bits
         |FROM c GROUP BY doc_id""".stripMargin),
    // n-gram LM quality scoring (the pretraining perplexity filter):
    // add-k bigram model trained on the corpus itself, each doc scored by
    // its average bigram log-probability
    QuerySpec("q_lm_score", (s, dir) =>
      TextAnalysisOps.lmQualityScore(docs(s, dir), "doc_id", "text"),
      // distinct counted over the 60-bit HASHES (as the engine does), so a
      // hash collision — however unlikely — cannot split the two engines
      s"""WITH d AS (SELECT doc_id, $toksSql AS toks FROM documents),
         |p AS (SELECT doc_id, toks[i] AS w1, toks[i+1] AS w2
         |      FROM (SELECT doc_id, toks,
         |              unnest(generate_series(1, len(toks)-1)) AS i FROM d)),
         |uni AS (SELECT w1, count(*) AS cw FROM
         |        (SELECT unnest(toks) AS w1 FROM d) GROUP BY w1),
         |v AS (SELECT count(*) AS vocab FROM uni),
         |sc AS (SELECT p.doc_id,
         |  ln((bi.cbg + 0.5) / (uni.cw + 0.5 * v.vocab)) AS lp
         |  FROM p
         |  JOIN (SELECT w1, w2, count(*) AS cbg FROM p GROUP BY w1, w2) bi
         |    USING (w1, w2)
         |  JOIN uni USING (w1) CROSS JOIN v)
         |SELECT d.doc_id, count(sc.lp) AS n_bigrams,
         |  round(avg(sc.lp), 6) AS avg_logp
         |FROM d LEFT JOIN sc ON sc.doc_id = d.doc_id
         |GROUP BY d.doc_id""".stripMargin),
    // bounded-state LM scoring: the same perplexity filter with both
    // count relations replaced by broadcast count-min matrices (fixed
    // d*w state at any corpus size) — the 100 TB-safe variant
    QuerySpec("q_lm_score_bounded", (s, dir) =>
      TextAnalysisOps.lmQualityScoreBounded(docs(s, dir), "doc_id", "text",
        cmsDepth = 3, cmsWidth = 1 << 18), {
      val d = 3
      val w = 1 << 18
      val cs = operators.DedupOps.minhashMultipliers(d)
      def pos(hExpr: String, c: Long) =
        s"(${operators.DedupOps.permuteHashSql(hExpr, c)} % $w)"
      def h60(e: String) =
        s"CAST(('0x' || substring(md5($e), 1, 15)) AS BIGINT)"
      s"""WITH d AS (SELECT doc_id, $toksSql AS toks FROM documents),
         |p AS (SELECT doc_id, toks[i] AS w1, toks[i+1] AS w2
         |      FROM (SELECT doc_id, toks,
         |              unnest(generate_series(1, len(toks)-1)) AS i FROM d)),
         |tw AS (SELECT unnest(toks) AS w FROM d),
         |ut AS (SELECT ${h60("w")} AS h FROM tw),
         |v AS (SELECT count(DISTINCT w) AS vocab FROM tw),
         |${(0 until d).map(j => s"u$j AS (SELECT ${pos("h", cs(j))} AS b, " +
              s"count(*) AS n FROM ut GROUP BY 1)").mkString(",\n")},
         |bt AS (SELECT ${h60("w1 || ' ' || w2")} AS h FROM p),
         |${(0 until d).map(j => s"g$j AS (SELECT ${pos("h", cs(j))} AS b, " +
              s"count(*) AS n FROM bt GROUP BY 1)").mkString(",\n")},
         |ph AS (SELECT doc_id, ${h60("w1")} AS hu,
         |       ${h60("w1 || ' ' || w2")} AS hb FROM p),
         |sc AS (SELECT ph.doc_id,
         |  ln((least(${(0 until d).map(j => s"coalesce(g$j.n, 0)")
                .mkString(", ")}) + 0.5) /
         |     (least(${(0 until d).map(j => s"coalesce(u$j.n, 0)")
                .mkString(", ")}) + 0.5 * v.vocab)) AS lp
         |  FROM ph
         |  ${(0 until d).map(j =>
              s"LEFT JOIN g$j ON ${pos("ph.hb", cs(j))} = g$j.b").mkString("\n  ")}
         |  ${(0 until d).map(j =>
              s"LEFT JOIN u$j ON ${pos("ph.hu", cs(j))} = u$j.b").mkString("\n  ")}
         |  CROSS JOIN v)
         |SELECT d.doc_id, count(sc.lp) AS n_bigrams,
         |  round(avg(sc.lp), 6) AS avg_logp
         |FROM d LEFT JOIN sc ON sc.doc_id = d.doc_id
         |GROUP BY d.doc_id""".stripMargin
    }),
    // learned quality filter: hashed bag-of-words logistic regression
    // (full-batch GD, driver-held weights, per-iteration 6-decimal
    // rounding — the trained-model determinism recipe); labels = lang=en,
    // the CCNet-style language-filter flavor. Oracle unrolls the same GD
    // iterations in SQL.
    QuerySpec("q_quality_classifier", (s, dir) =>
      ClassifierOps.qualityClassifier(docs(s, dir), "doc_id", "text",
        col("lang") === "en", dims = 16, iterations = 3), {
      // learned quality filter: the same hashed-BoW logistic regression
      // unrolled — w0 = zeros; each iteration computes per-doc margins from
      // the previous weights, residuals via the sigmoid, per-bucket
      // gradients, and the 6-decimal-rounded weight update (the rounding is
      // what makes a TRAINED float model hash-comparable cross-engine)
      val dims = 16
      val iters = 3
      def iteration(i: Int): String =
        s"""z$i AS (SELECT f.doc_id, sum(w.wv * f.x) AS z
           |  FROM f JOIN w${i - 1} w USING (bucket) GROUP BY f.doc_id),
           |r$i AS (SELECT z.doc_id, 1.0/(1.0 + exp(-z.z)) - t.y AS r
           |  FROM z$i z JOIN t USING (doc_id)),
           |g$i AS (SELECT f.bucket, sum(f.x * r.r) AS g
           |  FROM f JOIN r$i r USING (doc_id) GROUP BY f.bucket),
           |w$i AS (SELECT w.bucket,
           |  round(w.wv - COALESCE(g.g, 0) / (SELECT nn FROM n), 6) AS wv
           |  FROM w${i - 1} w LEFT JOIN g$i g USING (bucket))""".stripMargin
      s"""WITH t AS (SELECT doc_id, $toksSql AS toks,
         |  CAST(lang = 'en' AS DOUBLE) AS y FROM documents),
         |tok AS (SELECT doc_id, unnest(toks) AS tk, len(toks) AS nt FROM t),
         |f AS (SELECT doc_id,
         |    CAST(('0x' || substring(md5(tk), 1, 15)) AS BIGINT) % $dims
         |      AS bucket,
         |    count(*)::DOUBLE / max(nt) AS x
         |  FROM tok GROUP BY doc_id, bucket
         |  UNION ALL SELECT doc_id, $dims, 1.0 FROM t),
         |n AS (SELECT count(*)::DOUBLE AS nn FROM t),
         |w0 AS (SELECT unnest(generate_series(0, $dims)) AS bucket,
         |       0.0 AS wv),
         |${(1 to iters).map(iteration).mkString(",\n")},
         |zf AS (SELECT f.doc_id, sum(w.wv * f.x) AS z
         |  FROM f JOIN w$iters w USING (bucket) GROUP BY f.doc_id)
         |SELECT t.doc_id, t.y AS label,
         |  round(1.0/(1.0 + exp(-zf.z)), 6) AS prob,
         |  round(1.0/(1.0 + exp(-zf.z)), 6) >= 0.5 AS predicted
         |FROM t JOIN zf USING (doc_id)""".stripMargin
    }),
    // subword seed-vocabulary induction: top-200 word substrings (len<=4)
    // weighted by word frequency — the SentencePiece/BPE seed step,
    // computed on the distinct-word relation, never corpus-scale rows
    QuerySpec("q_vocab_induction", (s, dir) =>
      TextAnalysisOps.vocabInduction(docs(s, dir), "text",
        maxPieceLen = 4, topK = 200),
      s"""WITH wc AS (SELECT w, count(*) AS wc FROM (
         |  SELECT unnest($toksSql) AS w FROM documents) GROUP BY w),
         |p0 AS (SELECT w, wc,
         |  unnest(generate_series(1, length(w))) AS i FROM wc),
         |p1 AS (SELECT w, wc, i,
         |  unnest(generate_series(1, least(4, length(w) - i + 1))) AS l
         |  FROM p0),
         |p AS (SELECT substring(w, i, l) AS piece,
         |  CAST(sum(wc) AS BIGINT) AS cnt FROM p1 GROUP BY 1)
         |SELECT piece, cnt, rank FROM (
         |  SELECT piece, cnt, row_number() OVER (ORDER BY cnt DESC,
         |    piece ASC) AS rank FROM p) WHERE rank <= 200""".stripMargin),
    // subword tokenization under the self-induced vocab: greedy
    // longest-match per DISTINCT word (driver-bounded relational loop),
    // rejoined to the corpus for per-doc subword counts
    QuerySpec("q_subword_tokens", (s, dir) => {
      val d = docs(s, dir)
      val vocab = TextAnalysisOps.vocabInduction(d, "text",
        maxPieceLen = 4, topK = 200)
      TextAnalysisOps.subwordTokenCounts(d, "doc_id", "text", vocab,
        maxPieceLen = 4)
    },
      // greedy longest-match segmentation as SQL: per-(word, pos) steps are
      // precomputed non-recursively (max matching piece length, 1 = UNK),
      // then a recursive walk advances each word's cursor; terminal rows
      // (pos past the word) carry the piece count
      s"""WITH RECURSIVE wc0 AS (SELECT w, count(*) AS wc FROM (
         |  SELECT unnest($toksSql) AS w FROM documents) GROUP BY w),
         |p0 AS (SELECT w, wc,
         |  unnest(generate_series(1, length(w))) AS i FROM wc0),
         |p1 AS (SELECT w, wc, i,
         |  unnest(generate_series(1, least(4, length(w) - i + 1))) AS l
         |  FROM p0),
         |vp AS (SELECT substring(w, i, l) AS piece,
         |  CAST(sum(wc) AS BIGINT) AS cnt FROM p1 GROUP BY 1),
         |vocab AS (SELECT piece FROM (
         |  SELECT piece, row_number() OVER (ORDER BY cnt DESC, piece ASC)
         |    AS rank FROM vp) WHERE rank <= 200),
         |sub AS (SELECT w, i AS pos, l, substring(w, i, l) AS piece FROM p1),
         |steps AS (SELECT sub.w, sub.pos,
         |  COALESCE(max(CASE WHEN v.piece IS NOT NULL THEN sub.l END), 1)
         |    AS step
         |  FROM sub LEFT JOIN vocab v ON sub.piece = v.piece
         |  GROUP BY sub.w, sub.pos),
         |seg AS (SELECT w, 1 AS pos, 0 AS n FROM wc0
         |  UNION ALL SELECT seg.w, seg.pos + st.step, seg.n + 1
         |  FROM seg JOIN steps st ON st.w = seg.w AND st.pos = seg.pos),
         |fin AS (SELECT w, max(n) AS n_pieces FROM seg
         |        WHERE pos > length(w) GROUP BY w),
         |tok AS (SELECT doc_id, unnest($toksSql) AS w FROM documents)
         |SELECT tok.doc_id, CAST(sum(fin.n_pieces) AS BIGINT) AS n_subwords
         |FROM tok JOIN fin USING (w) GROUP BY tok.doc_id""".stripMargin),
    // Gopher-style repetitiveness signal: repeated-shingle fraction
    QuerySpec("q_repetition", (s, dir) =>
      TextAnalysisOps.repetitionRatio(docs(s, dir), "doc_id", "text",
        shingleN = 3),
      s"""WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents),
         |s0 AS (SELECT doc_id,
         |  CASE WHEN len(toks) >= 3
         |    THEN [array_to_string(toks[i:i+2], ' ')
         |          FOR i IN generate_series(1, len(toks)-2)]
         |    ELSE [array_to_string(toks, ' ')] END AS sh
         |  FROM t),
         |h AS (SELECT doc_id, $hashListSql AS hs FROM s0)
         |SELECT doc_id, len(hs) AS n_ngrams,
         |  len(list_distinct(hs)) AS n_distinct,
         |  round((len(hs) - len(list_distinct(hs)))::DOUBLE / len(hs), 6)
         |    AS repetition_ratio
         |FROM h""".stripMargin),
    // fingerprint-bucket pair detection (plagiarism application): pairs
    // sharing >= 2 winnowing fingerprints, hot fps df-capped at 50
    QuerySpec("q_winnow_pairs", (s, dir) =>
      TextAnalysisOps.winnowedPairs(docs(s, dir), "doc_id", "text",
        shingleN = 4, window = 4, maxDf = 50, minShared = 2)
        .withColumnRenamed("id", "doc_id"),
      s"""WITH $winnowCtes,
         |x AS (SELECT doc_id, unnest(fps) AS fp FROM w),
         |hot AS (SELECT fp FROM x GROUP BY fp HAVING count(*) > 50),
         |xx AS (SELECT doc_id, fp FROM x
         |       WHERE fp NOT IN (SELECT fp FROM hot))
         |SELECT a.doc_id AS ida, b.doc_id AS idb, count(*) AS shared
         |FROM xx a JOIN xx b ON a.fp = b.fp AND a.doc_id < b.doc_id
         |GROUP BY 1, 2 HAVING count(*) >= 2""".stripMargin),
    // PII scrub: redactable strings are synthesized DETERMINISTICALLY from
    // table columns (the corpus text itself is word soup), then the
    // regexp_replace chain + pre-scrub exposure counts must match RE2's
    // reading of the same patterns in DuckDB
    QuerySpec("q_redact", (s, dir) => {
      val synth = concat(
        col("text"),
        lit(" contact user"), col("doc_id").cast("string"),
        lit("@mail.example.com from 10.0."),
        (col("doc_id") % 256).cast("string"),
        lit(".7 via https://"), col("source"), lit(".example/item/"),
        col("doc_id").cast("string"),
        lit(" ssn "), lpad((col("doc_id") % 1000).cast("string"), 3, "0"),
        lit("-45-6789"))
      TextAnalysisOps.redact(
        docs(s, dir).select(col("doc_id"), synth.as("text")),
        "doc_id", "text")
    }, {
      val url = """https?://[^\s]+"""
      val email = """[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"""
      val ipv4 = """\b(?:\d{1,3}\.){3}\d{1,3}\b"""
      val ssn = """\b\d{3}-\d{2}-\d{4}\b"""
      s"""WITH synth AS (SELECT doc_id,
         |  text || ' contact user' || CAST(doc_id AS VARCHAR)
         |    || '@mail.example.com from 10.0.'
         |    || CAST(doc_id % 256 AS VARCHAR) || '.7 via https://' || source
         |    || '.example/item/' || CAST(doc_id AS VARCHAR) || ' ssn '
         |    || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0') || '-45-6789' AS t
         |  FROM documents)
         |SELECT doc_id,
         |  regexp_replace(regexp_replace(regexp_replace(regexp_replace(t,
         |    '$url', '<URL>', 'g'),
         |    '$email', '<EMAIL>', 'g'),
         |    '$ipv4', '<IPV4>', 'g'),
         |    '$ssn', '<SSN>', 'g') AS redacted,
         |  len(regexp_extract_all(t, '$url')) AS n_url,
         |  len(regexp_extract_all(t, '$email')) AS n_email,
         |  len(regexp_extract_all(t, '$ipv4')) AS n_ipv4,
         |  len(regexp_extract_all(t, '$ssn')) AS n_ssn
         |FROM synth""".stripMargin
    }),
    // JSON property extraction (get_json_object, codegen'd — no UDF)
    QuerySpec("q_json_kstats", (s, dir) =>
      TimeSeriesOps.jsonKStats(events(s, dir), "event_type", "props"),
      """SELECT event_type, count(k) AS n_with_k,
        |  round(avg(k), 6) AS mean_k, round(min(k), 6) AS min_k,
        |  round(max(k), 6) AS max_k
        |FROM (SELECT event_type,
        |  CAST(regexp_extract(props, '"k":\s*([0-9.eE+-]+)', 1) AS DOUBLE) AS k
        |  FROM events)
        |GROUP BY event_type""".stripMargin),
  )

  private def stopListSql(lang: String): String =
    operators.TextAnalysisOps.stopwordProfiles(lang)
      .map(w => s"'$w'").mkString("[", ", ", "]")

  private def stopRatioSql(lang: String): String =
    s"len(list_filter(toks, s -> list_contains(${stopListSql(lang)}, s)))::DOUBLE" +
      " / greatest(len(toks), 1)"

  // Winnowing fingerprint sets (shingleN=4, window=4), mirroring
  // TextAnalysisOps.winnowingFingerprintSets: w(doc_id, fps)
  private lazy val winnowCtes =
    s"""sh AS (SELECT doc_id,
       |  CASE WHEN len(toks) >= 4
       |    THEN [array_to_string(toks[i:i+3], ' ')
       |          FOR i IN generate_series(1, len(toks)-3)]
       |    ELSE [array_to_string(toks, ' ')] END AS sh
       |  FROM (SELECT doc_id, $toksSql AS toks FROM documents)),
       |h AS (SELECT doc_id,
       |  [CAST(('0x' || substring(md5(s), 1, 15)) AS BIGINT) FOR s IN sh] AS hs
       |  FROM sh),
       |w AS (SELECT doc_id,
       |  CASE WHEN len(hs) >= 4 THEN
       |    list_sort(list_distinct([list_min(hs[i:i+3])
       |                             FOR i IN generate_series(1, len(hs)-3)]))
       |  WHEN len(hs) > 0 THEN [list_min(hs)] ELSE [] END AS fps
       |  FROM h)""".stripMargin
}
