package graft
package queries

import org.apache.spark.sql.functions._
import graft.operators._
import Common._

/** Training-data pipeline stages: contamination probes, sampling,
  * sketches and corpus curation. The q_sample_* queries do near-zero
  * CPU per `events` byte and take the wide split. */
private[queries] object PipelineQueries {
  val specs: Seq[QuerySpec] = QuerySpec.family(ScanSplit.text)(
    // benchmark-overlap check: docs 0-99 act as the "eval set"
    QuerySpec("q_contamination", (s, dir) => {
      val d = docs(s, dir)
      PipelineOps.contamination(
        d.where(col("doc_id") >= 100), d.where(col("doc_id") < 100),
        "doc_id", "text", shingleN = 3)
    },
      s"""WITH d AS ($shinglesSql),
         |h AS (SELECT doc_id, $hashListSql AS hs FROM d),
         |bench AS (SELECT DISTINCT unnest(hs) AS h FROM h WHERE doc_id < 100),
         |corp AS (SELECT doc_id, unnest(hs) AS h FROM h WHERE doc_id >= 100),
         |j AS (SELECT corp.doc_id,
         |  CASE WHEN bench.h IS NOT NULL THEN 1 ELSE 0 END AS hit
         |  FROM corp LEFT JOIN bench ON corp.h = bench.h)
         |SELECT doc_id, count(*) AS n_shingles,
         |  CAST(sum(hit) AS BIGINT) AS n_contaminated,
         |  round(sum(hit)::DOUBLE / count(*), 6) AS contamination
         |FROM j GROUP BY doc_id""".stripMargin),
    // same overlap question through a FIXED-SIZE bloom bit set (the scale
    // path when the benchmark side is itself huge); deterministic
    // md5-permutation bit positions make it oracle-able
    QuerySpec("q_bloom_contamination", (s, dir) => {
      val d = docs(s, dir)
      PipelineOps.bloomContamination(
        d.where(col("doc_id") >= 100), d.where(col("doc_id") < 100),
        "doc_id", "text", shingleN = 3, numBits = 1 << 16, numHashes = 3)
    }, {
      // mirrors PipelineOps.bloomContamination: bloom membership = every one
      // of the k permuted-hash bit positions present in the benchmark's
      // position set (bit-set words and a position set are equivalent here)
      val mask = (1 << 16) - 1
      val cs = operators.DedupOps.minhashMultipliers(3)
      def pos(x: String, c: Long) =
        s"(${operators.DedupOps.permuteHashSql(x, c)} & $mask)"
      s"""WITH d AS ($shinglesSql),
         |h AS (SELECT doc_id, $hashListSql AS hs FROM d),
         |bh AS (SELECT DISTINCT unnest(hs) AS h FROM h WHERE doc_id < 100),
         |bloom AS (${cs.map(c => s"SELECT DISTINCT ${pos("h", c)} AS pos FROM bh")
                        .mkString("\n|  UNION\n|  ")}),
         |corp AS (SELECT doc_id, unnest(hs) AS h FROM h WHERE doc_id >= 100),
         |probe AS (SELECT doc_id,
         |  CASE WHEN ${cs.map(c => s"${pos("h", c)} IN (SELECT pos FROM bloom)")
                         .mkString("\n|    AND ")}
         |  THEN 1 ELSE 0 END AS hit FROM corp)
         |SELECT doc_id, count(*) AS n_shingles,
         |  CAST(sum(hit) AS BIGINT) AS n_maybe_contaminated,
         |  round(sum(hit)::DOUBLE / count(*), 6) AS bloom_rate
         |FROM probe GROUP BY doc_id""".stripMargin
    }),
    // exact-k deterministic sample per class (md5-priority reservoir)
    QuerySpec("q_sample_exact", (s, dir) =>
      PipelineOps.sampleExactPerClass(
        events(s, dir).select(col("event_type"), col("event_id")),
        col("event_type"), col("event_id"), k = 20)
        .select(col("event_type"), col("event_id"), col("sample_rank")),
      s"""SELECT event_type, event_id, sample_rank FROM (
         |  SELECT event_type, event_id,
         |    row_number() OVER (PARTITION BY event_type
         |      ORDER BY $hash60Sql ASC, event_id ASC) AS sample_rank
         |  FROM events)
         |WHERE sample_rank <= 20""".stripMargin, confs = ScanSplit.light),
    // deterministic md5 train/valid/test split — same key, same split, forever
    QuerySpec("q_sample_split", (s, dir) =>
      events(s, dir)
        .select(col("event_type"),
          PipelineOps.splitLabel(col("event_id")).as("split"))
        .groupBy("event_type", "split").agg(count(lit(1)).as("cnt")),
      s"""SELECT event_type, split, count(*) AS cnt FROM (
         |  SELECT event_type,
         |    CASE WHEN h % 100 < 80 THEN 'train'
         |         WHEN h % 100 < 90 THEN 'valid' ELSE 'test' END AS split
         |  FROM (SELECT event_type, $hash60Sql AS h FROM events))
         |GROUP BY event_type, split""".stripMargin, confs = ScanSplit.light),
    // stratified deterministic sampling: class rebalancing by md5 bucket
    QuerySpec("q_sample_strat", (s, dir) =>
      PipelineOps.stratifiedSampleByHash(events(s, dir), col("event_id"),
        col("event_type"),
        Map("click" -> 50, "purchase" -> 100, "view" -> 10), defaultPct = 5)
        .groupBy("event_type").agg(count(lit(1)).as("cnt")),
      s"""SELECT event_type, count(*) AS cnt FROM (
         |  SELECT event_type, $hash60Sql AS h FROM events)
         |WHERE h % 100 < CASE event_type WHEN 'click' THEN 50
         |  WHEN 'purchase' THEN 100 WHEN 'view' THEN 10 ELSE 5 END
         |GROUP BY event_type""".stripMargin, confs = ScanSplit.light),
    // bounded KMV distinct sketch (typed Aggregator => map-side combine)
    // vs the exact distinct it approximates
    QuerySpec("q_kmv_distinct", (s, dir) =>
      events(s, dir)
        .withColumn("h", PipelineOps.hash60(col("user_id")))
        .groupBy("event_type")
        .agg(count_distinct(col("user_id")).as("exact"),
          round(graft.functions.KmvSketch.kmvDistinct(col("h"), 64), 6)
            .as("kmv_est")),
      s"""WITH h AS (SELECT event_type, user_id, $hash60Sql AS h
         |  FROM (SELECT event_type, user_id, user_id AS event_id FROM events)),
         |k AS (SELECT event_type, list_sort(list_distinct(list(h))) AS hs,
         |  count(DISTINCT user_id) AS exact FROM h GROUP BY event_type)
         |SELECT event_type, exact,
         |  round(CASE WHEN len(hs) < 64 THEN len(hs)::DOUBLE
         |             ELSE 63.0 * pow(2.0, 60) / hs[64] END, 6) AS kmv_est
         |FROM k""".stripMargin),
    // count-min frequency sketch: d x w counter matrix (fixed state),
    // point estimates = min over rows; probes checked against exact counts
    QuerySpec("q_cms_counts", (s, dir) => {
      val ev = events(s, dir).withColumn("h", PipelineOps.hash60(col("user_id")))
      val matrix = ev.agg(
        graft.functions.CmsSketch.cmsMatrix(col("h"), 3, 1024).as("m"))
      val probes = ev.where(col("user_id") < 20)
        .groupBy("user_id").agg(count(lit(1)).as("exact"))
      probes.crossJoin(broadcast(matrix))
        .select(col("user_id"), col("exact"),
          graft.functions.CmsSketch.estimate(col("m"),
            PipelineOps.hash60(col("user_id")), 3, 1024).as("cms_est"))
    }, {
      // mirrors functions.CmsSketch at d=3, w=1024: a row-j counter is the
      // total count of events hashing to the same permuted bucket; the
      // estimate is the min over the three rows
      val cs = operators.DedupOps.minhashMultipliers(3)
      def pos(c: Long) = s"(${operators.DedupOps.permuteHashSql("h", c)} % 1024)"
      s"""WITH h AS (SELECT user_id,
         |  CAST(('0x' || substring(md5(CAST(user_id AS VARCHAR)), 1, 15)) AS BIGINT) AS h
         |  FROM events),
         |b AS (SELECT user_id, ${cs.zipWithIndex.map { case (c, j) =>
                  s"${pos(c)} AS p$j" }.mkString(", ")} FROM h),
         |${cs.indices.map(j =>
             s"c$j AS (SELECT p$j, count(*) AS n$j FROM b GROUP BY p$j)")
             .mkString(",\n|")},
         |probe AS (SELECT user_id, count(*) AS exact,
         |  ${cs.indices.map(j => s"min(p$j) AS q$j").mkString(", ")}
         |  FROM b WHERE user_id < 20 GROUP BY user_id)
         |SELECT probe.user_id, probe.exact,
         |  least(${cs.indices.map(j => s"c$j.n$j").mkString(", ")}) AS cms_est
         |FROM probe ${cs.indices.map(j =>
             s"JOIN c$j ON probe.q$j = c$j.p$j").mkString(" ")}""".stripMargin
    }),
    // bounded-state quantile sketch: deterministic bottom-k-by-hash sample
    // + linear interpolation (k (hash,value) pairs per group, mergeable)
    QuerySpec("q_quantile_sketch", (s, dir) =>
      events(s, dir)
        .withColumn("h", PipelineOps.hash60(col("event_id")))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          round(graft.functions.QuantileSketch.quantile(
            col("h"), col("value"), 128, 0.5), 6).as("p50_est"),
          round(graft.functions.QuantileSketch.quantile(
            col("h"), col("value"), 128, 0.95), 6).as("p95_est")), {
      // mirrors functions.QuantileSketch at k=128: the sample is the 128
      // rows with smallest md5 hash; interpolation arithmetic is spelled
      // out identically on both sides
      def interp(qv: String): String =
        s"""CASE WHEN CAST(floor($qv * (len(vs) - 1)) AS BIGINT) + 2 > len(vs)
           | THEN vs[len(vs)]
           | ELSE vs[CAST(floor($qv * (len(vs) - 1)) AS BIGINT) + 1]
           |   + (vs[CAST(floor($qv * (len(vs) - 1)) AS BIGINT) + 2]
           |      - vs[CAST(floor($qv * (len(vs) - 1)) AS BIGINT) + 1])
           |     * ($qv * (len(vs) - 1) - floor($qv * (len(vs) - 1)))
           | END""".stripMargin
      s"""WITH h AS (SELECT event_type, value, $hash60Sql AS h FROM events),
         |s AS (SELECT event_type, value,
         |  row_number() OVER (PARTITION BY event_type ORDER BY h ASC) AS rn
         |  FROM h),
         |g AS (SELECT event_type, list_sort(list(value)) AS vs
         |      FROM s WHERE rn <= 128 GROUP BY event_type),
         |x AS (SELECT event_type, count(*) AS n FROM events GROUP BY event_type)
         |SELECT x.event_type, x.n,
         |  round(${interp("0.5::DOUBLE")}, 6) AS p50_est,
         |  round(${interp("0.95::DOUBLE")}, 6) AS p95_est
         |FROM x JOIN g USING (event_type)""".stripMargin
    }),
    // HyperLogLog distinct sketch (fixed 2^p-byte state, register-max
    // merge) vs the exact distinct — the constant-state cousin of KMV
    QuerySpec("q_hll_distinct", (s, dir) =>
      events(s, dir)
        .withColumn("h", PipelineOps.hash60(col("user_id")))
        .groupBy("event_type")
        .agg(count_distinct(col("user_id")).as("exact"),
          round(graft.functions.HllSketch.hllDistinct(col("h"), 8), 6)
            .as("hll_est")), {
      // mirrors functions.HllSketch at p=8: register = top 8 hash bits,
      // rank = 53 - bitlength(low 52 bits) (53 when zero), harmonic mean +
      // linear-counting correction; bin() keeps the rank integer-exact
      val lowMask = (1L << 52) - 1
      s"""WITH h AS (SELECT event_type, user_id,
         |  CAST(('0x' || substring(md5(CAST(user_id AS VARCHAR)), 1, 15)) AS BIGINT) AS h
         |  FROM events),
         |r AS (SELECT event_type, h >> 52 AS idx,
         |  max(CASE WHEN (h & $lowMask) = 0 THEN 53
         |      ELSE 53 - length(bin(h & $lowMask)) END) AS rank
         |  FROM h GROUP BY event_type, idx),
         |s AS (SELECT event_type,
         |  sum(pow(2.0::DOUBLE, -rank)) + (256 - count(*)) AS sm,
         |  256 - count(*) AS zeros FROM r GROUP BY event_type),
         |e AS (SELECT event_type,
         |  (0.7213::DOUBLE / (1 + 1.079::DOUBLE / 256)) * 256 * 256 / sm AS raw,
         |  zeros FROM s),
         |x AS (SELECT event_type, count(DISTINCT user_id) AS exact
         |      FROM events GROUP BY event_type)
         |SELECT x.event_type, x.exact,
         |  round(CASE WHEN e.raw <= 2.5::DOUBLE * 256 AND e.zeros > 0
         |    THEN 256 * ln(256.0::DOUBLE / e.zeros) ELSE e.raw END, 6) AS hll_est
         |FROM x JOIN e USING (event_type)""".stripMargin
    }),
    // repeated-substring detection: token 8-gram windows recurring
    // corpus-wide, merged into maximal spans (exact-substring dedup at
    // window granularity — doc-level dedup's missing finer level)
    QuerySpec("q_dup_spans", (s, dir) =>
      CurationOps.duplicateSpans(docs(s, dir), "doc_id", "text", k = 8),
      s"""WITH $dupWindowCtes,
         |g AS (SELECT doc_id, pos,
         |        CASE WHEN pos > lag(pos) OVER (PARTITION BY doc_id
         |                                       ORDER BY pos) + 8
         |             THEN 1 ELSE 0 END AS gap
         |      FROM dw),
         |i AS (SELECT doc_id, pos,
         |        sum(gap) OVER (PARTITION BY doc_id ORDER BY pos
         |                       ROWS UNBOUNDED PRECEDING) AS island
         |      FROM g)
         |SELECT doc_id, min(pos) AS span_start, max(pos) + 7 AS span_end,
         |       count(*) AS n_windows
         |FROM i GROUP BY doc_id, island""".stripMargin),
    // keep-first removal of those spans: per-doc token loss + digest of
    // the rewritten body (narrow result; full text never shuffles)
    QuerySpec("q_dup_span_removal", (s, dir) =>
      CurationOps.removeDuplicateSpans(docs(s, dir), "doc_id", "text", k = 8),
      s"""WITH $dupWindowCtes,
         |r AS (SELECT doc_id, pos,
         |        row_number() OVER (PARTITION BY h ORDER BY doc_id, pos) AS rk
         |      FROM dw),
         |rm AS (SELECT doc_id, pos FROM r WHERE rk > 1),
         |g AS (SELECT doc_id, pos,
         |        CASE WHEN pos > lag(pos) OVER (PARTITION BY doc_id
         |                                       ORDER BY pos) + 8
         |             THEN 1 ELSE 0 END AS gap
         |      FROM rm),
         |i AS (SELECT doc_id, pos,
         |        sum(gap) OVER (PARTITION BY doc_id ORDER BY pos
         |                       ROWS UNBOUNDED PRECEDING) AS island
         |      FROM g),
         |sp AS (SELECT doc_id, min(pos) AS s, max(pos) + 7 AS e
         |       FROM i GROUP BY doc_id, island),
         |rp AS (SELECT doc_id, unnest(generate_series(s, e)) AS tpos FROM sp),
         |aff AS (SELECT DISTINCT doc_id FROM rp),
         |tok AS (SELECT doc_id, unnest(toks) AS tok,
         |          unnest(generate_series(0, len(toks)-1)) AS tpos
         |        FROM t WHERE doc_id IN (SELECT doc_id FROM aff)),
         |keep AS (SELECT tok.doc_id, tok.tpos, tok.tok
         |         FROM tok LEFT JOIN rp
         |           ON tok.doc_id = rp.doc_id AND tok.tpos = rp.tpos
         |         WHERE rp.doc_id IS NULL),
         |rebuilt AS (SELECT doc_id, count(*) AS n_kept,
         |              md5(string_agg(tok, ' ' ORDER BY tpos)) AS clean_digest
         |            FROM keep GROUP BY doc_id)
         |SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens,
         |       CAST(0 AS BIGINT) AS n_removed,
         |       md5(array_to_string(toks, ' ')) AS clean_digest
         |FROM t WHERE doc_id NOT IN (SELECT doc_id FROM aff)
         |UNION ALL
         |SELECT t.doc_id, CAST(len(t.toks) AS BIGINT),
         |       CAST(len(t.toks) - r.n_kept AS BIGINT), r.clean_digest
         |FROM t JOIN rebuilt r USING (doc_id)
         |UNION ALL
         |SELECT t.doc_id, CAST(len(t.toks) AS BIGINT),
         |       CAST(len(t.toks) AS BIGINT), md5('')
         |FROM t
         |WHERE doc_id IN (SELECT doc_id FROM aff)
         |  AND doc_id NOT IN (SELECT doc_id FROM rebuilt)""".stripMargin),
    // corpus-composition report: source x language mixture shares
    QuerySpec("q_mixture_report", (s, dir) =>
      CurationOps.mixtureReport(docs(s, dir), "text", Seq("source", "lang")),
      s"""SELECT source, lang, count(*) AS n_docs,
         |  CAST(sum(len(toks)) AS BIGINT) AS n_tokens,
         |  CAST(sum(length(text)) AS BIGINT) AS n_chars,
         |  round(count(*) / (sum(count(*)) OVER ()), 6) AS doc_share,
         |  round(sum(len(toks)) / (sum(sum(len(toks))) OVER ()), 6)
         |    AS token_share
         |FROM (SELECT source, lang, text, $toksSql AS toks FROM documents)
         |GROUP BY source, lang""".stripMargin),
    // deterministic downsample-only resample to a target language mix
    // (zh has no target weight -> dropped entirely)
    QuerySpec("q_mixture_resample", (s, dir) =>
      CurationOps.mixtureResample(docs(s, dir), "doc_id", "lang",
        Map("en" -> 0.5, "de" -> 0.2, "es" -> 0.15, "fr" -> 0.15)),
      s"""WITH tgt AS (SELECT * FROM (VALUES
         |    ('en', CAST(0.5 AS DOUBLE)), ('de', CAST(0.2 AS DOUBLE)),
         |    ('es', CAST(0.15 AS DOUBLE)), ('fr', CAST(0.15 AS DOUBLE)))
         |  AS v(lang, t)),
         |d AS (SELECT doc_id, documents.lang, t
         |      FROM documents JOIN tgt ON documents.lang = tgt.lang),
         |c AS (SELECT lang, t, count(*) AS c FROM d GROUP BY lang, t),
         |q AS (SELECT lang,
         |        CAST(floor(t * (min(c / t) OVER ())) AS BIGINT) AS quota
         |      FROM c),
         |r AS (SELECT doc_id, lang,
         |        row_number() OVER (PARTITION BY lang ORDER BY
         |          CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)),
         |                                  1, 15)) AS BIGINT), doc_id) AS rk
         |      FROM d)
         |SELECT r.doc_id, r.lang, CAST(r.rk AS BIGINT) AS rk
         |FROM r JOIN q USING (lang) WHERE rk <= quota""".stripMargin),
    // concat-and-chunk sequence packing: 256-token sequences, 8 buckets
    QuerySpec("q_pack_sequences", (s, dir) =>
      CurationOps.packSequences(docs(s, dir), "doc_id", "text",
        budget = 256, numBuckets = 8),
      s"""WITH b AS (SELECT doc_id, CAST(len($toksSql) AS BIGINT) AS n_tokens,
         |    CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 15))
         |         AS BIGINT) AS hkey
         |  FROM documents),
         |o AS (SELECT doc_id, CAST(hkey % 8 AS INT) AS bucket, n_tokens,
         |        CAST(sum(n_tokens) OVER (PARTITION BY hkey % 8
         |               ORDER BY hkey, doc_id ROWS UNBOUNDED PRECEDING)
         |             - n_tokens AS BIGINT) AS start_off
         |      FROM b)
         |SELECT doc_id, bucket, CAST(start_off // 256 AS BIGINT) AS seq_id,
         |       CAST(start_off % 256 AS BIGINT) AS seq_offset, n_tokens
         |FROM o""".stripMargin),
    // the END-TO-END curation composition, hash-gated as one unit: exact
    // dedup -> near-dup removal -> 20-token floor -> decontamination
    // against the doc_id%17 slice at <= 0.3 shingle overlap. The oracle
    // chains the same five relational stages in one SQL statement.
    QuerySpec("q_curate", (s, dir) => {
      val d = docs(s, dir)
      CurationOps.curate(d, "doc_id", "text", minTokens = Some(20),
        benchmark = Some(d.where(col("doc_id") % 17 === 0)),
        maxContamination = 0.3)._1.select(col("doc_id"), col("source"))
    }, {
      // end-to-end curation: the five stages chained in one statement —
      // exact dedup (md5 text), minhash near-dup clusters via recursive
      // closure (non-canonical members dropped), 20-token floor, and
      // distinct-shingle contamination <= 0.3 vs the doc_id%17 slice
      val mods = DedupOps.minhashMultipliers(12).map(c =>
        s"list_min([${DedupOps.permuteHashSql("x", c)} FOR x IN hs])")
        .mkString(",\n|    ")
      s"""WITH RECURSIVE t0 AS (SELECT doc_id, text, source FROM documents),
         |e0 AS (SELECT doc_id, text, source, md5(text) AS fp FROM t0),
         |ec AS (SELECT fp, min(doc_id) AS cid FROM e0 GROUP BY fp),
         |t1 AS (SELECT e0.doc_id, e0.text, e0.source
         |       FROM e0 JOIN ec USING (fp) WHERE e0.doc_id = ec.cid),
         |d1 AS (SELECT doc_id,
         |  CASE WHEN len(toks) >= 3
         |    THEN list_distinct([array_to_string(toks[i:i+2], ' ')
         |                       FOR i IN generate_series(1, len(toks)-2)])
         |    ELSE [array_to_string(toks, ' ')] END AS sh
         |  FROM (SELECT doc_id, $toksSql AS toks FROM t1)),
         |h1 AS (SELECT doc_id, $hashListSql AS hs FROM d1),
         |sig AS (SELECT doc_id, [
         |    $mods
         |  ] AS sig FROM h1),
         |bnd AS (SELECT doc_id, b,
         |  md5(b || '|' || array_to_string(sig[b*3+1 : b*3+3], ',')) AS bh
         |  FROM sig CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS b)),
         |cand AS (SELECT DISTINCT x.doc_id AS ida, y.doc_id AS idb
         |  FROM bnd x JOIN bnd y
         |    ON x.b = y.b AND x.bh = y.bh AND x.doc_id < y.doc_id),
         |pairs AS (SELECT ida, idb
         |  FROM cand JOIN h1 a ON cand.ida = a.doc_id
         |            JOIN h1 b ON cand.idb = b.doc_id
         |  WHERE $jaccardSql >= 0.5),
         |g AS (SELECT ida AS u, idb AS v FROM pairs
         |      UNION SELECT idb, ida FROM pairs),
         |reach AS (SELECT u, v FROM g
         |          UNION SELECT r.u, g.v FROM reach r JOIN g ON r.v = g.u),
         |cl AS (SELECT u AS doc_id, least(u, min(v)) AS cluster_id
         |       FROM reach GROUP BY u),
         |t2 AS (SELECT t1.doc_id, t1.text, t1.source FROM t1
         |  LEFT JOIN cl USING (doc_id)
         |  WHERE cl.cluster_id IS NULL OR cl.cluster_id = t1.doc_id),
         |t3 AS (SELECT * FROM t2 WHERE len($toksSql) >= 20),
         |db AS (SELECT doc_id,
         |  CASE WHEN len(toks) >= 3
         |    THEN list_distinct([array_to_string(toks[i:i+2], ' ')
         |                       FOR i IN generate_series(1, len(toks)-2)])
         |    ELSE [array_to_string(toks, ' ')] END AS sh
         |  FROM (SELECT doc_id, $toksSql AS toks FROM t0
         |        WHERE doc_id % 17 = 0)),
         |bh AS (SELECT DISTINCT unnest(hs) AS h
         |       FROM (SELECT $hashListSql AS hs FROM db)),
         |ch AS (SELECT h1.doc_id, unnest(h1.hs) AS h
         |       FROM h1 JOIN t3 USING (doc_id)),
         |cont AS (SELECT ch.doc_id,
         |  sum(CASE WHEN bh.h IS NOT NULL THEN 1 ELSE 0 END)::DOUBLE
         |    / count(*) AS c
         |  FROM ch LEFT JOIN bh ON ch.h = bh.h GROUP BY ch.doc_id)
         |SELECT t3.doc_id, t3.source
         |FROM t3 JOIN cont USING (doc_id)
         |WHERE round(cont.c, 6) <= 0.3""".stripMargin
    }),
  )

  // mirror of PipelineOps.hash60 over an `event_id` column
  private lazy val hash60Sql =
    "CAST(('0x' || substring(md5(CAST(event_id AS VARCHAR)), 1, 15)) AS BIGINT)"

  // Repeated 8-gram window occurrences (minCount=2), mirroring
  // CurationOps.duplicateWindows: dw(doc_id, pos, h) with t(doc_id, toks)
  // kept visible for the removal oracle's rebuild step. Window hash =
  // 60-bit md5 prefix of the space-joined tokens (ShingleHash64).
  private lazy val dupWindowCtes =
    s"""t AS (SELECT doc_id, $toksSql AS toks FROM documents),
       |w0 AS (SELECT doc_id,
       |  [CAST(('0x' || substring(md5(array_to_string(toks[i:i+7], ' ')),
       |                           1, 15)) AS BIGINT)
       |   FOR i IN generate_series(1, len(toks)-7)] AS hs
       |  FROM t WHERE len(toks) >= 8),
       |w AS (SELECT doc_id, unnest(hs) AS h,
       |        unnest(generate_series(0, len(hs)-1)) AS pos
       |      FROM w0),
       |hot AS (SELECT h FROM w GROUP BY h HAVING count(*) >= 2),
       |dw AS (SELECT w.doc_id, w.pos, w.h FROM w JOIN hot USING (h))""".stripMargin
}
