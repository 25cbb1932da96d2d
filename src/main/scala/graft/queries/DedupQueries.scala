package graft
package queries

import org.apache.spark.sql.functions._
import graft.operators._
import Common._

/** Text dedup: exact, MinHash-LSH, n-gram Jaccard, SimHash, incremental
  * and edit-distance pairs and clusters. */
private[queries] object DedupQueries {
  val specs: Seq[QuerySpec] = QuerySpec.family(ScanSplit.text)(
    QuerySpec("q_dedup_exact", (s, dir) =>
      DedupOps.exactDedup(docs(s, dir), "doc_id",
        DedupOps.tokenSetFingerprint(col("text")))
        .select(col("doc_id"), col("fp"), col("canonical_id"), col("is_dup")),
      s"""WITH d AS (SELECT doc_id,
         |  md5(array_to_string(list_sort(list_distinct($toksSql)), ' ')) AS fp
         |  FROM documents),
         |c AS (SELECT fp, min(doc_id) AS canonical_id FROM d GROUP BY fp)
         |SELECT d.doc_id, d.fp, c.canonical_id,
         |       d.doc_id <> c.canonical_id AS is_dup
         |FROM d JOIN c USING (fp)""".stripMargin),
    QuerySpec("q_dedup_minhash", (s, dir) =>
      DedupOps.minhashNearDupPairs(docs(s, dir), "doc_id", "text",
        shingleN = 3, k = 12, bands = 4, threshold = 0.5)
        .select(col("ida"), col("idb"), round(col("jaccard"), 6).as("jaccard")), {
      // same 60-bit hash + odd-multiplier permutations as DedupOps
      // (30-bit-split modular multiply, identical in both engines)
      val mods = DedupOps.minhashMultipliers(12).map(c =>
        s"list_min([${DedupOps.permuteHashSql("x", c)} FOR x IN hs])")
        .mkString(",\n|    ")
      s"""WITH d AS ($shinglesSql),
         |h AS (SELECT doc_id, $hashListSql AS hs FROM d),
         |sig AS (SELECT doc_id, [
         |    $mods
         |  ] AS sig FROM h),
         |bands AS (SELECT doc_id, b,
         |  md5(b || '|' || array_to_string(sig[b*3+1 : b*3+3], ',')) AS bh
         |  FROM sig CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS b)),
         |cand AS (SELECT DISTINCT a.doc_id AS ida, b.doc_id AS idb
         |  FROM bands a JOIN bands b
         |    ON a.b = b.b AND a.bh = b.bh AND a.doc_id < b.doc_id)
         |SELECT ida, idb, round($jaccardSql, 6) AS jaccard
         |FROM cand JOIN h a ON cand.ida = a.doc_id JOIN h b ON cand.idb = b.doc_id
         |WHERE $jaccardSql >= 0.5""".stripMargin
    }),
    // pairs -> dedup decisions: connected components over the near-dup
    // graph; min-id per component is the canonical doc
    QuerySpec("q_dedup_clusters", (s, dir) =>
      DedupOps.nearDupClusters(docs(s, dir), "doc_id", "text",
        shingleN = 3, k = 12, bands = 4, threshold = 0.5), {
      // same LSH pipeline as q_dedup_minhash, then components as a recursive
      // transitive closure (fine at oracle scale; the engine iterates
      // min-label propagation instead). The CTE chain through `pairs` is
      // shared with the pinned closure recipe, so the two oracles
      // cannot drift apart.
      s"""WITH RECURSIVE ${minhashPairCtes()},
         |e AS (SELECT ida AS u, idb AS v FROM pairs
         |      UNION SELECT idb, ida FROM pairs),
         |reach AS (SELECT u, v FROM e
         |          UNION SELECT r.u, e.v FROM reach r JOIN e ON r.v = e.u)
         |SELECT u AS doc_id, least(u, min(v)) AS cluster_id,
         |       least(u, min(v)) = u AS is_canonical
         |FROM reach GROUP BY u""".stripMargin
    },
      pinned = Some(Map(
        "kind" -> "closure",
        "models" -> "",
        "pairs_sql" -> s"WITH ${minhashPairCtes()}\nSELECT ida, idb FROM pairs",
        "final_sql" -> ("SELECT node AS doc_id, lbl AS cluster_id, " +
          "lbl = node AS is_canonical FROM labels"))),
      // its connected-components rounds inherit the scan partitioning
      // (1.9x slower on 512 KB splits)
      confs = ScanSplit.light),
    // brute-force O(n²) oracle baseline for the LSH path — bounded to the
    // first 1000 docs so bench cost stays bounded (the LSH variant above is
    // the full-corpus path)
    QuerySpec("q_ngram_jaccard", (s, dir) =>
      DedupOps.ngramJaccardPairs(docs(s, dir).where(col("doc_id") < 1000),
        "doc_id", "text", shingleN = 3, threshold = 0.3)
        .select(col("ida"), col("idb"), round(col("jaccard"), 6).as("jaccard")),
      s"""WITH d0 AS ($shinglesSql),
         |d AS (SELECT doc_id, $hashListSql AS hs FROM d0 WHERE doc_id < 1000)
         |SELECT a.doc_id AS ida, b.doc_id AS idb, round($jaccardSql, 6) AS jaccard
         |FROM d a JOIN d b ON a.doc_id < b.doc_id
         |WHERE $jaccardSql >= 0.3""".stripMargin),
    QuerySpec("q_simhash", (s, dir) =>
      DedupOps.simhash(docs(s, dir), "doc_id", "text")
        .withColumnRenamed("id", "doc_id"),
      simhashSql),
    QuerySpec("q_simhash_pairs", (s, dir) =>
      DedupOps.simhashNearDupPairs(
        DedupOps.simhash(docs(s, dir), "doc_id", "text"),
        "id", "simhash", bits = 60, maxDist = 3),
      s"""WITH s AS ($simhashSql),
         |blk AS (SELECT doc_id, simhash, b,
         |  (simhash >> (b * 15)) & 32767 AS blkval
         |  FROM s CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS b)),
         |cand AS (SELECT DISTINCT x.doc_id AS ida, y.doc_id AS idb,
         |  x.simhash AS sa, y.simhash AS sb
         |  FROM blk x JOIN blk y
         |    ON x.b = y.b AND x.blkval = y.blkval AND x.doc_id < y.doc_id)
         |SELECT ida, idb, bit_count(xor(sa, sb)) AS dist
         |FROM cand WHERE bit_count(xor(sa, sb)) <= 3""".stripMargin),
    // incremental (cross-snapshot) dedup: even doc_ids play the EXISTING
    // corpus, odd ids the incoming batch; every incoming doc is classified
    // exact / near / new against the corpus via a cross-side band join —
    // the per-snapshot ingestion shape (no corpus self-pairing, no rescan)
    QuerySpec("q_dedup_incremental", (s, dir) => {
      val d = docs(s, dir)
      DedupOps.dedupAgainstCorpus(
        d.where(col("doc_id") % 2 === 0), d.where(col("doc_id") % 2 === 1),
        "doc_id", "text", shingleN = 3, k = 12, bands = 4, threshold = 0.5)
    }, {
      // incremental dedup: the engine's collapse/expand pre-pass is
      // invisible to results, so the oracle is the direct formulation —
      // fingerprint lookup, cross-side band join, jaccard refine, best match
      val mods = DedupOps.minhashMultipliers(12).map(c =>
        s"list_min([${DedupOps.permuteHashSql("x", c)} FOR x IN hs])")
        .mkString(",\n|    ")
      def side(cte: String, pred: String): String =
        s"""$cte AS (SELECT doc_id, text FROM documents WHERE $pred),
           |${cte}_sh AS (SELECT doc_id,
           |  CASE WHEN len(toks) >= 3
           |    THEN list_distinct([array_to_string(toks[i:i+2], ' ')
           |                       FOR i IN generate_series(1, len(toks)-2)])
           |    ELSE [array_to_string(toks, ' ')] END AS sh
           |  FROM (SELECT doc_id, $toksSql AS toks FROM $cte)),
           |${cte}_h AS (SELECT doc_id, $hashListSql AS hs FROM ${cte}_sh),
           |${cte}_sig AS (SELECT doc_id, [
           |    $mods
           |  ] AS sig FROM ${cte}_h),
           |${cte}_b AS (SELECT doc_id, b,
           |  md5(b || '|' || array_to_string(sig[b*3+1 : b*3+3], ',')) AS bh
           |  FROM ${cte}_sig CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS b))"""
      s"""WITH ${side("ex", "doc_id % 2 = 0")},
         |${side("inc", "doc_id % 2 = 1")},
         |efp AS (SELECT md5(array_to_string(list_sort(list_distinct($toksSql)), ' ')) AS fp,
         |  min(doc_id) AS exact_id FROM ex GROUP BY 1),
         |ifp AS (SELECT doc_id,
         |  md5(array_to_string(list_sort(list_distinct($toksSql)), ' ')) AS fp
         |  FROM inc),
         |ehit AS (SELECT ifp.doc_id, efp.exact_id
         |  FROM ifp LEFT JOIN efp USING (fp)),
         |cand AS (SELECT DISTINCT i.doc_id AS id, e.doc_id AS eid
         |  FROM inc_b i JOIN ex_b e ON i.b = e.b AND i.bh = e.bh),
         |ref AS (SELECT id, eid, $jaccardSql AS jaccard
         |  FROM cand JOIN inc_h a ON cand.id = a.doc_id
         |            JOIN ex_h b ON cand.eid = b.doc_id
         |  WHERE $jaccardSql >= 0.5),
         |best AS (SELECT id, eid AS near_id, jaccard AS near_jaccard FROM (
         |  SELECT *, row_number() OVER (PARTITION BY id
         |    ORDER BY jaccard DESC, eid ASC) AS rn FROM ref) WHERE rn = 1)
         |SELECT e.doc_id,
         |  CASE WHEN e.exact_id IS NOT NULL THEN 'exact'
         |       WHEN b.near_id IS NOT NULL THEN 'near'
         |       ELSE 'new' END AS status,
         |  CASE WHEN e.exact_id IS NOT NULL THEN e.exact_id
         |       ELSE b.near_id END AS matched_id,
         |  CASE WHEN e.exact_id IS NOT NULL THEN CAST(1.0 AS DOUBLE)
         |       ELSE round(b.near_jaccard, 6) END AS jaccard
         |FROM ehit e LEFT JOIN best b ON e.doc_id = b.id""".stripMargin
    }),
    // edit distance over the LSH near-dup candidates (the precise-refine
    // step a fuzzy-dedup pipeline runs after candidate generation).
    // Duplicate-safe: byte-identical texts collapse to one representative
    // BEFORE candidate generation (DedupOps.collapseIdentical on
    // md5(text)), so the O(len^2) levenshtein kernel runs once per
    // distinct-text pair, not once per doc pair; member pairs rejoin
    // relationally — cross-group pairs inherit the rep pair's distance
    // (members carry byte-identical text) and within-group pairs are 0.
    QuerySpec("q_levenshtein", (s, dir) => {
      val (reps, membership, repPairs) = DedupOps.minhashNearDupRepPairs(
        docs(s, dir).select(col("doc_id"), col("text")), "doc_id", "text",
        shingleN = 3, k = 12, bands = 4, threshold = 0.5)
      val lev = repPairs
        .join(reps.select(col("doc_id").as("ida"), col("text").as("ta")), "ida")
        .join(reps.select(col("doc_id").as("idb"), col("text").as("tb")), "idb")
        .select(col("ida"), col("idb"),
          levenshtein(col("ta"), col("tb")).as("edit_dist"))
      DedupOps.expandPairs(lev, membership, Seq(lit(0).as("edit_dist")))
    }, {
      // same LSH candidate pipeline as q_dedup_minhash, refined by edit
      // distance (both engines implement unit-cost Levenshtein). The oracle
      // short-circuits identical texts to 0 (levenshtein(a,a) = 0 by
      // definition): on duplicate-skewed corpora the candidate set is
      // dominated by exact-duplicate pairs, and computing the O(len^2) DP
      // for each made the zipf-fixture oracle infeasible.
      val mods = DedupOps.minhashMultipliers(12).map(c =>
        s"list_min([${DedupOps.permuteHashSql("x", c)} FOR x IN hs])")
        .mkString(",\n|    ")
      s"""WITH d AS ($shinglesSql),
         |h AS (SELECT doc_id, $hashListSql AS hs FROM d),
         |sig AS (SELECT doc_id, [
         |    $mods
         |  ] AS sig FROM h),
         |bands AS (SELECT doc_id, b,
         |  md5(b || '|' || array_to_string(sig[b*3+1 : b*3+3], ',')) AS bh
         |  FROM sig CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS b)),
         |cand AS (SELECT DISTINCT a.doc_id AS ida, b.doc_id AS idb
         |  FROM bands a JOIN bands b
         |    ON a.b = b.b AND a.bh = b.bh AND a.doc_id < b.doc_id),
         |pairs AS (SELECT ida, idb
         |  FROM cand JOIN h a ON cand.ida = a.doc_id JOIN h b ON cand.idb = b.doc_id
         |  WHERE $jaccardSql >= 0.5)
         |SELECT ida, idb,
         |  CASE WHEN da.text = db.text THEN 0
         |       ELSE levenshtein(da.text, db.text) END AS edit_dist
         |FROM pairs JOIN documents da ON pairs.ida = da.doc_id
         |JOIN documents db ON pairs.idb = db.doc_id""".stripMargin
    }),
  )

  // Relational SimHash mirroring DedupOps.simhash (60-bit, tf-weighted
  // bit votes).
  private lazy val simhashSql =
    s"""SELECT doc_id,
       |  CAST(sum(CASE WHEN s > 0 THEN (1::BIGINT << j) ELSE 0 END) AS BIGINT)
       |    AS simhash
       |FROM (SELECT doc_id, j,
       |  sum(CASE WHEN (h >> j) & 1 = 1 THEN tf ELSE -tf END) AS s
       |  FROM (SELECT doc_id, tf,
       |    CAST(('0x' || substring(md5(term), 1, 15)) AS BIGINT) AS h
       |    FROM (SELECT doc_id, term, count(*) AS tf
       |      FROM (SELECT doc_id, unnest($toksSql) AS term FROM documents)
       |      GROUP BY doc_id, term))
       |  CROSS JOIN (SELECT unnest(generate_series(0, 59)) AS j)
       |  GROUP BY doc_id, j)
       |GROUP BY doc_id""".stripMargin

  /** The MinHash-LSH near-dup CTE chain ending in `pairs(ida, idb)` —
    * shingles, 12 permuted min-hashes, 4 banded buckets, candidate join,
    * Jaccard >= 0.5 refine. Shared VERBATIM by the committed
    * q_dedup_clusters oracle (recursive closure on top) and the
    * pinned iterative-closure recipe (scripted min-label
    * propagation on top), so the two can only differ in how the closure
    * is computed. */
  private def minhashPairCtes(): String = {
    val mods = DedupOps.minhashMultipliers(12).map(c =>
      s"list_min([${DedupOps.permuteHashSql("x", c)} FOR x IN hs])")
      .mkString(",\n|    ")
    s"""d AS ($shinglesSql),
       |h AS (SELECT doc_id, $hashListSql AS hs FROM d),
       |sig AS (SELECT doc_id, [
       |    $mods
       |  ] AS sig FROM h),
       |bands AS (SELECT doc_id, b,
       |  md5(b || '|' || array_to_string(sig[b*3+1 : b*3+3], ',')) AS bh
       |  FROM sig CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS b)),
       |cand AS (SELECT DISTINCT a.doc_id AS ida, b.doc_id AS idb
       |  FROM bands a JOIN bands b
       |    ON a.b = b.b AND a.bh = b.bh AND a.doc_id < b.doc_id),
       |pairs AS (SELECT ida, idb
       |  FROM cand JOIN h a ON cand.ida = a.doc_id JOIN h b ON cand.idb = b.doc_id
       |  WHERE $jaccardSql >= 0.5)""".stripMargin
  }
}
