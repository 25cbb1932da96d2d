package graft
package queries

/** DuckDB oracle builders for [[AnnQueries]]: the embedding CTE, the
  * unrolled Lloyd training of the IVF centroids and PQ codebooks, and the
  * probe, ADC, LSH, SemDeDup and recall queries built on them. Every
  * builder with a `pinned` switch swaps the training for a read of the
  * engine's exported model and keeps the rest of the SQL verbatim. */
private[queries] object AnnSql {
  // Cosine over double-cast embedding lists with per-row precomputed norms,
  // mirroring SimilarityOps (dot(a,b) / (nrm_a * nrm_b)).
  val embSql =
    """SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM (
      |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      |  FROM embeddings)""".stripMargin

  /** Per-subspace Lloyd training CTEs for TWO subspaces over `src`'s
    * `vcol` vector column: produces sub0/sub1, c0_N/c1_N (final
    * codebooks) and code0/code1 (per-vector cell codes). Shared by the
    * flat-PQ oracle (src = the embedding CTE) and the IVF-PQ oracle
    * (src = the residual CTE).
    *
    * When `pinnedPrefix` is set, the training iterations are REPLACED by
    * reads of exported model tables `<prefix>0`/`<prefix>1` (cell, cv) —
    * the CTE names (c0_N, c1_N, code0, code1) are identical, so the
    * probe/ADC tail downstream is shared VERBATIM with the unrolled
    * oracle and the pinned variant can only differ in where the model
    * came from. This is what closes the 100x gate for the queries whose
    * k-means unroll DuckDB cannot execute at scale: training is proven by
    * the unrolled oracle at <=10x, the probe path by the pinned oracle at
    * 100x against the engine's own exported (deterministic, hash-stable)
    * model. */
  private def pqTrainCtes(cells: Int, iters: Int, dim: Int,
                          src: String, vcol: String,
                          pinnedPrefix: Option[String] = None): String = {
    val dsub = dim / 2
    def svExpr(j: Int) =
      if (j == 0) s"$vcol[1:$dsub]" else s"$vcol[${dsub + 1}:$dim]"
    // min-L2 cell pick as a slim GROUP BY argmin — same rewrite (and the
    // same tie rule: lowest distance, then lowest cell) as [[cellPick]],
    // replacing the subvector-payload window sort
    def pickFrom(j: Int, centsCte: String): String =
      s"""(SELECT s2.vec_id, struct_extract(min(
         |    {'d': list_dot_product(c.cv, c.cv)
         |          - 2 * list_dot_product(s2.sv, c.cv),
         |     'cl': c.cell}), 'cl') AS cell
         |  FROM sub$j s2 CROSS JOIN $centsCte c GROUP BY s2.vec_id)"""
    def train(j: Int): String = pinnedPrefix match {
      case Some(p) =>
        s"""sub$j AS (SELECT vec_id, ${svExpr(j)} AS sv FROM $src),
           |c${j}_$iters AS (SELECT CAST(cell AS INT) AS cell, cv
           |  FROM ${p}$j),
           |code$j AS (SELECT vec_id, cell FROM ${pickFrom(j, s"c${j}_$iters")})"""
      case None =>
        def iteration(i: Int) =
          s"""a${j}_$i AS (SELECT s.vec_id, s.sv, p.cell
             |  FROM sub$j s JOIN ${pickFrom(j, s"c${j}_${i - 1}")} p
             |  USING (vec_id)),
             |m${j}_$i AS (SELECT cell, list(mx ORDER BY d) AS cv FROM (
             |  SELECT cell, d, round(avg(val), 6) AS mx FROM (
             |    SELECT cell, unnest(sv) AS val,
             |           unnest(generate_series(1, len(sv))) AS d FROM a${j}_$i)
             |  GROUP BY cell, d) GROUP BY cell),
             |c${j}_$i AS (SELECT c0.cell, COALESCE(m${j}_$i.cv, c0.cv) AS cv
             |  FROM c${j}_${i - 1} c0 LEFT JOIN m${j}_$i USING (cell))"""
        s"""sub$j AS (SELECT vec_id, ${svExpr(j)} AS sv FROM $src),
           |c${j}_0 AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cell,
           |  sv AS cv FROM (SELECT vec_id, sv FROM sub$j ORDER BY vec_id
           |                 LIMIT $cells)),
           |${(1 to iters).map(iteration).mkString(",\n")},
           |code$j AS (SELECT vec_id, cell FROM ${pickFrom(j, s"c${j}_$iters")})"""
    }
    s"""${train(0)},
       |${train(1)}""".stripMargin
  }

  /** The q_ann_pq oracle: per-subspace Lloyd (L2 assignment, seeds = the
    * `cells` lowest-id vectors' subvectors, means rounded to 6 decimals
    * per iteration, empty cells keep their centroid) unrolled in SQL for
    * TWO subspaces, then ADC scoring — the PQ twin of
    * [[ivfTrainedOracleSql]]. */
  def pqOracleSql(cells: Int, iters: Int, topK: Int,
                  dim: Int,
                  pinnedPrefix: Option[String] = None): String = {
    val dsub = dim / 2
    s"""WITH e AS ($embSql),
       |${pqTrainCtes(cells, iters, dim, "e", "v", pinnedPrefix)},
       |q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 3),
       |lk0 AS (SELECT q.query_id, c.cell,
       |  list_dot_product(q.qv[1:$dsub], c.cv) AS dp
       |  FROM q CROSS JOIN c0_$iters c),
       |lk1 AS (SELECT q.query_id, c.cell,
       |  list_dot_product(q.qv[${dsub + 1}:$dim], c.cv) AS dp
       |  FROM q CROSS JOIN c1_$iters c),
       |sc AS (SELECT lk0.query_id, code0.vec_id,
       |  round(lk0.dp + lk1.dp, 6) AS score
       |  FROM code0 JOIN code1 USING (vec_id)
       |  JOIN lk0 ON lk0.cell = code0.cell
       |  JOIN lk1 ON lk1.cell = code1.cell
       |    AND lk1.query_id = lk0.query_id
       |  WHERE code0.vec_id <> lk0.query_id)
       |SELECT query_id, vec_id, score, rn FROM (
       |  SELECT *, row_number() OVER (PARTITION BY query_id
       |    ORDER BY score DESC, vec_id ASC) AS rn FROM sc)
       |WHERE rn <= $topK""".stripMargin
  }

  /** The q_ann_ivfpq oracle: coarse unrolled-Lloyd training (shared with
    * q_ann_ivf_trained), per-vector residuals against the final
    * centroids, per-subspace Lloyd codebooks over the RESIDUALS (shared
    * CTE builder with q_ann_pq), then probe + inner-product
    * decomposition scoring dot(q,c) + residual ADC. */
  def ivfPqOracleSql(nlist: Int, iters: Int, nprobe: Int,
                     cells: Int, k: Int, dim: Int,
                     pinned: Boolean = false): String = {
    val dsub = dim / 2
    s"""WITH ${ivfTrainCtes(nlist, iters, pinned)},
       |res AS (SELECT a.vec_id, a.cell AS ccell,
       |  [a.v[i] - c.cv[i] FOR i IN generate_series(1, $dim)] AS rv
       |  FROM asg a JOIN cents$iters c ON a.cell = c.cell),
       |${pqTrainCtes(cells, iters, dim, "res", "rv",
          if (pinned) Some("__m_ivfpq_book") else None)},
       |q AS (SELECT vec_id AS query_id, v AS qv, nrm AS qnrm FROM e
       |      WHERE vec_id < 3),
       |probe AS (SELECT query_id, qv, cell, qdotc FROM (
       |  SELECT q.query_id, q.qv, c.cell,
       |    list_dot_product(q.qv, c.cv) AS qdotc,
       |    row_number() OVER (PARTITION BY q.query_id
       |      ORDER BY list_dot_product(q.qv, c.cv) / (q.qnrm * c.cnrm)
       |        DESC, c.cell ASC) AS rc
       |  FROM q CROSS JOIN cents$iters c) WHERE rc <= $nprobe),
       |lk0 AS (SELECT q.query_id, c.cell,
       |  list_dot_product(q.qv[1:$dsub], c.cv) AS dp
       |  FROM q CROSS JOIN c0_$iters c),
       |lk1 AS (SELECT q.query_id, c.cell,
       |  list_dot_product(q.qv[${dsub + 1}:$dim], c.cv) AS dp
       |  FROM q CROSS JOIN c1_$iters c),
       |resc AS (SELECT vec_id, ccell FROM res),
       |pr AS (SELECT query_id, cell, qdotc FROM probe),
       |sc AS (SELECT pr.query_id, code0.vec_id,
       |  round(pr.qdotc + lk0.dp + lk1.dp, 6) AS score
       |  FROM code0 JOIN code1 USING (vec_id)
       |  JOIN resc ON resc.vec_id = code0.vec_id
       |  JOIN pr ON pr.cell = resc.ccell
       |  JOIN lk0 ON lk0.query_id = pr.query_id AND lk0.cell = code0.cell
       |  JOIN lk1 ON lk1.query_id = pr.query_id AND lk1.cell = code1.cell
       |  WHERE code0.vec_id <> pr.query_id)
       |SELECT query_id, vec_id, score, rn FROM (
       |  SELECT *, row_number() OVER (PARTITION BY query_id
       |    ORDER BY score DESC, vec_id ASC) AS rn FROM sc)
       |WHERE rn <= $k""".stripMargin
  }

  /** Max-cosine cell pick as a slim GROUP BY argmin instead of a
    * payload-carrying window: `min({'nc': -cos, 'cl': cell})` is
    * lexicographic, so it picks highest cos then lowest cell — exactly
    * the window's `ORDER BY cos DESC, cell ASC ... rc = 1` — but the
    * aggregation state is (double, int) per VECTOR, while the window
    * sorted every (vector x centroid) row with the full embedding list
    * in the payload. At the 100x fixture that sort was the oracle's
    * spill driver (>78 GB temp); the argmin form keeps it in RAM. */
  private def cellPick(centsCte: String): String =
    s"""(SELECT e2.vec_id, struct_extract(min(
       |    {'nc': -list_dot_product(e2.v, c.cv) / (e2.nrm * c.cnrm),
       |     'cl': c.cell}), 'cl') AS cell
       |  FROM e e2 CROSS JOIN $centsCte c GROUP BY e2.vec_id)"""

  /** The shared unrolled-Lloyd training CTEs (e, cents0..N, asg): seeds =
    * the `nlist` lowest-id vectors, max-cosine assignment with lowest-cell
    * tie-break, per-iteration 6-decimal mean quantization — ending with
    * the full-corpus assignment `asg(vec_id, v, nrm, cell)`. Consumed by
    * the trained-IVF probe oracle and the SemDeDup oracle.
    *
    * With `pinned = true` the Lloyd iterations are replaced by a read of
    * the exported `__m_ivf_cents` model table — same terminal CTE names
    * (cents$iters, asg), so every downstream probe/assignment consumer is
    * shared verbatim with the unrolled training oracle (see
    * [[pqTrainCtes]] for why). */
  def ivfTrainCtes(nlist: Int, iters: Int,
                   pinned: Boolean = false): String = if (pinned) {
    s"""e AS ($embSql),
       |cents$iters AS (SELECT CAST(cell AS BIGINT) AS cell, cv,
       |  sqrt(list_dot_product(cv, cv)) AS cnrm FROM __m_ivf_cents),
       |asg AS (SELECT e.vec_id, e.v, e.nrm, p.cell
       |  FROM e JOIN ${cellPick(s"cents$iters")} p USING (vec_id))""".stripMargin
  } else {
    def iteration(i: Int): String =
      s"""asg$i AS (SELECT e.vec_id, e.v, e.nrm, p.cell
         |  FROM e JOIN ${cellPick(s"cents${i - 1}")} p USING (vec_id)),
         |m$i AS (SELECT cell, list(mx ORDER BY d) AS cv FROM (
         |  SELECT cell, d, round(avg(val), 6) AS mx FROM (
         |    SELECT cell, unnest(v) AS val,
         |           unnest(generate_series(1, len(v))) AS d FROM asg$i)
         |  GROUP BY cell, d) GROUP BY cell),
         |cents$i AS (SELECT c0.cell, COALESCE(m$i.cv, c0.cv) AS cv,
         |  sqrt(list_dot_product(COALESCE(m$i.cv, c0.cv),
         |                        COALESCE(m$i.cv, c0.cv))) AS cnrm
         |  FROM cents${i - 1} c0 LEFT JOIN m$i USING (cell))""".stripMargin
    s"""e AS ($embSql),
       |cents0 AS (SELECT vec_id AS cell, v AS cv, nrm AS cnrm FROM e
       |           WHERE vec_id < $nlist),
       |${(1 to iters).map(iteration).mkString(",\n")},
       |asg AS (SELECT e.vec_id, e.v, e.nrm, p.cell
       |  FROM e JOIN ${cellPick(s"cents$iters")} p USING (vec_id))""".stripMargin
  }

  /** Trained-IVF oracle: unrolls the k-means (Lloyd) training iterations
    * of `SimilarityOps.trainIvfCentroids(roundDecimals=Some(6))` — assign
    * every vector to its max-cosine centroid (ties -> lowest cell),
    * recompute each cell's centroid as the per-dimension mean ROUNDED to
    * 6 decimals (the per-iteration quantization that resets cross-engine
    * float noise), empty cells keep their previous centroid — then probes
    * with the same top-`nprobe`-cells / top-`k` pipeline as q_ann_ivf.
    * The per-dimension mean zips parallel `unnest`s (DuckDB evaluates
    * them in lockstep) and rebuilds the vector with list(... ORDER BY d).
    */
  def ivfTrainedOracleSql(nlist: Int, iters: Int, nprobe: Int,
                          k: Int, pinned: Boolean = false): String = {
    s"""WITH ${ivfTrainCtes(nlist, iters, pinned)},
       |q AS (SELECT vec_id AS query_id, v AS qv, nrm AS qnrm FROM e
       |      WHERE vec_id < 3),
       |probe AS (SELECT query_id, qv, qnrm, cell FROM (
       |  SELECT q.query_id, q.qv, q.qnrm, c.cell,
       |    row_number() OVER (PARTITION BY q.query_id
       |      ORDER BY list_dot_product(q.qv, c.cv) / (q.qnrm * c.cnrm)
       |        DESC, c.cell ASC) AS rc
       |  FROM q CROSS JOIN cents$iters c) WHERE rc <= $nprobe),
       |s AS (SELECT probe.query_id, asg.vec_id,
       |  round(list_dot_product(probe.qv, asg.v) / (probe.qnrm * asg.nrm), 6)
       |    AS cos
       |  FROM asg JOIN probe ON asg.cell = probe.cell
       |  WHERE asg.vec_id <> probe.query_id)
       |SELECT query_id, vec_id, cos, rn FROM (
       |  SELECT *, row_number() OVER (PARTITION BY query_id
       |                               ORDER BY cos DESC, vec_id ASC) AS rn
       |  FROM s) WHERE rn <= $k""".stripMargin
  }

  /** SemDeDup pinned-closure prelude: pinned-centroid assignment (`asg`
    * via [[ivfTrainCtes]] pinned mode) plus the identical-vector collapse
    * the engine applies (rep = min vec_id per distinct vector) — pair
    * generation runs over REPRESENTATIVES, exactly like
    * `SimilarityOps.semanticDedup`, which is what keeps the oracle's
    * intra-cell self-join bounded by DISTINCT vectors at any duplication
    * factor (uniform 100x or Zipf skew). */
  private def semdedupPinnedPrelude: String =
    s"""${ivfTrainCtes(8, 2, pinned = true)},
       |reps AS (SELECT min(vec_id) AS rid FROM e
       |         GROUP BY md5(array_to_string(v, ','))),
       |ra AS (SELECT a.vec_id, a.v, a.nrm, a.cell
       |       FROM asg a JOIN reps r ON a.vec_id = r.rid)""".stripMargin

  def semdedupPinnedPairsSql: String =
    s"""WITH $semdedupPinnedPrelude,
       |p AS (SELECT a.vec_id AS ida, b.vec_id AS idb
       |  FROM ra a JOIN ra b ON a.cell = b.cell AND a.vec_id < b.vec_id
       |  WHERE round(list_dot_product(a.v, b.v) / (a.nrm * b.nrm), 6)
       |        >= 0.45)
       |SELECT ida, idb FROM p""".stripMargin

  /** Final SemDeDup relation given `labels(node, lbl)` over the rep pair
    * graph: members inherit their representative's component label (reps
    * are group minima, so the component's min rep IS the min member id —
    * identical to the engine's coalesce(cluster_id, rep)). */
  def semdedupPinnedFinalSql: String =
    s"""WITH $semdedupPinnedPrelude,
       |mem AS (SELECT vec_id, min(vec_id) OVER (
       |          PARTITION BY md5(array_to_string(v, ','))) AS rep FROM e)
       |SELECT m.vec_id, a.cell,
       |       COALESCE(l.lbl, m.rep) AS canonical_id,
       |       COALESCE(l.lbl, m.rep) <> m.vec_id AS is_dup
       |FROM mem m JOIN asg a ON m.rep = a.vec_id
       |LEFT JOIN labels l ON m.rep = l.node""".stripMargin

  /** The q_ann_recall oracle: DuckDB re-derives the brute-force reference
    * AND every approximate shortlist (each variant's full oracle nested
    * as a CTE), then recomputes the overlap — the recall numbers are
    * themselves hash-verified. With `pinned = true` the three
    * trained-model families (IVF, PQ, IVF-PQ) read the engine's exported
    * model tables instead of unrolling k-means; brute force and LSH are
    * training-free and stay identical. */
  def recallOracleSql(pinned: Boolean): String = {
    val bruteSql =
      s"""WITH e AS ($embSql),
         |q AS (SELECT vec_id AS query_id, v AS qv, nrm AS qnrm FROM e
         |      WHERE vec_id < 3),
         |s AS (SELECT query_id, vec_id,
         |        round(list_dot_product(qv, v) / (qnrm * nrm), 6) AS cos
         |      FROM e CROSS JOIN q WHERE vec_id <> query_id)
         |SELECT query_id, vec_id FROM (
         |  SELECT *, row_number() OVER (PARTITION BY query_id
         |                               ORDER BY cos DESC, vec_id ASC) AS rn
         |  FROM s) WHERE rn <= 5""".stripMargin
    val variants = Seq(
      "lsh_p4" -> lshAnnOracleSql(multiProbe = false),
      "lsh_p4_mp" -> lshAnnOracleSql(multiProbe = true),
      "ivf_np1" -> ivfTrainedOracleSql(nlist = 8, iters = 2,
        nprobe = 1, k = 5, pinned),
      "ivf_np2" -> ivfTrainedOracleSql(nlist = 8, iters = 2,
        nprobe = 2, k = 5, pinned),
      "ivf_np4" -> ivfTrainedOracleSql(nlist = 8, iters = 2,
        nprobe = 4, k = 5, pinned),
      "pq_m2c4" -> pqOracleSql(cells = 4, iters = 2, topK = 5, dim = 64,
        if (pinned) Some("__m_pq_book") else None),
      "ivfpq_np2" -> ivfPqOracleSql(nlist = 8, iters = 2, nprobe = 2,
        cells = 4, k = 5, dim = 64, pinned))
    val ctes = variants.map { case (n, sql) => s"v_$n AS (\n$sql\n)" }
    val union = variants.map { case (n, _) =>
      s"SELECT '$n' AS method, query_id, vec_id FROM v_$n" }
      .mkString("\n  UNION ALL ")
    s"""WITH brute AS (
       |$bruteSql
       |),
       |${ctes.mkString(",\n")},
       |u AS (
       |  $union),
       |t AS (SELECT CAST(count(*) AS BIGINT) AS total FROM brute)
       |SELECT u.method,
       |  CAST(count(b.query_id) AS BIGINT) AS hits,
       |  (SELECT total FROM t) AS total,
       |  round(CAST(count(b.query_id) AS DOUBLE) / (SELECT total FROM t),
       |        6) AS recall
       |FROM u LEFT JOIN brute b
       |  ON u.query_id = b.query_id AND u.vec_id = b.vec_id
       |GROUP BY u.method""".stripMargin
  }

  /** Hyperplane-LSH ANN oracle (planes=4, k=5, queries vec_id < 3),
    * mirroring SimilarityOps.lshTopK: md5-derived ±1 plane signs, packed
    * sign-bit code, bucket-equality join, (cos DESC, vec_id ASC) rank.
    * `multiProbe` adds the query-side Hamming-distance-1 codes —
    * everything else is shared so the two gates cannot drift apart. */
  def lshAnnOracleSql(multiProbe: Boolean): String = {
    def planeSql(p: Int): String =
      s"[CASE WHEN CAST(('0x' || substring(md5('$p:' || CAST(d AS VARCHAR)), 1, 1)) AS INT) % 2 = 0" +
        s" THEN 1.0 ELSE -1.0 END FOR d IN generate_series(0, len(v) - 1)]"
    val codeSql = (0 until 4).map(p =>
      s"(CASE WHEN list_dot_product(v, ${planeSql(p)}) > 0 THEN ${1L << p} ELSE 0 END)")
      .mkString("\n|    + ")
    val qCte =
      if (!multiProbe)
        """q AS (SELECT vec_id AS query_id, v AS qv, nrm AS qnrm, code AS qcode
          |      FROM c WHERE vec_id < 3)""".stripMargin
      else
        """q0 AS (SELECT vec_id AS query_id, v AS qv, nrm AS qnrm, code AS qc
          |       FROM c WHERE vec_id < 3),
          |q AS (SELECT query_id, qv, qnrm,
          |        unnest([qc, xor(qc, 1), xor(qc, 2), xor(qc, 4), xor(qc, 8)])
          |          AS qcode
          |      FROM q0)""".stripMargin
    s"""WITH e AS ($embSql),
       |c AS (SELECT vec_id, v, nrm, $codeSql AS code FROM e),
       |$qCte,
       |s AS (SELECT query_id, vec_id,
       |        round(list_dot_product(qv, v) / (qnrm * nrm), 6) AS cos
       |      FROM c JOIN q ON c.code = q.qcode AND c.vec_id <> q.query_id)
       |SELECT query_id, vec_id, cos, rn FROM (
       |  SELECT *, row_number() OVER (PARTITION BY query_id
       |                               ORDER BY cos DESC, vec_id ASC) AS rn
       |  FROM s) WHERE rn <= 5""".stripMargin
  }
}
