package graft
package queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators._
import Common._

/** PageRank and graph stats (the assignment-4 family) over the part ->
  * supplier edges of `lineitem`. q_pagerank_range, q_pagerank_hub and
  * q_ppr_hub run under [[Common.distributedLoops]], so their oracles gate
  * the join regime; the other walks take the in-task regime. */
private[queries] object GraphQueries {

  val specs: Seq[QuerySpec] = QuerySpec.family(ScanSplit.text)(
    // Test graph derived from lineitem: part -> supplier edges. Suppliers
    // (keys 0-99, also part keys) close cycles; parts never bought are
    // absent; high-degree suppliers exercise the gather shuffle.
    QuerySpec("q_pagerank", (s, dir) =>
      GraphOps.pageRank(graphEdges(s, dir), iterations = 5)
        .select(col("nodeid"), round(col("rank"), 9).as("pr")),
      pageRankOracle(5)),
    // SAME oracle, the join regime on both graph partitionings: range
    // (G10 second half) here, hash in q_pagerank_hub. Both must land on
    // the in-task regime's ranks, so the gate exercises every PageRank
    // code path end-to-end
    QuerySpec("q_pagerank_range", (s, dir) =>
      GraphOps.pageRank(graphEdges(s, dir), iterations = 5,
        rangePartition = true)
        .select(col("nodeid"), round(col("rank"), 9).as("pr")),
      pageRankOracle(5), confs = distributedLoops),
    // 3 iterations: path coverage is identical at any depth
    QuerySpec("q_pagerank_hub", (s, dir) =>
      GraphOps.pageRank(graphEdges(s, dir), iterations = 3)
        .select(col("nodeid"), round(col("rank"), 9).as("pr")),
      pageRankOracle(3), confs = distributedLoops),
    // the log-space numeric regime (the reference's float-underflow
    // armor, double-precision here) must agree with linear space to
    // 9 decimals — gated against the SAME unrolled oracle as q_pagerank
    QuerySpec("q_pagerank_log", (s, dir) =>
      GraphOps.pageRankLogSpace(graphEdges(s, dir), iterations = 5)
        .select(col("nodeid"), round(exp(col("rank")), 9).as("pr")),
      pageRankOracle(5)),
    QuerySpec("q_ppr_topk", (s, dir) => {
      val pr = GraphOps.personalizedPageRank(graphEdges(s, dir), Seq(1L, 2L), iterations = 5)
        .select(col("source"), col("nodeid"), round(col("rank"), 9).as("rank"))
      GraphOps.topKPerSource(pr, 5).withColumnRenamed("rank", "pr")
    },
      pprTopkOracle(5, Seq(1L, 2L), 5)),
    // personalized PageRank end-to-end in the join regime (per-source
    // scatter, dangling mass returned per source), same oracle.
    // 1 source / 2 iterations: path coverage is invariant in both source
    // count and depth
    QuerySpec("q_ppr_hub", (s, dir) => {
      val pr = GraphOps.personalizedPageRank(graphEdges(s, dir), Seq(1L),
        iterations = 2)
        .select(col("source"), col("nodeid"), round(col("rank"), 9).as("rank"))
      GraphOps.topKPerSource(pr, 5).withColumnRenamed("rank", "pr")
    },
      pprTopkOracle(2, Seq(1L), 5), confs = distributedLoops),
    // convergence mode (the iteration-count-free variant a real engine
    // offers): stops when the L∞ rank change drops below tol. The oracle
    // is a SELF-TERMINATING recursive CTE running the same loop with the
    // same stopping rule, so the gate holds at any SF; the reported
    // iteration count is emitted as a column and must agree cross-engine.
    // tol=1e-4 sits ≥25% from the nearest per-iteration delta at sf0.01
    // and sf0.1 (deltas shrink ~8x/iteration), so float noise cannot flip
    // the stopping iteration between engines.
    QuerySpec("q_pagerank_conv", (s, dir) => {
      val (ranks, iters) = GraphOps.pageRankConverged(graphEdges(s, dir),
        tol = 1e-4, maxIterations = 20)
      ranks.select(col("nodeid"), round(col("rank"), 9).as("pr"),
        lit(iters).as("iters"))
    },
      pageRankConvOracle(1e-4, 20)),
    // graph summary counters (A8) — the reference's job-counter surface
    QuerySpec("q_graph_stats", (s, dir) => {
      val stats = GraphOps.graphStats(graphEdges(s, dir))
      import s.implicits._
      Seq((stats("nodes"), stats("edges"), stats("dangling")))
        .toDF("nodes", "n_edges", "dangling")
    },
      """WITH e AS (SELECT l_partkey AS src, l_suppkey AS dst FROM lineitem),
        |v AS (SELECT src AS nodeid FROM e UNION SELECT dst FROM e)
        |SELECT (SELECT count(*) FROM v) AS nodes,
        |       (SELECT count(*) FROM e) AS n_edges,
        |       (SELECT count(*) FROM v
        |        WHERE nodeid NOT IN (SELECT DISTINCT src FROM e)) AS dangling""".stripMargin),
  )

  private def graphEdges(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .select(col("l_partkey").as("src"), col("l_suppkey").as("dst"))

  // Shared graph CTEs: part->supplier edges from lineitem (deduped, as the
  // engine dedupes), vertex set = src UNION dst, out-degrees.
  private lazy val graphBaseSql =
    """e AS (SELECT DISTINCT l_partkey AS src, l_suppkey AS dst FROM lineitem),
      |v AS (SELECT src AS nodeid FROM e UNION SELECT dst FROM e),
      |nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM v),
      |deg AS (SELECT src, CAST(count(*) AS DOUBLE) AS outdeg FROM e GROUP BY src)""".stripMargin

  /** PageRank unrolled to `iters` CTE rounds (DuckDB has no loops; the
    * unrolled plan is the exact dataflow the engine runs per iteration). */
  private def pageRankOracle(iters: Int): String = {
    val rounds = (1 to iters).map { i =>
      s"""d$i AS (SELECT COALESCE(sum(pr), 0) AS d FROM r${i - 1}
         |        WHERE nodeid NOT IN (SELECT src FROM e)),
         |g$i AS (SELECT e.dst AS nodeid, sum(r.pr / deg.outdeg) AS mass
         |        FROM r${i - 1} r JOIN e ON r.nodeid = e.src JOIN deg ON e.src = deg.src
         |        GROUP BY e.dst),
         |r$i AS (SELECT v.nodeid,
         |        CAST(0.15 AS DOUBLE) / (SELECT n FROM nn)
         |        + CAST(0.85 AS DOUBLE) * (COALESCE(g$i.mass, 0)
         |            + (SELECT d FROM d$i) / (SELECT n FROM nn)) AS pr
         |        FROM v LEFT JOIN g$i ON v.nodeid = g$i.nodeid)""".stripMargin
    }.mkString(",\n")
    s"""WITH $graphBaseSql,
       |r0 AS (SELECT nodeid, 1.0 / (SELECT n FROM nn) AS pr FROM v),
       |$rounds
       |SELECT nodeid, round(pr, 9) AS pr FROM r$iters""".stripMargin
  }

  /** Convergence-mode PageRank as a SELF-TERMINATING recursive CTE: each
    * recursion round computes the next rank vector from the working table
    * (exactly the engine's per-iteration dataflow), carries the L∞ delta
    * as a column, and recurses only while the previous round's delta
    * exceeds `tol` — the same stopping rule as
    * `GraphOps.pageRankConverged`, so the oracle needs no hardcoded
    * iteration count and holds at any SF.
    *
    * DuckDB quirk: inside WITH RECURSIVE, a helper CTE whose body is a
    * TOP-LEVEL `UNION` is itself given recursive-CTE treatment (and
    * silently mis-evaluates); the vertex union is wrapped in a subquery
    * with an explicit DISTINCT instead. */
  private def pageRankConvOracle(tol: Double, maxIter: Int): String =
    s"""WITH RECURSIVE
       |e AS (SELECT DISTINCT l_partkey AS src, l_suppkey AS dst FROM lineitem),
       |v AS (SELECT DISTINCT nodeid FROM
       |      (SELECT src AS nodeid FROM e UNION ALL SELECT dst AS nodeid FROM e)),
       |nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM v),
       |deg AS (SELECT src, CAST(count(*) AS DOUBLE) AS outdeg FROM e GROUP BY src),
       |it AS (
       |  SELECT nodeid, 1.0/(SELECT n FROM nn) AS pr, 1e300 AS delta, 0 AS iter FROM v
       |  UNION ALL
       |  (WITH prev AS (SELECT * FROM it),
       |   d AS (SELECT COALESCE(sum(pr),0) AS d FROM prev
       |         WHERE nodeid NOT IN (SELECT src FROM e)),
       |   g AS (SELECT e.dst AS nodeid, sum(p.pr/deg.outdeg) AS mass
       |         FROM prev p JOIN e ON p.nodeid=e.src JOIN deg ON e.src=deg.src
       |         GROUP BY e.dst),
       |   nxt AS (SELECT v.nodeid,
       |           CAST(0.15 AS DOUBLE)/(SELECT n FROM nn)
       |           + CAST(0.85 AS DOUBLE)*(COALESCE(g.mass,0)
       |               + (SELECT d FROM d)/(SELECT n FROM nn)) AS pr
       |           FROM v LEFT JOIN g USING (nodeid)),
       |   dl AS (SELECT max(abs(nxt.pr - prev.pr)) AS delta
       |          FROM nxt JOIN prev USING (nodeid))
       |   SELECT nxt.nodeid, nxt.pr, (SELECT delta FROM dl) AS delta,
       |          (SELECT max(iter)+1 FROM prev) AS iter
       |   FROM nxt
       |   WHERE (SELECT max(delta) FROM prev) > $tol
       |     AND (SELECT max(iter) FROM prev) < $maxIter)
       |)
       |SELECT nodeid, round(pr, 9) AS pr, iter AS iters
       |FROM it WHERE iter = (SELECT max(iter) FROM it)""".stripMargin

  /** Personalized PageRank: teleport + dangling mass go to the walk's own
    * source only; state keyed by (source, nodeid). Top-k per source after
    * rounding (rounding first makes the rank/tie order engine-stable). */
  private def pprTopkOracle(iters: Int, sources: Seq[Long], k: Int): String = {
    val srcVals = sources.map(s => s"($s)").mkString(", ")
    val rounds = (1 to iters).map { i =>
      s"""d$i AS (SELECT source, COALESCE(sum(pr), 0) AS d FROM r${i - 1}
         |        WHERE nodeid NOT IN (SELECT src FROM e) GROUP BY source),
         |g$i AS (SELECT r.source, e.dst AS nodeid, sum(r.pr / deg.outdeg) AS mass
         |        FROM r${i - 1} r JOIN e ON r.nodeid = e.src JOIN deg ON e.src = deg.src
         |        GROUP BY r.source, e.dst),
         |r$i AS (SELECT vs.source, vs.nodeid,
         |        CASE WHEN vs.nodeid = vs.source THEN CAST(0.15 AS DOUBLE) ELSE 0 END
         |        + CAST(0.85 AS DOUBLE) * (COALESCE(g$i.mass, 0)
         |            + CASE WHEN vs.nodeid = vs.source THEN COALESCE(d$i.d, 0) ELSE 0 END) AS pr
         |        FROM vs
         |        LEFT JOIN g$i ON vs.nodeid = g$i.nodeid AND vs.source = g$i.source
         |        LEFT JOIN d$i ON vs.source = d$i.source)""".stripMargin
    }.mkString(",\n")
    s"""WITH $graphBaseSql,
       |s AS (SELECT CAST(source AS BIGINT) AS source FROM (VALUES $srcVals) AS t(source)),
       |vs AS (SELECT s.source, v.nodeid FROM v CROSS JOIN s),
       |r0 AS (SELECT source, nodeid,
       |       CASE WHEN nodeid = source THEN CAST(1.0 AS DOUBLE) ELSE 0 END AS pr FROM vs),
       |$rounds
       |SELECT source, nodeid, pr, rn FROM (
       |  SELECT source, nodeid, round(pr, 9) AS pr,
       |         row_number() OVER (PARTITION BY source
       |                            ORDER BY round(pr, 9) DESC, nodeid ASC) AS rn
       |  FROM r$iters) WHERE rn <= $k""".stripMargin
  }
}
