package graft

import graft.operators.IndexOps
import graft.queries.Catalog
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Physical-plan regression guards: these queries must keep the plan shape
  * they were designed for — a silent fallback (broadcast -> sort-merge,
  * TakeOrdered -> global sort, lost pushdown) is a scale bug even when
  * results stay correct.
  */
class PlanSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"
  /** `name`'s catalog builder, planned under its catalog confs. */
  private def planned[T](name: String)(plan: DataFrame => T): T = {
    val spec = Catalog(name)
    spec.withConfs(spark)(plan(spec.build(spark, dir)))
  }
  private def planOf(name: String): String =
    planned(name)(_.queryExecution.executedPlan.toString)

  test("dimension-chain revenue joins broadcast (never sort-merge)") {
    val p = planOf("q_revenue_by_nation")
    assert(p.contains("BroadcastHashJoin"))
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("top customers plans two-phase TakeOrderedAndProject, not a global sort") {
    val p = planOf("q_top_customers")
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("wordcount aggregates partially before the shuffle (combiner)") {
    val p = planOf("q_wordcount")
    assert(p.contains("partial_count") || p.contains("HashAggregate"), p)
    val formatted = planned("q_wordcount")(_.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted")))
    assert(formatted.contains("partial_count"), formatted)
  }

  test("semi/anti joins stay broadcast at dimension scale") {
    assert(planOf("q_segments_with_orders").contains("LeftSemi"))
    assert(planOf("q_customers_without_orders").contains("LeftAnti"))
  }

  test("pricing summary prunes the lineitem scan to referenced columns") {
    val p = planOf("q1_pricing")
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(readSchema.contains("l_returnflag") && !readSchema.contains("l_shipdate"),
      readSchema)
  }

  test("simhash is a pure map: no Exchange anywhere in the plan") {
    val p = planOf("q_simhash")
    assert(!p.contains("Exchange"), p)
    assert(p.contains("graft_simhash"), p)
  }

  test("contamination probes benchmark membership via broadcast, not shuffle join") {
    val p = planOf("q_contamination")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("kernel scalar ops stay inside whole-stage codegen") {
    // "*(n)" marks a WholeStageCodegen stage. q_langid is a pure projection
    // over the kernel — it must carry the marker itself (this is the query
    // whose CASE-tree predecessor overflowed codegen limits into
    // interpreted projection). Generate/aggregate-embedded kernels
    // (fingerprint, minhash) just assert kernel presence: Generate nodes
    // never carry the marker in AQE's pre-final plan string.
    val langid = planOf("q_langid")
    val line = langid.linesIterator.find(_.contains("graft_langid")).getOrElse("")
    assert(line.contains("*("), s"q_langid kernel fell out of codegen:\n$langid")
    assert(planOf("q_fingerprint").contains("graft_"),
      "q_fingerprint has no kernel call")
    // q_dedup_minhash's FINAL plan is the member expansion over an eagerly
    // materialized rep-pair checkpoint (expandPairs' lineage boundary), so
    // the kernels live in the rep-level builder's plan, not the query's
    val (_, _, repPairs) = graft.operators.DedupOps.minhashNearDupRepPairs(
      Tables.documents(spark, dir), "doc_id", "text")
    val rp = repPairs.queryExecution.executedPlan.toString
    assert(rp.contains("graft_minhash") && rp.contains("graft_jaccard"),
      s"rep-pair builder lost its kernels:\n$rp")
  }

  test("KMV sketch aggregation has a partial (map-side combine) phase") {
    val p = planOf("q_kmv_distinct")
    // typed Aggregator under ObjectHashAggregate / SortAggregate still
    // splits into partial + final — the combiner the sketch exists for
    assert(p.contains("Aggregate"), p)
    assert(p.contains("partial"), p)
  }

  test("rolling window partitions once by user: a single Exchange feeds the frame") {
    val p = planOf("q_rolling")
    assert(p.contains("RunningWindowFunction") || p.contains("Window"), p)
  }

  test("as-of joins plan as the union-timeline shape, never a range join") {
    for (q <- Seq("q_asof_join", "q_asof_forward")) {
      val p = planOf(q)
      assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
        s"$q degenerated to a range/cross join:\n$p")
      assert(p.contains("Window"), s"$q lost the running-window shape")
    }
  }

  test("z-order values are a pure projection: no Exchange, no kernel fallback") {
    val p = planOf("q_zorder")
    assert(!p.contains("Exchange"), p)
  }

  test("range join plans as an equi-join on buckets, never a nested loop") {
    val p = planOf("q_range_join")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"range join degenerated to a nested loop:\n$p")
  }

  test("bloom contamination probes via the 1-row broadcast, never a shuffle join") {
    val p = planOf("q_bloom_contamination")
    assert(!p.contains("SortMergeJoin"), p)
    assert(p.contains("Broadcast"), p)
  }

  test("repetition ratio is a pure map + one aggregation-free projection") {
    // per-row kernel calls only; the single Exchange allowed is the final
    // (absent) aggregation — there must be NO shuffle at all
    val p = planOf("q_repetition")
    assert(!p.contains("Exchange"), p)
    assert(p.contains("graft_shingle_hash"), p)
  }

  test("exact-k sampling shuffles once on the class column") {
    val p = planOf("q_sample_exact")
    assert(p.linesIterator.count(_.contains("Exchange")) <= 1, p)
    assert(p.contains("Window") || p.contains("RunningWindowFunction"), p)
  }

  test("range graph partitioning plans a RangePartitioning exchange (G10)") {
    import graft.operators.GraphOps
    import spark.implicits._
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L)).toDF("src", "dst")
    // the adjacency build every walk runs on its default layout
    val ranged = GraphOps.adjacency(edges, parts = 4, dedupe = true, byRange = true)
      .queryExecution.executedPlan.toString
    assert(ranged.toLowerCase.contains("rangepartitioning"), ranged)
    val hashed = GraphOps.adjacency(edges, parts = 4, dedupe = true, byRange = false)
      .queryExecution.executedPlan.toString
    assert(!hashed.toLowerCase.contains("rangepartitioning"), hashed)
  }

  test("incremental dedup: cross-side band join is an equi-join, exact tier broadcasts") {
    val p = planOf("q_dedup_incremental")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"cross-snapshot candidate generation degenerated:\n$p")
    // the fingerprint-membership probe must not shuffle the batch side
    assert(p.contains("Broadcast"), p)
  }

  test("ANN re-rank: refine stage fetches shortlist vectors via broadcast joins") {
    val p = planOf("q_ann_rerank")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"),
      s"shortlist fetch fell back to a corpus shuffle:\n$p")
  }

  test("semantic dedup: intra-cell pair scan is a cell equi-join, never all-pairs") {
    val p = planOf("q_semdedup")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"intra-cell pair generation degenerated to all-pairs:\n$p")
  }

  test("no gated query plans a Scala UDF — every hot path stays codegen-able") {
    // A ScalaUDF boxes every row and blocks whole-stage codegen; the whole
    // engine is built on native expressions/kernels, so any UDF appearing
    // in a gated plan is a regression (last one out: the IVF cell
    // assignment, replaced by a literal-centroid greatest() fold).
    import org.apache.spark.sql.catalyst.expressions.ScalaUDF
    for (spec <- Catalog.specs) {
      val name = spec.name
      val plan = planned(name)(_.queryExecution.analyzed)
      val udfs = plan.collectWithSubqueries {
        case p => p.expressions.flatMap(_.collect { case u: ScalaUDF => u })
      }.flatten
      assert(udfs.isEmpty, s"$name plans ScalaUDFs: ${udfs.mkString(", ")}")
    }
  }

  test("term point-lookup on the sorted postings store pushes the filter to parquet") {
    // S5/S9: the MapFile random-access analogue — a sorted parquet postings
    // table must serve `term = t` via parquet predicate pushdown
    val idx = java.nio.file.Files.createTempDirectory("graft-idx").toString + "/idx"
    val corpus = Tables.documents(spark, dir)
    IndexOps.compressedIndex(IndexOps.invertedIndex(corpus, "doc_id", "text"))
      .sortWithinPartitions("term")
      .write.mode("overwrite").parquet(idx)
    val lookup = spark.read.parquet(idx).where(col("term") === "join")
    val p = lookup.queryExecution.executedPlan.toString
    assert(p.contains("PushedFilters: [IsNotNull(term), EqualTo(term,join)]"), p)
    assert(lookup.count() === 1)
  }
}
