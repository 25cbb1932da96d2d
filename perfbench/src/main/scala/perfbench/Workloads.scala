package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{SparkEntry, Tables}
import graft.operators._
import graft.operators.LayoutOps.ColBounds

/** What an op hands back for checking: the result relation, in the shape
  * its oracle SQL produces, and that DuckDB SQL over the input tables. */
final case class Checked(df: DataFrame, oracleSql: String)

/** One call a library caller makes into a graft module. `body` runs the
  * call; the pass loop then materializes the returned relation (if any).
  * Ops that only write return None: the reads after them check the data. */
final case class Op(name: String, module: String, body: () => Option[Checked])

/** Inputs an op reads, plus a fresh empty directory for tables the op
  * writes (replaced before every pass). */
final class Ctx(val spark: SparkSession, val dataDir: String,
                var tableRoot: String) {
  def docs: DataFrame = Tables.documents(spark, dataDir)
  def events: DataFrame = Tables.events(spark, dataDir)
  def orders: DataFrame = Tables.orders(spark, dataDir)
  def embeddings: DataFrame = Tables.embeddings(spark, dataDir)
  /** The gate's test graph: lineitem part -> supplier edges. */
  def edges: DataFrame = Tables.lineitem(spark, dataDir)
    .select(col("l_partkey").as("src"), col("l_suppkey").as("dst"))
}

object Workloads {
  val names: Seq[String] = Seq("mapreduce", "llm_pipeline")

  /** About one warm pass's wall time on a 4-core machine: a run measures
    * --seconds / this many warm passes. */
  def nominalPassS(workload: String): Double = workload match {
    case "mapreduce"    => 4.0
    case "llm_pipeline" => 5.0
  }

  /** Tables each workload reads (located during set-up). */
  def tables(workload: String): Seq[String] = workload match {
    case "mapreduce"    => Seq("documents", "events", "lineitem")
    case "llm_pipeline" => Seq("documents", "embeddings", "orders")
  }

  /** The workload's ops in the order one pass runs them. The seed draws
    * the parameters once and shuffles the op order, so every pass of a run
    * does identical work. */
  def ops(workload: String, ctx: Ctx, seed: Long): Seq[Op] = {
    val rng = new scala.util.Random(seed)
    workload match {
      case "mapreduce"    => rng.shuffle(mapreduce(ctx, rng) ++ graph(ctx))
      // the manifest table's ops keep their order, as one block
      case "llm_pipeline" =>
        rng.shuffle(llmPipeline(ctx).map(Seq(_)) :+ manifestTable(ctx, rng)).flatten
    }
  }

  private def oracle(q: String): String = SparkEntry.oracleSql(q)

  private def frame(df: DataFrame, sql: String): Option[Checked] =
    Some(Checked(df, sql))

  // ---- mapreduce: assignments 2, 3 and 6 ----

  /** Gate retrieval oracles query the terms 'join', 'hash' and 'vector';
    * the seed picks three corpus terms instead and the oracle follows. */
  private val gateTerms = Seq("join", "hash", "vector")
  private def retarget(sql: String, terms: Seq[String]): String = {
    // two steps, through placeholders, so a drawn term that is also a
    // gate term is not replaced twice
    def mark(i: Int) = s"'\u0000$i'"
    val marked = gateTerms.zipWithIndex.foldLeft(sql) { case (s, (t, i)) =>
      s.replace(s"'$t'", mark(i)) }
    terms.zipWithIndex.foldLeft(marked) { case (s, (t, i)) =>
      s.replace(mark(i), s"'$t'") }
  }

  private def mapreduce(c: Ctx, rng: scala.util.Random): Seq[Op] = {
    val terms = rng.shuffle(Seq("spark", "window", "merge", "table", "column",
      "stream", "value", "data", "filter", "group", "sort", "query", "scan",
      "batch", "join", "hash", "vector")).take(3)
    def q(name: String) = retarget(oracle(name), terms)
    Seq(
      Op("wordcount", "TextOps", () =>
        frame(TextOps.wordCount(c.docs, "text"), q("q_wordcount"))),
      Op("pmi", "TextOps", () =>
        frame(TextOps.pmi(c.docs, "doc_id", "text", minCount = 10)
          .select(col("x"), col("y"), col("n_docs"), round(col("pmi"), 6).as("pmi")),
          q("q_pmi"))),
      Op("postings_roundtrip", "IndexOps", () =>
        frame(IndexOps.decodeIndex(IndexOps.compressedIndex(
          IndexOps.invertedIndex(c.docs, "doc_id", "text")))
          .where(col("term").isin(terms: _*))
          .select(col("term"), explode(col("postings")).as("p"))
          .select(col("term"), col("p._1").as("doc_id"), col("p._2").as("tf")),
          q("q_postings_roundtrip"))),
      Op("hourly_filtered", "TimeSeriesOps", () =>
        frame(TimeSeriesOps.hourlyCountsFiltered(c.events, "ts",
          "event_type", "(?i)(click|view)"), q("q_hourly_filtered"))),
    )
  }

  // ---- assignment 4: PageRank on the part -> supplier graph ----

  private def graph(c: Ctx): Seq[Op] = {
    // both scatter layouts at the same depth, against the same oracle
    def pr(df: DataFrame) = df.select(col("nodeid"), round(col("rank"), 9).as("pr"))
    Seq(
      Op("pagerank", "GraphOps", () =>
        frame(pr(GraphOps.pageRank(c.edges, iterations = 3)), oracle("q_pagerank_hub"))),
      Op("pagerank_edge_scatter", "GraphOps", () =>
        frame(pr(GraphOps.pageRank(c.edges, iterations = 3,
          hubDegreeThreshold = 1L)), oracle("q_pagerank_hub"))),
    )
  }

  // ---- llm_pipeline: curation, dedup and the ANN recall sweep ----

  private def llmPipeline(c: Ctx): Seq[Op] = Seq(
    Op("curate", "CurationOps", () => {
      val d = c.docs
      frame(CurationOps.curate(d, "doc_id", "text", minTokens = Some(20),
        benchmark = Some(d.where(col("doc_id") % 17 === 0)),
        maxContamination = 0.3)._1.select(col("doc_id"), col("source")),
        oracle("q_curate"))
    }),
    Op("ann_recall", "SimilarityOps", () => annRecall(c)),
    Op("minhash_pairs", "DedupOps", () =>
      frame(DedupOps.minhashNearDupPairs(c.docs, "doc_id", "text",
        shingleN = 3, k = 12, bands = 4, threshold = 0.5)
        .select(col("ida"), col("idb"), round(col("jaccard"), 6).as("jaccard")),
        oracle("q_dedup_minhash"))),
  )

  /** Recall@5 of IVF search against the exact top-5. The IVF training and
    * the exact reference are independent, so they run concurrently from
    * pooled threads, as a caller sweeping an index would. */
  private def annRecall(c: Ctx): Option[Checked] = {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    import scala.concurrent.ExecutionContext.Implicits.global
    val emb = c.embeddings
    val queries = emb.where(col("vec_id") < 3)
    def pairs(df: DataFrame) = df.select("query_id", "vec_id")
    val centsF = Future(SimilarityOps.trainIvfCentroids(emb, "vec_id",
      "embedding", nlist = 8, iterations = 2, roundDecimals = Some(6)))
    val bruteF = Future(pairs(SimilarityOps.bruteForceTopK(emb, "vec_id",
      "embedding", queries, "vec_id", "embedding", k = 5))
      .withColumn("hit", lit(1)).localCheckpoint())
    val ivf = pairs(SimilarityOps.ivfTopK(emb, "vec_id", "embedding", queries,
      "vec_id", "embedding", k = 5, nlist = 8, nprobe = 2,
      centroids = Some(Await.result(centsF, Duration.Inf))))
      .withColumn("method", lit("ivf_np2"))
    val brute = Await.result(bruteF, Duration.Inf)
    frame(ivf.join(broadcast(brute), Seq("query_id", "vec_id"), "left_outer")
      .groupBy("method")
      .agg(sum(coalesce(col("hit"), lit(0))).as("hits"))
      .crossJoin(broadcast(brute.agg(count(lit(1)).as("total"))))
      .select(col("method"), col("hits"), col("total"),
        round(col("hits").cast("double") / col("total"), 6).as("recall")),
      s"SELECT * FROM (${oracle("q_ann_recall")}) WHERE method = 'ivf_np2'")
  }

  // ---- a manifest table: committed, maintained and read back pruned ----

  private def manifestTable(c: Ctx, rng: scala.util.Random): Seq[Op] = {
    val n = c.orders.count()
    def key(lo: Double, hi: Double): Long = (n * (lo + rng.nextDouble() * (hi - lo))).toLong
    val (rLo, rHi) = { val a = key(0.05, 0.6); (a, a + n / 20) }
    val (lLo, lHi) = { val a = key(0.05, 0.6); (a, a + n / 15) }
    val excludedCust = rng.nextInt(100).toLong
    val pointCust = 100L + rng.nextInt(1000)
    val (uLo, uHi) = { val a = key(0.05, 0.4); (a, a + n / 60) }
    val (dLo, dHi) = { val a = key(0.5, 0.8); (a, a + n / 10) }
    def sql(from: String, where: String, extra: String*) =
      (Seq("o_orderstatus", "count(*) AS n", "round(sum(o_totalprice), 2) AS total") ++ extra)
        .mkString("SELECT ", ", ", s" FROM $from WHERE $where GROUP BY o_orderstatus")
    def agg(df: DataFrame, extra: org.apache.spark.sql.Column*) =
      df.groupBy("o_orderstatus").agg(count(lit(1)).as("n"),
        (round(sum(col("o_totalprice")), 2).as("total") +: extra): _*)
    val keyRange = Seq(min(col("o_orderkey")).as("min_key"), max(col("o_orderkey")).as("max_key"))
    val keyRangeSql = Seq("min(o_orderkey) AS min_key", "max(o_orderkey) AS max_key")
    def t(name: String) = s"${c.tableRoot}/$name"
    // range-clustered on o_orderkey with o_custkey blooms: pruned and lazy
    // reads, then an upsert and a delete rewrite the overlapping files
    Seq(
      Op("write_clustered", "LayoutOps", () => {
        LayoutOps.writeManifested(c.orders, t("clustered"), numFiles = 8,
          statsCols = Seq("o_orderkey"), clusterBy = Seq("o_orderkey"),
          bloomCols = Seq("o_custkey"))
        None
      }),
      Op("read_pruned_range", "LayoutOps", () =>
        frame(agg(LayoutOps.readManifestedWhere(c.spark, t("clustered"),
          Seq(ColBounds("o_orderkey", Some(rLo), Some(rHi)))), keyRange: _*),
          sql("orders", s"o_orderkey BETWEEN $rLo AND $rHi", keyRangeSql: _*))),
      Op("read_lazy", "LayoutOps", () =>
        frame(agg(LayoutOps.readManifested(c.spark, t("clustered"))
          .where(col("o_orderkey").between(lLo, lHi) &&
            col("o_custkey") =!= excludedCust), keyRange: _*),
          sql("orders", s"o_orderkey BETWEEN $lLo AND $lHi AND o_custkey <> $excludedCust",
            keyRangeSql: _*))),
      Op("read_bloom_point", "LayoutOps", () =>
        frame(LayoutOps.readManifested(c.spark, t("clustered"))
          .where(col("o_custkey") === pointCust)
          .select(col("o_orderkey"), col("o_orderstatus"),
            round(col("o_totalprice"), 2).as("price")),
          "SELECT o_orderkey, o_orderstatus, round(o_totalprice, 2) AS price " +
            s"FROM orders WHERE o_custkey = $pointCust")),
      Op("upsert", "LayoutOps", () => {
        LayoutOps.upsertManifested(c.orders.where(col("o_orderkey").between(uLo, uHi))
          .withColumn("o_totalprice", lit(1.0)), t("clustered"), "o_orderkey")
        None
      }),
      Op("delete_where", "LayoutOps", () => {
        LayoutOps.deleteManifestedWhere(c.spark, t("clustered"),
          Seq(ColBounds("o_orderkey", Some(dLo), Some(dHi))))
        None
      }),
      Op("read_maintained", "LayoutOps", () =>
        frame(agg(LayoutOps.readManifested(c.spark, t("clustered")), keyRange: _*),
          sql(s"(SELECT o_orderkey, o_orderstatus, CASE WHEN o_orderkey BETWEEN " +
            s"$uLo AND $uHi THEN 1.0 ELSE o_totalprice END AS o_totalprice FROM orders)",
            s"o_orderkey NOT BETWEEN $dLo AND $dHi", keyRangeSql: _*))),
    )
  }
}
