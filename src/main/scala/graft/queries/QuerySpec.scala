package graft
package queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One gate query, declared once under its name: the builder the harnesses
  * run, the DuckDB SQL its result is hash-compared against, and the session
  * confs it runs under.
  *
  * @param build  the query over the parquet tables of a scale-factor
  *               directory. Floating-point outputs are rounded on BOTH sides
  *               so cross-engine summation-order differences cannot flip
  *               the hash.
  * @param oracle equivalent SQL that DuckDB runs on the same parquet tables
  * @param pinned the scale-oracle recipe, equivalent to `oracle`, of a query
  *               whose `oracle` DuckDB cannot run at the 100x / Zipf
  *               fixtures (tools/pinned_check.py runs it). `kind: sql`
  *               reads the engine's exported `models` (Verify with
  *               SPARK_GRAFT_EXPORT_MODELS=1) in place of the unrolled
  *               training; `kind: closure` replaces a recursive CTE with
  *               `pairs_sql`, a scripted min-label propagation into
  *               `labels(node, lbl)`, and `final_sql` over `labels`.
  * @param confs  session confs the harnesses set before `build` runs (some
  *               builders run jobs eagerly) and restore once the result is
  *               written
  */
final case class QuerySpec(
    name: String,
    build: (SparkSession, String) => DataFrame,
    oracle: String,
    pinned: Option[Map[String, String]] = None,
    confs: Map[String, String] = Map.empty) {

  /** Runs `body`, which builds and writes this query, under [[confs]]. */
  def withConfs[T](spark: SparkSession)(body: => T): T =
    SessionConfs.scoped(spark, confs)(body)
}

object QuerySpec {

  /** A family's specs, with the family's `defaults` under each spec's own
    * confs. */
  def family(defaults: Map[String, String])(specs: QuerySpec*): Seq[QuerySpec] =
    specs.map(s => s.copy(confs = defaults ++ s.confs))
}

/** Parquet scan-split sizes (`spark.sql.files.maxPartitionBytes`), one per
  * family as its default. [[text]] (512 KB): `documents` compresses ~50:1,
  * so the text kernels' splits are sized to the decompressed work. [[light]]
  * (4 MB): relational, events, embeddings, manifest and sampling scans do
  * near-zero CPU per byte, and iterative loops inherit their scan
  * partitioning as per-round task counts; 512 KB handed them ~20x the tasks
  * and 2.4-3.1x slowdowns at 100x (q_pivot_daily 1.34 -> 3.98 s).
  * SPARK_GRAFT_MAX_PARTITION_BYTES[_LIGHT] override the two sizes.
  */
object ScanSplit {
  val key = "spark.sql.files.maxPartitionBytes"
  val text: Map[String, String] =
    Map(key -> sys.env.getOrElse("SPARK_GRAFT_MAX_PARTITION_BYTES", "512k"))
  val light: Map[String, String] =
    Map(key -> sys.env.getOrElse("SPARK_GRAFT_MAX_PARTITION_BYTES_LIGHT", "4m"))
}
