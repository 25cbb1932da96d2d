package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.operators._
import graft.queries.Catalog

/** Entry points: the flagship query, and name-keyed views of the gate
  * catalog ([[graft.queries.Catalog]]), where each query's builder, DuckDB
  * oracle and session confs are declared together.
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    RelationalOps.revenueByNation(spark, "/root/testdata/sf0.001")

  /** Each gate query's builder. A builder called directly runs under the
    * caller's session confs; the harnesses add the spec's confs
    * ([[graft.queries.QuerySpec.withConfs]]). */
  val queries: Map[String, (SparkSession, String) => DataFrame] =
    Catalog.specs.map(s => s.name -> s.build).toMap

  /** Each gate query's equivalent DuckDB SQL over the same parquet tables. */
  val oracleSql: Map[String, String] =
    Catalog.specs.map(s => s.name -> s.oracle).toMap

  /** Scale-oracle recipes for the queries whose [[oracleSql]] DuckDB
    * cannot run at the 100x / Zipf fixtures
    * ([[graft.queries.QuerySpec.pinned]]). */
  val pinnedOracle: Map[String, Map[String, String]] =
    Catalog.specs.flatMap(s => s.pinned.map(s.name -> _)).toMap
}
