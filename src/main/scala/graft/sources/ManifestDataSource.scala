package graft.sources

import org.apache.spark.sql.SQLContext
import org.apache.spark.sql.sources.{BaseRelation, DataSourceRegister, RelationProvider}

import graft.operators.LayoutOps

/** Batch DataSource over a manifest-committed table, so the table is a
  * first-class citizen of every Spark entry point — not just the
  * `LayoutOps.readManifested` API:
  *
  * {{{
  * spark.read.format("graft-manifest").option("path", t).load()
  * spark.sql(s"CREATE TABLE pages USING graft-manifest OPTIONS (path '\$t')")
  * }}}
  *
  * Options: `path` (required), `generation` (pin a retained generation —
  * time travel), `as-of` (ISO-8601 instant, resolved via
  * [[LayoutOps.generationAsOf]]). The returned relation is
  * `readManifested`'s own, so WHERE clauses prune data files at physical
  * planning from recorded range stats and blooms, exactly like the API
  * path, and pre-schema manifests read with the schema their files carry.
  * The short name resolves through the standard `META-INF/services`
  * registration.
  */
class ManifestDataSource extends RelationProvider with DataSourceRegister {

  override def shortName: String = "graft-manifest"

  override def createRelation(sqlContext: SQLContext,
      parameters: Map[String, String]): BaseRelation = {
    val spark = sqlContext.sparkSession
    val path = parameters.getOrElse("path",
      throw new IllegalArgumentException(
        "graft-manifest needs OPTIONS (path '<manifested table>')"))
    require(!(parameters.contains("generation") && parameters.contains("as-of")),
      "generation and as-of are alternative time-travel pins — pass one")
    val gen = parameters.get("generation").map(_.toLong)
      .orElse(parameters.get("as-of").map(ts => LayoutOps.generationAsOf(
        spark, path, java.time.Instant.parse(ts).toEpochMilli)))
    LayoutOps.manifestedRelation(spark, path, gen)
  }
}
