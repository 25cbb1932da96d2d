package graft.streaming

import org.apache.spark.sql.{DataFrame, SQLContext}
import org.apache.spark.sql.execution.streaming.{Offset, Source}
import org.apache.spark.sql.execution.streaming.runtime.{LongOffset, SerializedOffset}
import org.apache.spark.sql.sources.{DataSourceRegister, StreamSourceProvider}
import org.apache.spark.sql.types.StructType

import graft.operators.LayoutOps

/** Structured-Streaming SOURCE over a manifest-committed table: each
  * micro-batch is the rows the table's new generations appended — the
  * lakehouse change feed as a stream, the read-side complement of
  * `StreamingOps.manifestedBatchSink` (which streams INTO a manifested
  * table). Offsets are generation numbers, so replay is exact: a batch
  * re-reads the same (from, to] window file-for-file, and exactly-once
  * falls out of the engine's offset log plus the manifest's immutable
  * generations.
  *
  * Semantics and caveats (all standard for log-backed CDC sources):
  * - The first batch is the table's full snapshot at stream start.
  * - A history REWRITE inside a window (compaction / CoW delete/upsert /
  *   rollback) fails the stream by default; `ignore-rewrites=true`
  *   forwards the window's added files anyway, which can re-emit the
  *   surviving rows of rewritten files (Delta `ignoreChanges`-style) —
  *   downstream must key-dedup.
  * - Offsets only stay replayable while their generations are retained:
  *   size `vacuumManifested(keepHistory = …)` to cover the longest
  *   expected stream downtime.
  * - The column set is pinned at stream start (the manifest schema at
  *   that moment); columns added later are not surfaced mid-run —
  *   restart the stream to pick them up.
  *
  * Use via `StreamingOps.readStreamManifested(spark, path)` or
  * `spark.readStream.format(classOf[ManifestChangeSourceProvider]
  * .getName).option("path", …).load()`.
  */
class ManifestChangeSource(
    sqlContext: SQLContext,
    path: String,
    override val schema: StructType,
    ignoreRewrites: Boolean,
    maxGenerationsPerBatch: Option[Long] = None) extends Source {

  private val spark = sqlContext.sparkSession

  // the newest generation this source has handed out — what the
  // per-batch generation cap advances from (set by getBatch, including
  // the engine's replay of a checkpointed-but-uncommitted batch)
  @volatile private var lastEnd: Option[Long] = None

  private def gen(o: Offset): Long = o match {
    case l: LongOffset       => l.offset
    case s: SerializedOffset => s.json.trim.toLong
    case other               => other.json.trim.toLong
  }

  /** Newest committed generation — one listStatus per trigger — capped
    * to `max-generations-per-batch` beyond the last batch's end, so a
    * backlogged table drains in bounded micro-batches instead of one
    * giant catch-up batch (the maxFilesPerTrigger knob of file sources).
    * The initial snapshot is never capped (generation 0..head IS one
    * consistent table state), and neither is the first window after a
    * restart (the engine hands v1 sources no pre-trigger offset
    * replay) — the cap is a within-run smoothing knob. */
  override def getOffset: Option[Offset] = {
    val latest = LayoutOps.latestGeneration(spark, path)
    Some(LongOffset((maxGenerationsPerBatch, lastEnd) match {
      case (Some(cap), Some(last)) if cap > 0 => math.min(latest, last + cap)
      case _ => latest
    }))
  }

  override def getBatch(start: Option[Offset], end: Offset): DataFrame = {
    lastEnd = Some(gen(end))
    val batch = LayoutOps.manifestChangesBetween(spark, path,
      start.map(gen), gen(end), schema, ignoreRewrites)
    // a v1 Source must hand back a STREAMING DataFrame;
    // internalCreateDataFrame is the seam that re-wraps the batch plan's
    // rows with isStreaming=true — `private[sql]` in source but public
    // bytecode, so it is reached reflectively (a third-party source
    // cannot live in org.apache.spark.sql)
    val m = ManifestChangeSource.resolveInternalCreateDataFrame(spark.getClass)
    m.invoke(spark, batch.queryExecution.toRdd, schema,
      java.lang.Boolean.TRUE).asInstanceOf[DataFrame]
  }

  override def stop(): Unit = ()
}

object ManifestChangeSource {

  /** Resolve the `private[sql]` `internalCreateDataFrame(RDD[InternalRow],
    * StructType, isStreaming)` seam by name on the given SparkSession
    * class. Pinned here (and by a spec that asserts the resolved
    * signature) so a Spark minor bump that moves or renames the method
    * fails LOUD with the running version named, instead of a bare
    * NoSuchMethodException surfacing mid-stream. */
  private[graft] def resolveInternalCreateDataFrame(
      clazz: Class[_]): java.lang.reflect.Method =
    try clazz.getMethod("internalCreateDataFrame",
      classOf[org.apache.spark.rdd.RDD[_]], classOf[StructType],
      java.lang.Boolean.TYPE)
    catch {
      case e: NoSuchMethodException => throw new IllegalStateException(
        s"Spark ${org.apache.spark.SPARK_VERSION}: ${clazz.getName} no " +
          "longer exposes internalCreateDataFrame(RDD[InternalRow], " +
          "StructType, boolean) — the manifest-changes streaming source " +
          "relies on this private[sql] seam to mark its micro-batch plans " +
          "isStreaming=true (a v1 Source outside org.apache.spark.sql has " +
          "no public equivalent). Find the renamed seam in SparkSession " +
          "and update ManifestChangeSource.getBatch.", e)
    }
}

/** `spark.readStream.format(...)` registration for
  * [[ManifestChangeSource]]. Options: `path` (the manifested table,
  * required), `ignore-rewrites` (default false),
  * `max-generations-per-batch` (default unbounded). */
class ManifestChangeSourceProvider
    extends StreamSourceProvider with DataSourceRegister {

  override def shortName: String = "manifest-changes"

  private def tableSchema(sqlContext: SQLContext,
      params: Map[String, String]): StructType = {
    val path = params.getOrElse("path", throw new IllegalArgumentException(
      "manifest-changes source needs .option(\"path\", <manifested table>)"))
    graft.plans.ManifestFileIndex.relaxed(
      LayoutOps.latestSchema(sqlContext.sparkSession, path)).asInstanceOf[StructType]
  }

  override def sourceSchema(sqlContext: SQLContext,
      schema: Option[StructType], providerName: String,
      parameters: Map[String, String]): (String, StructType) =
    (shortName, schema.getOrElse(tableSchema(sqlContext, parameters)))

  override def createSource(sqlContext: SQLContext, metadataPath: String,
      schema: Option[StructType], providerName: String,
      parameters: Map[String, String]): Source =
    new ManifestChangeSource(sqlContext, parameters("path"),
      schema.getOrElse(tableSchema(sqlContext, parameters)),
      parameters.get("ignore-rewrites").exists(_.toBoolean),
      parameters.get("max-generations-per-batch").map(_.toLong))
}
