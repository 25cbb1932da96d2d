package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Loaders for the driver-provided parquet tables (TESTDATA.md).
  *
  * At cluster scale these would be catalog tables (partitioned parquet /
  * iceberg); here each table is a single parquet file per scale factor.
  * All readers go through `spark.read.parquet` so Catalyst gets parquet
  * footer stats, predicate pushdown and column pruning for free.
  */
object Tables {
  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def load(spark: SparkSession, dir: String, name: String): DataFrame =
    read(spark, s"$dir/$name.parquet")

  /** Inferred schemas per session, keyed by (path, length, modification
    * time): a rewritten file misses and is inferred again. */
  private val schemas = new java.util.WeakHashMap[SparkSession,
    java.util.concurrent.ConcurrentHashMap[(String, Long, Long), StructType]]

  /** `path` read under its pinned schema. Parquet schema inference is a
    * Spark job (a footer read), so it runs once per session and file
    * version, under `inferConfs`; every later read of the file submits no
    * job until the DataFrame runs. */
  private def read(s: SparkSession, path: String,
                   inferConfs: Map[String, String] = Map.empty): DataFrame = {
    val p = new org.apache.hadoop.fs.Path(path)
    val st = p.getFileSystem(s.sparkContext.hadoopConfiguration).getFileStatus(p)
    val key = (st.getPath.toString, st.getLen, st.getModificationTime)
    val cache = schemas.synchronized(schemas.computeIfAbsent(s,
      _ => new java.util.concurrent.ConcurrentHashMap()))
    val schema = Option(cache.get(key)).getOrElse {
      val inferred = SessionConfs.scoped(s, inferConfs)(s.read.parquet(path).schema)
      cache.putIfAbsent(key, inferred)
      inferred
    }
    s.read.schema(schema).parquet(path)
  }

  def region(s: SparkSession, d: String): DataFrame     = load(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame     = load(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame   = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame   = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame       = load(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame     = load(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame   = load(s, d, "lineitem")
  /** events.parquet's `ts` physical type has varied across driver testdata
    * generations — INT64 TIMESTAMP(NANOS) (which Spark's vectorized reader
    * rejects without the nanosAsLong legacy conf), and plain TIMESTAMP
    * micros without UTC adjustment (which Spark 4 infers as TIMESTAMP_NTZ).
    * Normalize every representation to session-zoned TimestampType so the
    * whole engine (unix_micros, watermarks, window functions) sees ONE
    * type: nanos -> integral division (double division would lose precision
    * at 1e18 nanos); NTZ -> cast, which under the engine's pinned UTC
    * session timezone preserves the wall-clock micros bit-for-bit.
    *
    * The legacy conf is needed only to infer the schema: it is set for the
    * inference on a cache miss and restored before returning, so loading
    * events never changes how unrelated reads in the same session behave.
    * The scan runs under the pinned LongType schema whatever the session
    * conf says later. (Inference without the conf fails on a nanos file,
    * so a plain [[load]] of events never caches a different schema.)
    */
  def events(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr}
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    val raw = read(s, s"$d/events.parquet",
      Map("spark.sql.legacy.parquet.nanosAsLong" -> "true"))
    raw.schema("ts").dataType match {
      case LongType => raw.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      case TimestampNTZType => raw.withColumn("ts", col("ts").cast(TimestampType))
      case _ => raw
    }
  }
  def documents(s: SparkSession, d: String): DataFrame  = load(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = load(s, d, "embeddings")
}
