package graft.plans

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.execution.datasources.{
  FileIndex, FileStatusWithMetadata, HadoopFsRelation, PartitionDirectory}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.types._

import graft.operators.LayoutOps
import graft.operators.LayoutOps.ColBounds

/** A [[FileIndex]] over a manifest-committed table's entry lines: the
  * manifest IS the listing. Catalyst hands the query's data filters to
  * [[listFiles]] during physical planning (`FileSourceScanExec.
  * selectedPartitions`), so `readManifested(...).where(...)` skips
  * non-matching files via the recorded min/max ranges and per-file
  * blooms with no eager bounds API — the same lazy, predicate-driven
  * skipping shape Delta/Iceberg use, built on the public `FileIndex`
  * seam rather than a custom scan node so Spark's parquet reader,
  * vectorization, and whole-stage codegen all apply unchanged.
  *
  * Planning cost: zero filesystem calls when every entry records its
  * byte length (`__bytes`, written at commit since this version) — each
  * scan's `FileStatus` is fabricated from the manifest, exactly one
  * small object read per query. Legacy entries without a recorded
  * length fall back to one `getFileStatus` each.
  *
  * Pruning is CONSERVATIVE: a conjunct the translator does not
  * understand prunes nothing (the full predicate is still applied
  * row-wise by the scan's normal filter, so results never depend on
  * translation coverage).
  */
class ManifestFileIndex(
    spark: SparkSession,
    root: Path,
    entries: Seq[String],
    schema: StructType) extends FileIndex {

  private val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)

  // (stats json, fabricated-or-stat'ed FileStatus) per live entry
  private lazy val files: Seq[(Option[String], FileStatus)] = entries.map { l =>
    val p = new Path(root, LayoutOps.entryPath(l))
    val st = LayoutOps.entryBytes(l) match {
      case Some(len) => new FileStatus(len, false, 1, 128L << 20, 0L, p)
      case None      => fs.getFileStatus(p)
    }
    (LayoutOps.entryStatsJson(l), st)
  }

  override def rootPaths: Seq[Path] = Seq(root)
  override def partitionSchema: StructType = new StructType()
  override def refresh(): Unit = ()
  override lazy val sizeInBytes: Long = files.map(_._2.getLen).sum
  override def inputFiles: Array[String] =
    files.map(_._2.getPath.toString).toArray

  override def listFiles(partitionFilters: Seq[Expression],
      dataFilters: Seq[Expression]): Seq[PartitionDirectory] = {
    val keeps = dataFilters.flatMap(ManifestFileIndex.filePredicate)
    Seq(PartitionDirectory(InternalRow.empty,
      ManifestFileIndex.prune(spark, files, keeps)
        .map(FileStatusWithMetadata(_, Map.empty))))
  }
}

object ManifestFileIndex {

  /** Everything nullable, recursively — what file sources do to any
    * user/recorded schema (`DataSource.resolveRelation` calls
    * `asNullable`, which is `private[spark]`): a column written NOT NULL
    * still reads as null from files that PREDATE it under schema
    * evolution, so declared non-nullability must never reach the
    * optimizer (it would fold `IS NULL` to false). */
  private[graft] def relaxed(dt: DataType): DataType = dt match {
    case s: StructType => StructType(s.fields.map(f =>
      f.copy(dataType = relaxed(f.dataType), nullable = true)))
    case a: ArrayType =>
      a.copy(elementType = relaxed(a.elementType), containsNull = true)
    case m: MapType =>
      m.copy(valueType = relaxed(m.valueType), valueContainsNull = true)
    case other => other
  }

  /** The manifest-backed `BaseRelation`: the standard parquet
    * `FileFormat` over this FileIndex, so every downstream filter both
    * prunes files (here) and pushes down to parquet row groups (there).
    * Also what the batch `graft-manifest` DataSource format returns. */
  def relation(spark: SparkSession, root: Path, entries: Seq[String],
      schema: StructType): HadoopFsRelation = {
    val read = relaxed(schema).asInstanceOf[StructType]
    HadoopFsRelation(
      new ManifestFileIndex(spark, root, entries, read),
      partitionSchema = new StructType(),
      dataSchema = read,
      bucketSpec = None,
      fileFormat = new ParquetFileFormat(),
      options = Map.empty)(spark)
  }

  /** [[relation]] as a DataFrame — the scan of every read of a
    * manifested table's listed files. */
  def dataFrame(spark: SparkSession, root: Path, entries: Seq[String],
      schema: StructType): DataFrame =
    spark.baseRelationToDataFrame(relation(spark, root, entries, schema))

  /** The files whose stats every `keeps` predicate admits, in order —
    * the one pruner behind both the index's `listFiles` and
    * `LayoutOps.manifestSkipFiles`. Below
    * `LayoutOps.distributedPruneThreshold` files it is a driver loop;
    * above it the same predicates run DISTRIBUTED over the stats strings
    * (they capture only plain data) and only the surviving indices come
    * back to the driver. */
  private[graft] def prune[T](spark: SparkSession,
      files: Seq[(Option[String], T)],
      keeps: Seq[Option[String] => Boolean]): Seq[T] =
    if (keeps.isEmpty) files.map(_._2)
    else if (files.size < LayoutOps.distributedPruneThreshold)
      files.collect { case (stats, f) if keeps.forall(_(stats)) => f }
    else {
      import spark.implicits._
      val keep = spark.createDataset(files.map(_._1).zipWithIndex)
        .filter(p => keeps.forall(_(p._1)))
        .collect().map(_._2).toSet
      files.zipWithIndex.collect { case ((_, f), i) if keep(i) => f }
    }

  /** A Catalyst literal as the JVM value the stats comparator
    * understands; None = a type stats cannot prune (→ keep files). */
  private def jvm(l: Literal): Option[Any] = Option(l.value).flatMap { v =>
    l.dataType match {
      case ByteType | ShortType | IntegerType | LongType =>
        Some(v.asInstanceOf[Number].longValue)
      case FloatType  => Some(v.asInstanceOf[Float].toDouble)
      case DoubleType => Some(v.asInstanceOf[Double])
      case StringType => Some(v.toString) // UTF8String
      case DateType   => // internal: days since epoch
        Some(java.time.LocalDate.ofEpochDay(v.asInstanceOf[Int].toLong))
      case TimestampType => // internal: micros since epoch
        Some(java.time.Instant.EPOCH.plus(v.asInstanceOf[Long],
          java.time.temporal.ChronoUnit.MICROS))
      case _ => None
    }
  }

  private def range(col: String, lower: Option[Any], upper: Option[Any])
      : Option[String] => Boolean =
    stats => LayoutOps.mayMatch(stats, Seq(ColBounds(col, lower, upper)))

  /** One data-filter conjunct as a may-this-file-match predicate over an
    * entry's stats json; None = not translatable (prunes nothing).
    * Strict comparisons reuse the inclusive-range checker — keeping a
    * file whose max equals a `>` bound is conservative, never wrong.
    * Equality (and IN, value by value) also consults per-file blooms. */
  private[plans] def filePredicate(conjunct: Expression)
      : Option[Option[String] => Boolean] = conjunct match {
    case EqualTo(a: Attribute, l: Literal) =>
      jvm(l).map(v => range(a.name, Some(v), Some(v)))
    case EqualTo(l: Literal, a: Attribute) =>
      jvm(l).map(v => range(a.name, Some(v), Some(v)))
    case EqualNullSafe(a: Attribute, l: Literal) if l.value != null =>
      jvm(l).map(v => range(a.name, Some(v), Some(v)))
    case EqualNullSafe(l: Literal, a: Attribute) if l.value != null =>
      jvm(l).map(v => range(a.name, Some(v), Some(v)))
    case GreaterThan(a: Attribute, l: Literal) =>
      jvm(l).map(v => range(a.name, Some(v), None))
    case GreaterThanOrEqual(a: Attribute, l: Literal) =>
      jvm(l).map(v => range(a.name, Some(v), None))
    case LessThan(a: Attribute, l: Literal) =>
      jvm(l).map(v => range(a.name, None, Some(v)))
    case LessThanOrEqual(a: Attribute, l: Literal) =>
      jvm(l).map(v => range(a.name, None, Some(v)))
    // literal-on-the-left mirrors
    case GreaterThan(l: Literal, a: Attribute) =>
      jvm(l).map(v => range(a.name, None, Some(v)))
    case GreaterThanOrEqual(l: Literal, a: Attribute) =>
      jvm(l).map(v => range(a.name, None, Some(v)))
    case LessThan(l: Literal, a: Attribute) =>
      jvm(l).map(v => range(a.name, Some(v), None))
    case LessThanOrEqual(l: Literal, a: Attribute) =>
      jvm(l).map(v => range(a.name, Some(v), None))
    case In(a: Attribute, vs) if vs.forall(_.isInstanceOf[Literal]) =>
      val checks = vs.map(v => jvm(v.asInstanceOf[Literal]))
      // an untranslatable element could match anything: translate only
      // fully-literal, fully-understood IN lists
      if (checks.exists(_.isEmpty)) None
      else Some(stats => checks.flatten
        .exists(v => range(a.name, Some(v), Some(v))(stats)))
    case InSet(a: Attribute, hset) =>
      // the optimized form of a >10-element IN list; elements are
      // Catalyst-internal values, re-wrapped as literals of the
      // attribute's type for conversion
      val checks = hset.toSeq.map(v => jvm(Literal(v, a.dataType)))
      if (checks.exists(_.isEmpty)) None
      else Some(stats => checks.flatten
        .exists(v => range(a.name, Some(v), Some(v))(stats)))
    case IsNull(a: Attribute) =>
      Some(stats => LayoutOps.mayHaveNull(stats, a.name))
    case IsNotNull(a: Attribute) =>
      Some(stats => LayoutOps.mayHaveNonNull(stats, a.name))
    case And(x, y) =>
      (filePredicate(x), filePredicate(y)) match {
        case (Some(px), Some(py)) => Some(s => px(s) && py(s))
        case (px, py)             => px.orElse(py) // one side still prunes
      }
    case Or(x, y) =>
      // an OR prunes only when BOTH branches translate (a file survives
      // if either branch might match)
      for { px <- filePredicate(x); py <- filePredicate(y) }
        yield (s: Option[String]) => px(s) || py(s)
    case _ => None
  }
}
