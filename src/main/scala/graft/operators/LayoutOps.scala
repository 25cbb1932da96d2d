package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Data-layout operators: Z-order (Morton) clustering values for
  * multi-column locality.
  *
  * Sorting a table by a single column gives parquet min/max pruning on that
  * column only; sorting by the INTERLEAVED bits of two columns gives
  * useful-if-weaker pruning on both — the standard lake-house "Z-ORDER BY"
  * clustering. The z-value here is pure codegen'd integer arithmetic (42
  * shift/mask terms for 2x21 bits), so it can be computed at write time on
  * 100 TB without a UDF in the path: `df.repartitionByRange(n,
  * zValue(...)).sortWithinPartitions(zValue(...)).write.parquet(...)`.
  */
object LayoutOps {

  /** Bits per dimension (2 dims x 21 bits fills 42 of a long's 63
    * positive bits). Inputs must be in [0, 2^21). */
  val bitsPerDim = 21

  /** Morton/Z-value of two non-negative int columns: bit i of `x` lands at
    * position 2i, bit i of `y` at 2i+1. Only bits 0..bits-1 are read, so
    * values outside [0, 2^bits) silently interleave their LOW bits (losing
    * cross-column locality for the high range) — clamp wide domains
    * upstream with [[boundedBucket]]. */
  def zValue(x: Column, y: Column, bits: Int = bitsPerDim): Column =
    (0 until bits).map { i =>
      (shiftright(x.cast("long"), i).bitwiseAND(lit(1L)) * lit(1L << (2 * i))) +
        (shiftright(y.cast("long"), i).bitwiseAND(lit(1L)) * lit(1L << (2 * i + 1)))
    }.reduce(_ + _)

  /** Clamp an arbitrary non-negative long into [0, 2^bits) by dropping high
    * bits — the cheap way to feed wide domains (timestamps, ids) into
    * [[zValue]] while keeping locality in the low bits. */
  def boundedBucket(c: Column, bits: Int = bitsPerDim): Column =
    c.cast("long").bitwiseAND(lit((1L << bits) - 1))

  /** Rewrite a DataFrame into z-clustered order on (x, y): range-partition
    * then sort by the z-value, so every output file covers a compact
    * rectangle of the (x, y) space and parquet column stats prune on BOTH
    * dimensions. */
  def zOrderBy(df: DataFrame, x: Column, y: Column,
               numPartitions: Int): DataFrame = {
    val z = zValue(boundedBucket(x), boundedBucket(y))
    df.withColumn("__z", z)
      .repartitionByRange(numPartitions, col("__z"))
      .sortWithinPartitions(col("__z"))
      .drop("__z")
  }

  /** Hive-style partitioned parquet write on a derived column: the
    * standard date/category layout that turns a predicate on the
    * partition column into DIRECTORY pruning (whole partitions never
    * open — stronger than row-group stats). The repartition on the
    * partition column keeps it one file per partition value per write
    * instead of numPartitions small files each.
    */
  def writePartitioned(df: DataFrame, path: String, partitionCol: String,
                       value: Column): Unit =
    df.withColumn(partitionCol, value)
      .repartition(col(partitionCol))
      .write.mode("overwrite")
      .partitionBy(partitionCol)
      .parquet(path)

  /** Compact a parquet directory to ~`targetFileBytes` output files — the
    * small-files maintenance pass every streaming/incremental writer needs
    * (thousands of KB-sized files turn scans into metadata storms and
    * starve HDFS namenodes). File count is sized from the CURRENT on-disk
    * bytes (already-encoded parquet, so the estimate is honest), then the
    * data is rewritten through a single repartition into a temp dir and
    * atomically* swapped in (*rename-atomic on posix/HDFS; object-store
    * schemes are REFUSED up front — their copy+delete "rename" would
    * expose readers to a missing table; use a manifest-committing table
    * format there). Refuses a
    * Hive-partitioned root (compact leaf partition dirs individually —
    * a flat rewrite would destroy the layout and re-infer partition
    * values).
    * @return number of parquet files present after the swap
    */
  /** FS schemes whose "rename" is a non-atomic client-side copy+delete —
    * the directory swap in [[compact]] would expose concurrent readers to
    * a missing or half-copied table on these. Object stores need a
    * manifest-committing table format instead. */
  private val nonAtomicRenameSchemes = Set(
    "s3", "s3a", "s3n", "gs", "wasb", "wasbs", "abfs", "abfss", "oss",
    "cos", "cosn", "swift")

  def compact(spark: org.apache.spark.sql.SparkSession, path: String,
              targetFileBytes: Long = 128L * 1024 * 1024): Int = {
    require(targetFileBytes > 0)
    val conf = spark.sparkContext.hadoopConfiguration
    val p = new org.apache.hadoop.fs.Path(path)
    // guard BEFORE any FS call: the rename-swap commit below is only safe
    // where directory rename is atomic (posix, HDFS)
    val scheme = Option(p.toUri.getScheme).getOrElse(
      org.apache.hadoop.fs.FileSystem.getDefaultUri(conf).getScheme)
    require(scheme == null || !nonAtomicRenameSchemes.contains(scheme.toLowerCase),
      s"compact() commits by directory rename, which is not atomic on " +
        s"'$scheme' — use the manifest-committed layout (writeManifested /" +
        s" compactManifest) on object stores")
    val fs = p.getFileSystem(conf)
    // refuse Hive-partitioned layouts: a flat re-read would strip the
    // directory structure AND re-infer partition values by type
    // ('pc=00123' -> int 123) — compact each leaf partition dir instead
    val partitioned = fs.listStatus(p)
      .exists(s => s.isDirectory && s.getPath.getName.contains("="))
    require(!partitioned,
      s"$path is Hive-partitioned; compact each partition directory, not the root")
    val totalBytes = fs.getContentSummary(p).getLength
    val nFiles = math.max(1, math.ceil(totalBytes.toDouble / targetFileBytes).toInt)
    // siblings via Path(parent, name+suffix): string concat would nest
    // them INSIDE the table when `path` carries a trailing slash
    val tmp = new org.apache.hadoop.fs.Path(p.getParent, p.getName + "__compacting")
    val bak = new org.apache.hadoop.fs.Path(p.getParent, p.getName + "__precompact")
    fs.delete(tmp, true)
    spark.read.parquet(p.toString).repartition(nFiles)
      .write.mode("overwrite").parquet(tmp.toString)
    fs.delete(bak, true)
    require(fs.rename(p, bak), s"could not move $path aside")
    if (!fs.rename(tmp, p)) {
      // roll the original back before failing — the table path must never
      // be left empty
      fs.rename(bak, p)
      throw new java.io.IOException(s"could not move compacted data into $path")
    }
    fs.delete(bak, true)
    // actual files written (empty repartition slots produce none)
    fs.listStatus(p).count(_.getPath.getName.endsWith(".parquet"))
  }

  // ---- manifest-committed table layout (object-store safe) -------------
  // The rename-swap in [[compact]] is only atomic on posix/HDFS; on an
  // object store a directory "rename" is a client-side copy+delete that
  // exposes concurrent readers to a missing or half-copied table. The
  // standard answer (the core of every lake-house table format) is a
  // MANIFEST: data files are immutable and write-once, and the table's
  // current state is whatever the highest-numbered manifest file lists.
  // Commit = make one new small manifest object visible; readers resolve
  // the listing, never the data directory. A single-FILE rename is safe
  // even as copy+delete — the destination object appears complete or not
  // at all — which is exactly the property the directory swap lacks.
  //
  // Layout:  <root>/_manifests/%020d.manifest   (one line per data file,
  //          paths relative to <root>)
  //          <root>/data-g<gen>-<uuid>/part-*.parquet
  //
  // Concurrent committers race to create the same generation number; the
  // loser's tryCommit returns false and it must retry on the new latest.
  // HOW one committer wins is the pluggable [[CommitArbiter]]: the
  // default uses fail-on-exists rename (posix, HDFS); stores without it
  // plug in conditional PUT ([[ConditionalPutCommitArbiter]]) or a
  // lock-service/CAS arbiter — the table logic never changes.

  private val manifestsDirName = "_manifests"
  private val manifestSuffix = ".manifest"

  /** Every committed manifest/checkpoint payload ends with this trailer
    * line. It exists to DETECT stores that violate the arbiter contract's
    * all-or-nothing visibility: Hadoop's `RawLocalFileSystem.rename`
    * silently degrades to a non-atomic `FileUtil.copy` when
    * `File.renameTo` fails (observed once under heavy box I/O pressure),
    * and a concurrent reader then sees a TRUNCATED manifest head. An
    * appender that based its next commit on that short head would
    * permanently drop every file missing from it — so a read whose last
    * line is not the trailer is treated as an in-flight object: retried
    * briefly, then failed LOUDLY instead of silently losing data. */
  private[graft] val manifestEof = "#eof"

  /** Manifest format version header, written as the FIRST line of every
    * manifest/checkpoint so even a truncated head identifies its format.
    * v2 = trailer-required (every complete payload ends with
    * [[manifestEof]]). Files WITHOUT this header are legacy objects from
    * pre-trailer builds: they are accepted when their bytes are stable
    * across two reads (a legacy manifest never changes after commit; only
    * an in-flight non-atomic copy does), so persisted tables survive the
    * upgrade instead of being misdiagnosed as truncated. */
  private[graft] val manifestVersionLine = "#v=2"

  /** Test seam: reproduction specs set this false to read manifests the
    * pre-trailer way (no truncation check), demonstrating the silent
    * short-head loss the trailer exists to prevent. Always true in
    * production. */
  @volatile private[graft] var manifestReadValidation = true

  /** Commit-protocol seam: how one new manifest object becomes visible
    * atomically. The contract: `tryCommit` makes `payload` readable at
    * `target` all-or-nothing, returns true iff THIS caller won the
    * generation (false = a competing committer owns it, and `target` now
    * holds that committer's complete payload), and never leaves a partial
    * object visible at `target`. Every manifest committer (write, append,
    * compact, delete, upsert) routes through [[commitArbiter]], so a store
    * without atomic fail-on-exists rename plugs in its own primitive —
    * conditional PUT, a lock service, a CAS table — without touching the
    * table logic. */
  trait CommitArbiter {
    def tryCommit(fs: org.apache.hadoop.fs.FileSystem,
                  target: org.apache.hadoop.fs.Path,
                  payload: Array[Byte]): Boolean
  }

  /** Default arbiter: write a temp object beside the target, then a
    * single-FILE rename — atomic wherever rename fails on an existing
    * destination (posix, HDFS). A crashed committer leaks only a `.tmp-*`
    * object that [[vacuumManifested]] age-gates away. */
  object RenameCommitArbiter extends CommitArbiter {
    override def tryCommit(fs: org.apache.hadoop.fs.FileSystem,
        target: org.apache.hadoop.fs.Path, payload: Array[Byte]): Boolean = {
      val tmp = new org.apache.hadoop.fs.Path(target.getParent,
        s".tmp-${java.util.UUID.randomUUID().toString.take(8)}")
      val out = fs.create(tmp, false)
      try out.write(payload) finally out.close()
      if (fs.exists(target) || !fs.rename(tmp, target)) {
        fs.delete(tmp, false)
        false
      } else true
    }
  }

  /** Arbiter for stores whose create-if-absent is an atomic conditional
    * PUT — the object-store precondition must be enforced BY THE STORE at
    * object-materialization time (S3 `If-None-Match: *` issued on the
    * final PUT/CompleteMultipartUpload, GCS `ifGenerationMatch=0`, Azure
    * `If-None-Match: *`): the store then accepts exactly one writer per
    * generation and the object appears complete or not at all.
    *
    * Stock Hadoop S3A does NOT qualify: its `create(path, overwrite =
    * false)` is a HEAD existence check at open time plus an unconditional
    * PUT at close — two concurrent committers can both pass the check and
    * the later close silently overwrites the earlier one (a lost commit).
    * Use this arbiter only with a connector configured to attach the
    * store's conditional-write precondition to the final PUT (e.g. S3A's
    * conditional create support where available), or implement a custom
    * [[CommitArbiter]] against the store SDK directly.
    *
    * Defense-in-depth for check-at-open stores: after close, the written
    * object is read back and byte-compared to this writer's payload; a
    * mismatch means a concurrent committer's PUT superseded ours, and the
    * commit reports lost instead of silently dropping the winner. (This
    * narrows the lost-commit window to PUTs landing after the read-back —
    * it is NOT a substitute for a true store-side precondition.) Also NOT
    * correct on plain filesystems, where an in-progress create is a
    * visible partial file — those keep [[RenameCommitArbiter]]. */
  object ConditionalPutCommitArbiter extends CommitArbiter {
    override def tryCommit(fs: org.apache.hadoop.fs.FileSystem,
        target: org.apache.hadoop.fs.Path, payload: Array[Byte]): Boolean = {
      val out =
        try fs.create(target, false)
        catch {
          case _: org.apache.hadoop.fs.FileAlreadyExistsException => return false
          case e: java.io.IOException
              if Option(e.getMessage).exists(_.toLowerCase.contains("exist")) =>
            return false
        }
      try out.write(payload) finally out.close()
      // read-back verification: did OUR payload survive the race?
      val in = fs.open(target)
      val got =
        try org.apache.hadoop.io.IOUtils.readFullyToByteArray(in)
        finally in.close()
      java.util.Arrays.equals(got, payload)
    }
  }

  /** The active commit protocol (process-wide). Swap it for
    * [[ConditionalPutCommitArbiter]] (or a custom lock-service/CAS
    * implementation) when the table lives on a store without atomic
    * fail-on-exists rename. */
  @volatile var commitArbiter: CommitArbiter = RenameCommitArbiter

  /** File-skipping bound on one column: keep only files whose stats show
    * they MAY contain a row with `lower <= column <= upper` (either end
    * optional). Values: numbers, strings, java.sql.Date / LocalDate,
    * java.sql.Timestamp / Instant. */
  case class ColBounds(column: String, lower: Option[Any] = None,
                       upper: Option[Any] = None)

  private def manifestGen(name: String): Option[Long] =
    if (name.endsWith(manifestSuffix))
      name.stripSuffix(manifestSuffix).toLongOption
    else None

  /** (generation, path) of the newest committed manifest, if any. */
  private def latestManifest(fs: org.apache.hadoop.fs.FileSystem,
      root: org.apache.hadoop.fs.Path): Option[(Long, org.apache.hadoop.fs.Path)] = {
    val md = new org.apache.hadoop.fs.Path(root, manifestsDirName)
    if (!fs.exists(md)) None
    else fs.listStatus(md).toSeq
      .flatMap(s => manifestGen(s.getPath.getName).map(_ -> s.getPath))
      .sortBy(_._1).lastOption
  }

  /** The newest generation whose manifest was committed at-or-before
    * `epochMillis` — timestamp-based time travel, resolved from the
    * `#ts=` commit instant recorded in each manifest header (mtime is the
    * fallback for pre-`#ts=` manifests; rename-based commits preserve tmp
    * mtimes and writer clocks skew, so raw mtimes need not be monotonic
    * in generation number). A running max over generations enforces
    * monotonicity either way: an instant always resolves to the
    * generation actually current at that instant, never to an older
    * generation whose recorded time lags. Feed the result to any
    * `generation =` parameter: `readManifested(spark, t,
    * Some(generationAsOf(spark, t, ts)))` is `TIMESTAMP AS OF ts`.
    * Errors when the table predates no generation (ts before the first
    * commit, or older generations vacuumed away). */
  def generationAsOf(spark: org.apache.spark.sql.SparkSession,
      path: String, epochMillis: Long): Long = {
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val md = new org.apache.hadoop.fs.Path(root, manifestsDirName)
    if (!fs.exists(md)) throw new java.io.IOException(
      s"$path has no committed manifest — not a manifested table")
    var runMax = Long.MinValue
    val gens = fs.listStatus(md).toSeq
      .flatMap(s => manifestGen(s.getPath.getName)
        .map(g => (g, s.getPath, s.getModificationTime)))
      .sortBy(_._1)
      .map { case (g, p, mtime) =>
        runMax = math.max(runMax, readHeader(fs, p).ts.getOrElse(mtime))
        (g, runMax)
      }
    gens.filter(_._2 <= epochMillis).map(_._1).lastOption.getOrElse(
      throw new java.io.IOException(
        s"$path has no retained generation committed at or before " +
          s"${java.time.Instant.ofEpochMilli(epochMillis)} (first " +
          s"retained commit: ${gens.headOption.map(g =>
            java.time.Instant.ofEpochMilli(g._2)).getOrElse("none")})"))
  }

  private def readManifestLines(fs: org.apache.hadoop.fs.FileSystem,
      p: org.apache.hadoop.fs.Path): Seq[String] = {
    var attempt = 0
    var prevBytes: Array[Byte] = null
    while (true) {
      val in = fs.open(p)
      val bytes =
        try org.apache.hadoop.io.IOUtils.readFullyToByteArray(in)
        finally in.close()
      val lines = new String(bytes, "UTF-8")
        .split("\n").toSeq.filter(_.nonEmpty)
      // a complete manifest ends with the [[manifestEof]] trailer; a tail
      // without it is a partial object exposed mid-materialization (e.g.
      // local rename degraded to copy) — wait for the copy to finish, and
      // if it never does, refuse: committing on a short head silently
      // drops every file missing from it
      if (!manifestReadValidation || lines.lastOption.contains(manifestEof))
        return lines
      // no [[manifestVersionLine]] header => a LEGACY (pre-trailer build)
      // object, which legitimately has no trailer. Committed objects are
      // immutable, so byte-stability across two reads separates "old
      // format" from "in-flight copy". Any v2+ head (even a few bytes —
      // the version line is written first) falls through to the loud
      // truncation path instead; that includes a NONEMPTY head that is a
      // strict PREFIX of the version line ("#", "#v", "#v=") — a crashed
      // non-atomic copy can leave a byte-stable 1-byte "#" head, which
      // must fail loudly, not read as an empty legacy table. A fully
      // EMPTY object stays on the legacy-ambiguity failure path below
      // (also loud — `legacy && lines.nonEmpty` never returns it).
      val legacy = !lines.headOption.exists(h =>
        h.startsWith("#v") || manifestVersionLine.startsWith(h))
      if (legacy && lines.nonEmpty && prevBytes != null &&
          java.util.Arrays.equals(prevBytes, bytes))
        return lines
      prevBytes = bytes
      attempt += 1
      if (attempt > 8) throw new java.io.IOException(
        if (legacy)
          s"$p has no $manifestEof trailer and no $manifestVersionLine " +
            s"header, and never stabilized into a readable legacy object " +
            s"across $attempt reads (bytes kept changing, or the object " +
            "is empty) — an in-flight non-atomic copy or a corrupt " +
            "object, not a committed pre-trailer manifest. Refusing to " +
            "read a short head."
        else
          s"$p is truncated — a $manifestVersionLine manifest missing its " +
            s"$manifestEof trailer after $attempt reads. The store exposed " +
            "a partial manifest object (non-atomic rename, e.g. " +
            "RawLocalFileSystem's copy fallback). Refusing to read a " +
            "short head.")
      Thread.sleep(25L << math.min(attempt, 5))
    }
    throw new IllegalStateException("unreachable")
  }

  /** One manifest object: the `#key=` header a commit records plus its
    * entry lines. An entry is `relative/path` or `relative/path<TAB>{stats
    * json}` — both forms are valid in one manifest, so tables written
    * before stats existed (or appended without `statsCols`) keep working.
    * Header keys:
    *  - `token`: the idempotence token the commit carried;
    *  - `ts`: the commit instant in epoch millis — the authoritative
    *    timestamp for as-of time travel and history (rename-based commits
    *    preserve the tmp object's mtime and writer clocks skew, so mtime
    *    is only the fallback for manifests that predate the key);
    *  - `schema`: the table schema as DDL — reads plan with it and skip
    *    footer inference, and appends evolve it additively;
    *  - `cluster` / `zorder`: the declared layout (linear range clustering
    *    or a 2-D Morton curve), which every rewrite and appended batch
    *    re-applies so per-file min/max ranges stay selective;
    *  - `op`: `write|append|compact|delete|upsert|rollback:<gen>`, the
    *    commit's provenance for history and `describeManifest`.
    * [[Manifest.parse]] is the one reader and [[lines]] the one writer of
    * the format. */
  private case class Manifest(
      gen: Long,
      entries: Seq[String] = Nil,
      token: Option[String] = None,
      ts: Option[Long] = None,
      schemaDdl: Option[String] = None,
      clusterCols: Seq[String] = Nil,
      zOrderCols: Seq[String] = Nil,
      op: Option[String] = None) {

    /** The same table layout committed as generation `g` by `operation`:
      * schema and layout carry over, token and instant do not. */
    def successor(g: Long, operation: String): Manifest =
      copy(gen = g, token = None, ts = None, op = Some(operation))

    def lines: Seq[String] = {
      def cols(key: String, cs: Seq[String]) =
        Option.when(cs.nonEmpty)(s"#$key=${cs.mkString(",")}")
      (manifestVersionLine +: (token.map("#token=" + _) ++
        ts.map("#ts=" + _) ++ schemaDdl.map("#schema=" + _) ++
        cols("cluster", clusterCols) ++ cols("zorder", zOrderCols) ++
        op.map("#op=" + _)).toSeq) ++ entries :+ manifestEof
    }
  }

  private object Manifest {
    def parse(gen: Long, lines: Seq[String]): Manifest = {
      def key(k: String) = lines.collectFirst {
        case l if l.startsWith(s"#$k=") => l.stripPrefix(s"#$k=") }
      def cols(k: String) =
        key(k).map(_.split(",").toSeq.filter(_.nonEmpty)).getOrElse(Nil)
      Manifest(gen, lines.filterNot(_.startsWith("#")), key("token"),
        key("ts").flatMap(_.toLongOption), key("schema"), cols("cluster"),
        cols("zorder"), key("op"))
    }
  }

  /** The whole manifest at `p` — header and entries — from one read. */
  private def readManifest(fs: org.apache.hadoop.fs.FileSystem,
      p: org.apache.hadoop.fs.Path): Manifest =
    Manifest.parse(manifestGen(p.getName).getOrElse(-1L),
      readManifestLines(fs, p))

  /** Raw manifest entry lines (header/comment lines skipped). */
  private[graft] def readManifestEntries(fs: org.apache.hadoop.fs.FileSystem,
      p: org.apache.hadoop.fs.Path): Seq[String] = readManifest(fs, p).entries

  private[graft] def entryPath(line: String): String = line.split('\t').head

  private[graft] def entryStatsJson(line: String): Option[String] = {
    val i = line.indexOf('\t')
    if (i < 0) None else Some(line.substring(i + 1))
  }

  /** Header lines only (the leading `#`-prefixed block): stops at the
    * first entry line, so probing a manifest's token/schema/cluster costs
    * O(header bytes) even when the entry body lists 100k files — that is
    * what makes the cross-generation token scan in [[appendManifested]]
    * affordable. */
  private def readHeaderLines(fs: org.apache.hadoop.fs.FileSystem,
      p: org.apache.hadoop.fs.Path): Seq[String] = {
    val in = fs.open(p)
    try {
      val br = new java.io.BufferedReader(
        new java.io.InputStreamReader(in, "UTF-8"))
      val out = scala.collection.mutable.ArrayBuffer.empty[String]
      var line = br.readLine()
      while (line != null && line.startsWith("#")) {
        out += line
        line = br.readLine()
      }
      out.toSeq
    } finally in.close()
  }

  /** A manifest's header (no entries) from [[readHeaderLines]]. */
  private def readHeader(fs: org.apache.hadoop.fs.FileSystem,
      p: org.apache.hadoop.fs.Path): Manifest =
    Manifest.parse(manifestGen(p.getName).getOrElse(-1L),
      readHeaderLines(fs, p))

  // ---- token/generation checkpoints ----------------------------------
  //
  // A streaming sink committing every trigger accumulates thousands of
  // generations; a token scan that header-reads EVERY retained manifest
  // makes each commit O(G) object reads and the table's lifetime O(G²).
  // The classic answer (Iceberg snapshot compaction, Delta checkpoints)
  // is a periodically-rewritten summary object: every
  // [[checkpointInterval]] generations, commit 0 writes
  // `_manifests/%020d.checkpoint` holding every idempotence token
  // committed in any generation <= its number — CHAINED from the previous
  // checkpoint, so tokens survive even after their manifests are
  // vacuumed. Token probes then read newest-checkpoint + the <= interval
  // manifest headers above it: O(1)-ish per commit, independent of table
  // age. Checkpoint content is deterministic given the chain (sorted
  // line-per-token), so racing writers produce identical objects and the
  // commit-arbiter race is harmless.

  private val checkpointSuffix = ".checkpoint"

  /** Generations between token/generation checkpoints; <= 0 disables. */
  @volatile var checkpointInterval: Int = 25

  private def checkpointGenOf(name: String): Option[Long] =
    if (name.endsWith(checkpointSuffix))
      name.stripSuffix(checkpointSuffix).toLongOption
    else None

  /** (generation, path) of the newest committed checkpoint, if any. */
  private def latestCheckpoint(fs: org.apache.hadoop.fs.FileSystem,
      md: org.apache.hadoop.fs.Path): Option[(Long, org.apache.hadoop.fs.Path)] =
    if (!fs.exists(md)) None
    else fs.listStatus(md).toSeq
      .flatMap(s => checkpointGenOf(s.getPath.getName).map(_ -> s.getPath))
      .sortBy(_._1).lastOption

  private def readCheckpointTokens(fs: org.apache.hadoop.fs.FileSystem,
      p: org.apache.hadoop.fs.Path): Set[String] =
    readManifestLines(fs, p).filterNot(_.startsWith("#")).toSet

  /** Write the checkpoint for generation `gen`: the previous checkpoint's
    * tokens plus the tokens of retained manifests in (prevCkpt, gen].
    * Losing the commit race is ignored — the racer wrote the same
    * deterministic content. */
  private[graft] def writeCheckpoint(fs: org.apache.hadoop.fs.FileSystem,
      root: org.apache.hadoop.fs.Path, gen: Long): Unit = {
    val md = new org.apache.hadoop.fs.Path(root, manifestsDirName)
    val prev = latestCheckpoint(fs, md).filter(_._1 <= gen)
    val prevGen = prev.map(_._1).getOrElse(Long.MinValue)
    if (prevGen == gen) return // already checkpointed
    val prevTokens = prev.map(c => readCheckpointTokens(fs, c._2))
      .getOrElse(Set.empty[String])
    val fresh = fs.listStatus(md).toSeq.flatMap { s =>
      manifestGen(s.getPath.getName)
        .filter(g => g > prevGen && g <= gen)
        .flatMap(_ => readHeader(fs, s.getPath).token)
    }
    val payload = ((manifestVersionLine +:
      ((prevTokens ++ fresh).toSeq.sorted :+ manifestEof))
      .mkString("\n") + "\n").getBytes("UTF-8")
    val target = new org.apache.hadoop.fs.Path(md, f"$gen%020d$checkpointSuffix")
    commitArbiter.tryCommit(fs, target, payload): Unit
  }

  /** Checkpoint every [[checkpointInterval]]-th generation, right after
    * its manifest commit. Modulo-gated so the common commit pays ZERO
    * extra object reads; a table created before checkpoints existed (or
    * with the feature disabled for a while) catches up at the next
    * multiple. */
  private def maybeCheckpoint(fs: org.apache.hadoop.fs.FileSystem,
      root: org.apache.hadoop.fs.Path, gen: Long): Unit = {
    val n = checkpointInterval
    if (n > 0 && gen > 0 && gen % n == 0) writeCheckpoint(fs, root, gen)
  }

  /** True iff ANY manifest generation was committed with `token` — the
    * newest checkpoint's token set (one read, covers everything at or
    * below its generation, vacuumed manifests included) plus header reads
    * of the <= [[checkpointInterval]] manifests above it. Scanning above
    * the checkpoint (not just the newest manifest) is what keeps token
    * idempotence sound under interleaved writers: a replay arriving after
    * OTHER appenders advanced the table still finds its token. */
  private def tokenCommitted(fs: org.apache.hadoop.fs.FileSystem,
      root: org.apache.hadoop.fs.Path, token: String): Boolean = {
    val md = new org.apache.hadoop.fs.Path(root, manifestsDirName)
    if (!fs.exists(md)) return false
    val stats = fs.listStatus(md).toSeq
    val ckpt = stats
      .flatMap(s => checkpointGenOf(s.getPath.getName).map(_ -> s.getPath))
      .sortBy(_._1).lastOption
    val ckptGen = ckpt.map(_._1).getOrElse(Long.MinValue)
    ckpt.exists(c => readCheckpointTokens(fs, c._2).contains(token)) ||
      stats.exists { s =>
        manifestGen(s.getPath.getName).exists(_ > ckptGen) &&
          readHeader(fs, s.getPath).token.contains(token)
      }
  }

  /** Commit `m` as generation `m.gen`, stamped with the commit instant,
    * through the active [[commitArbiter]]. Fails if the generation was
    * committed concurrently (the caller's retry re-reads and re-commits). */
  private def commitManifest(fs: org.apache.hadoop.fs.FileSystem,
      root: org.apache.hadoop.fs.Path, m: Manifest): Unit = {
    val md = new org.apache.hadoop.fs.Path(root, manifestsDirName)
    fs.mkdirs(md)
    val payload = (m.copy(ts = Some(System.currentTimeMillis())).lines
      .mkString("\n") + "\n").getBytes("UTF-8")
    val target = new org.apache.hadoop.fs.Path(md, f"${m.gen}%020d$manifestSuffix")
    if (!commitArbiter.tryCommit(fs, target, payload))
      throw new java.io.IOException(
        s"manifest generation ${m.gen} was committed concurrently at $target — " +
          "re-read the table and retry")
    maybeCheckpoint(fs, root, m.gen)
  }

  private def newDataDir(gen: Long): String =
    s"data-g$gen-${java.util.UUID.randomUUID().toString.take(8)}"

  /** Test seam: invoked immediately before a MAINTENANCE commit attempt
    * (compact / delete / upsert), so a spec can interleave a competing
    * commit into the exact race window. No-op in production. */
  @volatile private[graft] var beforeMaintenanceCommitHook: () => Unit = () => ()

  /** Re-run `body` when a commit race steals the generation, up to
    * `maxRetries` times. Write, append and rollback put only their commit
    * in `body`: it re-targets the next generation with the files already
    * written. Maintenance ops (compact/delete/upsert) put the whole op in
    * it: their rewrite was planned against a base manifest that no longer
    * is the latest — carrying any of that plan forward could drop an
    * interleaved append's files or resurrect deleted rows, so a
    * from-scratch re-run against the NEW latest is the only honest
    * retry. The lost attempt's data directory is orphaned (never
    * referenced by any manifest) and the next [[vacuumManifested]]
    * removes it — same lifecycle as a lost append. */
  private def retryOnCommitRace[T](maxRetries: Int)(body: => T): T = {
    var attempt = 0
    while (true) {
      try return body
      catch {
        case e: java.io.IOException
            if Option(e.getMessage).exists(_.contains("committed concurrently"))
              && attempt < maxRetries =>
          attempt += 1
      }
    }
    throw new IllegalStateException("unreachable")
  }

  // ---- manifest column statistics (file-level data skipping) ------------
  // Per data file, the manifest can carry `{"col":{"t":tag,"min":…,"max":…,
  // "n":nullCount}}` for requested top-level columns. The values come from
  // the parquet FOOTER at commit time (metadata only — the data is never
  // re-read), merged across row groups. A range predicate then prunes
  // whole FILES from the listing before Spark ever opens them — one
  // manifest read replaces N footer reads, which is the difference between
  // a point query planning in milliseconds and stat-ing 100k objects on an
  // object store. Files without stats (older generations, unsupported
  // column types, missing footer stats) are always KEPT — skipping is only
  // ever an optimization, never a filter.
  //
  // Tags: "l" = integer-backed (int/long/timestamp-as-micros),
  // "d" = floating, "s" = string (and dates as ISO strings, whose
  // lexicographic order is chronological). min/max are rendered as strings
  // so long values above 2^53 survive JSON round-trips exactly.

  private val jsonMapper = new com.fasterxml.jackson.databind.ObjectMapper()

  /** Footer min/max/null-count for `cols` of one parquet file, with the
    * file's total row count from the same footer read. A column
    * appears in the result only if EVERY row group has usable stats for it
    * (a single unknown block would make pruning unsound). min/max are both
    * absent only when the column is PROVABLY all-null in the file
    * (numNulls == row count — "no values recorded" alone also describes a
    * type whose stats parquet simply doesn't write, e.g. Spark's legacy
    * INT96 timestamps; those columns are dropped, never marked all-null).
    * To get prunable timestamp stats, write with
    * `spark.sql.parquet.outputTimestampType=TIMESTAMP_MICROS`. */
  private[graft] def parquetFileStats(
      conf: org.apache.hadoop.conf.Configuration,
      file: org.apache.hadoop.fs.Path,
      cols: Set[String])
      : (Map[String, (String, Option[String], Option[String], Long)], Long) = {
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
    import org.apache.parquet.schema.LogicalTypeAnnotation
    val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(file, conf))
    try {
      // col -> (tag, min, max, nulls); removed from the map (and blacklisted)
      // the moment any block's stats are unusable. rowsSeen distinguishes a
      // truly all-null column (nulls == rows) from one whose stats parquet
      // never wrote (e.g. INT96: "0 nulls, no values")
      val acc = scala.collection.mutable.Map
        .empty[String, (String, Option[String], Option[String], Long)]
      val rowsSeen = scala.collection.mutable.Map.empty[String, Long]
        .withDefaultValue(0L)
      val broken = scala.collection.mutable.Set.empty[String]
      reader.getFooter.getBlocks.forEach { block =>
        block.getColumns.forEach { cc =>
          val name = cc.getPath.toDotString
          if (cols.contains(name) && !broken.contains(name)) {
            rowsSeen(name) += block.getRowCount
            val st = cc.getStatistics
            val rendered: Option[(String, Option[String], Option[String], Long)] =
              if (st == null || !st.isNumNullsSet) None
              else if (!st.hasNonNullValue) {
                // no values recorded: either an all-null block or a type
                // with no stats — settled after all blocks via rowsSeen
                Some(("", None, None, st.getNumNulls))
              } else {
                val pt = cc.getPrimitiveType
                def render(v: AnyRef): Option[(String, String)] =
                  (pt.getPrimitiveTypeName, pt.getLogicalTypeAnnotation) match {
                    case (INT32, _: LogicalTypeAnnotation.DateLogicalTypeAnnotation) =>
                      Some(("s", java.time.LocalDate
                        .ofEpochDay(v.asInstanceOf[Integer].longValue).toString))
                    case (INT32, _) => Some(("l", v.toString))
                    case (INT64, ts: LogicalTypeAnnotation.TimestampLogicalTypeAnnotation) =>
                      val raw = v.asInstanceOf[java.lang.Long].longValue
                      val us = ts.getUnit match {
                        case LogicalTypeAnnotation.TimeUnit.MILLIS => raw * 1000L
                        case LogicalTypeAnnotation.TimeUnit.MICROS => raw
                        case LogicalTypeAnnotation.TimeUnit.NANOS  => raw / 1000L
                      }
                      Some(("l", us.toString))
                    case (INT64, _) => Some(("l", v.toString))
                    case (FLOAT, _) =>
                      val d = v.asInstanceOf[java.lang.Float].doubleValue
                      if (d.isNaN) None else Some(("d", d.toString))
                    case (DOUBLE, _) =>
                      val d = v.asInstanceOf[java.lang.Double].doubleValue
                      if (d.isNaN) None else Some(("d", d.toString))
                    case (BINARY, _: LogicalTypeAnnotation.StringLogicalTypeAnnotation) =>
                      Some(("s", v.asInstanceOf[org.apache.parquet.io.api.Binary]
                        .toStringUsingUTF8))
                    case _ => None // INT96, decimals, raw binary: no pruning
                  }
                (render(st.genericGetMin.asInstanceOf[AnyRef]),
                    render(st.genericGetMax.asInstanceOf[AnyRef])) match {
                  case (Some((tag, mn)), Some((_, mx))) =>
                    Some((tag, Some(mn), Some(mx), st.getNumNulls))
                  case _ => None
                }
              }
            rendered match {
              case None =>
                broken += name; acc.remove(name)
              case Some((tag, mn, mx, nulls)) =>
                acc.get(name) match {
                  case None => acc(name) = (tag, mn, mx, nulls)
                  case Some((tag0, mn0, mx0, n0)) =>
                    val t = if (tag0.nonEmpty) tag0 else tag
                    if (tag.nonEmpty && tag0.nonEmpty && tag != tag0) {
                      broken += name; acc.remove(name) // schema drift across blocks
                    } else acc(name) = (t,
                      minOf(t, mn0, mn), maxOf(t, mx0, mx), n0 + nulls)
                }
            }
          }
        }
      }
      // min/max-less entries are kept ONLY when provably all-null
      (acc.filter { case (name, (_, mn, mx, nulls)) =>
        (mn.nonEmpty && mx.nonEmpty) ||
          (rowsSeen(name) > 0 && nulls == rowsSeen(name))
      }.toMap, reader.getRecordCount)
    } finally reader.close()
  }

  private def cmp(tag: String, a: String, b: String): Int = tag match {
    case "l" => java.lang.Long.compare(a.toLong, b.toLong)
    case "d" => java.lang.Double.compare(a.toDouble, b.toDouble)
    case _   => a.compareTo(b)
  }
  private def minOf(tag: String, a: Option[String], b: Option[String]): Option[String] =
    (a, b) match {
      case (Some(x), Some(y)) => Some(if (cmp(tag, x, y) <= 0) x else y)
      case _ => a.orElse(b)
    }
  private def maxOf(tag: String, a: Option[String], b: Option[String]): Option[String] =
    (a, b) match {
      case (Some(x), Some(y)) => Some(if (cmp(tag, x, y) >= 0) x else y)
      case _ => a.orElse(b)
    }

  // ---- per-file bloom filters (equality skipping, unclustered columns) --
  // min/max ranges prune RANGE predicates on clustered columns; for an
  // EQUALITY probe on a column the layout was not clustered by, every
  // file's range covers the value and stats prune nothing. A small
  // per-file bloom (bloomBits/8 bytes, default 1 KiB) over the column's
  // 60-bit value hashes closes that: a point lookup opens only the files
  // whose bloom admits the value — false positives cost a wasted read,
  // false negatives cannot happen. Collection is ONE distributed pass
  // over the just-written files (groupBy input_file_name), not a
  // driver-side loop. Hashing: md5-prefix hash60 of the value's string
  // rendering + the engine's odd-multiplier permutations, so the bits
  // are engine-portable like every other graft sketch. Integer and
  // string columns only (their string renderings are unambiguous).

  private val bloomHashes = 3

  private def hash60Host(s: String): Long = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8"))
    java.lang.Long.parseLong(d.map("%02x".format(_)).mkString.substring(0, 15), 16)
  }

  /** (h * c) mod 2^60 — the host twin of DedupOps.permuteHash (whose
    * 30-bit split exists only for ANSI-safe COLUMN arithmetic; a wrapping
    * 64-bit multiply keeps the same low 60 bits). */
  private def permuteHost(h: Long, c: Long): Long = (h * c) & DedupOps.mask60

  private def bloomBitsSet(words: Array[Long], rendered: String,
                           numHashes: Int): Boolean = {
    val numBits = words.length.toLong * 64
    val h = hash60Host(rendered)
    DedupOps.minhashMultipliers(numHashes).forall { c =>
      val pos = permuteHost(h, c) & (numBits - 1)
      (words((pos >> 6).toInt) & (1L << (pos & 63))) != 0
    }
  }

  /** String rendering that matches Spark's cast-to-string for the types
    * blooms support (integers and strings); None = not bloom-probeable. */
  private def renderForHash(v: Any): Option[String] = v match {
    case _: Byte | _: Short | _: Int | _: Long => Some(v.toString)
    case s: String => Some(s)
    case _ => None
  }

  /** Per-value bloom Aggregator: input is the value's 60-bit hash (null =
    * skip), state is the fixed word array, merge is OR — bounded state
    * with map-side partial aggregation, same contract as
    * [[graft.functions.BloomSketch]] but folding the k probe positions
    * inside reduce so one aggregate per column suffices. */
  private class BloomValueAgg(numBits: Int, numHashes: Int)
      extends org.apache.spark.sql.expressions.Aggregator[
        java.lang.Long, Array[Long], Array[Long]] {
    require(numBits > 0 && (numBits & (numBits - 1)) == 0,
      s"bloomBits must be a power of two, got $numBits")
    private val mults = DedupOps.minhashMultipliers(numHashes).toArray
    override def zero: Array[Long] = new Array[Long](numBits >> 6)
    override def reduce(b: Array[Long], h: java.lang.Long): Array[Long] = {
      if (h != null) {
        var i = 0
        while (i < mults.length) {
          val pos = ((h.longValue * mults(i)) & DedupOps.mask60) & (numBits - 1L)
          b((pos >> 6).toInt) |= 1L << (pos & 63)
          i += 1
        }
      }
      b
    }
    override def merge(a: Array[Long], b: Array[Long]): Array[Long] = {
      var i = 0
      while (i < a.length) { a(i) |= b(i); i += 1 }
      a
    }
    override def finish(st: Array[Long]): Array[Long] = st
    override def bufferEncoder: org.apache.spark.sql.Encoder[Array[Long]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[Long]]()
    override def outputEncoder: org.apache.spark.sql.Encoder[Array[Long]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[Long]]()
  }

  /** One Spark job over a freshly written data directory of the given
    * schema: per file, per bloom column, the OR of its value-hash bloom
    * bits. Keyed by file NAME (unique within the directory). */
  private def collectBlooms(spark: org.apache.spark.sql.SparkSession,
      dataDirAbs: String, schema: org.apache.spark.sql.types.StructType,
      bloomCols: Seq[String],
      numBits: Int): Map[String, Map[String, Array[Long]]] = {
    if (bloomCols.isEmpty) return Map.empty
    val aggs = bloomCols.map { c =>
      udaf(new BloomValueAgg(numBits, bloomHashes))
        .apply(PipelineOps.hash60(col(c))).as(s"__bloom_$c")
    }
    // read with the schema the write used: inferring it would cost a
    // footer-reading job per call
    spark.read.schema(schema).parquet(dataDirAbs)
      .groupBy(input_file_name().as("__f"))
      .agg(aggs.head, aggs.tail: _*)
      .collect()
      .map { r =>
        new org.apache.hadoop.fs.Path(r.getString(0)).getName ->
          bloomCols.zipWithIndex.map { case (c, i) =>
            c -> r.getSeq[Long](i + 1).toArray }.toMap
      }.toMap
  }

  private def longsToBase64(words: Array[Long]): String = {
    val bb = java.nio.ByteBuffer.allocate(words.length * 8)
    words.foreach(bb.putLong)
    java.util.Base64.getEncoder.encodeToString(bb.array())
  }

  private def base64ToLongs(s: String): Array[Long] = {
    val bb = java.nio.ByteBuffer.wrap(java.util.Base64.getDecoder.decode(s))
    Array.fill(bb.remaining() / 8)(bb.getLong)
  }

  /** Reserved top-level stats key: the file's total ROW COUNT (from the
    * footer). Cannot collide with a column node — columns map to JSON
    * objects, this maps to a number. */
  private val rowsKey = "__rows"
  private val bytesKey = "__bytes"

  /** Render one file's stats (+ optional blooms) as the manifest JSON
    * suffix. Footer-backed columns carry t/min/max/n; bloom columns add
    * bloom/bk (and may be bloom-only, with no range fields). `bytes` is
    * the data file's length: with it recorded, a planner can fabricate
    * the `FileStatus` a scan needs without ever stat-ing the file — the
    * manifest IS the listing (see [[graft.plans.ManifestFileIndex]]). */
  private def statsJson(
      m: Map[String, (String, Option[String], Option[String], Long)],
      blooms: Map[String, Array[Long]] = Map.empty,
      rows: Option[Long] = None,
      bytes: Option[Long] = None): String = {
    val root = jsonMapper.createObjectNode()
    rows.foreach(root.put(rowsKey, _))
    bytes.foreach(root.put(bytesKey, _))
    (m.keySet ++ blooms.keySet).toSeq.sorted.foreach { col =>
      val o = root.putObject(col)
      m.get(col).foreach { case (tag, mn, mx, nulls) =>
        o.put("t", tag)
        mn.foreach(o.put("min", _))
        mx.foreach(o.put("max", _))
        o.put("n", nulls)
      }
      blooms.get(col).foreach { words =>
        o.put("bloom", longsToBase64(words))
        o.put("bk", bloomHashes)
      }
    }
    jsonMapper.writeValueAsString(root)
  }

  /** Manifest entry line for one data file: path, plus a stats suffix when
    * requested and obtainable. Any suffix also records the file's row
    * count, which makes fully-covered COUNTs metadata-only.
    *
    * Cost note: one footer read per file, driver-side, and only for the
    * files the CURRENT commit adds (an append reads its own batch's
    * footers, never the table's). A 100k-file table accumulates its stats
    * across commits; no operation ever re-reads all live footers — that
    * is exactly what the manifest exists to avoid. */
  private def entryLineFor(conf: org.apache.hadoop.conf.Configuration,
      root: org.apache.hadoop.fs.Path, relPath: String, bytes: Long,
      statsCols: Seq[String],
      blooms: Map[String, Map[String, Array[Long]]]): String = {
    val abs = new org.apache.hadoop.fs.Path(root, relPath)
    val b = blooms.getOrElse(abs.getName, Map.empty)
    if (statsCols.isEmpty && b.isEmpty) relPath
    else {
      val (m, rows) = parquetFileStats(conf, abs, statsCols.toSet)
      if (m.isEmpty && b.isEmpty) relPath
      else s"$relPath\t${statsJson(m, b, Some(rows), Some(bytes))}"
    }
  }

  /** The byte length recorded for an entry's data file, if any — lets a
    * scan fabricate its `FileStatus` from the manifest alone (zero
    * per-file namenode/object-store calls at planning). */
  private[graft] def entryBytes(line: String): Option[Long] =
    entryStatsJson(line).flatMap(j =>
      Option(jsonMapper.readTree(j).get(bytesKey)).map(_.asLong))

  /** Can a file with these stats contain a NULL in `column`? Stats with a
    * recorded null count of zero prove it cannot; anything else keeps. */
  private[graft] def mayHaveNull(statsLine: Option[String], column: String): Boolean =
    statsLine.map(jsonMapper.readTree).flatMap(n => Option(n.get(column)))
      .forall(cn => !cn.has("n") || cn.get("n").asLong > 0L)

  /** Can a file with these stats contain a NON-null in `column`? False
    * only when the column is provably all-null (stats node present with a
    * null count but no min/max — [[parquetFileStats]]'s all-null form). */
  private[graft] def mayHaveNonNull(statsLine: Option[String], column: String): Boolean =
    statsLine.map(jsonMapper.readTree).flatMap(n => Option(n.get(column)))
      .forall(cn => !cn.has("n") || cn.has("min") || cn.has("max"))

  /** Bloom columns (and the largest bit width seen) recorded by any live
    * entry — what a rewrite (compaction/delete/upsert) must re-collect so
    * equality skipping survives maintenance. */
  private def inheritedBloomCols(entries: Seq[String]): (Seq[String], Int) = {
    import scala.jdk.CollectionConverters._
    val cols = scala.collection.mutable.LinkedHashSet.empty[String]
    var bits = 0
    entries.flatMap(entryStatsJson).map(jsonMapper.readTree).foreach { n =>
      n.fieldNames.asScala.foreach { f =>
        val cn = n.get(f)
        if (cn.has("bloom")) {
          cols += f
          bits = math.max(bits,
            java.util.Base64.getDecoder.decode(cn.get("bloom").asText).length * 8)
        }
      }
    }
    (cols.toSeq, bits)
  }

  /** Range-stats columns to re-collect when a rewrite (compaction / CoW
    * delete / upsert) inherits the table's stats config: every column any
    * live entry carries a "t"-tagged range node for. The reserved
    * [[rowsKey]] and bloom-ONLY columns are not footer range stats and
    * must not be requested from [[parquetFileStats]] (it ignores unknown
    * names today, but silently depending on that is fragile). */
  private[graft] def inheritedStatsCols(entries: Seq[String]): Seq[String] = {
    import scala.jdk.CollectionConverters._
    entries.flatMap(entryStatsJson).flatMap { j =>
      val n = jsonMapper.readTree(j)
      n.fieldNames.asScala.filter(f =>
        f != rowsKey && n.get(f).has("t")).toSeq
    }.distinct
  }

  /** The range-stats tag ("l" integer-backed, "d" floating, "s" string /
    * ISO date) recorded for `column` by any live entry of the newest
    * manifest — how a CLI bound knows what type to parse its value as. */
  def manifestStatsTag(spark: org.apache.spark.sql.SparkSession,
      path: String, column: String): Option[String] = {
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    latestManifest(fs, root).flatMap { case (_, mp) =>
      readManifestEntries(fs, mp).flatMap(entryStatsJson).flatMap { j =>
        Option(jsonMapper.readTree(j).get(column))
          .flatMap(cn => Option(cn.get("t")).map(_.asText).filter(_.nonEmpty))
      }.headOption
    }
  }

  /** Normalize a user-supplied bound to (tag, rendered) in the stats
    * domain; None = type we cannot compare against footer stats. */
  private def normalizeBound(v: Any): Option[(String, String)] = v match {
    case n: java.lang.Double  => Some(("d", n.toString))
    case n: java.lang.Float   => Some(("d", n.doubleValue.toString))
    case n: Byte              => Some(("l", n.toString))
    case n: Short             => Some(("l", n.toString))
    case n: Int               => Some(("l", n.toString))
    case n: Long              => Some(("l", n.toString))
    case s: String            => Some(("s", s))
    case d: java.sql.Date     => Some(("s", d.toLocalDate.toString))
    case d: java.time.LocalDate => Some(("s", d.toString))
    case t: java.sql.Timestamp =>
      Some(("l", (java.time.temporal.ChronoUnit.MICROS
        .between(java.time.Instant.EPOCH, t.toInstant)).toString))
    case t: java.time.Instant =>
      Some(("l", java.time.temporal.ChronoUnit.MICROS
        .between(java.time.Instant.EPOCH, t).toString))
    case _ => None
  }

  /** Compare a rendered stat value against a rendered bound; None when the
    * two domains are not comparable (→ never prune). Mixed integer/float
    * compares go through BigDecimal so a long above 2^53 is not bent
    * through a double. */
  private def cmpAcross(tagA: String, a: String, tagB: String, b: String): Option[Int] =
    if (tagA == tagB) Some(cmp(tagA, a, b))
    else if (Set("l", "d").contains(tagA) && Set("l", "d").contains(tagB))
      Some(new java.math.BigDecimal(a).compareTo(new java.math.BigDecimal(b)))
    else None

  /** Can a file with these stats contain a row satisfying every bound?
    * Missing stats for a bound column → yes (keep). Present stats with no
    * min/max → the column is all-null in the file → a range predicate can
    * never match → prune. */
  private[graft] def mayMatch(statsLine: Option[String], bounds: Seq[ColBounds]): Boolean = {
    if (bounds.isEmpty) return true
    val node = statsLine.map(jsonMapper.readTree)
    bounds.forall { b =>
      val colNode = node.flatMap(n => Option(n.get(b.column)))
      colNode match {
        case _ if b.lower.isEmpty && b.upper.isEmpty => true // no predicate
        case None => true // no stats for this column: must keep
        case Some(cn) =>
          // equality probe (lower == upper) against a recorded bloom: a
          // definite miss prunes regardless of ranges; a hit (or a value
          // type blooms don't cover) falls through to the range logic
          val bloomOk = (b.lower, b.upper) match {
            case (Some(x), Some(y)) if x == y && cn.has("bloom") =>
              renderForHash(x).forall(s => bloomBitsSet(
                base64ToLongs(cn.get("bloom").asText), s,
                Option(cn.get("bk")).map(_.asInt).getOrElse(bloomHashes)))
            case _ => true
          }
          val tag = Option(cn.get("t")).map(_.asText).getOrElse("")
          val mn = Option(cn.get("min")).map(_.asText)
          val mx = Option(cn.get("max")).map(_.asText)
          val rangeOk =
            if (mn.isEmpty || mx.isEmpty)
              // footer-backed entries ("n" present) with no min/max are
              // PROVABLY all-null -> prune; bloom-only entries carry no
              // range information -> keep
              !cn.has("n")
            else {
              val lowerOk = b.lower.flatMap(normalizeBound) match {
                case Some((bt, bv)) =>
                  // keep unless max < lower
                  cmpAcross(tag, mx.get, bt, bv).forall(_ >= 0)
                case None => true
              }
              val upperOk = b.upper.flatMap(normalizeBound) match {
                case Some((bt, bv)) =>
                  // keep unless min > upper
                  cmpAcross(tag, mn.get, bt, bv).forall(_ <= 0)
                case None => true
              }
              lowerOk && upperOk
            }
          bloomOk && rangeOk
      }
    }
  }

  /** The newest committed manifest, read whole, if the table has one. */
  private def readLatest(fs: org.apache.hadoop.fs.FileSystem,
      root: org.apache.hadoop.fs.Path): Option[Manifest] =
    latestManifest(fs, root).map(m => readManifest(fs, m._2))

  /** Read the manifest of `generation` (default: newest) — the one
    * manifest open a read, describe or rollback pays. */
  private def resolveManifest(fs: org.apache.hadoop.fs.FileSystem,
      root: org.apache.hadoop.fs.Path, generation: Option[Long],
      path: String): Manifest = generation match {
    case Some(g) =>
      val p = new org.apache.hadoop.fs.Path(
        new org.apache.hadoop.fs.Path(root, manifestsDirName),
        f"$g%020d$manifestSuffix")
      if (!fs.exists(p)) throw new java.io.IOException(
        s"$path has no manifest generation $g (vacuumed or never committed)")
      readManifest(fs, p)
    case None => readLatest(fs, root)
      .getOrElse(throw new java.io.IOException(
        s"$path has no committed manifest — not a manifested table"))
  }

  /** The table schema `m` records. A pre-`#schema=` manifest infers it
    * from its listed files exactly as `spark.read.parquet(files: _*)`
    * does, so legacy tables scan through the same index; only a
    * schema-less manifest listing no files is an error. */
  private def tableSchema(spark: org.apache.spark.sql.SparkSession,
      root: org.apache.hadoop.fs.Path,
      m: Manifest): org.apache.spark.sql.types.StructType =
    m.schemaDdl.map(org.apache.spark.sql.types.StructType.fromDDL).getOrElse {
      if (m.entries.isEmpty) throw new java.io.IOException(
        s"manifest generation ${m.gen} of $root lists no data files and " +
          "records no schema")
      spark.read.parquet(m.entries.map(l =>
        new org.apache.hadoop.fs.Path(root, entryPath(l)).toString): _*).schema
    }

  /** The scan of `entries` (some of `m`'s) under `m`'s table schema:
    * every read of listed files goes through [[graft.plans.
    * ManifestFileIndex]], which prunes files from the query's own filters
    * and takes each `FileStatus` from the recorded `__bytes`. */
  private def scan(spark: org.apache.spark.sql.SparkSession,
      root: org.apache.hadoop.fs.Path, m: Manifest,
      entries: Seq[String]): DataFrame =
    graft.plans.ManifestFileIndex.dataFrame(spark, root, entries,
      tableSchema(spark, root, m))

  /** `bounds` as the row predicate they select: inclusive ranges, and
    * `column === v` for a point (lower == upper) so the scan's pruning
    * also consults per-file blooms. No bounds selects every row. */
  private def boundsPredicate(bounds: Seq[ColBounds]): Column =
    bounds.flatMap {
      case ColBounds(c, Some(lo), Some(hi)) if lo == hi => Seq(col(c) === lit(lo))
      case ColBounds(c, lo, hi) =>
        lo.map(v => col(c) >= lit(v)) ++ hi.map(v => col(c) <= lit(v))
    }.reduceOption(_ && _).getOrElse(lit(true))

  /** Entry-count threshold above which pruning decisions are evaluated
    * DISTRIBUTED (the entry stats become a Dataset and the predicate runs
    * as a filter on executors) instead of in a driver loop. Driver-side
    * planning is O(files) and fine to ~10^5 entries (a 100 TB table at
    * 1 GB/file); past that — or under small-file ingest before compaction
    * — the Iceberg-style move is to prune the metadata with the engine
    * itself. Both paths apply the identical predicate (spec-asserted), so
    * the threshold is purely a planning-cost knob. */
  @volatile var distributedPruneThreshold: Int = 100000

  /** The manifest-stats file pruning decision, exposed for inspection:
    * (files kept after applying `bounds`, total files listed). */
  def manifestSkipFiles(spark: org.apache.spark.sql.SparkSession,
      path: String, bounds: Seq[ColBounds],
      generation: Option[Long] = None): (Seq[String], Int) = {
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val entries = resolveManifest(fs, root, generation, path).entries
    val effective = bounds.filter(b => b.lower.nonEmpty || b.upper.nonEmpty)
    val keeps = if (effective.isEmpty) Nil
                else Seq((s: Option[String]) => mayMatch(s, effective))
    (graft.plans.ManifestFileIndex.prune(spark,
      entries.map(l => entryStatsJson(l) -> entryPath(l)), keeps), entries.size)
  }

  /** Human-readable description of a manifest: generation, token, schema,
    * and each data file with its skip stats — the `show-manifest` CLI. */
  def describeManifest(spark: org.apache.spark.sql.SparkSession,
      path: String, generation: Option[Long] = None): Seq[String] = {
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val m = resolveManifest(fs, root, generation, path)
    Seq(s"generation: ${m.gen}") ++
      m.op.map(o => s"op: $o") ++
      m.token.map(t => s"token: $t") ++
      m.schemaDdl.map(s => s"schema: $s") ++
      Option.when(m.clusterCols.nonEmpty)(s"cluster: ${m.clusterCols.mkString(",")}") ++
      Option.when(m.zOrderCols.nonEmpty)(s"zorder: ${m.zOrderCols.mkString(",")}") ++
      m.entries.map { l =>
        entryStatsJson(l).map(j => s"  ${entryPath(l)}  $j")
          .getOrElse(s"  ${entryPath(l)}")
      }
  }

  /** Filtered read of a manifest-committed table: exactly
    * `readManifested(...).where(bounds)`. Files whose stats prove they
    * cannot satisfy `bounds` are skipped WITHOUT being opened — the
    * manifest-backed scan prunes them at planning from the bounds'
    * predicate — and the exact inclusive-range predicate filters the
    * survivors' rows. */
  def readManifestedWhere(spark: org.apache.spark.sql.SparkSession,
      path: String, bounds: Seq[ColBounds],
      generation: Option[Long] = None): DataFrame =
    readManifested(spark, path, generation).where(boundsPredicate(bounds))

  /** Additive schema evolution: the appended batch may ADD columns (old
    * files read them back as null via the explicit read schema) but can
    * never change an existing column's type; shared columns are matched
    * by name. Returns the evolved table schema as DDL. */
  private def evolveSchemaDdl(oldDdl: Option[String], df: DataFrame): String =
    oldDdl match {
      case None => df.schema.toDDL
      case Some(ddl) =>
        val old = org.apache.spark.sql.types.StructType.fromDDL(ddl)
        val byName = old.fields.map(f => f.name -> f).toMap
        df.schema.fields.foreach { f =>
          byName.get(f.name).foreach { g =>
            // .sql renders the type without nullability, which is exactly
            // the equality evolution needs (nullable drift is fine)
            require(g.dataType.sql == f.dataType.sql,
              s"append cannot change column '${f.name}' from " +
                s"${g.dataType.sql} to ${f.dataType.sql} — write a new " +
                "generation with writeManifested() for breaking changes")
          }
        }
        val added = df.schema.fields.filterNot(f => byName.contains(f.name))
        org.apache.spark.sql.types.StructType(old.fields ++ added).toDDL
    }

  /** Range-cluster `df` for writing: each output file covers a disjoint
    * slice of `clusterBy`, which is what makes per-file min/max stats
    * selective (an unclustered write gives every file the full value
    * range and stats prune nothing). */
  private def clustered(df: DataFrame, numFiles: Int,
                        clusterBy: Seq[String]): DataFrame =
    if (clusterBy.nonEmpty) {
      val cs = clusterBy.map(col)
      val p = if (numFiles > 0) df.repartitionByRange(numFiles, cs: _*)
              else df.repartitionByRange(cs: _*)
      p.sortWithinPartitions(cs: _*)
    } else if (numFiles > 0) df.repartition(numFiles)
    else df

  /** Apply the table's declared physical layout for a write or rewrite:
    * z-order (Morton interleave of two columns — compact (x, y)
    * rectangles per file, stats prune on EITHER dimension) wins over
    * linear range-clustering (disjoint 1-D slices). Data columns only —
    * the `__z` sort key never lands in a file. */
  private def layout(df: DataFrame, numFiles: Int,
      clusterBy: Seq[String], zOrderBy: Seq[String]): DataFrame =
    if (zOrderBy.nonEmpty) {
      require(zOrderBy.size == 2,
        s"zOrderBy wants exactly 2 columns, got ${zOrderBy.mkString(",")}")
      val z = zValue(boundedBucket(col(zOrderBy.head)),
        boundedBucket(col(zOrderBy(1))))
      val t = df.withColumn("__z", z)
      val p = if (numFiles > 0) t.repartitionByRange(numFiles, col("__z"))
              else t.repartitionByRange(col("__z"))
      p.sortWithinPartitions(col("__z")).drop("__z")
    } else clustered(df, numFiles, clusterBy)

  /** The write tail every committer shares: lay `df` out, write it into a
    * fresh data directory for generation `gen`, list the new files and
    * return their entry lines — footer stats for `statsCols`, blooms for
    * `bloomCols` (one job over the new directory), and each file's length
    * from the listing. */
  private def writeFiles(df: DataFrame, root: org.apache.hadoop.fs.Path,
      gen: Long, numFiles: Int, clusterBy: Seq[String], zOrderBy: Seq[String],
      statsCols: Seq[String], bloomCols: Seq[String],
      bloomBits: Int): Seq[String] = {
    val spark = df.sparkSession
    val conf = spark.sparkContext.hadoopConfiguration
    val dataDir = newDataDir(gen)
    val dir = new org.apache.hadoop.fs.Path(root, dataDir)
    val laid = layout(df, numFiles, clusterBy, zOrderBy)
    laid.write.parquet(dir.toString)
    val files = dir.getFileSystem(conf).listStatus(dir)
      .filter(_.getPath.getName.endsWith(".parquet")).sortBy(_.getPath.getName)
    val blooms = collectBlooms(spark, dir.toString, laid.schema, bloomCols,
      bloomBits)
    files.toSeq.map(f => entryLineFor(conf, root,
      s"$dataDir/${f.getPath.getName}", f.getLen, statsCols, blooms))
  }

  /** [[writeFiles]] for a maintenance rewrite of `base` in `next`'s
    * layout: blooms are re-collected for every column a live entry
    * carries one for, so equality skipping survives maintenance. */
  private def rewriteFiles(df: DataFrame, root: org.apache.hadoop.fs.Path,
      base: Manifest, next: Manifest, numFiles: Int,
      statsCols: Seq[String]): Seq[String] = {
    val (bCols, bBits) = inheritedBloomCols(base.entries)
    writeFiles(df, root, next.gen, numFiles, next.clusterCols,
      next.zOrderCols, statsCols, bCols, math.max(bBits, 64))
  }

  /** Create (or advance) a manifest-committed table at `path` with the
    * contents of `df`. Data lands in a fresh immutable directory; the
    * table flips to it atomically via the manifest commit. Previous
    * generations stay on disk (time travel / concurrent readers) until
    * [[vacuumManifested]]. `clusterBy` range-clusters the files so the
    * `statsCols` min/max ranges are disjoint (maximum skipping). A
    * generation race only re-targets the COMMIT (up to `maxCommitRetries`
    * times): a full write replaces the table whatever the base was, so
    * the already-written data directory is reused verbatim — last
    * replacer wins, by declared semantics. */
  def writeManifested(df: DataFrame, path: String,
                      numFiles: Int = 0, statsCols: Seq[String] = Nil,
                      clusterBy: Seq[String] = Nil,
                      bloomCols: Seq[String] = Nil,
                      bloomBits: Int = 1 << 13,
                      maxCommitRetries: Int = 5,
                      zOrderBy: Seq[String] = Nil): Unit = {
    require(clusterBy.isEmpty || zOrderBy.isEmpty,
      "clusterBy and zOrderBy are alternative layouts — declare one")
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(df.sparkSession.sparkContext.hadoopConfiguration)
    def nextGen() = latestManifest(fs, root).map(_._1 + 1).getOrElse(0L)
    val entries = writeFiles(df, root, nextGen(), numFiles, clusterBy,
      zOrderBy, statsCols, bloomCols, bloomBits)
    // a full write REPLACES the table: the new schema is df's, verbatim;
    // the declared layout (clusterBy or zOrderBy) is recorded in the
    // header so every later rewrite (compaction, CoW delete/upsert)
    // restores the same layout
    retryOnCommitRace(maxCommitRetries) {
      val gen = nextGen()
      beforeMaintenanceCommitHook()
      commitManifest(fs, root, Manifest(gen, entries,
        schemaDdl = Some(df.schema.toDDL), clusterCols = clusterBy,
        zOrderCols = zOrderBy, op = Some("write")))
    }
  }

  /** Test seam: invoked immediately before every manifest-commit attempt
    * in [[appendManifested]], so a spec can interleave a competing commit
    * into the exact race window. No-op in production. */
  @volatile private[graft] var beforeAppendCommitHook: () => Unit = () => ()

  /** Append `df` to a manifest-committed table: new data dir + a new
    * manifest listing the old live files PLUS the new ones. A repeated
    * commit with the same `token` is a NO-OP — pass the micro-batch id
    * from `foreachBatch` and a restarted streaming query cannot
    * double-append its replayed batch (the manifest layout's equivalent
    * of an idempotent sink). Token probes read the newest token
    * CHECKPOINT (covers every generation at or below it, vacuumed ones
    * included — [[vacuumManifested]] folds tokens into a checkpoint
    * before dropping manifests) plus the few manifest headers above it,
    * so the no-op holds even when other writers committed between the
    * original append and its replay, at O(checkpointInterval) object
    * reads per commit however old the table grows. Creates the table
    * when none exists. If the table records `#cluster=` columns and the
    * batch carries them all, the appended files are range-clustered the
    * same way, keeping their min/max stats selective from the first
    * commit.
    *
    * Concurrent appenders: losing a generation race costs nothing but the
    * commit itself — the data directory is already written and stays
    * valid — so the loser re-reads the new latest manifest, re-validates
    * schema evolution against it, and re-commits the SAME files at the
    * next generation, up to `maxCommitRetries` times. (On stores whose
    * single-file rename cannot fail-on-exists, racing writers additionally
    * need a conditional PUT or lock service — the standard manifest-format
    * caveat.) A retries-exhausted append leaves an orphaned data dir that
    * the next [[vacuumManifested]] removes. */
  def appendManifested(df: DataFrame, path: String, numFiles: Int = 0,
                       token: Option[String] = None,
                       statsCols: Seq[String] = Nil,
                       maxCommitRetries: Int = 5,
                       bloomCols: Seq[String] = Nil,
                       bloomBits: Int = 1 << 13,
                       clusterBy: Seq[String] = Nil): Unit = {
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(df.sparkSession.sparkContext.hadoopConfiguration)
    // the manifest the commit builds on (generation -1 for a new table),
    // or None when this batch already committed — a replay is a no-op.
    // The token scan covers every retained generation, not just the
    // newest: an interleaved appender advancing the table must not make a
    // replayed batch look uncommitted (that would double-append it)
    def state(): Option[Manifest] =
      if (token.exists(t => tokenCommitted(fs, root, t))) None
      else Some(readLatest(fs, root).getOrElse(Manifest(-1L)))
    val first = state().getOrElse(return)
    // a z-ordered table rejects a caller clusterBy outright (same
    // exclusivity writeManifested and compactManifest require) — silently
    // recording BOTH #cluster= and #zorder= would leave later maintenance
    // to resolve the conflict on its own
    require(first.zOrderCols.isEmpty || clusterBy.isEmpty,
      "clusterBy and zOrderBy are alternative layouts — declare one " +
        s"(table already declares #zorder=${first.zOrderCols.mkString(",")})")
    evolveSchemaDdl(first.schemaDdl, df) // fails fast, BEFORE writing
    // a batch carrying all of the declared layout columns (the table's
    // recorded ones, or `clusterBy` when the table declares none — e.g. a
    // streaming sink CREATING the table) lands laid out: disjoint
    // per-file ranges (or z-rectangles) within the batch; otherwise plain
    def ifCarried(cols: Seq[String]) =
      cols.filter(_ => cols.forall(df.columns.contains))
    val added = writeFiles(df, root, first.gen + 1, numFiles,
      ifCarried(if (first.clusterCols.nonEmpty) first.clusterCols else clusterBy),
      ifCarried(first.zOrderCols), statsCols, bloomCols, bloomBits)
    // old entries carry over VERBATIM (their stats suffixes included); the
    // first attempt commits on the state read before the write, and only
    // a lost race re-reads it
    var pending = Option(first)
    retryOnCommitRace(maxCommitRetries) {
      val base = pending.orElse(state())
      pending = None
      base.foreach { b =>
        beforeAppendCommitHook()
        commitManifest(fs, root, Manifest(b.gen + 1, b.entries ++ added, token,
          schemaDdl = Some(evolveSchemaDdl(b.schemaDdl, df)),
          // an existing declaration wins; a table CREATED by this append
          // adopts `clusterBy` so maintenance preserves the sink's layout.
          // A z-ordered base (possibly turned so by a racing writer after
          // the upfront require) never also records #cluster=
          clusterCols = if (b.clusterCols.nonEmpty) b.clusterCols
                        else if (b.zOrderCols.nonEmpty) Nil else clusterBy,
          zOrderCols = b.zOrderCols, op = Some("append")))
      }
    }
  }

  /** The manifest-backed relation of one resolved generation (default
    * newest): what [[readManifested]] and the `graft-manifest` batch
    * DataSource scan. */
  private[graft] def manifestedRelation(spark: org.apache.spark.sql.SparkSession,
      path: String, generation: Option[Long])
      : org.apache.spark.sql.execution.datasources.HadoopFsRelation = {
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val m = resolveManifest(fs, root, generation, path)
    graft.plans.ManifestFileIndex.relation(spark, root, m.entries,
      tableSchema(spark, root, m))
  }

  /** Read a manifest-committed table: resolve the newest manifest (or a
    * pinned `generation` — time travel across un-vacuumed history) and
    * load exactly the files it lists — in-flight or superseded data
    * directories are invisible. The scan goes through a manifest-backed
    * FileIndex: the query's OWN filter predicates reach `listFiles`
    * during physical planning and prune files via the recorded min/max
    * and bloom stats — `readManifested(...).where(...)` skips files
    * without the caller ever passing bounds. The recorded schema plans
    * the read with ZERO footer inference and null-fills columns added
    * after a file was written; an empty generation (e.g. a table created
    * from an empty batch) reads as an empty table with that schema. */
  def readManifested(spark: org.apache.spark.sql.SparkSession,
                     path: String, generation: Option[Long] = None): DataFrame =
    spark.baseRelationToDataFrame(manifestedRelation(spark, path, generation))

  /** Compact a manifest-committed table to ~`targetFileBytes` files —
    * the object-store-safe sibling of [[compact]]. New files are written
    * BESIDE the live ones and the table flips via one manifest commit;
    * no table-directory rename ever happens, so readers on any scheme
    * (including copy+delete-rename object stores) always resolve a fully
    * present generation. Superseded files survive until
    * [[vacuumManifested]]. File sizes come from the recorded `__bytes`;
    * only entries that predate it cost a `getFileStatus`.
    *
    * `onlyFilesSmallerThan` makes the compaction INCREMENTAL: only files
    * below the threshold are rewritten; bigger files' manifest entries
    * (stats included) are carried into the new generation verbatim. That
    * is the steady-state maintenance shape for a streamed-into table —
    * the small-files tail of recent batches gets folded without
    * rewriting the petabytes that are already well-sized. Fewer than two
    * qualifying files commits nothing. Losing a generation race to a
    * concurrent committer re-runs the whole compaction from the new
    * latest manifest (up to `maxCommitRetries` times) — the steady-state
    * shape is exactly a background compactor racing a streaming appender,
    * and neither may die or lose the other's files.
    * @return number of data files in the new (or unchanged) generation */
  def compactManifest(spark: org.apache.spark.sql.SparkSession, path: String,
                      targetFileBytes: Long = 128L * 1024 * 1024,
                      statsCols: Option[Seq[String]] = None,
                      clusterBy: Seq[String] = Nil,
                      onlyFilesSmallerThan: Long = Long.MaxValue,
                      maxCommitRetries: Int = 5,
                      zOrderBy: Seq[String] = Nil): Int =
      retryOnCommitRace(maxCommitRetries) {
    require(targetFileBytes > 0)
    require(clusterBy.isEmpty || zOrderBy.isEmpty,
      "clusterBy and zOrderBy are alternative layouts — declare one")
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val base = readLatest(fs, root).getOrElse(throw new java.io.IOException(
      s"$path has no committed manifest — writeManifested() it first"))
    val (smallE, largeE) = base.entries.map(l => (l, entryBytes(l).getOrElse(
        fs.getFileStatus(new org.apache.hadoop.fs.Path(root, entryPath(l))).getLen)))
      .partition(_._2 < onlyFilesSmallerThan)
    if (smallE.size < 2) return base.entries.size // nothing worth folding
    // stats survive compaction: default to every column any live entry
    // carries RANGE stats for (recollected from the NEW files' footers)
    val keepStats = statsCols.getOrElse(inheritedStatsCols(base.entries))
    // layout: an explicit zOrderBy CONVERTS the table to (or re-declares)
    // a z-order layout; an explicit clusterBy converts to linear; neither
    // → whatever the manifest header declares. Clustering restores the
    // file-range disjointness that interleaved appends erode
    val next = base.successor(base.gen + 1, "compact").copy(
      clusterCols =
        if (zOrderBy.nonEmpty) Nil
        else if (clusterBy.nonEmpty) clusterBy
        else base.clusterCols,
      zOrderCols =
        if (zOrderBy.nonEmpty) zOrderBy
        else if (clusterBy.nonEmpty) Nil
        else base.zOrderCols)
    val nFiles = math.max(1,
      math.ceil(smallE.map(_._2).sum.toDouble / targetFileBytes).toInt)
    // read through the recorded schema: an evolved table's older files
    // lack the added columns, and footer inference off one of THOSE would
    // silently drop data from the compacted generation
    val written = rewriteFiles(scan(spark, root, base, smallE.map(_._1)),
      root, base, next, nFiles, keepStats)
    beforeMaintenanceCommitHook()
    commitManifest(fs, root, next.copy(entries = largeE.map(_._1) ++ written))
    largeE.size + written.size
  }

  /** Can the bound be satisfied by EVERY row of a file with these stats?
    * Requires footer-backed range stats with zero nulls and the file's
    * [min,max] inside the bound range; incomparable or missing info is
    * never "fully covered". */
  private def fullyCovers(cn: com.fasterxml.jackson.databind.JsonNode,
                          b: ColBounds): Boolean = {
    if (b.lower.isEmpty && b.upper.isEmpty) return true
    val tag = Option(cn.get("t")).map(_.asText).getOrElse(return false)
    val mn = Option(cn.get("min")).map(_.asText).getOrElse(return false)
    val mx = Option(cn.get("max")).map(_.asText).getOrElse(return false)
    if (!Option(cn.get("n")).exists(_.asLong == 0L)) return false
    val loOk = b.lower.flatMap(normalizeBound) match {
      case Some((bt, bv)) => cmpAcross(tag, mn, bt, bv).exists(_ >= 0)
      case None           => b.lower.isEmpty
    }
    val hiOk = b.upper.flatMap(normalizeBound) match {
      case Some((bt, bv)) => cmpAcross(tag, mx, bt, bv).exists(_ <= 0)
      case None           => b.upper.isEmpty
    }
    loOk && hiOk
  }

  /** Metadata-only COUNT: how many rows satisfy `bounds`, scanning only
    * the files the manifest cannot decide. Per file: stats-disjoint
    * contributes 0; FULLY covered (every bound column's [min,max] inside
    * the range, zero nulls) contributes its recorded row count with no
    * I/O; anything else is scanned with the exact predicate. An
    * unbounded count over a fully stats'd table reads zero data files —
    * `select count(*)` from one small manifest read.
    * @return (count, files actually scanned) */
  def countManifestedWhere(spark: org.apache.spark.sql.SparkSession,
      path: String, bounds: Seq[ColBounds] = Nil,
      generation: Option[Long] = None): (Long, Int) = {
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val m = resolveManifest(fs, root, generation, path)
    var metaRows = 0L
    val undecided = scala.collection.mutable.ArrayBuffer.empty[String]
    m.entries.foreach { l =>
      val js = entryStatsJson(l)
      if (mayMatch(js, bounds)) {
        val node = js.map(jsonMapper.readTree)
        val rows = node.flatMap(n => Option(n.get(rowsKey))).map(_.asLong)
        val covered = rows.isDefined && bounds.forall { b =>
          (b.lower.isEmpty && b.upper.isEmpty) ||
            node.flatMap(n => Option(n.get(b.column)))
              .exists(cn => fullyCovers(cn, b))
        }
        if (covered) metaRows += rows.get else undecided += l
      } // else: provably zero matching rows
    }
    if (undecided.isEmpty) return (metaRows, 0)
    val scanned = scan(spark, root, m, undecided.toSeq)
      .where(boundsPredicate(bounds)).count()
    (metaRows + scanned, undecided.size)
  }

  /** (newest generation, recorded schema DDL) — the streaming change
    * source's view of the table head. One listStatus + one header read. */
  private[graft] def latestGenerationAndSchema(
      spark: org.apache.spark.sql.SparkSession,
      path: String): (Long, Option[String]) = {
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val (g, mp) = latestManifest(fs, root).getOrElse(
      throw new java.io.IOException(
        s"$path has no committed manifest — not a manifested table"))
    (g, readHeader(fs, mp).schemaDdl)
  }

  /** The rows a generation window (fromGeneration, toGeneration] ADDED —
    * the change feed under both [[readManifestedChanges]] and the
    * streaming change source. Works because data files are immutable: a
    * window's delta is exactly the files it newly lists, and offsets are
    * pinned (replay must see the same batch, so this never floats to
    * "latest"). `fromGeneration = None` is the initial snapshot: every
    * file live at `toGeneration`. A window that REMOVED files rewrote
    * history (compaction/delete/upsert/rollback) and throws unless
    * `ignoreRewrites` — with it, the window's added files are forwarded
    * anyway, which (exactly like Delta's ignoreChanges) can re-emit
    * surviving rows of rewritten files; downstream must dedup by key.
    * Both endpoints must still be retained (not vacuumed). Reads use the
    * CALLER's schema so a stream's column set stays fixed mid-run. */
  private[graft] def manifestChangesBetween(
      spark: org.apache.spark.sql.SparkSession, path: String,
      fromGeneration: Option[Long], toGeneration: Long,
      schema: org.apache.spark.sql.types.StructType,
      ignoreRewrites: Boolean = false): DataFrame = {
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val to = resolveManifest(fs, root, Some(toGeneration), path).entries
    val base = fromGeneration.map(g => resolveManifest(fs, root, Some(g), path)
      .entries.map(entryPath).toSet).getOrElse(Set.empty[String])
    val removed = base -- to.map(entryPath)
    if (removed.nonEmpty && !ignoreRewrites) throw new java.io.IOException(
      s"generations ${fromGeneration.getOrElse(-1L) + 1}..$toGeneration " +
        s"rewrote history (compaction/delete/upsert/rollback removed " +
        s"${removed.size} files) — re-read the full table and checkpoint " +
        "the new generation; a stream restarts from a fresh checkpoint, or " +
        "sets ignore-rewrites=true (surviving rows of rewritten files may " +
        "be re-emitted)")
    graft.plans.ManifestFileIndex.dataFrame(spark, root,
      to.filterNot(l => base(entryPath(l))), schema)
  }

  /** Append-only change feed: the rows added after `sinceGeneration`, as
    * one DataFrame, plus the generation to checkpoint for the next poll —
    * [[manifestChangesBetween]] up to the newest generation, under its
    * schema. A generation that REMOVED files the base listed (compaction
    * / delete / upsert rewrote history) makes per-file deltas
    * meaningless: that raises, and the consumer must re-read the full
    * table and re-checkpoint. Drive it from a poll loop or a
    * `foreachBatch`-style scheduler; the generation number is the only
    * consumer state. */
  def readManifestedChanges(spark: org.apache.spark.sql.SparkSession,
      path: String, sinceGeneration: Long): (DataFrame, Long) = {
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val latest = resolveManifest(fs, root, None, path)
    val schema = tableSchema(spark, root, latest)
    (if (latest.gen <= sinceGeneration)
       graft.plans.ManifestFileIndex.dataFrame(spark, root, Nil, schema)
     else manifestChangesBetween(spark, path, Some(sinceGeneration),
       latest.gen, schema), latest.gen)
  }

  /** Copy-on-write DELETE: remove every row satisfying all `bounds` (the
    * same inclusive-range predicate [[readManifestedWhere]] reads; rows
    * with NULL in a bound column never match and are kept). Files whose
    * stats prove they cannot contain a match are carried into the new
    * generation VERBATIM — a narrow delete on a clustered column rewrites
    * a handful of files, not the table; that is the
    * delete-one-user-from-100TB shape. Rewritten files re-collect the
    * table's stats columns; the old generation survives for time travel
    * until [[vacuumManifested]]. Losing a generation race re-runs the
    * whole delete from the new latest manifest (up to `maxCommitRetries`
    * times) — the rewrite planned against a superseded base could
    * resurrect rows or drop an interleaved append's files, so nothing of
    * the lost attempt is reused.
    * @return (files rewritten, files carried untouched) */
  def deleteManifestedWhere(spark: org.apache.spark.sql.SparkSession,
      path: String, bounds: Seq[ColBounds],
      maxCommitRetries: Int = 5): (Int, Int) =
      retryOnCommitRace(maxCommitRetries) {
    require(bounds.nonEmpty && bounds.exists(b =>
      b.lower.nonEmpty || b.upper.nonEmpty),
      "refusing an unbounded delete — use a new writeManifested() to replace a table")
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val base = readLatest(fs, root).getOrElse(throw new java.io.IOException(
      s"$path has no committed manifest — nothing to delete from"))
    val (touched, carried) = base.entries.partition(l =>
      mayMatch(entryStatsJson(l), bounds))
    if (touched.isEmpty) return (0, carried.size)
    val next = base.successor(base.gen + 1, "delete")
    // survivors are rewritten through the table's recorded cluster layout
    // (range-repartition + sort, not a hash scatter): each rewritten file
    // keeps a narrow key slice, so the stats that targeted THIS delete
    // still prune the next one — without it a clustered table degrades to
    // unclustered after the first maintenance pass
    val written = rewriteFiles(scan(spark, root, base, touched)
        // NULL in a bound column -> predicate NULL -> not a match -> keep
        .where(!coalesce(boundsPredicate(bounds), lit(false))),
      root, base, next, touched.size, inheritedStatsCols(base.entries))
    beforeMaintenanceCommitHook()
    commitManifest(fs, root, next.copy(entries = carried ++ written))
    (written.size, carried.size)
  }

  /** Copy-on-write UPSERT: rows of `updates` replace existing rows with
    * the same `keyCol` value; new keys append. Only files whose key-range
    * stats overlap the updates' [min, max] key span are rewritten (plus
    * stats-less files, which might contain anything); the rest carry
    * verbatim. Batch far-apart keys into separate upserts — one distant
    * key in a batch widens the span to cover everything between. Keys
    * must be unique within `updates` (duplicates all land, giving the
    * table two rows for that key).
    * `updates` is expected to be small relative to the table —
    * its key span is taken as two driver scalars, its distinct keys are
    * broadcast for the anti-join, and its rows are
    * unioned into one rewritten data directory. Schema evolves additively
    * exactly as in [[appendManifested]]. Losing a generation race re-runs
    * the whole upsert from the new latest manifest (up to
    * `maxCommitRetries` times), like the delete path.
    * @return (files rewritten, files carried untouched) */
  def upsertManifested(updates: DataFrame, path: String,
                       keyCol: String,
                       maxCommitRetries: Int = 5): (Int, Int) =
      retryOnCommitRace(maxCommitRetries) {
    val spark = updates.sparkSession
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val base = readLatest(fs, root).getOrElse(throw new java.io.IOException(
      s"$path has no committed manifest — writeManifested() it first"))
    // fail fast, BEFORE writing
    val next = base.successor(base.gen + 1, "upsert")
      .copy(schemaDdl = Some(evolveSchemaDdl(base.schemaDdl, updates)))
    val span = updates.agg(min(col(keyCol)), max(col(keyCol))).head()
    if (span.isNullAt(0)) return (0, base.entries.size) // no non-null update keys
    val bounds = Seq(ColBounds(keyCol, Some(span.get(0)), Some(span.get(1))))
    val (touched, carried) = base.entries.partition(l =>
      mayMatch(entryStatsJson(l), bounds))
    // survivors of the touched files (keys NOT being updated) + the updates
    val kept =
      if (touched.isEmpty) updates
      else scan(spark, root, base, touched)
        .join(broadcast(updates.select(col(keyCol)).distinct()),
          Seq(keyCol), "left_anti")
        .unionByName(updates, allowMissingColumns = true)
    // rewrite through the recorded cluster layout (see the delete path):
    // upserted key ranges stay disjoint across files, so repeated upserts
    // do not erode the skipping that targets them
    val written = rewriteFiles(kept, root, base, next,
      math.max(1, touched.size), inheritedStatsCols(base.entries))
    beforeMaintenanceCommitHook()
    commitManifest(fs, root, next.copy(entries = carried ++ written))
    (written.size, carried.size)
  }

  /** Commit log of the RETAINED generations, oldest first: one line per
    * manifest with its recorded operation, file count, token, and commit
    * instant — the table's `DESCRIBE HISTORY`. One listStatus plus one
    * read of each manifest (metadata, one small object per generation).
    */
  def historyManifested(spark: org.apache.spark.sql.SparkSession,
                        path: String): Seq[String] = {
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val md = new org.apache.hadoop.fs.Path(root, manifestsDirName)
    if (!fs.exists(md)) throw new java.io.IOException(
      s"$path has no committed manifest — not a manifested table")
    fs.listStatus(md).toSeq
      .flatMap(s => manifestGen(s.getPath.getName).map(g => (g, s)))
      .sortBy(_._1)
      .map { case (g, s) =>
        val m = readManifest(fs, s.getPath)
        val tok = m.token.map(t => s"  token=$t").getOrElse("")
        val ts = java.time.Instant.ofEpochMilli(
          m.ts.getOrElse(s.getModificationTime))
        s"gen $g  op=${m.op.getOrElse("?")}  files=${m.entries.size}$tok  committed=$ts"
      }
  }

  /** Roll the table back to `toGeneration`: commit a NEW generation that
    * lists that generation's entries (stats included) verbatim — pure
    * metadata, zero data I/O, the undo button for a bad batch. History
    * is preserved (the bad generations stay time-travelable until
    * vacuumed); change-feed consumers checkpointed past `toGeneration`
    * see "history rewritten" and must re-read, exactly as after a
    * delete. The target generation must still be retained (not
    * vacuumed).
    * @return the new generation number */
  def rollbackManifested(spark: org.apache.spark.sql.SparkSession,
      path: String, toGeneration: Long,
      maxCommitRetries: Int = 5): Long = {
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val src = resolveManifest(fs, root, Some(toGeneration), path)
    retryOnCommitRace(maxCommitRetries) {
      val gen = latestManifest(fs, root).map(_._1 + 1).getOrElse(0L)
      beforeMaintenanceCommitHook()
      commitManifest(fs, root, src.successor(gen, s"rollback:$toGeneration"))
      gen
    }
  }

  /** Delete data files no longer referenced by any RETAINED manifest,
    * plus the manifests older than the retention window. `keepHistory`
    * is the retention knob: 0 keeps only the newest generation (breaks
    * all time travel), K keeps the newest K+1 generations readable —
    * size it to the longest-running reader/change-feed consumer. Note
    * that retention also bounds the append-token memory: a streaming
    * replay older than the retained window can no longer be detected as
    * a duplicate. `tmpGraceMs` age-gates leaked `.tmp-*` commit objects:
    * only those older than the grace window are removed, so a vacuum
    * racing an IN-FLIGHT commit (whose tmp object is seconds old) cannot
    * kill it between tmp-write and rename.
    * @return number of data files deleted
    */
  def vacuumManifested(spark: org.apache.spark.sql.SparkSession,
                       path: String, keepHistory: Int = 0,
                       tmpGraceMs: Long = 3600000L): Int = {
    require(keepHistory >= 0)
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val (gen, _) = latestManifest(fs, root).getOrElse(throw new java.io.IOException(
      s"$path has no committed manifest — nothing to vacuum"))
    val cutoff = gen - keepHistory
    val md = new org.apache.hadoop.fs.Path(root, manifestsDirName)
    val live = fs.listStatus(md).toSeq
      .flatMap(s => manifestGen(s.getPath.getName).map(_ -> s.getPath))
      .filter(_._1 >= cutoff)
      .flatMap(m => readManifestEntries(fs, m._2).map(entryPath)).toSet
    var removed = 0
    fs.listStatus(root).filter(s => s.isDirectory &&
        s.getPath.getName.startsWith("data-g")).foreach { d =>
      val dirName = d.getPath.getName
      val entries = fs.listStatus(d.getPath)
      val (keep, drop) = entries
        .filter(_.getPath.getName.endsWith(".parquet"))
        .partition(e => live.contains(s"$dirName/${e.getPath.getName}"))
      drop.foreach { e => fs.delete(e.getPath, false); removed += 1 }
      if (keep.isEmpty) fs.delete(d.getPath, true) // whole superseded generation
    }
    // before dropping manifests, fold their tokens into a checkpoint at
    // the current latest generation — replay idempotence then survives
    // ANY retention window (the pre-checkpoint caveat was "vacuum
    // retention shorter than the replay horizon forgets tokens")
    if (checkpointInterval > 0 &&
        fs.listStatus(md).exists(m =>
          manifestGen(m.getPath.getName).exists(_ < cutoff)))
      writeCheckpoint(fs, root, gen)
    val newestCkpt = latestCheckpoint(fs, md).map(_._1)
    val tmpCutoff = System.currentTimeMillis() - math.max(0L, tmpGraceMs)
    fs.listStatus(md).foreach { m =>
      if (manifestGen(m.getPath.getName).exists(_ < cutoff))
        fs.delete(m.getPath, false)
      // superseded checkpoints: keep only the newest (its chain already
      // carries every older token)
      else if (checkpointGenOf(m.getPath.getName).exists(g =>
          newestCkpt.exists(_ > g)))
        fs.delete(m.getPath, false)
      // a committer that died between tmp-write and rename leaks a .tmp-*
      // object; only STALE ones are cleaned (older than the grace window)
      // — an in-flight commit's seconds-old tmp object is left alone, so
      // vacuum can never kill a live writeManifested/compact/delete/upsert
      // commit that has no retry loop
      else if (m.getPath.getName.startsWith(".tmp-") &&
               m.getModificationTime < tmpCutoff)
        fs.delete(m.getPath, false)
    }
    removed
  }
}
