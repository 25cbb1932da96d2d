package graft

import graft.operators.LayoutOps
import org.apache.spark.sql.functions._

class LayoutOpsSpec extends SparkSpec {
  import spark.implicits._

  test("zValue matches a reference bit-interleave") {
    def refZ(x: Long, y: Long): Long =
      (0 until 21).map(i =>
        (((x >> i) & 1L) << (2 * i)) | (((y >> i) & 1L) << (2 * i + 1))).sum
    val rnd = new scala.util.Random(7)
    val pairs = Seq.fill(200)((rnd.nextInt(1 << 21).toLong, rnd.nextInt(1 << 21).toLong))
    val got = pairs.toDF("x", "y")
      .select(col("x"), col("y"), LayoutOps.zValue(col("x"), col("y")).as("z"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    for ((x, y) <- pairs) assert(got((x, y)) === refZ(x, y), s"($x, $y)")
  }

  test("z-ordering clusters both dimensions: chunk bounding boxes shrink") {
    // a 64x64 grid in random order; after z-sort, consecutive chunks must
    // cover small rectangles of the grid (that is exactly what makes
    // parquet min/max stats prune on BOTH columns)
    val rnd = new scala.util.Random(11)
    val grid = rnd.shuffle((0L until 64L).flatMap(x => (0L until 64L).map(y => (x, y))))
    val sortedByZ = grid.sortBy { case (x, y) =>
      (0 until 21).map(i =>
        (((x >> i) & 1L) << (2 * i)) | (((y >> i) & 1L) << (2 * i + 1))).sum
    }
    val chunks = sortedByZ.grouped(256).toSeq // 16 chunks of a 4096-cell grid
    val avgArea = chunks.map { c =>
      val xs = c.map(_._1); val ys = c.map(_._2)
      (xs.max - xs.min + 1).toDouble * (ys.max - ys.min + 1)
    }.sum / chunks.size
    // random chunks would each span ~the whole 64x64=4096 area; z-chunks
    // of 256 cells cover exactly a 16x16=256 box on a power-of-two grid
    assert(avgArea <= 512.0, s"avg chunk area $avgArea")
  }

  test("partitioned write prunes whole directories on partition predicates") {
    import org.apache.spark.sql.functions._
    val ev = Tables.events(spark, "/root/testdata/sf0.001")
    val dir = java.nio.file.Files.createTempDirectory("graft-part").toString + "/ev"
    LayoutOps.writePartitioned(
      ev.select(col("event_id"), col("event_type"), col("value")),
      dir, "etype", col("event_type"))
    // hive-style layout on disk
    val subdirs = new java.io.File(dir).listFiles().filter(_.isDirectory)
      .map(_.getName).filter(_.startsWith("etype=")).sorted
    assert(subdirs.nonEmpty && subdirs.forall(_.contains("=")))
    // a partition-column predicate becomes a PartitionFilter (directory
    // pruning) and must NOT appear as a pushed data filter on the scan
    val back = spark.read.parquet(dir).where(col("etype") === "click")
    val plan = back.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [isnotnull(etype"), plan)
    // the FileScan line carries all filter lists; slice each bracket out
    def bracketAfter(tag: String): String = {
      val i = plan.indexOf(tag)
      if (i < 0) "" else plan.substring(i, plan.indexOf("]", i) + 1)
    }
    assert(!bracketAfter("PushedFilters:").contains("etype"),
      s"partition predicate leaked into pushed filters: $plan")
    assert(!bracketAfter("DataFilters:").contains("etype"),
      s"partition predicate leaked into data filters: $plan")
    val clicks = ev.where(col("event_type") === "click").count()
    assert(back.count() === clicks)
    org.apache.commons.io.FileUtils.deleteQuietly(
      new java.io.File(dir).getParentFile)
  }

  test("compact collapses a many-small-files table, preserving every row") {
    import org.apache.spark.sql.functions._
    val base = java.nio.file.Files.createTempDirectory("graft-compact").toString
    val path = s"$base/t"
    // 40 small files
    spark.range(20000).select(col("id"), (col("id") * 2).as("v"))
      .repartition(40).write.parquet(path)
    def parquetFiles = new java.io.File(path).listFiles()
      .count(_.getName.endsWith(".parquet"))
    assert(parquetFiles === 40)
    val before = spark.read.parquet(path).agg(sum("v"), count(lit(1))).head()
    val n = graft.operators.LayoutOps.compact(spark, path,
      targetFileBytes = 1L * 1024 * 1024)
    val after = spark.read.parquet(path).agg(sum("v"), count(lit(1))).head()
    assert(after === before, "content identical after compaction")
    assert(parquetFiles === n && n < 40, s"files: $parquetFiles (target $n)")
    assert(!new java.io.File(path + "__compacting").exists())
    assert(!new java.io.File(path + "__precompact").exists())
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(base))
  }

  test("compact refuses object-store schemes whose rename is not atomic") {
    // the rename-swap commit would be a copy+delete on these — the guard
    // must fire BEFORE any filesystem call (no s3a client is even loadable
    // here, which itself proves the check precedes FS resolution)
    for (uri <- Seq("s3a://bucket/table", "gs://bucket/table", "abfss://c@a/table")) {
      val e = intercept[IllegalArgumentException] {
        LayoutOps.compact(spark, uri)
      }
      assert(e.getMessage.contains("not atomic"), uri)
    }
  }

  test("rename-swap compact loses the table on a non-atomic-rename FS; " +
      "the manifest-committed layout survives it") {
    val conf = spark.sparkContext.hadoopConfiguration
    conf.set("fs.faux.impl", classOf[FauxCopyDeleteFileSystem].getName)
    val base = java.nio.file.Files.createTempDirectory("graft-manifest").toString
    try {
      // -- the hazard the scheme guard can't fully close: an UNKNOWN
      // object-store-like scheme slips past the known-scheme list, and the
      // swap's second rename dies mid copy+delete → the table path is GONE
      val plain = s"faux://$base/plain"
      spark.range(1000).toDF("id").repartition(8).write.parquet(plain)
      FauxCopyDeleteFileSystem.failRenameTo = Some(s"$base/plain")
      intercept[java.io.IOException] {
        LayoutOps.compact(spark, plain, targetFileBytes = 1L * 1024 * 1024)
      }
      assert(!new java.io.File(s"$base/plain").exists(),
        "demonstrates the data-loss window: the table path vanished")
      FauxCopyDeleteFileSystem.failRenameTo = None

      // -- the fix: the manifested layout never renames the table dir, so
      // the same broken rename (armed on the table root throughout) is
      // never exercised; every commit is one new immutable manifest object
      val mt = s"faux://$base/mt"
      FauxCopyDeleteFileSystem.failRenameTo = Some(s"$base/mt")
      val df = spark.range(2000).select(col("id"), (col("id") * 3).as("v"))
      LayoutOps.writeManifested(df, mt, numFiles = 16)
      val before = LayoutOps.readManifested(spark, mt)
        .agg(sum("v"), count(lit(1))).head()
      val n = LayoutOps.compactManifest(spark, mt,
        targetFileBytes = 4L * 1024 * 1024)
      assert(n < 16, s"compacted to $n files")
      val after = LayoutOps.readManifested(spark, mt)
        .agg(sum("v"), count(lit(1))).head()
      assert(after === before, "content identical through the manifest flip")
      // both generations coexist until vacuum (concurrent readers of the
      // old manifest stay consistent)
      def dataDirs = new java.io.File(s"$base/mt").listFiles()
        .filter(_.getName.startsWith("data-g"))
      assert(dataDirs.length === 2)
      val removed = LayoutOps.vacuumManifested(spark, mt)
      assert(removed === 16, s"vacuum removed $removed superseded files")
      assert(dataDirs.length === 1)
      assert(LayoutOps.readManifested(spark, mt)
        .agg(sum("v"), count(lit(1))).head() === after)
    } finally {
      FauxCopyDeleteFileSystem.failRenameTo = None
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(base))
    }
  }

  test("manifested append: generations accumulate, tokens are idempotent, " +
      "time travel reads pinned generations") {
    val base = java.nio.file.Files.createTempDirectory("graft-append").toString
    val mt = s"$base/t"
    try {
      import spark.implicits._
      LayoutOps.appendManifested(Seq(1L, 2L).toDF("id"), mt,
        token = Some("batch-0"))
      LayoutOps.appendManifested(Seq(3L).toDF("id"), mt, token = Some("batch-1"))
      // replay of batch-1 (a restarted stream re-running its last batch)
      // must commit NOTHING
      LayoutOps.appendManifested(Seq(3L).toDF("id"), mt, token = Some("batch-1"))
      LayoutOps.appendManifested(Seq(4L, 5L).toDF("id"), mt,
        token = Some("batch-2"))
      val ids = LayoutOps.readManifested(spark, mt)
        .collect().map(_.getLong(0)).sorted
      assert(ids.toSeq === Seq(1L, 2L, 3L, 4L, 5L),
        "replayed batch must not double-append")
      // time travel: generation 1 = batches 0+1
      assert(LayoutOps.readManifested(spark, mt, generation = Some(1L))
        .collect().map(_.getLong(0)).sorted.toSeq === Seq(1L, 2L, 3L))
      // compaction preserves append history semantics going forward
      val n = LayoutOps.compactManifest(spark, mt)
      assert(LayoutOps.readManifested(spark, mt)
        .collect().map(_.getLong(0)).sorted.toSeq === Seq(1L, 2L, 3L, 4L, 5L))
      assert(n >= 1)
      LayoutOps.vacuumManifested(spark, mt)
      intercept[java.io.IOException] {
        LayoutOps.readManifested(spark, mt, generation = Some(1L))
      }
    } finally org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(base))
  }

  test("manifest stats skip files a range predicate cannot match, " +
      "and the pruned read is exactly the filtered read") {
    import graft.operators.LayoutOps.ColBounds
    val base = java.nio.file.Files.createTempDirectory("graft-skip").toString
    val mt = s"$base/t"
    try {
      // range-sorted by id so each of the 8 files covers a disjoint slice
      val df = spark.range(8000)
        .select(col("id"), (col("id") % 97).cast("double").as("v"),
          concat(lit("u"), lpad(col("id").cast("string"), 6, "0")).as("name"))
        .repartitionByRange(8, col("id")).sortWithinPartitions("id")
      LayoutOps.writeManifested(df, mt, statsCols = Seq("id", "name"))

      // a narrow id range must keep ~1 of 8 files
      val bounds = Seq(ColBounds("id", Some(2100L), Some(2200L)))
      val (kept, total) = LayoutOps.manifestSkipFiles(spark, mt, bounds)
      assert(total === 8)
      assert(kept.size <= 2, s"kept ${kept.size} of $total: $kept")

      val pruned = LayoutOps.readManifestedWhere(spark, mt, bounds)
      val full = LayoutOps.readManifested(spark, mt)
        .where(col("id") >= 2100L && col("id") <= 2200L)
      assert(pruned.collect().map(_.getLong(0)).sorted.toSeq ===
        full.collect().map(_.getLong(0)).sorted.toSeq)
      assert(pruned.count() === 101)

      // string stats prune too (lexicographic order == id order by padding)
      val (keptS, _) = LayoutOps.manifestSkipFiles(spark, mt,
        Seq(ColBounds("name", Some("u002100"), Some("u002200"))))
      assert(keptS.size <= 2, s"string bounds kept $keptS")

      // a range beyond the data prunes EVERYTHING yet keeps the schema
      val none = LayoutOps.readManifestedWhere(spark, mt,
        Seq(ColBounds("id", Some(999999L), None)))
      assert(none.count() === 0)
      assert(none.columns.toSeq === Seq("id", "v", "name"))

      // clusterBy does the range-sort for the caller: an UNSORTED df
      // written with clusterBy prunes just as hard
      val mt2 = s"$base/t2"
      LayoutOps.writeManifested(
        spark.range(8000).select((col("id") * 2654435761L % 8000).as("id")),
        mt2, numFiles = 8, statsCols = Seq("id"), clusterBy = Seq("id"))
      val (keptC, totalC) = LayoutOps.manifestSkipFiles(spark, mt2,
        Seq(ColBounds("id", Some(100L), Some(200L))))
      assert(totalC === 8 && keptC.size <= 2, s"clusterBy prunes: $keptC")
    } finally org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(base))
  }

  test("manifest stats: appends without stats stay readable and un-pruned; " +
      "compaction re-collects stats automatically") {
    import graft.operators.LayoutOps.ColBounds
    val base = java.nio.file.Files.createTempDirectory("graft-skip2").toString
    val mt = s"$base/t"
    try {
      import spark.implicits._
      LayoutOps.appendManifested(
        Seq(1L, 2L, 3L).toDF("id"), mt, statsCols = Seq("id"))
      // no statsCols: this file must never be pruned, whatever the bounds
      LayoutOps.appendManifested(Seq(100L).toDF("id"), mt)
      LayoutOps.appendManifested(
        Seq(200L, 201L).toDF("id"), mt, statsCols = Seq("id"))

      val bounds = Seq(ColBounds("id", Some(150L), Some(250L)))
      val (kept, total) = LayoutOps.manifestSkipFiles(spark, mt, bounds)
      assert(kept.size < total, "the [1,3] file must be pruned")
      val got = LayoutOps.readManifestedWhere(spark, mt, bounds)
        .collect().map(_.getLong(0)).sorted.toSeq
      assert(got === Seq(200L, 201L),
        "stats-less file read but filtered; stats files pruned or filtered")

      // compaction derives the stats columns from the live manifest
      LayoutOps.compactManifest(spark, mt, targetFileBytes = 1L)
      val (kept2, total2) = LayoutOps.manifestSkipFiles(spark, mt, bounds)
      assert(kept2.size < total2,
        s"stats must survive compaction (kept ${kept2.size}/$total2)")
      assert(LayoutOps.readManifestedWhere(spark, mt, bounds)
        .collect().map(_.getLong(0)).sorted.toSeq === Seq(200L, 201L))
    } finally org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(base))
  }

  test("manifest stats: all-null files prune under a range, nulls in mixed " +
      "files are filtered not lost, timestamp and date bounds compare") {
    import graft.operators.LayoutOps.ColBounds
    val base = java.nio.file.Files.createTempDirectory("graft-skip3").toString
    val mt = s"$base/t"
    try {
      import spark.implicits._
      val allNull = Seq((1L, None: Option[Double]), (2L, None))
        .toDF("id", "v")
      val mixed = Seq((3L, Some(5.0): Option[Double]), (4L, None))
        .toDF("id", "v")
      LayoutOps.appendManifested(allNull, mt, numFiles = 1, statsCols = Seq("v"))
      LayoutOps.appendManifested(mixed, mt, numFiles = 1, statsCols = Seq("v"))
      val bounds = Seq(ColBounds("v", Some(0.0), Some(10.0)))
      val (kept, total) = LayoutOps.manifestSkipFiles(spark, mt, bounds)
      assert(total === 2 && kept.size === 1, s"all-null file prunes: $kept")
      assert(LayoutOps.readManifestedWhere(spark, mt, bounds)
        .collect().map(_.getLong(0)).toSeq === Seq(3L))

      // timestamps: bounds given as java.sql.Timestamp against parquet
      // int64 timestamp stats. Spark's LEGACY default writes INT96, which
      // has NO footer stats — pruning must then keep every file (the r5
      // near-miss: "no min/max" must read as unknown, not all-null)
      val ev = Tables.events(spark, "/root/testdata/sf0.001")
        .select(col("event_id"), col("ts"))
        .repartitionByRange(4, col("ts")).sortWithinPartitions("ts")
      val lohi = ev.agg(min("ts"), max("ts")).head()
      val lo = lohi.getTimestamp(0); val hi = lohi.getTimestamp(1)
      val mid = new java.sql.Timestamp(lo.getTime + (hi.getTime - lo.getTime) / 8)
      val tb = Seq(ColBounds("ts", None, Some(mid)))
      val expected = ev.where(col("ts") <= lit(mid)).count()

      val tsTypeKey = "spark.sql.parquet.outputTimestampType"
      val prev = spark.conf.get(tsTypeKey)
      val legacy = s"$base/ts96"
      try {
        spark.conf.set(tsTypeKey, "INT96")
        LayoutOps.writeManifested(ev, legacy, statsCols = Seq("ts"))
        val (kept96, total96) = LayoutOps.manifestSkipFiles(spark, legacy, tb)
        assert(kept96.size === total96, "INT96 has no stats: nothing prunes")
        assert(LayoutOps.readManifestedWhere(spark, legacy, tb).count() === expected)

        // written as TIMESTAMP_MICROS, the same table prunes
        spark.conf.set(tsTypeKey, "TIMESTAMP_MICROS")
        val ts = s"$base/ts64"
        LayoutOps.writeManifested(ev, ts, statsCols = Seq("ts"))
        val (keptT, totalT) = LayoutOps.manifestSkipFiles(spark, ts, tb)
        assert(keptT.size < totalT, s"timestamp prune: $keptT of $totalT")
        assert(LayoutOps.readManifestedWhere(spark, ts, tb).count() === expected)
      } finally spark.conf.set(tsTypeKey, prev)
    } finally org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(base))
  }

  test("manifested schema evolution: additive append null-fills old files, " +
      "type changes refuse, reads plan from the recorded schema") {
    val base = java.nio.file.Files.createTempDirectory("graft-evolve").toString
    val mt = s"$base/t"
    try {
      import spark.implicits._
      LayoutOps.appendManifested(Seq((1L, "a"), (2L, "b")).toDF("id", "s"), mt)
      // additive: a new column appears; old files read it back as null
      LayoutOps.appendManifested(
        Seq((3L, "c", 0.5)).toDF("id", "s", "score"), mt)
      val t = LayoutOps.readManifested(spark, mt)
      assert(t.columns.toSeq === Seq("id", "s", "score"))
      val rows = t.orderBy("id").collect()
        .map(r => (r.getLong(0), r.getString(1),
          if (r.isNullAt(2)) None else Some(r.getDouble(2))))
      assert(rows.toSeq === Seq((1L, "a", None), (2L, "b", None),
        (3L, "c", Some(0.5))))
      // a batch MISSING a column also null-fills (columns matched by name)
      LayoutOps.appendManifested(Seq(Tuple1(4L)).toDF("id"), mt)
      assert(LayoutOps.readManifested(spark, mt).where(col("id") === 4L)
        .head().isNullAt(1))
      // breaking: same name, different type → refused BEFORE any write
      val dirsBefore = new java.io.File(mt).listFiles()
        .count(_.getName.startsWith("data-g"))
      val e = intercept[IllegalArgumentException] {
        LayoutOps.appendManifested(Seq((5L, 9L)).toDF("id", "s"), mt)
      }
      assert(e.getMessage.contains("cannot change column 's'"), e.getMessage)
      assert(new java.io.File(mt).listFiles()
        .count(_.getName.startsWith("data-g")) === dirsBefore,
        "failed evolution must not leave a data directory behind")
      // compaction reads through the union schema and preserves it
      LayoutOps.compactManifest(spark, mt, targetFileBytes = 1L)
      val c = LayoutOps.readManifested(spark, mt)
      assert(c.columns.toSeq === Seq("id", "s", "score"))
      assert(c.count() === 4)
      assert(c.where(col("score").isNotNull).count() === 1)
    } finally org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(base))
  }

  test("concurrent append: the commit-race loser re-reads and re-commits " +
      "its already-written files at the next generation") {
    val base = java.nio.file.Files.createTempDirectory("graft-race").toString
    val mt = s"$base/t"
    try {
      import spark.implicits._
      LayoutOps.appendManifested(Seq(1L).toDF("id"), mt)
      // a competing writer lands EXACTLY in the race window: after our
      // appender computed its target generation, before its commit
      var fired = false
      LayoutOps.beforeAppendCommitHook = () => {
        if (!fired) {
          fired = true
          LayoutOps.appendManifested(Seq(100L).toDF("id"), mt)
        }
      }
      LayoutOps.appendManifested(Seq(2L).toDF("id"), mt)
      assert(fired)
      assert(LayoutOps.readManifested(spark, mt)
        .collect().map(_.getLong(0)).sorted.toSeq === Seq(1L, 2L, 100L),
        "both racing batches must be visible, none duplicated")
      // with retries disabled the same race surfaces as the documented error
      var fired2 = false
      LayoutOps.beforeAppendCommitHook = () => {
        if (!fired2) {
          fired2 = true
          LayoutOps.appendManifested(Seq(200L).toDF("id"), mt) // wins the race
        }
      }
      val e = intercept[java.io.IOException] {
        LayoutOps.appendManifested(Seq(3L).toDF("id"), mt, maxCommitRetries = 0)
      }
      assert(e.getMessage.contains("committed concurrently"))
      LayoutOps.beforeAppendCommitHook = () => ()
      // the losing append's data dir is orphaned; vacuum removes it
      val removed = LayoutOps.vacuumManifested(spark, mt)
      assert(removed >= 1, s"vacuum must clear the orphaned loser dir ($removed)")
      assert(LayoutOps.readManifested(spark, mt)
        .collect().map(_.getLong(0)).sorted.toSeq === Seq(1L, 2L, 100L, 200L))
    } finally {
      LayoutOps.beforeAppendCommitHook = () => ()
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(base))
    }
  }

  test("incremental compaction folds only the small-files tail and carries " +
      "big files' entries (stats included) verbatim") {
    import graft.operators.LayoutOps.ColBounds
    val base = java.nio.file.Files.createTempDirectory("graft-inc").toString
    val mt = s"$base/t"
    try {
      import spark.implicits._
      // one well-sized file, then a tail of tiny appended batches
      LayoutOps.writeManifested(
        spark.range(200000).toDF("id"), mt, numFiles = 1,
        statsCols = Seq("id"), clusterBy = Seq("id"))
      for (i <- 0 until 4)
        LayoutOps.appendManifested(
          Seq(1000000L + i).toDF("id"), mt, statsCols = Seq("id"))
      val bigLine = LayoutOps.describeManifest(spark, mt)
        .find(l => l.contains("data-g0-")).get
      val bigLen = new java.io.File(
        s"$mt/${bigLine.trim.split("\\s+").head}").length
      val n = LayoutOps.compactManifest(spark, mt,
        targetFileBytes = 64L * 1024 * 1024, onlyFilesSmallerThan = bigLen)
      assert(n === 2, s"big file + one folded tail file, got $n")
      val desc = LayoutOps.describeManifest(spark, mt)
      assert(desc.exists(_ == bigLine),
        s"big entry carried verbatim with its stats:\n${desc.mkString("\n")}")
      assert(LayoutOps.readManifested(spark, mt).count() === 200004)
      // the carried stats still prune: a range inside the tail's ids
      // skips the big file
      val (kept, total) = LayoutOps.manifestSkipFiles(spark, mt,
        Seq(ColBounds("id", Some(1000000L), None)))
      assert(total === 2 && kept.size === 1, s"$kept of $total")
      // fewer than two qualifying files: nothing commits
      val before = LayoutOps.describeManifest(spark, mt).head
      assert(LayoutOps.compactManifest(spark, mt,
        onlyFilesSmallerThan = 1L) === 2)
      assert(LayoutOps.describeManifest(spark, mt).head === before,
        "no-op incremental compaction must not advance the generation")
    } finally org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(base))
  }

  test("copy-on-write delete rewrites only the stats-overlapping files; " +
      "the old generation still time-travels") {
    import graft.operators.LayoutOps.ColBounds
    val base = java.nio.file.Files.createTempDirectory("graft-del").toString
    val mt = s"$base/t"
    try {
      LayoutOps.writeManifested(
        spark.range(8000).select(col("id"), (col("id") * 2).as("v")),
        mt, numFiles = 8, statsCols = Seq("id"), clusterBy = Seq("id"))
      val (rw, carried) = LayoutOps.deleteManifestedWhere(spark, mt,
        Seq(ColBounds("id", Some(2100L), Some(2200L))))
      assert(rw <= 2 && carried >= 6, s"rewrote $rw, carried $carried")
      val t = LayoutOps.readManifested(spark, mt)
      assert(t.count() === 8000 - 101)
      assert(t.where(col("id").between(2100, 2200)).count() === 0)
      assert(t.where(col("id") === 2099L).head().getLong(1) === 4198L,
        "neighboring rows survive with their values")
      // the pre-delete generation is still readable until vacuum
      assert(LayoutOps.readManifested(spark, mt, generation = Some(0L))
        .count() === 8000)
      // carried entries kept their stats: a later bounded read still prunes
      val (kept, total) = LayoutOps.manifestSkipFiles(spark, mt,
        Seq(ColBounds("id", Some(7000L), Some(7100L))))
      assert(kept.size < total)
      // an effectively unbounded delete is refused
      intercept[IllegalArgumentException] {
        LayoutOps.deleteManifestedWhere(spark, mt, Seq(ColBounds("id")))
      }
      // a delete whose range no file can contain commits NOTHING
      val genBefore = LayoutOps.describeManifest(spark, mt).head
      assert(LayoutOps.deleteManifestedWhere(spark, mt,
        Seq(ColBounds("id", Some(999999L), Some(999999L))))._1 === 0)
      assert(LayoutOps.describeManifest(spark, mt).head === genBefore)
    } finally org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(base))
  }

  test("copy-on-write upsert replaces matching keys, appends new ones, " +
      "and touches only key-overlapping files") {
    val base = java.nio.file.Files.createTempDirectory("graft-ups").toString
    val mt = s"$base/t"
    try {
      import spark.implicits._
      LayoutOps.writeManifested(
        spark.range(8000).select(col("id"), (col("id") * 2).as("v")),
        mt, numFiles = 8, statsCols = Seq("id"), clusterBy = Seq("id"))
      // a tight key cluster touches only its files (a far-out key in the
      // same batch would widen the span — batch distant keys separately)
      val updates = (2100L to 2105L).map(i => (i, -1L)).toDF("id", "v")
      val (rw, carried) = LayoutOps.upsertManifested(updates, mt, "id")
      assert(carried >= 6, s"rewrote $rw, carried $carried")
      // a brand-new key beyond every file's range: zero rewrites, pure append
      val (rwNew, carriedNew) =
        LayoutOps.upsertManifested(Seq((99999L, 7L)).toDF("id", "v"), mt, "id")
      assert(rwNew === 1 && carriedNew >= 7, s"($rwNew, $carriedNew)")
      val t = LayoutOps.readManifested(spark, mt)
      assert(t.count() === 8001, "6 replaced in place, 1 appended")
      assert(t.where(col("id").between(2100L, 2105L))
        .collect().map(_.getLong(1)).toSet === Set(-1L))
      assert(t.where(col("id") === 2106L).head().getLong(1) === 4212L)
      assert(t.where(col("id") === 99999L).head().getLong(1) === 7L)
      // upsert with an added column evolves the schema additively
      val upd2 = Seq((2100L, -2L, "patched")).toDF("id", "v", "note")
      LayoutOps.upsertManifested(upd2, mt, "id")
      val t2 = LayoutOps.readManifested(spark, mt)
      assert(t2.columns.toSeq === Seq("id", "v", "note"))
      assert(t2.where(col("note").isNotNull).count() === 1)
      assert(t2.where(col("id") === 2100L).head().getLong(1) === -2L)
      assert(t2.count() === 8001)
    } finally org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(base))
  }

  test("append-only change feed: per-generation deltas, empty when caught " +
      "up, raises when history was rewritten") {
    val base = java.nio.file.Files.createTempDirectory("graft-cdc").toString
    val mt = s"$base/t"
    try {
      import spark.implicits._
      LayoutOps.appendManifested(Seq(1L, 2L).toDF("id"), mt)
      LayoutOps.appendManifested(Seq(3L).toDF("id"), mt)
      LayoutOps.appendManifested(Seq(4L, 5L).toDF("id"), mt)
      val (d01, g1) = LayoutOps.readManifestedChanges(spark, mt, 0L)
      assert(g1 === 2L)
      assert(d01.collect().map(_.getLong(0)).sorted.toSeq === Seq(3L, 4L, 5L),
        "delta excludes the base generation's rows")
      val (d2, g2) = LayoutOps.readManifestedChanges(spark, mt, g1)
      assert(g2 === g1 && d2.count() === 0, "caught up: empty delta")
      assert(d2.columns.toSeq === Seq("id"), "empty delta keeps the schema")
      // more appends resume from the checkpointed generation
      LayoutOps.appendManifested(Seq(6L).toDF("id"), mt)
      val (d3, g3) = LayoutOps.readManifestedChanges(spark, mt, g2)
      assert(g3 === 3L &&
        d3.collect().map(_.getLong(0)).toSeq === Seq(6L))
      // compaction rewrites history: the feed must refuse, not mis-read
      LayoutOps.compactManifest(spark, mt, targetFileBytes = 1L)
      val e = intercept[java.io.IOException] {
        LayoutOps.readManifestedChanges(spark, mt, g3)
      }
      assert(e.getMessage.contains("rewrote history"), e.getMessage)
      // re-sync: read full table, checkpoint latest, resume cleanly
      val (_, g4) = LayoutOps.readManifestedChanges(spark, mt, 4L)
      assert(g4 === 4L)
    } finally org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(base))
  }

  test("skipping soundness: 60 random bound sets over nullable mixed-type " +
      "data — pruned read always equals the full filtered read") {
    import graft.operators.LayoutOps.ColBounds
    val base = java.nio.file.Files.createTempDirectory("graft-sound").toString
    val mt = s"$base/t"
    try {
      // nullable double + string columns, long key, written UNclustered so
      // file ranges overlap (the adversarial case for pruning logic)
      val df = spark.range(4000).select(col("id"),
        when(col("id") % 7 =!= 0, (col("id") % 251).cast("double")).as("v"),
        when(col("id") % 11 =!= 0,
          concat(lit("k"), lpad((col("id") % 997).cast("string"), 4, "0")))
          .as("s"))
      LayoutOps.writeManifested(df, mt, numFiles = 6,
        statsCols = Seq("id", "v", "s"))
      val full = LayoutOps.readManifested(spark, mt)
      val rnd = new scala.util.Random(42)
      for (i <- 0 until 60) {
        val bounds = rnd.nextInt(3) match {
          case 0 =>
            val a = rnd.nextInt(5000).toLong - 500
            Seq(ColBounds("id", Some(a), Some(a + rnd.nextInt(800).toLong)))
          case 1 =>
            val a = rnd.nextInt(300).toDouble - 20
            Seq(ColBounds("v", Some(a), Some(a + rnd.nextInt(60))),
              ColBounds("id", None, Some(rnd.nextInt(5000).toLong)))
          case 2 =>
            val a = f"k${rnd.nextInt(1100)}%04d"
            val b = f"k${rnd.nextInt(1100)}%04d"
            Seq(ColBounds("s", Some(Seq(a, b).min), Some(Seq(a, b).max)))
        }
        val expect = bounds.flatMap { b =>
          b.lower.map(v => col(b.column) >= lit(v)) ++
            b.upper.map(v => col(b.column) <= lit(v))
        }.reduce(_ && _)
        val got = LayoutOps.readManifestedWhere(spark, mt, bounds).count()
        val want = full.where(expect).count()
        assert(got === want, s"case $i bounds=$bounds")
      }

      // the same soundness must survive table MAINTENANCE: delete a range,
      // upsert a batch, fold the small-files tail — then re-probe
      import spark.implicits._
      LayoutOps.deleteManifestedWhere(spark, mt,
        Seq(ColBounds("id", Some(700L), Some(900L))))
      LayoutOps.upsertManifested(
        (100L to 120L).map(i => (i, Some(9999.0): Option[Double],
          Some("zz"): Option[String])).toDF("id", "v", "s"), mt, "id")
      LayoutOps.compactManifest(spark, mt, targetFileBytes = 32L * 1024,
        onlyFilesSmallerThan = 64L * 1024)
      val mutated = LayoutOps.readManifested(spark, mt)
      for (i <- 0 until 30) {
        val a = rnd.nextInt(4500).toLong
        val bounds = Seq(ColBounds("id", Some(a), Some(a + rnd.nextInt(900))))
        val expect = col("id") >= bounds.head.lower.get &&
          col("id") <= bounds.head.upper.get
        assert(LayoutOps.readManifestedWhere(spark, mt, bounds).count() ===
          mutated.where(expect).count(), s"post-maintenance case $i $bounds")
      }
      assert(mutated.where(col("id").between(700L, 900L)).count() === 0)
      assert(mutated.where(col("v") === 9999.0).count() === 21)
    } finally org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(base))
  }

  test("bloom skipping: equality probes on an UNCLUSTERED column prune " +
      "files with zero false negatives; range bounds ignore bloom-only stats") {
    import graft.operators.LayoutOps.ColBounds
    val base = java.nio.file.Files.createTempDirectory("graft-bloom").toString
    val mt = s"$base/t"
    try {
      // k and s scatter across id order, so after clustering by id every
      // file's [min,max] on them covers ~the whole domain — min/max stats
      // are structurally useless here; only the bloom can prune
      val df = spark.range(6000).select(col("id"),
        ((col("id") * 2654435761L) % 997).as("k"),
        concat(lit("u"), ((col("id") * 48271L) % 499).cast("string")).as("s"))
      LayoutOps.writeManifested(df, mt, numFiles = 6,
        statsCols = Seq("id", "k"), clusterBy = Seq("id"),
        bloomCols = Seq("k", "s"))
      val full = LayoutOps.readManifested(spark, mt)

      var anyPruned = false
      for (v <- 0L until 30L) {
        val bounds = Seq(ColBounds("k", Some(v), Some(v)))
        val got = LayoutOps.readManifestedWhere(spark, mt, bounds).count()
        assert(got === full.where(col("k") === v).count(),
          s"no false negatives for k=$v")
        val (kept, total) = LayoutOps.manifestSkipFiles(spark, mt, bounds)
        if (kept.size < total) anyPruned = true
      }
      // pruning odds per probe depend on the file layout, and
      // repartitionByRange SAMPLES its boundaries (run-order-dependent
      // seed), so a pathological layout can survive the 30 probes above
      // (seen once in a full-suite run). Sweep the rest of the domain
      // before concluding, and if genuinely nothing prunes, fail with the
      // layout that produced it.
      var v = 30L
      while (!anyPruned && v < 997L) {
        val (kept, total) = LayoutOps.manifestSkipFiles(spark, mt,
          Seq(ColBounds("k", Some(v), Some(v))))
        if (kept.size < total) anyPruned = true
        v += 1
      }
      if (!anyPruned) {
        val perFile = full.groupBy(input_file_name())
          .agg(count(lit(1)), countDistinct(col("k"))).collect()
          .map(r => s"${r.getLong(1)} rows/${r.getLong(2)} distinct k")
        fail("no k value pruned any file; layout: " + perFile.mkString("; "))
      }

      // absent value: bloom prunes (essentially) everything, result empty
      val absent = Seq(ColBounds("k", Some(999999L), Some(999999L)))
      assert(LayoutOps.readManifestedWhere(spark, mt, absent).count() === 0)
      assert(LayoutOps.manifestSkipFiles(spark, mt, absent)._1.size < 6,
        "an absent key must not open every file")

      // string bloom probes
      val sb = Seq(ColBounds("s", Some("u7"), Some("u7")))
      assert(LayoutOps.readManifestedWhere(spark, mt, sb).count() ===
        full.where(col("s") === "u7").count())

      // s is bloom-ONLY (no footer stats): a RANGE bound on it must not
      // prune (no range info != all-null) and must return the exact rows
      val sr = Seq(ColBounds("s", Some("u10"), Some("u11")))
      val (keptR, totalR) = LayoutOps.manifestSkipFiles(spark, mt, sr)
      assert(keptR.size === totalR, "bloom-only stats carry no range info")
      assert(LayoutOps.readManifestedWhere(spark, mt, sr).count() ===
        full.where(col("s") >= "u10" && col("s") <= "u11").count())

      // blooms survive compaction
      LayoutOps.compactManifest(spark, mt, targetFileBytes = 8L * 1024)
      val (keptC, totalC) = LayoutOps.manifestSkipFiles(spark, mt, absent)
      assert(totalC > 1 && keptC.size < totalC,
        s"recollected blooms still prune: $keptC of $totalC")
    } finally org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(base))
  }

  test("metadata-only count: covered files never scanned, boundary files " +
      "scanned exactly, null and stats-less files handled") {
    import graft.operators.LayoutOps.ColBounds
    val base = java.nio.file.Files.createTempDirectory("graft-cnt").toString
    val mt = s"$base/t"
    try {
      import spark.implicits._
      val df = spark.range(8000).select(col("id"),
        when(col("id") % 13 =!= 0, col("id")).as("nid")) // nid has nulls
      LayoutOps.writeManifested(df, mt, numFiles = 8,
        statsCols = Seq("id", "nid"), clusterBy = Seq("id"))
      val full = LayoutOps.readManifested(spark, mt)

      // unbounded count: pure metadata
      val (total, s0) = LayoutOps.countManifestedWhere(spark, mt)
      assert(total === 8000 && s0 === 0)
      // interior range: ends scanned, middle files counted from metadata
      val b = Seq(ColBounds("id", Some(1500L), Some(6500L)))
      val (n1, s1) = LayoutOps.countManifestedWhere(spark, mt, b)
      assert(n1 === 5001)
      assert(s1 <= 2, s"only boundary files scanned, got $s1")
      // a column WITH nulls is never 'fully covered' (count must exclude
      // null rows), so those files scan — but the answer stays exact
      val bn = Seq(ColBounds("nid", Some(1500L), Some(6500L)))
      val (n2, _) = LayoutOps.countManifestedWhere(spark, mt, bn)
      assert(n2 === full.where(col("nid").between(1500L, 6500L)).count())
      // stats-less files always scan, still exact
      LayoutOps.appendManifested(Seq(9000L).toDF("id"), mt)
      val (n3, s3) = LayoutOps.countManifestedWhere(spark, mt)
      assert(n3 === 8001 && s3 === 1)
    } finally org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(base))
  }

  test("vacuum retention: keepHistory generations stay readable") {
    val base = java.nio.file.Files.createTempDirectory("graft-ret").toString
    val mt = s"$base/t"
    try {
      import spark.implicits._
      LayoutOps.appendManifested(Seq(1L).toDF("id"), mt)  // gen 0
      LayoutOps.appendManifested(Seq(2L).toDF("id"), mt)  // gen 1
      LayoutOps.appendManifested(Seq(3L).toDF("id"), mt)  // gen 2
      LayoutOps.vacuumManifested(spark, mt, keepHistory = 1)
      // gen 1 retained (readable), gen 0 vacuumed
      assert(LayoutOps.readManifested(spark, mt, generation = Some(1L))
        .collect().map(_.getLong(0)).sorted.toSeq === Seq(1L, 2L))
      intercept[java.io.IOException] {
        LayoutOps.readManifested(spark, mt, generation = Some(0L))
      }
      assert(LayoutOps.readManifested(spark, mt)
        .collect().map(_.getLong(0)).sorted.toSeq === Seq(1L, 2L, 3L))
    } finally org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(base))
  }

  test("z-order + manifest stats compose: one clustered write prunes on " +
      "BOTH dimensions") {
    import graft.operators.LayoutOps.ColBounds
    val base = java.nio.file.Files.createTempDirectory("graft-z2").toString
    val mt = s"$base/t"
    try {
      // a 64x64 grid in random-ish order; z-order it, then record stats on
      // both coordinates — each file covers a compact (x, y) RECTANGLE, so
      // narrow bounds on EITHER column skip most files from the manifest
      val grid = spark.range(4096).select(
        (col("id") % 64).as("x"), floor(col("id") / 64).as("y"))
      val z = LayoutOps.zOrderBy(grid, col("x"), col("y"), 16)
      LayoutOps.writeManifested(z, mt, statsCols = Seq("x", "y"))
      val full = LayoutOps.readManifested(spark, mt)
      for (c <- Seq("x", "y")) {
        val bounds = Seq(ColBounds(c, Some(10L), Some(13L)))
        val (kept, total) = LayoutOps.manifestSkipFiles(spark, mt, bounds)
        assert(total === 16 && kept.size <= 8,
          s"z-order clusters $c: kept ${kept.size}/$total")
        assert(LayoutOps.readManifestedWhere(spark, mt, bounds).count() ===
          full.where(col(c).between(10L, 13L)).count())
      }
      // and a 2-D box touches only the files whose rectangle intersects it
      val box = Seq(ColBounds("x", Some(0L), Some(15L)),
        ColBounds("y", Some(0L), Some(15L)))
      val (keptB, _) = LayoutOps.manifestSkipFiles(spark, mt, box)
      assert(keptB.size <= 4, s"2-D box kept ${keptB.size} of 16")
      assert(LayoutOps.readManifestedWhere(spark, mt, box).count() === 256)
    } finally org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(base))
  }

  test("an empty manifested table reads as empty with its schema, " +
      "not as an error") {
    import graft.operators.LayoutOps.ColBounds
    val base = java.nio.file.Files.createTempDirectory("graft-empty").toString
    val mt = s"$base/t"
    try {
      import spark.implicits._
      LayoutOps.writeManifested(Seq.empty[(Long, String)].toDF("id", "s"), mt)
      val t = LayoutOps.readManifested(spark, mt)
      assert(t.count() === 0 && t.columns.toSeq === Seq("id", "s"))
      assert(LayoutOps.readManifestedWhere(spark, mt,
        Seq(ColBounds("id", Some(1L), None))).count() === 0)
      assert(LayoutOps.countManifestedWhere(spark, mt)._1 === 0L)
      val (d, g) = LayoutOps.readManifestedChanges(spark, mt, 0L)
      assert(g === 0L && d.count() === 0 && d.columns.toSeq === Seq("id", "s"))
      // the table transitions out of empty like any other append
      LayoutOps.appendManifested(Seq((1L, "a")).toDF("id", "s"), mt)
      assert(LayoutOps.readManifested(spark, mt).count() === 1)
    } finally org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(base))
  }

  test("zOrderBy preserves rows and orders partitions by z") {
    val df = Tables.events(spark, "/root/testdata/sf0.001")
      .select(col("event_id"), col("user_id"), col("value"))
    val z = LayoutOps.zOrderBy(df, col("user_id"), floor(col("value")), 4)
    assert(z.count() === df.count())
    assert(z.columns.toSeq === df.columns.toSeq, "layout op must not change schema")
  }

  /** Per-file [min,max] of `column` parsed out of describeManifest's stats
    * lines — how the specs inspect the on-disk layout without private API. */
  private def fileRanges(path: String, column: String): Seq[(Long, Long)] = {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    LayoutOps.describeManifest(spark, path)
      .filter(l => l.startsWith("  ") && l.contains("{"))
      .flatMap { l =>
        val n = mapper.readTree(l.substring(l.indexOf("{")))
        Option(n.get(column)).flatMap { cn =>
          (Option(cn.get("min")), Option(cn.get("max"))) match {
            case (Some(mn), Some(mx)) => Some((mn.asText.toLong, mx.asText.toLong))
            case _ => None
          }
        }
      }
  }

  test("CoW delete/upsert/compact rewrites preserve the recorded cluster " +
      "layout: file ranges stay pairwise disjoint and skipping keeps pruning") {
    import graft.operators.LayoutOps.ColBounds
    val base = java.nio.file.Files.createTempDirectory("graft-clus").toString
    val mt = s"$base/t"
    try {
      val df = spark.range(40000)
        .select(col("id"), (col("id") % 97).as("v"))
      LayoutOps.writeManifested(df, mt, numFiles = 8,
        statsCols = Seq("id"), clusterBy = Seq("id"))
      assert(LayoutOps.describeManifest(spark, mt).contains("cluster: id"))
      // a delete spanning TWO files: a hash-scatter rewrite would give
      // both replacement files the full touched span (overlapping); the
      // clustered rewrite keeps them disjoint
      LayoutOps.deleteManifestedWhere(spark, mt,
        Seq(ColBounds("id", Some(4000L), Some(5999L))))
      // an upsert spanning two more files
      LayoutOps.upsertManifested(
        spark.range(12000, 18000).select(col("id"), lit(-1L).as("v")),
        mt, "id")
      def assertDisjoint(tag: String): Unit = {
        val sorted = fileRanges(mt, "id").sortBy(_._1)
        assert(sorted.nonEmpty, tag)
        sorted.sliding(2).foreach {
          case Seq((_, aMax), (bMin, _)) =>
            assert(aMax < bMin, s"$tag: overlapping file ranges $sorted")
          case _ => ()
        }
      }
      assertDisjoint("after delete+upsert")
      assert(LayoutOps.describeManifest(spark, mt).contains("cluster: id"),
        "maintenance must carry the cluster header forward")
      // skipping still prunes after the maintenance cycle: a narrow probe
      // far from the rewritten region opens at most one file...
      val (kept1, total1) = LayoutOps.manifestSkipFiles(spark, mt,
        Seq(ColBounds("id", Some(30000L), Some(30100L))))
      assert(total1 >= 8 && kept1.size <= 1, s"${kept1.size} of $total1 kept")
      // ...and so does one INSIDE the rewritten (upserted) region — the
      // exact degradation the hash-scatter rewrite used to cause
      val (kept2, _) = LayoutOps.manifestSkipFiles(spark, mt,
        Seq(ColBounds("id", Some(13000L), Some(13100L))))
      assert(kept2.size <= 1, s"rewritten region kept ${kept2.size} files")
      // compaction without a clusterBy arg inherits the recorded columns
      val n = LayoutOps.compactManifest(spark, mt, targetFileBytes = 32L * 1024)
      assert(n >= 2, s"compaction should leave several files, got $n")
      assertDisjoint("after inherited-cluster compaction")
      // correctness end-to-end: table equals the relational equivalent
      val expected = spark.range(40000)
        .where(!col("id").between(4000, 5999))
        .select(col("id"), when(col("id").between(12000, 17999), -1L)
          .otherwise(col("id") % 97).as("v"))
      val got = LayoutOps.readManifested(spark, mt)
      assert(got.exceptAll(expected).count() === 0)
      assert(expected.exceptAll(got).count() === 0)
    } finally org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(base))
  }

  test("ConditionalPutCommitArbiter commits without ever renaming: racing " +
      "appenders both land, and the direct contract holds") {
    val conf = spark.sparkContext.hadoopConfiguration
    conf.set("fs.faux.impl", classOf[FauxCopyDeleteFileSystem].getName)
    val base = java.nio.file.Files.createTempDirectory("graft-cput").toString
    val mt = s"faux://$base/t"
    LayoutOps.commitArbiter = LayoutOps.ConditionalPutCommitArbiter
    try {
      import spark.implicits._
      LayoutOps.writeManifested(Seq(1L, 2L).toDF("id"), mt)
      // arm the faux FS so ANY rename onto the next generations dies:
      // conditional PUT must never attempt one (the rename arbiter would)
      FauxCopyDeleteFileSystem.failRenameTo =
        Some(f"$base/t/_manifests/${1L}%020d.manifest")
      // a competing appender lands inside our appender's race window; the
      // loser's tryCommit returns false and the retry loop re-commits
      var fired = false
      LayoutOps.beforeAppendCommitHook = () => {
        if (!fired) {
          fired = true
          LayoutOps.appendManifested(Seq(100L).toDF("id"), mt)
        }
      }
      LayoutOps.appendManifested(Seq(3L).toDF("id"), mt)
      assert(LayoutOps.readManifested(spark, mt)
        .collect().map(_.getLong(0)).sorted.toSeq === Seq(1L, 2L, 3L, 100L),
        "both racing batches visible, none duplicated, no rename used")
      // direct contract: exactly one writer wins a target; the loser sees
      // false (not an exception, not a partial object)
      val fs = new org.apache.hadoop.fs.Path(mt)
        .getFileSystem(conf)
      val probe = new org.apache.hadoop.fs.Path(s"faux://$base/probe")
      assert(LayoutOps.ConditionalPutCommitArbiter
        .tryCommit(fs, probe, "winner".getBytes("UTF-8")))
      assert(!LayoutOps.ConditionalPutCommitArbiter
        .tryCommit(fs, probe, "loser".getBytes("UTF-8")))
      val in = fs.open(probe)
      val content = try new String(
        org.apache.hadoop.io.IOUtils.readFullyToByteArray(in), "UTF-8")
        finally in.close()
      assert(content === "winner", "the losing PUT must not clobber the winner")
    } finally {
      LayoutOps.commitArbiter = LayoutOps.RenameCommitArbiter
      LayoutOps.beforeAppendCommitHook = () => ()
      FauxCopyDeleteFileSystem.failRenameTo = None
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(base))
    }
  }

  test("distributed manifest pruning matches the driver path decision-for-" +
      "decision on a 50k-entry manifest") {
    import graft.operators.LayoutOps.ColBounds
    val base = java.nio.file.Files.createTempDirectory("graft-dprune").toString
    val mt = s"$base/t"
    try {
      // hand-author a manifest listing 50k files with disjoint id ranges;
      // every 1000th entry is stats-less (must be KEPT by both paths)
      val md = new java.io.File(s"$mt/_manifests")
      assert(md.mkdirs())
      val sb = new StringBuilder("#schema=id BIGINT\n#cluster=id\n")
      for (i <- 0 until 50000) {
        if (i % 1000 == 999) sb.append(s"data-g0/f$i.parquet\n")
        else sb.append(s"data-g0/f$i.parquet\t" +
          s"""{"__rows":10,"id":{"t":"l","min":"${i * 10L}","max":"${i * 10L + 9}","n":0}}""" +
          "\n")
      }
      sb.append("#eof\n")
      java.nio.file.Files.write(
        java.nio.file.Paths.get(s"$mt/_manifests/${"0" * 20}.manifest"),
        sb.toString.getBytes("UTF-8"))
      val bounds = Seq(ColBounds("id", Some(123400L), Some(130000L)))
      val (driverKept, total) = LayoutOps.manifestSkipFiles(spark, mt, bounds)
      val (distKept, totalD) =
        try {
          LayoutOps.distributedPruneThreshold = 1 // force the Dataset path
          LayoutOps.manifestSkipFiles(spark, mt, bounds)
        } finally LayoutOps.distributedPruneThreshold = 100000
      assert(total === 50000 && totalD === 50000)
      assert(driverKept === distKept,
        "both paths must make identical pruning decisions, in order")
      // selective: the range covers ~660 files + 50 stats-less keepers
      assert(driverKept.nonEmpty && driverKept.size < 1500,
        s"kept ${driverKept.size}")
    } finally org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(base))
  }

  test("a tokened append replay is a no-op even after OTHER writers " +
      "advanced the table past it") {
    val base = java.nio.file.Files.createTempDirectory("graft-tok").toString
    val mt = s"$base/t"
    try {
      import spark.implicits._
      LayoutOps.appendManifested(Seq(1L, 2L).toDF("id"), mt,
        token = Some("batch-0"))
      // two interleaved commits bury batch-0's token below latest
      LayoutOps.appendManifested(Seq(3L).toDF("id"), mt, token = Some("batch-1"))
      LayoutOps.appendManifested(Seq(4L).toDF("id"), mt)
      // the replay (a restarted writer re-sending its batch) must find its
      // token in RETAINED history, not just the newest manifest
      LayoutOps.appendManifested(Seq(1L, 2L).toDF("id"), mt,
        token = Some("batch-0"))
      assert(LayoutOps.readManifested(spark, mt)
        .collect().map(_.getLong(0)).sorted.toSeq === Seq(1L, 2L, 3L, 4L),
        "replayed batch must not double-append")
    } finally org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(base))
  }

  test("vacuum age-gates .tmp commit objects: a fresh (possibly in-flight) " +
      "one survives, a stale leak is removed") {
    val base = java.nio.file.Files.createTempDirectory("graft-tmpgc").toString
    val mt = s"$base/t"
    try {
      import spark.implicits._
      LayoutOps.writeManifested(Seq(1L).toDF("id"), mt)
      val tmp = new java.io.File(s"$mt/_manifests/.tmp-leaked1")
      java.nio.file.Files.write(tmp.toPath, "orphan".getBytes("UTF-8"))
      LayoutOps.vacuumManifested(spark, mt) // default 1 h grace
      assert(tmp.exists(), "a seconds-old tmp object may be a live commit")
      assert(tmp.setLastModified(System.currentTimeMillis() - 7200000L))
      LayoutOps.vacuumManifested(spark, mt)
      assert(!tmp.exists(), "a stale tmp leak must be cleaned")
    } finally org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(base))
  }

  test("maintenance committers losing the generation race re-run against " +
      "the new latest: neither side's rows are lost") {
    import graft.operators.LayoutOps.ColBounds
    val base = java.nio.file.Files.createTempDirectory("graft-mrace").toString
    val mt = s"$base/t"
    try {
      import spark.implicits._
      LayoutOps.writeManifested(
        spark.range(1000).toDF("id"), mt, numFiles = 6)
      // 1) a COMPACTION races a streaming append — the steady-state shape
      var fired = false
      LayoutOps.beforeMaintenanceCommitHook = () => {
        if (!fired) {
          fired = true
          LayoutOps.appendManifested(Seq(5000L).toDF("id"), mt)
        }
      }
      LayoutOps.compactManifest(spark, mt, targetFileBytes = 128L * 1024 * 1024)
      assert(LayoutOps.readManifested(spark, mt).count() === 1001,
        "compaction retry must fold against the post-append manifest")
      // 2) a DELETE races an append: the retried delete re-plans from the
      // new latest, so the appended file is scanned (it has no stats) and
      // its non-matching row survives
      fired = false
      LayoutOps.beforeMaintenanceCommitHook = () => {
        if (!fired) {
          fired = true
          LayoutOps.appendManifested(Seq(6000L).toDF("id"), mt)
        }
      }
      LayoutOps.deleteManifestedWhere(spark, mt,
        Seq(ColBounds("id", Some(0L), Some(99L))))
      assert(LayoutOps.readManifested(spark, mt).count() === 1001 + 1 - 100)
      // 3) a full REPLACE races an append: last replacer wins, by declared
      // semantics — the table is exactly the replacement
      fired = false
      LayoutOps.beforeMaintenanceCommitHook = () => {
        if (!fired) {
          fired = true
          LayoutOps.appendManifested(Seq(7000L).toDF("id"), mt)
        }
      }
      LayoutOps.writeManifested(spark.range(50).toDF("id"), mt)
      assert(LayoutOps.readManifested(spark, mt).count() === 50)
      // with retries disabled the race surfaces as the documented error
      fired = false
      LayoutOps.beforeMaintenanceCommitHook = () => {
        if (!fired) {
          fired = true
          LayoutOps.appendManifested(Seq(8000L).toDF("id"), mt)
        }
      }
      val e = intercept[java.io.IOException] {
        LayoutOps.deleteManifestedWhere(spark, mt,
          Seq(ColBounds("id", Some(0L), Some(9L))), maxCommitRetries = 0)
      }
      assert(e.getMessage.contains("committed concurrently"))
      // the lost attempts' orphaned data dirs are vacuumable
      assert(LayoutOps.vacuumManifested(spark, mt) >= 1)
    } finally {
      LayoutOps.beforeMaintenanceCommitHook = () => ()
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(base))
    }
  }

  test("rollback re-commits an old generation's listing: content restored " +
      "with zero data I/O, vacuum keeps the re-referenced files, history " +
      "records provenance, change feed sees rewritten history") {
    val base = java.nio.file.Files.createTempDirectory("graft-rb").toString
    val mt = s"$base/t"
    try {
      import spark.implicits._
      LayoutOps.writeManifested(spark.range(1000).toDF("id"), mt,
        numFiles = 4, statsCols = Seq("id"), clusterBy = Seq("id"))
      LayoutOps.appendManifested( // the bad batch
        spark.range(5000, 5100).toDF("id"), mt)
      assert(LayoutOps.readManifested(spark, mt).count() === 1100)
      val g = LayoutOps.rollbackManifested(spark, mt, 0L)
      assert(g === 2L)
      val restored = LayoutOps.readManifested(spark, mt)
      assert(restored.count() === 1000)
      assert(restored.agg(max("id")).head().getLong(0) === 999L)
      // the rollback carried stats + cluster verbatim: skipping still works
      val (kept, total) = LayoutOps.manifestSkipFiles(spark, mt,
        Seq(LayoutOps.ColBounds("id", Some(0L), Some(10L))))
      assert(total === 4 && kept.size === 1, s"${kept.size} of $total")
      // a change-feed consumer checkpointed at the bad generation must be
      // told its per-file delta is meaningless now
      val e = intercept[java.io.IOException] {
        LayoutOps.readManifestedChanges(spark, mt, 1L)
      }
      assert(e.getMessage.contains("rewrote history"))
      // vacuum keeps the generation-0 files (re-referenced by the latest
      // manifest) and reclaims the bad batch's
      LayoutOps.vacuumManifested(spark, mt)
      assert(LayoutOps.readManifested(spark, mt).count() === 1000,
        "rollback target's data files must survive vacuum")
      // provenance: one line per retained generation, ops recorded
      val hist = LayoutOps.historyManifested(spark, mt)
      assert(hist.exists(_.contains("op=rollback:0")), hist.mkString("\n"))
      assert(LayoutOps.describeManifest(spark, mt)
        .contains("op: rollback:0"))
      // rolling back to a vacuumed generation is the documented error
      val e2 = intercept[java.io.IOException] {
        LayoutOps.rollbackManifested(spark, mt, 1L)
      }
      assert(e2.getMessage.contains("vacuumed or never committed"))
    } finally org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(base))
  }

  test("z-order manifest layout: files cover compact (x,y) rectangles, " +
      "stats prune on EITHER dimension, and maintenance preserves the " +
      "curve via the #zorder= header") {
    val base = java.nio.file.Files.createTempDirectory("graft-zm").toString
    val mt = s"$base/t"
    try {
      // a 64x64 grid in shuffled order: an unclustered (or 1-D clustered)
      // write gives every file the full span of at least one dimension
      val grid = spark.range(4096).select(
        (col("id") % 64).as("x"),
        (col("id") / 64).cast("long").as("y"),
        col("id").as("payload"))
        .orderBy(org.apache.spark.sql.functions.hash(col("id")))
      LayoutOps.writeManifested(grid, mt, numFiles = 16,
        statsCols = Seq("x", "y"), zOrderBy = Seq("x", "y"))
      assert(LayoutOps.describeManifest(spark, mt)
        .contains("zorder: x,y"))
      // a 16x16 box is 1/16 of the grid: z-files are compact rectangles,
      // so only a couple of the 16 files can intersect it (a 1-D x-only
      // cluster would keep ~all files for the y constraint)
      def keptFor(b: Seq[LayoutOps.ColBounds]) =
        LayoutOps.manifestSkipFiles(spark, mt, b)._1.size
      val box = Seq(LayoutOps.ColBounds("x", Some(0L), Some(15L)),
        LayoutOps.ColBounds("y", Some(0L), Some(15L)))
      assert(keptFor(box) <= 4, s"2-D box kept ${keptFor(box)} of 16")
      // each dimension prunes ALONE too — that is the z-order win
      assert(keptFor(Seq(LayoutOps.ColBounds("x", Some(0L), Some(7L)))) <= 8)
      assert(keptFor(Seq(LayoutOps.ColBounds("y", Some(0L), Some(7L)))) <= 8)
      // the lazy path prunes from the query's own 2-D predicate
      val q = LayoutOps.readManifested(spark, mt)
        .where(col("x") <= 15 && col("y") <= 15)
      assert(q.count() === 256)
      // CoW delete rewrites through the z-curve: layout + pruning survive
      LayoutOps.deleteManifestedWhere(spark, mt,
        Seq(LayoutOps.ColBounds("y", Some(48L), Some(63L))))
      assert(LayoutOps.describeManifest(spark, mt).contains("zorder: x,y"))
      assert(LayoutOps.readManifested(spark, mt).count() === 3072)
      assert(keptFor(box) <= 4, s"post-delete 2-D box kept ${keptFor(box)}")
      // upsert keeps the curve as well
      val up = spark.range(10).select((col("id") % 64).as("x"),
        lit(0L).as("y"), (col("id") + 100000L).as("payload"))
      LayoutOps.upsertManifested(up, mt, keyCol = "payload")
      assert(LayoutOps.describeManifest(spark, mt).contains("zorder: x,y"))
      val afterUpsert = LayoutOps.readManifested(spark, mt).count()
      assert(afterUpsert === 3082)
      assert(keptFor(Seq(LayoutOps.ColBounds("x", Some(0L), Some(7L)),
        LayoutOps.ColBounds("y", Some(16L), Some(31L)))) <= 6)
    } finally org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(base))
  }

  test("compact-manifest --zorder-by CONVERTS a linear table to z-order: " +
      "header flips and 2-D pruning appears") {
    val base = java.nio.file.Files.createTempDirectory("graft-zc").toString
    val mt = s"$base/t"
    try {
      val grid = spark.range(4096).select(
        (col("id") % 64).as("x"),
        (col("id") / 64).cast("long").as("y"))
      LayoutOps.writeManifested(grid, mt, numFiles = 16,
        statsCols = Seq("x", "y"), clusterBy = Seq("x"))
      def kept2d() = LayoutOps.manifestSkipFiles(spark, mt,
        Seq(LayoutOps.ColBounds("x", Some(0L), Some(15L)),
          LayoutOps.ColBounds("y", Some(0L), Some(15L))))._1.size
      // linear x-cluster: the y constraint prunes nothing; the x
      // constraint alone keeps ~1/4 of the files
      val before = kept2d()
      // target sized so the fold re-emits ~16 z-ordered files
      val total = LayoutOps.manifestSkipFiles(spark, mt, Nil)._1
        .map(f => new java.io.File(s"$mt/$f").length).sum
      val n = LayoutOps.compactManifest(spark, mt,
        targetFileBytes = math.max(1L, total / 16), zOrderBy = Seq("x", "y"))
      assert(n >= 8, s"compaction rewrote to $n files")
      val desc = LayoutOps.describeManifest(spark, mt)
      assert(desc.contains("zorder: x,y") && !desc.exists(_.startsWith("cluster:")))
      assert(LayoutOps.readManifested(spark, mt).count() === 4096)
      assert(kept2d() <= before,
        s"z-order conversion must not prune worse: $before -> ${kept2d()}")
      // a 1/16-area box over ~17 unaligned z-files intersects a handful
      assert(kept2d() <= math.max(3, n / 4),
        s"2-D box should keep a small fraction of $n files, kept ${kept2d()}")
    } finally org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(base))
  }

  test("generationAsOf resolves timestamp time travel from manifest " +
      "commit instants") {
    val base = java.nio.file.Files.createTempDirectory("graft-asof").toString
    val mt = s"$base/t"
    try {
      LayoutOps.writeManifested(spark.range(10).toDF("id"), mt, numFiles = 1)
      LayoutOps.appendManifested(spark.range(10, 20).toDF("id"), mt)
      LayoutOps.appendManifested(spark.range(20, 30).toDF("id"), mt)
      // pin distinct, known commit instants (commits in one test run can
      // land inside the same millisecond) by rewriting the authoritative
      // #ts= header each manifest records at commit; ALSO scramble the
      // object mtimes to prove they no longer drive resolution (renames
      // preserve tmp mtimes and clocks skew, so mtime is fallback only)
      val root = new org.apache.hadoop.fs.Path(mt)
      val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val t0 = 1700000000000L
      for (g <- 0L to 2L) {
        val mp = new org.apache.hadoop.fs.Path(s"$mt/_manifests",
          f"$g%020d.manifest")
        val content = {
          val in = fs.open(mp)
          try new String(
            org.apache.hadoop.io.IOUtils.readFullyToByteArray(in), "UTF-8")
          finally in.close()
        }
        assert(content.contains("#ts="), s"gen $g must record a commit instant")
        val pinned = content.replaceAll("(?m)^#ts=\\d+$", s"#ts=${t0 + g * 60000L}")
        fs.delete(mp, false)
        val out = fs.create(mp, false)
        try out.write(pinned.getBytes("UTF-8")) finally out.close()
        // mtimes deliberately ANTI-monotonic in generation number
        fs.setTimes(mp, t0 + (2L - g) * 3600000L, -1)
      }
      assert(LayoutOps.generationAsOf(spark, mt, t0) === 0L)
      assert(LayoutOps.generationAsOf(spark, mt, t0 + 59999L) === 0L)
      assert(LayoutOps.generationAsOf(spark, mt, t0 + 60000L) === 1L)
      assert(LayoutOps.generationAsOf(spark, mt, System.currentTimeMillis
        + 86400000L) === 2L)
      // the composition IS `TIMESTAMP AS OF`: read the resolved generation
      val g1 = LayoutOps.generationAsOf(spark, mt, t0 + 60000L)
      assert(LayoutOps.readManifested(spark, mt, Some(g1)).count() === 20)
      val e = intercept[java.io.IOException] {
        LayoutOps.generationAsOf(spark, mt, t0 - 1L)
      }
      assert(e.getMessage.contains("no retained generation"))
      // legacy manifests (no #ts=) fall back to mtime under a running max:
      // strip gen 2's header line; its anti-monotonic mtime (t0+0h, older
      // than gen 1's) must NOT make an as-of BEFORE gen1's instant pick it
      val mp2 = new org.apache.hadoop.fs.Path(s"$mt/_manifests",
        f"${2L}%020d.manifest")
      val c2 = {
        val in = fs.open(mp2)
        try new String(
          org.apache.hadoop.io.IOUtils.readFullyToByteArray(in), "UTF-8")
        finally in.close()
      }
      fs.delete(mp2, false)
      val out2 = fs.create(mp2, false)
      try out2.write(c2.replaceAll("(?m)^#ts=\\d+$\\n", "").getBytes("UTF-8"))
      finally out2.close()
      fs.setTimes(mp2, t0, -1) // mtime says "at gen 0's instant" — a lie
      // without the running max, gen 2's lagging stamp (t0) would make
      // asOf(t0 + 59999) resolve to gen 2 — a generation that did not
      // exist before gen 1 did; the clamp keeps it at gen 0
      assert(LayoutOps.generationAsOf(spark, mt, t0 + 59999L) === 0L,
        "a legacy mtime lagging earlier generations must not shadow them")
    } finally org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(base))
  }

  test("ConditionalPutCommitArbiter read-back detects a lost race on a " +
      "check-at-open store (stock-S3A create semantics)") {
    val conf = spark.sparkContext.hadoopConfiguration
    conf.set("fs.fauxs3.impl", classOf[FauxCheckAtOpenFileSystem].getName)
    val base = java.nio.file.Files.createTempDirectory("graft-s3race").toString
    val target = new org.apache.hadoop.fs.Path(s"fauxs3://$base/gen0.manifest")
    val fs = target.getFileSystem(conf)
    try {
      // a competing committer's unconditional PUT lands in the window
      // between OUR close and the read-back: on stock S3A both writers
      // pass the open-time existence check, and without the read-back the
      // loser would return true while its payload was silently replaced
      FauxCheckAtOpenFileSystem.afterPut = Some(() => {
        val out = fs.create(target, true)
        try out.write("winner-payload".getBytes("UTF-8")) finally out.close()
      })
      assert(!LayoutOps.ConditionalPutCommitArbiter.tryCommit(
        fs, target, "loser-payload".getBytes("UTF-8")),
        "a superseded PUT must report the commit as lost, not silently won")
      // and an uncontended commit on the same store still wins
      val t2 = new org.apache.hadoop.fs.Path(s"fauxs3://$base/gen1.manifest")
      assert(LayoutOps.ConditionalPutCommitArbiter.tryCommit(
        fs, t2, "solo".getBytes("UTF-8")))
    } finally {
      FauxCheckAtOpenFileSystem.afterPut = None
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(base))
    }
  }

  test("appendManifested rejects a clusterBy on a table that declares " +
      "z-order (single-layout header stays single)") {
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft-zappend").toString
    val mt = s"$base/t"
    try {
      LayoutOps.writeManifested(
        spark.range(100).select(col("id"), (col("id") % 7).as("v")),
        mt, numFiles = 2, statsCols = Seq("id", "v"), zOrderBy = Seq("id", "v"))
      val e = intercept[IllegalArgumentException] {
        LayoutOps.appendManifested(
          spark.range(100, 200).select(col("id"), (col("id") % 7).as("v")),
          mt, clusterBy = Seq("id"))
      }
      assert(e.getMessage.contains("alternative layouts"))
      // a clusterBy-free append on the same table still lands fine
      LayoutOps.appendManifested(
        spark.range(100, 200).select(col("id"), (col("id") % 7).as("v")), mt)
      assert(LayoutOps.readManifested(spark, mt).count() === 200)
    } finally org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(base))
  }

  test("500-generation table: commit-time metadata reads stay O(interval) " +
      "via token checkpoints, and tokens survive vacuum") {
    val conf = spark.sparkContext.hadoopConfiguration
    conf.set("fs.fauxcnt.impl", classOf[FauxOpenCountFileSystem].getName)
    val base = java.nio.file.Files.createTempDirectory("graft-ckpt").toString
    val mt = s"fauxcnt://$base/t"
    import spark.implicits._
    try {
      // hand-author 500 header-only (empty) generations, one token each —
      // the shape a per-trigger streaming sink leaves behind, built
      // without 500 Spark jobs
      val md = new java.io.File(s"$base/t/_manifests")
      assert(md.mkdirs())
      for (g <- 0 until 500) {
        val w = new java.io.FileWriter(new java.io.File(md, f"$g%020d.manifest"))
        try w.write(s"#token=tok$g\n#ts=${1700000000000L + g}\n" +
          "#schema=id BIGINT\n#op=append\n#eof\n")
        finally w.close()
      }
      // first append commits gen 500 (an interval multiple): it pays the
      // one-time back-fill that reads all 500 headers and writes the
      // checkpoint chain's first object
      LayoutOps.appendManifested(Seq(500L).toDF("id"), mt,
        token = Some("tok500"))
      assert(new java.io.File(md, f"${500L}%020d.checkpoint").exists(),
        "interval-multiple commit must write the checkpoint")
      // steady state: ONE tokened append against the 500-generation table
      // reads the checkpoint + the few headers above it, not 500 objects
      FauxOpenCountFileSystem.manifestOpens.set(0)
      LayoutOps.appendManifested(Seq(501L).toDF("id"), mt,
        token = Some("tok501"))
      val opens = FauxOpenCountFileSystem.manifestOpens.get()
      assert(opens <= 2 * LayoutOps.checkpointInterval,
        s"commit-time manifest reads must be O(interval), got $opens")
      assert(LayoutOps.readManifested(spark, mt).count() === 2)
      // replay of a token recorded 490+ generations ago: found in the
      // checkpoint (not by scanning 500 headers), so the append no-ops
      LayoutOps.appendManifested(Seq(999L).toDF("id"), mt, token = Some("tok7"))
      assert(LayoutOps.readManifested(spark, mt).count() === 2,
        "tok7 replay must be a no-op through the checkpoint")
      // vacuum far below the replay horizon: folds dropped manifests'
      // tokens into a fresh checkpoint first, so idempotence still holds
      LayoutOps.vacuumManifested(spark, mt, keepHistory = 3)
      assert(!new java.io.File(md, f"${3L}%020d.manifest").exists(),
        "old manifests vacuumed")
      LayoutOps.appendManifested(Seq(998L).toDF("id"), mt, token = Some("tok3"))
      assert(LayoutOps.readManifested(spark, mt).count() === 2,
        "tok3 replay must be a no-op even after its manifest was vacuumed")
      // the superseded first checkpoint is gone; the newest survives
      val ckpts = md.listFiles().filter(_.getName.endsWith(".checkpoint"))
      assert(ckpts.length === 1, ckpts.map(_.getName).mkString(","))
    } finally {
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(base))
    }
  }

  test("multi-writer commit soak: concurrent appenders lose nothing and " +
      "generations stay contiguous under BOTH arbiters") {
    // N real threads x M commits each against one table, on a faux store
    // whose commit primitives are genuinely atomic (HDFS-semantics rename,
    // S3-If-None-Match-semantics conditional PUT) — so every race is
    // decided by the PROTOCOL (retry, re-target, read-back), not by a
    // local-FS accident. The invariant under soak: zero lost rows, zero
    // duplicates, one generation per commit with no gaps.
    val conf = spark.sparkContext.hadoopConfiguration
    conf.set("fs.fauxcommit.impl",
      classOf[FauxAtomicCommitFileSystem].getName)
    conf.set("fs.fauxcopy.impl",
      classOf[CopyFallbackFauxFileSystem].getName)
    def soak(arbiter: LayoutOps.CommitArbiter, writers: Int,
             commits: Int, scheme: String = "fauxcommit"): Unit = {
      val base = java.nio.file.Files.createTempDirectory("graft-soak").toString
      val mt = s"$scheme://$base/t"
      val prev = LayoutOps.commitArbiter
      LayoutOps.commitArbiter = arbiter
      try {
        LayoutOps.writeManifested(Seq(-1L).toDF("id"), mt, numFiles = 1)
        val pool = java.util.concurrent.Executors.newFixedThreadPool(writers)
        val errs =
          new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
        val tasks = (0 until writers).map { w =>
          pool.submit(new Runnable {
            override def run(): Unit =
              try {
                for (c <- 0 until commits)
                  LayoutOps.appendManifested(
                    Seq(w * 1000L + c).toDF("id"), mt, numFiles = 1,
                    maxCommitRetries = 500)
              } catch { case t: Throwable => errs.add(t) }
          })
        }
        tasks.foreach(_.get(300, java.util.concurrent.TimeUnit.SECONDS))
        pool.shutdown()
        assert(errs.isEmpty,
          s"soak writers failed: ${errs.toArray.mkString("; ")}")
        val got = LayoutOps.readManifested(spark, mt)
          .collect().map(_.getLong(0)).sorted.toSeq
        val want = (-1L +: (for {
          w <- 0 until writers; c <- 0 until commits
        } yield w * 1000L + c)).sorted
        if (got != want) {
          // soak diagnostics: dump the store so a failure names the broken
          // invariant (missing manifest? short head? double-win?)
          val md = new java.io.File(s"$base/t/_manifests")
          val names = md.listFiles().map(_.getName).sorted
          System.err.println(s"[soak-diag] arbiter=$arbiter manifests=" +
            names.mkString(","))
          names.filter(_.endsWith(".manifest")).foreach { n =>
            val src = scala.io.Source.fromFile(new java.io.File(md, n))
            val entries = try src.getLines().filterNot(_.startsWith("#")).size
                          finally src.close()
            System.err.println(s"[soak-diag] $n entries=$entries")
          }
        }
        assert(got === want, s"zero lost rows, zero duplicates ($arbiter)")
        val gens = LayoutOps.historyManifested(spark, mt)
          .map(_.trim.split("\\s+")(1).toLong)
        assert(gens === (0L to (writers * commits).toLong),
          s"one generation per commit, contiguous: $gens")
      } finally {
        LayoutOps.commitArbiter = prev
        org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(base))
      }
    }
    // env knobs for the out-of-band ELEVATED soak (e.g. 8 writers x 50
    // commits x N repeats, with and without injected commit latency):
    //   GRAFT_SOAK_WRITERS / _COMMITS / _REPEATS / _LATENCY_MS
    val w = sys.env.get("GRAFT_SOAK_WRITERS").map(_.toInt).getOrElse(4)
    val c = sys.env.get("GRAFT_SOAK_COMMITS").map(_.toInt).getOrElse(5)
    val r = sys.env.get("GRAFT_SOAK_REPEATS").map(_.toInt).getOrElse(1)
    val lat = sys.env.get("GRAFT_SOAK_LATENCY_MS").map(_.toInt).getOrElse(0)
    FauxAtomicCommitFileSystem.injectLatencyMs = lat
    try for (i <- 0 until r) {
      info(s"soak repeat ${i + 1}/$r (writers=$w commits=$c latency=${lat}ms)")
      soak(LayoutOps.RenameCommitArbiter, writers = w, commits = c)
      soak(LayoutOps.ConditionalPutCommitArbiter, writers = w, commits = c)
    } finally FauxAtomicCommitFileSystem.injectLatencyMs = 0
  }

  test("S3-shaped store (no rename; HEAD + copy-PUT + DELETE): racing " +
      "rename-commits DOUBLE-WIN and lose a commit silently, while the " +
      "conditional-PUT arbiter keeps exactly one winner") {
    val conf = spark.sparkContext.hadoopConfiguration
    conf.set("fs.fauxs3c.impl", classOf[FauxS3FileSystem].getName)
    val base = java.nio.file.Files.createTempDirectory("graft-s3race").toString
    val md = new java.io.File(s"$base/_manifests"); md.mkdirs()
    val fs = new org.apache.hadoop.fs.Path(s"fauxs3c://$base")
      .getFileSystem(conf)
    def race(arbiter: LayoutOps.CommitArbiter,
             target: org.apache.hadoop.fs.Path): Seq[Boolean] = {
      val start = new java.util.concurrent.CyclicBarrier(2)
      val wins = new java.util.concurrent.ConcurrentLinkedQueue[Boolean]()
      val ts = Seq("AAAA", "BBBB").map { payload =>
        val t = new Thread(() => {
          start.await()
          wins.add(arbiter.tryCommit(fs, target,
            s"#v=2\n$payload\n#eof\n".getBytes("UTF-8")))
        })
        t.start(); t
      }
      ts.foreach(_.join())
      import scala.jdk.CollectionConverters._
      wins.asScala.toSeq
    }
    FauxS3FileSystem.raceWindowMs = 250
    try {
      // (a) rename-as-copy: both committers pass the HEAD, both PUT, both
      // report success — one manifest payload silently vanished. This is
      // WHY stock-S3A rename does not qualify for RenameCommitArbiter.
      val t1 = new org.apache.hadoop.fs.Path(
        s"fauxs3c://$base/_manifests/gen1.manifest")
      val winsRename = race(LayoutOps.RenameCommitArbiter, t1)
      assert(winsRename === Seq(true, true),
        s"the S3-shaped race must double-win under rename-commit: $winsRename")
      // (b) the SAME race through the conditional-PUT arbiter: the store
      // precondition (If-None-Match on materialization) + read-back keep
      // exactly one winner
      val t2 = new org.apache.hadoop.fs.Path(
        s"fauxs3c://$base/_manifests/gen2.manifest")
      val winsPut = race(LayoutOps.ConditionalPutCommitArbiter, t2)
      assert(winsPut.sorted === Seq(false, true),
        s"conditional PUT must keep exactly one winner: $winsPut")
    } finally {
      FauxS3FileSystem.raceWindowMs = 0
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(base))
    }
  }

  test("multi-writer commit soak on the S3-shaped store: the " +
      "conditional-PUT arbiter loses nothing with NO rename primitive " +
      "in the commit path at all") {
    import spark.implicits._
    val conf = spark.sparkContext.hadoopConfiguration
    conf.set("fs.fauxs3c.impl", classOf[FauxS3FileSystem].getName)
    val base = java.nio.file.Files.createTempDirectory("graft-s3soak").toString
    val mt = s"fauxs3c://$base/t"
    val prev = LayoutOps.commitArbiter
    LayoutOps.commitArbiter = LayoutOps.ConditionalPutCommitArbiter
    try {
      LayoutOps.writeManifested(Seq(-1L).toDF("id"), mt, numFiles = 1)
      val writers = 4
      val commits = 5
      val pool = java.util.concurrent.Executors.newFixedThreadPool(writers)
      val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
      val tasks = (0 until writers).map { w =>
        pool.submit(new Runnable {
          override def run(): Unit =
            try for (c <- 0 until commits)
              LayoutOps.appendManifested(Seq(w * 1000L + c).toDF("id"), mt,
                numFiles = 1, maxCommitRetries = 500)
            catch { case t: Throwable => errs.add(t) }
        })
      }
      tasks.foreach(_.get(300, java.util.concurrent.TimeUnit.SECONDS))
      pool.shutdown()
      assert(errs.isEmpty, s"soak writers failed: ${errs.toArray.mkString("; ")}")
      val got = LayoutOps.readManifested(spark, mt)
        .collect().map(_.getLong(0)).sorted.toSeq
      val want = (-1L +: (for {
        w <- 0 until writers; c <- 0 until commits
      } yield w * 1000L + c)).sorted
      assert(got === want, "zero lost rows, zero duplicates on S3 shape")
      val gens = LayoutOps.historyManifested(spark, mt)
        .map(_.trim.split("\\s+")(1).toLong)
      assert(gens === (0L to (writers * commits).toLong),
        s"one generation per commit, contiguous: $gens")
    } finally {
      LayoutOps.commitArbiter = prev
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(base))
    }
  }

  test("multi-writer soak on the DEGRADED store (rename falls back to a " +
      "visible trickled copy, like RawLocalFileSystem under I/O pressure): " +
      "short heads are detected and waited out, zero rows lost") {
    // This is the store defect behind the one r8 soak anomaly: Hadoop's
    // RawLocalFileSystem.rename silently falls through to a non-atomic
    // FileUtil.copy when File.renameTo fails, so a concurrent reader can
    // observe a truncated manifest. The #eof trailer + read validation
    // turn that from a silent early-row loss into a brief wait.
    val conf = spark.sparkContext.hadoopConfiguration
    conf.set("fs.fauxcopy.impl", classOf[CopyFallbackFauxFileSystem].getName)
    val base = java.nio.file.Files.createTempDirectory("graft-soakd").toString
    val mt = s"fauxcopy://$base/t"
    val prev = LayoutOps.commitArbiter
    LayoutOps.commitArbiter = LayoutOps.RenameCommitArbiter
    try {
      import spark.implicits._
      LayoutOps.writeManifested(Seq(-1L).toDF("id"), mt, numFiles = 1)
      val writers = 4; val commits = 5
      val pool = java.util.concurrent.Executors.newFixedThreadPool(writers)
      val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
      val tasks = (0 until writers).map { w =>
        pool.submit(new Runnable {
          override def run(): Unit =
            try {
              for (c <- 0 until commits)
                LayoutOps.appendManifested(
                  Seq(w * 1000L + c).toDF("id"), mt, numFiles = 1,
                  maxCommitRetries = 500)
            } catch { case t: Throwable => errs.add(t) }
        })
      }
      tasks.foreach(_.get(300, java.util.concurrent.TimeUnit.SECONDS))
      pool.shutdown()
      assert(errs.isEmpty, s"writers failed: ${errs.toArray.mkString("; ")}")
      val got = LayoutOps.readManifested(spark, mt)
        .collect().map(_.getLong(0)).sorted.toSeq
      val want = (-1L +: (for {
        w <- 0 until writers; c <- 0 until commits
      } yield w * 1000L + c)).sorted
      assert(got === want,
        "zero lost rows under degraded (copy-fallback) rename visibility")
    } finally {
      LayoutOps.commitArbiter = prev
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(base))
    }
  }

  test("short-head reproduction: a manifest truncated mid-copy silently " +
      "loses rows WITHOUT the trailer check, is waited out WITH it, and " +
      "fails loudly when the truncation never heals") {
    import spark.implicits._
    def mkTable(dir: String): String = {
      val mt = s"$dir/t"
      LayoutOps.writeManifested(Seq(1L, 2L).toDF("id"), mt, numFiles = 1)
      LayoutOps.appendManifested(Seq(3L).toDF("id"), mt, numFiles = 1)
      mt
    }
    // the r8 anomaly surfaced on a RawLocalFileSystem-backed store (no
    // CRC sidecars); editing bytes under checksummed file:// would trip
    // ChecksumException instead of a silent short read, so the sidecar is
    // dropped whenever the spec plays the role of the degraded copier
    def dropCrc(mt: String): Unit = {
      val crc = new java.io.File(s"$mt/_manifests",
        f".${1L}%020d.manifest.crc")
      if (crc.exists()) crc.delete(): Unit
    }
    def truncate(mt: String): Array[Byte] = {
      val p = java.nio.file.Paths.get(s"$mt/_manifests", f"${1L}%020d.manifest")
      val full = java.nio.file.Files.readAllBytes(p)
      val lines = new String(full, "UTF-8").split("\n")
      // drop the final entry line AND the #eof trailer — exactly what a
      // reader polling a half-finished FileUtil.copy observes
      java.nio.file.Files.write(p,
        (lines.dropRight(2).mkString("\n") + "\n").getBytes("UTF-8"))
      dropCrc(mt)
      full
    }
    def restore(mt: String, full: Array[Byte]): Unit = {
      java.nio.file.Files.write(
        java.nio.file.Paths.get(s"$mt/_manifests", f"${1L}%020d.manifest"),
        full)
      dropCrc(mt)
    }

    // (a) the r8 anomaly, reproduced deterministically: pre-trailer read
    // behavior (validation off) commits the short head and rows silently
    // vanish from every later generation
    val baseA = java.nio.file.Files.createTempDirectory("graft-shorthead").toString
    try {
      val mt = mkTable(baseA)
      truncate(mt)
      LayoutOps.manifestReadValidation = false
      try LayoutOps.appendManifested(Seq(4L).toDF("id"), mt, numFiles = 1)
      finally LayoutOps.manifestReadValidation = true
      val got = LayoutOps.readManifested(spark, mt)
        .collect().map(_.getLong(0)).sorted.toSeq
      assert(got !== Seq(1L, 2L, 3L, 4L),
        "without validation the short head MUST lose rows (the named bug)")
      assert(got.contains(4L) && !got.contains(3L),
        s"the truncated tail's file is the one that vanishes: $got")
    } finally org.apache.commons.io.FileUtils.deleteQuietly(
      new java.io.File(baseA))

    // (b) with validation: the reader waits out the "copy"; a fixer
    // thread completes the object and nothing is lost
    val baseB = java.nio.file.Files.createTempDirectory("graft-shorthead").toString
    try {
      val mt = mkTable(baseB)
      val full = truncate(mt)
      val fixer = new Thread(() => { Thread.sleep(300); restore(mt, full) })
      fixer.start()
      LayoutOps.appendManifested(Seq(4L).toDF("id"), mt, numFiles = 1)
      fixer.join()
      assert(LayoutOps.readManifested(spark, mt)
        .collect().map(_.getLong(0)).sorted.toSeq === Seq(1L, 2L, 3L, 4L),
        "validation waits out the partial copy; zero rows lost")
    } finally org.apache.commons.io.FileUtils.deleteQuietly(
      new java.io.File(baseB))

    // (c) a truncation that never heals fails LOUDLY, naming the defect
    val baseC = java.nio.file.Files.createTempDirectory("graft-shorthead").toString
    try {
      val mt = mkTable(baseC)
      truncate(mt)
      val e = intercept[java.io.IOException] {
        LayoutOps.readManifested(spark, mt).collect()
      }
      assert(e.getMessage.contains("truncated"),
        s"must name the truncation: ${e.getMessage}")
    } finally org.apache.commons.io.FileUtils.deleteQuietly(
      new java.io.File(baseC))
  }

  test("a byte-stable head that is a strict prefix of #v=2 is torn, not legacy") {
    import spark.implicits._
    // a crashed non-atomic copy of a v2 manifest can leave exactly "#" or
    // "#v" on disk — byte-stable, headerless, trailer-less. Classifying
    // that as a legacy object would read it as an EMPTY manifest and
    // silently drop every file it should list.
    for (head <- Seq("#", "#v", "#v=")) {
      val base = java.nio.file.Files.createTempDirectory("graft-torn").toString
      try {
        val mt = s"$base/t"
        LayoutOps.writeManifested(Seq(1L, 2L).toDF("id"), mt, numFiles = 1)
        val p = java.nio.file.Paths.get(s"$mt/_manifests",
          f"${1L}%020d.manifest")
        java.nio.file.Files.write(p, head.getBytes("UTF-8"))
        val crc = new java.io.File(s"$mt/_manifests",
          f".${1L}%020d.manifest.crc")
        if (crc.exists()) crc.delete(): Unit
        val e = intercept[java.io.IOException] {
          LayoutOps.readManifested(spark, mt).collect()
        }
        assert(e.getMessage.contains("truncated"),
          s"head '$head' must fail as a torn v2 object: ${e.getMessage}")
      } finally org.apache.commons.io.FileUtils.deleteQuietly(
        new java.io.File(base))
    }
  }

  test("legacy (pre-trailer) manifests stay readable after the upgrade: " +
      "no #v header + no #eof trailer is accepted once byte-stable, and " +
      "an empty legacy object still fails loudly") {
    import spark.implicits._
    // strip BOTH the #v=2 header and the #eof trailer from every
    // manifest/checkpoint object — exactly what a table persisted by a
    // pre-trailer build looks like on disk after the engine upgrade
    def downgrade(mt: String): Unit = {
      val md = new java.io.File(s"$mt/_manifests")
      md.listFiles().filter(_.getName.endsWith("manifest")).foreach { f =>
        val lines = new String(
          java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
          .split("\n").filterNot(l => l == "#v=2" || l == "#eof")
        java.nio.file.Files.write(f.toPath,
          (lines.mkString("\n") + "\n").getBytes("UTF-8"))
        val crc = new java.io.File(md, s".${f.getName}.crc")
        if (crc.exists()) crc.delete(): Unit
      }
    }
    val base = java.nio.file.Files.createTempDirectory("graft-legacy").toString
    try {
      val mt = s"$base/t"
      LayoutOps.writeManifested(Seq(1L, 2L).toDF("id"), mt, numFiles = 1)
      LayoutOps.appendManifested(Seq(3L).toDF("id"), mt, numFiles = 1)
      downgrade(mt)
      assert(LayoutOps.readManifested(spark, mt)
        .collect().map(_.getLong(0)).sorted.toSeq === Seq(1L, 2L, 3L),
        "a stable legacy manifest must read completely — not be " +
          "misdiagnosed as a truncated in-flight object")
      // appends on top of legacy generations write v2 objects and see
      // every legacy row (the migration path is: just keep committing)
      LayoutOps.appendManifested(Seq(4L).toDF("id"), mt, numFiles = 1)
      assert(LayoutOps.readManifested(spark, mt)
        .collect().map(_.getLong(0)).sorted.toSeq === Seq(1L, 2L, 3L, 4L))

      // an EMPTY trailer-less object is indistinguishable from a copy
      // that never wrote a byte: loud failure naming the legacy ambiguity
      // (gen 2 is the LATEST generation — the one a read plans from)
      val p = java.nio.file.Paths.get(s"$mt/_manifests", f"${2L}%020d.manifest")
      java.nio.file.Files.write(p, Array.empty[Byte])
      val crc = new java.io.File(s"$mt/_manifests",
        f".${2L}%020d.manifest.crc")
      if (crc.exists()) crc.delete()
      val e = intercept[java.io.IOException] {
        LayoutOps.readManifested(spark, mt).collect()
      }
      assert(e.getMessage.contains("legacy"),
        s"must name the legacy/in-flight ambiguity: ${e.getMessage}")
    } finally org.apache.commons.io.FileUtils.deleteQuietly(
      new java.io.File(base))
  }

  test("inherited stats columns exclude the __rows key and bloom-only columns") {
    val entries = Seq(
      "a.parquet\t" +
        """{"__rows":5,"id":{"t":"l","min":"0","max":"9","n":0},""" +
        """"ck":{"bloom":"AAAAAAAAAAA=","bk":3}}""",
      "b.parquet")
    assert(LayoutOps.inheritedStatsCols(entries) === Seq("id"))
  }

  test("every manifested read, maintenance and describe op opens its " +
      "resolved manifest exactly once") {
    import graft.operators.LayoutOps.ColBounds
    val conf = spark.sparkContext.hadoopConfiguration
    conf.set("fs.fauxcnt.impl", classOf[FauxOpenCountFileSystem].getName)
    val base = java.nio.file.Files.createTempDirectory("graft-opens").toString
    val mt = s"fauxcnt://$base/t"
    try {
      LayoutOps.writeManifested(spark.range(400)
          .select(col("id"), (col("id") % 7).as("v")), mt,
        numFiles = 4, statsCols = Seq("id"), clusterBy = Seq("id"))
      def opens(body: => Any): Int = {
        FauxOpenCountFileSystem.manifestOpens.set(0)
        body
        FauxOpenCountFileSystem.manifestOpens.get()
      }
      val bounds = Seq(ColBounds("id", Some(10L), Some(150L)))
      val counts = Seq(
        "readManifested" -> opens(LayoutOps.readManifested(spark, mt).collect()),
        "readManifestedWhere" ->
          opens(LayoutOps.readManifestedWhere(spark, mt, bounds).collect()),
        "countManifestedWhere" ->
          opens(LayoutOps.countManifestedWhere(spark, mt, bounds)),
        "describeManifest" -> opens(LayoutOps.describeManifest(spark, mt)),
        "deleteManifestedWhere" -> opens(LayoutOps.deleteManifestedWhere(
          spark, mt, Seq(ColBounds("id", Some(0L), Some(9L))))),
        "upsertManifested" -> opens(LayoutOps.upsertManifested(
          Seq((20L, 99L)).toDF("id", "v"), mt, "id")),
        "compactManifest" -> opens(LayoutOps.compactManifest(spark, mt)),
        "rollbackManifested" -> opens(LayoutOps.rollbackManifested(spark, mt, 2L)))
      info(counts.map { case (op, n) => s"$op=$n" }.mkString(" "))
      for ((op, n) <- counts)
        assert(n === 1, s"$op opened its manifest $n times")
      // the ops did their work: gen 1 deleted ids 0..9, gen 2 upserted id
      // 20, gen 3 compacted, gen 4 rolled back to gen 2's listing
      val t = LayoutOps.readManifested(spark, mt)
      assert(t.count() === 390)
      assert(t.where(col("id") === 20).head().getLong(1) === 99L)
      assert(LayoutOps.historyManifested(spark, mt).last.contains("op=rollback:2"))
    } finally org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(base))
  }

  test("a committed data file's footer is opened once on the driver: " +
      "stats and row count come from one read") {
    import graft.operators.LayoutOps.ColBounds
    val conf = spark.sparkContext.hadoopConfiguration
    conf.set("fs.fauxcnt.impl", classOf[FauxOpenCountFileSystem].getName)
    val base = java.nio.file.Files.createTempDirectory("graft-footers").toString
    val mt = s"fauxcnt://$base/t"
    try {
      FauxOpenCountFileSystem.driverDataOpens.set(0)
      LayoutOps.writeManifested(spark.range(400)
          .select(col("id"), (col("id") % 7).as("c")), mt,
        numFiles = 4, statsCols = Seq("id"), clusterBy = Seq("id"),
        bloomCols = Seq("c"))
      val opens = FauxOpenCountFileSystem.driverDataOpens.get()
      val files = {
        val w = java.nio.file.Files.walk(java.nio.file.Paths.get(base))
        try {
          import scala.jdk.CollectionConverters._
          w.iterator().asScala.count(_.toString.endsWith(".parquet"))
        } finally w.close()
      }
      assert(files === 4)
      assert(opens === files, s"$opens driver footer opens for $files files")
      // the row counts recorded from that one read answer a fully
      // covered count from the manifest, scanning no file
      assert(LayoutOps.countManifestedWhere(spark, mt,
        Seq(ColBounds("id", Some(0L), Some(399L)))) === ((400L, 0)))
    } finally org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(base))
  }

  /** Jobs per call on a small clustered table with blooms, counted with
    * reads collected. Seeded from measured counts; a count may only go
    * down. */
  private val layoutJobBudget: Map[String, Int] = Map(
    "writeManifested" -> 5,
    "appendManifested" -> 3,
    "readManifestedWhere" -> 1,
    "countManifestedWhere" -> 2,
    "upsertManifested" -> 7,
    "deleteManifestedWhere" -> 5,
    "compactManifest" -> 4)

  test("jobs per call stay within the committed budget for the manifested " +
      "write, maintenance and read ops") {
    import graft.operators.LayoutOps.ColBounds
    val base = java.nio.file.Files.createTempDirectory("graft-ljobs").toString
    val mt = s"$base/t"
    def rows(lo: Long, hi: Long) = spark.range(lo, hi)
      .select(col("id"), (col("id") % 97).as("c"), (col("id") * 0.5).as("p"))
    val bounds = Seq(ColBounds("id", Some(500L), Some(1500L)))
    try {
      val counts = Seq(
        "writeManifested" -> jobsOf(LayoutOps.writeManifested(rows(0, 4000),
          mt, numFiles = 4, statsCols = Seq("id"), clusterBy = Seq("id"),
          bloomCols = Seq("c"))),
        "appendManifested" -> jobsOf(LayoutOps.appendManifested(
          rows(4000, 4400), mt, statsCols = Seq("id"))),
        "readManifestedWhere" ->
          jobsOf(LayoutOps.readManifestedWhere(spark, mt, bounds).collect()),
        "countManifestedWhere" ->
          jobsOf(LayoutOps.countManifestedWhere(spark, mt, bounds)),
        "upsertManifested" -> jobsOf(LayoutOps.upsertManifested(
          rows(1000, 1100).withColumn("p", lit(1.0)), mt, "id")),
        "deleteManifestedWhere" ->
          jobsOf(LayoutOps.deleteManifestedWhere(spark, mt, bounds)),
        "compactManifest" -> jobsOf(LayoutOps.compactManifest(spark, mt)))
      info(counts.map { case (op, n) => s"$op=$n" }.mkString(" "))
      for ((op, n) <- counts)
        assert(n <= layoutJobBudget.getOrElse(op, -1), s"$op submitted $n jobs")
      assert(LayoutOps.readManifested(spark, mt).count() === 4400 - 1001)
    } finally org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(base))
  }
}
