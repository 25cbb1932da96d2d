package graft

import graft.operators.LayoutOps
import graft.operators.LayoutOps.ColBounds
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.functions._

/** The lazy, Catalyst-driven file-skipping path: `readManifested` scans
  * through a manifest-backed FileIndex, so a plain `.where(...)` on the
  * returned DataFrame prunes data files at physical-planning time from
  * the query's own predicates — no eager bounds API involved. */
class ManifestFileIndexSpec extends SparkSpec {
  import spark.implicits._

  /** Files the executed scan actually selected (after an action). */
  private def scannedFiles(df: DataFrame): Long = {
    df.collect()
    val scans = df.queryExecution.executedPlan.collect {
      case f: FileSourceScanExec => f }
    assert(scans.size === 1, df.queryExecution.executedPlan.toString)
    scans.head.metrics("numFiles").value
  }

  private def withTable(test: String => Unit): Unit = {
    val base = java.nio.file.Files.createTempDirectory("graft-mfi").toString
    try test(s"$base/t")
    finally org.apache.commons.io.FileUtils
      .deleteQuietly(new java.io.File(base))
  }

  test("a plain .where() on readManifested prunes files from range stats " +
      "at planning time; results match the unpruned filter exactly") {
    withTable { t =>
      LayoutOps.writeManifested(spark.range(1000)
          .select(col("id"), (col("id") * 2).as("v")), t,
        numFiles = 4, statsCols = Seq("id"), clusterBy = Seq("id"))
      val all = LayoutOps.readManifested(spark, t)
      assert(scannedFiles(all) === 4)
      // one cluster-range file holds id <= 100
      val some = LayoutOps.readManifested(spark, t).where(col("id") <= 100)
      assert(scannedFiles(some) === 1)
      assert(some.count() === 101)
      assert(some.agg(sum("v")).head().getLong(0) === (0L to 100L).map(_ * 2).sum)
      // a filter on an UNstatsed column prunes nothing but stays correct
      val other = LayoutOps.readManifested(spark, t).where(col("v") <= 20)
      assert(scannedFiles(other) === 4)
      assert(other.count() === 11)
      // everything pruned: empty result, no files touched
      val none = LayoutOps.readManifested(spark, t).where(col("id") > 5000)
      assert(scannedFiles(none) === 0)
      assert(none.count() === 0)
    }
  }

  test("equality probes consult per-file blooms; IN lists prune value by " +
      "value; untranslatable predicates keep everything") {
    withTable { t =>
      // ids multiplied out so each file's range is wide but sparse:
      // ranges overlap a probe for an ABSENT value, only blooms prune it
      LayoutOps.writeManifested(
        spark.range(1000).select((col("id") * 10).as("k"),
          col("id").cast("string").as("s")), t,
        numFiles = 4, statsCols = Seq("k"), clusterBy = Seq("k"),
        bloomCols = Seq("k"))
      // k = 15 is inside file 0's [0, 2490] range but not present: the
      // bloom must prune all 4 files (up to false-positive odds; with
      // 30 probes below we assert at least SOME pruning to stay robust)
      val miss = LayoutOps.readManifested(spark, t).where(col("k") === 15)
      assert(miss.count() === 0)
      assert(scannedFiles(miss) <= 1, "bloom should prune an absent probe")
      // a present value scans exactly its one clustered file
      val hit = LayoutOps.readManifested(spark, t).where(col("k") === 20)
      assert(scannedFiles(hit) === 1)
      assert(hit.count() === 1)
      // IN over two present values from the SAME cluster file + one absent
      val in = LayoutOps.readManifested(spark, t)
        .where(col("k").isin(20, 40, 15))
      assert(scannedFiles(in) === 1)
      assert(in.count() === 2)
      // a predicate the translator cannot use (arithmetic on the column)
      // scans everything but stays exact
      val raw = LayoutOps.readManifested(spark, t)
        .where(col("k") % 100 === 0)
      assert(scannedFiles(raw) === 4)
      assert(raw.count() === 100)
    }
  }

  test("lazy pruning decisions agree with the eager readManifestedWhere " +
      "API on randomized bounds") {
    withTable { t =>
      // b = 3 * id is bloom-only (no range stats); ts is one minute per id
      // from 2020-01-01T00:00Z, with TIMESTAMP_MICROS footer stats
      val epoch = java.time.Instant.parse("2020-01-01T00:00:00Z")
      val prev = spark.conf.getOption("spark.sql.parquet.outputTimestampType")
      spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      try LayoutOps.writeManifested(spark.range(2000)
          .select(col("id"), (col("id") % 7).as("m"), (col("id") * 3).as("b"),
            timestamp_micros(lit(epoch.toEpochMilli * 1000L) +
              col("id") * 60000000L).as("ts")), t,
        numFiles = 8, statsCols = Seq("id", "ts"), clusterBy = Seq("id"),
        bloomCols = Seq("b"))
      finally prev match {
        case Some(v) => spark.conf.set("spark.sql.parquet.outputTimestampType", v)
        case None => spark.conf.unset("spark.sql.parquet.outputTimestampType")
      }
      val rnd = new scala.util.Random(31)
      val ranges = (1 to 20).map { _ =>
        val lo = rnd.nextInt(2200).toLong
        val hi = lo + rnd.nextInt(500)
        (s"[$lo, $hi]", ColBounds("id", Some(lo), Some(hi)),
          col("id") >= lo && col("id") <= hi)
      }
      // equality on the bloom column: present and absent values
      val points = Seq(0L, 1500L, 5997L, 301L, 9000L).map(v =>
        (s"b = $v", ColBounds("b", Some(v), Some(v)), col("b") === v))
      // timestamp ranges in minutes from the epoch: inside one file,
      // across a file boundary, over the data's end, and before it
      val times = Seq((100L, 130L), (240L, 260L), (1990L, 2100L),
          (-600L, -10L)).map { case (lo, hi) =>
        val (tLo, tHi) = (java.sql.Timestamp.from(epoch.plusSeconds(lo * 60)),
          java.sql.Timestamp.from(epoch.plusSeconds(hi * 60)))
        (s"ts minutes [$lo, $hi]", ColBounds("ts", Some(tLo), Some(tHi)),
          col("ts") >= lit(tLo) && col("ts") <= lit(tHi))
      }
      for ((label, bound, predicate) <- ranges ++ points ++ times) {
        val eager = LayoutOps.readManifestedWhere(spark, t, Seq(bound))
        val lazyDf = LayoutOps.readManifested(spark, t).where(predicate)
        assert(lazyDf.count() === eager.count(), label)
        val (keptEager, total) = LayoutOps.manifestSkipFiles(spark, t,
          Seq(bound))
        assert(scannedFiles(lazyDf) === keptEager.size.toLong,
          s"$label of $total files")
        assert(scannedFiles(eager) === keptEager.size.toLong,
          s"$label of $total files (readManifestedWhere)")
      }
    }
  }

  test("IsNull / IsNotNull prune from recorded null counts; schema " +
      "evolution null-fills through the lazy path") {
    withTable { t =>
      // file set A: x never null; appended set B: x ALWAYS null
      LayoutOps.writeManifested(spark.range(100)
          .select(col("id"), col("id").cast("long").as("x")), t,
        numFiles = 2, statsCols = Seq("id", "x"), clusterBy = Seq("id"))
      LayoutOps.appendManifested(spark.range(100, 200)
          .select(col("id"), lit(null).cast("long").as("x")), t,
        numFiles = 2, statsCols = Seq("id", "x"))
      val nulls = LayoutOps.readManifested(spark, t).where(col("x").isNull)
      assert(scannedFiles(nulls) === 2, "n=0 files must be pruned")
      assert(nulls.count() === 100)
      val nonNulls = LayoutOps.readManifested(spark, t)
        .where(col("x").isNotNull).select(sum("x"))
      assert(nonNulls.head().getLong(0) === (0L until 100L).sum)
      // evolve: a new column appears; old files read it as null lazily
      LayoutOps.appendManifested(spark.range(200, 210)
          .select(col("id"), lit(1L).as("x"), lit("new").as("tag")), t,
        numFiles = 1, statsCols = Seq("id"))
      val evolved = LayoutOps.readManifested(spark, t)
      assert(evolved.columns.toSeq === Seq("id", "x", "tag"))
      assert(evolved.where(col("tag").isNull).count() === 200)
    }
  }

  test("the graft-manifest batch format: spark.read short name, SQL " +
      "CREATE TABLE USING, file pruning, and time-travel options") {
    withTable { t =>
      LayoutOps.writeManifested(spark.range(1000)
          .select(col("id"), (col("id") * 3).as("v")), t,
        numFiles = 4, statsCols = Seq("id"), clusterBy = Seq("id"))
      LayoutOps.appendManifested(spark.range(1000, 1500)
        .select(col("id"), (col("id") * 3).as("v")), t,
        statsCols = Seq("id"))
      // short-name format read (META-INF/services registration)
      val df = spark.read.format("graft-manifest").option("path", t).load()
      assert(df.count() === 1500)
      val pruned = df.where(col("id") <= 100)
      assert(scannedFiles(pruned) === 1)
      assert(pruned.count() === 101)
      // generation pin + as-of pin
      assert(spark.read.format("graft-manifest").option("path", t)
        .option("generation", "0").load().count() === 1000)
      val asOf = java.time.Instant.now().plusSeconds(3600).toString
      assert(spark.read.format("graft-manifest").option("path", t)
        .option("as-of", asOf).load().count() === 1500)
      // SQL surface: the table is a USING citizen
      spark.sql(s"CREATE OR REPLACE TEMPORARY VIEW mfi_sql " +
        s"USING `graft-manifest` OPTIONS (path '$t')")
      assert(spark.sql("SELECT count(*) FROM mfi_sql WHERE id < 10")
        .head().getLong(0) === 10)
      // the streaming source resolves by short name too
      val q = spark.readStream.format("manifest-changes")
        .option("path", t).load()
        .writeStream.format("memory").queryName("mfi_stream").start()
      try {
        q.processAllAvailable()
        assert(spark.sql("SELECT count(*) FROM mfi_stream").head()
          .getLong(0) === 1500)
      } finally q.stop()
    }
  }

  test("timestamp literals translate into the stats domain: a time-range " +
      ".where() prunes files written with TIMESTAMP_MICROS stats") {
    withTable { t =>
      val prev = spark.conf.getOption("spark.sql.parquet.outputTimestampType")
      spark.conf.set("spark.sql.parquet.outputTimestampType",
        "TIMESTAMP_MICROS")
      try {
        LayoutOps.writeManifested(spark.range(1000).select(col("id"),
            to_timestamp(lit("2020-01-01 00:00:00"))
              .plus(expr("make_interval(0, 0, 0, 0, id, 0, 0)")).as("ts")), t,
          numFiles = 4, statsCols = Seq("ts"), clusterBy = Seq("ts"))
      } finally prev match {
        case Some(v) =>
          spark.conf.set("spark.sql.parquet.outputTimestampType", v)
        case None =>
          spark.conf.unset("spark.sql.parquet.outputTimestampType")
      }
      // hours 0..999 over 4 files of 250 hours each; a 100-hour window
      // lands in one file
      val q = LayoutOps.readManifested(spark, t)
        .where(col("ts") >= to_timestamp(lit("2020-01-02 00:00:00")) &&
          col("ts") < to_timestamp(lit("2020-01-06 04:00:00")))
      assert(q.count() === 100)
      assert(scannedFiles(q) === 1, "timestamp range must prune to 1 file")
    }
  }

  test("above the distributed-prune threshold, lazy listFiles makes " +
      "identical decisions to the driver loop") {
    withTable { t =>
      LayoutOps.writeManifested(spark.range(2000)
          .select(col("id"), (col("id") % 5).as("m")), t,
        numFiles = 8, statsCols = Seq("id"), clusterBy = Seq("id"))
      val driverPath = LayoutOps.readManifested(spark, t)
        .where(col("id").between(300, 700))
      val driverFiles = scannedFiles(driverPath)
      val driverCount = driverPath.count()
      val saved = LayoutOps.distributedPruneThreshold
      try {
        LayoutOps.distributedPruneThreshold = 1 // force the executor path
        val dist = LayoutOps.readManifested(spark, t)
          .where(col("id").between(300, 700))
        assert(scannedFiles(dist) === driverFiles)
        assert(dist.count() === driverCount)
      } finally LayoutOps.distributedPruneThreshold = saved
    }
  }

  test("planning is zero-filesystem-stat: fabricated FileStatus carries " +
      "the manifest-recorded length, and sizeInBytes sums it") {
    withTable { t =>
      LayoutOps.writeManifested(spark.range(500).toDF("id"), t,
        numFiles = 2, statsCols = Seq("id"))
      val root = new org.apache.hadoop.fs.Path(t)
      val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val entries = LayoutOps.readManifestEntries(fs,
        new org.apache.hadoop.fs.Path(t + "/_manifests",
          f"${0L}%020d.manifest"))
      // every modern entry records __bytes, and it matches the real file
      entries.foreach { l =>
        val rec = LayoutOps.entryBytes(l)
        assert(rec.nonEmpty, l)
        val real = fs.getFileStatus(new org.apache.hadoop.fs.Path(root,
          LayoutOps.entryPath(l))).getLen
        assert(rec.get === real, l)
      }
      val idx = new graft.plans.ManifestFileIndex(spark, root, entries,
        org.apache.spark.sql.types.StructType.fromDDL("id BIGINT"))
      assert(idx.sizeInBytes === entries.flatMap(LayoutOps.entryBytes).sum)
      assert(idx.inputFiles.length === 2)
    }
  }

  test("schema-less (pre-#schema=) manifests infer their schema from the " +
      "listed files and scan through the same pruning index") {
    withTable { t =>
      LayoutOps.writeManifested(spark.range(1000)
          .select(col("id"), (col("id") % 7).as("v")), t,
        numFiles = 4, statsCols = Seq("id"), clusterBy = Seq("id"))
      LayoutOps.appendManifested(spark.range(1000, 1200)
          .select(col("id"), (col("id") % 7).as("v")), t,
        numFiles = 1, statsCols = Seq("id"))
      // strip the #schema= header from every manifest — the shape of a
      // table committed before manifests recorded schemas
      val md = new java.io.File(s"$t/_manifests")
      md.listFiles().filter(_.getName.endsWith("manifest")).foreach { f =>
        val lines = new String(
          java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
          .split("\n").filterNot(_.startsWith("#schema="))
        java.nio.file.Files.write(f.toPath,
          (lines.mkString("\n") + "\n").getBytes("UTF-8"))
        val crc = new java.io.File(md, s".${f.getName}.crc")
        if (crc.exists()) crc.delete(): Unit
      }
      assert(!LayoutOps.describeManifest(spark, t).exists(_.startsWith("schema:")))
      val all = LayoutOps.readManifested(spark, t)
      assert(all.columns.toSeq === Seq("id", "v"))
      assert(all.count() === 1200)
      val bounds = Seq(ColBounds("id", Some(100L), Some(300L)))
      assert(LayoutOps.readManifestedWhere(spark, t, bounds).collect()
          .map(_.getLong(0)).sorted.toSeq ===
        all.where(col("id").between(100L, 300L)).collect()
          .map(_.getLong(0)).sorted.toSeq)
      val (kept, total) = LayoutOps.manifestSkipFiles(spark, t, bounds)
      assert(total === 5 && kept.size < total)
      assert(scannedFiles(LayoutOps.readManifestedWhere(spark, t, bounds)) ===
        kept.size.toLong, "the bounded read must still prune files")
    }
  }
}
