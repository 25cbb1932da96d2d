package graft

import graft.operators.LayoutOps
import graft.streaming.StreamingOps
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryException

/** The manifest change-feed SOURCE: generations become micro-batch
  * offsets, the first batch is the snapshot, appends stream
  * incrementally, rewrites fail (or pass with ignore-rewrites), and a
  * checkpointed restart resumes from the committed generation. */
class ManifestStreamSpec extends SparkSpec {
  import spark.implicits._

  private def withDirs(test: (String, String, String) => Unit): Unit = {
    val base = java.nio.file.Files.createTempDirectory("graft-mcs").toString
    try test(s"$base/t", s"$base/ckpt", s"$base/ckpt2")
    finally org.apache.commons.io.FileUtils
      .deleteQuietly(new java.io.File(base))
  }

  test("snapshot + incremental appends; a history rewrite fails the " +
      "stream; ignore-rewrites forwards the window's added files") {
    withDirs { (t, ckpt, _) =>
      LayoutOps.writeManifested(spark.range(10).toDF("id"), t,
        numFiles = 2, statsCols = Seq("id"))
      val q = StreamingOps.readStreamManifested(spark, t)
        .writeStream.format("memory").queryName("mcs1")
        .option("checkpointLocation", ckpt).start()
      try {
        q.processAllAvailable()
        assert(spark.sql("SELECT count(*) FROM mcs1").head().getLong(0)
          === 10, "first batch must be the full snapshot")
        LayoutOps.appendManifested(spark.range(10, 25).toDF("id"), t)
        q.processAllAvailable()
        assert(spark.sql("SELECT count(*) FROM mcs1").head().getLong(0)
          === 25, "an append streams exactly its batch")
        assert(spark.sql("SELECT count(DISTINCT id) FROM mcs1").head()
          .getLong(0) === 25, "no duplicates across batches")
        // CoW delete rewrites history: the stream must refuse to guess
        LayoutOps.deleteManifestedWhere(spark, t,
          Seq(LayoutOps.ColBounds("id", Some(0L), Some(4L))))
        val e = intercept[StreamingQueryException] { q.processAllAvailable() }
        assert(Option(e.getCause).exists(c =>
          Option(c.getMessage).exists(_.contains("rewrote history"))),
          s"got: ${e.getCause}")
      } finally q.stop()
      // ignore-rewrites: a FRESH stream over the same table (new
      // checkpoint) sees snapshot; a rewrite mid-stream forwards only the
      // window's added (rewritten-survivor) files
      val ckptB = ckpt + "-b"
      val qb = StreamingOps.readStreamManifested(spark, t,
        ignoreRewrites = true)
        .writeStream.format("memory").queryName("mcs1b")
        .option("checkpointLocation", ckptB).start()
      try {
        qb.processAllAvailable()
        assert(spark.sql("SELECT count(*) FROM mcs1b").head().getLong(0)
          === 20) // 25 - 5 deleted
        LayoutOps.deleteManifestedWhere(spark, t,
          Seq(LayoutOps.ColBounds("id", Some(5L), Some(9L))))
        qb.processAllAvailable() // no exception: rewrite forwarded
        // the rewritten survivors re-emit (documented ignoreChanges-style
        // duplication): total grows by the rewritten files' survivors
        val n = spark.sql("SELECT count(*) FROM mcs1b").head().getLong(0)
        assert(n >= 20, s"stream must keep running, got $n rows")
        assert(LayoutOps.readManifested(spark, t).count() === 15)
      } finally qb.stop()
    }
  }

  test("max-generations-per-batch drains a backlog in bounded batches " +
      "instead of one catch-up batch") {
    withDirs { (t, ckpt, _) =>
      LayoutOps.writeManifested(spark.range(10).toDF("id"), t, numFiles = 1)
      val batchSizes = scala.collection.mutable.ArrayBuffer.empty[Long]
      val q = StreamingOps.readStreamManifested(spark, t,
        maxGenerationsPerBatch = Some(1L))
        .writeStream.option("checkpointLocation", ckpt)
        .foreachBatch { (b: org.apache.spark.sql.Dataset[
            org.apache.spark.sql.Row], _: Long) =>
          batchSizes.synchronized { batchSizes += b.count() }; ()
        }.start()
      try {
        q.processAllAvailable()
        assert(batchSizes.toSeq === Seq(10L), "uncapped initial snapshot")
        // a 3-generation backlog accumulates while the stream idles
        LayoutOps.appendManifested(spark.range(10, 12).toDF("id"), t)
        LayoutOps.appendManifested(spark.range(12, 15).toDF("id"), t)
        LayoutOps.appendManifested(spark.range(15, 19).toDF("id"), t)
        q.processAllAvailable()
        // cap=1: one generation per micro-batch, in commit order
        assert(batchSizes.toSeq === Seq(10L, 2L, 3L, 4L),
          s"backlog must drain generation-by-generation: $batchSizes")
      } finally q.stop()
    }
  }

  test("a restarted stream resumes from the checkpointed generation — " +
      "appends during downtime arrive exactly once") {
    withDirs { (t, ckpt, _) =>
      LayoutOps.writeManifested(spark.range(5).toDF("id"), t, numFiles = 1)
      // the memory sink cannot recover a checkpoint; foreachBatch can —
      // each run drains into its own buffer
      def run(sink: scala.collection.mutable.ArrayBuffer[Long]) = {
        val q = StreamingOps.readStreamManifested(spark, t)
          .writeStream.option("checkpointLocation", ckpt)
          .foreachBatch { (b: org.apache.spark.sql.Dataset[
              org.apache.spark.sql.Row], _: Long) =>
            sink.synchronized { sink ++= b.collect().map(_.getLong(0)) }; ()
          }.start()
        try q.processAllAvailable() finally q.stop()
      }
      val first = scala.collection.mutable.ArrayBuffer.empty[Long]
      run(first)
      assert(first.sorted.toSeq === (0L until 5L), s"snapshot: $first")
      // two appends while no stream is running
      LayoutOps.appendManifested(spark.range(5, 8).toDF("id"), t)
      LayoutOps.appendManifested(spark.range(8, 12).toDF("id"), t)
      val resumed = scala.collection.mutable.ArrayBuffer.empty[Long]
      run(resumed)
      // the RESUMED stream must deliver exactly the downtime window,
      // not the snapshot again
      assert(resumed.sorted.toSeq === (5L until 12L),
        s"resume must replay only generations after the checkpoint: $resumed")
    }
  }

  test("a schema-less (pre-#schema=) table streams under the schema batch " +
      "reads infer, batch for batch equal to readManifestedChanges") {
    withDirs { (t, ckpt, _) =>
      // strip the #schema= header from every manifest — the shape of a
      // table committed before manifests recorded schemas
      def stripSchema(): Unit = {
        val md = new java.io.File(s"$t/_manifests")
        md.listFiles().filter(_.getName.endsWith("manifest")).foreach { f =>
          val lines = new String(java.nio.file.Files.readAllBytes(f.toPath),
            "UTF-8").split("\n").filterNot(_.startsWith("#schema="))
          java.nio.file.Files.write(f.toPath,
            (lines.mkString("\n") + "\n").getBytes("UTF-8"))
          val crc = new java.io.File(md, s".${f.getName}.crc")
          if (crc.exists()) crc.delete(): Unit
        }
        assert(!LayoutOps.describeManifest(spark, t).exists(_.startsWith("schema:")))
      }
      def rows(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
      def batch(lo: Long, hi: Long) =
        spark.range(lo, hi).select(col("id"), (col("id") % 7).as("v"))
      LayoutOps.writeManifested(batch(0, 40), t, numFiles = 2)
      LayoutOps.appendManifested(batch(40, 50), t)
      stripSchema()
      val batches = scala.collection.mutable.ArrayBuffer.empty[Seq[(Long, Long)]]
      val q = StreamingOps.readStreamManifested(spark, t)
        .writeStream.option("checkpointLocation", ckpt)
        .foreachBatch { (b: org.apache.spark.sql.Dataset[
            org.apache.spark.sql.Row], _: Long) =>
          val got = rows(b)
          batches.synchronized { batches += got }; ()
        }.start()
      try {
        q.processAllAvailable()
        assert(batches.toSeq === Seq(rows(LayoutOps.readManifested(spark, t))),
          "the snapshot batch is the table")
        LayoutOps.appendManifested(batch(50, 65), t)
        stripSchema()
        q.processAllAvailable()
        val (changes, _) = LayoutOps.readManifestedChanges(spark, t, 1L)
        assert(batches.toSeq.drop(1) === Seq(rows(changes)),
          "the appended generation streams exactly its change feed")
        assert(batches(1) === (50L until 65L).map(i => (i, i % 7)))
      } finally q.stop()
    }
  }

  test("the reflective internalCreateDataFrame seam is pinned: the " +
      "signature resolves on this Spark, and a moved seam fails actionably") {
    val m = graft.streaming.ManifestChangeSource
      .resolveInternalCreateDataFrame(spark.getClass)
    assert(m.getParameterTypes.toSeq === Seq(
      classOf[org.apache.spark.rdd.RDD[_]],
      classOf[org.apache.spark.sql.types.StructType],
      java.lang.Boolean.TYPE))
    assert(classOf[org.apache.spark.sql.Dataset[_]]
      .isAssignableFrom(m.getReturnType),
      s"seam must hand back a DataFrame, got ${m.getReturnType}")
    // the failure path names the running Spark version and the seam, so
    // a minor-bump breakage tells the operator exactly what moved
    val e = intercept[IllegalStateException] {
      graft.streaming.ManifestChangeSource
        .resolveInternalCreateDataFrame(classOf[String])
    }
    assert(e.getMessage.contains(org.apache.spark.SPARK_VERSION))
    assert(e.getMessage.contains("internalCreateDataFrame"))
    assert(e.getCause.isInstanceOf[NoSuchMethodException])
  }
}
