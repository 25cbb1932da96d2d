package graft
package queries

import org.apache.spark.sql.functions._
import graft.operators._
import Common._

/** Z-order values and the manifest table format. Scan-light: the wide
  * split, except q_zorder, which measured faster on the text split. */
private[queries] object LayoutQueries {
  val specs: Seq[QuerySpec] = QuerySpec.family(ScanSplit.light)(
    // z-order clustering values (write-layout op): morton interleave of
    // (user_id, value bucket) — pure codegen arithmetic
    QuerySpec("q_zorder", (s, dir) =>
      events(s, dir).select(col("event_id"),
        LayoutOps.zValue(LayoutOps.boundedBucket(col("user_id")),
          LayoutOps.boundedBucket(floor(col("value")).cast("long"))).as("z")),
      """SELECT event_id,
        |  CAST(list_sum([(((user_id & 2097151) >> i) & 1) * (1::BIGINT << (2*i))
        |    + (((CAST(floor(value) AS BIGINT) & 2097151) >> i) & 1)
        |      * (1::BIGINT << (2*i + 1))
        |    FOR i IN generate_series(0, 20)]) AS BIGINT) AS z
        |FROM events""".stripMargin, confs = ScanSplit.text),
    // manifest-committed table with file-level column stats: orders is
    // written range-clustered on o_orderkey (8 files, disjoint key slices),
    // then a narrow key-range read plans from the MANIFEST — files whose
    // [min,max] cannot match are skipped without opening them — and must
    // still equal the plain filtered table the oracle computes
    QuerySpec("q_manifest_skip", (s, dir) => {
      val tbl = scratchDir("graft-mskip") + "/orders"
      LayoutOps.writeManifested(Tables.orders(s, dir), tbl, numFiles = 8,
        statsCols = Seq("o_orderkey"), clusterBy = Seq("o_orderkey"))
      LayoutOps.readManifestedWhere(s, tbl,
        Seq(LayoutOps.ColBounds("o_orderkey", Some(1000L), Some(5000L))))
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n"),
          round(sum(col("o_totalprice")), 2).as("total"),
          min(col("o_orderkey")).as("min_key"),
          max(col("o_orderkey")).as("max_key"))
    },
      """SELECT o_orderstatus, count(*) AS n,
        |  round(sum(o_totalprice), 2) AS total,
        |  min(o_orderkey) AS min_key, max(o_orderkey) AS max_key
        |FROM orders WHERE o_orderkey BETWEEN 1000 AND 5000
        |GROUP BY o_orderstatus""".stripMargin),
    // append-only change feed: the delta between generation 0 and the
    // latest must be exactly the appended rows — verified against the
    // oracle recomputing the same split from the raw table
    QuerySpec("q_manifest_changes", (s, dir) => {
      val tbl = scratchDir("graft-mchg") + "/orders"
      val ord = Tables.orders(s, dir)
      LayoutOps.writeManifested(
        ord.where(col("o_orderkey") <= 3000), tbl, numFiles = 2)
      LayoutOps.appendManifested(
        ord.where(col("o_orderkey") > 3000), tbl, numFiles = 4)
      val (delta, gen) = LayoutOps.readManifestedChanges(s, tbl, 0L)
      require(gen == 1L, s"expected generation 1, got $gen")
      delta.groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n"),
          round(sum(col("o_totalprice")), 2).as("total"))
    },
      """SELECT o_orderstatus, count(*) AS n,
        |  round(sum(o_totalprice), 2) AS total
        |FROM orders WHERE o_orderkey > 3000
        |GROUP BY o_orderstatus""".stripMargin),
    // additive schema evolution: the appended batch carries a column the
    // original table lacked; old files read it back as NULL through the
    // recorded union schema — the oracle reproduces that with a CASE
    QuerySpec("q_manifest_evolve", (s, dir) => {
      val tbl = scratchDir("graft-mevo") + "/orders"
      val ord = Tables.orders(s, dir)
      LayoutOps.writeManifested(ord.where(col("o_orderkey") <= 3000)
        .select(col("o_orderkey"), col("o_orderstatus")), tbl, numFiles = 2)
      LayoutOps.appendManifested(ord.where(col("o_orderkey") > 3000)
        .select(col("o_orderkey"), col("o_orderstatus"),
          col("o_totalprice")), tbl, numFiles = 2)
      LayoutOps.readManifested(s, tbl)
        .select(col("o_orderkey"), col("o_orderstatus"),
          round(col("o_totalprice"), 2).as("price"))
    },
      """SELECT o_orderkey, o_orderstatus,
        |  CASE WHEN o_orderkey <= 3000 THEN NULL
        |       ELSE round(o_totalprice, 2) END AS price
        |FROM orders""".stripMargin),
    // metadata-only COUNT: files fully inside the range are counted from
    // the manifest's recorded row counts; only boundary files are scanned
    QuerySpec("q_manifest_count", (s, dir) => {
      val tbl = scratchDir("graft-mcnt") + "/orders"
      LayoutOps.writeManifested(Tables.orders(s, dir), tbl, numFiles = 8,
        statsCols = Seq("o_orderkey"), clusterBy = Seq("o_orderkey"))
      val (inRange, _) = LayoutOps.countManifestedWhere(s, tbl,
        Seq(LayoutOps.ColBounds("o_orderkey", Some(1000L), Some(5000L))))
      // unbounded count over a fully stats'd table: zero files scanned
      val (total, scanned) = LayoutOps.countManifestedWhere(s, tbl)
      require(scanned == 0, s"count(*) must be metadata-only, scanned $scanned")
      import s.implicits._
      Seq((inRange, total)).toDF("in_range", "total")
    },
      """SELECT (SELECT count(*) FROM orders
        |        WHERE o_orderkey BETWEEN 1000 AND 5000) AS in_range,
        |       (SELECT count(*) FROM orders) AS total""".stripMargin),
    // per-file bloom skipping: orders is clustered by o_orderkey, so
    // every file's o_custkey RANGE covers the whole domain — only the
    // manifest blooms can prune this point lookup; result must equal the
    // oracle's plain equality filter
    QuerySpec("q_manifest_point", (s, dir) => {
      val tbl = scratchDir("graft-mpt") + "/orders"
      LayoutOps.writeManifested(Tables.orders(s, dir), tbl, numFiles = 8,
        statsCols = Seq("o_orderkey"), clusterBy = Seq("o_orderkey"),
        bloomCols = Seq("o_custkey"))
      LayoutOps.readManifestedWhere(s, tbl,
        Seq(LayoutOps.ColBounds("o_custkey", Some(101L), Some(101L))))
        .select(col("o_orderkey"), col("o_orderstatus"),
          round(col("o_totalprice"), 2).as("price"))
    },
      """SELECT o_orderkey, o_orderstatus, round(o_totalprice, 2) AS price
        |FROM orders WHERE o_custkey = 101""".stripMargin),
    // copy-on-write delete targeted by the manifest stats: only the files
    // whose [min,max] overlap the key range are rewritten; the remaining
    // table must equal the oracle's NOT BETWEEN
    QuerySpec("q_manifest_delete", (s, dir) => {
      val tbl = scratchDir("graft-mdel") + "/orders"
      LayoutOps.writeManifested(Tables.orders(s, dir), tbl, numFiles = 8,
        statsCols = Seq("o_orderkey"), clusterBy = Seq("o_orderkey"))
      LayoutOps.deleteManifestedWhere(s, tbl,
        Seq(LayoutOps.ColBounds("o_orderkey", Some(1000L), Some(5000L))))
      LayoutOps.readManifested(s, tbl)
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n"),
          round(sum(col("o_totalprice")), 2).as("total"))
    },
      """SELECT o_orderstatus, count(*) AS n,
        |  round(sum(o_totalprice), 2) AS total
        |FROM orders WHERE o_orderkey NOT BETWEEN 1000 AND 5000
        |GROUP BY o_orderstatus""".stripMargin),
    // copy-on-write upsert: a key-clustered batch replaces its rows in
    // place (only overlapping files rewritten); result must equal the
    // oracle's CASE rewrite of the same rows
    QuerySpec("q_manifest_upsert", (s, dir) => {
      val tbl = scratchDir("graft-mups") + "/orders"
      LayoutOps.writeManifested(Tables.orders(s, dir), tbl, numFiles = 8,
        statsCols = Seq("o_orderkey"), clusterBy = Seq("o_orderkey"))
      val updates = Tables.orders(s, dir)
        .where(col("o_orderkey").between(1000, 2000))
        .withColumn("o_totalprice", lit(1.0))
      LayoutOps.upsertManifested(updates, tbl, "o_orderkey")
      LayoutOps.readManifested(s, tbl)
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n"),
          round(sum(col("o_totalprice")), 2).as("total"))
    },
      """SELECT o_orderstatus, count(*) AS n,
        |  round(sum(o_totalprice), 2) AS total
        |FROM (SELECT o_orderstatus,
        |        CASE WHEN o_orderkey BETWEEN 1000 AND 2000
        |             THEN 1.0 ELSE o_totalprice END AS o_totalprice
        |      FROM orders)
        |GROUP BY o_orderstatus""".stripMargin),
    // timestamp-range skipping: o_orderdate written as TIMESTAMP_MICROS
    // (the spec's conf; Spark's INT96 default records no footer stats) so per-file
    // min/max cover micros ranges, and the lazy path translates the
    // query's own timestamp literals (session tz UTC) into the stats
    // domain — the time-series retention-scan shape
    QuerySpec("q_manifest_tsrange", (s, dir) => {
      val tbl = scratchDir("graft-mts") + "/orders"
      LayoutOps.writeManifested(Tables.orders(s, dir), tbl,
        numFiles = 8, statsCols = Seq("o_orderdate"),
        clusterBy = Seq("o_orderdate"))
      LayoutOps.readManifested(s, tbl)
        .where(col("o_orderdate") >= to_timestamp(lit("1996-01-01 00:00:00"))
          && col("o_orderdate") < to_timestamp(lit("1998-01-01 00:00:00")))
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n"),
          round(sum(col("o_totalprice")), 2).as("total"),
          min(col("o_orderdate")).as("first_d"),
          max(col("o_orderdate")).as("last_d"))
    },
      """SELECT o_orderstatus, count(*) AS n,
        |  round(sum(o_totalprice), 2) AS total,
        |  min(o_orderdate) AS first_d, max(o_orderdate) AS last_d
        |FROM orders
        |WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
        |GROUP BY o_orderstatus""".stripMargin,
      confs = Map("spark.sql.parquet.outputTimestampType" -> "TIMESTAMP_MICROS")),
    // dimension-driven semi-join pruning: the probe keys come from a
    // DIMENSION query (small by construction), re-enter the plan as an
    // IN list, and the lazy FileIndex prunes fact files per key through
    // the per-file blooms — the "read only this user's files" shape; the
    // oracle is the equivalent IN-subquery
    QuerySpec("q_manifest_semijoin", (s, dir) => {
      val tbl = scratchDir("graft-msj") + "/orders"
      LayoutOps.writeManifested(Tables.orders(s, dir), tbl, numFiles = 8,
        statsCols = Seq("o_orderkey"), clusterBy = Seq("o_orderkey"),
        bloomCols = Seq("o_custkey"))
      val keys = Tables.customer(s, dir)
        .where(col("c_mktsegment") === "BUILDING" && col("c_custkey") <= 40)
        .select(col("c_custkey")).collect().map(_.getLong(0)).sorted
      LayoutOps.readManifested(s, tbl)
        .where(col("o_custkey").isin(keys: _*))
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n"),
          round(sum(col("o_totalprice")), 2).as("total"),
          count_distinct(col("o_custkey")).as("n_cust"))
    },
      """SELECT o_orderstatus, count(*) AS n,
        |  round(sum(o_totalprice), 2) AS total,
        |  count(DISTINCT o_custkey) AS n_cust
        |FROM orders WHERE o_custkey IN (
        |  SELECT c_custkey FROM customer
        |  WHERE c_mktsegment = 'BUILDING' AND c_custkey <= 40)
        |GROUP BY o_orderstatus""".stripMargin),
    // z-order manifest layout: the table is written along a Morton curve
    // of (o_custkey, o_orderkey), so each file covers a compact rectangle
    // of that 2-D space and a conjunctive range query on BOTH dimensions
    // prunes through the lazy FileIndex; a CoW delete in between proves
    // the curve survives maintenance
    QuerySpec("q_manifest_zorder", (s, dir) => {
      val tbl = scratchDir("graft-mz") + "/orders"
      LayoutOps.writeManifested(Tables.orders(s, dir), tbl, numFiles = 16,
        statsCols = Seq("o_custkey", "o_orderkey"),
        zOrderBy = Seq("o_custkey", "o_orderkey"))
      LayoutOps.deleteManifestedWhere(s, tbl,
        Seq(LayoutOps.ColBounds("o_orderkey", Some(50000L), None)))
      LayoutOps.readManifested(s, tbl)
        .where(col("o_custkey").between(100L, 400L) &&
          col("o_orderkey").between(2000L, 20000L))
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n"),
          round(sum(col("o_totalprice")), 2).as("total"),
          max(col("o_custkey")).as("max_cust"))
    },
      """SELECT o_orderstatus, count(*) AS n,
        |  round(sum(o_totalprice), 2) AS total,
        |  max(o_custkey) AS max_cust
        |FROM orders
        |WHERE o_orderkey < 50000
        |  AND o_custkey BETWEEN 100 AND 400
        |  AND o_orderkey BETWEEN 2000 AND 20000
        |GROUP BY o_orderstatus""".stripMargin),
    // lazy Catalyst-time file skipping: readManifested scans through a
    // manifest-backed FileIndex, so this plain .where() prunes data files
    // from the query's own predicate during physical planning (range
    // stats + blooms) — no bounds API involved; hash-compared against
    // the relational answer
    QuerySpec("q_manifest_lazy", (s, dir) => {
      val tbl = scratchDir("graft-mlazy") + "/orders"
      LayoutOps.writeManifested(Tables.orders(s, dir), tbl, numFiles = 8,
        statsCols = Seq("o_orderkey"), clusterBy = Seq("o_orderkey"),
        bloomCols = Seq("o_custkey"))
      LayoutOps.readManifested(s, tbl)
        .where(col("o_orderkey").between(1000L, 5000L) &&
          col("o_custkey") =!= 7L)
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n"),
          round(sum(col("o_totalprice")), 2).as("total"),
          min(col("o_orderkey")).as("min_key"),
          max(col("o_orderkey")).as("max_key"))
    },
      """SELECT o_orderstatus, count(*) AS n,
        |  round(sum(o_totalprice), 2) AS total,
        |  min(o_orderkey) AS min_key, max(o_orderkey) AS max_key
        |FROM orders
        |WHERE o_orderkey BETWEEN 1000 AND 5000 AND o_custkey <> 7
        |GROUP BY o_orderstatus""".stripMargin),
    // metadata-only rollback: a bad append is undone by re-committing the
    // good generation's listing (zero data I/O); the restored table must
    // equal the oracle computing the ORIGINAL split from the raw table
    QuerySpec("q_manifest_rollback", (s, dir) => {
      val tbl = scratchDir("graft-mrb") + "/orders"
      val ord = Tables.orders(s, dir)
      LayoutOps.writeManifested(ord.where(col("o_orderkey") <= 3000),
        tbl, numFiles = 4, statsCols = Seq("o_orderkey"),
        clusterBy = Seq("o_orderkey"))
      // the "bad batch": wrong prices land in generation 1
      LayoutOps.appendManifested(ord.where(col("o_orderkey") > 3000)
        .withColumn("o_totalprice", lit(-1.0)), tbl, numFiles = 2)
      val g = LayoutOps.rollbackManifested(s, tbl, 0L)
      require(g == 2L, s"rollback must commit a NEW generation, got $g")
      LayoutOps.readManifested(s, tbl)
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n"),
          round(sum(col("o_totalprice")), 2).as("total"),
          max(col("o_orderkey")).as("max_key"))
    },
      """SELECT o_orderstatus, count(*) AS n,
        |  round(sum(o_totalprice), 2) AS total,
        |  max(o_orderkey) AS max_key
        |FROM orders WHERE o_orderkey <= 3000
        |GROUP BY o_orderstatus""".stripMargin),
    // streaming manifested ingest: a FILE stream source (public API — no
    // internal MemoryStream seam in the gated plan) discovers three
    // staged parquet drops of a known orders split and feeds them through
    // the foreachBatch manifest sink — one token-committed generation per
    // micro-batch (exactly-once under replay, proven in LayoutOpsSpec) —
    // and the settled table must equal the oracle's plain filter over the
    // raw table. Staged-drop feeding is exactly how production ingest
    // lands: files appear, the stream picks them up.
    // the change-feed SOURCE (CDC read side): a manifested table built in
    // three generations is consumed as a stream — snapshot batch + one
    // batch per append, offsets = generations; the union of all delivered
    // batches must equal the table, hash-compared against the oracle
    QuerySpec("q_manifest_cdc", (s, dir) => {
      val base = scratchDir("graft-mcdc")
      val tbl = base + "/orders"
      val ord = Tables.orders(s, dir)
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
      LayoutOps.writeManifested(ord.where(col("o_orderkey") <= 2000), tbl,
        numFiles = 2, statsCols = Seq("o_orderkey"),
        clusterBy = Seq("o_orderkey"))
      LayoutOps.appendManifested(ord.where(col("o_orderkey") > 2000 &&
        col("o_orderkey") <= 4000), tbl, numFiles = 2)
      LayoutOps.appendManifested(ord.where(col("o_orderkey") > 4000), tbl,
        numFiles = 2)
      val q = graft.streaming.StreamingOps.readStreamManifested(s, tbl)
        .writeStream.format("memory").queryName("mcdc")
        .option("checkpointLocation", base + "/_ckpt")
        .outputMode("append").start()
      try q.processAllAvailable() finally q.stop()
      s.sql("SELECT * FROM mcdc")
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n"),
          round(sum(col("o_totalprice")), 2).as("total"),
          max(col("o_orderkey")).as("max_key"))
    },
      """SELECT o_orderstatus, count(*) AS n,
        |  round(sum(o_totalprice), 2) AS total,
        |  max(o_orderkey) AS max_key
        |FROM orders GROUP BY o_orderstatus""".stripMargin),
    QuerySpec("q_manifest_stream", (s, dir) => {
      val base = scratchDir("graft-mstr")
      val tbl = base + "/orders"
      val staging = new java.io.File(base, "staging")
      staging.mkdirs()
      val ord = Tables.orders(s, dir).where(col("o_orderkey") <= 6000)
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
      val q = s.readStream.schema(ord.schema).parquet(staging.toString)
        .writeStream
        .option("checkpointLocation", base + "/_ckpt")
        .foreachBatch(graft.streaming.StreamingOps.manifestedBatchSink(tbl,
          statsCols = Seq("o_orderkey"), clusterBy = Seq("o_orderkey")))
        .outputMode("append").start()
      try {
        // three staged drops, each settled before the next lands: write
        // the chunk aside, then move its part-files into the watched dir
        // (the file source only ever sees complete files)
        Seq((Long.MinValue, 2000L), (2000L, 4000L), (4000L, 6000L))
          .zipWithIndex.foreach { case ((lo, hi), i) =>
            val tmp = new java.io.File(base, s"tmp$i")
            ord.where(col("o_orderkey") > lo && col("o_orderkey") <= hi)
              .coalesce(1).write.parquet(tmp.toString)
            tmp.listFiles().filter(_.getName.endsWith(".parquet"))
              .zipWithIndex.foreach { case (f, j) =>
                java.nio.file.Files.move(f.toPath,
                  new java.io.File(staging, s"drop$i-$j.parquet").toPath)
              }
            q.processAllAvailable()
          }
      } finally q.stop()
      // this gate's scratch tree holds three parquet copies of the
      // orders split — materialize the (3-row) aggregate and delete the
      // tree NOW rather than waiting for the JVM-exit hook
      val agg = LayoutOps.readManifested(s, tbl)
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n"),
          round(sum(col("o_totalprice")), 2).as("total"))
      val localRows = agg.collect().toIndexedSeq
      val schema = agg.schema
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(base))
      s.createDataFrame(
        new java.util.ArrayList[org.apache.spark.sql.Row](
          scala.jdk.CollectionConverters.SeqHasAsJava(localRows).asJava),
        schema)
    },
      """SELECT o_orderstatus, count(*) AS n,
        |  round(sum(o_totalprice), 2) AS total
        |FROM orders WHERE o_orderkey <= 6000
        |GROUP BY o_orderstatus""".stripMargin),
  )
}
