package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoders, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Structured Streaming re-expressions of the engine's batch time-series
  * surface (SURVEY.md §2.9 — a capability extension; the reference has no
  * streaming).
  *
  * Scale notes: windowed counts shuffle on (window, key) with partial
  * aggregation; the watermark bounds state. Sessionization state lives in
  * the state store keyed by user — with event-time timeout so abandoned
  * sessions close and their state is freed (unbounded state is the classic
  * streaming-job killer at 100 TB/day ingest).
  */
object StreamingOps {

  /** Tumbling 1-hour event counts with a watermark for late data.
    * Works identically on a batch DataFrame (watermark is a no-op there) —
    * one definition serves both the backfill and the live pipeline.
    */
  def hourlyCountsStream(events: DataFrame, tsCol: String,
                         watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark(tsCol, watermark)
      .groupBy(window(col(tsCol), "1 hour").as("w"))
      .agg(count(lit(1)).as("cnt"))
      .select(col("w.start").as("hour_start"), col("cnt"))

  case class Event(user_id: Long, ts: java.sql.Timestamp, value: Double)
  case class SessionState(sessionId: Long, lastTsMs: Long, nEvents: Int,
                          startTsMs: Long)
  case class SessionOut(user_id: Long, session_id: Long, n_events: Int,
                        start_ts_ms: Long, end_ts_ms: Long, closed: Boolean)

  /** Stateful gap-based sessionization: an event more than `gapMinutes`
    * after the previous one starts a new session; completed sessions are
    * emitted when superseded or on event-time timeout. Batch analogue:
    * [[graft.operators.TimeSeriesOps.sessionize]] (lag + running sum).
    */
  def sessionizeStream(events: Dataset[Event], gapMinutes: Int = 30):
      Dataset[SessionOut] = {
    implicit val stateEnc = Encoders.product[SessionState]
    implicit val outEnc = Encoders.product[SessionOut]
    val gapMs = gapMinutes * 60000L
    events
      .withWatermark("ts", s"$gapMinutes minutes")
      .groupByKey(_.user_id)(Encoders.scalaLong)
      .flatMapGroupsWithState[SessionState, SessionOut](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (user: Long, it: Iterator[Event], state: GroupState[SessionState]) =>
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator(SessionOut(user, s.sessionId, s.nEvents, s.startTsMs,
              s.lastTsMs, closed = true))
          } else {
            val sorted = it.toSeq.sortBy(_.ts.getTime)
            var cur = state.getOption
            val closed = scala.collection.mutable.ArrayBuffer.empty[SessionOut]
            sorted.foreach { e =>
              val t = e.ts.getTime
              cur match {
                case Some(s) if t - s.lastTsMs <= gapMs =>
                  cur = Some(s.copy(lastTsMs = math.max(s.lastTsMs, t),
                    nEvents = s.nEvents + 1))
                case Some(s) =>
                  closed += SessionOut(user, s.sessionId, s.nEvents,
                    s.startTsMs, s.lastTsMs, closed = true)
                  cur = Some(SessionState(s.sessionId + 1, t, 1, t))
                case None =>
                  cur = Some(SessionState(0L, t, 1, t))
              }
            }
            cur.foreach { s =>
              state.update(s)
              state.setTimeoutTimestamp(s.lastTsMs + gapMs)
            }
            closed.iterator
          }
      }
  }

  /** Streaming exact dedup: drop rows whose `keyCols` were already seen,
    * with state bounded by the watermark (a duplicate arriving later than
    * `watermark` after the original may pass — the standard bounded-state
    * trade-off; unbounded dropDuplicates state is the other option and a
    * memory leak at 100 TB/day). Batch analogue:
    * [[graft.operators.DedupOps.exactDedup]].
    */
  def streamingDedup(events: DataFrame, tsCol: String, keyCols: Seq[String],
                     watermark: String = "1 hour"): DataFrame =
    events
      .withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark(keyCols)

  /** Streaming regex-filtered hourly counts — the egypt/cairo pipeline
    * (P6) as a live query. */
  def filteredHourlyStream(events: DataFrame, tsCol: String, filterCol: String,
                           pattern: String, watermark: String = "2 hours"): DataFrame =
    hourlyCountsStream(events.where(col(filterCol).rlike(pattern)), tsCol, watermark)

  /** Windowed approximate distinct count on a stream: the SAME HllSketch
    * Aggregator the batch surface uses, inside a watermarked tumbling
    * window. Exact streaming distinct needs per-key state proportional to
    * the distinct count; the sketch caps it at 2^p bytes per window — the
    * difference between a state store that grows forever and one that
    * doesn't. Because the sketch is deterministic in the hash set, the
    * streaming estimate EQUALS the batch estimate over the same rows
    * (spec'd), so backfill and live pipelines agree.
    */
  def windowedDistinctStream(events: DataFrame, tsCol: String, hashCol: String,
                             windowLen: String = "1 hour",
                             watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark(tsCol, watermark)
      .groupBy(window(col(tsCol), windowLen).as("w"))
      .agg(round(graft.functions.HllSketch.hllDistinct(col(hashCol), 8), 6)
        .as("distinct_est"))
      .select(col("w.start").as("window_start"), col("distinct_est"))

  /** Stream-STREAM interval join: match rows of two live streams on a key
    * within a bounded event-time interval (right.ts in
    * [left.ts - before, left.ts + after]). The time bound is what makes
    * this runnable at all: both sides' state stores hold only the
    * watermark+interval window, so state is O(rate x window), not O(all
    * history). Column names must be disjoint apart from the key; the two
    * timestamp columns keep their own names.
    *
    * The classic use: impressions joined to clicks within 10 minutes —
    * the streaming cousin of the batch as-of join (JoinOps).
    */
  def intervalJoinStreams(left: DataFrame, right: DataFrame, keyCol: String,
                          leftTsCol: String, rightTsCol: String,
                          before: String = "0 seconds",
                          after: String = "10 minutes",
                          leftWatermark: String = "1 hour",
                          rightWatermark: String = "1 hour"): DataFrame = {
    val l = left.withWatermark(leftTsCol, leftWatermark)
    val r = right.withWatermark(rightTsCol, rightWatermark)
    l.join(r,
      l(keyCol) === r(keyCol) &&
        r(rightTsCol) >= l(leftTsCol) - expr(s"INTERVAL $before") &&
        r(rightTsCol) <= l(leftTsCol) + expr(s"INTERVAL $after"))
      .drop(r(keyCol))
  }

  /** Stream-static enrichment: join a live stream against a broadcast
    * dimension table (the standard lookup shape — user profile, device
    * registry). The static side is re-read per micro-batch by Spark's
    * planner; broadcasting keeps every micro-batch shuffle-free, which is
    * the property that matters when the stream side is unbounded. */
  def enrichStream(stream: DataFrame, dim: DataFrame, keyCol: String,
                   joinType: String = "left_outer"): DataFrame =
    stream.join(org.apache.spark.sql.functions.broadcast(dim),
      Seq(keyCol), joinType)

  /** `foreachBatch` sink appending each micro-batch to a
    * manifest-committed table ([[graft.operators.LayoutOps]]), with the
    * micro-batch id as the idempotence token: a restarted query replaying
    * its last batch commits nothing the second time, so the table sees
    * each batch exactly once — the object-store-safe incremental-ingest
    * shape (plain `writeStream.format("parquet")` relies on a
    * rename-based commit log on the table path itself).
    * Usage: `stream.writeStream.foreachBatch(manifestedBatchSink(path))`.
    * `statsCols`/`clusterBy` flow through to the manifest commit so the
    * ingested table is skippable from the first batch; `clusterBy` is
    * also RECORDED in the table's manifest header, so later compaction /
    * CoW maintenance re-clusters through the same layout.
    */
  def manifestedBatchSink(path: String, statsCols: Seq[String] = Nil,
      clusterBy: Seq[String] = Nil): (Dataset[Row], Long) => Unit =
    (batch, batchId) =>
      graft.operators.LayoutOps.appendManifested(
        batch.toDF(), path, token = Some(s"batch-$batchId"),
        statsCols = statsCols, clusterBy = clusterBy)

  /** Stream a manifested table's CHANGE FEED: each micro-batch is the
    * rows new generations appended (first batch = full snapshot) —
    * offsets are generation numbers, replay-exact. See
    * [[ManifestChangeSource]] for rewrite/vacuum/schema caveats. */
  def readStreamManifested(spark: org.apache.spark.sql.SparkSession,
      path: String, ignoreRewrites: Boolean = false,
      maxGenerationsPerBatch: Option[Long] = None): DataFrame = {
    val r = spark.readStream
      .format(classOf[ManifestChangeSourceProvider].getName)
      .option("path", path)
      .option("ignore-rewrites", ignoreRewrites.toString)
    maxGenerationsPerBatch
      .foreach(c => r.option("max-generations-per-batch", c.toString))
    r.load()
  }

  /** Streaming incremental dedup: flag each streamed document whose
    * bag-of-words fingerprint already exists in a STATIC corpus — the live
    * half of [[graft.operators.DedupOps.dedupAgainstCorpus]] (exact tier
    * only; fuzzy refinement stays a batch concern).
    *
    * Two corpus representations, chosen by `bloomBits`:
    *
    *  - `None` (exact): the corpus collapses to a DISTINCT fingerprint
    *    relation broadcast into every micro-batch — `status` is
    *    `exact`/`new` with no error. The static side is re-planned per
    *    batch (Spark's stream-static contract), so corpus updates between
    *    batches are picked up; the cost is a corpus-side aggregation per
    *    trigger — fine when the fingerprint relation is broadcastable.
    *  - `Some(bits)` (bloom): the corpus folds ONCE, at stream-definition
    *    time, into a fixed `bits`-bit bloom filter that enters the plan as
    *    a literal array — per-batch work is pure column arithmetic, zero
    *    joins, zero corpus re-reads; the right shape when the corpus is
    *    100 TB and the fingerprint set itself cannot broadcast. One-sided
    *    error: every true duplicate is flagged (`maybe_dup`), a small
    *    false-hit rate flags fresh docs — downstream either accepts the
    *    over-drop or confirms against the corpus offline. A frozen model
    *    by design: rebuild the stream to fold in corpus growth.
    */
  def streamingDedupAgainstCorpus(stream: DataFrame, corpus: DataFrame,
                                  textCol: String,
                                  bloomBits: Option[Int] = None,
                                  numHashes: Int = 3): DataFrame = {
    import graft.functions.BloomSketch
    import graft.operators.{DedupOps, PipelineOps}
    val fp = DedupOps.tokenSetFingerprint(col(textCol))
    bloomBits match {
      case None =>
        val known = corpus.select(fp.as("__fp")).distinct()
          .withColumn("__known", lit(true))
        stream.withColumn("__fp", fp)
          .join(org.apache.spark.sql.functions.broadcast(known),
            Seq("__fp"), "left_outer")
          .withColumn("status",
            when(col("__known"), lit("exact")).otherwise(lit("new")))
          .drop("__fp", "__known")
      case Some(bits) =>
        BloomSketch.requireBits(bits)
        val h = PipelineOps.hash60(fp)
        val words: Seq[Long] = corpus.agg(BloomSketch.bloom(h, bits, numHashes))
          .head().getSeq[Long](0)
        val hit = BloomSketch.mightContain(array(words.map(lit): _*), h, bits,
          numHashes)
        stream.withColumn("status",
          when(hit, lit("maybe_dup")).otherwise(lit("new")))
    }
  }
}
