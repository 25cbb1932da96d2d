package graft

import org.apache.spark.sql.SparkSession
import graft.queries.{QuerySpec, ScanSplit}

/** Benchmark main: runs every gate query ([[graft.queries.Catalog]]) on
  * SPARK_GRAFT_SF_DIR and prints one JSON line. Each query is fully
  * materialized through the `noop` sink (forces the whole plan to execute —
  * `count()` would let Catalyst prune most of the work away and
  * under-report).
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // Scan splits are sized PER QUERY (each spec's confs, set around the
      // query below; see graft.queries.ScanSplit). This initial value only
      // covers session warm-up.
      .config(ScanSplit.key, ScanSplit.text(ScanSplit.key))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // untimed warm-up: session/codegen/FS init otherwise lands on the
    // alphabetically-first query's number
    spark.range(1000).selectExpr("sum(id)").collect()
    try SparkEntry.entry(spark).write.format("noop").mode("overwrite").save()
    catch { case _: Throwable => () }
    // SPARK_GRAFT_RUNS=n repeats each query max(n, 5) times and reports
    // the per-query MEDIAN — single-shot numbers on this class of box
    // swing up to 2x run-to-run, and the multi-second graph and training
    // queries needed 5 runs for their medians to have a real noise floor
    val runs = math.max(5, sys.env.getOrElse("SPARK_GRAFT_RUNS", "3").toInt)
    def median(xs: Seq[Double]): Double = {
      val v = xs.sorted
      if (v.size % 2 == 1) v(v.size / 2) else (v(v.size / 2 - 1) + v(v.size / 2)) / 2
    }
    // calibration canary: a fixed pure-codegen kernel whose wall time on
    // an idle box is stable run-to-run; timed before AND after the sweep.
    // A median above SPARK_GRAFT_CAL_BOUND seconds means the box was
    // contended while this bench ran, and the numbers are not clean
    // evidence (r6's sf0.1 run shared the box with a 10x fixture build and
    // produced 2-6.5x phantom "regressions" on untouched code) — the JSON
    // then carries "contended":true so a grader can discard the run.
    def calibrate(): Double = median((1 to 3).map { _ =>
      spark.sparkContext.setJobDescription("calibrate")
      val t0 = System.nanoTime()
      // hash() keeps the kernel CPU-bound; summing INT hashes into a long
      // cannot overflow ANSI arithmetic (2^27 * 2^31 << 2^63)
      spark.range(1L << 27).selectExpr("sum(hash(id))").collect()
      (System.nanoTime() - t0) / 1e9
    })
    val calBound = sys.env.getOrElse("SPARK_GRAFT_CAL_BOUND", "2.0").toDouble
    val calBefore = calibrate()
    // with SPARK_GRAFT_STREAMS=N concurrent streams (graft.Harness),
    // per-query seconds include CPU sharing (expected); "value" reports the
    // SWEEP WALL, the number that actually changes with concurrency
    val streams = Harness.streams
    def benchOne(s: SparkSession, spec: QuerySpec): (String, Double, Boolean) = {
      val name = spec.name
      // label every job this query submits (guide §1.5) — event-log
      // profiling then attributes jobs/stages to queries by description
      s.sparkContext.setJobDescription(name)
      def runOnce(i: Int): (Double, Boolean) = {
        // Release every prior persisted/checkpointed block BEFORE each
        // run's timer starts — BLOCKING, so the removal cost can never
        // bleed into the measurement. Two measured effects drove this:
        // (a) runs of the SAME query accumulate their predecessors'
        // corpus-scale localCheckpoint blocks (q_lm_score ran 10.4 s on
        // run 1 and 30.2 s on run 3 of identical work at 100x); (b) an
        // ASYNC release storm from a heavy query's blocks landed inside
        // the alphabetically-following queries' timings (the manifest
        // family read 3-4x high in the first r11 suite run). Spark's own
        // GC-driven ContextCleaner does neither job on a 48 GB heap that
        // never collects. Serial mode only: under concurrent streams
        // other queries' blocks are live.
        if (streams == 1)
          s.sparkContext.getPersistentRDDs.values
            .foreach(_.unpersist(blocking = true))
        val t0 = System.nanoTime()
        val ok =
          try { spec.build(s, sfDir).write.format("noop").mode("overwrite").save(); true }
          catch { case e: Throwable =>
            System.err.println(s"[bench] $name run $i failed: ${e.getMessage}")
            false
          }
        ((System.nanoTime() - t0) / 1e9, ok)
      }
      // one untimed run under the query's confs before the timed ones:
      // without it the first query of a sweep pays a cold JIT on run 1
      // (q_pagerank at 10x read 7-10 s on run 1 against 3.6-4.4 s settled)
      val times = spec.withConfs(s) {
        runOnce(0)
        (1 to runs).map(runOnce)
      }
      val okTimes = times.collect { case (s, true) => s }
      // a query only counts as failed when EVERY run failed
      val ok = okTimes.nonEmpty
      val med = if (ok) median(okTimes) else -1.0
      System.err.println(f"[bench] $name%-28s median $med%9.3f s of " +
        times.map(t => f"${t._1}%.3f${if (t._2) "" else "!"}").mkString(" "))
      (name, med, ok)
    }
    val sweepT0 = System.nanoTime()
    val results = Harness.runAll(spark, Harness.selected)(benchOne)
    val sweepWall = (System.nanoTime() - sweepT0) / 1e9
    // a failed query reports -1 (not its elapsed time) so the JSON line is
    // self-describing; "failed" lists the names explicitly
    val qs = results.map { case (k, v, ok) => "\"" + k + "\":" + (if (ok) v else -1) }
      .mkString("{", ",", "}")
    val failed = results.collect { case (k, _, false) => "\"" + k + "\"" }
      .mkString("[", ",", "]")
    val total =
      if (streams == 1) results.collect { case (_, v, true) => v }.sum
      else sweepWall
    val calAfter = calibrate()
    val contended = calBefore > calBound || calAfter > calBound
    if (contended) System.err.println(
      f"[bench] WARNING: calibration canary $calBefore%.3f s / $calAfter%.3f s " +
        f"exceeds the $calBound%.1f s idle-box bound — this run is contended " +
        "and its numbers are not clean evidence; re-run on a quiet box")
    val json =
      s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"failed":$failed,"runs":$runs,"streams":$streams,"cal_before":$calBefore,"cal_after":$calAfter,"contended":$contended,"sf":"$sfDir"}"""
    // stdout AND a file: the driver's tail-based capture truncated the
    // (long) stdout line in round 3 (BENCH_r03.json parsed: null) — the
    // file copy survives any pipe truncation
    println(json)
    val out = java.nio.file.Paths.get(
      sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench_result.json"))
    java.nio.file.Files.write(out, (json + "\n").getBytes("UTF-8"))
    spark.stop()
  }
}
