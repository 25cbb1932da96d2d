package perfbench

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.file.{Files, Paths}
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.sun.management.GarbageCollectionNotificationInfo

import org.apache.commons.io.FileUtils
import org.apache.spark.sql.SparkSession

/** One benchmark JVM. `run.py` starts it, passing its own clock reading
  * from just before the launch, so set-up time includes JVM start.
  *
  * After set-up it runs one cold pass (the first pass in this JVM), which
  * writes each op's result to parquet for the oracle check, then warm
  * passes: as many as fit in --seconds at the workload's nominal pass
  * time (at least two), so that every run of a workload measures the same
  * number of passes at the same stage of JIT warm-up.
  * Before every warm pass, outside the timer, it isolates the pass
  * (persisted RDDs are released, blocking; scratch and checkpoint dirs are
  * deleted; tables are written under a fresh empty root), collects garbage
  * and then times a fixed calibration kernel. With --trace 1, passes
  * alternate between traced and untraced so the tracing overhead is
  * measured in the same JVM.
  *
  * Writes one JSON object to --out.
  */
object Main {
  /** Seconds after launch beyond which no optional warm pass starts. */
  private val LateS = 100.0
  private def arg(args: Array[String], k: String): Option[String] =
    args.sliding(2).collectFirst { case Array(`k`, v) => v }

  def main(args: Array[String]): Unit = {
    def need(k: String) = arg(args, k).getOrElse(sys.error(s"missing $k"))
    val workload = need("--workload")
    val seed = need("--seed").toLong
    val dataDir = need("--data")
    val work = new File(need("--work"))
    val out = need("--out")
    val launchedNs = need("--launched-ns").toLong
    val cores = need("--cores").toInt
    require(Workloads.names.contains(workload), s"unknown workload $workload")

    // ---- set-up: session, kernels, inputs located ----
    val t0 = System.nanoTime()
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", new File(work, "local").toString)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val t1 = System.nanoTime()
    graft.functions.GraftFunctions.register(spark)
    val t2 = System.nanoTime()
    Workloads.tables(workload).foreach(t => graft.Tables.load(spark, dataDir, t).schema)
    val readyNs = java.time.Instant.now() match {
      case i => i.getEpochSecond * 1000000000L + i.getNano
    }
    val setup = Map(
      "setup_s" -> (readyNs - launchedNs) / 1e9,
      "session_s" -> (t1 - t0) / 1e9,
      "kernels_s" -> (t2 - t1) / 1e9)
    val seconds = need("--seconds").toDouble
    val trace = need("--trace") == "1"
    val tracer = if (trace) Some(new Tracer(spark)) else None
    val ctx = new Ctx(spark, dataDir, "")
    val ops = Workloads.ops(workload, ctx, seed)
    val osBean = ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    val heap = new HeapWatch

    var attempted = 0
    val errors = mutable.ArrayBuffer.empty[String]

    def isolate(pass: Int): Unit = {
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
      Seq("tables", "scratch", "checkpoints").foreach(d =>
        FileUtils.deleteQuietly(new File(work, d)))
      ctx.tableRoot = new File(work, s"tables/pass$pass").getAbsolutePath
      new File(ctx.tableRoot).mkdirs()
    }

    /** Runs every op once; `sink` materializes an op's result. */
    def pass(i: Int, traced: Boolean,
             sink: (Op, Checked) => Unit): (Double, Double) = {
      val c0 = osBean.getProcessCpuTime
      val w0 = System.nanoTime()
      for (op <- ops) {
        attempted += 1
        def run(): Unit = op.body().foreach(sink(op, _))
        try tracer.filter(_ => traced) match {
          case Some(t) => t.op(i, op.name, op.module)(run())
          case None => run()
        } catch { case e: Throwable =>
          errors += s"pass $i op ${op.name}: ${e.toString.take(300)}"
        }
      }
      ((System.nanoTime() - w0) / 1e9, (osBean.getProcessCpuTime - c0) / 1e9)
    }
    val noop: (Op, Checked) => Unit = (_, c) =>
      c.df.write.format("noop").mode("overwrite").save()

    // calibration canary: graft.Bench's fixed sum(hash(id)) kernel over 2x
    // its rows, median of seven runs so that a short burst of load on the
    // machine drops out
    def canary(): Double = median((1 to 7).map { _ =>
      val c0 = System.nanoTime()
      spark.range(1L << 25).selectExpr("sum(hash(id))").collect()
      (System.nanoTime() - c0) / 1e9
    })

    // the cold pass writes each op's result, as a one-shot job would, and
    // its oracle SQL beside it in the layout the repository's gate checker
    // (tools/check.py) reads; the check runs after this JVM exits
    isolate(0)
    val verifyDir = new File(work, "verify")
    val checks = mutable.LinkedHashMap.empty[String, String]
    val (coldS, _) = pass(0, traced = false, (op, c) => {
      c.df.write.mode("overwrite").parquet(new File(verifyDir, op.name).getAbsolutePath)
      checks(op.name) = c.oracleSql
    })
    write(new File(verifyDir, "oracle_sql.json").toString,
      checks.map { case (k, v) => s"${str(k)}:${str(v)}" }.mkString("{", ",", "}"))
    canary() // unrecorded: lets the JIT compile the canary's own code first

    case class Pass(i: Int, passS: Double, cpuS: Double, canaryS: Double,
                    rssMb: Double, traced: Boolean, start: Long, end: Long)
    val passes = mutable.ArrayBuffer.empty[Pass]
    val coldPeakRssMb = peakRssMb()
    // traced runs alternate untraced, traced, untraced
    val minPasses = if (trace) 3 else 2
    val warmPasses = math.max(minPasses,
      math.round(seconds / Workloads.nominalPassS(workload)).toInt)
    // on a machine so loaded that the run could not end in time, stop at
    // the minimum number of passes
    def late = (System.currentTimeMillis() - launchedNs / 1000000) / 1e3 > LateS
    for (i <- 1 to warmPasses if i <= minPasses || !late) {
      val traced = trace && i % 2 == 0
      isolate(i)
      System.gc()
      val cal = canary()
      tracer.foreach { t => t.drain(); t.enabled = traced }
      resetPeakRss()
      val start = System.currentTimeMillis()
      val (s, cpu) = pass(i, traced, noop)
      val rss = peakRssMb()
      tracer.foreach { t => t.drain(); t.enabled = false }
      passes += Pass(i, s, cpu, cal, rss, traced, start, System.currentTimeMillis())
    }
    System.gc()
    val trailingCanaryS = canary()

    val untraced = passes.filterNot(_.traced)
    val fields = mutable.LinkedHashMap[String, String](
      "setup" -> obj(setup),
      "cold_pass_s" -> coldS.toString,
      "passes" -> untraced.map(p => obj(Map("pass_s" -> p.passS,
        "cpu_s" -> p.cpuS, "canary_s" -> p.canaryS, "peak_rss_mb" -> p.rssMb)))
        .mkString("[", ",", "]"),
      "canaries" -> (passes.map(_.canaryS) :+ trailingCanaryS).mkString("[", ",", "]"),
      "cold_peak_rss_mb" -> coldPeakRssMb.toString,
      "peak_heap_after_gc_mb" -> (heap.peakBytes / 1048576.0).toString,
      "ops" -> ops.map(o => str(o.name)).mkString("[", ",", "]"),
      "attempted" -> attempted.toString,
      "errors" -> errors.map(str).mkString("[", ",", "]"),
      "verify" -> str(verifyDir.getAbsolutePath),
      "checked" -> checks.size.toString)
    tracer.foreach { t =>
      val traced = passes.filter(_.traced)
      val perPass = traced.map(p => t.layers(p.i, p.passS, cores))
      val keys = perPass.flatMap(_.keys).distinct
      fields("layers") = obj(keys.map(k => k -> median(perPass.flatMap(_.get(k)).toSeq)).toMap)
      fields("traced_passes") = traced.map(p => obj(Map("pass_s" -> p.passS,
        "cpu_s" -> p.cpuS, "canary_s" -> p.canaryS, "peak_rss_mb" -> p.rssMb)))
        .mkString("[", ",", "]")
      val spansFile = new File(work, "spans.jsonl")
      Files.write(spansFile.toPath,
        t.spans(traced.map(p => (p.i, p.start, p.end)).toSeq).mkString("", "\n", "\n").getBytes(UTF_8))
      fields("spans") = str(spansFile.getAbsolutePath)
    }
    write(out, fields.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}"))
    spark.stop()
  }

  /** Peak resident set size since the JVM started or since the last
    * resetPeakRss, from the kernel's high-water mark. */
  def peakRssMb(): Double = scala.io.Source.fromFile("/proc/self/status").getLines()
    .collectFirst { case l if l.startsWith("VmHWM:") =>
      l.split("\\s+")(1).toDouble / 1024 }.getOrElse(0.0)
  def resetPeakRss(): Unit =
    Files.write(Paths.get("/proc/self/clear_refs"), "5".getBytes(UTF_8))

  /** The largest heap occupancy any garbage collection left behind from
    * its creation on: the live state (driver and local executors) that the
    * RSS has to hold. */
  final class HeapWatch extends NotificationListener {
    @volatile var peakBytes = 0L
    private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet
    ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
      case e: NotificationEmitter => e.addNotificationListener(this, null, null)
      case _ =>
    }
    def handleNotification(n: Notification, handback: AnyRef): Unit =
      if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val after = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
          .getGcInfo.getMemoryUsageAfterGc.asScala
        val used = after.collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
        synchronized { peakBytes = math.max(peakBytes, used) }
      }
  }

  def median(xs: Seq[Double]): Double = {
    val v = xs.sorted
    if (v.isEmpty) 0.0
    else if (v.size % 2 == 1) v(v.size / 2) else (v(v.size / 2 - 1) + v(v.size / 2)) / 2
  }

  private def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  private def obj(m: Map[String, Double]): String =
    m.toSeq.sortBy(_._1).map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
  private def write(path: String, s: String): Unit =
    Files.write(Paths.get(path), s.getBytes(UTF_8))
}
