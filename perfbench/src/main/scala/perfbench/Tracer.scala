package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.util.QueryExecutionListener
import org.apache.spark.sql.execution.QueryExecution

import graft.plans.ManifestFileIndex

/** Records what Spark did during each op of a traced pass: jobs, stages,
  * tasks (from a SparkListener) and the scan and write nodes of every
  * executed plan (from a QueryExecutionListener). Records are kept in
  * memory; [[Tracer.layers]] folds them into per-module numbers and
  * [[Tracer.spans]] into a pass -> op -> job -> stage tree.
  *
  * Jobs belong to the op whose time window holds their submission time,
  * so jobs submitted from pooled threads, which carry no job description,
  * are still attributed. At the end of each op the listener bus is drained,
  * so every event of the op has arrived before the next op starts.
  */
final class Tracer(spark: SparkSession) extends SparkListener
    with QueryExecutionListener {
  import Tracer._

  @volatile var enabled = false
  private val sc = spark.sparkContext
  private val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  private val stages = mutable.LinkedHashMap.empty[(Int, Int), StageRec]
  private val plans = mutable.ArrayBuffer.empty[PlanRec]
  val opSpans = mutable.ArrayBuffer.empty[OpSpan]
  @volatile private var currentOp: OpSpan = null

  sc.addSparkListener(this)
  spark.listenerManager.register(this)

  /** Runs `f` as op `name` of pass `pass` and records its span. */
  def op[T](pass: Int, name: String, module: String)(f: => T): T = {
    val span = OpSpan(pass, name, module, System.currentTimeMillis(), 0L)
    currentOp = span
    try f finally {
      span.end = System.currentTimeMillis()
      drain()
      synchronized { opSpans += span }
      currentOp = null
    }
  }

  def drain(): Unit = org.apache.spark.PerfbenchBus.drain(sc)

  override def onJobStart(e: SparkListenerJobStart): Unit = if (enabled) synchronized {
    jobs(e.jobId) = JobRec(e.jobId, e.time, e.time, e.stageIds)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = if (enabled) synchronized {
    jobs.get(e.jobId).foreach(_.end = e.time)
  }
  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    if (enabled) synchronized {
      val i = e.stageInfo
      stages.getOrElseUpdate((i.stageId, i.attemptNumber()), StageRec(i.stageId))
        .submitted = i.submissionTime.getOrElse(System.currentTimeMillis())
    }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    if (enabled) synchronized {
      val i = e.stageInfo
      val s = stages.getOrElseUpdate((i.stageId, i.attemptNumber()), StageRec(i.stageId))
      s.completed = i.completionTime.getOrElse(System.currentTimeMillis())
    }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (enabled) synchronized {
    val s = stages.getOrElseUpdate((e.stageId, e.stageAttemptId), StageRec(e.stageId))
    s.durations += e.taskInfo.duration
    if (!e.taskInfo.successful) s.failed += 1
    val m = e.taskMetrics
    if (m != null) {
      s.runMs += m.executorRunTime
      s.cpuNs += m.executorCpuTime
      s.gcMs += m.jvmGCTime
      s.resultBytes += m.resultSize
      s.spillBytes += m.diskBytesSpilled
      s.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
      s.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      val in = m.inputMetrics.bytesRead
      if (in > 0 || m.inputMetrics.recordsRead > 0) s.scanTasks += 1
      s.inputBytes += in
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    if (enabled) {
      val op = currentOp
      if (op != null) {
        val rec = PlanRec(op)
        walk(qe.executedPlan, rec)
        synchronized { plans += rec }
      }
    }
  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()

  private def walk(p: SparkPlan, rec: PlanRec): Unit = p match {
    case a: AdaptiveSparkPlanExec => walk(a.executedPlan, rec)
    case q: QueryStageExec => walk(q.plan, rec)
    case s: FileSourceScanExec =>
      def v(k: String) = s.metrics.get(k).map(_.value).getOrElse(0L)
      val read = v("numFiles")
      rec.filesRead += read
      rec.scanMs += v("scanTime")
      s.relation.location match {
        case m: ManifestFileIndex =>
          rec.manifestListed += m.inputFiles.length
          rec.manifestRead += read
        case _ =>
      }
    case w: DataWritingCommandExec =>
      def v(k: String) = w.cmd.metrics.get(k).map(_.value).getOrElse(0L)
      rec.filesWritten += v("numFiles")
      rec.bytesWritten += v("numOutputBytes")
      w.children.foreach(walk(_, rec))
    case other =>
      other.children.foreach(walk(_, rec))
      other.subqueries.foreach(walk(_, rec))
  }

  /** Jobs submitted inside `span`'s window. */
  private def jobsOf(span: OpSpan): Seq[JobRec] =
    jobs.values.filter(j => j.start >= span.start && j.start <= span.end).toSeq

  private def stagesOf(js: Seq[JobRec]): Seq[StageRec] = {
    val ids = js.flatMap(_.stageIds).toSet
    stages.values.filter(s => ids(s.id)).toSeq
  }

  /** Per-layer numbers for one traced pass lasting `passS` seconds. */
  def layers(pass: Int, passS: Double, cores: Int): Map[String, Double] = synchronized {
    val out = mutable.LinkedHashMap.empty[String, Double]
    def add(k: String, v: Double): Unit = out(k) = out.getOrElse(k, 0.0) + v
    val spans = opSpans.filter(_.pass == pass).toSeq
    val allJobs = mutable.ArrayBuffer.empty[JobRec]
    for ((module, ss) <- spans.groupBy(_.module)) {
      var skew = 0.0
      for (s <- ss) {
        val js = jobsOf(s)
        allJobs ++= js
        val st = stagesOf(js)
        val wallMs = (s.end - s.start).toDouble
        add(s"$module.wall_s", wallMs / 1e3)
        add(s"$module.driver_s", (wallMs - busyMs(js, s.start, s.end)) / 1e3)
        add(s"$module.jobs", js.size.toDouble)
        add(s"$module.tasks", st.map(_.durations.size).sum.toDouble)
        add(s"$module.shuffle_mb", st.map(_.shuffleWriteBytes).sum / 1e6)
        st.foreach(x => skew = math.max(skew, x.skew))
      }
      out(s"$module.skew") = skew
    }
    val st = stagesOf(allJobs.toSeq)
    val taskS = st.map(_.runMs).sum / 1e3
    out("spark.task_s") = taskS
    out("spark.task_cpu_s") = st.map(_.cpuNs).sum / 1e9
    out("spark.gc_s") = st.map(_.gcMs).sum / 1e3
    out("spark.fetch_wait_s") = st.map(_.fetchWaitMs).sum / 1e3
    out("spark.spill_mb") = st.map(_.spillBytes).sum / 1e6
    out("spark.result_mb") = st.map(_.resultBytes).sum / 1e6
    out("spark.failed_tasks") = st.map(_.failed).sum.toDouble
    val ran = st.filter(_.submitted > 0)
    out("spark.stages") = ran.size.toDouble
    out("spark.stages_skipped") =
      (allJobs.flatMap(_.stageIds).distinct.size - ran.map(_.id).distinct.size).toDouble
    out("spark.core_util") = taskS / (passS * cores)
    out("Tables.scan_tasks") = st.map(_.scanTasks).sum.toDouble
    out("Tables.read_mb") = st.map(_.inputBytes).sum / 1e6
    val ps = plans.filter(_.op.pass == pass)
    out("Tables.files_read") = ps.map(_.filesRead).sum.toDouble
    out("Tables.scan_s") = ps.map(_.scanMs).sum / 1e3
    val listed = ps.map(_.manifestListed).sum
    if (listed > 0)
      out("ManifestFileIndex.files_pruned_ratio") =
        (listed - ps.map(_.manifestRead).sum).toDouble / listed
    out("LayoutOps.files_written") = ps.map(_.filesWritten).sum.toDouble
    out("LayoutOps.write_mb") = ps.map(_.bytesWritten).sum / 1e6
    out.toMap
  }

  /** Milliseconds of [lo, hi] during which at least one of `js` ran. */
  private def busyMs(js: Seq[JobRec], lo: Long, hi: Long): Double = {
    var busy = 0L
    var reach = lo
    for (j <- js.sortBy(_.start)) {
      val a = math.max(j.start, reach)
      val b = math.min(j.end, hi)
      if (b > a) { busy += b - a; reach = b }
    }
    busy.toDouble
  }

  /** The pass -> op -> job -> stage tree as JSON lines, one span a line. */
  def spans(passes: Seq[(Int, Long, Long)]): Seq[String] = synchronized {
    def line(kind: String, name: String, parent: String, id: String,
             start: Long, end: Long, extra: String = "") =
      s"""{"kind":"$kind","id":"$id","parent":"$parent","name":"$name",""" +
        s""""start_ms":$start,"end_ms":$end$extra}"""
    passes.flatMap { case (p, ps, pe) =>
      line("pass", s"pass$p", "", s"p$p", ps, pe) +:
        opSpans.filter(_.pass == p).toSeq.flatMap { o =>
          val oid = s"p$p/${o.name}"
          line("op", o.name, s"p$p", oid, o.start, o.end,
            s""","module":"${o.module}"""") +:
            jobsOf(o).flatMap { j =>
              val jid = s"$oid/j${j.id}"
              line("job", s"job${j.id}", oid, jid, j.start, j.end) +:
                stagesOf(Seq(j)).filter(_.submitted > 0).map { s =>
                  line("stage", s"stage${s.id}", jid, s"$jid/s${s.id}",
                    s.submitted, math.max(s.completed, s.submitted),
                    s""","tasks":${s.durations.size},"task_s":${s.runMs / 1e3}""")
                }
            }
        }
    }
  }
}

object Tracer {
  final case class OpSpan(pass: Int, name: String, module: String,
                          start: Long, var end: Long)
  final case class JobRec(id: Int, start: Long, var end: Long, stageIds: Seq[Int])
  final case class StageRec(id: Int) {
    var submitted = 0L
    var completed = 0L
    val durations = mutable.ArrayBuffer.empty[Long]
    var failed, scanTasks = 0
    var runMs, cpuNs, gcMs, resultBytes, spillBytes, fetchWaitMs = 0L
    var shuffleWriteBytes, inputBytes = 0L
    /** Slowest task over the median task. */
    def skew: Double =
      if (durations.isEmpty) 0.0
      else {
        val d = durations.sorted
        d.last.toDouble / math.max(1L, d((d.size - 1) / 2))
      }
  }
  final case class PlanRec(op: OpSpan) {
    var filesRead, scanMs, manifestListed, manifestRead = 0L
    var filesWritten, bytesWritten = 0L
  }
}
