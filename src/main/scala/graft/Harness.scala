package graft

import org.apache.spark.sql.SparkSession
import graft.queries.{Catalog, QuerySpec}

/** How Verify and Bench walk the gate catalog. */
object Harness {

  /** The catalog, or only the queries SPARK_GRAFT_ONLY=q_a,q_b names (a
    * local iteration aid). */
  def selected: Seq[QuerySpec] = {
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    Catalog.specs.filter(s => only.forall(_(s.name)))
  }

  /** SPARK_GRAFT_STREAMS=N runs the queries as N CONCURRENT streams (real
    * pipelines share one cluster). Default 1: serial. */
  val streams: Int = math.max(1, sys.env.getOrElse("SPARK_GRAFT_STREAMS", "1").toInt)

  /** `run` over every spec, results in name order. Serially on `spark`
    * with one stream; with more, `streams` threads drain one queue, each on
    * its own `spark.newSession()`, so per-query session confs (each spec's
    * confs, the iteration AQE toggle) stay isolated while executors,
    * caches and scratch dirs are shared — exactly the surface where
    * cross-query interference would corrupt results. */
  def runAll[R](spark: SparkSession, specs: Seq[QuerySpec])(
      run: (SparkSession, QuerySpec) => R): Seq[R] =
    if (streams == 1) specs.sortBy(_.name).map(run(spark, _))
    else {
      val queue = new java.util.concurrent.ConcurrentLinkedQueue[QuerySpec]()
      specs.foreach(queue.add)
      val out = new java.util.concurrent.ConcurrentLinkedQueue[(String, R)]()
      val threads = (1 to streams).map { i =>
        val t = new Thread(() => {
          val s = spark.newSession()
          // the stream's session must be this thread's ACTIVE session:
          // the kernel Column helpers register graft_* functions into the
          // active session, and a newSession has its own function
          // registry (first caught here: 13 queries failed with
          // UNRESOLVED_ROUTINE graft_shingle_hash under 4 streams). A
          // production multi-session deployment gets the same effect from
          // spark.sql.extensions=graft.functions.GraftExtensions.
          SparkSession.setActiveSession(s)
          graft.functions.GraftFunctions.register(s)
          var spec = queue.poll()
          while (spec != null) { out.add(spec.name -> run(s, spec)); spec = queue.poll() }
        }, s"gate-stream-$i")
        t.start(); t
      }
      threads.foreach(_.join())
      import scala.jdk.CollectionConverters._
      out.asScala.toSeq.sortBy(_._1).map(_._2)
    }
}
