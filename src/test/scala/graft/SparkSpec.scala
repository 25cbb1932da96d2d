package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for ScalaTest suites. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session

  /** The smallest generated fixture (TESTDATA.md). */
  val sf0001 = "/root/testdata/sf0.001"

  override def afterAll(): Unit = super.afterAll() // session shared across suites

  /** Spark jobs `body` submits: a listener counts job starts, and the
    * listener bus is drained before and after so no other job's events
    * leak in or go missing. */
  def jobsOf(body: => Any): Int = {
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    org.apache.spark.ListenerBusDrain(sc)
    sc.addSparkListener(listener)
    try { body; org.apache.spark.ListenerBusDrain(sc); jobs.get }
    finally sc.removeSparkListener(listener)
  }

  /** Runs `body` under an in-task cutoff of `cutoff` array slots. */
  def withCutoff[T](cutoff: Long)(body: => T): T =
    SessionConfs.scoped(spark,
      Map(graft.operators.InTask.CutoffKey -> cutoff.toString))(body)

  /** Runs `body` once per regime: in-task, forced by an unbounded
    * cutoff, then distributed, forced by a zero cutoff. */
  def inTaskAndJoin[T](body: => T): (T, T) = {
    val inTask = withCutoff(Long.MaxValue)(body)
    (inTask, withCutoff(0)(body))
  }
}

object SparkSpec {
  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft-warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}
