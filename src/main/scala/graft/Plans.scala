package graft
import org.apache.spark.sql.SparkSession
import graft.queries.Catalog
/** Prints formatted physical plans of gate queries (plan-review tool).
  *
  * Usage: runMain graft.Plans [--sf dir] [--out dir] [--suffix s] q_a q_b | all
  * With --out, each query's plan is also written to <out>/<query><suffix>.txt
  * (the plan evidence under plans/). Each query is built under its catalog
  * confs ([[graft.queries.QuerySpec.confs]]), so the captured plan is the
  * one Bench and Verify run.
  */
object Plans {
  def main(args: Array[String]): Unit = {
    var sfDir = "/root/testdata/sf0.01"
    var outDir: Option[String] = None
    var suffix = ""
    val names = scala.collection.mutable.ArrayBuffer.empty[String]
    var i = 0
    while (i < args.length) {
      args(i) match {
        case "--sf"     => sfDir = args(i + 1); i += 2
        case "--out"    => outDir = Some(args(i + 1)); i += 2
        case "--suffix" => suffix = args(i + 1); i += 2
        case n          => names += n; i += 1
      }
    }
    val spark = SparkSession.builder().master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val selected =
      if (names.contains("all")) Catalog.specs
      else names.toSeq.map(Catalog(_))
    outDir.foreach(d => java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(d)))
    selected.foreach { spec =>
      println(s"===== ${spec.name} =====")
      val plan =
        try spec.withConfs(spark)(spec.build(spark, sfDir).queryExecution
          .explainString(org.apache.spark.sql.execution.FormattedMode))
        catch { case e: Throwable => s"EXPLAIN FAILED: ${e.getMessage}" }
      println(plan)
      outDir.foreach { d =>
        java.nio.file.Files.write(
          java.nio.file.Paths.get(d, s"${spec.name}$suffix.txt"),
          plan.getBytes("UTF-8"))
      }
    }
    spark.stop()
  }
}
