package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
import graft.queries.{Catalog, ScanSplit}
/** Correctness dump: each gate query's result ([[Catalog]]) → parquet,
  * plus oracle_sql.json and pinned_oracle.json, for the DuckDB compare
  * (tools/check.py). */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    // SPARK_GRAFT_MASTER=local-cluster[4,8,8192] runs the whole gate on
    // REAL multi-JVM executors (tools/cluster_smoke.sh) — the cheapest
    // way to catch accidental driver-JVM-state assumptions (codec
    // statics, scratch-dir file moves, per-partition digest reuse)
    // before a real cluster would. Executors are fresh JVMs that know
    // nothing of sbt: they need the forked run's classpath and the same
    // JDK17 --add-opens the driver gets from build.sbt.
    val master = sys.env.getOrElse("SPARK_GRAFT_MASTER", s"local[$cpus]")
    val builder0 = SparkSession.builder()
      .master(master)
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // each query's own confs (its scan split among them) are set around
      // it below, as Bench does: the gate runs under the confs it benches
      .config(ScanSplit.key, ScanSplit.text(ScanSplit.key))
    val builder = if (master.startsWith("local-cluster")) {
      val addOpens = Seq(
        "java.base/java.lang", "java.base/java.lang.invoke",
        "java.base/java.lang.reflect", "java.base/java.io",
        "java.base/java.net", "java.base/java.nio",
        "java.base/java.util", "java.base/java.util.concurrent",
        "java.base/java.util.concurrent.atomic",
        "java.base/sun.nio.ch", "java.base/sun.nio.cs",
        "java.base/sun.security.action", "java.base/sun.util.calendar")
        .map(p => s"--add-opens $p=ALL-UNNAMED").mkString(" ")
      builder0
        .config("spark.executor.extraClassPath",
          System.getProperty("java.class.path"))
        .config("spark.executor.extraJavaOptions", addOpens)
        .config("spark.executor.memory",
          sys.env.getOrElse("SPARK_GRAFT_EXECUTOR_MEM", "4g"))
    } else builder0
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // SPARK_GRAFT_STREAMS > 1 runs the gate as concurrent streams
    // (graft.Harness): cross-query interference would corrupt results,
    // which the DuckDB hash compare then catches
    Harness.runAll(spark, Harness.selected) { (s, spec) =>
      // inter-query storage release (serial mode only): persisted/
      // checkpointed blocks from earlier queries must not squeeze this
      // one's execution memory. Under concurrent streams OTHER queries
      // are still running — releasing their blocks mid-flight is the
      // kind of interference this mode exists to catch, not cause.
      if (Harness.streams == 1)
        s.sparkContext.getPersistentRDDs.values
          .foreach(_.unpersist(blocking = true))
      try spec.withConfs(s)(spec.build(s, sfDir).coalesce(1)
        .write.mode("overwrite").parquet(s"$outDir/${spec.name}"))
      catch { case e: Throwable =>
        System.err.println(s"[verify] ${spec.name} failed: ${e.getMessage}")
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    def obj(kvs: Seq[(String, String)]): String =
      kvs.map { case (k, v) => s"${q(k)}: $v" }.mkString("{", ",", "}")
    val json = obj(Catalog.specs.map(s => s.name -> q(s.oracle)))
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // scale-oracle recipes (model-pinned SQL / iterative closure) for the
    // queries whose committed oracle is infeasible at 100x/zipf — see
    // QuerySpec.pinned and tools/pinned_check.py
    val pinnedJson = obj(Catalog.specs.flatMap(s => s.pinned.map(m =>
      s.name -> obj(m.toSeq.map { case (k, v) => k -> q(v) }))))
    Files.writeString(Paths.get(s"$outDir/pinned_oracle.json"), pinnedJson)
    // SPARK_GRAFT_EXPORT_MODELS=1: export the trained ANN models the
    // pinned oracles read (`__m_*` views over _models/<name>). Training
    // is deterministic (6-decimal per-iteration quantization, lowest-id
    // seeds, lowest-cell ties), so these parquet files are hash-stable
    // and EQUAL the models the gated queries train internally — the
    // unrolled oracle proves that equality wherever it is feasible.
    if (sys.env.get("SPARK_GRAFT_EXPORT_MODELS").contains("1")) {
      import spark.implicits._
      import graft.operators.SimilarityOps
      val emb = Tables.embeddings(spark, sfDir)
      val cents = SimilarityOps.trainIvfCentroids(emb, "vec_id",
        "embedding", nlist = 8, iterations = 2, roundDecimals = Some(6))
      val pqBooks = SimilarityOps.trainPqCodebooks(emb, "vec_id",
        "embedding", m = 2, cells = 4, iterations = 2)
      val ivfpqBooks = SimilarityOps.trainPqResidualCodebooks(emb, "vec_id",
        "embedding", cents, m = 2, cells = 4, iterations = 2)
      def write(name: String, rows: Seq[(Long, Seq[Double])]): Unit =
        rows.toDF("cell", "cv").coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/_models/$name")
      write("ivf_cents", cents.toSeq.map { case (c, cv, _) => (c, cv.toSeq) })
      for ((books, nm) <- Seq((pqBooks, "pq_book"), (ivfpqBooks, "ivfpq_book"));
           (book, j) <- books.zipWithIndex)
        write(s"$nm$j",
          book.toSeq.zipWithIndex.map { case ((cv, _), c) => (c.toLong, cv.toSeq) })
    }
    spark.stop()
  }
}
