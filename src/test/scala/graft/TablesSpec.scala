package graft

import org.apache.spark.sql.types.TimestampType

class TablesSpec extends SparkSpec {

  test("documents round-trip through ORC, JSON and CSV sinks/sources") {
    // source-format breadth: the engine's tables are parquet, but a user
    // switching from the reference will have text/TSV/SequenceFile-era
    // data in ad-hoc formats; every Spark format round-trips losslessly
    import org.apache.spark.sql.functions._
    val d = Tables.documents(spark, "/root/testdata/sf0.001")
      .select("doc_id", "text").orderBy("doc_id").limit(200)
    val base = java.nio.file.Files.createTempDirectory("graft-fmt").toString
    val expected = d.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    for (fmt <- Seq("orc", "json", "csv")) {
      val path = s"$base/$fmt"
      val w = d.write.mode("overwrite")
      (if (fmt == "csv") w.option("header", "true") else w).format(fmt).save(path)
      val r = spark.read.format(fmt)
      val back = (fmt match {
        case "csv" => r.option("header", "true").schema("doc_id BIGINT, text STRING").load(path)
        case "json" => r.schema("doc_id BIGINT, text STRING").load(path)
        case _ => r.load(path)
      }).collect().map(x => x.getLong(0) -> x.getString(1)).toMap
      assert(back === expected, s"$fmt round-trip")
    }
  }

  test("events loader scopes the nanosAsLong conf and the DF still executes") {
    val key = "spark.sql.legacy.parquet.nanosAsLong"
    val before = spark.conf.getOption(key)
    val df = Tables.events(spark, "/root/testdata/sf0.001")
    assert(spark.conf.getOption(key) === before,
      "loading events must not change the session conf")
    assert(df.schema("ts").dataType === TimestampType)
    // execution happens AFTER the conf was restored — the pinned schema
    // must carry the read on its own
    assert(df.count() > 0)
  }

  test("a table's schema is inferred once per file version: an unchanged " +
      "file reloads with no job, a rewritten one is inferred again") {
    val dir = java.nio.file.Files.createTempDirectory("graft-schema").toString
    try {
      val src = java.nio.file.Paths.get(sf0001)
      val dst = java.nio.file.Paths.get(dir, "documents.parquet")
      java.nio.file.Files.copy(src.resolve("documents.parquet"), dst)
      assert(jobsOf(Tables.documents(spark, dir)) >= 1, "first load infers")
      assert(jobsOf(Tables.documents(spark, dir)) === 0, "an unchanged file: no job")
      val docs = Tables.documents(spark, dir).schema
      // rewrite the file in place (another table's bytes, a later mtime)
      java.nio.file.Files.copy(src.resolve("nation.parquet"), dst,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      java.nio.file.Files.setLastModifiedTime(dst, java.nio.file.attribute
        .FileTime.fromMillis(System.currentTimeMillis() + 60000))
      var reread: org.apache.spark.sql.DataFrame = null
      assert(jobsOf { reread = Tables.documents(spark, dir) } >= 1,
        "a rewritten file is inferred again")
      assert(reread.schema !== docs)
      assert(reread.schema === spark.read.parquet(dst.toString).schema)
      assert(reread.count() === spark.read.parquet(dst.toString).count())
    } finally org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
  }

  test("events keeps its TimestampType ts on a schema-cache hit") {
    val dir = sf0001
    Tables.events(spark, dir)
    var df: org.apache.spark.sql.DataFrame = null
    assert(jobsOf { df = Tables.events(spark, dir) } === 0, "a cache hit infers nothing")
    assert(df.schema("ts").dataType === TimestampType)
    assert(df.count() > 0)
  }
}
