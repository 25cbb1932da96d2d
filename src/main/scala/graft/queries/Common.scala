package graft
package queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** What several query families share: the table inputs, gate scratch
  * directories and the DuckDB tokenization, shingle and hash SQL. */
private[queries] object Common {
  def docs(s: SparkSession, dir: String): DataFrame = Tables.documents(s, dir)

  def events(s: SparkSession, dir: String): DataFrame = Tables.events(s, dir)

  /** Gate-scratch temp dirs, recursively deleted at JVM exit. Gate
    * lambdas return LAZY DataFrames over these paths (the harness
    * materializes them after the lambda returns), so eager deletion
    * inside the lambda would break the read; the exit hook keeps
    * repeated Verify/Bench runs from accumulating table copies in
    * /tmp across processes. */
  private val scratchDirs =
    new java.util.concurrent.ConcurrentLinkedQueue[String]

  private lazy val scratchHookInstalled: Boolean = {
    Runtime.getRuntime.addShutdownHook(new Thread(() =>
      scratchDirs.forEach(d =>
        org.apache.commons.io.FileUtils.deleteQuietly(
          new java.io.File(d)): Unit)))
    true
  }

  def scratchDir(prefix: String): String = {
    require(scratchHookInstalled)
    val d = java.nio.file.Files.createTempDirectory(prefix).toString
    scratchDirs.add(d)
    d
  }

  // DuckDB-side tokenization mirroring TextOps.tokens.
  val toksSql =
    "list_filter(regexp_split_to_array(trim(text), '\\s+'), t -> t <> '')"

  // Token 3-gram shingles in DuckDB, mirroring DedupOps.shingles.
  val shinglesSql =
    s"""SELECT doc_id,
       |  CASE WHEN len(toks) >= 3
       |    THEN list_distinct([array_to_string(toks[i:i+2], ' ')
       |                       FOR i IN generate_series(1, len(toks)-2)])
       |    ELSE [array_to_string(toks, ' ')] END AS sh
       |FROM (SELECT doc_id, $toksSql AS toks FROM documents)""".stripMargin

  // jaccard over the 60-bit shingle-hash lists (matches DedupOps refine)
  val jaccardSql =
    "len(list_intersect(a.hs, b.hs))::DOUBLE / " +
      "(len(a.hs) + len(b.hs) - len(list_intersect(a.hs, b.hs)))"

  val hashListSql =
    "[CAST(('0x' || substring(md5(s), 1, 15)) AS BIGINT) FOR s IN sh]"
}
