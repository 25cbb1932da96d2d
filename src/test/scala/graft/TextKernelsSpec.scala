package graft

import graft.functions.GraftFunctions
import graft.operators.{DedupOps, TextAnalysisOps, TextOps}
import org.apache.spark.sql.functions._

/** The native kernels must produce EXACTLY the values of the column-level
  * reference implementations they replace (which in turn hash-match the
  * DuckDB oracle) — on every edge case: empty doc, doc shorter than n,
  * duplicates, multi-space runs.
  */
class TextKernelsSpec extends SparkSpec {
  import spark.implicits._

  private val docs = Seq(
    (0L, "the quick brown fox jumps over the lazy dog"),
    (1L, "a b"),                      // shorter than shingle n
    (2L, ""),                         // empty
    (3L, "x x x x x x"),              // heavy duplication
    (4L, "the quick brown fox jumps over the lazy dog"), // exact dup of 0
    (5L, "el la de que y en un por con los la la"),       // es stopwords
    (6L, "  padded   with   runs  of spaces  ")
  ).toDF("doc_id", "text")

  test("shingle hash kernel matches the column md5/conv reference") {
    GraftFunctions.register(spark)
    for (n <- Seq(1, 3, 4); distinct <- Seq(true, false)) {
      val toks = TextOps.tokens(col("text"))
      val got = docs.select(col("doc_id"),
        DedupOps.shingleHashes64(toks, n, distinct).as("hs"))
      val ref = docs.select(col("doc_id"),
        DedupOps.shingleHashes(DedupOps.shingles(toks, n, distinct)).as("hs"))
      assert(got.collect().toSeq.map(r => (r.getLong(0), r.getSeq[Long](1))) ===
        ref.collect().toSeq.map(r => (r.getLong(0), r.getSeq[Long](1))),
        s"n=$n distinct=$distinct")
    }
  }

  test("minhash kernel matches the column permute/array_min reference") {
    GraftFunctions.register(spark)
    val hs = DedupOps.shingleHashes64(TextOps.tokens(col("text")), 3)
    val got = docs.select(col("doc_id"), DedupOps.minhashSignature64(hs, 12).as("sig"))
    val ref = docs.select(col("doc_id"), DedupOps.minhashSignature(hs, 12).as("sig"))
    assert(got.collect().toSeq.map(r => (r.getLong(0), r.getSeq[Long](1))) ===
      ref.collect().toSeq.map(r => (r.getLong(0), r.getSeq[Long](1))))
  }

  test("jaccard kernel matches the array_intersect reference") {
    GraftFunctions.register(spark)
    val sh = docs.select(col("doc_id"),
      DedupOps.shingleHashes64(TextOps.tokens(col("text")), 3).as("hs"))
    val pairs = sh.as("a").join(sh.as("b"), col("a.doc_id") < col("b.doc_id"))
    val got = pairs.select(col("a.doc_id"), col("b.doc_id"),
      call_function("graft_jaccard", col("a.hs"), col("b.hs")).as("j")).collect()
    val ref = pairs.select(col("a.doc_id"), col("b.doc_id"),
      DedupOps.jaccard(col("a.hs"), col("b.hs")).as("j")).collect()
    assert(got.map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq ===
      ref.map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq)
    // exact duplicate docs 0 and 4 must score 1.0
    assert(got.find(r => r.getLong(0) == 0 && r.getLong(1) == 4)
      .get.getDouble(2) === 1.0)
  }

  test("stopword-hits kernel matches the filter-HOF reference, all langs") {
    GraftFunctions.register(spark)
    val toks = TextOps.tokens(col("text"))
    // reference implementation: one interpreted filter per language
    def refRatio(lang: String) = {
      val words = array(TextAnalysisOps.stopwordProfiles(lang).map(lit): _*)
      size(filter(toks, t => array_contains(words, t))).cast("double") /
        greatest(size(toks), lit(1)).cast("double")
    }
    for (lang <- functions.StopwordHits.langs) {
      val got = docs.select(TextAnalysisOps.stopwordRatio(toks, lang)).collect()
      val ref = docs.select(refRatio(lang)).collect()
      assert(got.map(_.getDouble(0)).toSeq === ref.map(_.getDouble(0)).toSeq, lang)
    }
  }

  test("simhash kernel matches the relational reference") {
    val got = DedupOps.simhash(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val ref = DedupOps.simhashRelational(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // the relational form drops token-less docs (nothing to explode);
    // the kernel emits simhash 0 for them — compare on common ids and
    // check the empty-doc convention explicitly
    assert(ref.keySet.subsetOf(got.keySet))
    for ((k, v) <- ref) assert(got(k) === v, s"doc $k")
    assert(got(2L) === 0L)
  }

  test("kernels agree between codegen and interpreted execution") {
    // NO_CODEGEN forces InterpretedUnsafeProjection -> the nullSafeEval
    // path; results must be identical to the generated-code path
    val s2 = SparkSpec.session.newSession()
    GraftFunctions.register(s2)
    s2.conf.set("spark.sql.codegen.wholeStage", "false")
    s2.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    val sql = """SELECT doc_id,
      |  graft_shingle_hash(split(trim(text), '\\s+'), 3, true) AS hs,
      |  graft_simhash(split(trim(text), '\\s+'), 60) AS sh,
      |  graft_langid(split(trim(text), '\\s+'), 0.02D) AS lang,
      |  graft_stop_hits(split(trim(text), '\\s+')) AS hits
      |FROM docs""".stripMargin
    docs.createOrReplaceTempView("docs")
    val base = spark.sql(sql).collect().map(_.toString).sorted
    docs.createOrReplaceTempView("docs") // register in s2's catalog too
    s2.createDataFrame(docs.collectAsList(), docs.schema)
      .createOrReplaceTempView("docs")
    val interp = s2.sql(sql).collect().map(_.toString).sorted
    assert(base.toSeq === interp.toSeq)
    GraftFunctions.register(spark)
    // the nearest-cell kernel: a tie (to the lower cell), -0.0, a NULL and a
    // wrong-width vector (no cell); cell 2 repeats cell 0
    val book = "array(array(1D, 0D), array(0D, 1D), array(1D, 0D))"
    val cellSql = s"""SELECT id,
      |  graft_nearest_cell(v, $book, 'cosine') AS cos_cell,
      |  graft_nearest_cell(v, $book, 'l2') AS l2_cell
      |FROM vecs""".stripMargin
    val vecs = Seq((0L, Seq(2.0, 1.0)), (1L, Seq(1.0, 1.0)), (2L, Seq(0.0, 3.0)),
      (3L, null), (4L, Seq(1.0, 2.0, 3.0)), (5L, Seq(-0.0, 1.0))).toDF("id", "v")
    vecs.createOrReplaceTempView("vecs")
    s2.createDataFrame(vecs.collectAsList(), vecs.schema).createOrReplaceTempView("vecs")
    def cells(s: org.apache.spark.sql.SparkSession) = s.sql(cellSql).collect()
      .map(r => r.getLong(0) -> (Option(r.get(1)), Option(r.get(2)))).toMap
    assert(cells(spark) === Map(0L -> (Some(0), Some(0)), 1L -> (Some(0), Some(0)),
      2L -> (Some(1), Some(1)), 3L -> (None, None), 4L -> (None, None),
      5L -> (Some(1), Some(1))))
    assert(cells(s2) === cells(spark))
    // a zero vector has no cosine: both paths throw, naming the division
    for (s <- Seq(spark, s2)) {
      val e = intercept[Exception](s.sql(
        s"SELECT graft_nearest_cell(array(id * 0D, id * 0D), $book, 'cosine') FROM vecs").collect())
      assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .exists(t => String.valueOf(t.getMessage).contains("divides by zero")), e)
    }
  }

  test("langid still classifies the spanish doc as es and empty as und") {
    val out = docs.select(col("doc_id"),
      TextAnalysisOps.langId(TextOps.tokens(col("text"))).as("lang"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out(5L) === "es")
    assert(out(0L) === "en")
    assert(out(2L) === "und")
  }

  test("langid kernel matches the column-fold reference on the corpus") {
    val toks = TextOps.tokens(col("text"))
    val d = Tables.documents(spark, "/root/testdata/sf0.001")
    val got = d.select(col("doc_id"), TextAnalysisOps.langId(toks).as("l")).collect()
    val ref = d.select(col("doc_id"), TextAnalysisOps.langIdColumns(toks).as("l")).collect()
    assert(got.map(r => (r.getLong(0), r.getString(1))).toSeq ===
      ref.map(r => (r.getLong(0), r.getString(1))).toSeq)
  }
}
