package graft

import graft.operators.IndexOps
import org.apache.spark.sql.functions._

/** Inverted-index + retrieval tests: codec round-trip property, and golden
  * reproduction of the reference's committed outputs on its own corpus
  * (reference/assignment3/LookupPostingsCompressed.out,
  * BooleanRetrievalCompressed.out — docids are byte offsets of the
  * uncompressed collection).
  */
class IndexOpsSpec extends SparkSpec {

  test("postings codec round-trips (d-gap + VInt), 200 random lists") {
    val rnd = new scala.util.Random(42)
    for (_ <- 1 to 200) {
      val n = rnd.nextInt(51)
      val docids = Seq.fill(n)(rnd.nextLong(10000000L)).distinct.sorted
      val postings = docids.map(d => (d, 1L + rnd.nextInt(100)))
      val rows = postings.map { case (d, t) => org.apache.spark.sql.Row(d, t) }
      val decoded = IndexOps.decodePostings(IndexOps.encodePostings(rows))
      assert(decoded === postings)
    }
  }

  test("postings codec handles VInt size boundaries (FIXTURES.md B4)") {
    // gaps straddling Hadoop VInt 1/2/3/4/5-byte encodings
    val docids = Seq(0x7FL, 0x7FL + 0x80L, 0x7FL + 0x80L + 0x3FFFL,
      0x10000L + 0x7FL + 0x80L + 0x3FFFL, 0x100000000L)
    val postings = docids.map(d => (d, 1L))
    val rows = postings.map { case (d, t) => org.apache.spark.sql.Row(d, t) }
    assert(IndexOps.decodePostings(IndexOps.encodePostings(rows)) === postings)
  }

  test("re-encoding postings persisted through parquet works (containsNull=true)") {
    import spark.implicits._
    // parquet marks array elements nullable by default — the encoder must
    // accept the round-tripped schema at analysis time and only reject
    // ACTUAL null elements at runtime
    val corpus = Seq((0L, "a b a c"), (10L, "b c c"), (20L, "a"))
      .toDF("docid", "text")
    val idx = IndexOps.invertedIndex(corpus, "docid", "text")
    val packed0 = IndexOps.compressedIndex(idx)
      .select("term", "packed").as[(String, Array[Byte])].collect().toMap
    val dir = "/tmp/graft-postings-roundtrip-parquet"
    IndexOps.decodeIndex(IndexOps.compressedIndex(idx))
      .withColumnRenamed("postings", "postings0")
      .selectExpr("term", "df",
        "transform(postings0, p -> struct(p._1 AS docid, p._2 AS tf)) AS postings")
      .write.mode("overwrite").parquet(dir)
    val reread = spark.read.parquet(dir)
    assert(reread.schema("postings").dataType
      .asInstanceOf[org.apache.spark.sql.types.ArrayType].containsNull)
    val repacked = IndexOps.compressedIndex(reread)
      .select("term", "packed").as[(String, Array[Byte])].collect().toMap
    assert(repacked.keySet === packed0.keySet)
    packed0.foreach { case (t, b) =>
      assert(java.util.Arrays.equals(repacked(t), b), s"term $t") }
  }

  // ---- MapFile container checks on sf0.001 documents (no corpus) ------

  private lazy val smallCorpus = Tables.documents(spark, sf0001)

  /** term -> docid-ascending postings, from termDocTf on the same input:
    * the expected answer of every container lookup below. */
  private lazy val smallPostings: Map[String, Seq[(Long, Long)]] =
    IndexOps.termDocTf(smallCorpus, "doc_id", "text").collect()
      .groupBy(_.getString(0)).map { case (t, rs) =>
        t -> rs.map(r => (r.getLong(1), r.getLong(2))).sortBy(_._1).toSeq }

  /** `body` over a fresh 4-part MapFile index of the sf0.001 documents. */
  private def withSmallMapFileIndex(body: String => Unit): Unit = {
    val base = java.nio.file.Files.createTempDirectory("graft-mapfile-small").toString
    try {
      IndexOps.writeMapFileIndex(IndexOps.compressedIndex(
        IndexOps.invertedIndex(smallCorpus, "doc_id", "text")), s"$base/idx",
        numPartitions = 4)
      body(s"$base/idx")
    } finally org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(base))
  }

  test("MapFile sink serves MapFile.get point lookups (sf0.001 documents)") {
    withSmallMapFileIndex { dir =>
      val byDf = smallPostings.toSeq.sortBy { case (t, p) => (-p.length, t) }
      // the most common term, a single-posting term, and a spread between
      val probes = (byDf.take(3) ++ byDf.filter(_._2.length == 1).take(3) ++
        byDf.grouped(byDf.length / 5).map(_.head)).map(_._1).distinct
      for (t <- probes) assert(IndexOps.mapFileGet(dir, t) === Some(smallPostings(t)), t)
      assert(!smallPostings.contains("bronze-absent"))
      assert(IndexOps.mapFileGet(dir, "bronze-absent") === None)
    }
  }

  test("point lookup opens exactly ONE part of a 4-part index (sf0.001 documents)") {
    withSmallMapFileIndex { dir =>
      val conf = spark.sparkContext.hadoopConfiguration
      val parts = new java.io.File(dir).listFiles()
        .filter(_.getName.startsWith("part-")).map(_.getName).sorted
      assert(parts.length === 4)
      // terms spread across the vocabulary's byte order: each must resolve
      // to a SINGLE candidate part (range-partitioned parts have disjoint
      // spans that together cover every term)
      val vocab = smallPostings.keys.toSeq.sorted
      val probes = Seq(0.0, 0.2, 0.4, 0.6, 0.8).map(q => vocab((q * vocab.length).toInt)) :+
        vocab.last
      val hits = probes.map { t =>
        val cand = IndexOps.candidateParts(dir, t, conf)
        assert(cand.length === 1, s"term '$t' must map to exactly one part")
        cand.head.getName
      }
      assert(hits.distinct.length > 1, "probes must span multiple parts")
      // a term outside every span opens zero readers
      assert(IndexOps.candidateParts(dir, "", conf).isEmpty)
      assert(IndexOps.candidateParts(dir, "\uffff\uffff", conf).isEmpty)
      for (t <- probes) assert(IndexOps.mapFileGet(dir, t) === Some(smallPostings(t)), t)
      // fallback: with the sidecar removed (reference-written container),
      // sequential probing still serves lookups from all parts
      assert(new java.io.File(dir, "_ranges").delete())
      assert(IndexOps.candidateParts(dir, probes.head, conf).length === 4)
      for (t <- probes) assert(IndexOps.mapFileGet(dir, t) === Some(smallPostings(t)), t)
    }
  }

  // ---- golden corpus fixtures ----------------------------------------

  private val gzPath = "/root/reference/assignment2/bible+shakes.nopunc.gz"

  private lazy val corpus = {
    // retrieval docids are byte offsets of the UNCOMPRESSED file (the
    // reference refuses .gz input for exactly this reason,
    // BooleanRetrievalCompressed.java:168-171)
    val plain = new java.io.File("/tmp/graft-bibleshakes.txt")
    if (!plain.exists()) {
      val in = new java.util.zip.GZIPInputStream(new java.io.FileInputStream(gzPath))
      java.nio.file.Files.copy(in, plain.toPath,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      in.close()
    }
    IndexOps.corpusWithOffsets(spark, plain.getPath)
  }

  private lazy val tdf = {
    val t = IndexOps.termDocTf(corpus, "docid", "text")
    t.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    t.count()
    t
  }

  private def haveCorpus = new java.io.File(gzPath).exists()

  test("postings for starcross'd / gold / silver / bronze match LookupPostingsCompressed.out") {
    assume(haveCorpus)
    // starcross'd: single posting at byte offset 5047738, tf 1
    val sc = tdf.where(col("term") === "starcross'd")
      .select("docid", "tf").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(sc.toSeq === Seq((5047738L, 1L)))

    val gold = tdf.where(col("term") === "gold").orderBy("docid")
      .select("docid", "tf").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(gold.length === 584)
    assert(gold.take(5).toSeq ===
      Seq((5303L, 1L), (5408L, 1L), (36555L, 1L), (74434L, 1L), (76001L, 1L)))
    assert(gold.last === ((9012048L, 1L)))
    val goldHist = IndexOps.tfHistogram(tdf, "gold")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(goldHist.toSeq === Seq((1L, 523L), (2L, 58L), (3L, 3L)))

    val silverHist = IndexOps.tfHistogram(tdf, "silver")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(silverHist.toSeq === Seq((1L, 314L), (2L, 39L), (3L, 1L)))
    assert(tdf.where(col("term") === "silver").count() === 354)

    assert(tdf.where(col("term") === "bronze").count() === 0, "bronze absent")
  }

  test("boolean RPN queries match BooleanRetrievalCompressed.out") {
    assume(haveCorpus)
    def run(rpn: String*): Seq[Long] =
      IndexOps.booleanRetrieve(tdf, rpn).collect().map(_.getLong(0)).toSeq

    assert(run("outrageous", "fortune", "AND") === Seq(4442172L))
    assert(run("means", "deceit", "AND") === Seq(6870153L, 8135048L))
    assert(run("white", "rose", "AND") === Seq(7841087L, 7841354L, 7841879L,
      7841972L, 7842315L, 7842458L, 7845524L, 8237199L, 8275306L, 9067070L))
    assert(run("white", "red", "OR", "rose", "AND", "pluck", "AND") ===
      Seq(7841087L, 7841229L, 7841354L, 7841396L, 7842315L))
    assert(run("unhappy", "outrageous", "OR", "good", "your", "AND", "OR",
      "fortune", "AND") === Seq(4442172L, 5167827L, 7110114L))
  }

  test("BM25 ranked retrieval puts the both-terms doc first") {
    assume(haveCorpus)
    // 4442172 = "the slings and arrows of outrageous fortune" — the only
    // doc containing both query terms (golden docid from
    // BooleanRetrievalCompressed.out) must outrank single-term docs
    val top = IndexOps.searchBM25(corpus, "docid", "text",
      Seq("outrageous", "fortune"), k = 3).collect()
    assert(top.head.getLong(0) === 4442172L)
    assert(top.head.getDouble(1) > top(1).getDouble(1))
  }

  test("retrieval with lines fetches the golden source text") {
    assume(haveCorpus)
    val rows = IndexOps.booleanRetrieveWithLines(corpus, "docid", "text",
      Seq("outrageous", "fortune", "AND")).collect()
    assert(rows.length === 1)
    assert(rows(0).getLong(0) === 4442172L)
    assert(rows(0).getString(1) === " the slings and arrows of outrageous fortune")
  }

  test("compressed index size is consistent with the reference's 6,553,277 bytes") {
    assume(haveCorpus)
    // reference/assignment3/assignment3.md:4 reports 6,553,277 bytes for the
    // whole MapFile (d-gap+VInt postings PLUS SequenceFile key/len/sync
    // overhead and the index file). Our pure payload must be deterministic
    // and strictly smaller, same order of magnitude.
    val c = IndexOps.compressedIndex(
      IndexOps.invertedIndex(corpus, "docid", "text"))
    val r = c.agg(sum(length(col("packed"))), count(lit(1))).head()
    assert(r.getLong(0) === 5663448L, "packed postings bytes (deterministic)")
    assert(r.getLong(1) === 41788L, "one postings list per vocabulary term")
    assert(r.getLong(0) < 6553277L)
  }

  test("MapFile sink serves MapFile.get point lookups (S5/S9 container parity)") {
    assume(haveCorpus)
    val dir = "/tmp/graft-mapfile-sink"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    val c = IndexOps.compressedIndex(IndexOps.invertedIndex(corpus, "docid", "text"))
    IndexOps.writeMapFileIndex(c, dir, numPartitions = 4)
    // golden postings from LookupPostingsCompressed.out via the container
    val sc = IndexOps.mapFileGet(dir, "starcross'd")
    assert(sc === Some(Seq((5047738L, 1L))))
    val gold = IndexOps.mapFileGet(dir, "gold").get
    assert(gold.length === 584)
    assert(gold.take(2) === Seq((5303L, 1L), (5408L, 1L)))
    assert(IndexOps.mapFileGet(dir, "bronze") === None)
  }

  test("point lookup opens exactly ONE part of a 4-part index (range-pruned)") {
    assume(haveCorpus)
    val dir = "/tmp/graft-mapfile-pruned"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    val c = IndexOps.compressedIndex(IndexOps.invertedIndex(corpus, "docid", "text"))
    IndexOps.writeMapFileIndex(c, dir, numPartitions = 4)
    val conf = spark.sparkContext.hadoopConfiguration
    val parts = new java.io.File(dir).listFiles()
      .filter(_.getName.startsWith("part-")).map(_.getName).sorted
    assert(parts.length === 4)
    // terms spread across the vocabulary range: each must resolve to a
    // SINGLE candidate part (the sidecar's span covers every term exactly
    // once — parts are range-partitioned, so spans are disjoint)
    val probes = Seq("aaron", "gold", "outrageous", "zeal", "starcross'd")
    val hits = probes.map { t =>
      val cand = IndexOps.candidateParts(dir, t, conf)
      assert(cand.length === 1, s"term '$t' must map to exactly one part")
      cand.head.getName
    }
    assert(hits.distinct.length > 1, "probes must span multiple parts")
    // a term OUTSIDE every span opens zero readers ("bronze" is absent
    // from the corpus but may fall inside a span; use extremes)
    assert(IndexOps.candidateParts(dir, "", conf).isEmpty)
    assert(IndexOps.candidateParts(dir, "\uffff\uffff", conf).isEmpty)
    // lookups through the pruned path agree with the 1-part golden values
    assert(IndexOps.mapFileGet(dir, "starcross'd") === Some(Seq((5047738L, 1L))))
    assert(IndexOps.mapFileGet(dir, "gold").get.length === 584)
    // fallback: with the sidecar removed (reference-written container),
    // sequential probing still serves lookups from all parts
    assert(new java.io.File(dir, "_ranges").delete())
    assert(IndexOps.candidateParts(dir, "gold", conf).length === 4)
    assert(IndexOps.mapFileGet(dir, "starcross'd") === Some(Seq((5047738L, 1L))))
  }

  test("MapFile framing reproduces the reference's 6,553,277 bytes exactly") {
    assume(haveCorpus)
    // reference/assignment3/assignment3.md:4: "The size of my compressed
    // index is 6553277 bytes" — the part-r-00000 MapFile (data + index
    // files) of a 1-reducer run. Replaying the reference reducer's exact
    // record stream through Hadoop's own MapFile.Writer reproduces that
    // byte count EXACTLY, given two era details:
    //  1. The record stream's quirk
    //     (BuildInvertedIndexCompressed.java:111-135): postings flush only
    //     on term CHANGE, and cleanup() re-writes the stale KEY/POSTINGS
    //     pair — so the lexicographically last term never flushes and the
    //     second-to-last term is written twice (MapFile permits the
    //     equal-key append). The engine's own sink above writes every term.
    //  2. The 2013 SequenceFile sync cadence: a 20-byte sync marker every
    //     2000 bytes. HADOOP-13082 later raised the default to 100 KB, so
    //     the writer must pin syncInterval(2000) to match.
    // With modern defaults the same stream lands at 6,523,318 bytes
    // (58 syncs instead of ~1,660) — asserted as the lower bound below.
    import org.apache.hadoop.io.{BytesWritable, MapFile, SequenceFile, Text => HText}
    val c = IndexOps.compressedIndex(IndexOps.invertedIndex(corpus, "docid", "text"))
    // Spark's UTF8String binary sort == Hadoop Text byte order
    val rows = c.select(col("term"), col("packed")).orderBy("term").collect()
      .map(r => (r.getString(0), r.getAs[Array[Byte]](1)))
    val dir = new java.io.File("/tmp/graft-mapfile-golden")
    org.apache.commons.io.FileUtils.deleteQuietly(dir)
    val conf = new org.apache.hadoop.conf.Configuration()
    val part = new org.apache.hadoop.fs.Path(dir.getPath + "/part-r-00000")
    val w = new MapFile.Writer(conf, part,
      MapFile.Writer.keyClass(classOf[HText]),
      MapFile.Writer.valueClass(classOf[BytesWritable]),
      MapFile.Writer.compression(SequenceFile.CompressionType.NONE),
      SequenceFile.Writer.syncInterval(2000))
    try {
      for (i <- 0 until rows.length - 1)
        w.append(new HText(rows(i)._1), new BytesWritable(rows(i)._2))
      val dup = rows(rows.length - 2) // cleanup(): stale KEY/POSTINGS again
      w.append(new HText(dup._1), new BytesWritable(dup._2))
    } finally w.close()
    val data = new java.io.File(dir, "part-r-00000/data").length()
    val index = new java.io.File(dir, "part-r-00000/index").length()
    assert(data + index === 6553277L, s"data=$data index=$index")
  }

  test("compressed index round-trips through the codec on a real corpus slice") {
    assume(haveCorpus)
    val idx = IndexOps.invertedIndex(
      corpus.where(col("docid") < 100000L), "docid", "text")
    val back = IndexOps.decodeIndex(IndexOps.compressedIndex(idx))
      .select(col("term"), explode(col("postings")).as("p"))
      .select(col("term"), col("p._1").as("docid"), col("p._2").as("tf"))
    val orig = idx
      .select(col("term"), explode(col("postings")).as("p"))
      .select(col("term"), col("p.docid"), col("p.tf"))
    assert(back.except(orig).count() === 0)
    assert(orig.except(back).count() === 0)
  }
}
