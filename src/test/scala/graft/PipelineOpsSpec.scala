package graft

import graft.functions.KmvSketch
import graft.operators.{PipelineOps, TimeSeriesOps}
import org.apache.spark.sql.functions._

class PipelineOpsSpec extends SparkSpec {
  import spark.implicits._

  test("contamination: full copy = 1.0, disjoint = 0.0, half overlap in between") {
    val bench = Seq((0L, "alpha beta gamma delta epsilon zeta")).toDF("doc_id", "text")
    val corpus = Seq(
      (100L, "alpha beta gamma delta epsilon zeta"), // exact copy
      (101L, "one two three four five six"),         // disjoint
      (102L, "alpha beta gamma delta one two")       // leading shingles shared
    ).toDF("doc_id", "text")
    val out = PipelineOps.contamination(corpus, bench, "doc_id", "text", shingleN = 3)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    assert(out(100L)._3 === 1.0)
    assert(out(101L)._3 === 0.0)
    // doc 102: shingles = 4 trigrams, of which "alpha beta gamma" and
    // "beta gamma delta" exist in the benchmark -> 2/4
    assert(out(102L) === ((4L, 2L, 0.5)))
  }

  test("bloom contamination: no false negatives, bounded over-count, partition-invariant") {
    val d = Tables.documents(spark, "/root/testdata/sf0.001")
    val bench = d.where(col("doc_id") < 100)
    val corpus = d.where(col("doc_id") >= 100)
    val exact = PipelineOps.contamination(corpus, bench, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val bloom = PipelineOps.bloomContamination(corpus, bench, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(bloom.keySet === exact.keySet)
    var over = 0L; var total = 0L
    for ((id, (n, maybe)) <- bloom) {
      assert(n === exact(id)._1, s"doc $id shingle count")
      // one-sided error: a bloom can only OVER-count contamination
      assert(maybe >= exact(id)._2, s"doc $id false negative")
      over += maybe - exact(id)._2; total += n
    }
    // theoretical false-hit rate (1-e^{-kn/m})^k at k=3, m=2^16 and the
    // ~12k distinct benchmark shingles of sf0.001 is ~7.6%; observed must
    // stay the same order (well under 1.5x theory)
    assert(over.toDouble / total < 0.11, s"false-positive mass $over/$total")
    // the bit-set aggregation merges associatively: physical partitioning
    // must not change a single count
    val repart = PipelineOps.bloomContamination(
      corpus.repartition(13), bench.repartition(7), "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(repart === bloom.map { case (k, v) => k -> v._2 })
  }

  test("bloom bit counts below one long word are rejected before any job") {
    // 32 is a power of two but allocates zero long words: both bloom
    // builders must refuse it on the driver, not fail inside a task
    val docs = Seq((0L, "alpha beta gamma delta")).toDF("doc_id", "text")
    val e = intercept[IllegalArgumentException] {
      PipelineOps.bloomContamination(docs, docs, "doc_id", "text", numBits = 32)
    }
    assert(e.getMessage.contains(">= 64"))
    val base = java.nio.file.Files.createTempDirectory("graft-bloom32").toString
    try {
      val w = intercept[IllegalArgumentException] {
        graft.operators.LayoutOps.writeManifested(spark.range(10).toDF("k"),
          s"$base/t", bloomCols = Seq("k"), bloomBits = 32)
      }
      assert(w.getMessage.contains(">= 64"))
      assert(!new java.io.File(s"$base/t").exists(), "nothing may be written")
    } finally org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(base))
  }

  test("split labels are deterministic, exhaustive, and roughly proportional") {
    val keys = spark.range(10000).toDF("id")
    val labeled = keys.select(col("id"), PipelineOps.splitLabel(col("id")).as("split"))
    val counts = labeled.groupBy("split").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(counts.values.sum === 10000L)
    assert(math.abs(counts("train") - 8000L) < 400, s"train=${counts("train")}")
    assert(math.abs(counts("valid") - 1000L) < 200, s"valid=${counts("valid")}")
    // determinism: two evaluations agree row-for-row
    val again = keys.select(col("id"), PipelineOps.splitLabel(col("id")).as("s2"))
    assert(labeled.join(again, "id").where(col("split") =!= col("s2")).count() === 0)
  }

  test("sampleByHash is a stable subset with approximately the asked rate") {
    val df = spark.range(20000).toDF("id")
    val s10 = PipelineOps.sampleByHash(df, col("id"), 10)
    val n = s10.count()
    assert(math.abs(n - 2000L) < 300, s"got $n")
    // sample(20) is a superset of sample(10) — nested by construction
    val s20 = PipelineOps.sampleByHash(df, col("id"), 20)
    assert(s10.join(s20, Seq("id"), "left_anti").count() === 0)
  }

  test("stratified sampling keeps per-class rates and is a per-class subset") {
    val df = spark.range(30000)
      .selectExpr("id", "CASE WHEN id % 3 = 0 THEN 'a' WHEN id % 3 = 1 THEN 'b' ELSE 'c' END AS cls")
    val sampled = PipelineOps.stratifiedSampleByHash(df, col("id"), col("cls"),
      Map("a" -> 100, "b" -> 20), defaultPct = 0)
    val counts = sampled.groupBy("cls").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(counts("a") === 10000L, "rate 100 keeps every row")
    assert(math.abs(counts("b") - 2000L) < 300, s"b=${counts.get("b")}")
    assert(!counts.contains("c"), "default 0 drops the class entirely")
    // per-class decisions reuse the global bucket: class-b survivors are a
    // subset of what a plain 20% global sample keeps
    val global20 = PipelineOps.sampleByHash(df, col("id"), 20)
    assert(sampled.where(col("cls") === "b")
      .join(global20, Seq("id"), "left_anti").count() === 0)
  }

  test("KMV sketch: exact below k, within 25% at 200x k, partition-invariant") {
    val df = spark.range(5000).toDF("id")
      .withColumn("h", PipelineOps.hash60(col("id")))
    val est = df.agg(KmvSketch.kmvDistinct(col("h"), 64)).head().getDouble(0)
    assert(math.abs(est - 5000) / 5000.0 < 0.25, s"est=$est")
    // below k the sketch is exact
    val small = spark.range(50).toDF("id")
      .withColumn("h", PipelineOps.hash60(col("id")))
    assert(small.agg(KmvSketch.kmvDistinct(col("h"), 64)).head().getDouble(0) === 50.0)
    // merge correctness: estimate independent of physical partitioning
    val est2 = df.repartition(13).agg(KmvSketch.kmvDistinct(col("h"), 64))
      .head().getDouble(0)
    assert(est === est2)
  }

  test("HLL sketch: within 3 sigma at 5k distinct, partition-invariant, linear-count regime") {
    import graft.functions.HllSketch
    val df = spark.range(5000).toDF("id")
      .withColumn("h", PipelineOps.hash60(col("id")))
    val est = df.agg(HllSketch.hllDistinct(col("h"), 8)).head().getDouble(0)
    // sigma = 1.04/sqrt(256) ~ 6.5%; 3 sigma ~ 19.5%
    assert(math.abs(est - 5000) / 5000.0 < 0.195, s"est=$est")
    // merge correctness: estimate independent of physical partitioning
    val est2 = df.repartition(13).agg(HllSketch.hllDistinct(col("h"), 8))
      .head().getDouble(0)
    assert(est === est2)
    // small cardinalities land in the linear-counting branch and stay tight
    val small = spark.range(100).toDF("id")
      .withColumn("h", PipelineOps.hash60(col("id")))
    val se = small.agg(HllSketch.hllDistinct(col("h"), 8)).head().getDouble(0)
    assert(math.abs(se - 100) / 100.0 < 0.15, s"small est=$se")
  }

  test("count-min sketch: never under-estimates, tight at small collision mass, partition-invariant") {
    import graft.functions.CmsSketch
    val df = spark.range(50000).selectExpr("id % 1000 AS item")
      .withColumn("h", PipelineOps.hash60(col("item"))) // 1000 items x 50 each
    val m = df.agg(CmsSketch.cmsMatrix(col("h"), 3, 1024).as("m"))
    val probes = df.where(col("item") < 10).groupBy("item")
      .agg(count(lit(1)).as("exact"))
      .crossJoin(broadcast(m))
      .select(col("item"), col("exact"),
        CmsSketch.estimate(col("m"), PipelineOps.hash60(col("item")), 3, 1024)
          .as("est"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    for ((item, exact, est) <- probes) {
      assert(est >= exact, s"item $item under-estimated: $est < $exact")
      assert(est <= exact * 4, s"item $item collision mass too large: $est vs $exact")
    }
    // merge = elementwise sum: matrix independent of partitioning
    val m1 = m.head().getSeq[Long](0)
    val m2 = df.repartition(13).agg(CmsSketch.cmsMatrix(col("h"), 3, 1024))
      .head().getSeq[Long](0)
    assert(m1 === m2)
  }

  test("quantile sketch: tracks exact quantiles within rank error, partition-invariant") {
    import graft.functions.QuantileSketch
    val df = spark.range(20000).toDF("id")
      .withColumn("h", PipelineOps.hash60(col("id")))
      .withColumn("value", col("id").cast("double")) // known quantiles
    def est(q: Double): Double =
      df.agg(QuantileSketch.quantile(col("h"), col("value"), 256, q))
        .head().getDouble(0)
    // rank error ~ O(1/sqrt(k)) => value error on uniform 0..20000 within
    // a few percent of the range at k=256
    assert(math.abs(est(0.5) - 10000) < 2000, s"p50=${est(0.5)}")
    assert(math.abs(est(0.95) - 19000) < 2000, s"p95=${est(0.95)}")
    val repart = df.repartition(17)
      .agg(QuantileSketch.quantile(col("h"), col("value"), 256, 0.5))
      .head().getDouble(0)
    assert(repart === est(0.5), "merge is partition-invariant")
    // below k the sample is the whole dataset: exact interpolated quantile
    val small = spark.range(101).toDF("id")
      .withColumn("h", PipelineOps.hash60(col("id")))
      .withColumn("value", col("id").cast("double"))
    assert(small.agg(QuantileSketch.quantile(col("h"), col("value"), 256, 0.5))
      .head().getDouble(0) === 50.0)
  }

  test("rollingStats matches a hand-computed trailing frame") {
    val ev = Seq(
      (1L, 1L, "2026-01-01 00:00:01", 1.0),
      (1L, 2L, "2026-01-01 00:00:02", 3.0),
      (1L, 3L, "2026-01-01 00:00:03", 5.0),
      (1L, 4L, "2026-01-01 00:00:04", 7.0),
      (1L, 5L, "2026-01-01 00:00:05", 9.0),
      (2L, 6L, "2026-01-01 00:00:01", 10.0)
    ).toDF("user_id", "event_id", "ts0", "value")
      .withColumn("ts", to_timestamp(col("ts0")))
    val out = TimeSeriesOps.rollingStats(ev, "user_id", "ts", "event_id", "value", 4)
      .collect().map(r => r.getLong(1) -> (r.getDouble(2), r.getDouble(3), r.getLong(4))).toMap
    assert(out(1L) === ((1.0, 1.0, 1L)))
    assert(out(3L) === ((3.0, 5.0, 3L)))                 // (1+3+5)/3
    assert(out(5L) === (((3.0 + 5 + 7 + 9) / 4, 9.0, 4L))) // full frame of 4
    assert(out(6L) === ((10.0, 10.0, 1L)))               // other user isolated
  }

  test("revenue rollup: subtotal rows reconcile with detail rows") {
    val out = graft.operators.RelationalOps.revenueRollup(spark, "/root/testdata/sf0.001")
      .collect()
    val details = out.filter(_.getInt(4) == 0)
    val regional = out.filter(_.getInt(4) == 1)
    val grand = out.filter(_.getInt(4) == 3)
    assert(grand.length === 1)
    assert(grand.head.getLong(3) === details.map(_.getLong(3)).sum, "grand n_items")
    for (r <- regional) {
      val dn = details.filter(_.getString(0) == r.getString(0)).map(_.getLong(3)).sum
      assert(r.getLong(3) === dn, s"region ${r.getString(0)} n_items")
    }
  }
}
