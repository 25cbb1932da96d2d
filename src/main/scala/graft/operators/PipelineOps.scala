package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.BloomSketch

/** Training-data pipeline operators beyond dedup/similarity: benchmark
  * contamination checks and deterministic sampling / dataset splits.
  *
  * Everything here is md5-keyed so results are engine-portable and
  * retry-stable (no rand(), no JVM-seeded hashes) — the same properties
  * the dedup family relies on, and exactly what a 100 TB pipeline needs:
  * a re-run or a stage retry must land every row in the same split.
  */
object PipelineOps {

  /** Deterministic 60-bit md5 hash of an arbitrary key column (cast to
    * string first): the portable primitive under sampling and splits. */
  def hash60(key: Column): Column =
    conv(substring(md5(key.cast("string")), 1, 15), 16, 10).cast("long")

  /** Deterministic sample: keeps rows whose key hashes into the first
    * `percent` buckets of 100. Same key -> same decision, forever. */
  def sampleByHash(df: DataFrame, key: Column, percent: Int): DataFrame =
    df.where(pmod(hash60(key), lit(100)) < lit(percent))

  /** Stratified deterministic sampling: a per-class keep-percentage (class
    * rebalancing / downsampling the over-represented source), same
    * md5-bucket mechanism as [[sampleByHash]] so decisions are stable under
    * re-runs and retries. Classes absent from `rates` keep `defaultPct`. */
  def stratifiedSampleByHash(df: DataFrame, key: Column, classCol: Column,
                             rates: Map[String, Int],
                             defaultPct: Int = 0): DataFrame = {
    val pct = rates.foldLeft(lit(defaultPct)) { case (acc, (cls, p)) =>
      when(classCol === cls, lit(p)).otherwise(acc)
    }
    df.where(pmod(hash60(key), lit(100)) < pct)
  }

  /** Deterministic train/valid/test split label from a key column:
    * hash mod 100 -> [0,train) train, [train,train+valid) valid, rest test.
    * The label is a pure function of the key — adding data or re-running
    * never moves an existing row across splits (leakage-safe). A NULL key
    * hashes to NULL and lands in "test" (the conservative bucket: nothing
    * with an unidentifiable key leaks into training).
    */
  def splitLabel(key: Column, trainPct: Int = 80, validPct: Int = 10): Column = {
    val b = pmod(hash60(key), lit(100))
    when(b < trainPct, lit("train"))
      .when(b < trainPct + validPct, lit("valid"))
      .otherwise(lit("test"))
  }

  /** Benchmark-contamination check (the "did my training data leak the eval
    * set" query): for each corpus document, the fraction of its distinct
    * `shingleN`-gram shingles that appear anywhere in the benchmark corpus.
    *
    * Scale design: the benchmark side collapses to a DISTINCT 60-bit hash
    * set (tiny next to the corpus — benchmarks are small by definition) and
    * ships broadcast; the corpus explodes to (doc, hash) and the membership
    * probe is a broadcast left join, so the corpus is touched in ONE pass
    * with no corpus-side shuffle before the per-doc re-aggregation.
    *
    * @return (doc_id, n_shingles, n_contaminated, contamination in [0,1])
    */
  def contamination(corpus: DataFrame, benchmark: DataFrame,
                    idCol: String, textCol: String,
                    shingleN: Int = 3): DataFrame = {
    val benchHashes = benchmark
      .select(explode(DedupOps.shingleHashes64(
        TextOps.tokens(col(textCol)), shingleN)).as("h"))
      .distinct()
      .withColumn("hit", lit(1L))
    corpus
      .select(col(idCol).as("doc_id"),
        explode(DedupOps.shingleHashes64(
          TextOps.tokens(col(textCol)), shingleN)).as("h"))
      .join(broadcast(benchHashes), Seq("h"), "left_outer")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_shingles"),
        coalesce(sum(col("hit")), lit(0L)).as("n_contaminated"))
      .withColumn("contamination",
        round(col("n_contaminated").cast("double") / col("n_shingles"), 6))
  }

  /** Deterministic EXACT-size sample per class: the k rows whose key
    * hashes smallest within each class — a "reservoir sample" whose
    * reservoir is a total md5 order, so the result is identical across
    * reruns, retries and engines (a true random reservoir is neither).
    * Percentage sampling ([[sampleByHash]]) can't hit an exact count;
    * this can, at the cost of a per-class top-k (window rank — one
    * shuffle on the class column, same plan shape as any per-group
    * top-k). Ties on the full 60-bit hash are broken by the key itself.
    */
  def sampleExactPerClass(df: DataFrame, classCol: Column, key: Column,
                          k: Int): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(classCol).orderBy(hash60(key).asc, key.asc)
    df.withColumn("sample_rank", row_number().over(w))
      .where(col("sample_rank") <= k)
  }

  /** Bloom-filter contamination check: same question as [[contamination]]
    * ("how much of each corpus doc's shingle set appears in the benchmark"),
    * but the benchmark side collapses to a FIXED-SIZE bloom bit set
    * (numBits/64 longs) instead of an exact distinct-hash set. One-sided
    * error: every truly-contaminated shingle hits (no false negatives);
    * rates can only over-count, by the classic (1-e^{-kn/m})^k false-hit
    * probability. Use this when the "benchmark" is itself huge (e.g. "does
    * my new crawl overlap my existing 100 TB corpus") and an exact set
    * cannot broadcast; the bloom is numBits/8 bytes no matter what.
    *
    * @return (doc_id, n_shingles, n_maybe_contaminated, bloom_rate)
    */
  def bloomContamination(corpus: DataFrame, benchmark: DataFrame,
                         idCol: String, textCol: String,
                         shingleN: Int = 3, numBits: Int = 1 << 16,
                         numHashes: Int = 3): DataFrame = {
    BloomSketch.requireBits(numBits)
    // build: benchmark shingle hashes -> one bloom row. The aggregation is
    // the bounded Aggregator (map-side combined), setting each hash's k
    // positions inside reduce.
    val bloom = benchmark
      .select(explode(DedupOps.shingleHashes64(
        TextOps.tokens(col(textCol)), shingleN)).as("h"))
      .agg(BloomSketch.bloom(col("h"), numBits, numHashes).as("bloom"))
    // probe: one corpus pass; the bloom words arrive as a broadcast
    // single-row relation; the k bit tests are pure column arithmetic
    val hit = BloomSketch.mightContain(col("bloom"), col("h"), numBits,
      numHashes)
    corpus
      .select(col(idCol).as("doc_id"),
        explode(DedupOps.shingleHashes64(
          TextOps.tokens(col(textCol)), shingleN)).as("h"))
      .crossJoin(broadcast(bloom))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_shingles"),
        sum(when(hit, lit(1L)).otherwise(lit(0L))).as("n_maybe_contaminated"))
      .withColumn("bloom_rate",
        round(col("n_maybe_contaminated").cast("double") / col("n_shingles"), 6))
  }
}
