package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Trained document-quality classification: logistic regression over
  * hashing-trick bag-of-words features — the fasttext-style filter
  * pretraining pipelines train on a labeled seed set (reference pages vs
  * random crawl) and sweep over the full corpus. The reference has no
  * counterpart; this extends the engine's quality surface (heuristic
  * `TextAnalysisOps.qualityScore`, perplexity `lmQualityScore`) with the
  * third standard filter family: a LEARNED model.
  *
  * Scale design — the PageRank loop discipline applied to training:
  *  - The model is a bounded driver vector (dims+1 doubles); the corpus
  *    never shuffles by anything other than (doc) and (bucket).
  *  - Features are relational: explode tokens once, hash to `dims`
  *    buckets (md5-derived — engine-portable, no JVM seed), normalize by
  *    doc length. One localCheckpoint; every iteration reuses it.
  *  - Each GD iteration is two aggregations: per-doc margin (sum of
  *    w[bucket]·x — the weights enter as a LITERAL array, so the dot
  *    product is codegen'd column math, no join against a weights table),
  *    then per-bucket gradient (sum of x·residual). Both get map-side
  *    partial aggregation; the driver receives dims+1 doubles per
  *    iteration, exactly like PageRank's dangling-mass scalar.
  *  - Determinism: weights are rounded to 6 decimals per iteration (the
  *    [[SimilarityOps.trainIvfCentroids]] recipe), which resets float
  *    summation-order noise every round and makes the trained model
  *    hash-stable and oracle-reproducible (the q_quality_classifier
  *    oracle unrolls the identical iterations in SQL).
  *
  * Full-batch GD, not SGD: mini-batch order is inherently partition-
  * dependent, and at 100 TB "one pass over the data per update" is the
  * shape that parallelizes — more iterations are cheap relative to a
  * corpus scan, and convex LR needs no stochasticity to converge.
  */
object ClassifierOps {

  /** Hashed bag-of-words features (id, bucket, x): token buckets carry
    * count/len(doc); bucket `dims` is the bias (x = 1). */
  private def features(docs: DataFrame, idCol: String, textCol: String,
                       dims: Int): DataFrame = {
    val toked = docs.select(col(idCol).as("id"),
      TextOps.tokens(col(textCol)).as("toks"))
    val tokenFeats = toked
      .select(col("id"), size(col("toks")).as("nt"),
        explode(col("toks")).as("tk"))
      .groupBy(col("id"),
        pmod(PipelineOps.hash60(col("tk")), lit(dims.toLong)).as("bucket"))
      .agg((count(lit(1)).cast("double") / first(col("nt"))).as("x"))
    tokenFeats.unionByName(
      toked.select(col("id"), lit(dims.toLong).as("bucket"),
        lit(1.0).as("x")))
  }

  private def marginOf(feats: DataFrame, w: Array[Double]): DataFrame = {
    val wLit = array(w.toIndexedSeq.map(lit): _*)
    feats.groupBy("id")
      .agg(sum(element_at(wLit, col("bucket").cast("int") + 1) * col("x"))
        .as("z"))
  }

  private def sigmoid(z: Column): Column = lit(1.0) / (lit(1.0) + exp(-z))

  /** Train the LR weights (dims token buckets + bias, index `dims`).
    * `labelCol` must evaluate to 1.0/0.0. Deterministic for a fixed
    * (dims, iterations, lr): per-iteration 6-decimal weight rounding. */
  def trainLogReg(docs: DataFrame, idCol: String, textCol: String,
                  labelCol: Column, dims: Int = 64, iterations: Int = 5,
                  lr: Double = 1.0,
                  checkpointDir: Option[String] = None): Array[Double] = {
    // the GD loop re-reads feats/labels every iteration: with a
    // checkpointDir the materialization is RELIABLE (survives executor
    // loss mid-training), else executor-local — see GraphOps.LineageCutter
    val cut = new GraphOps.LineageCutter(checkpointDir)
    val feats = cut(features(docs, idCol, textCol, dims))
    // Drop null-labeled docs BEFORE counting n: a label expression like
    // `lang = 'en'` evaluates to NULL on null lang, and a null label would
    // both inflate n with zero-gradient rows and poison sum(x*r) to NULL
    // for any bucket touched only by such docs (NPE at the collect).
    val labels = cut(docs.select(col(idCol).as("id"), labelCol.cast("double").as("y"))
      .where(col("y").isNotNull))
    val n = labels.count().toDouble
    var w = Array.fill(dims + 1)(0.0)
    if (n == 0) return w
    for (_ <- 1 to iterations) {
      val resid = marginOf(feats, w).join(labels, "id")
        .select(col("id"), (sigmoid(col("z")) - col("y")).as("r"))
      val grad = feats.join(resid, "id")
        .groupBy("bucket").agg(sum(col("x") * col("r")).as("g"))
        .collect().map(r => r.getLong(0).toInt -> r.getDouble(1)).toMap
      w = w.zipWithIndex.map { case (wv, b) =>
        SimilarityOps.roundHalfUp(wv - lr * grad.getOrElse(b, 0.0) / n, 6)
      }
    }
    w
  }

  /** Score docs under trained weights: (id, prob) with prob rounded to 6
    * decimals (hash-stable). */
  def scoreLogReg(docs: DataFrame, idCol: String, textCol: String,
                  weights: Array[Double]): DataFrame = {
    val dims = weights.length - 1
    marginOf(features(docs, idCol, textCol, dims), weights)
      .select(col("id").as(idCol), round(sigmoid(col("z")), 6).as("prob"))
  }

  /** Persist trained LR weights as a manifested table (bucket, wv) —
    * train once on the labeled seed set, score any corpus forever (the
    * [[SimilarityOps.saveIvfModel]] pattern). */
  def saveModel(spark: org.apache.spark.sql.SparkSession,
                weights: Array[Double], path: String): Unit = {
    import spark.implicits._
    LayoutOps.writeManifested(
      weights.toSeq.zipWithIndex.map { case (wv, b) => (b.toLong, wv) }
        .toDF("bucket", "wv"), path, numFiles = 1)
  }

  /** Load weights saved by [[saveModel]]. */
  def loadModel(spark: org.apache.spark.sql.SparkSession,
                path: String): Array[Double] = {
    import spark.implicits._
    LayoutOps.readManifested(spark, path)
      .select(col("bucket").cast("long"), col("wv").cast("double"))
      .as[(Long, Double)].collect().sortBy(_._1).map(_._2)
  }

  /** Train on the corpus' own labels and score every doc:
    * (id, label, prob, predicted). The standard usage trains on a labeled
    * SEED set and scores a different (unlabeled) corpus — pass the same
    * frame twice here for the self-scoring gate shape, or train/score
    * separately via [[trainLogReg]]/[[scoreLogReg]]. */
  def qualityClassifier(docs: DataFrame, idCol: String, textCol: String,
                        labelCol: Column, dims: Int = 64,
                        iterations: Int = 5, lr: Double = 1.0): DataFrame = {
    val w = trainLogReg(docs, idCol, textCol, labelCol, dims, iterations, lr)
    docs.select(col(idCol), labelCol.cast("double").as("label"))
      .join(scoreLogReg(docs, idCol, textCol, w), idCol)
      .withColumn("predicted", col("prob") >= 0.5)
  }
}
