package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.functions.{GraftFunctions, NearestCell}

/** Similarity search over embedding columns (array<float>): brute-force
  * cosine top-k as the exact baseline, random-hyperplane LSH bucketing,
  * IVF (seeded or k-means-trained coarse cells), product quantization
  * (flat PQ, PQ with exact re-rank, IVF-PQ over residuals), cosine
  * near-duplicate pairs, SemDeDup, and persisted ANN models.
  *
  * Scale design:
  *  - All vector math is pure column expressions (`zip_with` + `aggregate`,
  *    or the native dot kernel) inside whole-stage codegen — no UDF boxing
  *    per element. Trained models are tiny driver arrays that re-enter the
  *    plan as LITERALS, so assignment and scoring never join a model table;
  *    every cell assignment is ONE native kernel call
  *    ([[graft.functions.NearestCell]]), so no plan grows with the cells.
  *  - Every search broadcasts the QUERY set (small) against the corpus
  *    (huge): one pass, no shuffle of the corpus, then one shared
  *    per-query window rank ([[topKPerQuery]]).
  *  - The hyperplane code is a per-row expression; candidate generation is
  *    an equi-join on the code, turning O(n²) into bucket-local work. The
  *    hyperplanes are md5-derived ±1 vectors, so codes are deterministic
  *    and engine-portable (no stored model needed).
  *  - IVF and PQ quantizers train in ONE Lloyd loop ([[lloyd]]): in one
  *    task while the training set is under [[InTask]]'s cutoff, else one
  *    seed collect, then one grouped aggregation per iteration for all
  *    subspaces.
  */
object SimilarityOps {

  /** Cast array<float> to array<double> for stable arithmetic. */
  def asDouble(v: Column): Column = transform(v, x => x.cast("double"))

  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, x) => acc + x)

  def cosine(a: Column, b: Column): Column =
    dot(a, b) / sqrt(dot(a, a) * dot(b, b))

  /** Dot product for PAIR SCANS: the native codegen expression
    * (graft.functions.DotProduct). Spark's higher-order functions
    * (aggregate/zip_with) are interpreted per element — fine once per row,
    * ~3x-10x too slow when evaluated per candidate pair. Same sequential
    * summation order as the columnar form and DuckDB's list_dot_product,
    * so results are bit-compatible. */
  private def fastDot(df: DataFrame, a: Column, b: Column): Column =
    GraftFunctions.dot(df.sparkSession, a, b)

  /** The m `dsub`-wide slices of vector column `v`, all NULL unless `v` is
    * exactly m × dsub wide. */
  private def subvectors(v: Column, m: Int, dsub: Int): Seq[Column] = {
    val whole = when(size(v) === m * dsub, v)
    (0 until m).map(j => slice(whole, j * dsub + 1, dsub))
  }

  /** BigDecimal HALF_UP rounding — what Spark's and DuckDB's round() do,
    * so driver-side rounding matches a rounded column bit for bit. */
  private[operators] def roundHalfUp(x: Double, decimals: Int): Double =
    BigDecimal(x).setScale(decimals, BigDecimal.RoundingMode.HALF_UP).toDouble

  /** (id, v, nrm): vectors with their norms precomputed ONCE — pair scans
    * then do a single dot per pair instead of three. */
  private def withNorms(df: DataFrame, idCol: String, vecCol: String,
                        idAs: String, vAs: String, nrmAs: String): DataFrame =
    df.select(col(idCol).as(idAs), asDouble(col(vecCol)).as(vAs))
      .withColumn(nrmAs, sqrt(dot(col(vAs), col(vAs))))

  /** The tail every top-k search shares: (query_id, vec_id, `name` =
    * `score` rounded to 6 decimals, rn), keeping each query's k best by
    * (score desc, vec_id asc). */
  private def topKPerQuery(pairs: DataFrame, score: Column, name: String,
                           k: Int): DataFrame = {
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col(name).desc, col("vec_id").asc)
    pairs.select(col("query_id"), col("vec_id"), round(score, 6).as(name))
      .withColumn("rn", row_number().over(w)).where(col("rn") <= k)
  }

  /** An empty result with the given typed columns: what an empty corpus
    * or model returns (the kernel needs a non-empty book). */
  private def emptyResult(spark: SparkSession,
                          cols: (String, DataType)*): DataFrame =
    spark.createDataFrame(spark.sparkContext.emptyRDD[Row],
      StructType(cols.map { case (n, t) => StructField(n, t) }))

  /** [[emptyResult]] in [[topKPerQuery]]'s schema. */
  private def emptyTopK(spark: SparkSession, name: String): DataFrame =
    emptyResult(spark, "query_id" -> LongType, "vec_id" -> LongType,
      name -> DoubleType, "rn" -> IntegerType)

  /** At most `maxRows` rows of `ds` on the driver, or `tooMany` as the
    * error: ONE capped collect, so the bound holds for exactly the rows
    * collected, whatever the input does between two scans. */
  private[operators] def collectBounded[T](ds: Dataset[T], maxRows: Long,
                                           tooMany: => String): Array[T] = {
    val rows = ds.limit((maxRows max 0L min (Int.MaxValue - 1L)).toInt + 1)
      .collect()
    require(rows.length <= maxRows, tooMany)
    rows
  }

  /** Exact brute-force cosine top-k: for each query vector, the k nearest
    * corpus vectors (self excluded). Queries broadcast; corpus stays put. */
  def bruteForceTopK(corpus: DataFrame, idCol: String, vecCol: String,
                     queries: DataFrame, qidCol: String, qvecCol: String,
                     k: Int): DataFrame = {
    val c = withNorms(corpus, idCol, vecCol, "vec_id", "v", "nrm")
    val q = withNorms(queries, qidCol, qvecCol, "query_id", "qv", "qnrm")
    topKPerQuery(c.join(broadcast(q), col("vec_id") =!= col("query_id")),
      fastDot(c, col("qv"), col("v")) / (col("qnrm") * col("nrm")), "cos", k)
  }

  /** All near-duplicate pairs by cosine >= threshold (brute-force; the
    * LSH-bucketed variant below is the scale path). */
  def cosineNearDupPairs(corpus: DataFrame, idCol: String, vecCol: String,
                         threshold: Double,
                         maxBruteRows: Long = 100000L): DataFrame = {
    // Broadcast one side as primitive arrays and scan pairs in a
    // mapPartitions kernel: a row-join materializing O(n²) boxed vector
    // pairs measured ~10x slower. mapPartitions is justified here exactly
    // as SURVEY §2.10(d) allows — a tight numeric kernel Catalyst can't
    // express. The broadcast side must fit in memory: this operator is the
    // BOUNDED brute-force baseline; LSH bucketing is the full-corpus path.
    val spark = corpus.sparkSession
    import spark.implicits._
    val c = withNorms(corpus, idCol, vecCol, "id", "v", "nrm")
    // ENFORCE the bound, don't document it: collecting an uncapped corpus
    // is a silent driver OOM. The cap is overridable for callers that know
    // their driver heap; past it, the answer is the LSH path, not a bigger
    // cap.
    val side = collectBounded(c.as[(Long, Seq[Double], Double)], maxBruteRows,
      s"cosineNearDupPairs is the BOUNDED brute-force baseline: corpus has " +
        s"more rows than maxBruteRows=$maxBruteRows. Use the LSH-bucketed " +
        "path (SimilarityOps.lshTopK) or SemDeDup (semDedup) for full " +
        "corpora, or raise maxBruteRows if the driver heap allows.")
      .map { case (i, v, n) => (i, v.toArray, n) }
      .sortBy(_._1)
    val bc = spark.sparkContext.broadcast(side)
    c.as[(Long, Seq[Double], Double)]
      .mapPartitions { it =>
        val all = bc.value
        it.flatMap { case (ida, v, nrm) =>
          val a = v.toArray
          // binary search to the first idb > ida, then scan forward
          var lo = java.util.Arrays.binarySearch(all.map(_._1), ida) match {
            case neg if neg < 0 => -neg - 1
            case pos => pos + 1
          }
          val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Double)]
          while (lo < all.length) {
            val (idb, b, nrmB) = all(lo)
            var s = 0.0
            var i = 0
            val n = a.length
            while (i < n) { s += a(i) * b(i); i += 1 }
            val cos = roundHalfUp(s / (nrm * nrmB), 6)
            if (cos >= threshold) out += ((ida, idb, cos))
            lo += 1
          }
          out
        }
      }
      .toDF("ida", "idb", "cos")
  }

  /** md5-derived ±1 pseudo-random hyperplane sign for (plane, dim). */
  private def planeSign(p: Column, d: Column): Column =
    when(conv(substring(md5(concat(p.cast("string"), lit(":"), d.cast("string"))),
      1, 1), 16, 10).cast("int") % 2 === 0, lit(1.0)).otherwise(lit(-1.0))

  /** LSH-bucketed approximate top-k: rank only within same-code buckets.
    * Recall < 1 by construction; trade off with `planes` (fewer planes =
    * bigger buckets = higher recall & cost). */
  def lshTopK(corpus: DataFrame, idCol: String, vecCol: String,
              queries: DataFrame, qidCol: String, qvecCol: String,
              k: Int, planes: Int = 8, probeBits: Int = 0): DataFrame = {
    require(probeBits >= 0 && probeBits <= planes,
      s"probeBits must be in [0, planes], got $probeBits")
    // embedding dimension read once from the data (arrays carry no length
    // in the schema); the plane literals hoist against it
    val dim = corpus.select(size(col(vecCol))).head().getInt(0)
    val c = withNorms(corpus, idCol, vecCol, "vec_id", "v", "nrm")
    val cc = c.withColumn("code", hyperplaneCodeFast(c, col("v"), planes, dim))
    val q0 = withNorms(queries, qidCol, qvecCol, "query_id", "qv", "qnrm")
    // multi-probe: beyond the exact code, probe the first `probeBits`
    // Hamming-distance-1 codes (flip one plane's sign bit). A vector near
    // a hyperplane lands on either side by a hair — probing the adjacent
    // buckets recovers those misses for a probeBits+1 factor of candidate
    // cost, WITHOUT growing the corpus index (the standard multi-probe
    // LSH trade; probe codes are query-side only)
    val q = if (probeBits == 0) {
      // exact-bucket path keeps its original plan shape (no Generate node)
      q0.withColumn("qcode", hyperplaneCodeFast(q0, col("qv"), planes, dim))
    } else {
      val q1 = q0.withColumn("qcode0", hyperplaneCodeFast(q0, col("qv"), planes, dim))
      val probeCodes = col("qcode0") +:
        (0 until probeBits).map(p => col("qcode0").bitwiseXOR(lit(1L << p)))
      q1.withColumn("qcode", explode(array(probeCodes: _*))).drop("qcode0")
    }
    topKPerQuery(cc.join(broadcast(q),
        col("code") === col("qcode") && col("vec_id") =!= col("query_id")),
      fastDot(cc, col("qv"), col("v")) / (col("qnrm") * col("nrm")), "cos", k)
  }

  // ---- IVF (inverted file) --------------------------------------------
  // A coarse quantizer assigns every corpus vector to its nearest centroid
  // cell ONCE; queries probe only their `nprobe` nearest cells. With
  // `nprobe == nlist` the search is exhaustive and equals
  // [[bruteForceTopK]] exactly (tested); smaller nprobe trades recall for
  // a ~nlist/nprobe scan reduction. The quantizer is either the `nlist`
  // lowest-id corpus vectors ([[seedCentroids]]) or their spherical
  // k-means refinement ([[trainIvfCentroids]]); either way only the
  // literal centroid arrays change. Cell assignment is one map pass and
  // the probe a cell-equality join — the corpus never shuffles per query.

  /** (cell id, vector, norm) — the coarse-quantizer model shape. */
  type Centroid = (Long, Array[Double], Double)

  /** Deterministic quantizer init: the `nlist` lowest-id corpus vectors
    * (Lloyd with zero iterations). */
  def seedCentroids(corpus: DataFrame, idCol: String, vecCol: String,
                    nlist: Int): Array[Centroid] =
    lloydSeeds(withNorms(corpus, idCol, vecCol, "vec_id", "v", "nrm"), 1, nlist, ivfRule)
      .headOption.getOrElse(Array.empty)

  /** Spherical k-means (Lloyd) refinement of the IVF coarse quantizer:
    * assign every vector to its max-cosine centroid (the same kernel the
    * search uses), recompute each cell's centroid as the
    * element-wise mean of its members, repeat. The seeding and tie-breaks
    * are deterministic (lowest id / lowest cell), so reruns over the SAME
    * physical partitioning rebuild identical centroids; the residual
    * nondeterminism is avg()'s floating summation order, which can move a
    * centroid by an ulp under a different partition layout and flip a
    * borderline vector's cell — harmless for recall, but don't hash-gate
    * anything downstream of an unquantized trained model.
    *
    * `roundDecimals` quantizes each recomputed centroid coordinate per
    * iteration (HALF_UP, as Spark's and DuckDB's round()). This resets the
    * summation-order float noise every round, which makes the TRAINED
    * model engine-portable and hash-stable; the ~1e-6 coordinate loss is
    * far below any recall-relevant scale. Training is [[lloyd]] with
    * m = 1. Empty cells keep their previous centroid. */
  def trainIvfCentroids(corpus: DataFrame, idCol: String, vecCol: String,
                        nlist: Int, iterations: Int = 5,
                        roundDecimals: Option[Int] = None): Array[Centroid] =
    lloyd(trainingSet(withNorms(corpus, idCol, vecCol, "vec_id", "v", "nrm"), ivfRule),
      1, nlist, iterations, roundDecimals, ivfRule)
      .headOption.getOrElse(Array.empty)

  /** The id of vector column `v`'s max-cosine IVF cell, ties to the
    * lowest id; NULL for a NULL or wrong-width vector. */
  private def ivfCell(df: DataFrame, cents: Array[Centroid], v: Column): Column = {
    val byId = cents.sortBy(_._1)
    element_at(lit(byId.map(_._1)), GraftFunctions.nearestCell(df.sparkSession, v,
      byId.toSeq.map(_._2), cosine = true) + 1)
  }

  /** IVF cell probe: each query's top-`nprobe` cells by (cosine desc, cell
    * asc) as (query_id, qv, qnrm, cell, qdotc), where qdotc = dot(qv,
    * centroid) feeds IVF-PQ's score decomposition. `q` carries (query_id,
    * qv, qnrm); the query side is small by contract, so exploding it
    * against the centroids (one literal relation) + a window is cheap. */
  private def probeCells(q: DataFrame, cents: Array[Centroid],
                         nprobe: Int): DataFrame = {
    val qScored = q.withColumn("c", explode(typedLit(cents.toSeq.map {
        case (cid, cv, cnrm) => (cid, cv.toSeq, cnrm) })))
      .withColumn("qdotc", fastDot(q, col("qv"), col("c._2")))
    val w = Window.partitionBy(col("query_id"))
      .orderBy((col("qdotc") / (col("c._3") * col("qnrm"))).desc, col("c._1").asc)
    qScored.withColumn("rc", row_number().over(w)).where(col("rc") <= nprobe)
      .select(col("query_id"), col("qv"), col("qnrm"), col("c._1").as("cell"),
        col("qdotc"))
  }

  def ivfTopK(corpus: DataFrame, idCol: String, vecCol: String,
              queries: DataFrame, qidCol: String, qvecCol: String,
              k: Int, nlist: Int = 16, nprobe: Int = 4,
              centroids: Option[Array[Centroid]] = None): DataFrame = {
    val c = withNorms(corpus, idCol, vecCol, "vec_id", "v", "nrm")
    // the quantizer is a tiny driver model; pass `centroids` (e.g. from
    // trainIvfCentroids) to swap it without touching the plan
    val cents = centroids.getOrElse(seedCentroids(corpus, idCol, vecCol, nlist))
    if (cents.isEmpty) return emptyTopK(corpus.sparkSession, "cos")
    val assigned = c.withColumn("cell", ivfCell(c, cents, col("v")))
    val q = probeCells(withNorms(queries, qidCol, qvecCol, "query_id", "qv",
      "qnrm"), cents, nprobe)
    topKPerQuery(assigned.join(broadcast(q),
        assigned("cell") === q("cell") && col("vec_id") =!= col("query_id")),
      fastDot(c, col("qv"), col("v")) / (col("qnrm") * col("nrm")), "cos", k)
  }

  /** Random-hyperplane LSH code, packed: Σ (v·h_p > 0) << p. Bit p is the
    * sign of the projection onto an md5-derived ±1 hyperplane — SimHash for
    * vectors; cosine-similar vectors agree on most bits.
    *
    * Column-only reference form: evaluates the md5-derived sign per
    * (row, plane, dim) through interpreted lambdas — correct but ~100x the
    * work of [[hyperplaneCodeFast]], which precomputes each plane ONCE as a
    * literal array (the planes are deterministic, so this is just hoisting)
    * and takes the projections through the native dot kernel. */
  def hyperplaneCode(v: Column, planes: Int): Column =
    aggregate(
      transform(sequence(lit(0), lit(planes - 1)), p => {
        val dims = sequence(lit(0), size(v) - 1)
        val proj = aggregate(
          zip_with(v, dims, (x, d) => x * planeSign(p, d)),
          lit(0.0), (acc, x) => acc + x)
        when(proj > 0, expr("1")).otherwise(lit(0)).cast("long") * pow(lit(2.0), p).cast("long")
      }),
      lit(0L), (acc, x) => acc + x)

  /** The same ±1 signs as [[planeSign]], computed driver-side: first md5
    * hex char of "p:d" even -> +1. */
  private[operators] def planeVector(p: Int, dim: Int): Array[Double] =
    Array.tabulate(dim) { d =>
      val b0 = java.security.MessageDigest.getInstance("MD5")
        .digest(s"$p:$d".getBytes("UTF-8"))(0)
      if (((b0 >> 4) & 0xf) % 2 == 0) 1.0 else -1.0
    }

  /** Hyperplane code with hoisted plane literals + native dot product:
    * identical values to [[hyperplaneCode]] (same signs, same sequential
    * summation order), one codegen'd dot per plane instead of per-element
    * interpreted lambdas. Needs the embedding dimension up front — one
    * schema-level fact the caller reads once, not per row. */
  def hyperplaneCodeFast(df: DataFrame, v: Column, planes: Int, dim: Int): Column =
    (0 until planes).map { p =>
      when(fastDot(df, v, lit(planeVector(p, dim))) > 0, lit(1L << p))
        .otherwise(lit(0L))
    }.reduce(_ + _)

  // ---- product quantization (PQ) ---------------------------------------
  // The memory-compression ANN path: vectors split into m subspaces, each
  // quantized against its own k-cell codebook, so a corpus vector becomes
  // m small ints. At 100 TB that is the difference between shipping
  // d floats and m bytes per row through every scoring scan — the
  // codebooks (m*k*dsub doubles) are a driver-side model like the IVF
  // centroids, and scoring is ADC: score(q, x) = Σ_j dot(q_j, C_j[code_j]).

  /** One subspace's codebook: cells 0..k-1 as (centroid subvector,
    * squared norm). Index j of the outer array = subspace j. A stored
    * model defines its own layout: m is the number of codebooks, whatever
    * m a caller passes alongside it. */
  type PqCodebook = Array[Array[(Array[Double], Double)]]

  /** Await a concurrently-submitted driver job with a FINITE bound.
    * `Duration.Inf` here would turn a hung Spark job into a silently hung
    * driver; 30 minutes (model trainings at the 100x fixture finish in
    * minutes) fails loudly instead, naming which concurrent chain stalled. */
  private[graft] def awaitOrFail[T](f: scala.concurrent.Future[T],
      what: String,
      timeout: scala.concurrent.duration.Duration =
        scala.concurrent.duration.Duration(30, "min")): T =
    try scala.concurrent.Await.result(f, timeout)
    catch {
      case _: java.util.concurrent.TimeoutException =>
        throw new IllegalStateException(
          s"concurrent driver job '$what' did not finish within " +
            s"$timeout — a hung Spark job chain")
    }

  /** In-plan vector-width guard: rows whose vector is exactly `dim` wide
    * pass through unchanged; any other width raises a descriptive error
    * when the row is actually scanned (native `when`/`raise_error` —
    * codegen'd, no job at plan time, nothing on the happy path). Without
    * it a PQ layout that does not tile the embedding would silently score
    * only a vector prefix. NULL vectors pass through as NULL — corrupt/
    * missing data are data, not errors (the decode kernels' degradation
    * contract): their scores come out NULL and rank last, they never
    * abort the query. Only a present-but-wrong-width vector raises. */
  private def pqDimGuard(v: Column, dim: Int, what: String): Column =
    when(v.isNull, v).when(size(v) === lit(dim), v).otherwise(raise_error(format_string(
      s"$what vector dim=%s does not tile the PQ model layout " +
        s"(m x dsub = $dim) — the model was trained for a different " +
        "embedding width; rebuild it with `ann-build`", size(v))))

  /** `df` (vec_id, ...) with `v` replaced by its min-L2 cells code0 ..
    * code{m-1} (NULL for a NULL or wrong-width vector), checkpointed
    * lazily: left in the plan, whole-stage codegen would defer the coding
    * into the scoring join and run it once per (corpus row, query). */
  private def pqCoded(df: DataFrame, books: PqCodebook, dsub: Int): DataFrame =
    df.select(df.columns.filter(_ != "v").map(col).toSeq ++
      subvectors(col("v"), books.length, dsub).zipWithIndex.map { case (sv, j) =>
        GraftFunctions.nearestCell(df.sparkSession, sv, books(j).map(_._1).toSeq,
          cosine = false).as(s"code$j")
      }: _*).localCheckpoint(eager = false)

  /** ADC score of a row carrying the query vector `qv` and a corpus
    * vector's codes: Σ_j dot(qv_j, C_j[code_j]), each codebook entering
    * as one literal. */
  private def adcScore(df: DataFrame, books: PqCodebook, dsub: Int): Column =
    subvectors(col("qv"), books.length, dsub).zipWithIndex.map { case (qj, j) =>
      fastDot(df, qj, element_at(typedLit(books(j).map(_._1.toSeq).toSeq),
        col(s"code$j") + 1))
    }.reduce(_ + _)

  // ---- the Lloyd trainer --------------------------------------------------

  /** How [[lloyd]] assigns a slice to a cell (the [[NearestCell]] kernel
    * by max cosine or min L2, in both regimes), names a cell from its
    * seed's (vec_id, rank), and which norm the model keeps (the kernel's).
    * A cosine rule rejects a zero-norm training vector or centroid. */
  private final case class LloydRule(cosine: Boolean, cellName: (Long, Int) => Long) {
    def norm(v: Array[Double]): Double = NearestCell.norm(v, cosine)
  }

  /** IVF: cosine; cells named by their seed's vec_id. Books hold cells in
    * seed (ascending id) order, so the lowest index is the lowest id. */
  private val ivfRule = LloydRule(cosine = true, (id, _) => id)

  /** PQ: L2; cells named by seed rank. */
  private val pqRule = LloydRule(cosine = false, (_, rank) => rank.toLong)

  /** A [[lloyd]] input `c` (vec_id, v, ...), materialized once, with what
    * [[lloyd]] checks and its regime gate read, observed by that same
    * job: its size in vector coordinates (rows x the widest vector), its
    * rows with a NULL id and, when its `nrm` was checked, its lowest id
    * with a zero norm. */
  private final case class TrainingSet(c: DataFrame, coords: Long, nullIds: Long,
                                       zeroNormId: Option[Long])

  /** `df` as a [[TrainingSet]] for `rule`; a cosine rule checks its
    * `nrm` column. */
  private def trainingSet(df: DataFrame, rule: LloydRule): TrainingSet = {
    val (c, m) = Observed.checkpoint(df, count(lit(1)),
      coalesce(max(size(col("v"))), lit(0)),
      count(when(col("vec_id").isNull, 1)),
      if (rule.cosine) min(when(col("nrm") === 0.0, col("vec_id"))).cast("long")
      else lit(null).cast("long"))
    TrainingSet(c, m.getLong(0) * m.getInt(1), m.getLong(2),
      if (m.isNullAt(3)) None else Some(m.getLong(3)))
  }

  /** The one Lloyd trainer behind both quantizers: IVF is the m = 1 case.
    * `set.c` holds `vec_id` and an array<double> `v` (plus what `rule`
    * reads); each vector splits into m equal slices, one codebook of up
    * to `cells` cells each. A NULL id fails the training in both regimes,
    * as does a zero-norm vector under a cosine rule.
    *
    * Seeds are the `cells` lowest-id rows, which also fix the dimension.
    * Each iteration assigns every slice by `rule` (a NULL or wrong-width
    * vector has no cell), and replaces each cell's centroid by its members' mean,
    * rounded HALF_UP to `roundDecimals`; empty cells keep their centroid.
    * An empty input trains an empty model. While `set.coords` is under
    * [[InTask]]'s cutoff every round runs in one task ([[lloydInTask]]):
    * the same seeds, assignment arithmetic and rounding, so its models
    * differ from the distributed regime's only by each mean's summation
    * order (ulps, which rounding absorbs). Above it, the seeds are one
    * collect and each iteration takes every (subspace, cell) mean in ONE
    * grouped aggregation, collected once: 1 + iterations rounds whatever
    * m is. */
  private def lloyd(set: TrainingSet, m: Int, cells: Int, iterations: Int,
                    roundDecimals: Option[Int],
                    rule: LloydRule): Array[Array[Centroid]] = {
    require(set.nullIds == 0, s"Lloyd training needs a vec_id on every row: ${set.nullIds} are NULL")
    for (id <- set.zeroNormId) throw new IllegalArgumentException(
      s"IVF training vec_id $id has a zero-norm vector: its cosine is undefined")
    val c = set.c
    // a failed check in the task (a NULL seed vector, say) is rethrown
    // on the driver, as the distributed regime throws it
    if (InTask.fits(c.sparkSession, set.coords))
      return InTask.gather(Seq(InTask.blocks(
          c.select(col("vec_id").cast("long"), col("v"))))) { bs =>
        Iterator(scala.util.Try(lloydInTask(bs.toSeq, m, cells, iterations, roundDecimals, rule)))
      }.collect().head.get
    var books = lloydSeeds(c, m, cells, rule)
    if (books.isEmpty) return books
    val dsub = books.head.head._2.length
    val meanCols = (0 until dsub).map(i =>
      avg(element_at(col("sv"), i + 1)).as(s"m$i"))
    for (_ <- 1 to iterations) {
      val slices = subvectors(col("v"), m, dsub).zipWithIndex.map { case (sv, j) =>
        struct(lit(j).as("subspace"),
          GraftFunctions.nearestCell(c.sparkSession, sv, books(j).map(_._2).toSeq,
            rule.cosine).as("cell"),
          sv.as("sv"))
      }
      // a vector without a cell contributes to no mean
      val means = c.select(explode(array(slices: _*)).as("s")).select("s.*")
        .groupBy("subspace", "cell").agg(meanCols.head, meanCols.tail: _*)
        .collect().filterNot(_.isNullAt(1))
        .map(r => (r.getInt(0), r.getInt(1)) ->
          Array.tabulate(dsub)(i => r.getDouble(i + 2))).toMap
      books = moved(books, roundDecimals, rule)((j, i) => means.get((j, i)))
    }
    books
  }

  /** `books` with each cell (j, i) that has a `mean` moved to its
    * [[centroid]]; a cell without members keeps its centroid. */
  private def moved(books: Array[Array[Centroid]], roundDecimals: Option[Int], rule: LloydRule)
                   (mean: (Int, Int) => Option[Array[Double]]): Array[Array[Centroid]] =
    books.zipWithIndex.map { case (book, j) =>
      book.zipWithIndex.map { case (old, i) =>
        mean(j, i).fold(old)(centroid(_, old._1, roundDecimals, rule))
      }
    }

  /** Cell `name`'s centroid from a seed or mean vector, rounded HALF_UP to
    * `roundDecimals`; a cosine rule rejects a zero norm. */
  private def centroid(v: Array[Double], name: Long, roundDecimals: Option[Int],
                       rule: LloydRule): Centroid = {
    val r = roundDecimals.fold(v)(d => v.map(roundHalfUp(_, d)))
    val norm = rule.norm(r)
    require(!rule.cosine || norm != 0.0,
      s"IVF cell $name has a zero-norm centroid: its cosine is undefined")
    (name, r, norm)
  }

  /** [[lloyd]]'s initial books: the `cells` lowest-id rows of `c`, one
    * collect; empty for an empty `c`. */
  private def lloydSeeds(c: DataFrame, m: Int, cells: Int,
                         rule: LloydRule): Array[Array[Centroid]] =
    seedBooks(c.orderBy("vec_id").limit(cells).select(col("vec_id"), col("v")).collect()
      .map { r =>
        require(!r.isNullAt(0), "Lloyd seeds need a vec_id on every row")
        (r.getAs[Number](0).longValue, Option(r.getSeq[Double](1)).map(_.toArray).orNull)
      }, m, rule)

  /** The books seeded by `seeds` (vec_id, vector), in rank order: slice j
    * of each seed vector is book j's cell. */
  private def seedBooks(seeds: Array[(Long, Array[Double])], m: Int,
                        rule: LloydRule): Array[Array[Centroid]] = {
    if (seeds.isEmpty) return Array.empty
    for ((id, v) <- seeds) require(v != null, s"Lloyd seed vec_id $id has a NULL vector")
    val dim = seeds.head._2.length
    for ((id, v) <- seeds) require(v.length == dim,
      s"Lloyd seed vec_id $id is ${v.length} wide, the lowest-id seed $dim")
    require(dim % m == 0, s"dim $dim does not split into $m subspaces")
    val dsub = dim / m
    Array.tabulate(m) { j =>
      seeds.zipWithIndex.map { case ((id, v), rank) =>
        centroid(v.slice(j * dsub, (j + 1) * dsub), rule.cellName(id, rank), None, rule)
      }
    }
  }

  /** [[lloyd]] over packed (vec_id, v) blocks in one task. Rows are read
    * in vec_id order (stable for equal ids), so the seeds are the
    * distributed regime's and each mean sums its members in id order. */
  private def lloydInTask(blocks: Seq[InTask.Block], m: Int, cells: Int,
                          iterations: Int, roundDecimals: Option[Int],
                          rule: LloydRule): Array[Array[Centroid]] = {
    val ids = InTask.column(blocks, 0)
    val vecs = blocks.flatMap(_.vecs).toArray
    val order = ids.indices.sortBy(ids(_)).toArray
    var books = seedBooks(order.take(cells).map(i => (ids(i), vecs(i))), m, rule)
    if (books.isEmpty) return books
    val dsub = books.head.head._2.length
    for (_ <- 1 to iterations) {
      val sums = books.map(_.map(_ => new Array[Double](dsub)))
      val members = books.map(b => new Array[Long](b.length))
      val cells = books.map(_.map(_._2))
      val norms = books.map(_.map(_._3))
      for (i <- order if vecs(i) != null && vecs(i).length == m * dsub; j <- 0 until m) {
        val v = vecs(i)
        val cell = NearestCell.index(cells(j), norms(j), rule.cosine, v, j * dsub, dsub)
        val sum = sums(j)(cell)
        for (k <- 0 until dsub) sum(k) += v(j * dsub + k)
        members(j)(cell) += 1
      }
      books = moved(books, roundDecimals, rule)((j, c) =>
        Option.when(members(j)(c) > 0)(sums(j)(c).map(_ / members(j)(c))))
    }
    books
  }

  /** [[lloyd]] with the PQ rule over a [[trainingSet]]. */
  private def pqModel(set: TrainingSet, m: Int, cells: Int, iterations: Int,
                      roundDecimals: Option[Int]): PqCodebook =
    lloyd(set, m, cells, iterations, roundDecimals, pqRule)
      .map(_.map(e => (e._2, e._3)))

  /** Train PQ codebooks (standard PQ, L2 assignment). Seeding is the k
    * lowest-id vectors' subvectors (cell = seed rank), ties break to the
    * lowest cell, and `roundDecimals` quantizes every recomputed centroid
    * coordinate per iteration — the same determinism recipe as
    * [[trainIvfCentroids]], so the trained model is hash-stable and
    * engine-portable (the q_ann_pq oracle re-derives it in SQL). All m
    * subspaces train together: one corpus pass and one (subspace, cell)
    * aggregation per iteration. */
  def trainPqCodebooks(corpus: DataFrame, idCol: String, vecCol: String,
                       m: Int, cells: Int, iterations: Int = 2,
                       roundDecimals: Option[Int] = Some(6)): PqCodebook =
    pqModel(trainingSet(corpus.select(col(idCol).cast("long").as("vec_id"),
        asDouble(col(vecCol)).as("v")), pqRule),
      m, cells, iterations, roundDecimals)

  /** PQ-ANN top-k by asymmetric distance computation. The index-build
    * pass is the ONLY scan that reads corpus vectors — it reduces each
    * row to m int codes; the scoring scan then carries (id, codes) and
    * reconstructs Σ_j dot(q_j, C_j[code_j]) from LITERAL codebook arrays,
    * all inside whole-stage codegen (no UDF, no model broadcast — the
    * model IS the plan). Queries broadcast; the corpus never shuffles. */
  def pqTopK(corpus: DataFrame, idCol: String, vecCol: String,
             queries: DataFrame, qidCol: String, qvecCol: String,
             k: Int, m: Int = 2, cells: Int = 4, iterations: Int = 2,
             codebooks: Option[PqCodebook] = None): DataFrame = {
    val books = codebooks.getOrElse(
      trainPqCodebooks(corpus, idCol, vecCol, m, cells, iterations))
    if (books.isEmpty || books.exists(_.isEmpty))
      return emptyTopK(corpus.sparkSession, "score")
    val dsub = books.head.head._1.length
    val dim = books.length * dsub
    // stored models guard BOTH sides in-plan (the model's layout is
    // external to this data); trained-on-the-fly models derived dsub from
    // this corpus, so only the queries need the width check
    val c = corpus.select(col(idCol).cast("long").as("vec_id"),
      (if (codebooks.isDefined)
         pqDimGuard(asDouble(col(vecCol)), dim, "corpus")
       else asDouble(col(vecCol))).as("v"))
    val coded = pqCoded(c, books, dsub)
    val q = queries.select(col(qidCol).cast("long").as("query_id"),
      pqDimGuard(asDouble(col(qvecCol)), dim, "query").as("qv"))
    val joined = coded.join(broadcast(q), col("vec_id") =!= col("query_id"))
    topKPerQuery(joined, adcScore(joined, books, dsub), "score", k)
  }

  /** PQ-ANN with exact re-ranking: [[pqTopK]]'s ADC scan produces a
    * `shortlist`-deep candidate set per query, then ONLY those candidates'
    * full vectors are re-read and scored with exact cosine — the standard
    * two-stage retrieve-then-refine recipe (shortlist quality from the
    * compressed index, ranking quality from exact math).
    *
    * Scale design: the shortlist relation is |queries| × `shortlist` rows
    * of (query_id, vec_id) — broadcast it against the corpus, so the
    * refine stage is one corpus scan that materializes vectors for
    * candidate ids only (a broadcast semi-join fetch, not a corpus
    * shuffle), followed by a per-query window over ≤ `shortlist` rows.
    * The ADC stage's determinism (rounded scores, id tie-breaks) makes
    * the shortlist — and therefore the re-ranked result — hash-stable.
    */
  def pqTopKRerank(corpus: DataFrame, idCol: String, vecCol: String,
                   queries: DataFrame, qidCol: String, qvecCol: String,
                   k: Int, shortlist: Int, m: Int = 2, cells: Int = 4,
                   iterations: Int = 2,
                   codebooks: Option[PqCodebook] = None): DataFrame = {
    require(shortlist >= k, s"shortlist $shortlist must be >= k $k")
    val cand = pqTopK(corpus, idCol, vecCol, queries, qidCol, qvecCol,
      k = shortlist, m = m, cells = cells, iterations = iterations,
      codebooks = codebooks)
      .select(col("query_id"), col("vec_id"))
    val c = withNorms(corpus, idCol, vecCol, "vec_id", "v", "nrm")
    val q = withNorms(queries, qidCol, qvecCol, "query_id", "qv", "qnrm")
    val joined = c.join(broadcast(cand), "vec_id").join(broadcast(q), "query_id")
    topKPerQuery(joined,
      fastDot(joined, col("v"), col("qv")) / (col("nrm") * col("qnrm")), "cos", k)
  }

  /** SemDeDup-style semantic deduplication (Abbas et al. 2023,
    * arXiv:2303.09540): cluster the embedding space with the trained IVF
    * quantizer, call two documents semantic duplicates when their cosine
    * within a shared cluster reaches `threshold`, and keep one canonical
    * doc (minimum id) per connected duplicate group.
    *
    * Scale design: the clustering is what bounds the quadratic — pair
    * generation is an intra-cell self-join, so cost is Σ|cell|², never
    * n²; `nlist` grows with the corpus to hold expected cell size
    * constant (the paper's recipe). Exactly-identical embeddings collapse
    * to one representative BEFORE the self-join
    * ([[DedupOps.collapseIdentical]] keyed on the vector bytes) — the
    * same duplicate-safety guard as the fuzzy text dedup family: an
    * embedding duplicated a million times would otherwise occupy one cell
    * with a 10¹²-pair join. Members rejoin relationally (identical
    * vectors are cosine-1 duplicates of their representative by
    * construction). Components come from the pointer-jumping
    * [[DedupOps.connectedComponents]] (O(log n) rounds).
    *
    * Determinism: trained centroids are coordinate-quantized per
    * iteration (`roundDecimals`), assignment ties break to the lowest
    * cell, and the pair threshold applies to the 6-decimal-rounded
    * cosine, so the result is hash-stable and oracle-comparable.
    *
    * @return (vec_id, cell, canonical_id, is_dup) for every corpus row
    */
  def semanticDedup(corpus: DataFrame, idCol: String, vecCol: String,
                    nlist: Int, threshold: Double, iterations: Int = 2,
                    roundDecimals: Option[Int] = Some(6)): DataFrame = {
    val cents = trainIvfCentroids(corpus, idCol, vecCol, nlist, iterations,
      roundDecimals)
    if (cents.isEmpty)
      return emptyResult(corpus.sparkSession, "vec_id" -> LongType,
        "cell" -> LongType, "canonical_id" -> LongType, "is_dup" -> BooleanType)
    val ided = corpus.select(col(idCol).cast("long").as("vec_id"),
      asDouble(col(vecCol)).as("v0"))
    val (reps0, membership) = DedupOps.collapseIdentical(
      ided, "vec_id", md5(to_json(struct(col("v0")))))
    val reps = reps0.select(col("vec_id"), col("v0").as("v"))
      .withColumn("nrm", sqrt(dot(col("v"), col("v"))))
    val assigned = reps.withColumn("cell", ivfCell(reps, cents, col("v")))
      .localCheckpoint()
    val pairs = assigned.as("a").join(assigned.as("b"),
        col("a.cell") === col("b.cell") && col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("ida"), col("b.vec_id").as("idb"),
        round(fastDot(assigned, col("a.v"), col("b.v")) /
          (col("a.nrm") * col("b.nrm")), 6).as("cos"))
      .where(col("cos") >= threshold)
    val comp = DedupOps.connectedComponents(pairs)
      .select(col("id").as("rep"), col("cluster_id"))
    // members inherit their representative's component; reps without any
    // near pair are their own canonical (and so are their members' —
    // identical vectors cluster with the rep by construction)
    membership
      .join(assigned.select(col("vec_id").as("rep"), col("cell")), "rep")
      .join(comp, Seq("rep"), "left_outer")
      .select(col("id").as("vec_id"), col("cell"),
        coalesce(col("cluster_id"), col("rep")).as("canonical_id"))
      .withColumn("is_dup", col("vec_id") =!= col("canonical_id"))
  }

  // ---- IVF-PQ ---------------------------------------------------------
  // The standard billion-scale ANN index shape: the trained coarse
  // quantizer partitions the corpus into `nlist` cells, each vector's
  // RESIDUAL (v − centroid) is product-quantized into m codes, and queries
  // probe the top-`nprobe` cells scoring candidates by the inner-product
  // decomposition dot(q,v) ≈ dot(q, c_cell) + Σ_j dot(q_j, book_j[code_j]).
  //
  // Residual quantization is what separates this from flat PQ: residuals
  // are centered near zero, so the same codebook budget carries far more
  // precision. Scale shape: the index-build pass reduces each corpus row
  // to (cell, m codes); the scoring scan ships (id, cell, codes) through a
  // cell equi-join against the broadcast probe set — centroids and
  // codebooks are LITERAL arrays (the model IS the plan, codegen'd), and
  // the corpus never shuffles. Determinism: both quantizers train with
  // per-iteration 6-decimal rounding, residual subtraction is exact FP,
  // and scores round to 6 — hash-stable and oracle-reproducible.

  /** Per-vector residuals (vec_id, cell, v = residual) against trained
    * coarse centroids, materialized once: the cell's centroid enters as
    * one literal map from cell id — codegen'd, no join against a centroid
    * table. A vector without a cell has a NULL residual. The
    * [[trainingSet]] feeds both residual training and the coding pass. */
  private def residualsFor(corpus: DataFrame, idCol: String, vecCol: String,
                           cents: Array[Centroid]): TrainingSet = {
    val c = corpus.select(col(idCol).as("vec_id"), asDouble(col(vecCol)).as("v"))
    val assigned = c.withColumn("cell", ivfCell(c, cents, col("v")))
    val centFor = element_at(typedLit(cents.map(c => c._1 -> c._2.toSeq).toMap),
      col("cell"))
    trainingSet(assigned.select(col("vec_id"), col("cell"),
      zip_with(col("v"), centFor, (a, b) => a - b).as("v")), pqRule)
  }

  /** Train the residual PQ codebooks for an IVF-PQ index under
    * already-trained coarse centroids (the `ann-build --method ivfpq`
    * path — [[ivfPqTopK]] trains the same way when not given models). */
  def trainPqResidualCodebooks(corpus: DataFrame, idCol: String,
                               vecCol: String, cents: Array[Centroid],
                               m: Int, cells: Int,
                               iterations: Int = 2): PqCodebook =
    pqModel(residualsFor(corpus, idCol, vecCol, cents), m, cells, iterations,
      Some(6))

  def ivfPqTopK(corpus: DataFrame, idCol: String, vecCol: String,
                queries: DataFrame, qidCol: String, qvecCol: String,
                k: Int, nlist: Int = 8, nprobe: Int = 2, m: Int = 2,
                cells: Int = 4, iterations: Int = 2,
                centroids: Option[Array[Centroid]] = None,
                codebooks: Option[PqCodebook] = None): DataFrame = {
    val spark = corpus.sparkSession
    val cents = centroids.getOrElse(
      trainIvfCentroids(corpus, idCol, vecCol, nlist, iterations,
        roundDecimals = Some(6)))
    if (cents.isEmpty) return emptyTopK(spark, "score")
    val set = residualsFor(corpus, idCol, vecCol, cents)
    val books = codebooks.getOrElse(pqModel(set, m, cells, iterations, Some(6)))
    if (books.isEmpty || books.exists(_.isEmpty)) return emptyTopK(spark, "score")
    val dsub = books.head.head._1.length
    val coded = pqCoded(set.c, books, dsub)
    // a stored model's layout is validated in-plan against the query
    // vectors (residuals share the corpus width, so one guard covers both)
    val q0 = withNorms(queries, qidCol, qvecCol, "query_id", "qv", "qnrm")
    val q = probeCells(
      if (codebooks.isDefined)
        q0.withColumn("qv", pqDimGuard(col("qv"), books.length * dsub, "query"))
      else q0, cents, nprobe)
    val joined = coded.join(broadcast(q),
      coded("cell") === q("cell") && col("vec_id") =!= col("query_id"))
    topKPerQuery(joined, col("qdotc") + adcScore(joined, books, dsub), "score", k)
  }

  // ---- persisted ANN models: train once, probe many ----
  //
  // The trained quantizers (IVF centroids, PQ codebooks) are bounded
  // driver models — nlist x dim and m x cells x dsub doubles — but the
  // training pass that produces them scans the corpus `iterations` times.
  // A production index trains ONCE at build time and serves probes from
  // the stored model; these four functions round-trip the models through
  // manifest-committed parquet tables (atomic single-object commit, time
  // travel, the LayoutOps guarantees) so an index build survives restarts
  // and a probe job never retrains. Norms are recomputed at load — they
  // are derived values, and storing them would only create a consistency
  // obligation.

  /** Persist trained IVF centroids as a manifested table (cell, v). */
  def saveIvfModel(spark: SparkSession,
                   cents: Array[Centroid], path: String): Unit = {
    import spark.implicits._
    LayoutOps.writeManifested(
      cents.toSeq.map { case (cid, v, _) => (cid, v.toSeq) }
        .toDF("cell", "v"), path, numFiles = 1)
  }

  /** Load IVF centroids saved by [[saveIvfModel]] (cells sorted by id). */
  def loadIvfModel(spark: SparkSession,
                   path: String): Array[Centroid] = {
    import spark.implicits._
    LayoutOps.readManifested(spark, path)
      .select(col("cell").cast("long"), col("v"))
      .as[(Long, Seq[Double])].collect().sortBy(_._1)
      .map { case (cid, v) => (cid, v.toArray, ivfRule.norm(v.toArray)) }
  }

  /** Persist trained PQ codebooks as a manifested table
    * (subspace, cell, v). */
  def savePqModel(spark: SparkSession,
                  books: PqCodebook, path: String): Unit = {
    import spark.implicits._
    val rows = for {
      (book, j) <- books.toSeq.zipWithIndex
      ((cv, _), cid) <- book.toSeq.zipWithIndex
    } yield (j, cid, cv.toSeq)
    LayoutOps.writeManifested(rows.toDF("subspace", "cell", "v"),
      path, numFiles = 1)
  }

  /** Load PQ codebooks saved by [[savePqModel]] (subspaces/cells sorted). */
  def loadPqModel(spark: SparkSession,
                  path: String): PqCodebook = {
    import spark.implicits._
    LayoutOps.readManifested(spark, path)
      .select(col("subspace").cast("int"), col("cell").cast("int"), col("v"))
      .as[(Int, Int, Seq[Double])].collect()
      .groupBy(_._1).toArray.sortBy(_._1)
      .map { case (_, cells) =>
        cells.sortBy(_._2).map { case (_, _, v) =>
          val a = v.toArray; (a, pqRule.norm(a))
        }
      }
  }
}
