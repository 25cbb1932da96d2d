package graft

import graft.operators.{DedupOps, SimilarityOps}
import org.apache.spark.sql.functions._

/** Dedup + similarity-search semantics on planted duplicates, plus
  * LSH-vs-brute-force agreement on the driver's synthetic tables.
  */
class DedupSimSpec extends SparkSpec {
  import spark.implicits._

  private val docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog"),
    (2L, "the quick brown fox jumps over the lazy cat"), // near-dup of 1
    (3L, "dog lazy the over jumps fox brown quick the"), // same token SET as 1
    (4L, "completely different content about spark engines and shuffles"),
    (5L, "the quick brown fox jumps over the lazy dog")  // exact dup of 1
  ).toDF("doc_id", "text")

  test("exactDedup groups byte-identical and token-set-identical docs") {
    val bySet = DedupOps.exactDedup(docs, "doc_id",
      DedupOps.tokenSetFingerprint(col("text")))
      .select("doc_id", "canonical_id", "is_dup")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(2))).toMap
    // docs 1, 3, 5 share a token set; 1 is canonical
    assert(bySet(1L) === ((1L, false)))
    assert(bySet(3L) === ((1L, true)))
    assert(bySet(5L) === ((1L, true)))
    assert(bySet(2L)._2 === false)
    assert(bySet(4L)._2 === false)

    val byText = DedupOps.exactDedup(docs, "doc_id", md5(col("text")))
      .where(col("is_dup")).select("doc_id").collect().map(_.getLong(0))
    assert(byText.toSeq === Seq(5L), "only the byte-identical copy")
  }

  test("exactDedup keeps rows whose fingerprint is NULL (null-safe group join)") {
    // the fingerprint is a caller-supplied Column: a NULL fp forms its own
    // group (as groupBy treats it) instead of being dropped by the re-join
    val withNull = docs.union(Seq((6L, null: String), (7L, null: String))
      .toDF("doc_id", "text"))
    val out = DedupOps.exactDedup(withNull, "doc_id", md5(col("text")))
      .select("doc_id", "canonical_id", "is_dup")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(2))).toMap
    assert(out.size === 7, "NULL-fingerprint rows must survive the join")
    assert(out(6L) === ((6L, false)), "lowest NULL-fp id is canonical")
    assert(out(7L) === ((6L, true)), "other NULL-fp rows are its dups")
  }

  test("exactDedup: hot fingerprint gets partial aggregation, not a window funnel") {
    // 100k rows sharing ONE fingerprint — the degenerate-skew case. The
    // plan must contain no Window (every row of a hot fp through one task)
    // and must partially aggregate the canonical-id min before the shuffle.
    val hot = spark.range(100000).select(
      col("id").as("doc_id"), lit("boilerplate").as("text"))
    val out = DedupOps.exactDedup(hot, "doc_id", md5(col("text")))
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), "hot-fp dedup must not use a window over fp")
    assert(plan.contains("partial_min") || plan.contains("partial min"),
      s"canonical id must be partially aggregated map-side:\n$plan")
    val rows = out.select("doc_id", "canonical_id", "is_dup").collect()
    assert(rows.length === 100000)
    assert(rows.forall(_.getLong(1) == 0L), "canonical is the minimum id")
    assert(rows.count(!_.getBoolean(2)) === 1, "exactly one non-dup survivor")
  }

  test("minhash LSH finds planted near-dups and agrees with exact jaccard") {
    val brute = DedupOps.ngramJaccardPairs(docs, "doc_id", "text",
      shingleN = 3, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(brute.contains((1L, 5L)) && brute((1L, 5L)) === 1.0)
    assert(brute.contains((1L, 2L)) && brute((1L, 2L)) > 0.5)

    val lsh = DedupOps.minhashNearDupPairs(docs, "doc_id", "text",
      shingleN = 3, k = 12, bands = 4, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    // LSH output must be a subset of brute force with identical jaccards,
    // and must catch the j=1.0 planted pair
    lsh.foreach { case (k, v) => assert(brute(k) === v) }
    assert(lsh.contains((1L, 5L)))
  }

  test("minhash LSH recall is 100% on the testdata's planted near-dups (j>=0.9)") {
    val d = Tables.documents(spark, "/root/testdata/sf0.001")
    val brute = DedupOps.ngramJaccardPairs(d, "doc_id", "text", 3, 0.9)
      .select("ida", "idb").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = DedupOps.minhashNearDupPairs(d, "doc_id", "text", 3, 12, 4, 0.9)
      .select("ida", "idb").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(brute.nonEmpty, "testdata should contain planted near-dups")
    assert(brute.subsetOf(lsh) && lsh.subsetOf(brute))
  }

  test("brute-force kernels enforce their row cap and name the LSH sibling") {
    // the bounded-oracle contract: past maxBruteRows the kernel must fail
    // fast with an actionable error, not collect its way to a driver OOM
    val e1 = intercept[IllegalArgumentException] {
      DedupOps.ngramJaccardPairs(docs, "doc_id", "text",
        shingleN = 3, threshold = 0.5, maxBruteRows = 2L).collect()
    }
    assert(e1.getMessage.contains("minhashNearDupPairs"))
    assert(e1.getMessage.contains("maxBruteRows=2"))

    val vecs = Seq((1L, Seq(1.0, 0.0)), (2L, Seq(0.9, 0.1)),
      (3L, Seq(0.0, 1.0))).toDF("vec_id", "embedding")
    val e2 = intercept[IllegalArgumentException] {
      SimilarityOps.cosineNearDupPairs(vecs, "vec_id", "embedding",
        threshold = 0.5, maxBruteRows = 2L).collect()
    }
    assert(e2.getMessage.contains("lshTopK"))

    // at or under the cap both kernels still run
    assert(SimilarityOps.cosineNearDupPairs(vecs, "vec_id", "embedding",
      threshold = 0.5, maxBruteRows = 3L).count() >= 1)
  }

  test("connectedComponents: min-label propagation finds exact components") {
    // two components (a 4-chain that needs >1 propagation round, and a
    // triangle) — labels must converge to the component minimum
    val pairs = Seq((10L, 20L), (20L, 30L), (30L, 40L),
      (7L, 8L), (8L, 9L), (7L, 9L)).toDF("ida", "idb")
    val comp = DedupOps.connectedComponents(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(comp === Map(10L -> 10L, 20L -> 10L, 30L -> 10L, 40L -> 10L,
      7L -> 7L, 8L -> 7L, 9L -> 7L))
  }

  test("connectedComponents: pointer jumping handles a 300-node chain in few rounds") {
    // a path graph is the worst case for plain neighbor propagation
    // (diameter rounds = 300 > the 20-round cap here); the label(label(v))
    // jump must close it in O(log n) rounds
    val chain = (0L until 300L).sliding(2).map(s => (s(0), s(1))).toSeq
      .toDF("ida", "idb")
    val comp = DedupOps.connectedComponents(chain, maxIterations = 20)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(comp.size === 300)
    assert(comp.values.forall(_ == 0L), "whole chain is one component rooted at 0")
  }

  /** The two components and the 300-node chain of the tests above. */
  private def twoComponents = Seq((10L, 20L), (20L, 30L), (30L, 40L),
    (7L, 8L), (8L, 9L), (7L, 9L)).toDF("ida", "idb")
  private def chain300 = (0L until 300L).sliding(2).map(s => (s(0), s(1))).toSeq
    .toDF("ida", "idb")

  /** (schema, sorted rows) of `connectedComponents(pairs)`. */
  private def components(pairs: org.apache.spark.sql.DataFrame, maxIterations: Int = 50) = {
    val out = DedupOps.connectedComponents(pairs, maxIterations = maxIterations)
    (out.schema, out.collect().map(_.toString).sorted.toSeq)
  }

  test("connectedComponents: in-task and join regimes return the same rows and schema") {
    val ints = Seq((5, 6), (6, 7), (9, 8)).toDF("ida", "idb")
    val empty = Seq.empty[(Long, Long)].toDF("ida", "idb")
    // ids that do not pack into longs take the join regime under any cutoff
    val strings = Seq(("b", "c"), ("a", "b"), ("y", "x")).toDF("ida", "idb")
    for ((name, pairs) <- Seq("two components" -> twoComponents, "chain" -> chain300,
        "empty" -> empty, "int ids" -> ints,
        "string ids" -> strings)) {
      val (inTask, join) = inTaskAndJoin(components(pairs))
      assert(inTask === join, name)
    }
    val (intSchema, intRows) = components(ints)
    assert(intSchema.map(f => (f.name, f.dataType.simpleString, f.nullable)) ===
      Seq(("id", "int", false), ("cluster_id", "int", false)))
    assert(intRows === Seq("[5,5]", "[6,5]", "[7,5]", "[8,8]", "[9,8]"))
    assert(components(empty)._2.isEmpty)
    assert(components(strings)._2 === Seq("[a,a]", "[b,a]", "[c,a]", "[x,x]", "[y,x]"))
  }

  test("connectedComponents: a pair with a NULL endpoint is no edge, in both regimes") {
    val pairs = Seq[(java.lang.Long, java.lang.Long)]((1L, null), (2L, 3L), (null, 4L))
      .toDF("ida", "idb")
    val (inTask, join) = inTaskAndJoin(components(pairs))
    for (((schema, rows), regime) <- Seq(inTask -> "in-task", join -> "join")) {
      assert(rows === Seq("[2,2]", "[3,2]"), regime)
      assert(schema.forall(!_.nullable), s"$regime: ids are non-nullable")
    }
  }

  test("connectedComponents: past maxIterations both regimes throw") {
    for (cutoff <- Seq(Long.MaxValue, 0L)) {
      val e = intercept[IllegalStateException](withCutoff(cutoff)(
        components(chain300, maxIterations = 2)))
      assert(e.getMessage.contains("did not converge in 2 rounds"), s"cutoff $cutoff")
    }
  }

  test("connectedComponents computes the pair relation once per call in both regimes") {
    val evals = spark.sparkContext.longAccumulator("pair evaluations")
    val tick = udf { (id: Long) => evals.add(1); id }.asNondeterministic()
    val pairs = chain300.select(tick(col("ida")).as("ida"), col("idb"))
    for (cutoff <- Seq(Long.MaxValue, 0L)) {
      evals.reset()
      val rows = withCutoff(cutoff)(DedupOps.connectedComponents(pairs).collect())
      assert(rows.length === 300)
      assert(evals.value === 299L, s"cutoff $cutoff: the 299 pairs were evaluated ${evals.value} times")
    }
  }

  /** Jobs per call with the result collected: `connectedComponents` on
    * the two-component fixture in each regime (in-task: the pairs'
    * checkpoint, which also counts them, the one task, the read; 28
    * before the in-task regime) and
    * `nearDupClusters` on the planted docs in-task (34 before). Measured;
    * a count may only go down. */
  private val ccJobBudget: Map[String, Int] = Map(
    "connectedComponents" -> 3,
    "connectedComponents/join" -> 22,
    "nearDupClusters" -> 15)

  test("connected components and near-dup clusters stay within the committed job budget") {
    def cc() = jobsOf(DedupOps.connectedComponents(twoComponents).collect())
    val counts = Seq("connectedComponents" -> cc(),
      "connectedComponents/join" -> withCutoff(0)(cc()),
      "nearDupClusters" -> jobsOf(DedupOps.nearDupClusters(docs, "doc_id", "text").collect()))
    info(counts.map { case (op, n) => s"$op=$n" }.mkString(" "))
    for ((op, n) <- counts) assert(n <= ccJobBudget(op), s"$op submitted $n jobs")
  }

  test("nearDupClusters groups the planted duplicate family under one canonical") {
    val clusters = DedupOps.nearDupClusters(docs, "doc_id", "text",
      shingleN = 3, k = 12, bands = 4, threshold = 0.5)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(2))).toMap
    // 1, 2, 5 form one near-dup component (1-2 and 1-5 pairs); 1 canonical
    assert(clusters(1L) === ((1L, true)))
    assert(clusters(2L) === ((1L, false)))
    assert(clusters(5L) === ((1L, false)))
    assert(!clusters.contains(4L), "doc with no near-dup is not in the pair graph")
  }

  test("nearDupClusters: an isolated identical group still forms a cluster") {
    // CC runs on representative pairs; a byte-identical group with NO
    // near-dup outside itself has no rep pair at all, yet its members are
    // pairwise jaccard-1 duplicates and must cluster (the membership-size
    // branch, not the CC labels, carries this case)
    import spark.implicits._
    val iso = Seq(
      (10L, "zebra quokka axolotl wombat narwhal pangolin"),
      (11L, "zebra quokka axolotl wombat narwhal pangolin"),
      (12L, "completely different words about astrophysics and turbines")
    ).toDF("doc_id", "text")
    val clusters = DedupOps.nearDupClusters(iso, "doc_id", "text",
      shingleN = 3, k = 12, bands = 4, threshold = 0.5)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(2))).toMap
    assert(clusters(10L) === ((10L, true)))
    assert(clusters(11L) === ((10L, false)))
    assert(!clusters.contains(12L), "singleton stays out of the cluster relation")
  }

  test("simhash: identical docs collide, near-dups are close, others far") {
    val sh = DedupOps.simhash(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sh(1L) === sh(5L))
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(ham(sh(1L), sh(2L)) < ham(sh(1L), sh(4L)))
    val pairs = DedupOps.simhashNearDupPairs(
      DedupOps.simhash(docs, "doc_id", "text"), "id", "simhash", maxDist = 3)
      .select("ida", "idb").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 5L)))
  }

  test("collapseIdentical: reps keep min-id per distinct key, membership covers every row") {
    val (reps, membership) = DedupOps.collapseIdentical(
      docs, "doc_id", md5(col("text")))
    // texts of 1 and 5 are byte-identical; everything else is distinct
    assert(reps.select("doc_id").collect().map(_.getLong(0)).sorted
      === Array(1L, 2L, 3L, 4L))
    val m = membership.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(m === Map(1L -> 1L, 2L -> 2L, 3L -> 3L, 4L -> 4L, 5L -> 1L))
    // reps carry every original column (the downstream kernels need them)
    assert(reps.columns.toSet === docs.columns.toSet)
  }

  test("duplicate-heavy corpus: collapsed minhash pair set matches brute force exactly") {
    // every base doc duplicated 5x — the distribution that made the
    // uncollapsed band join quadratic (161x at 10x scale). The collapsed
    // path must still emit the FULL member-level pair set, bit-for-bit
    // against the O(n^2) oracle.
    val dup = docs.union(docs.select(col("doc_id") + 100, col("text")))
      .union(docs.select(col("doc_id") + 200, col("text")))
      .union(docs.select(col("doc_id") + 300, col("text")))
      .union(docs.select(col("doc_id") + 400, col("text")))
    val brute = DedupOps.ngramJaccardPairs(dup, "doc_id", "text", 3, 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val lsh = DedupOps.minhashNearDupPairs(dup, "doc_id", "text", 3, 12, 4, 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    lsh.foreach { case (k, v) => assert(brute(k) === v, s"pair $k") }
    // every exact-duplicate pair must surface with jaccard exactly 1.0
    // (within-group expansion), e.g. the five copies of doc 1 and doc 5
    val copies1 = Seq(1L, 5L, 101L, 105L, 201L, 205L, 301L, 305L, 401L, 405L)
    for (a <- copies1; b <- copies1 if a < b)
      assert(lsh((a, b)) === 1.0, s"identical pair ($a,$b)")
    assert(lsh.keySet === brute.keySet,
      "100% recall at j>=0.5 on this corpus: collapse must not drop pairs")
  }

  test("duplicate-heavy corpus: collapsed simhash pairs equal all-pairs hamming brute force") {
    val dup = docs.union(docs.select(col("doc_id") + 100, col("text")))
      .union(docs.select(col("doc_id") + 200, col("text")))
    val sims = DedupOps.simhash(dup, "doc_id", "text")
    val sh = sims.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val brute = (for {
      a <- sh.keys; b <- sh.keys if a < b
      d = java.lang.Long.bitCount(sh(a) ^ sh(b)) if d <= 3
    } yield (a, b) -> d).toMap
    val got = DedupOps.simhashNearDupPairs(sims, "id", "simhash", maxDist = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getInt(2)).toMap
    // pigeonhole blocking is exact at maxDist+1 blocks, and the collapse
    // expansion must restore every member pair with its true distance
    assert(got === brute)
  }

  test("hoisted hyperplane codes equal the per-element column reference") {
    import graft.operators.SimilarityOps
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val c = emb.select(col("vec_id"), SimilarityOps.asDouble(col("embedding")).as("v"))
    val dim = c.select(size(col("v"))).head().getInt(0)
    val fast = c.select(col("vec_id"),
        SimilarityOps.hyperplaneCodeFast(c, col("v"), 6, dim).as("code"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val ref = c.select(col("vec_id"),
        SimilarityOps.hyperplaneCode(col("v"), 6).as("code"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(fast === ref)
  }

  test("brute-force ANN ranks a perturbed copy first; LSH agrees on its candidates") {
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val queries = emb.where(col("vec_id") < 2)
    val brute = SimilarityOps.bruteForceTopK(emb, "vec_id", "embedding",
      queries, "vec_id", "embedding", k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap

    // a planted near-copy: query vector + tiny noise must rank itself top-1
    val v = emb.where(col("vec_id") === 0).select("embedding")
      .head().getSeq[Float](0).toArray
    val perturbed = v.map(x => x + 0.001f)
    val augmented = emb.select("vec_id", "embedding")
      .union(Seq((9999L, perturbed.toSeq)).toDF("vec_id", "embedding"))
    val top1 = SimilarityOps.bruteForceTopK(augmented, "vec_id", "embedding",
      augmented.where(col("vec_id") === 0), "vec_id", "embedding", k = 1)
      .head()
    assert(top1.getLong(1) === 9999L)
    assert(top1.getDouble(2) > 0.999)

    // LSH candidates carry the same cosine scores as brute force
    val lsh = SimilarityOps.lshTopK(emb, "vec_id", "embedding",
      queries, "vec_id", "embedding", k = 5, planes = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2))
    lsh.foreach { case (k, c) => assert(brute.get(k).forall(_ === c)) }
  }

  test("multi-probe LSH recall is at least the exact-bucket recall") {
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val queries = emb.where(col("vec_id") < 3)
    def pairs(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.select("query_id", "vec_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val brute = pairs(SimilarityOps.bruteForceTopK(emb, "vec_id", "embedding",
      queries, "vec_id", "embedding", 5))
    val exact = pairs(SimilarityOps.lshTopK(emb, "vec_id", "embedding",
      queries, "vec_id", "embedding", 5, planes = 4))
    val mp = pairs(SimilarityOps.lshTopK(emb, "vec_id", "embedding",
      queries, "vec_id", "embedding", 5, planes = 4, probeBits = 4))
    // probing a SUPERSET of buckets can only surface closer candidates
    assert(mp.intersect(brute).size >= exact.intersect(brute).size,
      s"mp recall ${mp.intersect(brute).size} < exact ${exact.intersect(brute).size}")
  }

  test("ANN recall floors: LSH and IVF hold measured recall@5 vs brute force") {
    // The gate oracles REPLICATE the approximation (same planes / cells),
    // so a kernel or parameter change that trashes recall would stay
    // hash-green. This is the independent floor: recall@5 against the
    // exact brute-force top-k on the sf0.01 embeddings (VERDICT r3
    // missing-2). Measured on the driver's sf0.01 embeddings (20 queries,
    // deterministic): lsh=0.12, lsh+probe=0.58, ivf=0.64 — the synthetic
    // vectors are near-isotropic, so 4-plane single-bucket LSH is the
    // weakest path by design. Floors sit under the measured values with
    // margin for a regenerated fixture; random-chance recall is k/N
    // ~ 0.0025, so a kernel regression that collapses recall still fails.
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.01")
    val queries = emb.where(col("vec_id") < 20)
    def pairs(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.select("query_id", "vec_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val brute = pairs(SimilarityOps.bruteForceTopK(emb, "vec_id", "embedding",
      queries, "vec_id", "embedding", 5))
    assert(brute.size === 100, "20 queries x k=5")
    def recall(got: Set[(Long, Long)]): Double =
      got.intersect(brute).size.toDouble / brute.size
    val lshExact = recall(pairs(SimilarityOps.lshTopK(emb, "vec_id", "embedding",
      queries, "vec_id", "embedding", 5, planes = 4)))
    val lshProbed = recall(pairs(SimilarityOps.lshTopK(emb, "vec_id", "embedding",
      queries, "vec_id", "embedding", 5, planes = 4, probeBits = 4)))
    val ivf = recall(pairs(SimilarityOps.ivfTopK(emb, "vec_id", "embedding",
      queries, "vec_id", "embedding", 5, nlist = 8, nprobe = 2)))
    withClue(f"recall@5 lsh=$lshExact%.2f lsh+probe=$lshProbed%.2f ivf=$ivf%.2f: ") {
      assert(lshExact >= 0.08, "single-bucket LSH recall floor (measured 0.12)")
      assert(lshProbed >= 0.45, "multi-probe LSH recall floor (measured 0.58)")
      assert(ivf >= 0.50, "IVF nprobe=2/8 recall floor (measured 0.64)")
      assert(lshProbed >= lshExact, "probing can only widen the candidate set")
    }
  }

  test("PQ-ANN: training is run-to-run deterministic, more subspaces " +
      "raise reconstruction fidelity, and recall@5 holds a floor") {
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.01")
    val queries = emb.where(col("vec_id") < 20)
    def pairs(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.select("query_id", "vec_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val brute = pairs(SimilarityOps.bruteForceTopK(emb, "vec_id", "embedding",
      queries, "vec_id", "embedding", 5))
    def recall(got: Set[(Long, Long)]): Double =
      got.intersect(brute).size.toDouble / brute.size
    // determinism: two trainings over the same data give identical books
    val b1 = SimilarityOps.trainPqCodebooks(emb, "vec_id", "embedding",
      m = 4, cells = 16, iterations = 2)
    val b2 = SimilarityOps.trainPqCodebooks(emb, "vec_id", "embedding",
      m = 4, cells = 16, iterations = 2)
    assert(b1.length === 4 && b1.forall(_.length === 16))
    for (j <- b1.indices; c <- b1(j).indices)
      assert(b1(j)(c)._1.toSeq === b2(j)(c)._1.toSeq, s"subspace $j cell $c")
    // recall: coarse (gate config) vs finer codebooks — the finer model
    // must not be worse, and holds an absolute floor (random ~ 0.0025)
    val coarse = recall(pairs(SimilarityOps.pqTopK(emb, "vec_id",
      "embedding", queries, "vec_id", "embedding", 5,
      m = 2, cells = 4, iterations = 2)))
    val fine = recall(pairs(SimilarityOps.pqTopK(emb, "vec_id", "embedding",
      queries, "vec_id", "embedding", 5,
      m = 4, cells = 16, iterations = 2, codebooks = Some(b1))))
    withClue(f"recall@5 pq(m=2,k=4)=$coarse%.2f pq(m=4,k=16)=$fine%.2f: ") {
      assert(fine >= 0.20, "PQ m=4/k=16 recall floor")
      assert(fine >= coarse - 0.05,
        "a finer codebook must not lose recall beyond noise")
    }
  }

  /** Jobs per training call on the sf0.001 embeddings (cells = 4 or 8,
    * 2 iterations), in the in-task regime: the training set's checkpoint
    * (its size observed by the same job), then the one task that runs
    * every iteration, whatever m is. Measured; a count may only go down. */
  private val trainJobBudget: Map[String, Int] = Map(
    "trainIvfCentroids" -> 2,
    "trainPqCodebooks" -> 2,
    "trainPqResidualCodebooks" -> 2)

  test("Lloyd training submits the same jobs for m = 1, 2 and 4, within " +
      "the committed budget") {
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    var cents: Array[SimilarityOps.Centroid] = null
    val ivf = jobsOf { cents = SimilarityOps.trainIvfCentroids(emb, "vec_id",
      "embedding", nlist = 8, iterations = 2, roundDecimals = Some(6)) }
    val ms = Seq(1, 2, 4)
    val pq = ms.map(m => jobsOf(SimilarityOps.trainPqCodebooks(emb, "vec_id",
      "embedding", m = m, cells = 4, iterations = 2)))
    val resid = ms.map(m => jobsOf(SimilarityOps.trainPqResidualCodebooks(emb,
      "vec_id", "embedding", cents, m = m, cells = 4, iterations = 2)))
    info(s"trainIvfCentroids=$ivf trainPqCodebooks(m=1,2,4)=${pq.mkString(",")} " +
      s"trainPqResidualCodebooks(m=1,2,4)=${resid.mkString(",")}")
    assert(pq.distinct.size === 1, s"PQ jobs grow with m: $pq")
    assert(resid.distinct.size === 1, s"residual PQ jobs grow with m: $resid")
    for ((op, n) <- Seq("trainIvfCentroids" -> ivf,
        "trainPqCodebooks" -> pq.max, "trainPqResidualCodebooks" -> resid.max))
      assert(n <= trainJobBudget(op), s"$op submitted $n jobs")
  }

  /** Every trained model on `emb`, as comparable values: IVF (nlist 8),
    * PQ for m = 1, 2, 4 and residual PQ for m = 1, 2, 4 under that IVF
    * model, 2 iterations each, rounded to `round` decimals (residual PQ
    * always rounds to 6). */
  private def lloydModels(emb: org.apache.spark.sql.DataFrame, round: Option[Int]) = {
    val ivf = SimilarityOps.trainIvfCentroids(emb, "vec_id", "embedding",
      nlist = 8, iterations = 2, roundDecimals = round)
    val pq = Seq(1, 2, 4).map(m => SimilarityOps.trainPqCodebooks(emb, "vec_id",
      "embedding", m = m, cells = 4, iterations = 2, roundDecimals = round))
    val resid = Seq(1, 2, 4).map(m => SimilarityOps.trainPqResidualCodebooks(emb,
      "vec_id", "embedding", ivf, m = m, cells = 4, iterations = 2))
    // every model as (cell id or subspace, centroid, norm) rows
    Seq(ivf.toSeq.map(c => (c._1, c._2.toSeq, c._3))) ++
      (pq ++ resid).map(_.toSeq.zipWithIndex.flatMap { case (book, j) =>
        book.toSeq.map(c => (j.toLong, c._1.toSeq, c._2)) })
  }

  test("Lloyd training: the in-task and distributed regimes train the same models") {
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val (inTask, join) = inTaskAndJoin(lloydModels(emb, Some(6)))
    assert(inTask.forall(_.nonEmpty))
    assert(inTask === join, "rounded models are bit-identical")
    val (rawInTask, rawJoin) = inTaskAndJoin(lloydModels(emb, None))
    for (((a, b), model) <- rawInTask.zip(rawJoin).zipWithIndex) {
      assert(a.map(c => (c._1, c._2.length)) === b.map(c => (c._1, c._2.length)), s"model $model")
      for (((_, u, un), (_, v, vn)) <- a.zip(b)) {
        assert(math.abs(un - vn) < 1e-12, s"model $model norm")
        for ((x, y) <- u.zip(v)) assert(math.abs(x - y) < 1e-12, s"model $model coordinate")
      }
    }
  }

  test("Lloyd training: an empty input and a NULL vector behave the same in both regimes") {
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val (emptyInTask, emptyJoin) = inTaskAndJoin(Seq(
      SimilarityOps.trainIvfCentroids(emb.where(lit(false)), "vec_id", "embedding",
        nlist = 8, iterations = 2).length,
      SimilarityOps.trainPqCodebooks(emb.where(lit(false)), "vec_id", "embedding",
        m = 2, cells = 4).length))
    assert(emptyInTask === Seq(0, 0))
    assert(emptyJoin === Seq(0, 0))
    val nulled = emb.select(col("vec_id"),
      when(col("vec_id") === 300L, lit(null).cast("array<float>"))
        .otherwise(col("embedding")).as("embedding"))
    val (inTask, join) = inTaskAndJoin(lloydModels(nulled, Some(6)))
    assert(inTask === join)
    assert(inTask === lloydModels(emb.where(col("vec_id") =!= 300L), Some(6)),
      "a NULL vector has no cell")
    val nullSeed = emb.select(col("vec_id"),
      when(col("vec_id") === 0L, lit(null).cast("array<float>"))
        .otherwise(col("embedding")).as("embedding"))
    for (cutoff <- Seq(Long.MaxValue, 0L)) {
      val e = intercept[IllegalArgumentException](withCutoff(cutoff)(
        SimilarityOps.trainIvfCentroids(nullSeed, "vec_id", "embedding", nlist = 8)))
      assert(e.getMessage.contains("seed vec_id 0 has a NULL vector"), s"cutoff $cutoff")
    }
  }

  test("Lloyd training: a zero norm or a NULL id fails the same way in both regimes") {
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    def zeroAt(id: Long) = emb.select(col("vec_id"),
      when(col("vec_id") === id, array_repeat(lit(0.0f), 64))
        .otherwise(col("embedding")).as("embedding"))
    def ivf(corpus: org.apache.spark.sql.DataFrame, nlist: Int = 8) =
      SimilarityOps.trainIvfCentroids(corpus, "vec_id", "embedding", nlist = nlist,
        iterations = 2, roundDecimals = Some(6))
    def bothThrow(expected: String)(train: => Any): Unit =
      for (cutoff <- Seq(Long.MaxValue, 0L)) {
        val e = intercept[IllegalArgumentException](withCutoff(cutoff)(train))
        assert(e.getMessage.contains(expected), s"cutoff $cutoff: ${e.getMessage}")
      }
    // cosine is undefined for a zero vector: a seed, a row, or a mean
    bothThrow("vec_id 0 has a zero-norm vector")(ivf(zeroAt(0L)))
    bothThrow("vec_id 300 has a zero-norm vector")(ivf(zeroAt(300L)))
    val opposite = Seq((0L, Seq(1.0f, 2.0f)), (1L, Seq(-1.0f, -2.0f)))
      .toDF("vec_id", "embedding")
    bothThrow("IVF cell 0 has a zero-norm centroid")(ivf(opposite, nlist = 1))
    // L2 has no division: PQ trains over a zero vector in both regimes
    val (inTask, join) = inTaskAndJoin(Seq(1, 2, 4).map(m => SimilarityOps.trainPqCodebooks(
      zeroAt(0L), "vec_id", "embedding", m = m, cells = 4, iterations = 2)
      .toSeq.map(_.toSeq.map(c => (c._1.toSeq, c._2)))))
    assert(inTask.forall(_.nonEmpty))
    assert(inTask === join)
    val nullId = emb.select(when(col("vec_id") =!= 300L, col("vec_id")).as("vec_id"),
      col("embedding"))
    bothThrow("1 are NULL")(ivf(nullId))
    bothThrow("1 are NULL")(SimilarityOps.trainPqCodebooks(nullId, "vec_id", "embedding",
      m = 2, cells = 4))
  }

  test("fused PQ training keeps subspaces apart: book j of m = 2 equals " +
      "an m = 1 training over slice j") {
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val books = SimilarityOps.trainPqCodebooks(emb, "vec_id", "embedding",
      m = 2, cells = 4, iterations = 2)
    assert(books.length === 2)
    val dsub = books.head.head._1.length
    for (j <- 0 until 2) {
      val one = SimilarityOps.trainPqCodebooks(emb.select(col("vec_id"),
          slice(col("embedding"), j * dsub + 1, dsub).as("embedding")),
        "vec_id", "embedding", m = 1, cells = 4, iterations = 2)
      assert(one.length === 1)
      assert(one.head.map(_._1.toSeq).toSeq === books(j).map(_._1.toSeq).toSeq,
        s"subspace $j centroids")
      assert(one.head.map(_._2).toSeq === books(j).map(_._2).toSeq,
        s"subspace $j squared norms")
    }
  }

  test("a NULL vector outside the seeds trains the same IVF and PQ models " +
      "as its absence") {
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val nulled = emb.select(col("vec_id"),
      when(col("vec_id") === 300L, lit(null).cast("array<float>"))
        .otherwise(col("embedding")).as("embedding"))
    val without = emb.where(col("vec_id") =!= 300L)
    def pq(df: org.apache.spark.sql.DataFrame) = SimilarityOps
      .trainPqCodebooks(df, "vec_id", "embedding", m = 2, cells = 4,
        iterations = 2).map(_.map(_._1.toSeq).toSeq).toSeq
    def ivf(df: org.apache.spark.sql.DataFrame) = SimilarityOps
      .trainIvfCentroids(df, "vec_id", "embedding", nlist = 8, iterations = 2,
        roundDecimals = Some(6)).map(c => (c._1, c._2.toSeq)).toSeq
    assert(pq(nulled) === pq(without), "a NULL vector has no PQ cell")
    assert(ivf(nulled) === ivf(without), "a NULL vector adds to no IVF mean")
  }

  test("IVF k-means training: deterministic, objective non-decreasing, sane recall") {
    import graft.operators.SimilarityOps.Centroid
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val seed = SimilarityOps.seedCentroids(emb, "vec_id", "embedding", nlist = 8)
    val trained = SimilarityOps.trainIvfCentroids(emb, "vec_id", "embedding",
      nlist = 8, iterations = 3)
    val trained2 = SimilarityOps.trainIvfCentroids(emb, "vec_id", "embedding",
      nlist = 8, iterations = 3)
    // deterministic rebuild: identical centroids bit for bit
    assert(trained.zip(trained2).forall { case (a, b) =>
      a._1 == b._1 && a._2.sameElements(b._2) })
    // spherical k-means objective (mean best cosine) must not decrease
    import spark.implicits._
    val vecs = SimilarityOps.asDouble(col("embedding"))
    val data = emb.select(col("vec_id"), vecs.as("v"))
      .as[(Long, Seq[Double])].collect().map(_._2.toArray)
    def objective(cents: Array[Centroid]): Double = data.map { v =>
      var n = 0.0; var i = 0
      while (i < v.length) { n += v(i) * v(i); i += 1 }
      cents.map { case (_, c, cn) =>
        var s = 0.0; var j = 0
        while (j < v.length) { s += v(j) * c(j); j += 1 }
        s / (math.sqrt(n) * cn)
      }.max
    }.sum / data.length
    assert(objective(trained) >= objective(seed) - 1e-9,
      s"objective ${objective(trained)} < seed ${objective(seed)}")
    // trained quantizer slots into ivfTopK unchanged and finds most of the
    // true top-k at nprobe=2 of nlist=8
    val queries = emb.where(col("vec_id") < 3)
    val brute = SimilarityOps.bruteForceTopK(emb, "vec_id", "embedding",
      queries, "vec_id", "embedding", 5)
      .select("query_id", "vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val ivf = SimilarityOps.ivfTopK(emb, "vec_id", "embedding",
      queries, "vec_id", "embedding", 5, nlist = 8, nprobe = 2,
      centroids = Some(trained))
      .select("query_id", "vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(ivf.intersect(brute).size.toDouble / brute.size > 0.5,
      s"recall ${ivf.intersect(brute).size}/${brute.size}")
  }

  test("IVF top-k equals brute force under full probe, candidates agree under partial") {
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val queries = emb.where(col("vec_id") < 2)
    def toMap(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1)) -> (r.getDouble(2), r.getInt(3))).toMap
    val brute = toMap(SimilarityOps.bruteForceTopK(emb, "vec_id", "embedding",
      queries, "vec_id", "embedding", k = 5))
    for (nlist <- Seq(8, 256)) {
      val full = toMap(SimilarityOps.ivfTopK(emb, "vec_id", "embedding",
        queries, "vec_id", "embedding", k = 5, nlist = nlist, nprobe = nlist))
      assert(full === brute, s"nprobe == nlist = $nlist is exhaustive")
    }
    val partial = toMap(SimilarityOps.ivfTopK(emb, "vec_id", "embedding",
      queries, "vec_id", "embedding", k = 5, nlist = 8, nprobe = 2))
    partial.foreach { case (key, (cos, _)) =>
      assert(brute.get(key).forall(_._1 === cos), s"score mismatch at $key")
    }
  }

  test("ivfTopK: a NULL corpus vector has no cell, so it is never a candidate") {
    val emb = Tables.embeddings(spark, sf0001)
    val nulled = emb.select(col("vec_id"),
      when(col("vec_id") === 300L, lit(null).cast("array<float>"))
        .otherwise(col("embedding")).as("embedding"))
    // every cell probed and k above the corpus size: all candidates return
    val got = SimilarityOps.ivfTopK(nulled, "vec_id", "embedding",
      nulled.where(col("vec_id") < 2), "vec_id", "embedding", k = 1000,
      nlist = 8, nprobe = 8).collect()
    assert(got.length === 2 * 498, "each query ranks every other real vector")
    assert(!got.exists(_.getLong(1) == 300L), "the NULL vector was a candidate")
  }

  test("256-cell models compile in whole-stage codegen: every trainer in both " +
      "regimes and every search, with codegen's fallback switched off") {
    // without the fallback, a generated method past the JVM's 64 KB limit
    // fails the query instead of silently running slower code
    val emb = Tables.embeddings(spark, sf0001)
    val queries = emb.where(col("vec_id") < 2)
    SessionConfs.scoped(spark, Map("spark.sql.codegen.fallback" -> "false")) {
      for (cutoff <- Seq(graft.operators.InTask.defaultCutoff, 0L)) withCutoff(cutoff) {
        val cents = SimilarityOps.trainIvfCentroids(emb, "vec_id", "embedding",
          nlist = 256, iterations = 1, roundDecimals = Some(6))
        val books = SimilarityOps.trainPqCodebooks(emb, "vec_id", "embedding",
          m = 2, cells = 256, iterations = 1)
        val resid = SimilarityOps.trainPqResidualCodebooks(emb, "vec_id",
          "embedding", cents, m = 2, cells = 256, iterations = 1)
        assert(cents.length === 256 && (books ++ resid).forall(_.length === 256),
          s"cutoff $cutoff")
        assert(SimilarityOps.ivfTopK(emb, "vec_id", "embedding", queries, "vec_id",
          "embedding", k = 5, nprobe = 64, centroids = Some(cents)).count() === 10)
        assert(SimilarityOps.pqTopK(emb, "vec_id", "embedding", queries, "vec_id",
          "embedding", k = 5, codebooks = Some(books)).count() === 10)
        assert(SimilarityOps.ivfPqTopK(emb, "vec_id", "embedding", queries,
          "vec_id", "embedding", k = 5, nprobe = 64, centroids = Some(cents),
          codebooks = Some(resid)).count() === 10)
        assert(SimilarityOps.semanticDedup(emb, "vec_id", "embedding", nlist = 256,
          threshold = 0.9, iterations = 1).count() === 500)
      }
    }
  }

  test("dedupAgainstCorpus classifies exact / near / new, duplicate-safe") {
    val existing = Seq(
      (0L, "the quick brown fox jumps over the lazy dog"),
      (2L, "completely different content about spark engines and shuffles"),
      (4L, "the quick brown fox jumps over the lazy dog") // corpus-internal dup
    ).toDF("doc_id", "text")
    val incoming = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),  // byte-exact
      (3L, "dog lazy the over jumps fox brown quick the"),  // same token SET
      (5L, "the quick brown fox jumps over the lazy cat"),  // near-dup of 0
      (7L, "entirely novel text on manifest committed tables today"), // new
      (9L, "the quick brown fox jumps over the lazy dog")   // dup of incoming 1
    ).toDF("doc_id", "text")
    val out = DedupOps.dedupAgainstCorpus(existing, incoming, "doc_id", "text",
      shingleN = 3, k = 12, bands = 4, threshold = 0.3)
      .collect().map(r => r.getLong(0) ->
        (r.getString(1), Option(r.get(2)).map(_.asInstanceOf[Long]))).toMap
    assert(out.size === 5, "one decision per incoming doc")
    assert(out(1L) === (("exact", Some(0L))), "byte-identical -> lowest corpus id")
    assert(out(3L) === (("exact", Some(0L))), "token-set match is exact")
    assert(out(5L)._1 === "near")
    assert(out(5L)._2 === Some(0L), "best corpus match by jaccard")
    assert(out(7L) === (("new", None)))
    assert(out(9L) === out(1L), "identical incoming docs share the decision")
  }

  test("dedupAgainstIndex over a persisted corpus index equals the direct path") {
    val base = java.nio.file.Files.createTempDirectory("graft-dedup-idx").toString
    val existing = Seq(
      (0L, "the quick brown fox jumps over the lazy dog"),
      (2L, "completely different content about spark engines and shuffles"),
      (4L, "the quick brown fox jumps over the lazy dog")
    ).toDF("doc_id", "text")
    val incoming = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (5L, "the quick brown fox jumps over the lazy cat"),
      (7L, "entirely novel text on manifest committed tables today")
    ).toDF("doc_id", "text")
    // persist the index through the manifest table format (the
    // between-snapshots storage story), then probe from the stored copy
    graft.operators.LayoutOps.writeManifested(
      DedupOps.corpusDedupIndex(existing, "doc_id", "text"), s"$base/idx")
    val stored = graft.operators.LayoutOps.readManifested(spark, s"$base/idx")
    def norm(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).toSet
    val direct = norm(DedupOps.dedupAgainstCorpus(
      existing, incoming, "doc_id", "text", threshold = 0.3))
    val viaIndex = norm(DedupOps.dedupAgainstIndex(
      stored, incoming, "doc_id", "text", threshold = 0.3))
    assert(viaIndex === direct)
    assert(direct.nonEmpty)
  }

  test("incremental dedup loop: accepted batches append to the stored index and dedupe the NEXT snapshot") {
    val base = java.nio.file.Files.createTempDirectory("graft-dedup-loop").toString
    val snapshot0 = Seq(
      (0L, "the quick brown fox jumps over the lazy dog"),
      (2L, "completely different content about spark engines and shuffles")
    ).toDF("doc_id", "text")
    graft.operators.LayoutOps.writeManifested(
      DedupOps.corpusDedupIndex(snapshot0, "doc_id", "text"), s"$base/idx")
    // snapshot 1: one new doc survives; its signature row is APPENDED to
    // the manifested index (the lakehouse commit a production loop runs)
    val batch1 = Seq(
      (10L, "a brand new document about sequence packing today")
    ).toDF("doc_id", "text")
    val d1 = DedupOps.dedupAgainstIndex(
      graft.operators.LayoutOps.readManifested(spark, s"$base/idx"),
      batch1, "doc_id", "text", threshold = 0.3).collect()
    assert(d1.map(r => r.getLong(0) -> r.getString(1)).toMap ===
      Map(10L -> "new"))
    graft.operators.LayoutOps.appendManifested(
      DedupOps.corpusDedupIndex(batch1, "doc_id", "text"), s"$base/idx")
    // snapshot 2: a dup of the doc accepted in snapshot 1 must now be
    // caught WITHOUT ever re-touching snapshot-0/1 text
    val batch2 = Seq(
      (20L, "a brand new document about sequence packing today"),
      (21L, "still more unseen words with no overlap anywhere")
    ).toDF("doc_id", "text")
    val d2 = DedupOps.dedupAgainstIndex(
      graft.operators.LayoutOps.readManifested(spark, s"$base/idx"),
      batch2, "doc_id", "text", threshold = 0.3)
      .collect().map(r => r.getLong(0) -> (r.getString(1),
        Option(r.get(2)).map(_.asInstanceOf[Long]))).toMap
    assert(d2(20L) === (("exact", Some(10L))),
      "the appended generation's signatures dedupe the next snapshot")
    assert(d2(21L)._1 === "new")
  }

  test("dedupAgainstCorpus never pairs the corpus with itself") {
    // two corpus docs that are near-dups of EACH OTHER but unlike the batch:
    // they must not appear in the output at all
    val existing = Seq(
      (0L, "alpha beta gamma delta epsilon zeta eta theta"),
      (2L, "alpha beta gamma delta epsilon zeta eta iota")
    ).toDF("doc_id", "text")
    val incoming = Seq(
      (1L, "unrelated words about graph partitioning and shuffles")
    ).toDF("doc_id", "text")
    val out = DedupOps.dedupAgainstCorpus(existing, incoming, "doc_id", "text",
      threshold = 0.3).collect()
    assert(out.map(_.getLong(0)).toSet === Set(1L))
    assert(out.head.getString(1) === "new")
  }

  test("semanticDedup keeps one canonical per cosine-connected cluster") {
    // 4-dim vectors: ids 0,1,2 nearly parallel (pairwise cos > 0.99),
    // id 3 identical to 0 (the collapse path), ids 4,5 mutually orthogonal
    // and far from everything
    val vecs = Seq(
      (0L, Array(1.0f, 0.01f, 0f, 0f)),
      (1L, Array(1.0f, 0.02f, 0f, 0f)),
      (2L, Array(0.99f, 0.03f, 0f, 0f)),
      (3L, Array(1.0f, 0.01f, 0f, 0f)),
      (4L, Array(0f, 0f, 1.0f, 0f)),
      (5L, Array(0f, 0f, 0f, 1.0f))
    ).toDF("vec_id", "embedding")
    val out = SimilarityOps.semanticDedup(vecs, "vec_id", "embedding",
      nlist = 2, threshold = 0.9)
      .collect().map(r => r.getLong(0) -> (r.getLong(2), r.getBoolean(3))).toMap
    assert(out.size === 6, "every vector gets a verdict")
    assert(out(0L) === ((0L, false)), "min id is canonical")
    assert(out(1L) === ((0L, true)))
    assert(out(2L) === ((0L, true)))
    assert(out(3L) === ((0L, true)), "identical embedding collapses to rep's cluster")
    assert(out(4L) === ((4L, false)), "isolated vector keeps itself")
    assert(out(5L) === ((5L, false)))
  }

  test("semanticDedup on an empty corpus returns an empty typed result") {
    val empty = Seq.empty[(Long, Array[Float])].toDF("vec_id", "embedding")
    val out = SimilarityOps.semanticDedup(empty, "vec_id", "embedding",
      nlist = 4, threshold = 0.9)
    assert(out.columns.toSeq ===
      Seq("vec_id", "cell", "canonical_id", "is_dup"))
    assert(out.count() === 0)
  }

  test("IVF-PQ: deterministic, and residual ADC under exhaustive probe is no worse than flat PQ") {
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val queries = emb.where(col("vec_id") < 2)
    def run() = SimilarityOps.ivfPqTopK(emb, "vec_id", "embedding",
      queries, "vec_id", "embedding", k = 5, nlist = 8, nprobe = 2,
      m = 2, cells = 4, iterations = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
    val a = run()
    assert(a.sameElements(run()), "training + scoring must be run-to-run deterministic")
    assert(a.nonEmpty && a.map(_._1).distinct.length === 2)
    // residual quantization quality: with an EXHAUSTIVE probe (candidate
    // pools equal), IVF-PQ's brute-force overlap must be at least flat
    // PQ's at the identical m x cells budget — residuals are centered, so
    // the same codebooks carry more precision (allow a 1-hit edge wobble
    // on this 50-vector fixture)
    val brute = SimilarityOps.bruteForceTopK(emb, "vec_id", "embedding",
      queries, "vec_id", "embedding", k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    def hitsOf(rows: Array[(Long, Long)]): Int = rows.count(brute.contains)
    val ivfpq = SimilarityOps.ivfPqTopK(emb, "vec_id", "embedding",
      queries, "vec_id", "embedding", k = 5, nlist = 8, nprobe = 8,
      m = 2, cells = 4, iterations = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val flat = SimilarityOps.pqTopK(emb, "vec_id", "embedding",
      queries, "vec_id", "embedding", k = 5, m = 2, cells = 4,
      iterations = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val (hi, hf) = (hitsOf(ivfpq), hitsOf(flat))
    info(s"recall@5 of 10: ivfpq=$hi flatpq=$hf")
    assert(hi >= hf - 1, s"residual ADC regressed: ivfpq=$hi flatpq=$hf")
  }

  test("persisted ANN models round-trip: stored quantizers probe identically to fresh-trained ones") {
    val base = java.nio.file.Files.createTempDirectory("graft-ann-model").toString
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val queries = emb.where(col("vec_id") < 2)
    def toMap(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r =>
        (r.getLong(0), r.getLong(1)) -> (r.getDouble(2), r.getInt(3))).toMap
    // IVF: save -> load preserves cells, vectors, and recomputed norms
    val cents = SimilarityOps.trainIvfCentroids(emb, "vec_id", "embedding",
      nlist = 8, iterations = 2, roundDecimals = Some(6))
    SimilarityOps.saveIvfModel(spark, cents, s"$base/ivf")
    val loaded = SimilarityOps.loadIvfModel(spark, s"$base/ivf")
    assert(loaded.map(_._1).toSeq === cents.map(_._1).toSeq)
    assert(loaded.map(_._2.toSeq).toSeq === cents.map(_._2.toSeq).toSeq)
    assert(loaded.map(_._3).toSeq === cents.map(_._3).toSeq,
      "norms recomputed at load must equal the trained norms")
    assert(toMap(SimilarityOps.ivfTopK(emb, "vec_id", "embedding",
        queries, "vec_id", "embedding", k = 5, nlist = 8, nprobe = 2,
        centroids = Some(loaded))) ===
      toMap(SimilarityOps.ivfTopK(emb, "vec_id", "embedding",
        queries, "vec_id", "embedding", k = 5, nlist = 8, nprobe = 2,
        centroids = Some(cents))))
    // PQ: same contract for the codebooks
    val books = SimilarityOps.trainPqCodebooks(emb, "vec_id", "embedding",
      m = 2, cells = 4, iterations = 2)
    SimilarityOps.savePqModel(spark, books, s"$base/pq")
    val loadedBooks = SimilarityOps.loadPqModel(spark, s"$base/pq")
    assert(loadedBooks.map(_.map(_._1.toSeq).toSeq).toSeq ===
      books.map(_.map(_._1.toSeq).toSeq).toSeq)
    assert(toMap(SimilarityOps.pqTopK(emb, "vec_id", "embedding",
        queries, "vec_id", "embedding", k = 5, m = 2, cells = 4,
        codebooks = Some(loadedBooks))) ===
      toMap(SimilarityOps.pqTopK(emb, "vec_id", "embedding",
        queries, "vec_id", "embedding", k = 5, m = 2, cells = 4,
        codebooks = Some(books))))
  }

  test("stored PQ model defines its own m; a wrong-width model fails fast") {
    // the CLI `ann-topk --model` path always passes its default m=2 — the
    // stored model's codebook count must win, not the caller's parameter
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val queries = emb.where(col("vec_id") < 2)
    def toMap(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r =>
        (r.getLong(0), r.getLong(1)) -> (r.getDouble(2), r.getInt(3))).toMap
    val books4 = SimilarityOps.trainPqCodebooks(emb, "vec_id", "embedding",
      m = 4, cells = 4, iterations = 2)
    // probing an m=4 model with the caller default m=2 must score all 4
    // stored subspaces (identical to asking for m=4 explicitly)
    assert(toMap(SimilarityOps.pqTopK(emb, "vec_id", "embedding",
        queries, "vec_id", "embedding", k = 5, m = 2,
        codebooks = Some(books4))) ===
      toMap(SimilarityOps.pqTopK(emb, "vec_id", "embedding",
        queries, "vec_id", "embedding", k = 5, m = 4,
        codebooks = Some(books4))))
    // a model trained for a different embedding width is an error, not a
    // silently-truncated score
    val narrow = emb.select(col("vec_id"),
      slice(col("embedding"), 1, 32).as("embedding"))
    val booksNarrow = SimilarityOps.trainPqCodebooks(narrow, "vec_id",
      "embedding", m = 2, cells = 4, iterations = 2)
    // the guard is IN the plan (raise_error at scan time — building the
    // DataFrame fires no job and no error), so the failure surfaces at
    // execution, wrapped by Spark; walk the cause chain for the message
    def deepMessage(t: Throwable): String = {
      val sb = new StringBuilder
      var cur: Throwable = t
      while (cur != null) { sb.append(cur.getMessage).append('\n'); cur = cur.getCause }
      sb.toString
    }
    val lazyPlan = SimilarityOps.pqTopK(emb, "vec_id", "embedding",
      queries, "vec_id", "embedding", k = 5, m = 2,
      codebooks = Some(booksNarrow)) // must NOT throw or run a job here
    val e = intercept[Exception] { lazyPlan.collect() }
    assert(deepMessage(e).contains("does not tile"), deepMessage(e))
    val e2 = intercept[Exception] {
      SimilarityOps.ivfPqTopK(emb, "vec_id", "embedding",
        queries, "vec_id", "embedding", k = 5,
        codebooks = Some(booksNarrow)).collect()
    }
    assert(deepMessage(e2).contains("does not tile"), deepMessage(e2))
    // an EMPTY query set with a WELL-FITTED stored model: no construction-
    // time job, no error, just an empty result
    assert(SimilarityOps.pqTopK(emb, "vec_id", "embedding",
      queries.where(col("vec_id") < 0), "vec_id", "embedding", k = 5,
      m = 2, codebooks = Some(books4)).count() === 0L)
  }

  test("stored-model probe passes NULL vectors through as NULL scores " +
      "(corrupt data are data) — only wrong-width vectors abort") {
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val books = SimilarityOps.trainPqCodebooks(emb, "vec_id", "embedding",
      m = 2, cells = 4, iterations = 2)
    // one corpus row and one query row with a NULL embedding: both must
    // flow through the stored-model dim guard as NULLs, never raise
    val nulled = emb.select(col("vec_id"),
      when(col("vec_id") === 7L, lit(null).cast("array<float>"))
        .otherwise(col("embedding")).as("embedding"))
    val res = SimilarityOps.pqTopK(nulled, "vec_id", "embedding",
      nulled.where(col("vec_id") < 2), "vec_id", "embedding",
      k = 5, m = 2, codebooks = Some(books)).collect()
    assert(res.nonEmpty, "the probe must complete with a null row present")
    assert(!res.exists(r => r.isNullAt(2)),
      "a NULL corpus vector scores NULL and ranks below every real " +
        "candidate — it cannot reach the top-5 of a 500-vector corpus")
    val nullQuery = SimilarityOps.pqTopK(emb, "vec_id", "embedding",
      nulled.where(col("vec_id") === 7L), "vec_id", "embedding",
      k = 5, m = 2, codebooks = Some(books)).collect()
    assert(nullQuery.forall(r => r.isNullAt(2)),
      "a NULL query vector yields NULL scores, not an abort")
    // same guard on the IVF-PQ stored path
    val cents = SimilarityOps.trainIvfCentroids(emb, "vec_id", "embedding",
      nlist = 8, iterations = 2, roundDecimals = Some(6))
    val rbooks = SimilarityOps.trainPqResidualCodebooks(emb, "vec_id",
      "embedding", cents, m = 2, cells = 4, iterations = 2)
    SimilarityOps.ivfPqTopK(nulled, "vec_id", "embedding",
      nulled.where(col("vec_id") < 2), "vec_id", "embedding", k = 5,
      centroids = Some(cents), codebooks = Some(rbooks)).collect()
  }

  test("awaitOrFail bounds a hung concurrent job with a NAMED error " +
      "instead of hanging the driver forever") {
    import scala.concurrent.Promise
    import scala.concurrent.duration._
    val hung = Promise[Int]().future // poisoned: never completes
    val e = intercept[IllegalStateException] {
      SimilarityOps.awaitOrFail(hung, "poisoned training", 200.millis)
    }
    assert(e.getMessage.contains("poisoned training"), e.getMessage)
    assert(e.getMessage.contains("did not finish"), e.getMessage)
    // a completed future is returned untouched
    assert(SimilarityOps.awaitOrFail(
      scala.concurrent.Future.successful(42), "ok", 200.millis) === 42)
  }

  test("pqTopKRerank with a full-depth shortlist equals brute-force top-k") {
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val n = emb.count().toInt
    val queries = emb.where(col("vec_id") < 2)
    def toMap(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r =>
        (r.getLong(0), r.getLong(1)) -> (r.getDouble(2), r.getInt(3))).toMap
    val brute = toMap(SimilarityOps.bruteForceTopK(emb, "vec_id", "embedding",
      queries, "vec_id", "embedding", k = 5))
    // shortlist covers the whole corpus -> the ADC stage cannot lose a
    // true neighbor, so exact re-ranking must reproduce brute force
    val rerank = toMap(SimilarityOps.pqTopKRerank(emb, "vec_id", "embedding",
      queries, "vec_id", "embedding", k = 5, shortlist = n,
      m = 2, cells = 4, iterations = 2))
    assert(rerank === brute)
  }

  test("pqTopKRerank scores are exact cosine even on a narrow shortlist") {
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val queries = emb.where(col("vec_id") < 2)
    val brute = SimilarityOps.bruteForceTopK(emb, "vec_id", "embedding",
      queries, "vec_id", "embedding", k = 200)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val rr = SimilarityOps.pqTopKRerank(emb, "vec_id", "embedding",
      queries, "vec_id", "embedding", k = 5, shortlist = 20)
      .collect()
    assert(rr.nonEmpty)
    rr.foreach { r =>
      val key = (r.getLong(0), r.getLong(1))
      assert(brute.get(key).contains(r.getDouble(2)),
        s"re-ranked score at $key must be the exact cosine")
    }
  }
}
