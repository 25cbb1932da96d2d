package graft

import graft.operators.{GraphOps, InTask}
import org.apache.spark.sql.functions._

/** PageRank-family tests.
  *
  * The distributed results are checked against (a) an independent in-test
  * sequential implementation and (b) the reference's published golden
  * top-10 tables for personalized PageRank on sample-large.txt
  * (reference/assignment4/assignment4.md:6-32 — which the reference itself
  * produced with 20 iterations; verified: a sequential run at 20 iterations
  * reproduces every printed %.5f digit).
  */
class GraphOpsSpec extends SparkSpec {
  import spark.implicits._

  /** Sequential personalized PageRank, reference semantics: teleport and
    * dangling mass to the source only; mass sent to nodes without their own
    * adjacency line vanishes; out-degree counts all listed neighbors.
    */
  private def seqPpr(adj: Map[Long, Seq[Long]], source: Long, iters: Int,
                     alpha: Double = 0.15): Map[Long, Double] = {
    val nodes = adj.keys.toSeq.sorted
    var r = nodes.map(n => n -> (if (n == source) 1.0 else 0.0)).toMap
    for (_ <- 1 to iters) {
      val nr = scala.collection.mutable.Map(nodes.map(_ -> 0.0): _*)
      var miss = 0.0
      for (n <- nodes) {
        val out = adj(n)
        if (out.isEmpty) miss += r(n)
        else {
          val m = r(n) / out.size
          out.foreach(d => if (nr.contains(d)) nr(d) += m)
        }
      }
      r = nodes.map { n =>
        val jump = if (n == source) alpha else 0.0
        val extra = if (n == source) miss else 0.0
        n -> (jump + (1 - alpha) * (nr(n) + extra))
      }.toMap
    }
    r
  }

  private def seqPageRank(adj: Map[Long, Seq[Long]], iters: Int,
                          alpha: Double = 0.15): Map[Long, Double] = {
    val nodes = adj.keys.toSeq.sorted
    val n = nodes.size
    var r = nodes.map(_ -> 1.0 / n).toMap
    for (_ <- 1 to iters) {
      val nr = scala.collection.mutable.Map(nodes.map(_ -> 0.0): _*)
      var miss = 0.0
      for (nd <- nodes) {
        val out = adj(nd)
        if (out.isEmpty) miss += r(nd)
        else out.foreach(d => if (nr.contains(d)) nr(d) += r(nd) / out.size)
      }
      r = nodes.map(nd => nd -> (alpha / n + (1 - alpha) * (nr(nd) + miss / n))).toMap
    }
    r
  }

  private val smallAdj: Map[Long, Seq[Long]] = Map(
    1L -> Seq(2L, 3L), 2L -> Seq(3L), 3L -> Seq(1L), 4L -> Seq(1L, 2L, 3L),
    5L -> Seq.empty) // 5 dangling

  private def smallEdges =
    smallAdj.toSeq.flatMap { case (s, ds) => ds.map(d => (s, d)) }.toDF("src", "dst")
  private def smallVerts = smallAdj.keys.toSeq.toDF("nodeid")

  test("pageRank matches sequential oracle on a small graph with dangling node") {
    val got = GraphOps.pageRank(smallEdges, iterations = 10,
      vertices = Some(smallVerts), numPartitions = 4)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val exp = seqPageRank(smallAdj, 10)
    assert(got.keySet === exp.keySet)
    for ((k, v) <- exp) assert(math.abs(got(k) - v) < 1e-12, s"node $k")
    assert(math.abs(got.values.sum - 1.0) < 1e-9, "rank mass conserved")
  }

  /** Every walk on `edges` (PPR from `sources`), collected as a map from
    * every column but rank — (source,) nodeid (, rounds) — to the rank. */
  private def allWalks(edges: org.apache.spark.sql.DataFrame,
                       vertices: Option[org.apache.spark.sql.DataFrame],
                       sources: Seq[Long]): Seq[(String, Map[String, Double])] = Seq(
      "pageRank" -> GraphOps.pageRank(edges, iterations = 10,
        vertices = vertices, numPartitions = 4),
      "logSpace" -> GraphOps.pageRankLogSpace(edges, iterations = 10,
        vertices = vertices, numPartitions = 4),
      "ppr" -> GraphOps.personalizedPageRank(edges, sources, iterations = 10,
        vertices = vertices, numPartitions = 4),
      "converged" -> {
        val (ranks, rounds) = GraphOps.pageRankConverged(edges, tol = 1e-10,
          maxIterations = 200, vertices = vertices, numPartitions = 4)
        ranks.withColumn("rounds", lit(rounds))
      }).map { case (walk, df) =>
        val keys = df.columns.filter(_ != "rank")
        walk -> df.collect().map(r => keys.map(r.getAs[Any](_)).mkString(",") ->
          r.getAs[Double]("rank")).toMap
      }

  /** Asserts both regimes' [[allWalks]] agree: same keys (the converged
    * walk's round count among them) and ranks within 1e-12. */
  private def assertRegimesAgree(inTask: Seq[(String, Map[String, Double])],
                                 join: Seq[(String, Map[String, Double])]): Unit =
    for (((walk, a), (_, b)) <- inTask.zip(join)) {
      assert(a.keySet === b.keySet, s"$walk keys (and round count)")
      for ((k, v) <- a) assert(math.abs(b(k) - v) < 1e-12, s"$walk $k")
    }

  test("in-task regime == join regime for all four walks") {
    // a zero InTask.CutoffKey forces the big-graph JOIN regime onto
    // the small fixture, where the default runs the in-task regime. Both
    // must land on the same ranks AND the same convergence round count.
    val (inTask, join) = inTaskAndJoin(allWalks(smallEdges, Some(smallVerts), Seq(1L, 4L)))
    assertRegimesAgree(inTask, join)
  }

  test("personalizedPageRank matches sequential oracle on a small graph") {
    val got = GraphOps.personalizedPageRank(smallEdges, Seq(1L, 4L), iterations = 10,
      vertices = Some(smallVerts), numPartitions = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    for (src <- Seq(1L, 4L)) {
      val exp = seqPpr(smallAdj, src, 10)
      for ((k, v) <- exp) assert(math.abs(got((src, k)) - v) < 1e-12, s"source $src node $k")
    }
  }

  test("iterations = 0: every walk returns the same schema and rows in both regimes") {
    def runAll() = Seq(
      GraphOps.pageRank(smallEdges, iterations = 0, vertices = Some(smallVerts)),
      GraphOps.pageRankLogSpace(smallEdges, iterations = 0, vertices = Some(smallVerts)),
      GraphOps.pageRankConverged(smallEdges, maxIterations = 0,
        vertices = Some(smallVerts))._1,
      GraphOps.personalizedPageRank(smallEdges, Seq(1L, 4L), iterations = 0,
        vertices = Some(smallVerts)))
      .map(df => (df.schema, df.collect().map(_.toString).sorted.toSeq))
    val (inTask, join) = inTaskAndJoin(runAll())
    for (((l, j), walk) <- inTask.zip(join)
        .zip(Seq("pageRank", "logSpace", "converged", "ppr"))) {
      assert(l._1 === j._1, s"$walk schema")
      assert(l._2 === j._2, s"$walk rows")
    }
    assert(inTask(3)._1.fieldNames.toSeq === Seq("source", "nodeid", "rank"))
  }

  test("duplicate sources are walked once: ranks match the oracle, one row per (source, node)") {
    val (inTask, join) = inTaskAndJoin(
      GraphOps.personalizedPageRank(smallEdges, Seq(4L, 1L, 4L), iterations = 5,
        vertices = Some(smallVerts), numPartitions = 2).collect())
    for ((rows, regime) <- Seq(inTask -> "in-task", join -> "join")) {
      assert(rows.length === 2 * smallAdj.size, s"$regime row count")
      val got = rows.map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
      for (src <- Seq(1L, 4L); (k, v) <- seqPpr(smallAdj, src, 5))
        assert(math.abs(got((src, k)) - v) < 1e-12, s"$regime source $src node $k")
    }
  }

  test("duplicate out-edges kept (dedupeEdges = false) divide rank by the raw list length") {
    // 1 lists 2 twice and 3 once, 4 lists 1 three times: a kept duplicate
    // is a second message, as in the reference's adjacency lines
    val dupAdj: Map[Long, Seq[Long]] = Map(1L -> Seq(2L, 2L, 3L), 2L -> Seq(3L, 3L),
      3L -> Seq(1L), 4L -> Seq(1L, 1L, 1L, 2L), 5L -> Seq.empty)
    val edges = dupAdj.toSeq.flatMap { case (s, ds) => ds.map(d => (s, d)) }.toDF("src", "dst")
    val verts = dupAdj.keys.toSeq.toDF("nodeid")
    def run() = (
      GraphOps.pageRank(edges, iterations = 6, vertices = Some(verts),
        numPartitions = 2, dedupeEdges = false)
        .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap,
      GraphOps.personalizedPageRank(edges, Seq(1L, 4L), iterations = 6,
        vertices = Some(verts), numPartitions = 2, dedupeEdges = false)
        .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap)
    val (inTask, join) = inTaskAndJoin(run())
    for (((pr, ppr), regime) <- Seq(inTask -> "in-task", join -> "join")) {
      for ((k, v) <- seqPageRank(dupAdj, 6))
        assert(math.abs(pr(k) - v) < 1e-12, s"$regime pageRank node $k")
      for (src <- Seq(1L, 4L); (k, v) <- seqPpr(dupAdj, src, 6))
        assert(math.abs(ppr((src, k)) - v) < 1e-12, s"$regime ppr source $src node $k")
    }
    // deduplicating changes the ranks: the duplicates really were walked
    val deduped = GraphOps.pageRank(edges, iterations = 6, vertices = Some(verts))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(math.abs(deduped(2L) - inTask._1(2L)) > 1e-6)
  }

  test("a NULL dst is no edge: a source whose only out-edge has one dangles in both regimes") {
    val edges = smallEdges.union(Seq[(Long, java.lang.Long)]((5L, null)).toDF("src", "dst"))
    val (inTask, join) = inTaskAndJoin((
      GraphOps.pageRank(edges, iterations = 5, vertices = Some(smallVerts), numPartitions = 2)
        .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap,
      GraphOps.personalizedPageRank(edges, Seq(1L, 5L), iterations = 5,
        vertices = Some(smallVerts), numPartitions = 2)
        .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap))
    for (((pr, ppr), regime) <- Seq(inTask -> "in-task", join -> "join")) {
      for ((k, v) <- seqPageRank(smallAdj, 5))
        assert(math.abs(pr(k) - v) < 1e-12, s"$regime pageRank node $k")
      for (src <- Seq(1L, 5L); (k, v) <- seqPpr(smallAdj, src, 5))
        assert(math.abs(ppr((src, k)) - v) < 1e-12, s"$regime ppr source $src node $k")
    }
  }

  test("empty edges: an explicit vertex set stays uniform, a derived one is empty") {
    val none = Seq.empty[(Long, Long)].toDF("src", "dst")
    val three = Seq(7L, 8L, 9L).toDF("nodeid")
    def run() = (
      GraphOps.pageRank(none, iterations = 3, vertices = Some(three)).collect(),
      GraphOps.pageRankConverged(none, vertices = Some(three))._1.collect(),
      Seq(GraphOps.pageRank(none, iterations = 3),
        GraphOps.pageRankLogSpace(none, iterations = 3),
        GraphOps.pageRankConverged(none)._1,
        GraphOps.personalizedPageRank(none, Seq(1L), iterations = 3))
        .map(df => (df.columns.toSeq, df.collect().length)))
    val (inTask, join) = inTaskAndJoin(run())
    for (((pr, conv, derived), regime) <- Seq(inTask -> "in-task", join -> "join")) {
      for ((rows, walk) <- Seq(pr -> "pageRank", conv -> "converged")) {
        assert(rows.map(_.getLong(0)).sorted.toSeq === Seq(7L, 8L, 9L), s"$regime $walk")
        for (r <- rows)
          assert(math.abs(r.getDouble(1) - 1.0 / 3) < 1e-15, s"$regime $walk ${r.getLong(0)}")
      }
      assert(derived === Seq(Seq("nodeid", "rank"), Seq("nodeid", "rank"),
        Seq("nodeid", "rank"), Seq("source", "nodeid", "rank")).map(_ -> 0), regime)
    }
  }

  /** Jobs per call on the small fixture (3 iterations; the converged walk
    * runs its 3-iteration cap), counted with the result collected: the
    * stats pass (its exchange stage, then the fold of its partitions), the
    * walk, and the caller's read. A count may only go down. */
  private val jobBudget: Map[(String, String), Int] = {
    val walks = Seq("pageRank", "logSpace", "converged", "ppr")
    def row(regime: String, counts: Int*) =
      walks.zip(counts).map { case (w, n) => (w, regime) -> n }
    (row("inTask", 4, 4, 4, 4) ++ row("join", 18, 18, 25, 22)).toMap
  }

  test("jobs per call stay within the committed budget for every walk, layout and regime") {
    val walks: Seq[(String, () => Unit)] = Seq(
      "pageRank" -> (() => GraphOps.pageRank(smallEdges, iterations = 3,
        vertices = Some(smallVerts), numPartitions = 4).collect()),
      "logSpace" -> (() => GraphOps.pageRankLogSpace(smallEdges, iterations = 3,
        vertices = Some(smallVerts), numPartitions = 4).collect()),
      "converged" -> (() => GraphOps.pageRankConverged(smallEdges, tol = 0.0,
        maxIterations = 3, vertices = Some(smallVerts), numPartitions = 4)._1.collect()),
      "ppr" -> (() => GraphOps.personalizedPageRank(smallEdges, Seq(1L, 4L),
        iterations = 3, vertices = Some(smallVerts), numPartitions = 4).collect()))
    def countAll() = walks.map { case (walk, run) => walk -> jobsOf(run()) }
    val (inTask, join) = inTaskAndJoin(countAll())
    val counts = Seq("inTask" -> inTask, "join" -> join).flatMap {
      case (regime, cs) => cs.map { case (w, n) => (w, regime) -> n }
    }
    info(counts.map { case ((w, r), n) => s"$w/$r=$n" }.mkString(" "))
    for ((key, n) <- counts)
      assert(n <= jobBudget.getOrElse(key, -1), s"$key submitted $n jobs")
    // the converged walk's round count rides an accumulator out of the
    // walk's task: no job beyond those of the fixed-round walk
    val fixed = jobsOf(GraphOps.pageRank(smallEdges, iterations = 3,
      vertices = Some(smallVerts)))
    var rounds = -1
    val converged = jobsOf { rounds = GraphOps.pageRankConverged(smallEdges, tol = 0.0,
      maxIterations = 3, vertices = Some(smallVerts))._2 }
    assert(rounds === 3)
    assert(converged === fixed, "pageRankConverged's round count costs no job")
  }

  test("gate catalog: q_pagerank_range, q_pagerank_hub and q_ppr_hub run the " +
      "join regime under their confs; q_pagerank and q_ppr_topk run in-task") {
    val dir = sf0001
    val joinPinned = Set("q_pagerank_range", "q_pagerank_hub", "q_ppr_hub")
    Tables.lineitem(spark, dir) // its schema inference is no walk's job
    val counts = for (name <- Seq("q_pagerank", "q_ppr_topk") ++ joinPinned.toSeq.sorted) yield {
      val spec = graft.queries.Catalog(name)
      def run() = jobsOf(spec.build(spark, dir).collect())
      // each regime forced inside the spec's confs, then the confs alone
      val inTask = spec.withConfs(spark)(withCutoff(Long.MaxValue)(run()))
      val join = spec.withConfs(spark)(withCutoff(0)(run()))
      val catalog = spec.withConfs(spark)(run())
      assert(join > inTask, s"$name: the regimes are told apart by their jobs")
      assert(catalog === (if (joinPinned(name)) join else inTask),
        s"$name under its catalog confs: $catalog jobs (in-task $inTask, join $join)")
      s"$name=$catalog (in-task $inTask, join $join)"
    }
    info(counts.mkString(" "))
  }

  test("a non-numeric in-task cutoff fails naming its conf key") {
    val e = intercept[IllegalArgumentException](SessionConfs.scoped(spark,
      Map(InTask.CutoffKey -> "lots"))(GraphOps.pageRank(smallEdges, iterations = 1)))
    assert(e.getMessage.contains(InTask.CutoffKey) && e.getMessage.contains("lots"),
      e.getMessage)
  }

  test("regime gate weighs |sources| x n: a many-sources call lands in the join regime") {
    def ppr() = GraphOps.personalizedPageRank(smallEdges, Seq(1L, 2L, 4L),
      iterations = 3, vertices = Some(smallVerts), numPartitions = 2).collect()
    val inTaskJobs = jobsOf(ppr())
    val joinJobs = withCutoff(0)(jobsOf(ppr()))
    var rows = Array.empty[org.apache.spark.sql.Row]
    // the fixture's 7 raw edges count too: 5 x 1 + 7 < 20 <= 5 x 3 + 7
    val gatedJobs = withCutoff(20) {
      assert(GraphOps.inTask(spark, n = 5, walks = 1, rawEdges = 7), "5 x 1 + 7 < 20 stays in-task")
      assert(!GraphOps.inTask(spark, n = 5, walks = 3, rawEdges = 7),
        "5 x 3 + 7 >= 20 goes to the join regime")
      jobsOf { rows = ppr() }
    }
    assert(gatedJobs === joinJobs, "the gated call runs the join regime's jobs")
    assert(gatedJobs !== inTaskJobs, "the regimes are told apart by their jobs")
    val got = rows.map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(got.size === 3 * smallAdj.size)
    for (src <- Seq(1L, 2L, 4L); (k, v) <- seqPpr(smallAdj, src, 3))
      assert(math.abs(got((src, k)) - v) < 1e-12, s"source $src node $k")

    // few vertices, many raw edges: 3 x 1 vertices would pass the cutoff,
    // the 120 raw (duplicate) edges do not
    val manyAdj: Map[Long, Seq[Long]] = Map(1L -> Seq(2L, 3L), 2L -> Seq(3L), 3L -> Seq(1L))
    val manyEdges = (manyAdj.toSeq.flatMap { case (s, ds) => ds.map(d => (s, d)) } ++
      Seq.fill(40)(Seq((1L, 2L), (2L, 3L), (3L, 1L))).flatten).toDF("src", "dst")
    def pr() = GraphOps.pageRank(manyEdges, iterations = 5, numPartitions = 2).collect()
    val prJoinJobs = withCutoff(0)(jobsOf(pr()))
    var prRows = Array.empty[org.apache.spark.sql.Row]
    val prGatedJobs = withCutoff(100) {
      assert(GraphOps.inTask(spark, n = 3, walks = 1, rawEdges = 0), "3 vertices alone stay in-task")
      assert(!GraphOps.inTask(spark, n = 3, walks = 1, rawEdges = 124), "124 raw edges do not")
      jobsOf { prRows = pr() }
    }
    assert(prGatedJobs === prJoinJobs, "the edge-heavy call runs the join regime's jobs")
    val prGot = prRows.map(r => r.getLong(0) -> r.getDouble(1)).toMap
    for ((k, v) <- seqPageRank(manyAdj, 5)) assert(math.abs(prGot(k) - v) < 1e-12, s"node $k")
  }

  test("reliable checkpointing (checkpointDir) yields BIT-IDENTICAL ranks " +
      "across the whole iterative family, in both regimes") {
    val dir = java.nio.file.Files.createTempDirectory("graft-ckpt").toString
    try {
      def cmp(name: String, local: Array[org.apache.spark.sql.Row],
              reliable: Array[org.apache.spark.sql.Row]): Unit = {
        assert(local.length === reliable.length, name)
        // exact equality, not tolerance: the cut changes WHERE blocks are
        // stored, never a single arithmetic step
        assert(local.map(_.toString).sorted.toSeq ===
          reliable.map(_.toString).sorted.toSeq, name)
      }
      def run(ckpt: Option[String]) = (
        GraphOps.pageRank(smallEdges, iterations = 10,
          vertices = Some(smallVerts), numPartitions = 4, checkpointDir = ckpt).collect(),
        GraphOps.personalizedPageRank(smallEdges, Seq(1L, 4L),
          iterations = 10, vertices = Some(smallVerts), numPartitions = 4,
          checkpointDir = ckpt).collect(),
        GraphOps.pageRankLogSpace(smallEdges, iterations = 10,
          vertices = Some(smallVerts), numPartitions = 4, checkpointDir = ckpt).collect(),
        GraphOps.pageRankConverged(smallEdges, tol = 1e-10,
          maxIterations = 50, vertices = Some(smallVerts), numPartitions = 4,
          checkpointDir = ckpt))
      // the in-task regime, then the join regime
      for (cutoff <- Seq(None, Some(0L))) {
        def regime[T](body: => T): T = cutoff.fold(body)(withCutoff(_)(body))
        val (pr0, ppr0, log0, (conv0, rounds0)) = regime(run(None))
        val (pr1, ppr1, log1, (conv1, rounds1)) = regime(run(Some(dir)))
        val name = s"cutoff=$cutoff"
        cmp(s"pageRank $name", pr0, pr1)
        cmp(s"ppr $name", ppr0, ppr1)
        cmp(s"logspace $name", log0, log1)
        cmp(s"converged $name", conv0.collect(), conv1.collect())
        assert(rounds0 === rounds1, s"converged rounds $name")
      }
      // the classifier GD materializations take the same option
      val docs = Seq((0L, "good clean text", 1.0), (1L, "spam spam", 0.0),
        (2L, "more clean text here", 1.0), (3L, "spam junk spam", 0.0))
        .toDF("doc_id", "text", "y")
      val w0 = graft.operators.ClassifierOps.trainLogReg(docs, "doc_id",
        "text", col("y"), dims = 16, iterations = 3)
      val w1 = graft.operators.ClassifierOps.trainLogReg(docs, "doc_id",
        "text", col("y"), dims = 16, iterations = 3,
        checkpointDir = Some(dir))
      assert(w0.toSeq === w1.toSeq, "GD weights bit-identical")
      assert(new java.io.File(dir).listFiles().nonEmpty,
        "reliable checkpoints actually landed in the directory")
    } finally org.apache.commons.io.FileUtils.deleteQuietly(
      new java.io.File(dir))
  }

  test("LineageCutter keeps at most the newest cut's rdd-* dirs on disk") {
    val dir = java.nio.file.Files.createTempDirectory("graft-ckpt-gc").toString
    try {
      // the join regime cuts every round; the in-task regime cuts once
      withCutoff(0)(GraphOps.pageRank(smallEdges, iterations = 10,
        vertices = Some(smallVerts), numPartitions = 4,
        checkpointDir = Some(dir)).collect())
      // Spark nests checkpoints under <dir>/<uuid>/rdd-N; without the
      // cutter's lagged delete, this 10-iteration run leaves one rdd-*
      // dir per cut (11 here). The cutter retains at most the last
      // LineageCutter.retainedCuts generations.
      val rddDirs = new java.io.File(dir).listFiles().toSeq
        .flatMap(u => Option(u.listFiles()).map(_.toSeq).getOrElse(Nil))
        .filter(_.getName.startsWith("rdd-"))
      assert(rddDirs.nonEmpty, "reliable checkpoints landed")
      assert(rddDirs.size <= graft.operators.GraphOps.LineageCutter.retainedCuts + 1,
        s"superseded checkpoints must be deleted, found ${rddDirs.size}: " +
          rddDirs.map(_.getName).mkString(", "))
    } finally org.apache.commons.io.FileUtils.deleteQuietly(
      new java.io.File(dir))
  }

  test("pageRankConverged stops early and matches a long fixed run") {
    val (ranks, iters) = GraphOps.pageRankConverged(smallEdges, tol = 1e-10,
      maxIterations = 200, vertices = Some(smallVerts), numPartitions = 2)
    assert(iters < 200, "should converge well before the cap")
    val fixed = GraphOps.pageRank(smallEdges, iterations = 100,
      vertices = Some(smallVerts), numPartitions = 2)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val got = ranks.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    for ((k, v) <- fixed) assert(math.abs(got(k) - v) < 1e-8, s"node $k")
  }

  /** One hub whose out-degree exceeds an adjacency chunk, plus a few
    * back-links; 4 to the hub's last neighbour dangle. */
  private def hubEdges = {
    val hubDeg = GraphOps.chunkEdges + 4464L // 70,000
    ((1L to hubDeg).map(d => (0L, d)) ++
      Seq((1L, 0L), (2L, 1L), (3L, 1L), (17L, 3L))).toDF("src", "dst")
  }

  test("adjacency chunks: each source's rows hold its out-edges once, outdeg is their total") {
    for (dedupe <- Seq(true, false)) {
      val adj = GraphOps.adjacency(hubEdges.union(Seq((1L, 2L), (1L, 2L)).toDF("src", "dst")),
        parts = 2, dedupe, byRange = false, chunks = 2).collect()
      val bySrc = adj.groupBy(_.getLong(0))
      // the hub spreads over both chunks, each well under a chunk's bound
      assert(bySrc(0L).length === 2, s"dedupe=$dedupe")
      assert(bySrc(0L).forall(_.getSeq[Long](1).size <= GraphOps.chunkEdges), s"dedupe=$dedupe")
      for ((src, rows) <- bySrc) {
        val dsts = rows.flatMap(_.getSeq[Long](1)).toSeq.sorted
        val raw = ((if (src == 0L) (1L to GraphOps.chunkEdges + 4464L) else Nil) ++
          Map(1L -> Seq(0L, 2L, 2L), 2L -> Seq(1L), 3L -> Seq(1L), 17L -> Seq(3L))
            .getOrElse(src, Nil)).sorted
        assert(dsts === (if (dedupe) raw.distinct else raw), s"dedupe=$dedupe src $src")
        assert(rows.forall(_.getLong(2) === dsts.size), s"dedupe=$dedupe src $src outdeg")
      }
    }
  }

  // The hub tests below run the hub graph in both regimes: n + E is far
  // under the default cutoff, so the default runs in-task, and the zero
  // cutoff forces the join regime, whose adjacency splits the hub over two
  // chunks (the hub guard's edge scatter was folded into that chunking).
  private def ranksOf(df: org.apache.spark.sql.DataFrame): Map[Long, Double] =
    df.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap

  test("hub guard: edge-relation scatter produces identical ranks") {
    val (inTask, join) = inTaskAndJoin(ranksOf(
      GraphOps.pageRank(hubEdges, iterations = 8, numPartitions = 4)))
    assert(join.keySet === inTask.keySet)
    for ((k, v) <- inTask) assert(math.abs(join(k) - v) < 1e-15, s"node $k")
    assert(math.abs(join.values.sum - 1.0) < 1e-9, "rank mass conserved")
  }

  test("hub guard on personalized PageRank matches the adjacency path and oracle") {
    def ppr(edges: org.apache.spark.sql.DataFrame, sources: Seq[Long],
            vertices: Option[org.apache.spark.sql.DataFrame]) =
      GraphOps.personalizedPageRank(edges, sources, iterations = 10,
        vertices = vertices, numPartitions = 4)
        .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val (inTask, join) = inTaskAndJoin(ppr(hubEdges, Seq(0L, 17L), None))
    // across regimes the summation order differs: the suite's 1e-12 bound
    assert(join.keySet === inTask.keySet)
    for ((k, v) <- inTask) assert(math.abs(join(k) - v) < 1e-12, s"state $k")
    for ((src, mass) <- join.groupMapReduce(_._1._1)(_._2)(_ + _))
      assert(math.abs(mass - 1.0) < 1e-9, s"source $src rank mass conserved")
    val hubAdj = hubEdges.collect().groupMap(_.getLong(0))(_.getLong(1))
      .map { case (s, ds) => s -> ds.toSeq }
      .withDefaultValue(Seq.empty[Long])
    val hubNodes = join.keys.map(_._2).toSet
    for (src <- Seq(0L, 17L)) {
      val exp = seqPpr(hubNodes.map(n => n -> hubAdj(n)).toMap, src, 10)
      for ((k, v) <- exp)
        assert(math.abs(join((src, k)) - v) < 1e-12, s"hub graph: source $src node $k")
    }
    val small = withCutoff(0)(ppr(smallEdges, Seq(1L, 4L), Some(smallVerts)))
    for (src <- Seq(1L, 4L)) {
      val exp = seqPpr(smallAdj, src, 10)
      for ((k, v) <- exp)
        assert(math.abs(small((src, k)) - v) < 1e-12, s"source $src node $k")
    }
  }

  test("hub-safe pageRankConverged: mega-hub graph converges to the fixed-run ranks") {
    def converged = {
      val (ranks, iters) = GraphOps.pageRankConverged(hubEdges, tol = 1e-10,
        maxIterations = 200, numPartitions = 4)
      (ranksOf(ranks), iters)
    }
    val ((inTask, inTaskIters), (got, iters)) = inTaskAndJoin(converged)
    assert(iters < 200, "should converge well before the cap")
    val fixed = ranksOf(GraphOps.pageRank(hubEdges, iterations = 100, numPartitions = 4))
    assert(got.keySet === fixed.keySet)
    for ((k, v) <- fixed) assert(math.abs(got(k) - v) < 1e-8, s"node $k")
    assert(math.abs(got.values.sum - 1.0) < 1e-9, "rank mass conserved")
    // both regimes of the convergence loop agree, round count included
    assert(inTaskIters === iters)
    for ((k, v) <- inTask) assert(math.abs(got(k) - v) < 1e-12, s"node $k")
  }

  test("hub guard on pageRankLogSpace matches the adjacency path") {
    val (inTask, join) = inTaskAndJoin(ranksOf(
      GraphOps.pageRankLogSpace(hubEdges, iterations = 8, numPartitions = 4)))
    assert(join.keySet === inTask.keySet)
    for ((k, v) <- inTask)
      assert(math.abs(join(k) - v) < 1e-12, s"node $k (log-space rank)")
    val mass = join.values.map(math.exp).sum
    assert(math.abs(mass - 1.0) < 1e-9, "rank mass conserved")
  }

  test("graphStats counts nodes, edges, dangling (A8 counters)") {
    val stats = GraphOps.graphStats(smallEdges, Some(smallVerts))
    assert(stats === Map("nodes" -> 5L, "edges" -> 7L, "dangling" -> 1L))
  }

  test("mass sent to nonexistent nodes vanishes (FIXTURES.md B3)") {
    // node 9 is referenced but has no adjacency line -> not a vertex; the
    // reference drops mass addressed to it (RunPageRankBasic.java:288-296)
    val edges = Seq((1L, 2L), (1L, 9L), (2L, 1L)).toDF("src", "dst")
    val verts = Seq(1L, 2L).toDF("nodeid")
    val ranks = GraphOps.pageRank(edges, iterations = 5,
      vertices = Some(verts), numPartitions = 2)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(ranks.keySet === Set(1L, 2L), "phantom node gets no rank row")
    assert(ranks.values.sum < 1.0 - 1e-6, "mass to the phantom node is lost")
    // independent sequential model with the same vanishing semantics
    val exp = seqPageRank(Map(1L -> Seq(2L, 9L), 2L -> Seq(1L)), 5)
    for ((k, v) <- exp) assert(math.abs(ranks(k) - v) < 1e-12, s"node $k")
  }

  test("personalized PageRank reproduces reference goldens on sample-large.txt") {
    val path = "/root/reference/assignment4/sample-large.txt"
    assume(new java.io.File(path).exists(), "reference dataset not present")
    val (edges, verts) = GraphOps.edgesFromAdjacencyText(spark.read.text(path))
    val ranks = GraphOps.personalizedPageRank(edges, Seq(9470136L, 9300650L),
      iterations = 20, vertices = Some(verts), numPartitions = 4, dedupeEdges = false)
      .select(col("source"), col("nodeid"), round(col("rank"), 5).as("r"))
      .collect()
    val all = ranks.map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    def topVals(src: Long): Seq[Double] =
      ranks.filter(_.getLong(0) == src).map(_.getDouble(2)).sorted.reverse.take(10).toSeq

    // reference/assignment4/assignment4.md:8-17 (source 9470136)
    val golden1 = Seq(9470136L -> 0.38857, 7992850L -> 0.09418, 7891871L -> 0.08586,
      10208640L -> 0.08063, 9427340L -> 0.06603, 8747858L -> 0.06603,
      8702415L -> 0.03546, 8669492L -> 0.03183, 7970234L -> 0.02246,
      8846238L -> 0.01693)
    // reference/assignment4/assignment4.md:22-31 (source 9300650)
    val golden2 = Seq(9300650L -> 0.44688, 10765057L -> 0.09108, 9074395L -> 0.08888,
      9621997L -> 0.07597, 8832646L -> 0.07597, 10687744L -> 0.07597,
      10448801L -> 0.01556, 9785148L -> 0.01511, 8846237L -> 0.01511,
      11890488L -> 0.01511)
    // Per-node rank values must reproduce every printed %.5f digit. Node
    // IDENTITY in the golden tail is not well-defined: ranks 8-10 of source
    // 9300650 are a 0.01511 tie the reference's priority queue broke
    // arbitrarily, so the tied tail is checked by value sequence instead.
    for ((n, v) <- golden1)
      assert(math.abs(all((9470136L, n)) - v) <= 1e-5, s"source 9470136 node $n")
    for ((n, v) <- golden2)
      assert(math.abs(all((9300650L, n)) - v) <= 1e-5, s"source 9300650 node $n")
    assert(topVals(9470136L) === golden1.map(_._2))
    assert(topVals(9300650L) === golden2.map(_._2))
  }
}
