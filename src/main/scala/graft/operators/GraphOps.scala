package graft.operators

import graft.functions.{LogSpace, LongDoubleMap, MapLookup}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.storage.StorageLevel

/** Graph / iterative operators: the assignment-4 family of the reference
  * (PageRank, personalized multi-source PageRank, top-k extraction).
  *
  * Reference semantics (capability parity, not a port):
  *  - rank update: p' = alpha/N + (1-alpha) * (sum of incoming mass +
  *    missing/N), where missing = total rank held by dangling nodes
  *    (reference/assignment4/src/main/basic/RunPageRankBasic.java:323-349,
  *    437-450; alpha = 0.15 at :352)
  *  - personalized: the teleport AND all missing (dangling) mass route to
  *    the personalization source only — non-source nodes get jump mass 0
  *    (reference/assignment4/src/main/RunPersonalizedPageRankBasic.java:312-340)
  *  - graph input: adjacency lines `node \t out1 \t out2 ...`, every node
  *    has a line even if dangling
  *    (reference/assignment4/src/main/basic/BuildPageRankRecords.java:79-95)
  *
  * One scatter/gather skeleton runs every walk. A round sends each
  * vertex's mass along its out-edges, sums it per destination (the
  * gather's partial aggregation stands in for the reference's combiner,
  * RunPageRankBasic.java:206-237) and applies the teleport/dangling
  * update. Three values parameterize it:
  *  - a [[Walk]] rule — initial rank, per-edge mass (`r/d`, or `r - log d`
  *    in log space), gather aggregate (`sum` or `LogSpace.logSumExp`) and
  *    update — with linear, log-space and personalized instances. Rules
  *    are written once over [[Arith]], so the driver's doubles and the
  *    join regime's Columns run the same IEEE operations;
  *  - a [[Stop]] rule: a fixed round count, or L∞ change < tol;
  *  - a [[Scatter]] layout built once by [[prepare]]: adjacency arrays
  *    (`explode(adj)`), or — when the hub guard trips — the persisted flat
  *    (src, dst) relation joined per round, so a 100M-out-degree hub never
  *    becomes one giant array row.
  *
  * Each walk runs in one of two regimes, chosen by [[localizes]]:
  *  - localized (|walks| x n under the cutoff): rank state lives on the
  *    driver and re-enters each scatter as a [[MapLookup]] table; a round
  *    is ONE job, its gather collected to the driver. Dangling mass, the
  *    update and the L∞ change are driver arithmetic — the reduction the
  *    reference does through reducer side-files (RunPageRankBasic.java:
  *    515-523). The final ranks leave through one lookup per walk.
  *  - join (above it): state is a relation joined against the graph each
  *    round. Dangling rank flows to a NULL `dst` sentinel inside the same
  *    gather and comes back as a driver scalar per walk, so each round's
  *    plan reads the checkpointed gather once (two references would square
  *    Catalyst's size estimate every round). The per-round lineage cut
  *    ([[LineageCutter]]) keeps the plan O(1) where the reference writes
  *    iterXXXX dirs to HDFS.
  * The graph side never moves to the driver: its relations are built and
  * persisted once, partitioned on `src`.
  */
object GraphOps {

  /** Parse reference-format adjacency lines (`node WS out1 WS out2 ...`)
    * into an edge relation (src, dst) plus an all-vertices relation that
    * includes dangling nodes (they have a line but no out-edges).
    */
  def edgesFromAdjacencyText(lines: DataFrame): (DataFrame, DataFrame) = {
    val toks = lines
      .select(split(trim(col(lines.columns.head)), "\\s+").as("toks"))
      .where(size(col("toks")) >= 1)
    val verts = toks.select(col("toks").getItem(0).cast("long").as("nodeid")).distinct()
    val edges = toks
      .where(size(col("toks")) >= 2)
      .select(col("toks").getItem(0).cast("long").as("src"),
        explode(slice(col("toks"), 2, Int.MaxValue)).as("dst"))
      .select(col("src"), col("dst").cast("long").as("dst"))
    (edges, verts)
  }

  /** Partition an edge relation by source — hash by default; `byRange`
    * gives the reference's contiguous node-id ranges
    * (reference/assignment4/src/main/basic/RangePartitioner.java:37-40),
    * useful when node ids encode locality (e.g. crawl order). Both
    * partitionings satisfy the downstream groupBy("src")'s clustered
    * distribution, so the adjacency build adds no second exchange.
    */
  def partitionEdges(edges: DataFrame, parts: Int, byRange: Boolean = false): DataFrame =
    if (byRange) edges.repartitionByRange(parts, col("src"))
    else edges.repartition(parts, col("src"))

  /** The adjacency layout's graph relation (src, adj, outdeg), built in ONE
    * aggregation shuffle: collect_set dedupes per source map-side,
    * collect_list keeps the reference's duplicate out-edges (it divides by
    * the raw list length). */
  private[graft] def adjacency(edges: DataFrame, parts: Int, dedupe: Boolean,
                               byRange: Boolean): DataFrame =
    partitionEdges(edges, parts, byRange)
      .groupBy("src")
      .agg((if (dedupe) collect_set(col("dst")) else collect_list(col("dst"))).as("adj"))
      .withColumn("outdeg", size(col("adj")).cast("long"))

  /** Iterative PageRank on a SMALL graph is latency-bound: per-iteration
    * AQE re-planning + extra stages cost more than they save (measured ~2x
    * per iteration at 2e4 nodes), while on a big graph AQE's skew-join and
    * coalescing matter. Below this vertex count the iteration loop runs
    * with AQE off and 8 shuffle partitions; the graph build runs before
    * the switch and keeps AQE either way. The same count is the default
    * [[localizedCutoff]].
    *
    * The toggle saves and restores the SESSION conf (finally-guarded):
    * unrelated queries issued on the same session concurrently with a
    * small-graph iteration loop would plan without AQE for that window —
    * callers interleaving heavy concurrent work can pass a dedicated
    * `SparkSession.newSession()` to isolate. */
  private val aqeIterationCutoff = 1000000L

  private def withIterationAqe[T](spark: SparkSession, n: Long)(body: => T): T = {
    val conf = spark.conf
    val keys = Seq("spark.sql.adaptive.enabled", "spark.sql.shuffle.partitions")
    val prev = keys.map(k => k -> conf.getOption(k))
    if (n < aqeIterationCutoff) {
      conf.set(keys.head, "false")
      conf.set(keys(1), "8")
    }
    try body
    finally prev.foreach {
      case (k, Some(v)) => conf.set(k, v)
      case (k, None)    => conf.unset(k)
    }
  }

  /** System-property override for the localized-regime cutoff (default
    * [[aqeIterationCutoff]]). Tests force the distributed join regime onto
    * small graphs with -Dgraft.graph.localizedCutoff=0. */
  private def localizedCutoff: Long =
    sys.props.get("graft.graph.localizedCutoff").map(_.toLong)
      .getOrElse(aqeIterationCutoff)

  /** Regime gate: the localized regime holds one rank array of n doubles
    * per walk on the driver and collects up to |walks| x n gathered rows a
    * round, so it runs only while that product is under the cutoff. */
  private[graft] def localizes(n: Long, walks: Int): Boolean =
    n * walks < localizedCutoff

  /** Max raw out-degree AND total raw edge count in one partially-aggregated
    * count pass — the max is an upper bound on the deduped out-degree, so the
    * hub guard triggers conservatively without paying a distinct; the total
    * drives the data-derived partition clamp in [[resolveParts]]. */
  private def degreeStats(edges: DataFrame): (Long, Long) = {
    val r = edges.groupBy("src").agg(count(lit(1)).as("d"))
      .agg(max(col("d")), sum(col("d"))).head()
    if (r.isNullAt(0)) (0L, 0L) else (r.getLong(0), r.getLong(1))
  }

  /** Raw edges a graph partition should carry when the caller does not pin
    * the count: small enough that the cluster cap (not this constant) rules
    * at any real scale, large enough that a bench-scale graph is not sliced
    * into per-iteration scheduling confetti. */
  private val edgesPerPartition = 262144L

  /** Graph partition count: scales with BOTH the deployment and the data.
    * An explicit positive `numPartitions` pins it. Otherwise the cluster cap
    * is max(defaultParallelism, spark.sql.shuffle.partitions) —
    * defaultParallelism alone can be tiny on a dynamic-allocation cluster
    * before executors register — clamped so each partition carries at
    * least [[edgesPerPartition]] raw edges (a 2e4-node graph cut into 32
    * partitions spends its rounds scheduling tasks). */
  private def resolveParts(spark: SparkSession, numPartitions: Int,
                           totalRawEdges: Long): Int =
    if (numPartitions > 0) numPartitions
    else {
      val cap = math.max(spark.sparkContext.defaultParallelism,
        spark.conf.get("spark.sql.shuffle.partitions", "200").toInt).toLong
      math.max(1L, math.min(cap,
        (totalRawEdges + edgesPerPartition - 1) / edgesPerPartition)).toInt
    }

  /** Scatter layout over a persisted graph relation partitioned on `src`:
    * adjacency rows (src, adj, outdeg), or flat edges (src, dst) with the
    * separate out-degree relation `deg` (src, outdeg). */
  private final case class Scatter(graph: DataFrame, deg: DataFrame, exploded: Boolean) {
    /** each source's out-neighbours, one row per out-edge */
    def dst: Column = if (exploded) explode(col("adj")) else col("dst")

    /** Localized regime: (tags, dst, m) per out-edge, `m` a column over
      * `src`. */
    def fanOut(m: Column, tags: Seq[Column]): DataFrame =
      graph.select(tags ++ Seq(dst.as("dst"), m.as("m")): _*)

    /** Join regime: (keys, dst, m) from a (keys, nodeid, rank) state. A
      * vertex without out-edges sends its whole rank to the NULL `dst`
      * sentinel, so the gather yields the dangling mass in the same pass. */
    def fromState(state: DataFrame, keys: Seq[Column],
                  mass: (Column, Column) => Column): DataFrame = {
      val m = when(col("outdeg").isNull, col("rank"))
        .otherwise(mass(col("rank"), col("outdeg"))).as("m")
      if (exploded)
        state.join(graph, col("nodeid") === col("src"), "left_outer")
          .select(keys ++ Seq(explode_outer(col("adj")).as("dst"), m): _*)
      else
        state.join(deg, col("nodeid") === col("src"), "left_outer")
          .select(keys ++ Seq(col("nodeid"), m): _*)
          .join(graph, col("nodeid") === col("src"), "left_outer")
          .select(keys ++ Seq(col("dst"), col("m")): _*)
    }
  }

  /** A prepared graph: vertex relation, vertex count, scatter layout. */
  private final case class Graph(verts: DataFrame, n: Long, scatter: Scatter) {
    def unpersist(): Unit =
      Seq(verts, scatter.graph, scatter.deg).foreach(_.unpersist())
  }

  /** Shared setup of every walk: one degree pass sizes the partitioning and
    * runs the hub guard (a raw out-degree above `hubDegreeThreshold`,
    * default 4M ≈ a 32 MB array row, selects flat edges); then the layout's
    * relations and the vertex set (explicit, or src ∪ dst) are built,
    * persisted and materialized. */
  private def prepare(edges: DataFrame, vertices: Option[DataFrame],
                      numPartitions: Int, dedupeEdges: Boolean,
                      rangePartition: Boolean, hubDegreeThreshold: Long): Graph = {
    val (maxDeg, totalEdges) = degreeStats(edges)
    val parts = resolveParts(edges.sparkSession, numPartitions, totalEdges)
    def persisted(df: DataFrame) = {
      val p = df.persist(StorageLevel.MEMORY_AND_DISK); p.count(); p
    }
    val scatter =
      if (maxDeg > hubDegreeThreshold) {
        val e = persisted(partitionEdges(if (dedupeEdges) edges.distinct() else edges,
          parts, rangePartition))
        // reuses e's partitioning (clustered on src) — no extra exchange
        Scatter(e, persisted(e.groupBy("src").agg(count(lit(1)).as("outdeg"))),
          exploded = false)
      } else {
        val adj = persisted(adjacency(edges, parts, dedupeEdges, rangePartition))
        Scatter(adj, adj.select(col("src"), col("outdeg")), exploded = true)
      }
    val verts = vertices.map(_.select(col("nodeid"))).getOrElse(
        scatter.graph.select(col("src").as("nodeid"))
          .union(scatter.graph.select(scatter.dst.as("nodeid")))
          .distinct())
      .persist(StorageLevel.MEMORY_AND_DISK)
    Graph(verts, verts.count(), scatter)
  }

  /** The arithmetic walk rules are written in: driver doubles (localized
    * regime) or Columns (join regime). Stating each rule once makes both
    * regimes run the same IEEE operations in the same order (JVM >= 17
    * doubles are strictfp; driver-side literals fold to the same double),
    * so their ranks agree to the ulp. */
  private sealed trait Arith[T] {
    def num(d: Double): T
    def plus(a: T, b: T): T
    def minus(a: T, b: T): T
    def times(a: T, b: T): T
    def div(a: T, b: T): T
    def ln(a: T): T
    def logAdd(a: T, b: T): T
  }

  private object Scalar extends Arith[Double] {
    def num(d: Double): Double = d
    def plus(a: Double, b: Double): Double = a + b
    def minus(a: Double, b: Double): Double = a - b
    def times(a: Double, b: Double): Double = a * b
    def div(a: Double, b: Double): Double = a / b
    def ln(a: Double): Double = StrictMath.log(a) // what Catalyst's `log` runs
    def logAdd(a: Double, b: Double): Double = LogSpace.logAddScalar(a, b)
  }

  private object Columns extends Arith[Column] {
    def num(d: Double): Column = lit(d)
    def plus(a: Column, b: Column): Column = a + b
    def minus(a: Column, b: Column): Column = a - b
    def times(a: Column, b: Column): Column = a * b
    def div(a: Column, b: Column): Column = a / b
    def ln(a: Column): Column = log(a)
    def logAdd(a: Column, b: Column): Column = LogSpace.logAdd(a, b)
  }

  /** A walk rule. `delta` is 1.0 at a personalized walk's source vertex
    * and 0.0 elsewhere; global walks ignore it. */
  private sealed abstract class Walk {
    /** one walk per source; empty for the single global walk */
    def sources: Seq[Long] = Nil
    /** key columns of a rank row besides `nodeid` */
    def keys: Seq[String] = if (sources.isEmpty) Nil else Seq("source")
    def start[T](a: Arith[T], n: Long, delta: T): T
    /** mass a source of out-degree `outdeg` sends along each out-edge */
    def mass[T](a: Arith[T], rank: T, outdeg: T): T
    def gather(m: Column): Column
    /** the gather's identity: no incoming (or dangling) mass */
    def none: Double
    /** the driver's fold of dangling ranks, the scalar twin of `gather` */
    def add(x: Double, y: Double): Double
    /** teleport + dangling update of one vertex */
    def update[T](a: Arith[T], n: Long, in: T, missing: T, delta: T): T
  }

  /** p' = α/n + (1-α)·(in + missing/n) */
  private class Linear(alpha: Double) extends Walk {
    def start[T](a: Arith[T], n: Long, delta: T): T = a.num(1.0 / n)
    def mass[T](a: Arith[T], rank: T, outdeg: T): T = a.div(rank, outdeg)
    def gather(m: Column): Column = sum(m)
    def none: Double = 0.0
    def add(x: Double, y: Double): Double = x + y
    def update[T](a: Arith[T], n: Long, in: T, missing: T, delta: T): T =
      a.plus(a.num(alpha / n), a.times(a.num(1 - alpha),
        a.plus(in, a.div(missing, a.num(n.toDouble)))))
  }

  /** Teleport and dangling mass go to the source only:
    * p' = α·δ + (1-α)·(in + missing·δ). */
  private final class Personalized(alpha: Double, override val sources: Seq[Long])
      extends Linear(alpha) {
    override def start[T](a: Arith[T], n: Long, delta: T): T = delta
    override def update[T](a: Arith[T], n: Long, in: T, missing: T, delta: T): T =
      a.plus(a.times(a.num(alpha), delta), a.times(a.num(1 - alpha),
        a.plus(in, a.times(missing, delta))))
  }

  /** Linear's walk in log space: mass r - log d, log-sum-exp gather,
    * p' = logAdd(log(α/n), log(1-α) + logAdd(in, missing - log n)). */
  private final class LogLinear(alpha: Double) extends Walk {
    def start[T](a: Arith[T], n: Long, delta: T): T = a.num(-math.log(n.toDouble))
    def mass[T](a: Arith[T], rank: T, outdeg: T): T = a.minus(rank, a.ln(outdeg))
    def gather(m: Column): Column = LogSpace.logSumExp(m)
    def none: Double = Double.NegativeInfinity
    def add(x: Double, y: Double): Double = LogSpace.logAddScalar(x, y)
    def update[T](a: Arith[T], n: Long, in: T, missing: T, delta: T): T =
      a.logAdd(a.num(math.log(alpha / n)), a.plus(a.num(math.log(1 - alpha)),
        a.logAdd(in, a.minus(missing, a.num(math.log(n.toDouble))))))
  }

  /** Stop rule: `rounds` rounds, or fewer once the L∞ rank change is at or
    * below `tol`. */
  private final case class Stop(rounds: Int, tol: Option[Double] = None) {
    def continues(done: Int, change: Double): Boolean =
      done < rounds && tol.forall(change > _)
  }

  /** The skeleton: prepare the graph, run the walk in the regime the gate
    * picks, release the graph relations. Returns (ranks, rounds run). */
  private def walk(edges: DataFrame, vertices: Option[DataFrame], numPartitions: Int,
                   dedupeEdges: Boolean, rangePartition: Boolean,
                   hubDegreeThreshold: Long, checkpointDir: Option[String],
                   rule: Walk, stop: Stop): (DataFrame, Int) = {
    val g = prepare(edges, vertices, numPartitions, dedupeEdges, rangePartition,
      hubDegreeThreshold)
    val cut = new LineageCutter(checkpointDir)
    try withIterationAqe(edges.sparkSession, g.n) {
      if (localizes(g.n, rule.sources.size max 1)) localizedWalk(g, rule, stop, cut)
      else joinWalk(g, rule, stop, cut)
    } finally g.unpersist()
  }

  /** Localized regime: rank arrays on the driver, one gather job a round.
    * Phantom sources (an edge src outside an explicit vertex set) have no
    * rank and send no mass; mass to a phantom dst is never read back. */
  private def localizedWalk(g: Graph, rule: Walk, stop: Stop,
                            cut: DataFrame => DataFrame): (DataFrame, Int) = {
    val ids = g.verts.select(col("nodeid")).collect().map(_.getLong(0)).sorted
    val (srcIds, outdegs) = g.scatter.deg.collect()
      .map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).unzip
    val srcPos = srcIds.map(s => java.util.Arrays.binarySearch(ids, s))
    val dangling = ids.indices
      .filter(i => java.util.Arrays.binarySearch(srcIds, ids(i)) < 0).toArray
    val roots = if (rule.sources.isEmpty) Seq(None) else rule.sources.map(Some(_))
    val walks = roots.size
    val tags = roots.map(_.map(s => lit(s).as("source")).toSeq)
    val srcAt = roots.map(_.fold(-1)(s => java.util.Arrays.binarySearch(ids, s)))
    def delta(k: Int, i: Int) = if (i == srcAt(k)) 1.0 else 0.0
    val walkOf = rule.sources.zipWithIndex.toMap
    val keyCols = rule.keys.size

    var ranks = Array.tabulate(walks, ids.length)((k, i) =>
      rule.start(Scalar, g.n, delta(k, i)))
    var rounds = 0
    var change = Double.MaxValue
    while (stop.continues(rounds, change)) {
      val scattered = (0 until walks).map { k =>
        val ks = Array.newBuilder[Long]
        val ms = Array.newBuilder[Double]
        for (j <- srcIds.indices if srcPos(j) >= 0) {
          ks += srcIds(j)
          ms += rule.mass(Scalar, ranks(k)(srcPos(j)), outdegs(j).toDouble)
        }
        g.scatter.fanOut(
          MapLookup.lookup(new LongDoubleMap(ks.result(), ms.result()), col("src")),
          tags(k))
      }
      val gathered = scattered.reduce(_.union(_))
        .groupBy((rule.keys :+ "dst").map(col): _*)
        .agg(rule.gather(col("m")).as("in_mass"))
      // one pass buckets the |walks| x n rows per walk; a NULL in_mass (all
      // contributors phantom) is "no mass"
      val in = Array.fill(walks)(Array.newBuilder[(Long, Double)])
      gathered.collect().foreach { r =>
        if (!r.isNullAt(keyCols) && !r.isNullAt(keyCols + 1))
          in(if (keyCols > 0) walkOf(r.getLong(0)) else 0) +=
            (r.getLong(keyCols) -> r.getDouble(keyCols + 1))
      }
      val inMass = in.map(b => LongDoubleMap.fromPairs(b.result()))
      val next = Array.tabulate(walks) { k =>
        val missing = dangling.foldLeft(rule.none)((s, i) => rule.add(s, ranks(k)(i)))
        Array.tabulate(ids.length)(i => rule.update(Scalar, g.n,
          inMass(k).getOrElse(ids(i), rule.none), missing, delta(k, i)))
      }
      change = next.indices.iterator.flatMap(k => ids.indices.iterator
        .map(i => math.abs(next(k)(i) - ranks(k)(i)))).foldLeft(0.0)((a, b) => math.max(a, b))
      ranks = next
      rounds += 1
    }
    // the lookup always hits (every vertex is a table key); the coalesce
    // only keeps `rank` non-nullable, as in the join regime
    val out = (0 until walks).map(k => g.verts.select(tags(k) ++ Seq(col("nodeid"),
      coalesce(MapLookup.lookup(new LongDoubleMap(ids, ranks(k)), col("nodeid")),
        lit(Double.NaN)).as("rank")): _*))
    (cut(out.reduce(_.union(_))), rounds)
  }

  /** Join regime: (keys, nodeid, rank) state joined against the graph each
    * round; the gather and, when converging, the new ranks are cut. */
  private def joinWalk(g: Graph, rule: Walk, stop: Stop,
                       cut: DataFrame => DataFrame): (DataFrame, Int) = {
    val spark = g.verts.sparkSession
    import spark.implicits._
    val keys = rule.keys
    val base = if (keys.isEmpty) g.verts else rule.sources.toDF("source").crossJoin(g.verts)
    val delta = if (keys.isEmpty) lit(0.0)
      else when(col("nodeid") === col("source"), lit(1.0)).otherwise(lit(0.0))
    def ranked(df: DataFrame, rank: Column) =
      df.select(keys.map(col) ++ Seq(col("nodeid"), rank.as("rank")): _*)

    var state = ranked(base, rule.start(Columns, g.n, delta))
    var rounds = 0
    var change = Double.MaxValue
    while (stop.continues(rounds, change)) {
      val gathered = g.scatter
        .fromState(state, keys.map(col), rule.mass(Columns, _, _))
        .groupBy((keys :+ "dst").map(col): _*).agg(rule.gather(col("m")).as("in_mass"))
        .transform(cut)
      val dangling = gathered.where(col("dst").isNull)
        .select((keys :+ "in_mass").map(col): _*).collect()
      val missing =
        if (keys.isEmpty) lit(dangling.headOption.fold(rule.none)(_.getDouble(0)))
        else coalesce(MapLookup.lookup(LongDoubleMap.fromPairs(
          dangling.map(r => r.getLong(0) -> r.getDouble(1))), col("source")),
          lit(rule.none))
      val in = gathered.where(col("dst").isNotNull)
        .select(keys.map(k => col(k).as("g_" + k)) ++ Seq(col("dst"), col("in_mass")): _*)
      val on = keys.foldLeft(col("nodeid") === col("dst"))((c, k) => c && col(k) === col("g_" + k))
      val next = ranked(base.join(in, on, "left_outer"), rule.update(Columns, g.n,
        coalesce(col("in_mass"), lit(rule.none)), missing, delta))
      state = if (stop.tol.isEmpty) next else {
        val kept = cut(next)
        change = kept.join(state.withColumnRenamed("rank", "prev"), keys :+ "nodeid")
          .agg(max(abs(col("rank") - col("prev")))).head().getDouble(0)
        kept
      }
      rounds += 1
    }
    (if (stop.tol.nonEmpty && rounds > 0) state else cut(state), rounds)
  }

  /** Per-iteration lineage cut for the iterative family (G9). The default
    * `localCheckpoint()` stores cut blocks on executors — fastest, and the
    * SURVEY §3.3 parity choice — but on a preemptible cluster an executor
    * loss mid-loop kills the job (the blocks are unrecoverable). Passing
    * `checkpointDir` swaps in RELIABLE `checkpoint()` to that
    * HDFS-compatible directory: cut state survives executor loss, the
    * production-grade option for long loops at the 100x cluster scale.
    * Ranks are bit-identical either way — only where the cut's blocks
    * live changes (GraphOpsSpec proves equality). */
  private[graft] def cutLineage(df: DataFrame,
      checkpointDir: Option[String]): DataFrame =
    checkpointDir match {
      case Some(dir) =>
        val sc = df.sparkSession.sparkContext
        setCheckpointBase(sc, dir)
        df.checkpoint()
      case None => df.localCheckpoint()
    }

  /** Point the context's checkpoint location at `dir` unless it already
    * lives there. Spark's setCheckpointDir appends a random UUID child, so
    * "already there" means the current location's PARENT path equals the
    * requested base — compared as fully-qualified paths, not substrings (a
    * containment check would skip setting e.g. `/tmp/ck` while the current
    * dir is `/tmp/ck-old/...`). */
  private def setCheckpointBase(sc: org.apache.spark.SparkContext,
      dir: String): Unit = {
    val base = new org.apache.hadoop.fs.Path(dir)
    val fs = base.getFileSystem(sc.hadoopConfiguration)
    val qBase = fs.makeQualified(base)
    val already = sc.getCheckpointDir.exists { cur =>
      Option(new org.apache.hadoop.fs.Path(cur).getParent)
        .map(fs.makeQualified).contains(qBase)
    }
    if (!already) sc.setCheckpointDir(dir)
  }

  /** Per-LOOP lineage cutter: [[cutLineage]] semantics plus cleanup of the
    * checkpoints this loop no longer needs. Spark never deletes reliable
    * checkpoint files on its own here (`spark.cleaner.referenceTracking.
    * cleanCheckpoints` defaults to false and is only read at context
    * start), so a long converging loop would otherwise accumulate one
    * `rdd-*` directory per cut for the whole job's lifetime.
    *
    * Deletion lags by [[LineageCutter.retainedCuts]] generations, not one:
    * the join regime cuts up to TWO relations per round (the gather and,
    * when converging, the new ranks) and reads at most ONE round back (the
    * L∞ change joins the previous ranks AFTER the new ranks' cut), so a
    * window of 4 cuts keeps everything within two full rounds alive and
    * deletes strictly older files, which no round reads again (proven by
    * the bit-identical reliable-checkpoint spec running every walk through
    * this cutter). The created-set is detected by listing the checkpoint
    * location around the cut, which assumes no OTHER reliable-checkpoint
    * loop runs concurrently on the same SparkContext — the loops here are
    * driver-sequential; callers wanting concurrent loops should pass
    * distinct `checkpointDir`s. One-off cuts (nothing superseded) keep
    * using [[cutLineage]]. */
  private[graft] final class LineageCutter(checkpointDir: Option[String])
      extends (DataFrame => DataFrame) {
    private val history =
      scala.collection.mutable.Queue.empty[Seq[org.apache.hadoop.fs.Path]]
    override def apply(df: DataFrame): DataFrame = checkpointDir match {
      case None => df.localCheckpoint()
      case Some(dir) =>
        val sc = df.sparkSession.sparkContext
        setCheckpointBase(sc, dir)
        val cpDir = new org.apache.hadoop.fs.Path(sc.getCheckpointDir.get)
        val fs = cpDir.getFileSystem(sc.hadoopConfiguration)
        def rddDirs(): Set[String] =
          if (!fs.exists(cpDir)) Set.empty
          else fs.listStatus(cpDir).map(_.getPath.getName)
            .filter(_.startsWith("rdd-")).toSet
        val before = rddDirs()
        val out = df.checkpoint()
        history.enqueue((rddDirs() -- before).toSeq
          .map(n => new org.apache.hadoop.fs.Path(cpDir, n)))
        while (history.size > LineageCutter.retainedCuts)
          history.dequeue().foreach { p =>
            try fs.delete(p, true)
            catch { case _: java.io.IOException => () } // best-effort
          }
        out
    }
  }

  private[graft] object LineageCutter {
    /** Cut generations kept on disk before deletion — see class doc. */
    val retainedCuts = 4
  }

  /** PageRank over a directed edge relation — G1/G3-G7/G9.
    *
    * @param edges    (src, dst); duplicates are collapsed
    * @param vertices optional explicit vertex set (needed when dangling
    *                 nodes never appear as src/dst); defaults to src∪dst
    * @param checkpointDir optional reliable-checkpoint directory for the
    *                 per-iteration lineage cut (see [[cutLineage]])
    * @return (nodeid, rank) with sum(rank) == 1
    */
  def pageRank(edges: DataFrame, iterations: Int, alpha: Double = 0.15,
               vertices: Option[DataFrame] = None, numPartitions: Int = 0,
               dedupeEdges: Boolean = true, rangePartition: Boolean = false,
               hubDegreeThreshold: Long = 4000000L,
               checkpointDir: Option[String] = None): DataFrame =
    walk(edges, vertices, numPartitions, dedupeEdges, rangePartition,
      hubDegreeThreshold, checkpointDir, new Linear(alpha), Stop(iterations))._1

  /** Personalized (multi-source) PageRank — G2/G8. All sources iterate in
    * ONE job per round, grouped by (source, dst) — the relational analogue
    * of the reference widening rank to a per-source float vector
    * (PersonalizedPageRankNode.java:36-37). Teleport and dangling mass go
    * only to each walk's own source (RunPersonalizedPageRankBasic.java:
    * 312-340). A source listed twice is walked once.
    *
    * @return (source, nodeid, rank); per source, sum(rank) == 1
    */
  def personalizedPageRank(edges: DataFrame, sources: Seq[Long], iterations: Int,
                           alpha: Double = 0.15, vertices: Option[DataFrame] = None,
                           numPartitions: Int = 0, dedupeEdges: Boolean = true,
                           rangePartition: Boolean = false,
                           hubDegreeThreshold: Long = 4000000L,
                           checkpointDir: Option[String] = None): DataFrame = {
    require(sources.nonEmpty, "personalizedPageRank needs at least one source")
    walk(edges, vertices, numPartitions, dedupeEdges, rangePartition,
      hubDegreeThreshold, checkpointDir, new Personalized(alpha, sources.distinct),
      Stop(iterations))._1
  }

  /** PageRank with ranks carried in LOG space — the reference's exact
    * numeric regime (float32 log-space there; float64 log-space here):
    * scatter is `rank - log(outdeg)`, gather is a grouped log-sum-exp
    * (graft.functions.LogSpace.LogSumExpAgg — its merge is the combiner).
    * Linear-space [[pageRank]] is the production path (double never
    * underflows at realistic N); this variant exists for numeric parity
    * and as the engine's typed-Aggregator showcase.
    */
  def pageRankLogSpace(edges: DataFrame, iterations: Int, alpha: Double = 0.15,
                       vertices: Option[DataFrame] = None,
                       numPartitions: Int = 0,
                       rangePartition: Boolean = false,
                       hubDegreeThreshold: Long = 4000000L,
                       checkpointDir: Option[String] = None): DataFrame =
    walk(edges, vertices, numPartitions, dedupeEdges = true, rangePartition,
      hubDegreeThreshold, checkpointDir, new LogLinear(alpha), Stop(iterations))._1

  /** PageRank iterated to convergence: stops when the max per-node rank
    * change drops below `tol` (L∞), or at `maxIterations`. The reference
    * runs a fixed iteration count chosen by hand (RunPageRankBasic takes
    * -start/-end); a convergence criterion is what an engine should offer.
    *
    * @return (ranks, iterationsRun)
    */
  def pageRankConverged(edges: DataFrame, tol: Double = 1e-7,
                        maxIterations: Int = 100, alpha: Double = 0.15,
                        vertices: Option[DataFrame] = None,
                        numPartitions: Int = 0,
                        hubDegreeThreshold: Long = 4000000L,
                        checkpointDir: Option[String] = None): (DataFrame, Int) =
    walk(edges, vertices, numPartitions, dedupeEdges = true, rangePartition = false,
      hubDegreeThreshold, checkpointDir, new Linear(alpha), Stop(maxIterations, Some(tol)))

  /** Graph summary counters — A8 (the reference's job counters:
    * BuildPageRankRecords.java:97-102 NODES/EDGES, RunPageRankBasic
    * massMessages).
    *
    * The derived-vertices case runs ONE job (two-level aggregation): each
    * edge emits its endpoints tagged (isSrc, edge-weight-on-src), the
    * per-id level folds duplicates, the global level counts nodes / sums
    * edges / counts ids that never appear as a source. */
  def graphStats(edges: DataFrame, vertices: Option[DataFrame] = None): Map[String, Long] =
    vertices match {
      case None =>
        val r = edges.select(explode(array(
            struct(col("src").as("id"), lit(1).as("isSrc"), lit(1L).as("w")),
            struct(col("dst").as("id"), lit(0).as("isSrc"), lit(0L).as("w"))))
            .as("e"))
          .select(col("e.id").as("id"), col("e.isSrc").as("isSrc"),
            col("e.w").as("w"))
          .groupBy("id")
          .agg(max(col("isSrc")).as("hasOut"), sum(col("w")).as("cnt"))
          .agg(count(lit(1)).as("nodes"),
            coalesce(sum(col("cnt")), lit(0L)).as("edges"),
            count(when(col("hasOut") === 0, 1)).as("dangling"))
          .head()
        Map("nodes" -> r.getLong(0), "edges" -> r.getLong(1),
          "dangling" -> r.getLong(2))
      case Some(v) =>
        // explicit vertex set: edges.count plus ONE outer-join aggregation
        // (nodes + dangling together) instead of count + anti-join count
        val nEdges = edges.count()
        val srcs = edges.select(col("src")).distinct()
        val r = v.join(srcs, v("nodeid") === col("src"), "left_outer")
          .agg(count(lit(1)).as("nodes"),
            count(when(col("src").isNull, 1)).as("dangling"))
          .head()
        Map("nodes" -> r.getLong(0), "edges" -> nEdges,
          "dangling" -> r.getLong(1))
    }

  /** Global top-k by rank — T3 (plans as TakeOrderedAndProject). */
  def topK(ranks: DataFrame, k: Int): DataFrame =
    ranks.orderBy(col("rank").desc, col("nodeid").asc).limit(k)

  /** Per-source top-k — T4 (window rank; one shuffle on source). */
  def topKPerSource(ranks: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy(col("source"))
      .orderBy(col("rank").desc, col("nodeid").asc)
    ranks.withColumn("rn", row_number().over(w)).where(col("rn") <= k)
  }
}
