package graft.operators

import graft.functions.{LogSpace, LongDoubleMap, MapLookup}
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{DoubleType, LongType, StructField, StructType}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.rdd.RDD
import org.apache.spark.storage.StorageLevel
import scala.collection.mutable

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
  *    are written once over [[Arith]], so the in-task regime's doubles
  *    and the join regime's Columns run the same IEEE operations;
  *  - a [[Stop]] rule: a fixed round count, or L∞ change < tol;
  *  - in the join regime, a [[Scatter]] layout built once by [[prepare]]:
  *    adjacency arrays (`explode(adj)`), or — when the hub guard trips —
  *    the persisted flat (src, dst) relation joined per round, so a
  *    100M-out-degree hub never becomes one giant array row.
  *
  * Each walk runs in one of two regimes, chosen by [[inTask]] after one
  * stats pass (vertex count n, raw edge count, max raw out-degree):
  *  - in-task (|walks| x n + raw edges under the cutoff): edges and vertex
  *    set travel to ONE partition, whose task builds CSR arrays and runs
  *    every round over [[Scalar]] doubles, `Walk.add` folding the gather —
  *    the single-machine loop the reference ships as its oracle
  *    (SequentialPageRank.java). The walk is one job (the output's cut);
  *    only the round count reaches the driver, through an accumulator.
  *  - join (above it): state is a relation joined against the graph each
  *    round. Dangling rank flows to a NULL `dst` sentinel inside the same
  *    gather and comes back as a driver scalar per walk, so each round's
  *    plan reads the checkpointed gather once (two references would square
  *    Catalyst's size estimate every round). The per-round lineage cut
  *    ([[LineageCutter]]) keeps the plan O(1) where the reference writes
  *    iterXXXX dirs to HDFS. The graph side never moves to the driver: its
  *    relations are built and persisted once, partitioned on `src`.
  */
object GraphOps {

  /** Parse reference-format adjacency lines (`node WS out1 WS out2 ...`)
    * into an edge relation (src, dst) plus an all-vertices relation that
    * includes dangling nodes (they have a line but no out-edges). */
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
    * distribution, so the adjacency build adds no second exchange. */
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

  /** Below this vertex count the join regime's loop runs with AQE off and
    * 8 shuffle partitions: per-round AQE re-planning costs more than it
    * saves on a small graph (~2x per round at 2e4 nodes). The graph build
    * keeps AQE. The toggle saves and restores the SESSION conf, so queries
    * run concurrently on the same session plan without AQE for that
    * window; pass a `newSession()` to isolate. Also the default
    * [[inTaskCutoff]]. */
  private val aqeIterationCutoff = 1000000L

  private def withIterationAqe[T](spark: SparkSession, n: Long)(body: => T): T =
    graft.SessionConfs.scoped(spark,
      if (n < aqeIterationCutoff)
        Map("spark.sql.adaptive.enabled" -> "false", "spark.sql.shuffle.partitions" -> "8")
      else Map.empty)(body)

  /** Session conf holding the in-task regime's cutoff (default
    * [[aqeIterationCutoff]]), read on every call: 0 sends every walk to
    * the join regime, as the gate's q_pagerank_range, q_pagerank_hub and
    * q_ppr_hub do on their small graph. */
  val InTaskCutoffKey = "spark.graft.graph.inTaskCutoff"

  private def inTaskCutoff(spark: SparkSession): Long =
    spark.conf.getOption(InTaskCutoffKey).fold(aqeIterationCutoff)(v =>
      v.trim.toLongOption.getOrElse(throw new IllegalArgumentException(
        s"$InTaskCutoffKey must be a whole number, got '$v'")))

  /** Regime gate: the in-task regime holds the raw edges, then CSR arrays
    * and one rank array of n doubles per walk, in one task, so it runs
    * only while |walks| x n + raw edges is under the cutoff. */
  private[graft] def inTask(spark: SparkSession, n: Long, walks: Int,
                            rawEdges: Long): Boolean =
    n * walks + rawEdges < inTaskCutoff(spark)

  /** What the regime gate, the hub guard, the partition clamp and
    * [[graphStats]] need: the vertex count, the raw edge count, the max raw
    * out-degree (an upper bound on the deduped one, so the hub guard
    * triggers conservatively without paying a distinct) and the vertices
    * without an out-edge. */
  private final case class Stats(n: Long, rawEdges: Long, maxDeg: Long, dangling: Long) {
    def +(o: Stats): Stats = Stats(n + o.n, rawEdges + o.rawEdges,
      maxDeg max o.maxDeg, dangling + o.dangling)
  }

  /** [[Stats]] in one aggregation: per id, its raw out-degree and whether
    * it is a vertex (of the explicit set, or of src ∪ dst). The per-id
    * partitions fold to partial stats that merge on the driver, so no
    * single-partition exchange (a second stage) runs. */
  private def stats(edges: DataFrame, vertices: Option[DataFrame]): Stats = {
    def tagged(id: Column, w: Long, v: Long) =
      struct(id.cast("long").as("id"), lit(w).as("w"), lit(v).as("v")).as("t")
    val ids = vertices match {
      case None => edges.select(explode(array(
        tagged(col("src"), 1L, 1L), tagged(col("dst"), 0L, 1L))).as("t"))
      case Some(v) => edges.select(tagged(col("src"), 1L, 0L))
        .union(v.select(tagged(col("nodeid"), 0L, 1L)))
    }
    ids.groupBy(col("t.id")).agg(sum(col("t.w")), max(col("t.v")))
      .queryExecution.toRdd
      .aggregate(Stats(0L, 0L, 0L, 0L))({ (s, r: InternalRow) =>
        val (deg, vertex) = (r.getLong(1), r.getLong(2))
        s + Stats(vertex, deg, deg, if (deg == 0L) vertex else 0L)
      }, _ + _)
  }

  /** Raw edges a graph partition carries when the caller does not pin the
    * count (the cluster cap rules at any real scale). */
  private val edgesPerPartition = 262144L

  /** Graph partition count: scales with BOTH the deployment and the data.
    * An explicit positive `numPartitions` pins it. Otherwise the cluster cap
    * is max(defaultParallelism, spark.sql.shuffle.partitions) —
    * defaultParallelism alone can be tiny on a dynamic-allocation cluster
    * before executors register — clamped so each partition carries at
    * least [[edgesPerPartition]] raw edges (a 2e4-node graph cut into 32
    * partitions spends its rounds scheduling tasks). The shuffle count is
    * read as the typed conf value, never parsed from its string. */
  private def resolveParts(spark: SparkSession, numPartitions: Int,
                           totalRawEdges: Long): Int =
    if (numPartitions > 0) numPartitions
    else {
      val cap = math.max(spark.sparkContext.defaultParallelism,
        spark.sessionState.conf.getConf(SQLConf.SHUFFLE_PARTITIONS)).toLong
      math.max(1L, math.min(cap,
        (totalRawEdges + edgesPerPartition - 1) / edgesPerPartition)).toInt
    }

  /** Scatter layout over a persisted graph relation partitioned on `src`:
    * adjacency rows (src, adj, outdeg), or flat edges (src, dst) with the
    * separate out-degree relation `deg` (src, outdeg). */
  private final case class Scatter(graph: DataFrame, deg: DataFrame, exploded: Boolean) {
    /** each source's out-neighbours, one row per out-edge */
    def dst: Column = if (exploded) explode(col("adj")) else col("dst")

    /** (keys, dst, m) from a (keys, nodeid, rank) state. A
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

  /** The join regime's setup: the [[Stats]] size the partitioning and run
    * the hub guard (a raw out-degree above `hubDegreeThreshold`, default
    * 4M ≈ a 32 MB array row, selects flat edges); then the layout's
    * relations are built, persisted and materialized, and the vertex set
    * (explicit, or src ∪ dst) is persisted. */
  private def prepare(edges: DataFrame, vertices: Option[DataFrame], s: Stats,
                      numPartitions: Int, dedupeEdges: Boolean,
                      rangePartition: Boolean, hubDegreeThreshold: Long): Graph = {
    val parts = resolveParts(edges.sparkSession, numPartitions, s.rawEdges)
    def persisted(df: DataFrame) = {
      val p = df.persist(StorageLevel.MEMORY_AND_DISK); p.count(); p
    }
    val scatter =
      if (s.maxDeg > hubDegreeThreshold) {
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
    Graph(verts, s.n, scatter)
  }

  /** The arithmetic walk rules are written in: doubles (in-task regime)
    * or Columns (join regime). Stating each rule once makes both
    * regimes run the same IEEE operations in the same order (JVM >= 17
    * doubles are strictfp; Scala-side literals fold to the same double),
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
  private sealed abstract class Walk extends Serializable {
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
    /** the scalar twin of `gather`: the in-task regime's fold of incoming
      * mass, and both regimes' fold of dangling ranks */
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

  /** The skeleton: one stats pass, then the walk in the regime the gate
    * picks. Returns (ranks, rounds run). */
  private def walk(edges: DataFrame, vertices: Option[DataFrame], numPartitions: Int,
                   dedupeEdges: Boolean, rangePartition: Boolean,
                   hubDegreeThreshold: Long, checkpointDir: Option[String],
                   rule: Walk, stop: Stop): (DataFrame, Int) = {
    val s = stats(edges, vertices)
    val cut = new LineageCutter(checkpointDir)
    if (inTask(edges.sparkSession, s.n, rule.sources.size max 1, s.rawEdges))
      inTaskWalk(edges, vertices, dedupeEdges, rule, stop, cut)
    else {
      val g = prepare(edges, vertices, s, numPartitions, dedupeEdges, rangePartition,
        hubDegreeThreshold)
      try withIterationAqe(edges.sparkSession, g.n)(joinWalk(g, rule, stop, cut))
      finally g.unpersist()
    }
  }

  /** One input partition packed into primitive arrays: edge (src, dst)
    * pairs, or vertex ids in `src`. A row with a NULL id is dropped. */
  private final case class Block(vertices: Boolean, src: Array[Long], dst: Array[Long])

  private def blocks(ids: DataFrame, vertices: Boolean): RDD[Block] =
    ids.queryExecution.toRdd.mapPartitions { rows =>
      val src, dst = new mutable.ArrayBuilder.ofLong
      rows.foreach { r =>
        if (!r.anyNull) { src += r.getLong(0); if (!vertices) dst += r.getLong(1) }
      }
      Iterator(Block(vertices, src.result(), dst.result()))
    }

  /** In-task regime: every block shuffles to ONE partition, whose task
    * builds the [[Csr]] graph and runs the walk to its stop rule
    * ([[walkInTask]]). Cutting the output runs that task — the walk's one
    * job — and the round count returns through an accumulator. */
  private def inTaskWalk(edges: DataFrame, vertices: Option[DataFrame], dedupe: Boolean,
                         rule: Walk, stop: Stop,
                         cut: DataFrame => DataFrame): (DataFrame, Int) = {
    val spark = edges.sparkSession
    val explicit = vertices.isDefined
    val input = blocks(edges.select(col("src").cast("long"), col("dst").cast("long")),
      vertices = false) +: vertices.map(v =>
        blocks(v.select(col("nodeid").cast("long")), vertices = true)).toSeq
    val rounds = spark.sparkContext.longAccumulator("graft.graph.rounds")
    val ranks = spark.sparkContext.union(input).coalesce(1, shuffle = true).mapPartitions { bs =>
      val g = Csr(bs, explicit, dedupe)
      val (r, done) = walkInTask(g, rule, stop)
      rounds.add(done)
      val keyed = rule.sources.nonEmpty
      for (k <- r.indices.iterator; i <- g.ids.indices.iterator) yield
        if (keyed) Row(rule.sources(k), g.ids(i), r(k)(i)) else Row(g.ids(i), r(k)(i))
    }
    val idNullable = vertices.fold(Seq("src", "dst").exists(edges.schema(_).nullable))(
      _.schema("nodeid").nullable)
    val schema = StructType(rule.keys.map(StructField(_, LongType, nullable = false)) ++
      Seq(StructField("nodeid", LongType, idNullable),
        StructField("rank", DoubleType, nullable = false)))
    val out = cut(spark.createDataFrame(ranks, schema))
    (out, rounds.value.toInt)
  }

  /** The in-task regime's graph in compressed sparse rows: sorted vertex
    * ids; per vertex, its out-degree (every out-edge, deduplicated when
    * asked, phantom destinations included) and, at `adj(start(i) until
    * start(i + 1))`, the indices of its destinations that are vertices.
    * Edges of a phantom source (outside an explicit vertex set) are
    * dropped: it has no rank and sends no mass. */
  private final class Csr(val ids: Array[Long], val outdeg: Array[Int],
                          val start: Array[Int], val adj: Array[Int])

  private object Csr {
    def apply(blocks: Iterator[Block], explicit: Boolean, dedupe: Boolean): Csr = {
      val (vs, es) = blocks.toArray.partition(_.vertices)
      val src = Array.concat(es.map(_.src).toIndexedSeq: _*)
      val dst = Array.concat(es.map(_.dst).toIndexedSeq: _*)
      val ids = distinctSorted(
        if (explicit) Array.concat(vs.map(_.src).toIndexedSeq: _*) else Array.concat(src, dst))
      val n = ids.length
      // counting sort of the edges by source index
      val at = src.map(java.util.Arrays.binarySearch(ids, _))
      val rowStart = new Array[Int](n + 1)
      at.foreach(i => if (i >= 0) rowStart(i + 1) += 1)
      for (i <- 0 until n) rowStart(i + 1) += rowStart(i)
      val fill = rowStart.clone()
      val byRow = new Array[Long](rowStart(n))
      for (e <- at.indices if at(e) >= 0) { byRow(fill(at(e))) = dst(e); fill(at(e)) += 1 }
      // each row's destinations in id order, repeats dropped when deduping
      val outdeg = new Array[Int](n)
      val start = new Array[Int](n + 1)
      val adj = new mutable.ArrayBuilder.ofInt
      var len = 0
      for (i <- 0 until n) {
        java.util.Arrays.sort(byRow, rowStart(i), rowStart(i + 1))
        for (p <- rowStart(i) until rowStart(i + 1)
             if !dedupe || p == rowStart(i) || byRow(p) != byRow(p - 1)) {
          outdeg(i) += 1
          val j = java.util.Arrays.binarySearch(ids, byRow(p))
          if (j >= 0) { adj += j; len += 1 }
        }
        start(i + 1) = len
      }
      new Csr(ids, outdeg, start, adj.result())
    }

    private def distinctSorted(a: Array[Long]): Array[Long] = {
      val s = a.sorted // java.util.Arrays.sort, unboxed
      val out = new mutable.ArrayBuilder.ofLong
      for (i <- s.indices if i == 0 || s(i) != s(i - 1)) out += s(i)
      out.result()
    }
  }

  /** Runs `rule` over `g` to `stop`, one rank array per walk. A round
    * folds each vertex's mass into its destinations with `rule.add` (the
    * join regime's gather), folds dangling ranks into the missing mass and
    * applies the update. Returns the final ranks and the rounds run; an
    * empty graph runs no round, as in the join regime. */
  private def walkInTask(g: Csr, rule: Walk, stop: Stop): (Array[Array[Double]], Int) = {
    val n = g.ids.length
    val roots = if (rule.sources.isEmpty) Array(-1)
      else rule.sources.map(java.util.Arrays.binarySearch(g.ids, _)).toArray
    def delta(k: Int, i: Int) = if (i == roots(k)) 1.0 else 0.0
    var ranks = Array.tabulate(roots.length, n)((k, i) => rule.start(Scalar, n, delta(k, i)))
    var rounds = 0
    var change = Double.MaxValue
    while (n > 0 && stop.continues(rounds, change)) {
      change = 0.0
      ranks = Array.tabulate(roots.length) { k =>
        val r = ranks(k)
        val in = Array.fill(n)(rule.none)
        var missing = rule.none
        for (i <- 0 until n) {
          if (g.outdeg(i) == 0) missing = rule.add(missing, r(i))
          else {
            val m = rule.mass(Scalar, r(i), g.outdeg(i).toDouble)
            for (p <- g.start(i) until g.start(i + 1)) in(g.adj(p)) = rule.add(in(g.adj(p)), m)
          }
        }
        Array.tabulate(n) { i =>
          val next = rule.update(Scalar, n, in(i), missing, delta(k, i))
          change = math.max(change, math.abs(next - r(i)))
          next
        }
      }
      rounds += 1
    }
    (ranks, rounds)
  }

  /** Join regime: (keys, nodeid, rank) state joined against the graph each
    * round; the gather and, when converging, the new ranks are cut. An
    * empty graph runs no round (its update would fold x / 0 constants). */
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
    while (g.n > 0 && stop.continues(rounds, change)) {
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
          .agg(coalesce(max(abs(col("rank") - col("prev"))), lit(0.0))).head().getDouble(0)
        kept
      }
      rounds += 1
    }
    (if (stop.tol.nonEmpty && rounds > 0) state else cut(state), rounds)
  }

  /** Lineage cut for the iterative family (G9). The default
    * `localCheckpoint()` keeps cut blocks on executors (fastest; an
    * executor loss mid-loop kills the job); `checkpointDir` swaps in a
    * RELIABLE `checkpoint()` there, which survives executor loss. Results
    * are bit-identical either way (GraphOpsSpec). */
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
    * lives there: setCheckpointDir appends a random UUID child, so the
    * current location's PARENT is compared to `dir`, both fully qualified
    * (a substring test would take `/tmp/ck-old/...` for `/tmp/ck`). */
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

  /** Per-LOOP lineage cutter: [[cutLineage]] plus deletion of the reliable
    * checkpoints the loop no longer reads (Spark keeps them for the
    * context's lifetime: `spark.cleaner.referenceTracking.cleanCheckpoints`
    * is off by default). Deletion lags [[LineageCutter.retainedCuts]]
    * generations: the join regime cuts up to TWO relations a round (the
    * gather and, when converging, the new ranks) and reads at most ONE round
    * back, so a window of 4 keeps two full rounds alive. New `rdd-*` dirs
    * are found by listing the location around the cut, which assumes no
    * OTHER reliable-checkpoint loop runs on the same SparkContext at once;
    * concurrent loops should pass distinct `checkpointDir`s. */
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
    * `numPartitions`, `rangePartition` and `hubDegreeThreshold` shape the
    * join regime only.
    * @param edges    (src, dst); duplicates are collapsed
    * @param vertices optional explicit vertex set (needed when dangling
    *                 nodes never appear as src/dst); defaults to src∪dst
    * @param checkpointDir optional reliable-checkpoint directory for the
    *                 lineage cuts (see [[cutLineage]])
    * @return (nodeid, rank) with sum(rank) == 1 */
  def pageRank(edges: DataFrame, iterations: Int, alpha: Double = 0.15,
               vertices: Option[DataFrame] = None, numPartitions: Int = 0,
               dedupeEdges: Boolean = true, rangePartition: Boolean = false,
               hubDegreeThreshold: Long = 4000000L,
               checkpointDir: Option[String] = None): DataFrame =
    walk(edges, vertices, numPartitions, dedupeEdges, rangePartition,
      hubDegreeThreshold, checkpointDir, new Linear(alpha), Stop(iterations))._1

  /** Personalized (multi-source) PageRank — G2/G8. All sources walk
    * together (one rank array each in one task, or one (source, dst)
    * grouping a round), as the reference widens rank to a per-source float
    * vector (PersonalizedPageRankNode.java:36-37). Teleport and dangling
    * mass go only to each walk's own source (RunPersonalizedPageRankBasic.
    * java:312-340). A source listed twice is walked once.
    * @return (source, nodeid, rank); per source, sum(rank) == 1 */
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

  /** PageRank with ranks carried in LOG space — the reference's numeric
    * regime (float32 there, float64 here): scatter `rank - log(outdeg)`,
    * gather a log-sum-exp (LogSpace.LogSumExpAgg, whose merge is the
    * combiner). Linear [[pageRank]] is the production path. */
  def pageRankLogSpace(edges: DataFrame, iterations: Int, alpha: Double = 0.15,
                       vertices: Option[DataFrame] = None,
                       numPartitions: Int = 0,
                       rangePartition: Boolean = false,
                       hubDegreeThreshold: Long = 4000000L,
                       checkpointDir: Option[String] = None): DataFrame =
    walk(edges, vertices, numPartitions, dedupeEdges = true, rangePartition,
      hubDegreeThreshold, checkpointDir, new LogLinear(alpha), Stop(iterations))._1

  /** PageRank iterated until the L∞ rank change is at most `tol`, or for
    * `maxIterations` rounds (the reference's RunPageRankBasic takes a
    * hand-picked -start/-end instead).
    * @return (ranks, iterationsRun) */
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
    * massMessages): distinct vertices, raw edges and vertices without an
    * out-edge, from the walks' one stats aggregation ([[stats]]). */
  def graphStats(edges: DataFrame, vertices: Option[DataFrame] = None): Map[String, Long] = {
    val s = stats(edges, vertices)
    Map("nodes" -> s.n, "edges" -> s.rawEdges, "dangling" -> s.dangling)
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
