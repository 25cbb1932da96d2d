package graft.operators

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.{ArrayType, DoubleType, LongType}
import scala.collection.mutable
import scala.reflect.ClassTag

/** The in-task regime of graft's driver-paced loops: PageRank
  * ([[GraphOps]]), connected components ([[DedupOps.connectedComponents]])
  * and Lloyd training ([[SimilarityOps]]). While a loop's input plus state
  * is under the session's cutoff, each input partition is packed into
  * primitive arrays ([[Block]]), the blocks shuffle to ONE partition
  * ([[gather]]) and that task runs every round: one job for the whole loop
  * where the distributed form pays one or more jobs per round. Above the
  * cutoff each loop runs its distributed form unchanged. */
private[graft] object InTask {

  /** Session conf holding the cutoff, read on every call: 0 sends every
    * loop to its distributed regime, as the gate's q_pagerank_range,
    * q_pagerank_hub, q_ppr_hub and q_semdedup do. */
  val CutoffKey = "spark.graft.inTaskCutoff"

  /** Default cutoff, in array slots (vertices, edges, pair endpoints or
    * vector coordinates): a bound on what one task holds, not a
    * crossover. On 4 local cores the one task beat the distributed form at
    * every size timed around and above it: connected components 4.7-7.2x
    * from 0.2 to 6 million slots, Lloyd 5-96x from 0.13 to 1.28 million
    * coordinates with 16 to 256 cells (the distributed assignment's cost
    * grows with the cells too). */
  val defaultCutoff = 1000000L

  private def cutoff(spark: SparkSession): Long =
    spark.conf.getOption(CutoffKey).fold(defaultCutoff)(v =>
      v.trim.toLongOption.getOrElse(throw new IllegalArgumentException(
        s"$CutoffKey must be a whole number, got '$v'")))

  /** Whether a loop holding `size` array slots runs in one task. */
  def fits(spark: SparkSession, size: Long): Boolean = size < cutoff(spark)

  /** One input partition in primitive arrays: `ids(c)(r)` is row r's long
    * column c and `vecs(r)` its array<double> (null for a NULL vector);
    * `tag` names the input the block came from. */
  final case class Block(tag: Int, ids: Array[Array[Long]], vecs: Array[Array[Double]]) {
    def rows: Int = if (ids.nonEmpty) ids(0).length else vecs.length
  }

  /** `df`'s partitions as [[Block]]s. `df` holds long columns, optionally
    * followed by one array<double> column. A row with a NULL long is
    * dropped; a NULL vector is kept as null. */
  def blocks(df: DataFrame, tag: Int = 0): RDD[Block] = {
    val types = df.schema.map(_.dataType)
    val longs = types.takeWhile(_ == LongType).length
    val withVec = types.length == longs + 1
    require(types.drop(longs) match {
      case Seq() | Seq(ArrayType(DoubleType, _)) => true
      case _ => false
    }, s"blocks take long columns and at most one trailing array<double>, got $types")
    df.queryExecution.toRdd.mapPartitions { rows =>
      val ids = Array.fill(longs)(new mutable.ArrayBuilder.ofLong)
      val vecs = mutable.ArrayBuilder.make[Array[Double]]
      rows.foreach { r =>
        var c = 0
        while (c < longs && !r.isNullAt(c)) c += 1
        if (c == longs) {
          for (c <- 0 until longs) ids(c) += r.getLong(c)
          if (withVec) vecs += (if (r.isNullAt(longs)) null else r.getArray(longs).toDoubleArray())
        }
      }
      Iterator(Block(tag, ids.map(_.result()), vecs.result()))
    }
  }

  /** Every block of `inputs` shuffled to ONE partition, whose task runs
    * `run` over them. */
  def gather[T: ClassTag](inputs: Seq[RDD[Block]])(run: Iterator[Block] => Iterator[T]): RDD[T] =
    inputs.head.sparkContext.union(inputs).coalesce(1, shuffle = true).mapPartitions(run)

  /** Long column `c` of every block with `tag`, concatenated. */
  def column(blocks: Seq[Block], c: Int, tag: Int = 0): Array[Long] =
    Array.concat(blocks.filter(_.tag == tag).map(_.ids(c)): _*)

  /** The distinct values of `a`, sorted. */
  def distinctSorted(a: Array[Long]): Array[Long] = {
    val s = a.sorted // java.util.Arrays.sort, unboxed
    val out = new mutable.ArrayBuilder.ofLong
    for (i <- s.indices if i == 0 || s(i) != s(i - 1)) out += s(i)
    out.result()
  }
}
