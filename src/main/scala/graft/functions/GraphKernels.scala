package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types._

/** Sorted long -> double lookup table for [[MapLookup]]: two parallel
  * primitive arrays + binary search. Primitive arrays serialize compactly
  * (the table rides the stage's task-binary TorrentBroadcast, so it is
  * shipped once per stage, not per task) and probe with no boxing.
  */
final class LongDoubleMap(val keys: Array[Long], val vals: Array[Double])
    extends Serializable {
  require(keys.length == vals.length, "keys/vals length mismatch")
  def indexOf(k: Long): Int = java.util.Arrays.binarySearch(keys, k)
  def valueAt(i: Int): Double = vals(i)
  def get(k: Long): Option[Double] = {
    val i = indexOf(k); if (i >= 0) Some(vals(i)) else None
  }
  def getOrElse(k: Long, default: Double): Double = {
    val i = indexOf(k); if (i >= 0) vals(i) else default
  }
  def size: Int = keys.length
}

object LongDoubleMap {
  /** Build from unordered entries (sorts by key; keys must be distinct). */
  def fromPairs(entries: Array[(Long, Double)]): LongDoubleMap = {
    val sorted = entries.sortBy(_._1)
    new LongDoubleMap(sorted.map(_._1), sorted.map(_._2))
  }
}

/** `MapLookup(key, table)` — nullable double lookup of a LONG key in a
  * driver-built [[LongDoubleMap]]; NULL when the key is absent (exactly the
  * unmatched side of the left-outer join it replaces).
  *
  * GraphOps' join regime uses it for personalized walks: each source's
  * dangling mass, gathered in the previous round, re-enters the update as
  * a lookup over `source` instead of a joined relation — removing a
  * per-round broadcast-exchange build job. The table is a constructor
  * constant, the same driver-held-model shape as [[SegmentCount]]'s piece
  * vocabulary and the ANN centroid literals; it cannot be spelled in SQL,
  * so this expression enters plans through ColumnBridge rather than the
  * FunctionRegistry.
  */
case class MapLookup(child: Expression, table: LongDoubleMap)
    extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case LongType => TypeCheckResult.TypeCheckSuccess
    case _ => TypeCheckResult.TypeCheckFailure(
      s"graft_map_lookup requires a bigint key, got ${child.dataType.simpleString}")
  }
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "graft_map_lookup"

  override protected def nullSafeEval(input: Any): Any = {
    val i = table.indexOf(input.asInstanceOf[Long])
    if (i >= 0) table.valueAt(i) else null
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val t = ctx.addReferenceObj("lookupTable", table,
      "graft.functions.LongDoubleMap")
    nullSafeCodeGen(ctx, ev, c => {
      val idx = ctx.freshName("idx")
      s"""
         |int $idx = $t.indexOf($c);
         |if ($idx >= 0) { ${ev.value} = $t.valueAt($idx); }
         |else { ${ev.isNull} = true; }
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression): MapLookup =
    copy(child = newChild)
}

object MapLookup {
  /** Column-API handle: `MapLookup.lookup(table, col("src"))`. */
  def lookup(table: LongDoubleMap, key: Column): Column =
    ColumnBridge.column(MapLookup(ColumnBridge.expression(key), table))
}
