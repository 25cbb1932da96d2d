package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, IntegerType}

/** `graft_nearest_cell(v, book, metric)` — the index of vector `v`'s
  * nearest cell in a DRIVER-HELD book, NULL for a NULL or wrong-width `v`:
  * every IVF and PQ cell assignment. The bounded model sits in the
  * expression, as [[SegmentCount]]'s vocabulary does, so a plan holds one
  * call whatever the cell count. */
case class NearestCell(child: Expression, book: Seq[Seq[Double]], cosine: Boolean)
    extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(DoubleType, _) if book.nonEmpty && book.forall(_.length == book.head.length) =>
      TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure("graft_nearest_cell requires array<double> " +
      s"and a non-empty book of equal-width cells, got ${t.simpleString}")
  }
  override def dataType: DataType = IntegerType
  override def nullable: Boolean = true
  override def prettyName: String = "graft_nearest_cell"

  // derived per deserialized instance, like SegmentCount's piece set
  @transient private lazy val cells: Array[Array[Double]] = book.map(_.toArray).toArray
  @transient private lazy val norms: Array[Double] = cells.map(NearestCell.norm(_, cosine))

  override protected def nullSafeEval(input: Any): Any = {
    val v = input.asInstanceOf[ArrayData].toDoubleArray()
    val i = NearestCell.index(cells, norms, cosine, v, 0, v.length)
    if (i < 0) null else i
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cellsRef = ctx.addReferenceObj("cells", cells, "double[][]")
    val normsRef = ctx.addReferenceObj("norms", norms, "double[]")
    nullSafeCodeGen(ctx, ev, v => s"""${ev.value} = graft.functions.NearestCell.index(
      |  $cellsRef, $normsRef, $cosine, $v.toDoubleArray(), 0, $v.numElements());
      |${ev.isNull} = ${ev.value} < 0;""".stripMargin)
  }

  override protected def withNewChildInternal(newChild: Expression): NearestCell =
    copy(child = newChild)
}

/** The kernel's core, which Lloyd's in-task regime also calls. Cosine
  * ranks cells by the max of dot(v, c) / (‖c‖·‖v‖), L2 by the min of
  * ‖c‖² − 2·dot(v, c). Dots sum in order from 0.0, as the dot kernel and
  * DuckDB's list_dot_product do; scores compare in SQL's order of doubles
  * (-0.0 equals 0.0, NaN above every number); ties go to the lowest cell. */
object NearestCell {

  /** ‖c‖ under cosine, ‖c‖² under L2: the norm [[index]] takes per cell. */
  def norm(c: Array[Double], cosine: Boolean): Double = {
    val sq = dot(c, 0, c, 0, c.length)
    if (cosine) math.sqrt(sq) else sq
  }

  private def dot(a: Array[Double], aFrom: Int, b: Array[Double], bFrom: Int,
                  len: Int): Double = {
    var s = 0.0; var i = 0
    while (i < len) { s += a(aFrom + i) * b(bFrom + i); i += 1 }
    s
  }

  /** The index of the cell nearest to `v(from until from + len)`, where
    * `norms(i)` is [[norm]] of `cells(i)`; -1 when the slice is not the
    * cells' width. A cosine that divides by zero (a zero-norm vector or
    * cell) is undefined, so it throws, as ANSI SQL's division does. */
  def index(cells: Array[Array[Double]], norms: Array[Double], cosine: Boolean,
            v: Array[Double], from: Int, len: Int): Int = {
    if (cells.isEmpty || len != cells(0).length || from + len > v.length) return -1
    val vn = if (cosine) math.sqrt(dot(v, from, v, from, len)) else 0.0
    var best = -1; var bestScore = 0.0; var i = 0
    while (i < cells.length) {
      val d = dot(v, from, cells(i), 0, len)
      val s = if (cosine) {
        val den = norms(i) * vn
        if (den == 0.0) throw new ArithmeticException(
          s"graft_nearest_cell: the cosine to cell $i divides by zero (a zero-norm vector or cell)")
        d / den
      } else norms(i) - 2.0 * d
      val c = if (s == bestScore) 0 else java.lang.Double.compare(s, bestScore)
      if (best < 0 || (if (cosine) c > 0 else c < 0)) { best = i; bestScore = s }
      i += 1
    }
    best
  }
}
