package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions.{call_function, lit, typedLit}
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, StringType}
import org.apache.spark.sql.SparkSessionExtensions

/** Native Catalyst expression for the dense dot product over
  * array<double> — the engine's one hot scalar kernel.
  *
  * Preference order per the build charter: built-in functions, then a
  * native `Expression` with `doGenCode`, then a Scala UDF. The built-in
  * route (`aggregate(zip_with(...))`) evaluates interpreted lambdas per
  * element; a UDF pays Seq conversion per call. This expression stays
  * inside whole-stage codegen: the generated loop reads primitive doubles
  * straight out of the Tungsten `ArrayData` with no boxing.
  */
case class DotProduct(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType match {
      case ArrayType(DoubleType, _) => true
      case _ => false
    })
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_dot requires two array<double> arguments, got " +
        s"(${left.dataType.simpleString}, ${right.dataType.simpleString})")
  }
  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_dot"
  // null on dimension mismatch (not a silent partial product), so the
  // expression is nullable even over non-null children
  override def nullable: Boolean = true

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (n != y.numElements()) return null
    var s = 0.0
    var i = 0
    while (i < n) { s += x.getDouble(i) * y.getDouble(i); i += 1 }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      s"""
         |int $n = $a.numElements();
         |${ev.value} = 0.0;
         |if ($n != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  for (int $i = 0; $i < $n; $i++) {
         |    ${ev.value} += $a.getDouble($i) * $b.getDouble($i);
         |  }
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DotProduct =
    copy(left = newLeft, right = newRight)
}

/** Function registration: config route (`spark.sql.extensions=
  * graft.functions.GraftExtensions`) or programmatic
  * `GraftFunctions.register(spark)`; either way the SQL name is
  * `graft_dot` and [[GraftFunctions.dot]] is the Column-API handle.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    GraftFunctions.injectInto(ext)
}

object GraftFunctions {
  private type Descriptor =
    (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)

  private[functions] val dotDescriptor: Descriptor =
    (new FunctionIdentifier("graft_dot"),
      new ExpressionInfo(classOf[DotProduct].getName, "graft_dot"),
      (children: Seq[Expression]) => DotProduct(children.head, children(1)))

  // n / distinct / k arrive as foldable literals from the Column helpers
  private[functions] val shingleDescriptor: Descriptor =
    (new FunctionIdentifier("graft_shingle_hash"),
      new ExpressionInfo(classOf[ShingleHash64].getName, "graft_shingle_hash"),
      {
        case Seq(t, Literal(n: Int, _), Literal(d: Boolean, _)) =>
          ShingleHash64(t, n, d)
        case _ => throw new IllegalArgumentException(
          "usage: graft_shingle_hash(toks, <int literal n>, <bool literal distinct>)")
      })

  private[functions] val minhashDescriptor: Descriptor =
    (new FunctionIdentifier("graft_minhash"),
      new ExpressionInfo(classOf[MinHashSig].getName, "graft_minhash"),
      {
        case Seq(hs, Literal(k: Int, _)) => MinHashSig(hs, k)
        case _ => throw new IllegalArgumentException(
          "usage: graft_minhash(hashes, <int literal k>)")
      })

  private[functions] val jaccardDescriptor: Descriptor =
    (new FunctionIdentifier("graft_jaccard"),
      new ExpressionInfo(classOf[Jaccard64].getName, "graft_jaccard"),
      (children: Seq[Expression]) => Jaccard64(children.head, children(1)))

  private[functions] val stopHitsDescriptor: Descriptor =
    (new FunctionIdentifier("graft_stop_hits"),
      new ExpressionInfo(classOf[StopwordHits].getName, "graft_stop_hits"),
      (children: Seq[Expression]) => StopwordHits(children.head))

  private[functions] val simhashDescriptor: Descriptor =
    (new FunctionIdentifier("graft_simhash"),
      new ExpressionInfo(classOf[SimHash64].getName, "graft_simhash"),
      {
        case Seq(t, Literal(b: Int, _)) => SimHash64(t, b)
        case _ => throw new IllegalArgumentException(
          "usage: graft_simhash(toks, <int literal bits>)")
      })

  private[functions] val langIdDescriptor: Descriptor =
    (new FunctionIdentifier("graft_langid"),
      new ExpressionInfo(classOf[LangId].getName, "graft_langid"),
      {
        case Seq(t, Literal(m: Double, _)) => LangId(t, m)
        case _ => throw new IllegalArgumentException(
          "usage: graft_langid(toks, <double literal minRatio>)")
      })

  private[functions] val segmentCountDescriptor: Descriptor =
    (new FunctionIdentifier("graft_segment_count"),
      new ExpressionInfo(classOf[SegmentCount].getName, "graft_segment_count"),
      {
        // the piece vocabulary arrives as a FOLDABLE array<string> (lit of
        // a collected, topK-bounded model) — evaluated once at resolution
        case Seq(w, arr, Literal(l: Int, _))
            if arr.foldable && arr.dataType.isInstanceOf[ArrayType] =>
          val ad = arr.eval().asInstanceOf[
            org.apache.spark.sql.catalyst.util.ArrayData]
          val pieces = (0 until ad.numElements())
            .map(i => ad.getUTF8String(i).toString)
          SegmentCount(w, pieces, l)
        case _ => throw new IllegalArgumentException(
          "usage: graft_segment_count(word, <array<string> literal pieces>, " +
            "<int literal maxPieceLen>)")
      })

  private[functions] val nearestCellDescriptor: Descriptor =
    (new FunctionIdentifier("graft_nearest_cell"),
      new ExpressionInfo(classOf[NearestCell].getName, "graft_nearest_cell"),
      {
        // the book arrives as a FOLDABLE array<array<double>> (lit of a
        // trained, bounded model) — evaluated once at resolution
        case Seq(v, book, Literal(metric, StringType))
            if book.foldable && Set("cosine", "l2")(String.valueOf(metric)) =>
          val ad = book.eval().asInstanceOf[ArrayData]
          NearestCell(v, (0 until ad.numElements()).map(ad.getArray(_).toDoubleArray().toSeq),
            String.valueOf(metric) == "cosine")
        case _ => throw new IllegalArgumentException(
          "usage: graft_nearest_cell(v, <array<array<double>> literal book>, 'cosine' | 'l2')")
      })

  private[functions] val postingsEncodeDescriptor: Descriptor =
    (new FunctionIdentifier("graft_postings_encode"),
      new ExpressionInfo(classOf[PostingsEncode].getName, "graft_postings_encode"),
      (children: Seq[Expression]) => PostingsEncode(children.head))

  private[functions] val postingsDecodeDescriptor: Descriptor =
    (new FunctionIdentifier("graft_postings_decode"),
      new ExpressionInfo(classOf[PostingsDecode].getName, "graft_postings_decode"),
      (children: Seq[Expression]) => PostingsDecode(children.head))

  private val descriptors: Seq[Descriptor] = Seq(
    dotDescriptor, shingleDescriptor, minhashDescriptor, jaccardDescriptor,
    stopHitsDescriptor, simhashDescriptor, langIdDescriptor,
    segmentCountDescriptor, nearestCellDescriptor, postingsEncodeDescriptor,
    postingsDecodeDescriptor)

  /** Idempotent per-session registration. */
  def register(spark: SparkSession): Unit = descriptors.foreach { d =>
    spark.sessionState.functionRegistry.registerFunction(d._1, d._2, d._3)
  }

  private[functions] def injectInto(ext: SparkSessionExtensions): Unit =
    descriptors.foreach(d => ext.injectFunction(d))

  /** Register on whatever session is active at Column-construction time —
    * lets pure-Column helpers (no DataFrame in scope) use the kernels. */
  def registerActive(): Unit =
    SparkSession.getActiveSession.foreach(register)

  /** dot(a, b) over array<double> columns via the native expression. */
  def dot(spark: SparkSession, a: Column, b: Column): Column = {
    register(spark)
    call_function("graft_dot", a, b)
  }

  /** `v`'s nearest cell in `book` by cosine or L2 via [[NearestCell]]. */
  def nearestCell(spark: SparkSession, v: Column, book: Seq[Array[Double]],
                  cosine: Boolean): Column = {
    register(spark)
    call_function("graft_nearest_cell", v, typedLit(book.map(_.toSeq)),
      lit(if (cosine) "cosine" else "l2"))
  }

  /** d-gap+VInt postings pack/unpack via the native codec expressions. */
  def postingsEncode(spark: SparkSession, postings: Column): Column = {
    register(spark)
    call_function("graft_postings_encode", postings)
  }

  def postingsDecode(spark: SparkSession, packed: Column): Column = {
    register(spark)
    call_function("graft_postings_decode", packed)
  }
}
