package graft.functions

import org.apache.spark.sql.{Column, GraftColumn}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, IntegerType}

/** Native Catalyst expressions for the vector math on the similarity /
  * clustering hot paths (`array<double>` embeddings).
  *
  * The `zip_with` + `aggregate` higher-order-function forms these replace are
  * CodegenFallback in Spark — every row pays interpreted lambda dispatch plus
  * an intermediate product array, and a cosine walks the vectors three times
  * (dot, |a|, |b|). Each expression here is ONE fused primitive loop inside
  * whole-stage codegen: no allocation, one pass.
  *
  * Float parity is exact, not approximate: each accumulator adds the same
  * terms in the same index order as the HOF fold it replaces, and the final
  * combining arithmetic (`dot / (sqrt(na) * sqrt(nb))`, strict `<` keeping
  * the first minimum) is term-for-term identical — so results are
  * bit-identical to the HOF forms and the DuckDB oracles are unchanged.
  * Null semantics also match `zip_with`: length mismatch or a null element
  * yields NULL (zip_with pads the short side with nulls, which nulls the
  * product and then the fold).
  *
  * The builders bind the expressions straight into the `Column`
  * ([[GraftColumn]]), with no function registry entry.
  */
object VectorExprs {

  private def bind2(f: (Expression, Expression) => Expression)(a: Column, b: Column) =
    GraftColumn(f(GraftColumn.expr(a), GraftColumn.expr(b)))

  def cosine(a: Column, b: Column): Column = bind2(CosineSim)(a, b)
  def dist2(a: Column, b: Column): Column = bind2(L2Dist2)(a, b)
  def dot(a: Column, b: Column): Column = bind2(DotProduct)(a, b)

  /** Nearest-centroid cell of `v` over a snapshot of `cents`, taken now: the
    * centroids live in this `Column`'s expression, not in any shared state,
    * so plans built at once with different centroids stay independent.
    */
  def nearestCell(v: Column, cents: Array[Array[Double]]): Column =
    GraftColumn(NearestCell(GraftColumn.expr(v), cents.map(_.clone())))
}

private[graft] trait DoubleArrayPair {
  self: BinaryExpression =>
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  // ExpectsInputTypes needs the private[sql] AbstractDataType — check by hand
  override def checkInputDataTypes(): TypeCheckResult =
    if (children.forall(c => c.dataType match {
      case ArrayType(DoubleType, _) => true
      case _                        => false
    })) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects two array<double> inputs, got " +
        children.map(_.dataType.simpleString).mkString(", "))
}

/** Fused single-pass cosine similarity over two `array<double>` columns. */
case class CosineSim(left: Expression, right: Expression)
    extends BinaryExpression with DoubleArrayPair {

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]; val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (n != y.numElements()) return null
    var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    while (i < n) {
      if (x.isNullAt(i) || y.isNullAt(i)) return null
      val u = x.getDouble(i); val v = y.getDouble(i)
      dot += u * v; na += u * u; nb += v * v; i += 1
    }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val (n, i) = (ctx.freshName("n"), ctx.freshName("i"))
      val (dot, na, nb) = (ctx.freshName("dot"), ctx.freshName("na"), ctx.freshName("nb"))
      s"""
         |final int $n = $a.numElements();
         |if ($n != $b.numElements()) { ${ev.isNull} = true; } else {
         |  double $dot = 0.0; double $na = 0.0; double $nb = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    if ($a.isNullAt($i) || $b.isNullAt($i)) { ${ev.isNull} = true; break; }
         |    final double u = $a.getDouble($i); final double v = $b.getDouble($i);
         |    $dot += u * v; $na += u * u; $nb += v * v;
         |  }
         |  if (!${ev.isNull}) {
         |    ${ev.value} = $dot / (java.lang.Math.sqrt($na) * java.lang.Math.sqrt($nb));
         |  }
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CosineSim =
    copy(left = newLeft, right = newRight)
}

/** Single-pass dot product over two `array<double>` columns. */
case class DotProduct(left: Expression, right: Expression)
    extends BinaryExpression with DoubleArrayPair {

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]; val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (n != y.numElements()) return null
    var d = 0.0; var i = 0
    while (i < n) {
      if (x.isNullAt(i) || y.isNullAt(i)) return null
      d += x.getDouble(i) * y.getDouble(i); i += 1
    }
    d
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val (n, i, d) = (ctx.freshName("n"), ctx.freshName("i"), ctx.freshName("d"))
      s"""
         |final int $n = $a.numElements();
         |if ($n != $b.numElements()) { ${ev.isNull} = true; } else {
         |  double $d = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    if ($a.isNullAt($i) || $b.isNullAt($i)) { ${ev.isNull} = true; break; }
         |    $d += $a.getDouble($i) * $b.getDouble($i);
         |  }
         |  if (!${ev.isNull}) { ${ev.value} = $d; }
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DotProduct =
    copy(left = newLeft, right = newRight)
}

/** Fused squared-L2 distance over two `array<double>` columns. */
case class L2Dist2(left: Expression, right: Expression)
    extends BinaryExpression with DoubleArrayPair {

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]; val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (n != y.numElements()) return null
    var d = 0.0; var i = 0
    while (i < n) {
      if (x.isNullAt(i) || y.isNullAt(i)) return null
      val t = x.getDouble(i) - y.getDouble(i)
      d += t * t; i += 1
    }
    d
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val (n, i, d) = (ctx.freshName("n"), ctx.freshName("i"), ctx.freshName("d"))
      s"""
         |final int $n = $a.numElements();
         |if ($n != $b.numElements()) { ${ev.isNull} = true; } else {
         |  double $d = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    if ($a.isNullAt($i) || $b.isNullAt($i)) { ${ev.isNull} = true; break; }
         |    final double t = $a.getDouble($i) - $b.getDouble($i);
         |    $d += t * t;
         |  }
         |  if (!${ev.isNull}) { ${ev.value} = $d; }
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): L2Dist2 =
    copy(left = newLeft, right = newRight)
}

/** Nearest-centroid cell over a driver-side centroid snapshot: the k-means
  * inner loop as one k×dims primitive scan per row. The centroid matrix is a
  * codegen reference object, not a literal array expression — the k×dims
  * `when`-fold this replaces re-walked an interpreted struct array per row.
  * Ties keep the LOWEST cell (strict `<`, ascending scan) and distances
  * accumulate in dimension order — exactly the HOF fold's semantics, so
  * assignments are bit-identical.
  */
case class NearestCell(child: Expression, cents: Array[Array[Double]])
    extends UnaryExpression {

  override def dataType: DataType = IntegerType
  override def nullable: Boolean = true
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects array<double>, got ${t.simpleString}")
  }

  override def nullSafeEval(a: Any): Any = {
    val v = a.asInstanceOf[ArrayData]
    var best = Double.MaxValue; var cell = -1; var c = 0
    while (c < cents.length) {
      val ct = cents(c)
      if (v.numElements() != ct.length) return null
      var d = 0.0; var i = 0
      while (i < ct.length) {
        if (v.isNullAt(i)) return null
        val t = v.getDouble(i) - ct(i); d += t * t; i += 1
      }
      if (d < best) { best = d; cell = c }
      c += 1
    }
    cell
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("cents", cents, "double[][]")
    nullSafeCodeGen(ctx, ev, a => {
      val (best, cell, c, i, d) = (ctx.freshName("best"), ctx.freshName("cell"),
        ctx.freshName("c"), ctx.freshName("i"), ctx.freshName("d"))
      s"""
         |double $best = Double.MAX_VALUE; int $cell = -1;
         |for (int $c = 0; $c < $ref.length && !${ev.isNull}; $c++) {
         |  final double[] ct = $ref[$c];
         |  if ($a.numElements() != ct.length) { ${ev.isNull} = true; break; }
         |  double $d = 0.0;
         |  for (int $i = 0; $i < ct.length; $i++) {
         |    if ($a.isNullAt($i)) { ${ev.isNull} = true; break; }
         |    final double t = $a.getDouble($i) - ct[$i];
         |    $d += t * t;
         |  }
         |  if (!${ev.isNull} && $d < $best) { $best = $d; $cell = $c; }
         |}
         |if (!${ev.isNull}) { ${ev.value} = $cell; }
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression): NearestCell =
    copy(child = newChild)
}
