package graft.plans

import graft.functions.{CosineSim, DotProduct, L2Dist2, MinHashSig}

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.{ArrayType, DoubleType, IntegerType, LongType, StringType}

/** Optimizer rule: rewrite the declarative higher-order-function vector
  * folds to the fused native expressions in [[graft.functions.VectorExprs]].
  *
  * A user (or generated SQL) writing the idiomatic Spark form
  *
  *   aggregate(zip_with(a, b, (x, y) -> x * y), 0.0d, (acc, x) -> acc + x)
  *
  * gets `ArrayAggregate(ZipWith(...))` — CodegenFallback, interpreted lambda
  * dispatch plus an intermediate array per row. This rule pattern-matches
  * exactly that shape (and the squared-difference variant, and the full
  * cosine composition over the rewritten dots) into [[DotProduct]] /
  * [[L2Dist2]] / [[CosineSim]] — measured 7-10x faster (BENCH.md,
  * `graft.VectorBench`) and BIT-identical: same accumulation order, same
  * combining arithmetic, same null semantics (zip_with pads a length
  * mismatch with nulls, nulling the fold — the natives return null then
  * too), so the rewrite is an optimization, never a semantics change.
  *
  * Match conditions are strict: `array<double>` inputs, double-literal zero,
  * a pure `acc + x` merge, identity finish, lambda variables used exactly
  * positionally. Anything else (decimal zero from a bare SQL `0.0`, a
  * filtered fold, reversed operands) is left alone.
  */
object VectorRewrite extends Rule[LogicalPlan] {

  private def sameVar(e: Expression, v: NamedExpression): Boolean = (e, v) match {
    case (a: NamedLambdaVariable, b: NamedLambdaVariable) => a.exprId == b.exprId
    case _                                                => false
  }

  private def isDoubleArray(e: Expression): Boolean = e.dataType match {
    case ArrayType(DoubleType, _) => true
    case _                        => false
  }

  /** aggregate(zip_with(a, b, (x, y) -> BODY), 0.0d, (acc, e) -> acc + e)
    * with an identity finish — yields (a, b, BODY, x, y).
    */
  private object FoldOverZip {
    def unapply(e: Expression): Option[(Expression, Expression, Expression,
        NamedExpression, NamedExpression)] = e match {
      case ArrayAggregate(
            ZipWith(a, b, LambdaFunction(body, Seq(x, y), _)),
            Literal(zero, DoubleType),
            LambdaFunction(Add(accRef, elemRef, _), Seq(acc, elem), _),
            LambdaFunction(fin, Seq(fv), _))
          if zero == 0.0 && sameVar(accRef, acc) && sameVar(elemRef, elem) &&
            sameVar(fin, fv) && isDoubleArray(a) && isDoubleArray(b) =>
        Some((a, b, body, x, y))
      case _ => None
    }
  }

  private def isStringArray(e: Expression): Boolean = e.dataType match {
    case ArrayType(StringType, _) => true
    case _                        => false
  }

  /** One lane of the idiomatic HOF MinHash
    * ([[graft.ops.Dedup.minhashSignatureFromTokensHof]]):
    * `aggregate(toks, Long.MaxValue, (acc, t) -> least(acc, xxhash64(t, i)))`
    * with an identity finish and the default seed — yields (toks, i).
    */
  private object MinhashLane {
    def unapply(e: Expression): Option[(Expression, Int)] = e match {
      case ArrayAggregate(toks, Literal(z, LongType),
            LambdaFunction(
              Least(Seq(accRef,
                XxHash64(Seq(tRef, Literal(i: Int, IntegerType)), 42L))),
              Seq(acc, t), _),
            LambdaFunction(fin, Seq(fv), _))
          if z == Long.MaxValue && sameVar(accRef, acc) && sameVar(tRef, t) &&
            sameVar(fin, fv) && isStringArray(toks) =>
        Some((toks, i))
      case _ => None
    }
  }

  /** `array(lane_0, …, lane_{k-1})` over the SAME token column with seeds
    * exactly 0..k-1 → the fused [[MinHashSig]]. The HOF array wrapper maps a
    * NULL token array to k null LANES (the array itself non-null) where the
    * native signature is NULL, so the rewrite keeps the original semantics
    * with an explicit null branch — bit-equal everywhere, including null.
    */
  private def fuseMinhash(lanes: Seq[Expression]): Option[Expression] = {
    val parsed = lanes.map(MinhashLane.unapply)
    if (lanes.length < 2 || parsed.exists(_.isEmpty)) return None
    val ls = parsed.flatten
    val toks = ls.head._1
    if (!ls.zipWithIndex.forall { case ((tk, i), idx) =>
      i == idx && tk.semanticEquals(toks) }) return None
    Some(If(IsNull(toks),
      Literal.create(Seq.fill[Any](lanes.length)(null),
        ArrayType(LongType, containsNull = true)),
      MinHashSig(toks, lanes.length)))
  }

  override def apply(plan: LogicalPlan): LogicalPlan = {
    val folded = plan.transformAllExpressions {
      // dot product: body is x * y
      case FoldOverZip(a, b, Multiply(x, y, _), lx, ly)
          if sameVar(x, lx) && sameVar(y, ly) =>
        DotProduct(a, b)
      // squared L2: body is (x - y) * (x - y)
      case FoldOverZip(a, b,
            Multiply(Subtract(x1, y1, _), Subtract(x2, y2, _), _), lx, ly)
          if sameVar(x1, lx) && sameVar(y1, ly) &&
            sameVar(x2, lx) && sameVar(y2, ly) =>
        L2Dist2(a, b)
      // k-lane HOF MinHash: array of per-seed min-hash folds → one fused pass
      case ca @ CreateArray(lanes, _) =>
        fuseMinhash(lanes).getOrElse(ca)
    }
    // cosine composition over the dots the pass above just produced:
    // dot(a,b) / (sqrt(dot(a,a)) * sqrt(dot(b,b)))  ->  one fused pass
    folded.transformAllExpressions {
      case Divide(DotProduct(a, b),
            Multiply(Sqrt(DotProduct(a1, a2)), Sqrt(DotProduct(b1, b2)), _), _)
          if a.semanticEquals(a1) && a.semanticEquals(a2) &&
            b.semanticEquals(b1) && b.semanticEquals(b2) =>
        CosineSim(a, b)
    }
  }
}

/** `spark.sql.extensions`-style entry point: inject the rewrite rule into
  * every session built with
  *
  *   SparkSession.builder()
  *     .config("spark.sql.extensions", "graft.plans.GraftExtensions")
  *
  * (or `.withExtensions(new GraftExtensions)`). Sessions created without it
  * can still opt in per-session via
  * `spark.experimental.extraOptimizations :+= VectorRewrite` — the spec
  * exercises that path on the shared test session, since `getOrCreate`
  * cannot re-extend an existing one. The native expressions themselves need
  * no session hook: their builders bind them straight into the `Column`.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  override def apply(ext: SparkSessionExtensions): Unit =
    ext.injectOptimizerRule(_ => VectorRewrite)
}
