package graft.functions

import org.apache.spark.sql.{Column, GraftColumn}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, XXH64}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}

/** Native Catalyst expressions for the dedup hash signatures (MinHash,
  * SimHash) over a distinct-token `array<string>` column.
  *
  * The HOF forms these replace are CodegenFallback — and structurally
  * wasteful beyond the interpreted dispatch:
  *
  *  - MinHash as k=32 separate `aggregate` folds walks the token array 32
  *    times, and each fold's `xxhash64(token, i)` re-hashes the FULL token
  *    bytes per seed. But Spark's multi-arg xxhash64 is a seed chain —
  *    `xxhash64(t, i) = hashInt(i, hashUTF8String(t, 42))` — so the
  *    expensive string hash is seed-INDEPENDENT. The fused loop hashes each
  *    token's bytes once and derives all k lane values with k cheap
  *    long-avalanche `hashInt` steps: one array pass, 1/k-th the string
  *    hashing, zero intermediate arrays.
  *  - SimHash as an `aggregate` over `zip_with` materializes a fresh
  *    64-element counter array per token per row. The fused loop keeps 64
  *    primitive counters in registers/stack.
  *
  * Parity is exact, not approximate: the same XXH64 primitives combine in
  * the same order per lane, `least`/strict-compare keep the same minima, and
  * null semantics match the HOF folds element-for-element (null token → the
  * hash chain skips it, exactly like XxHash64's null-child skip; null array
  * → NULL). OpsSpec pins native ≡ HOF bit-equality, so every downstream
  * LSH band, bucket, and oracle is unchanged.
  *
  * The builders bind the expressions straight into the `Column`
  * ([[GraftColumn]]), with no function registry entry.
  */
object HashExprs {

  def minhash(toks: Column): Column =
    GraftColumn(MinHashSig(GraftColumn.expr(toks), graft.ops.Dedup.MinhashK))
  def simhash(toks: Column): Column = GraftColumn(SimHash64(GraftColumn.expr(toks)))
}

private[graft] trait StringArrayInput {
  self: UnaryExpression =>
  override def nullable: Boolean = true
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects array<string>, got ${t.simpleString}")
  }
}

/** Fused k-lane MinHash signature: `sig[i] = min over tokens of
  * xxhash64(token, i)` — bit-identical to the k-fold HOF form
  * ([[graft.ops.Dedup.minhashSignatureFromTokensHof]]) by the seed-chain
  * identity in [[HashExprs]]'s doc. Empty array → all-`Long.MaxValue` lanes
  * (the fold's init), matching the HOF exactly. One DELIBERATE divergence:
  * a null array is NULL here, where the HOF's outer `array()` wrapper yields
  * 32 null lanes — indistinguishable downstream (xxhash64 band hashing skips
  * null lanes either way; OpsSpec pins all three facts).
  */
case class MinHashSig(child: Expression, k: Int)
    extends UnaryExpression with StringArrayInput {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def nullSafeEval(a: Any): Any = {
    val arr = a.asInstanceOf[ArrayData]
    val n = arr.numElements()
    val mins = Array.fill(k)(Long.MaxValue)
    var j = 0
    while (j < n) {
      // null token: XxHash64 skips null children, so the chain seed for
      // lit(i) is the initial 42 — same as hashing zero string children
      val h1 = if (arr.isNullAt(j)) 42L
               else XXH64.hashUTF8String(arr.getUTF8String(j), 42L)
      var i = 0
      while (i < k) {
        val c = XXH64.hashInt(i, h1)
        if (c < mins(i)) mins(i) = c
        i += 1
      }
      j += 1
    }
    org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
      .fromPrimitiveArray(mins)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val xxh  = classOf[XXH64].getName
      val uad  = "org.apache.spark.sql.catalyst.expressions.UnsafeArrayData"
      val n    = ctx.freshName("n")
      val j    = ctx.freshName("j")
      val i    = ctx.freshName("i")
      val h1   = ctx.freshName("h1")
      val c    = ctx.freshName("c")
      val mins = ctx.freshName("mins")
      s"""
         |final int $n = $a.numElements();
         |final long[] $mins = new long[$k];
         |java.util.Arrays.fill($mins, Long.MAX_VALUE);
         |for (int $j = 0; $j < $n; $j++) {
         |  final long $h1 = $a.isNullAt($j) ? 42L
         |    : $xxh.hashUTF8String($a.getUTF8String($j), 42L);
         |  for (int $i = 0; $i < $k; $i++) {
         |    final long $c = $xxh.hashInt($i, $h1);
         |    if ($c < $mins[$i]) $mins[$i] = $c;
         |  }
         |}
         |${ev.value} = $uad.fromPrimitiveArray($mins);
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): MinHashSig =
    copy(child = newChild)
}

/** Fused 64-bit SimHash: per token one `xxhash64(token)` (seed 42), ±1 on
  * each of 64 bit counters in array order, final bits where the counter is
  * positive — bit-identical to the `aggregate`-over-`zip_with` HOF form
  * ([[graft.ops.Dedup.simhashFromTokensHof]]). Null token hashes to the
  * bare seed 42 (XxHash64's null-child skip); empty array → 0 counters →
  * result 0, matching the fold.
  */
case class SimHash64(child: Expression)
    extends UnaryExpression with StringArrayInput {

  override def dataType: DataType = LongType

  override def nullSafeEval(a: Any): Any = {
    val arr = a.asInstanceOf[ArrayData]
    val n = arr.numElements()
    val counters = new Array[Long](64)
    var j = 0
    while (j < n) {
      val h = if (arr.isNullAt(j)) 42L
              else XXH64.hashUTF8String(arr.getUTF8String(j), 42L)
      var i = 0
      while (i < 64) {
        counters(i) += (if (((h >>> i) & 1L) == 1L) 1L else -1L)
        i += 1
      }
      j += 1
    }
    var out = 0L
    var i = 0
    while (i < 64) {
      if (counters(i) > 0L) out |= (1L << i)
      i += 1
    }
    out
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val xxh = classOf[XXH64].getName
      val n   = ctx.freshName("n")
      val j   = ctx.freshName("j")
      val i   = ctx.freshName("i")
      val h   = ctx.freshName("h")
      val cnt = ctx.freshName("cnt")
      val out = ctx.freshName("out")
      s"""
         |final int $n = $a.numElements();
         |final long[] $cnt = new long[64];
         |for (int $j = 0; $j < $n; $j++) {
         |  final long $h = $a.isNullAt($j) ? 42L
         |    : $xxh.hashUTF8String($a.getUTF8String($j), 42L);
         |  for (int $i = 0; $i < 64; $i++) {
         |    $cnt[$i] += ((($h >>> $i) & 1L) == 1L) ? 1L : -1L;
         |  }
         |}
         |long $out = 0L;
         |for (int $i = 0; $i < 64; $i++) {
         |  if ($cnt[$i] > 0L) $out |= (1L << $i);
         |}
         |${ev.value} = $out;
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): SimHash64 =
    copy(child = newChild)
}
