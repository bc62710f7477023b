package graft.functions

import org.apache.spark.sql.{Column, GraftColumn}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native tokenizer for the engine's shared token definition
  * (`regexp_extract_all(lower(text), '[a-z]+')` — TextOps.tokens, the parity
  * contract with every DuckDB oracle).
  *
  * `[a-z]+` maximal runs over an already-lowercased string are a pure BYTE
  * scan: the bytes 0x61-0x7A never appear inside a multi-byte UTF-8 sequence
  * (continuation and lead bytes are ≥ 0x80), so splitting on byte runs is
  * EXACTLY the regex's match set — no regex engine, no per-row Matcher
  * allocation, one pass. The `lower()` stays an ordinary Catalyst call
  * upstream (Unicode lowercasing, e.g. İ → i + combining dot, must keep
  * String semantics; only the run extraction is bytes).
  *
  * OpsSpec pins bit-parity against the regex form on the corpus plus
  * Unicode/edge fixtures; every token-path oracle is unchanged.
  *
  * Each builder binds its expression straight into the `Column`
  * ([[GraftColumn]]): no function registry entry, so the `Column` resolves
  * in any session.
  */
object TextExprs {

  /** Lowercase-alphabetic-run tokens of an ALREADY-LOWERCASED string. */
  def asciiTokens(loweredText: Column): Column =
    GraftColumn(AsciiTokens(GraftColumn.expr(loweredText)))

  /** Adjacent k-grams joined by single spaces (null array → empty). */
  def grams(toks: Column, k: Int): Column =
    GraftColumn(WordGrams(GraftColumn.expr(toks), k))

  /** Tokens not in the engine stopword list (null elements dropped). */
  def nonStop(toks: Column): Column =
    GraftColumn(StopFilter(GraftColumn.expr(toks), graft.ops.TextOps.Stopwords))

  /** Sum of per-token character counts (null element → NULL). */
  def charSum(toks: Column): Column = GraftColumn(CharSum(GraftColumn.expr(toks)))

  /** Count of tokens that are members of `words` (null elements not
    * counted — the exact semantics of `size(filter(toks, isin(words…)))`).
    */
  def setHits(toks: Column, words: Seq[String]): Column =
    GraftColumn(SetHits(GraftColumn.expr(toks), words))
}

/** Maximal `[a-z]+` byte runs of a (lowercased) string as `array<string>` —
  * see [[TextExprs]] for why the byte scan equals the regex exactly.
  */
case class AsciiTokens(child: Expression) extends UnaryExpression {

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullable: Boolean = true
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects string, got ${t.simpleString}")
  }

  override def nullSafeEval(a: Any): Any = {
    val s = a.asInstanceOf[UTF8String]
    val b = s.getBytes
    val out = new java.util.ArrayList[UTF8String]()
    var i = 0
    val n = b.length
    while (i < n) {
      if (b(i) >= 'a' && b(i) <= 'z') {
        val start = i
        while (i < n && b(i) >= 'a' && b(i) <= 'z') i += 1
        out.add(UTF8String.fromBytes(b, start, i - start))
      } else i += 1
    }
    new GenericArrayData(out.toArray)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val utf8 = classOf[UTF8String].getName
      val gad  = classOf[GenericArrayData].getName
      val b    = ctx.freshName("b")
      val out  = ctx.freshName("out")
      val i    = ctx.freshName("i")
      val n    = ctx.freshName("n")
      val st   = ctx.freshName("st")
      s"""
         |final byte[] $b = $a.getBytes();
         |final int $n = $b.length;
         |final java.util.ArrayList<$utf8> $out = new java.util.ArrayList<$utf8>();
         |int $i = 0;
         |while ($i < $n) {
         |  if ($b[$i] >= 'a' && $b[$i] <= 'z') {
         |    final int $st = $i;
         |    while ($i < $n && $b[$i] >= 'a' && $b[$i] <= 'z') $i++;
         |    $out.add($utf8.fromBytes($b, $st, $i - $st));
         |  } else $i++;
         |}
         |${ev.value} = new $gad($out.toArray());
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): AsciiTokens =
    copy(child = newChild)
}

private[graft] trait TokenArrayInput {
  self: UnaryExpression =>
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects array<string>, got ${t.simpleString}")
  }
}

/** Adjacent k-grams of a token array, each joined with single spaces — the
  * fused form of the `transform(sequence(...), i -> concat_ws(' ',
  * slice(toks, i, k)))` HOF (one pass, no per-gram slice arrays, no
  * interpreted lambdas). Exact parity with the HOF's null shape: a NULL
  * input array yields an EMPTY array (the HOF's `when(size(toks) >= k, …)`
  * sends the null-size condition to the empty `otherwise`), and null
  * ELEMENTS are skipped inside a gram exactly as `concat_ws` skips nulls.
  */
case class WordGrams(child: Expression, k: Int)
    extends UnaryExpression with TokenArrayInput {
  require(k >= 1, s"k must be >= 1, got $k")

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullable: Boolean = false

  private def gramsOf(arr: ArrayData): GenericArrayData = {
    val n = arr.numElements()
    if (n < k) return new GenericArrayData(new Array[Any](0))
    val out = new Array[Any](n - k + 1)
    var i = 0
    while (i <= n - k) {
      val parts = new Array[UTF8String](k)
      var j = 0
      var m = 0
      while (j < k) {
        if (!arr.isNullAt(i + j)) { parts(m) = arr.getUTF8String(i + j); m += 1 }
        j += 1
      }
      out(i) = UTF8String.concatWs(UTF8String.fromString(" "),
        java.util.Arrays.copyOf(parts, m): _*)
      i += 1
    }
    new GenericArrayData(out)
  }

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val v = child.eval(input)
    if (v == null) new GenericArrayData(new Array[Any](0))
    else gramsOf(v.asInstanceOf[ArrayData])
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    import org.apache.spark.sql.catalyst.expressions.codegen.Block._
    val ref = ctx.addReferenceObj("gramsExpr", this, classOf[WordGrams].getName)
    val c = child.genCode(ctx)
    val ad  = classOf[ArrayData].getName
    val gad = classOf[GenericArrayData].getName
    ev.copy(
      isNull = org.apache.spark.sql.catalyst.expressions.codegen.FalseLiteral,
      code = code"""
        ${c.code}
        $ad ${ev.value} = ${c.isNull}
          ? new $gad(new Object[0])
          : $ref.gramsOfJava(${c.value});
      """)
  }

  /** Codegen entry point (public for generated code). */
  def gramsOfJava(arr: ArrayData): ArrayData = gramsOf(arr)

  override protected def withNewChildInternal(newChild: Expression): WordGrams =
    copy(child = newChild)
}

/** Tokens not in the stopword set — the fused form of
  * `filter(toks, t -> NOT t.isin(stopwords…))`: one pass, a hashed stopword
  * probe instead of k comparisons per token. Null ELEMENTS are dropped
  * exactly as the HOF drops them (`NOT isin(null)` is null → not kept);
  * a NULL array stays NULL.
  */
case class StopFilter(child: Expression, stopwords: Seq[String])
    extends UnaryExpression with TokenArrayInput {

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullable: Boolean = true

  @transient private lazy val stopSet: java.util.HashSet[UTF8String] = {
    val s = new java.util.HashSet[UTF8String](stopwords.length * 2)
    stopwords.foreach(w => s.add(UTF8String.fromString(w)))
    s
  }

  override def nullSafeEval(a: Any): Any = {
    val arr = a.asInstanceOf[ArrayData]
    val n = arr.numElements()
    val out = new java.util.ArrayList[UTF8String](n)
    var i = 0
    while (i < n) {
      if (!arr.isNullAt(i)) {
        val t = arr.getUTF8String(i)
        if (!stopSet.contains(t)) out.add(t)
      }
      i += 1
    }
    new GenericArrayData(out.toArray)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("stopFilter", this, classOf[StopFilter].getName)
    nullSafeCodeGen(ctx, ev, a => s"${ev.value} = $ref.filterJava($a);")
  }

  /** Codegen entry point (public for generated code). */
  def filterJava(arr: ArrayData): ArrayData =
    nullSafeEval(arr).asInstanceOf[ArrayData]

  override protected def withNewChildInternal(newChild: Expression): StopFilter =
    copy(child = newChild)
}

/** Sum of per-token character counts — the fused form of
  * `aggregate(toks, 0, (acc, t) -> acc + length(t))`: one pass, no
  * interpreted fold. A null ELEMENT nulls the sum exactly as the HOF's
  * `acc + length(null)` does; a NULL array stays NULL. (The HOF accumulates
  * 32-bit and would raise on int overflow under ANSI; this accumulates
  * 64-bit — divergent only beyond 2^31 characters in one document.)
  */
case class CharSum(child: Expression)
    extends UnaryExpression with TokenArrayInput {

  override def dataType: DataType = org.apache.spark.sql.types.LongType
  override def nullable: Boolean = true

  override def nullSafeEval(a: Any): Any = {
    val arr = a.asInstanceOf[ArrayData]
    val n = arr.numElements()
    var s = 0L
    var i = 0
    while (i < n) {
      if (arr.isNullAt(i)) return null
      s += arr.getUTF8String(i).numChars()
      i += 1
    }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val (n, i, s) = (ctx.freshName("n"), ctx.freshName("i"), ctx.freshName("s"))
      s"""
         |final int $n = $a.numElements();
         |long $s = 0L;
         |for (int $i = 0; $i < $n; $i++) {
         |  if ($a.isNullAt($i)) { ${ev.isNull} = true; break; }
         |  $s += $a.getUTF8String($i).numChars();
         |}
         |if (!${ev.isNull}) { ${ev.value} = $s; }
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): CharSum =
    copy(child = newChild)
}

/** Count of tokens in a fixed word set — the fused form of
  * `size(filter(toks, t -> t.isin(words…)))`: one pass with a hashed probe
  * instead of an interpreted lambda doing |words| comparisons per token.
  * Null ELEMENTS are not counted (the HOF's `isin(null)` is null → the
  * filter drops it); a NULL array stays NULL (size(filter(null)) is null).
  */
case class SetHits(child: Expression, words: Seq[String])
    extends UnaryExpression with TokenArrayInput {

  override def dataType: DataType = org.apache.spark.sql.types.IntegerType
  override def nullable: Boolean = true

  @transient private lazy val wordSet: java.util.HashSet[UTF8String] = {
    val s = new java.util.HashSet[UTF8String](words.length * 2)
    words.foreach(w => s.add(UTF8String.fromString(w)))
    s
  }

  override def nullSafeEval(a: Any): Any = {
    val arr = a.asInstanceOf[ArrayData]
    val n = arr.numElements()
    var c = 0
    var i = 0
    while (i < n) {
      if (!arr.isNullAt(i) && wordSet.contains(arr.getUTF8String(i))) c += 1
      i += 1
    }
    c
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("setHits", this, classOf[SetHits].getName)
    nullSafeCodeGen(ctx, ev, a => s"${ev.value} = $ref.hitsJava($a);")
  }

  /** Codegen entry point (public for generated code). */
  def hitsJava(arr: ArrayData): Int = nullSafeEval(arr).asInstanceOf[Int]

  override protected def withNewChildInternal(newChild: Expression): SetHits =
    copy(child = newChild)
}
