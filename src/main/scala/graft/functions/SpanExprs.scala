package graft.functions

import org.apache.spark.sql.{Column, GraftColumn}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import java.util.regex.Pattern

/** Native extraction over a page's spans
  * (`array<struct<kind, text, media_ref, offset, ...>>`): each expression
  * reads the spans in document order once and builds its output in that
  * pass. They replace higher-order-function pipelines, which Spark runs as
  * interpreted lambdas (CodegenFallback) and which re-filtered every span
  * for every heading, O(headings × spans) per page.
  *
  * Document order is offset order. A page whose offsets are already
  * ascending, as every page `HtmlSpans.parse` emits, is read as it is;
  * any other is first sorted stably by offset. Offsets are positions, so a
  * page has no two spans at one offset. A null span is skipped.
  *
  * The semantics are the reference's, restated independently by
  * [[graft.oracle.SequentialOracle]]; ExtractSpec holds the two equal on
  * fixtures and on generated pages. The methods below bind the expressions
  * straight into the `Column` ([[GraftColumn]]), with no function registry
  * entry.
  */
object SpanExprs {

  /** Faculty index rows (reference `scraper.py:43-55`):
    * `array<struct<rank:int, name:string, title:string, href:string>>`.
    * A heading opens a row, and the row takes the first `link` and the first
    * `text` span before the next heading. `rank` counts headings, `title` is
    * "" and `href` null when the row has none.
    */
  def indexRows(spans: Column): Column = GraftColumn(IndexRows(GraftColumn.expr(spans)))

  /** Profile fields (reference `scraper.py:122-158`):
    * `struct<email:string, research_interests:array<string>,
    * publications:array<string>>`.
    *  - email: the first [[ProfileFields.EmailRe]] match in the page text,
    *    the span texts joined with single spaces; "" when none;
    *  - research interests: the first `text` span after the first heading
    *    matching /research/i, split on `[,;•]`, each item trimmed as
    *    `String.trim` does, empty items dropped;
    *  - publications: the `listitem` texts after the first heading matching
    *    /publications|selected publications/i and before the heading after
    *    it, the first 5.
    */
  def profileFields(spans: Column): Column = GraftColumn(ProfileFields(GraftColumn.expr(spans)))

  /** The row anchors a page links (reference `scraper.py:54-55`): every
    * `link` after the first heading, as `array<struct<url:string,
    * rank:bigint>>`. Links before it are navigation and are left out, but
    * `rank` is the link's index among ALL the page's links, navigation
    * included.
    */
  def anchorLinks(spans: Column): Column = GraftColumn(AnchorLinks(GraftColumn.expr(spans)))
}

/** One pass over a page's spans in document order (see [[SpanExprs]]). The
  * generated code only calls [[evalSpans]] on the expression itself, so it
  * holds no per-page or per-expression value.
  */
abstract class SpanPass extends UnaryExpression {

  /** The output of one page, from its non-null spans in document order. */
  protected def pass(spans: Array[InternalRow]): Any

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(st: StructType, _) if SpanPass.Fields.forall { case (f, t) =>
        st.fields.exists(x => x.name == f && x.dataType == t) } =>
      TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(s"$prettyName expects " +
      "array<struct<kind:string, text:string, media_ref:string, offset:int, ...>>, got " +
      t.simpleString)
  }

  @transient private lazy val spanType =
    child.dataType.asInstanceOf[ArrayType].elementType.asInstanceOf[StructType]
  @transient protected lazy val kindAt: Int = spanType.fieldIndex("kind")
  @transient protected lazy val textAt: Int = spanType.fieldIndex("text")
  @transient protected lazy val refAt: Int = spanType.fieldIndex("media_ref")
  @transient private lazy val offsetAt: Int = spanType.fieldIndex("offset")

  private def inDocOrder(arr: ArrayData): Array[InternalRow] = {
    val n = arr.numElements()
    val width = spanType.length
    val spans = new Array[InternalRow](n)
    var m = 0
    var ascending = true
    var last = Int.MinValue
    var i = 0
    while (i < n) {
      if (!arr.isNullAt(i)) {
        val s = arr.getStruct(i, width)
        val off = s.getInt(offsetAt)
        if (off < last) ascending = false
        last = off
        spans(m) = s
        m += 1
      }
      i += 1
    }
    val out = if (m == n) spans else java.util.Arrays.copyOf(spans, m)
    // an object sort is stable (TimSort)
    if (!ascending) java.util.Arrays.sort(out, SpanPass.byOffset(offsetAt))
    out
  }

  final override def nullSafeEval(a: Any): Any = pass(inDocOrder(a.asInstanceOf[ArrayData]))

  /** Codegen entry point (public for generated code). */
  def evalSpans(spans: ArrayData): Any = nullSafeEval(spans)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("spanPass", this, classOf[SpanPass].getName)
    val javaType = CodeGenerator.javaType(dataType)
    nullSafeCodeGen(ctx, ev, a => s"${ev.value} = ($javaType) $ref.evalSpans($a);")
  }
}

private object SpanPass {
  val Fields: Seq[(String, DataType)] = Seq("kind" -> StringType, "text" -> StringType,
    "media_ref" -> StringType, "offset" -> IntegerType)

  def byOffset(offsetAt: Int): java.util.Comparator[InternalRow] =
    (a, b) => Integer.compare(a.getInt(offsetAt), b.getInt(offsetAt))

  val Heading: UTF8String = UTF8String.fromString("heading")
  val Link: UTF8String = UTF8String.fromString("link")
  val Text: UTF8String = UTF8String.fromString("text")
  val ListItem: UTF8String = UTF8String.fromString("listitem")
  val Empty: UTF8String = UTF8String.EMPTY_UTF8
}

/** See [[SpanExprs.indexRows]]. */
case class IndexRows(child: Expression) extends SpanPass {
  import SpanPass._

  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("rank", IntegerType, nullable = false),
    StructField("name", StringType),
    StructField("title", StringType, nullable = false),
    StructField("href", StringType))), containsNull = false)

  override protected def pass(spans: Array[InternalRow]): Any = {
    val rows = new java.util.ArrayList[InternalRow]()
    var row: Array[Any] = null // the open row: rank, name, title, href
    var hasTitle = false
    var hasLink = false
    for (s <- spans) {
      val kind = s.getUTF8String(kindAt)
      if (Heading == kind) {
        row = Array[Any](rows.size, s.getUTF8String(textAt), Empty, null)
        rows.add(new GenericInternalRow(row))
        hasTitle = false
        hasLink = false
      } else if (row != null) {
        if (!hasLink && Link == kind) {
          row(3) = s.getUTF8String(refAt)
          hasLink = true
        } else if (!hasTitle && Text == kind) {
          val t = s.getUTF8String(textAt)
          row(2) = if (t == null) Empty else t
          hasTitle = true
        }
      }
    }
    new GenericArrayData(rows.toArray)
  }

  override protected def withNewChildInternal(newChild: Expression): IndexRows =
    copy(child = newChild)
}

/** See [[SpanExprs.profileFields]]. */
case class ProfileFields(child: Expression) extends SpanPass {
  import SpanPass._

  override def dataType: DataType = StructType(Seq(
    StructField("email", StringType, nullable = false),
    StructField("research_interests", ArrayType(StringType)),
    StructField("publications", ArrayType(StringType))))

  // compiled once per expression instance, on first use in each JVM
  @transient private lazy val email = Pattern.compile(ProfileFields.EmailRe)
  @transient private lazy val research = Pattern.compile(ProfileFields.ResearchHeading)
  @transient private lazy val pubs = Pattern.compile(ProfileFields.PublicationsHeading)
  @transient private lazy val separators = Pattern.compile("[,;•]")

  override protected def pass(spans: Array[InternalRow]): Any = {
    var mail: UTF8String = null
    var researchState = 0 // 0: no research heading yet, 1: heading seen, 2: block taken
    var interests = Array.empty[Any]
    var pubsState = 0 // 0: no publications heading yet, 1: in its block, 2: block ended
    val items = new java.util.ArrayList[UTF8String](5)
    for (s <- spans) {
      val kind = s.getUTF8String(kindAt)
      val text = s.getUTF8String(textAt)
      // no match can hold a space, so the first match in the space-joined
      // page text is the first match within one span's text, and a text
      // without an '@' holds none
      if (mail == null && text != null && text.contains(ProfileFields.At)) {
        val m = email.matcher(text.toString)
        if (m.find()) mail = UTF8String.fromString(m.group())
      }
      if (Heading == kind) {
        if (pubsState == 1) pubsState = 2
        if (text != null && (researchState == 0 || pubsState == 0)) {
          val t = text.toString
          if (researchState == 0 && research.matcher(t).find()) researchState = 1
          if (pubsState == 0 && pubs.matcher(t).find()) pubsState = 1
        }
      } else if (Text == kind) {
        if (researchState == 1) {
          if (text != null)
            interests = separators.split(text.toString).iterator.map(_.trim)
              .filter(_.nonEmpty).map(UTF8String.fromString).toArray[Any]
          researchState = 2
        }
      } else if (ListItem == kind && pubsState == 1 && items.size < 5) {
        items.add(text)
      }
    }
    InternalRow(if (mail == null) Empty else mail, new GenericArrayData(interests),
      new GenericArrayData(items.toArray))
  }

  override protected def withNewChildInternal(newChild: Expression): ProfileFields =
    copy(child = newChild)
}

object ProfileFields {
  /** Reference email regex, verbatim from `scraper.py:133`. */
  val EmailRe = """\b[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Z|a-z]{2,}\b"""
  /** Heading patterns of the profile fields, searched anywhere in the
    * heading text (reference `scraper.py:122,139`).
    */
  val ResearchHeading = "(?i)research"
  val PublicationsHeading = "(?i)publications|selected publications"

  private val At = UTF8String.fromString("@")
}

/** See [[SpanExprs.anchorLinks]]. */
case class AnchorLinks(child: Expression) extends SpanPass {
  import SpanPass._

  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("url", StringType),
    StructField("rank", LongType, nullable = false))), containsNull = false)

  override protected def pass(spans: Array[InternalRow]): Any = {
    val links = new java.util.ArrayList[InternalRow]()
    var afterHeading = false
    var rank = 0L
    for (s <- spans) {
      val kind = s.getUTF8String(kindAt)
      if (Heading == kind) afterHeading = true
      else if (Link == kind) {
        if (afterHeading) links.add(InternalRow(s.getUTF8String(refAt), rank))
        rank += 1
      }
    }
    new GenericArrayData(links.toArray)
  }

  override protected def withNewChildInternal(newChild: Expression): AnchorLinks =
    copy(child = newChild)
}
