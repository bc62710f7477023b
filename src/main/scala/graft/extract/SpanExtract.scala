package graft.extract

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Span-document extraction operators (SURVEY.md §2.7 F1-F21, §2.8 G11).
  *
  * Every operator here is a row-local Catalyst higher-order-function pipeline
  * over the `spans` array — no UDFs, no shuffle, whole-stage-codegen friendly.
  * Semantics mirror the reference scraper's parse of a fetched page:
  *
  *  - email: first regex match over the page text (reference `scraper.py:133-136`)
  *  - research interests: the text block after the first heading matching
  *    /research/i, split on `[,;•]`, trimmed, empties dropped
  *    (reference `scraper.py:122-130`)
  *  - publications: `listitem` spans after the first heading matching
  *    /publications|selected publications/i up to the next heading, capped at
  *    5 in document order (reference `scraper.py:139-158`)
  *  - index rows: each `heading` span starts a faculty row; the first `link`
  *    and first `text` span before the next heading are the profile anchor
  *    and title (reference `scraper.py:43-55`, where the anchor sits inside
  *    the name element)
  *
  * The span-model semantics are defined here once; `graft.oracle` re-states
  * them as an independent sequential loop — the exactness tests compare the
  * two (BASELINE.json: per-row span-sequence equality).
  */
object SpanExtract {

  /** Reference email regex, verbatim from `scraper.py:133`. */
  val EmailRe = """\b[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Z|a-z]{2,}\b"""
  /** Reference year regex, verbatim from `main.py:263`. */
  val YearRe = """\b(19|20)\d{2}\b"""

  private val MaxOff = 2147483647

  /** Spans sorted by document offset — all downstream ops assume this order. */
  def sortedSpans(spans: Column): Column =
    array_sort(spans, (a, b) => a.getField("offset") - b.getField("offset"))

  /** Page text in document order (span texts joined by a single space) —
    * the span-model analog of bs4 `get_text()` (reference `scraper.py:134`).
    */
  def fullText(spans: Column): Column =
    array_join(transform(spans, s => s.getField("text")), " ")

  /** First email in document order; "" when none (reference `scraper.py:133-136`). */
  def email(spans: Column): Column =
    regexp_extract(fullText(spans), EmailRe, 0)

  /** Heading patterns of the profile fields (reference `scraper.py:122,139`). */
  private val ResearchHeading     = "research"
  private val PublicationsHeading = "publications|selected publications"

  /** Offset of the first heading whose text matches the (case-insensitive,
    * search-anywhere) pattern; MaxOff when absent.
    */
  private def firstHeadingOffset(spans: Column, pattern: String): Column =
    aggregate(
      filter(spans, s =>
        s.getField("kind") === "heading" &&
          s.getField("text").rlike("(?i)" + pattern)),
      lit(MaxOff),
      (acc, s) => least(acc, s.getField("offset")))

  /** Offset of the first heading strictly after `off`; MaxOff when none. */
  private def nextHeadingOffset(spans: Column, off: Column): Column =
    aggregate(
      filter(spans, s => s.getField("kind") === "heading" && s.getField("offset") > off),
      lit(MaxOff),
      (acc, s) => least(acc, s.getField("offset")))

  /** Research interests (reference `scraper.py:122-130`): text block after the
    * /research/i heading, split on `[,;•]`, trimmed, empties dropped.
    * Empty array when the heading or block is absent. `hOff` is the research
    * heading's offset, projected as its own column (see [[profileFieldsDF]]).
    */
  def researchInterests(spans: Column, hOff: Column): Column = {
    val blob = get(
      filter(spans, s => s.getField("kind") === "text" && s.getField("offset") > hOff),
      lit(0)).getField("text")
    when(hOff === MaxOff || blob.isNull, array().cast("array<string>"))
      .otherwise(
        filter(transform(split(blob, "[,;•]"), x => trim(x)), x => length(x) > 0))
  }

  /** Publications (reference `scraper.py:139-158`): listitems after the
    * /publications/i heading up to the next heading, first 5 in document order.
    * `hOff` and `nextH` are the offsets of that heading and of the heading
    * after it, each projected as its own column (see [[profileFieldsDF]]). An
    * absent heading has offset MaxOff, and so has the heading after it: a
    * heading not below its next heading has no block.
    */
  def publications(spans: Column, hOff: Column, nextH: Column): Column = {
    val items = transform(
      filter(spans, s =>
        s.getField("kind") === "listitem" &&
          s.getField("offset") > hOff && s.getField("offset") < nextH),
      s => s.getField("text"))
    when(hOff >= nextH, array().cast("array<string>")).otherwise(slice(items, 1, 5))
  }

  /** Offsets of the page's headings, in span order (document order for
    * sorted spans).
    */
  def headingOffsets(spans: Column): Column =
    transform(filter(spans, s => s.getField("kind") === "heading"), s => s.getField("offset"))

  /** Faculty index rows (reference `scraper.py:43-55`):
    * array<struct<rank:int, name:string, title:string, href:string>>.
    * `href`/`title` are null when the row has no anchor / no title text.
    * `headingOffs` is the page's [[headingOffsets]], projected as its own
    * column (see [[indexRowsDF]]).
    */
  def indexRows(spans: Column, headingOffs: Column): Column = {
    val headings = filter(spans, s => s.getField("kind") === "heading")
    transform(headings, (h, i) => {
      val hOff  = h.getField("offset")
      val nextH = aggregate(filter(headingOffs, o => o > hOff), lit(MaxOff),
        (acc, o) => least(acc, o))
      val inRow = (s: Column) => s.getField("offset") > hOff && s.getField("offset") < nextH
      val link = get(filter(spans, s => s.getField("kind") === "link" && inRow(s)), lit(0))
      val text = get(filter(spans, s => s.getField("kind") === "text" && inRow(s)), lit(0))
      struct(
        i.as("rank"),
        h.getField("text").as("name"),
        coalesce(text.getField("text"), lit("")).as("title"),
        link.getField("media_ref").as("href"))
    })
  }

  // ---- class-addressed extraction (reference `scraper.py:41,46,50`) ----

  /** True when the span's class context contains `cls` as a whitespace token.
    * `Span.cls` carries the element's own classes plus its ancestors' (see
    * the model), so this is the flat-span analog of a CSS descendant selector
    * `.cls <kind>` — `hasClass(h3Span, "field-content")` matches the
    * reference's `.field-content h3` (`scraper.py:46`).
    */
  def hasClass(s: Column, cls: String): Column =
    array_contains(split(s.getField("cls"), " "), cls)

  /** Class-ADDRESSED faculty index rows — the reference's actual NESTED
    * selector logic (`scraper.py:41-55`): rows are `.views-row` containers
    * (`rowCls` — a `.field-content h3` outside any container is page chrome
    * the reference's `soup.select('.views-row')` never visits); the name is
    * the `.field-content h3` heading inside one (class-gated, so decorative
    * headings never start a row — the case where the [[indexRows]] order
    * heuristic mis-extracts); the title selector is `.field-content
    * .people-title` (`scraper.py:50`), so the title text must carry BOTH the
    * `nameCls` (field wrapper) and `titleCls` tokens — a `.people-title`
    * outside `.field-content` degrades the title to "" exactly as the
    * reference's `select_one` miss does (`scraper.py:51`); the anchor sits
    * inside the name element (`scraper.py:54`), so the row's link is
    * class-gated on `nameCls` too. `Span.cls` carries own + ancestor class
    * tokens (see the model), which is what turns these descendant selectors
    * into flat token tests. Same output shape as [[indexRows]].
    */
  def indexRowsByClass(spans: Column, nameCls: String, titleCls: String,
      rowCls: String = "views-row"): Column = {
    val nameHeadings = filter(spans, s =>
      s.getField("kind") === "heading" && hasClass(s, nameCls) && hasClass(s, rowCls))
    val nextNameOffset = (off: Column) =>
      aggregate(
        filter(nameHeadings, s => s.getField("offset") > off),
        lit(MaxOff), (acc, s) => least(acc, s.getField("offset")))
    transform(nameHeadings, (h, i) => {
      val hOff  = h.getField("offset")
      val nextH = nextNameOffset(hOff)
      val inRow = (s: Column) =>
        s.getField("offset") >= hOff && s.getField("offset") < nextH
      val link = get(filter(spans, s =>
        s.getField("kind") === "link" && hasClass(s, nameCls) &&
          hasClass(s, rowCls) && inRow(s)), lit(0))
      val text = get(filter(spans, s =>
        s.getField("kind") === "text" && hasClass(s, titleCls) &&
          hasClass(s, nameCls) && hasClass(s, rowCls) && inRow(s)), lit(0))
      struct(
        i.as("rank"),
        h.getField("text").as("name"),
        coalesce(text.getField("text"), lit("")).as("title"),
        link.getField("media_ref").as("href"))
    })
  }

  /** Links on a page: array<struct<url:string, anchorKind:string, rank:bigint>>
    * — `link` spans carry the href in `media_ref` (FIXTURES.md §A1). A link is
    * "anchor" kind when it belongs to a faculty row (follows some heading),
    * matching the reference following only the name-element anchor
    * (`scraper.py:54-55`); links before the first heading are nav chrome.
    */
  def pageLinks(spans: Column): Column =
    pageLinksFrom(spans, firstAnyHeadingOffset(spans))

  /** Offset of the first heading on the page (MaxOff when none). Expose this
    * as its OWN projected column when extracting links at scale: a Column
    * expression referenced inside a HOF lambda is inlined and re-evaluated
    * per element — O(spans × links) per page — whereas an attribute reference
    * to a prior projection is computed once per row.
    */
  def firstAnyHeadingOffset(spans: Column): Column =
    aggregate(
      filter(spans, s => s.getField("kind") === "heading"),
      lit(MaxOff), (acc, s) => least(acc, s.getField("offset")))

  /** Links given a precomputed first-heading offset (see above). */
  def pageLinksFrom(spans: Column, firstHeading: Column): Column =
    transform(
      filter(spans, s => s.getField("kind") === "link"),
      (s, i) => struct(
        s.getField("media_ref").as("url"),
        when(s.getField("offset") > firstHeading, lit("anchor")).otherwise(lit("nav"))
          .as("anchorKind"),
        i.cast("long").as("rank")))

  /** First 19xx/20xx year in a string as nullable int (reference `main.py:263-265`). */
  def pubYear(pub: Column): Column =
    nullif(regexp_extract(pub, YearRe, 0), lit("")).cast("int")

  /** name → (first, last): first token; last token when >1, else ""
    * (reference `main.py:182-184`).
    */
  def firstName(name: Column): Column = get(split(name, " "), lit(0))
  def lastName(name: Column): Column = {
    val parts = split(name, " ")
    when(size(parts) > 1, element_at(parts, -1)).otherwise(lit(""))
  }

  // ---- DataFrame-level pipelines over a docs table (url, depth, spans, ...) ----

  // Each page's sorted spans and heading offsets are projected as their own
  // columns BEFORE the higher-order functions that read them: inlined into
  // a lambda body they would be re-evaluated for every element it visits.

  /** Index-row table from depth-0 docs: (parent_url, rank, name, title, href). */
  def indexRowsDF(docs: DataFrame): DataFrame =
    docs
      .select(col("url"), sortedSpans(col("spans")).as("__spans"))
      .withColumn("__hoffs", headingOffsets(col("__spans")))
      .withColumn("row", explode(indexRows(col("__spans"), col("__hoffs"))))
      .select(
        col("url").as("parent_url"),
        col("row.rank").as("rank"),
        col("row.name").as("name"),
        col("row.title").as("title"),
        col("row.href").as("href"))

  /** Profile-field table from docs: (url, email, research_interests, publications). */
  def profileFieldsDF(docs: DataFrame): DataFrame =
    docs
      .select(col("url"), sortedSpans(col("spans")).as("__spans"))
      .withColumn("__research", firstHeadingOffset(col("__spans"), ResearchHeading))
      .withColumn("__pubs", firstHeadingOffset(col("__spans"), PublicationsHeading))
      .withColumn("__pubsEnd", nextHeadingOffset(col("__spans"), col("__pubs")))
      .select(
        col("url"),
        email(col("__spans")).as("email"),
        researchInterests(col("__spans"), col("__research")).as("research_interests"),
        publications(col("__spans"), col("__pubs"), col("__pubsEnd")).as("publications"))
}
