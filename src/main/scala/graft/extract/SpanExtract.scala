package graft.extract

import graft.functions.SpanExprs

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Span-document extraction tables (SURVEY.md §2.7 F1-F21, §2.8 G11).
  *
  * A page's index rows and profile fields are each computed by one native
  * expression that reads the page's spans once, in document order
  * ([[graft.functions.SpanExprs]], which states the reference's rules:
  * email, research interests and publications from `scraper.py:122-158`,
  * index rows from `scraper.py:43-55`). Nothing here is a UDF or a shuffle.
  * `graft.oracle` re-states the rules as an independent sequential loop,
  * and the exactness tests compare the two (BASELINE.json: per-row
  * span-sequence equality).
  */
object SpanExtract {

  /** Reference year regex, verbatim from `main.py:263`. */
  val YearRe = """\b(19|20)\d{2}\b"""

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

  // ---- tables over a docs table (url, depth, spans, ...) ----

  /** Index-row table from depth-0 docs: (parent_url, rank, name, title, href). */
  def indexRowsDF(docs: DataFrame): DataFrame =
    docs.select(col("url").as("parent_url"), explode(SpanExprs.indexRows(col("spans"))).as("row"))
      .select(col("parent_url"), col("row.*"))

  /** Profile-field table from docs: (url, email, research_interests, publications). */
  def profileFieldsDF(docs: DataFrame): DataFrame =
    docs.select(col("url"), SpanExprs.profileFields(col("spans")).as("fields"))
      .select(col("url"), col("fields.*"))
}
