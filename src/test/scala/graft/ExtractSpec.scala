package graft

import graft.extract.SpanExtract
import graft.model.Span
import org.apache.spark.sql.functions._
import org.apache.spark.sql.Row

/** Extraction-operator fixtures lifted from the reference's regexes and
  * slicing rules (SURVEY §5.2 #1).
  */
class ExtractSpec extends SparkSpec {
  import spark.implicits._

  private def spansDF(spans: Seq[Span]) =
    Seq(("d1", spans.toArray)).toDF("url", "spans")

  private def profile(spans: Seq[Span]) =
    SpanExtract.profileFieldsDF(spansDF(spans))
      .select(col("email"), col("research_interests").as("interests"), col("publications").as("pubs"))
      .collect().head

  test("email: first match in document order wins (scraper.py:133-136)") {
    val r = profile(Seq(
      Span("text", "see bob@x.edu or alice@y.org", "", 0)))
    assert(r.getAs[String]("email") === "bob@x.edu")
  }

  test("email: regex shape matches the reference pattern") {
    val r = profile(Seq(Span("text", "u.n-a_m+e%x@sub.domain-x.co", "", 0)))
    assert(r.getAs[String]("email") === "u.n-a_m+e%x@sub.domain-x.co")
    val none = profile(Seq(Span("text", "no at sign here", "", 0)))
    assert(none.getAs[String]("email") === "")
  }

  test("interests: split on , ; • after the Research heading (scraper.py:122-130)") {
    val r = profile(Seq(
      Span("heading", "My Research Topics", "", 0),
      Span("text", " ML , ; NLP • Vision;", "", 1)))
    assert(r.getSeq[String](1).toList === List("ML", "NLP", "Vision"))
  }

  test("interests: missing heading or block yields empty (scraper.py:102-106)") {
    assert(profile(Seq(Span("text", "no heading", "", 0))).getSeq[String](1).isEmpty)
    assert(profile(Seq(Span("heading", "Research", "", 0))).getSeq[String](1).isEmpty)
  }

  test("interests: only the FIRST research heading's following text is used") {
    val r = profile(Seq(
      Span("heading", "Research", "", 0),
      Span("text", "A, B", "", 1),
      Span("heading", "Research again", "", 2),
      Span("text", "C, D", "", 3)))
    assert(r.getSeq[String](1).toList === List("A", "B"))
  }

  test("publications: listitems after the heading, capped at 5 in doc order (scraper.py:139-158)") {
    val items = (1 to 8).map(i => Span("listitem", s"Pub $i", "", i + 1))
    val r = profile(Span("heading", "Selected Publications", "", 0) +: items)
    assert(r.getSeq[String](2).toList === (1 to 5).map(i => s"Pub $i").toList)
  }

  test("publications: stop at the next heading") {
    val r = profile(Seq(
      Span("heading", "Publications", "", 0),
      Span("listitem", "P1", "", 1),
      Span("heading", "Links", "", 2),
      Span("listitem", "not a pub", "", 3)))
    assert(r.getSeq[String](2).toList === List("P1"))
  }

  test("index rows: heading starts a row; first link/text before next heading") {
    val df = spansDF(Seq(
      Span("text", "Dept page", "", 0),
      Span("link", "nav", "/about", 1),
      Span("heading", "Dr. A", "", 2),
      Span("link", "Dr. A", "/people/f0", 3),
      Span("text", "Professor", "", 4),
      Span("heading", "Dr. B", "", 5),
      Span("text", "Lecturer", "", 6))) // row without link
    val rows = SpanExtract.indexRowsDF(df).orderBy("rank").collect()
    assert(rows.length === 2)
    assert(rows(0).getAs[String]("name") === "Dr. A")
    assert(rows(0).getAs[String]("href") === "/people/f0")
    assert(rows(0).getAs[String]("title") === "Professor")
    assert(rows(1).getAs[String]("name") === "Dr. B")
    assert(rows(1).getAs[String]("href") === null)
    assert(rows(1).getAs[String]("title") === "Lecturer")
  }

  // the table pipelines Records uses, checked against the sequential oracle's
  // independent parse of the same spans
  private def indexRowsOf(spans: Seq[Span]) =
    SpanExtract.indexRowsDF(spansDF(spans)).orderBy("rank").collect()
      .map(r => (r.getAs[String]("name"), r.getAs[String]("title"),
        Option(r.getAs[String]("href")))).toSeq

  private def oracleIndexRows(spans: Seq[Span]) =
    graft.oracle.SequentialOracle.parseIndexRows(spans.toArray).map(r => (r.name, r.title, r.href))

  private def profileFieldsOf(spans: Seq[Span]) = {
    val r = profile(spans)
    (r.getString(0), r.getSeq[String](1).toList, r.getSeq[String](2).toList)
  }

  private def oracleProfileFields(spans: Seq[Span]) = {
    import graft.oracle.SequentialOracle._
    val a = spans.toArray
    (extractEmail(a), extractInterests(a).toList, extractPublications(a).toList)
  }

  test("table pipelines: spans out of order give the document-order rows and fields") {
    val index = Seq(
      Span("heading", "Dr. A", "", 2),
      Span("link", "Dr. A", "/people/f0", 3),
      Span("text", "Professor", "", 4),
      Span("heading", "Dr. B", "", 5),
      Span("text", "Lecturer", "", 6),
      Span("link", "Dr. B", "/people/f1", 7))
    val shuffled = Seq(index(4), index(1), index(5), index(0), index(3), index(2))
    assert(indexRowsOf(shuffled) === Seq(
      ("Dr. A", "Professor", Some("/people/f0")), ("Dr. B", "Lecturer", Some("/people/f1"))))
    assert(indexRowsOf(shuffled) === oracleIndexRows(shuffled))

    val profile = Seq(
      Span("text", "mail a@b.edu", "", 0),
      Span("heading", "Research", "", 1),
      Span("text", "X; Y", "", 2),
      Span("heading", "Publications", "", 3),
      Span("listitem", "P1", "", 4),
      Span("listitem", "P2", "", 5),
      Span("heading", "Teaching", "", 6),
      Span("listitem", "not a pub", "", 7))
    val reversed = profile.reverse
    assert(profileFieldsOf(reversed) === (("a@b.edu", List("X", "Y"), List("P1", "P2"))))
    assert(profileFieldsOf(reversed) === oracleProfileFields(reversed))
  }

  test("table pipelines: the last heading's row and block run to the end of the page") {
    val index = Seq(
      Span("heading", "Dr. A", "", 0),
      Span("text", "Professor", "", 1),
      Span("heading", "Dr. B", "", 2),
      Span("text", "Lecturer", "", 3),
      Span("link", "Dr. B", "/people/f1", 4))
    assert(indexRowsOf(index) === Seq(
      ("Dr. A", "Professor", None), ("Dr. B", "Lecturer", Some("/people/f1"))))
    assert(indexRowsOf(index) === oracleIndexRows(index))

    val profile = Seq(
      Span("heading", "Research", "", 0),
      Span("text", "X", "", 1),
      Span("heading", "Selected Publications", "", 2)) ++
      (1 to 6).map(i => Span("listitem", s"P$i", "", 2 + i))
    assert(profileFieldsOf(profile) === (("", List("X"), (1 to 5).map(i => s"P$i").toList)))
    assert(profileFieldsOf(profile) === oracleProfileFields(profile))
  }

  test("table pipelines: adjacent headings with nothing between them") {
    val index = Seq(
      Span("heading", "Dr. A", "", 0),
      Span("heading", "Dr. B", "", 1),
      Span("link", "Dr. B", "/people/f1", 2),
      Span("text", "Lecturer", "", 3),
      Span("heading", "Dr. C", "", 4))
    assert(indexRowsOf(index) === Seq(
      ("Dr. A", "", None), ("Dr. B", "Lecturer", Some("/people/f1")), ("Dr. C", "", None)))
    assert(indexRowsOf(index) === oracleIndexRows(index))

    // an empty publications block, and a research heading whose text block
    // sits after the next heading (the reference takes the first text after it)
    val profile = Seq(
      Span("heading", "Publications", "", 0),
      Span("heading", "Research", "", 1),
      Span("heading", "Contact", "", 2),
      Span("text", "X, Y", "", 3))
    assert(profileFieldsOf(profile) === (("", List("X", "Y"), Nil)))
    assert(profileFieldsOf(profile) === oracleProfileFields(profile))
  }

  test("pageLinks: links before the first heading are nav, after are anchors") {
    val df = spansDF(Seq(
      Span("link", "nav", "/about", 0),
      Span("heading", "Dr. A", "", 1),
      Span("link", "Dr. A", "/people/f0", 2)))
    val links = df.select(explode(
      SpanExtract.pageLinks(SpanExtract.sortedSpans(col("spans")))).as("l"))
      .select("l.url", "l.anchorKind").collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    assert(links === Set(("/about", "nav"), ("/people/f0", "anchor")))
  }

  test("year extraction (main.py:263-265)") {
    val df = Seq("Great paper. NeurIPS 2021.", "old one 1899 and 1999", "none")
      .toDF("pub")
    val got = df.select(SpanExtract.pubYear(col("pub"))).collect()
      .map(r => if (r.isNullAt(0)) None else Some(r.getInt(0))).toList
    assert(got === List(Some(2021), Some(1999), None))
  }

  test("name split (main.py:182-184)") {
    val df = Seq("Alice B. Smith", "Plato").toDF("name")
    val got = df.select(
      SpanExtract.firstName(col("name")), SpanExtract.lastName(col("name")))
      .collect().map(r => (r.getString(0), r.getString(1))).toList
    assert(got === List(("Alice", "Smith"), ("Plato", "")))
  }

  test("span-sequence invariant: extraction is insensitive to span array order") {
    val spans = Seq(
      Span("heading", "Research", "", 0),
      Span("text", "A, B", "", 1),
      Span("heading", "Publications", "", 2),
      Span("listitem", "P 2001", "", 3))
    val shuffled = Seq(spans(3), spans(1), spans(0), spans(2))
    val a = profile(spans)
    val b = profile(shuffled)
    assert(a.getSeq[String](1) === b.getSeq[String](1))
    assert(a.getSeq[String](2) === b.getSeq[String](2))
  }
  test("class-addressed index rows follow the reference selectors where the order heuristic mis-extracts") {
    // a decorative sidebar heading ("Latest News") and its teaser text sit
    // between faculty rows: the order heuristic treats the heading as a
    // faculty row and steals the teaser as a title; the class-addressed path
    // (scraper.py:41-55: .views-row / .field-content h3 / .people-title)
    // never sees them
    val spans = Seq(
      Span("heading", "Latest News", "", 0, "sidebar"),
      Span("text", "Grant awarded to the lab", "", 1, "sidebar teaser"),
      // a field-content h3 OUTSIDE any .views-row container: page chrome the
      // reference's `soup.select('.views-row')` loop never visits
      Span("heading", "Directory", "", 2, "field-content"),
      Span("heading", "Jane Doe", "", 3, "views-row field-content"),
      Span("link", "Jane Doe", "/people/jane-doe", 4, "views-row field-content"),
      Span("text", "Professor", "", 5, "views-row field-content people-title"),
      Span("heading", "Bob Roe", "", 6, "views-row field-content"),
      Span("link", "Bob Roe", "/people/bob-roe", 7, "views-row field-content"),
      // people-title NOT nested in field-content: the reference's
      // `.field-content .people-title` select_one misses -> title ""
      Span("text", "Lecturer", "", 8, "views-row people-title"))
    val df = spansDF(spans)
    val ordered = SpanExtract.indexRowsDF(df).orderBy("rank")
      .select("name", "title", "href").collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2)))
    val byClass = df.select(explode(
      SpanExtract.indexRowsByClass(SpanExtract.sortedSpans(col("spans")),
        "field-content", "people-title")).as("r"))
      .select("r.name", "r.title", "r.href").collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2)))
    // the class-addressed answer is the reference's: the chrome h3 starts no
    // row, and Bob's un-nested people-title degrades to "" (scraper.py:50-51)
    assert(byClass.toSeq === Seq(
      ("Jane Doe", "Professor", "/people/jane-doe"),
      ("Bob Roe", "", "/people/bob-roe")))
    // and the order heuristic demonstrably diverges on this page
    assert(ordered.toSeq !== byClass.toSeq)
    assert(ordered.head === ("Latest News", "Grant awarded to the lab", null))
  }

  test("hasClass matches whitespace tokens of own + inherited classes only") {
    val spans = Seq(
      Span("text", "a", "", 0, "views-row people-title"),
      Span("text", "b", "", 1, "people-title-extra"), // not a token match
      Span("text", "c", "", 2, ""))
    val got = spansDF(spans).select(
      transform(SpanExtract.sortedSpans(col("spans")),
        s => SpanExtract.hasClass(s, "people-title")).as("m"))
      .collect().head.getSeq[Boolean](0)
    assert(got === Seq(true, false, false))
  }

}
