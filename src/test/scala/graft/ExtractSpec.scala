package graft

import graft.extract.SpanExtract
import graft.functions.SpanExprs
import graft.model.Span
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

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

  test("interests: items are trimmed of line breaks, tabs and carriage returns") {
    // HtmlSpans keeps <p> text verbatim, so a real page's block carries its
    // line breaks; the oracle trims with String.trim, the reference with strip()
    val spans = Seq(
      Span("heading", "Research", "", 0),
      Span("text", "ML,\n  NLP;\tVision\r\n•\r Robotics \t;\n", "", 1))
    val expected = List("ML", "NLP", "Vision", "Robotics")
    assert(profile(spans).getSeq[String](1).toList === expected)
    assert(graft.oracle.SequentialOracle.extractInterests(spans.toArray).toList === expected)
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

  test("anchor links: nav links before the first heading are dropped but still ranked") {
    val df = spansDF(Seq(
      Span("link", "Dr. A", "/people/f0", 3),
      Span("link", "nav", "/about", 0),
      Span("heading", "Dr. A", "", 1),
      Span("link", "nav", "/contact", 2)))
    val links = df.select(explode(SpanExprs.anchorLinks(col("spans"))).as("l"))
      .select("l.url", "l.rank").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(links === Seq(("/contact", 1L), ("/people/f0", 2L)))
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
      indexRowsByClass(sortedSpans(col("spans")), "field-content", "people-title")).as("r"))
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
      transform(sortedSpans(col("spans")), s => hasClass(s, "people-title")).as("m"))
      .collect().head.getSeq[Boolean](0)
    assert(got === Seq(true, false, false))
  }


  // ---- class-addressed extraction (reference `scraper.py:41,46,50`) ----
  // Expressed as higher-order functions over the sorted spans: only the
  // cases above use it, to show where the reference's class selectors and
  // the order heuristic of `indexRowsDF` part ways.

  private def sortedSpans(spans: Column): Column =
    array_sort(spans, (a, b) => a.getField("offset") - b.getField("offset"))

  /** True when the span's class context contains `cls` as a whitespace token.
    * `Span.cls` carries the element's own classes plus its ancestors' (see
    * the model), so this is the flat-span analog of a CSS descendant selector
    * `.cls <kind>` — `hasClass(h3Span, "field-content")` matches the
    * reference's `.field-content h3` (`scraper.py:46`).
    */
  private def hasClass(s: Column, cls: String): Column =
    array_contains(split(s.getField("cls"), " "), cls)

  /** Class-ADDRESSED faculty index rows — the reference's NESTED selector
    * logic (`scraper.py:41-55`): rows are `.views-row` containers (`rowCls`);
    * the name is the `.field-content h3` heading inside one (class-gated, so
    * decorative headings never start a row); the title text must carry both
    * the `nameCls` (field wrapper) and `titleCls` tokens, as
    * `.field-content .people-title` (`scraper.py:50`) selects, else it is ""
    * as the reference's `select_one` miss gives (`scraper.py:51`); the
    * anchor sits inside the name element (`scraper.py:54`), so the row's
    * link is class-gated on `nameCls` too. Same output shape as
    * `SpanExprs.indexRows`.
    */
  private def indexRowsByClass(spans: Column, nameCls: String, titleCls: String,
      rowCls: String = "views-row"): Column = {
    val maxOff = lit(Int.MaxValue)
    val nameHeadings = filter(spans, s =>
      s.getField("kind") === "heading" && hasClass(s, nameCls) && hasClass(s, rowCls))
    transform(nameHeadings, (h, i) => {
      val hOff  = h.getField("offset")
      val nextH = aggregate(filter(nameHeadings, s => s.getField("offset") > hOff),
        maxOff, (acc, s) => least(acc, s.getField("offset")))
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

  // ---- parity with the sequential oracle on generated pages ----

  /** The link rule link discovery used before `anchorLinks`, restated
    * sequentially: the links of the offset-sorted spans, ranked among all
    * links, kept when they sit after the first heading.
    */
  private def anchorLinksSeq(spans: Seq[Span]): Seq[(String, Long)] = {
    val s = spans.sortBy(_.offset)
    val firstHeading = s.filter(_.kind == "heading").map(_.offset)
      .foldLeft(Int.MaxValue)(math.min)
    s.filter(_.kind == "link").zipWithIndex
      .collect { case (l, i) if l.offset > firstHeading => (l.media_ref, i.toLong) }
  }

  private object Pages {
    import org.scalacheck.Gen

    private val headingText = Gen.oneOf("Research", "My research topics", "RESEARCH",
      "Research Publications", "Selected Publications", "selected publications",
      "Publications", "PUBLICATIONS and talks", "Teaching", "Dr. Ada Lovelace", "Zoë Ng",
      "研究")
    private val item = Gen.oneOf("ML", "NLP", "Vision", "Théorie des graphes", "数据",
      "", "Sys tems", "P 2001 in Proc. X")
    private val pad = Gen.oneOf("", " ", "\n  ", "\t", "\r\n", " \t", "\r")
    private val sep = Gen.oneOf(",", ";", "•", ",;", " , ", "•;", ",,\n")
    private val blob = Gen.choose(0, 6).flatMap(n => Gen.listOfN(n,
      for (a <- pad; i <- item; b <- pad; s <- sep) yield a + i + b + s).map(_.mkString))
    private val plain = Gen.oneOf("Professor", "mail ada@cs.uni.edu today",
      "a.b-c@x.org, z@y.io", "no@tld", "Lecturer ✓", "", "x@y.z.edu!", "Zoë@uni.fr")

    private def text(kind: String): Gen[String] = kind match {
      case "heading"  => headingText
      case "text"     => Gen.oneOf(blob, plain)
      case "listitem" => Gen.oneOf(plain, item)
      case "link"     => Gen.oneOf(item, plain)
      case _          => Gen.const("")
    }
    private val kind = Gen.frequency(4 -> "heading", 3 -> "text", 3 -> "link",
      3 -> "listitem", 1 -> "media")
    private def spans(kinds: Seq[String]): Gen[Seq[(String, String)]] =
      Gen.sequence[Seq[(String, String)], (String, String)](kinds.map(k => text(k).map(k -> _)))

    private val randomBody = Gen.frequency(1 -> Gen.choose(0, 3), 3 -> Gen.choose(4, 30))
      .flatMap(n => Gen.listOfN(n, kind)).flatMap(spans)
    private val indexBody = Gen.choose(0, 8).flatMap(rows => Gen.listOfN(rows,
      for {
        link <- Gen.oneOf(true, false)
        title <- Gen.oneOf(true, false)
        linkFirst <- Gen.oneOf(true, false)
        extra <- Gen.listOfN(2, Gen.oneOf("link", "text"))
      } yield {
        val body = (if (link) Seq("link") else Nil) ++ (if (title) Seq("text") else Nil)
        "heading" +: ((if (linkFirst) body else body.reverse) ++ extra.take(rows % 3))
      })).map(_.flatten).flatMap(spans)
    private val profileBody = for {
      pubs <- Gen.choose(0, 9)
      after <- Gen.choose(0, 3)
      research <- Gen.oneOf(true, false)
      order <- Gen.oneOf(true, false)
      r <- spans((if (research) Seq("heading", "text") else Nil) ++ Seq("text"))
      p <- spans("heading" +: Seq.fill(pubs)("listitem"))
      t <- spans("heading" +: Seq.fill(after)("listitem"))
      researchHead <- Gen.oneOf("Research", "research interests", "RESEARCH AREAS")
      pubsHead <- Gen.oneOf("Selected Publications", "PUBLICATIONS", "publications")
    } yield {
      val rs = if (research) (("heading", researchHead) +: r.tail) else r
      val ps = ("heading", pubsHead) +: p.tail
      if (order) rs ++ ps ++ t else ps ++ rs ++ t
    }

    /** A page: 0-3 navigation links and a text, then a random, index-shaped
      * or profile-shaped body; offsets dense or strided, and shuffled or not.
      */
    val page: Gen[Seq[Span]] = for {
      navN <- Gen.choose(0, 3)
      nav <- spans(Seq.fill(navN)("link") :+ "text")
      body <- Gen.frequency(2 -> randomBody, 1 -> indexBody, 1 -> profileBody)
      stride <- Gen.oneOf(1, 3)
      shuffled <- Gen.oneOf(true, false)
      seed <- Gen.long
    } yield {
      val all = (nav ++ body).zipWithIndex.map { case ((k, t), i) =>
        Span(k, t, if (k == "link") s"/people/f$i" else "", i * stride) }
      if (shuffled) new scala.util.Random(seed).shuffle(all) else all
    }
  }

  test("generated pages: native extraction equals the sequential oracle and the link rule") {
    import graft.oracle.SequentialOracle._
    val pages = GenHelper.samples(Pages.page, 400, seed = 20261020L).zipWithIndex
      .map { case (spans, i) => (s"p$i", spans) }
    val df = pages.map { case (u, s) => (u, s.toArray) }.toDF("url", "spans")

    val rows = SpanExtract.indexRowsDF(df).collect()
      .groupBy(_.getAs[String]("parent_url"))
      .map { case (u, rs) => u -> rs.sortBy(_.getAs[Int]("rank")).toSeq.map(r =>
        (r.getAs[Int]("rank"), r.getAs[String]("name"), r.getAs[String]("title"),
          Option(r.getAs[String]("href")))) }
    val fields = SpanExtract.profileFieldsDF(df).collect()
      .map(r => r.getString(0) -> ((r.getString(1), r.getSeq[String](2).toList,
        r.getSeq[String](3).toList))).toMap
    val links = df.select(col("url"), explode(SpanExprs.anchorLinks(col("spans"))).as("l"))
      .select(col("url"), col("l.url"), col("l.rank")).collect()
      .groupBy(_.getString(0))
      .map { case (u, rs) => u -> rs.toSeq.map(r => (r.getString(1), r.getLong(2))) }

    var withRows, withPubs, withInterests, withMail = 0
    for ((u, spans) <- pages) {
      val a = spans.toArray
      val oracleRows = parseIndexRows(a).map(r => (r.rank, r.name, r.title, r.href))
      assert(rows.getOrElse(u, Nil) === oracleRows, s"index rows of $u: $spans")
      val oracleFields = (extractEmail(a), extractInterests(a).toList, extractPublications(a).toList)
      assert(fields(u) === oracleFields, s"profile fields of $u: $spans")
      assert(links.getOrElse(u, Nil) === anchorLinksSeq(spans), s"anchor links of $u: $spans")
      if (oracleRows.nonEmpty) withRows += 1
      if (oracleFields._1.nonEmpty) withMail += 1
      if (oracleFields._2.nonEmpty) withInterests += 1
      if (oracleFields._3.size == 5) withPubs += 1
    }
    // the generator reaches every rule
    assert(Seq(withRows, withMail, withInterests, withPubs).forall(_ > 20),
      s"rows $withRows, mail $withMail, interests $withInterests, 5 pubs $withPubs")
  }

  test("a 2,048-row index page gives the sequential oracle's rows") {
    val spans = (0 until 2048).flatMap { i =>
      Seq(Span("heading", s"Dr. F$i", "", 3 * i),
        Span("link", s"Dr. F$i", s"/people/f$i", 3 * i + 1),
        Span("text", if (i % 7 == 0) "" else s"Professor $i", "", 3 * i + 2))
    }
    val got = SpanExtract.indexRowsDF(spansDF(spans)).orderBy("rank").collect()
      .map(r => (r.getAs[Int]("rank"), r.getAs[String]("name"), r.getAs[String]("title"),
        Option(r.getAs[String]("href")))).toSeq
    val oracle = graft.oracle.SequentialOracle.parseIndexRows(spans.toArray)
      .map(r => (r.rank, r.name, r.title, r.href))
    assert(got.size === 2048)
    assert(got === oracle)
  }
}
