package perfbench

import graft.crawl.{ParquetSnapshotStore, Records, WaveRunner}
import graft.crawl.WaveRunner.{CrawlConfig, CrawlResult}
import graft.extract.HtmlSpans
import graft.frontier.Robots
import graft.model.{FacultyRecord, RobotsRule, SpanDoc}
import graft.oracle.SequentialOracle
import graft.oracle.SequentialOracle.OracleResult
import graft.synth.SyntheticSite
import graft.synth.SyntheticSite.{Seed, SiteConfig}

import org.apache.spark.sql.SparkSession
import org.apache.spark.util.LongAccumulator

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._

/** One crawl workload: the synthetic site, the robots rules and the engine
  * configuration, all derived from the workload seed.
  */
final case class CrawlSpec(site: SiteConfig, cfg: CrawlConfig, rules: Seq[RobotsRule])

/** One timed crawl: its seconds, fetches, waves and the faculty records the
  * engine produced.
  */
final case class CrawlSample(seconds: Double, fetches: Long, waves: Int, records: Int)

/** The fetcher composition of the traced run: the same page path as
  * `SyntheticSite.htmlFetcher` (page → HTML → parsed spans), with Spark
  * accumulators around the payload (fetch + render) and the parse.
  */
final class FetchTrace(spark: SparkSession) {
  private val sc = spark.sparkContext
  val pages: LongAccumulator     = sc.longAccumulator("fetch.pages")
  val errors: LongAccumulator    = sc.longAccumulator("fetch.errors")
  val payloadNs: LongAccumulator = sc.longAccumulator("fetch.payload_ns")
  val parseNs: LongAccumulator   = sc.longAccumulator("extract.parse_ns")
  val htmlBytes: LongAccumulator = sc.longAccumulator("extract.html_bytes")

  def reset(): Unit = Seq(pages, errors, payloadNs, parseNs, htmlBytes).foreach(_.reset())

  def fetcher(site: SiteConfig): String => Option[SpanDoc] = {
    val (c, pg, er, pay, par, hb) = (site, pages, errors, payloadNs, parseNs, htmlBytes)
    (url: String) => {
      val t0 = System.nanoTime()
      val page = SyntheticSite.fetch(c)(url).map(d => (d.doc_id, HtmlSpans.render(d.doc_id, d.spans)))
      val t1 = System.nanoTime()
      pg.add(1L); pay.add(t1 - t0)
      page match {
        case None => er.add(1L); None
        case Some((id, html)) =>
          hb.add(html.getBytes(UTF_8).length.toLong)
          val spans = HtmlSpans.parse(html)
          par.add(System.nanoTime() - t1)
          Some(SpanDoc(id, spans))
      }
    }
  }
}

object CrawlWorkload {

  private def mix(z0: Long): Long = {
    var z = z0 + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  /** Crawl delays: a fixed multiset, dealt to the hosts in a seed-drawn
    * order, so budgets bind and differ per host while the slowest hosts — and
    * with them the wave count — are the same for every seed.
    */
  private val Delays = Vector(0.5, 1.0)

  /** robots.txt text for one host. Seed-drawn extras (comments, a group for
    * another crawler, Allow and Sitemap lines) exercise the parser; only the
    * `*` group's Crawl-delay applies to this crawler, and no deny prefix does
    * (the sequential oracle does not model them).
    */
  def robotsTxt(host: String, delay: Double, r: Long): String = {
    val b = new StringBuilder
    if ((r & 1L) != 0) b ++= s"# robots.txt for $host\n"
    if ((r & 2L) != 0) b ++= "User-agent: archiver\nDisallow: /\nCrawl-delay: 30\n\n"
    b ++= "User-agent: *\n"
    if ((r & 4L) != 0) b ++= "Allow: /people/\n"
    b ++= s"Crawl-delay: $delay\n"
    if ((r & 8L) != 0) b ++= s"Sitemap: https://$host/sitemap.xml\n"
    b.toString
  }

  /** The crawl workload: many hosts with realistic page weight (a 250-word
    * biography and 12 publications per profile) and 5% planted fetch errors;
    * per-host crawl delays parsed from seed-drawn robots.txt text, so budgets
    * bind and the slow hosts need two profile waves; a delta bound small
    * enough that compaction fires during the crawl.
    */
  def crawl(seed: Long, tiny: Boolean): CrawlSpec =
    sized(seed, universities = if (tiny) 1 else 16, faculty = facultyPerDept(tiny))

  /** The set-up warm-up: the same crawl shape on one university's 4 hosts —
    * the same waves, robots rules and compaction — so that the plans of every
    * wave and of the records are compiled before the first timed crawl.
    */
  def warmSpec(seed: Long, tiny: Boolean): CrawlSpec =
    sized(seed, universities = 1, faculty = facultyPerDept(tiny))

  private def facultyPerDept(tiny: Boolean): Int = if (tiny) 4 else 24

  private def sized(seed: Long, universities: Int, faculty: Int): CrawlSpec = {
    val site = SiteConfig(universities = universities, deptsPerU = 4, facultyPerDept = faculty,
      errorFraction = 0.05, pubsPerFaculty = 12, bioWords = 250, seed = seed)
    val hosts = SyntheticSite.seeds(site).map(s => graft.urls.Urls.hostOf(s.url))
    val order = hosts.indices.sortBy(i => mix(seed ^ (i.toLong * 0x9e3779b97f4a7c15L)))
    val rules = order.zipWithIndex.map { case (hostIdx, slot) =>
      val host = hosts(hostIdx)
      Robots.parseRobotsTxt(host, robotsTxt(host, Delays(slot % Delays.size), mix(seed + hostIdx)))
    }
    val urls = hosts.size.toLong * (faculty + 1)
    // the slow hosts' budget is half their profile count: an index wave and two profile waves
    val waveSeconds = faculty * Delays.max / 2
    CrawlSpec(site, CrawlConfig(waveSeconds = waveSeconds, frontierDeltaMaxRows = urls / 4), rules)
  }

  def run(spark: SparkSession, spec: CrawlSpec, fetcher: String => Option[SpanDoc],
      snapshotDir: Option[Path]): CrawlResult = {
    val seeds = SyntheticSite.seeds(spec.site)
    WaveRunner.run(spark, seeds, fetcher, spec.rules,
      spec.cfg.copy(snapshotDir = snapshotDir.map(_.toString)))
  }

  /** Materialize the faculty records through the noop sink. */
  def writeRecords(spark: SparkSession, spec: CrawlSpec, r: CrawlResult): Unit =
    Records.facultyRecords(spark, r.docs, SyntheticSite.seeds(spec.site))
      .write.format("noop").mode("overwrite").save()

  def engineRecords(spark: SparkSession, seeds: Seq[Seed], r: CrawlResult): Vector[FacultyRecord] =
    Records.facultyRecords(spark, r.docs, seeds)
      .orderBy("seed_rank", "row_rank").collect().map { row =>
        FacultyRecord(row.getAs[String]("name"), row.getAs[String]("title"),
          row.getAs[String]("university"), row.getAs[String]("department"),
          row.getAs[String]("email"),
          row.getSeq[String](row.fieldIndex("research_interests")).toList,
          row.getSeq[String](row.fieldIndex("publications")).toList,
          row.getAs[String]("profile_url"))
      }.toVector

  /** Compare a finished crawl with the sequential oracle: per-host crawl order,
    * seen set and faculty records, collected concurrently. Returns the parts
    * that differ and the number of faculty records the engine produced.
    */
  def diff(spark: SparkSession, spec: CrawlSpec, r: CrawlResult, oracle: OracleResult,
      withOrder: Boolean = true): (Seq[String], Int) = {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration.Duration
    def byHost(xs: Seq[(String, String)]) = xs.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    val order = Future {
      !withOrder || byHost(r.crawlOrder.orderBy("seq").collect()
        .map(row => (row.getAs[String]("host"), row.getAs[String]("url"))).toSeq) ==
        byHost(oracle.crawlOrder)
    }
    val seen = Future(r.seen.collect().map(_.getAs[String]("url")).toSet == oracle.seen)
    val records = engineRecords(spark, SyntheticSite.seeds(spec.site), r)
    val bad = Seq("per-host crawl order" -> order, "seen set" -> seen)
      .collect { case (what, ok) if !Await.result(ok, Duration.Inf) => what } ++
      (if (records != oracle.records) Seq("faculty records") else Nil)
    (bad, records.size)
  }

  def oracle(spec: CrawlSpec, breakIt: Boolean): OracleResult = {
    val o = SequentialOracle.run(SyntheticSite.seeds(spec.site), SyntheticSite.fetcher(spec.site))
    // a deliberately wrong expected answer (one URL removed), to show the gate trips
    if (breakIt) o.copy(seen = o.seen - o.crawlOrder.last._2) else o
  }

  /** HTML bytes the crawl fetches: every successfully fetched page, rendered. */
  def htmlBytes(o: OracleResult): Long =
    o.documents.map(d => HtmlSpans.render(d.doc_id, d.spans).getBytes(UTF_8).length.toLong).sum

  /** Bytes and regular files under a directory. */
  def du(dir: Path): (Long, Long) = {
    val s = Files.walk(dir)
    try {
      val files = s.iterator().asScala.filter(Files.isRegularFile(_)).toVector
      (files.map(Files.size).sum, files.size.toLong)
    } finally s.close()
  }

  /** Per-wave durations from the commit-marker times of the committed waves;
    * the first wave is measured from `startMs`.
    */
  def waveSeconds(spark: SparkSession, dir: Path, startMs: Long): Seq[Double] = {
    val store = new ParquetSnapshotStore(spark, dir.toString, 1)
    val marks = store.listCommitted().sorted.map { w =>
      Files.getLastModifiedTime(dir.resolve(f"wave=$w%05d/_COMMITTED")).toMillis
    }
    (startMs +: marks).sliding(2).collect { case Seq(a, b) => (b - a) / 1e3 }.toSeq
  }

  def frontierBases(spark: SparkSession, dir: Path): Int =
    new ParquetSnapshotStore(spark, dir.toString, 1).listFrontierBases().size
}
