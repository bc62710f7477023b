package graft

import graft.crawl.WaveRunner
import graft.crawl.WaveRunner.CrawlConfig
import graft.model.{RobotsRule, Span, SpanDoc}
import graft.urls.Urls
import graft.synth.SyntheticSite
import graft.synth.SyntheticSite.{Seed, SiteConfig}

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** Frontier dynamics beyond the reference scenario: depth-2 crawls where
  * profile pages link back to the index and to collaborators — every such
  * candidate is a duplicate, so the Bloom+anti-join dedup is exercised by
  * the engine itself (not just unit-level); plus a hot host's selection,
  * robots deny enforcement, and retry behavior.
  */
class CrawlDepth2Spec extends SparkSpec {

  test("depth 2: duplicate candidates (back-links, collaborators) are all deduped") {
    val site  = SiteConfig(universities = 2, deptsPerU = 1, facultyPerDept = 6)
    val seeds = SyntheticSite.seeds(site)
    val d1 = WaveRunner.run(spark, seeds, SyntheticSite.fetcher(site), Nil,
      CrawlConfig(maxDepth = 1, waveSeconds = 3.0))
    val d2 = WaveRunner.run(spark, seeds, SyntheticSite.fetcher(site), Nil,
      CrawlConfig(maxDepth = 2, waveSeconds = 3.0))
    // every depth-2 candidate on this site is already seen → same fetch set
    val urls1 = d1.crawlOrder.select("url").collect().map(_.getString(0)).toSeq
    val urls2 = d2.crawlOrder.select("url").collect().map(_.getString(0)).toSeq
    assert(urls2.sorted === urls1.sorted)
    assert(urls2.distinct.length === urls2.length, "no URL may be fetched twice")
    assert(d2.seen.count() === d1.seen.count())
  }

  test("non-ASCII seed linked back from its own page and a profile: fetched once, one seen key") {
    // the seed is keyed on the driver, its back-links in Spark: both must
    // hash the same UTF-8 bytes or the seed is rediscovered and refetched
    val seedUrl = "https://a.edu/people/café"
    val profile = "https://a.edu/people/josé"
    val pages = Map(
      seedUrl -> Array(Span("heading", "Faculty", "", 0), Span("link", "Café", seedUrl, 1),
        Span("heading", "José", "", 2), Span("link", "José", profile, 3)),
      profile -> Array(Span("heading", "José", "", 0), Span("link", "Back", seedUrl, 1)))
    val fetcher: String => Option[SpanDoc] = url => pages.get(url).map(SpanDoc(url, _))
    val r = WaveRunner.run(spark, Seq(Seed(seedUrl, 0, "U", "D")), fetcher, Nil,
      CrawlConfig(maxDepth = 2, waveSeconds = 2.0))
    val fetched = r.crawlOrder.collect().map(_.getAs[String]("url")).toSeq
    assert(fetched.sorted === Seq(profile, seedUrl).sorted)
    val seen = r.seen.collect().map(x => (x.getAs[Long]("url_hash"), x.getAs[String]("url")))
    assert(seen.toSet === Set(seedUrl, profile).map(u => (Urls.urlHash64(u), u)))
    assert(seen.length === 2)
    r.release()
  }

  test("hot host: selection keeps per-host order and budgets exact") {
    // one host with 40 faculty and a budget of 7 per wave: the selector's
    // bounded per-host heap takes the host's top 7 of up to 40 pending rows
    val hot     = SiteConfig(universities = 1, deptsPerU = 1, facultyPerDept = 40)
    val seeds   = SyntheticSite.seeds(hot)
    val fetcher = SyntheticSite.fetcher(hot)
    val oracle  = graft.oracle.SequentialOracle.run(seeds, fetcher)
    val engine  = WaveRunner.run(spark, seeds, fetcher, Nil, CrawlConfig(waveSeconds = 7.0))
    val got = engine.crawlOrder.orderBy("seq").collect()
      .map(r => (r.getAs[String]("host"), r.getAs[String]("url"))).toVector
    assert(got === oracle.crawlOrder, "hot-host selection must preserve exact order")
    // politeness: per wave, per host, fetch count ≤ budget (7/wave at 1s delay)
    val perWaveHost = engine.crawlOrder.groupBy("wave", "host").count()
      .collect().map(_.getLong(2))
    assert(perWaveHost.forall(_ <= 7L))
  }

  test("robots deny prefixes keep URLs out of the crawl; crawl_delay scales budget") {
    val site  = SiteConfig(universities = 1, deptsPerU = 2, facultyPerDept = 4)
    val seeds = SyntheticSite.seeds(site)
    val host0 = graft.urls.Urls.hostOf(seeds.head.url)
    val rules = Seq(
      RobotsRule(host0, Seq("/people/f0", "/people/f1"), 1.0), // deny 2 profiles
      RobotsRule(graft.urls.Urls.hostOf(seeds(1).url), Nil, 0.25)) // 4x budget
    // the rules through the FULL engine: merged, broadcast once, and read by
    // every wave's selection
    val engine = WaveRunner.run(spark, seeds, SyntheticSite.fetcher(site), rules,
      CrawlConfig(waveSeconds = 1.0))
    val fetched = engine.crawlOrder.collect()
      .map(r => (r.getAs[String]("host"), r.getAs[String]("url")))
    // host0: index + the two allowed profiles; f0/f1 denied
    assert(fetched.filter(_._1 == host0).map(_._2).toSet ===
      Set(seeds.head.url,
        SyntheticSite.profileUrl(0, 0, 2), SyntheticSite.profileUrl(0, 0, 3)))
    // host1: 4 per wave allowed → index wave + 1 profile wave
    val host1 = graft.urls.Urls.hostOf(seeds(1).url)
    assert(fetched.count(_._1 == host1) === 5)
    // host0 fetches its 2 allowed profiles at 1/wave → 3 waves total
    assert(engine.waves === 3)
  }

  test("seen keys keep every wave's discoveries across compactions: no refetch") {
    // Chain site: seed -> /a -> /b -> /c, and /c links back to every earlier
    // page. Each wave discovers one genuinely NEW URL (unlike the synthetic
    // site, which discovers everything at wave 0), so the loop's seen keys
    // grow by one wave's part at a time. By /c's wave the seed is an entry
    // key, /a was discovered three waves before and /b two, and with
    // frontierDeltaMaxRows = 1 each was folded by a compaction since. A key
    // missing from the seen keys is Bloom-positive but not found by the
    // exact check, so its page is rediscovered and fetched a second time.
    // Run with a compaction after every wave and with none.
    import graft.model.{Span, SpanDoc}
    val seed = "https://chain.test/"
    val a    = "https://chain.test/a"
    val b    = "https://chain.test/b"
    val c    = "https://chain.test/c"
    def page(self: String, links: String*): SpanDoc = SpanDoc(self,
      (Span("heading", "Page", "", 0) +: links.zipWithIndex.map { case (l, i) =>
        Span("link", "next", l, i + 1) }).toArray)
    val pages = Map(seed -> page(seed, a), a -> page(a, b), b -> page(b, c),
      c -> page(c, seed, a, b))
    for (deltaMaxRows <- Seq(1L, CrawlConfig().frontierDeltaMaxRows)) {
      val engine = WaveRunner.run(spark, Seq(Seed(seed, 0, "U", "D")), pages.get, Nil,
        CrawlConfig(maxDepth = 4, waveSeconds = 1.0, frontierDeltaMaxRows = deltaMaxRows))
      val urls = engine.crawlOrder.orderBy("seq").select("url").collect().map(_.getString(0))
      assert(urls.toSeq === Seq(seed, a, b, c),
        s"frontierDeltaMaxRows = $deltaMaxRows: every page is fetched once, in chain order")
      assert(engine.fetches === 4L)
      assert(engine.seen.select("url").collect().map(_.getString(0)).toSet === pages.keySet)
      engine.release()
    }
  }

  test("depth 2: a wave mixing leaf and non-leaf pages still discovers every link") {
    // h1: s1 → a1 → b1 (b1 is depth 2: a leaf).  h2: s2 → p2, q2; q2 → r2.
    // At one fetch per host per wave, wave 2 fetches b1 (leaf) with q2
    // (depth 1, not a leaf), whose link r2 must be discovered in that wave.
    import graft.model.{Span, SpanDoc}
    val (s1, a1, b1) = ("https://h1.test/", "https://h1.test/a", "https://h1.test/b")
    val (s2, p2, q2, r2) =
      ("https://h2.test/", "https://h2.test/p", "https://h2.test/q", "https://h2.test/r")
    def page(self: String, links: String*): SpanDoc = SpanDoc(self,
      (Span("heading", "Page", "", 0) +: links.zipWithIndex.map { case (l, i) =>
        Span("link", "next", l, i + 1) }).toArray)
    val pages = Map(s1 -> page(s1, a1), a1 -> page(a1, b1), b1 -> page(b1),
      s2 -> page(s2, p2, q2), p2 -> page(p2), q2 -> page(q2, r2), r2 -> page(r2))
    val engine = WaveRunner.run(spark,
      Seq(Seed(s1, 0, "U", "D1"), Seed(s2, 1, "U", "D2")), pages.get, Nil,
      CrawlConfig(maxDepth = 2, waveSeconds = 1.0))
    val byWave = engine.crawlOrder.collect()
      .map(r => r.getAs[Int]("wave") -> r.getAs[String]("url"))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    assert(byWave === Map(0 -> Set(s1, s2), 1 -> Set(a1, p2), 2 -> Set(b1, q2), 3 -> Set(r2)))
    assert(engine.seen.collect().map(_.getAs[String]("url")).toSet === pages.keySet)
    engine.release()
  }

  test("retries: failed fetches re-enter the frontier up to maxRetries, then error out") {
    val site  = SiteConfig(universities = 1, deptsPerU = 1, facultyPerDept = 4,
      errorFraction = 0.5)
    val seeds = SyntheticSite.seeds(site)
    val cfg   = CrawlConfig(waveSeconds = 4.0, maxRetries = 2)
    val (engine, jobs) = jobsOf(WaveRunner.run(spark, seeds, SyntheticSite.fetcher(site), Nil, cfg))
    val errorProfiles = (0 until 4).count(k => SyntheticSite.isErrorProfile(site, 0, 0, k))
    assert(errorProfiles > 0, "fixture must contain error pages")
    // every error page is attempted 1 + maxRetries times (deterministic failure)
    val attempts = engine.crawlOrder.groupBy("url").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val errUrls = (0 until 4).filter(k => SyntheticSite.isErrorProfile(site, 0, 0, k))
      .map(k => SyntheticSite.profileUrl(0, 0, k))
    errUrls.foreach(u => assert(attempts(u) === 3L, s"$u should be tried 3 times"))
    // and they end in error state
    val statuses = engine.frontier.collect()
      .map(r => r.getAs[String]("url") -> r.getAs[String]("status")).toMap
    errUrls.foreach(u => assert(statuses(u) === "error"))
    // the loop counts the rows that re-enter pending, so it stops after the
    // last fetching wave without an empty one: capped at the waves it ran,
    // the same crawl runs the same jobs
    val (capped, cappedJobs) = jobsOf(WaveRunner.run(spark, seeds, SyntheticSite.fetcher(site),
      Nil, cfg.copy(maxWaves = engine.waves)))
    assert(capped.fetches === engine.fetches)
    assert(jobs === cappedJobs, s"uncapped: $jobs jobs, capped at ${engine.waves} waves: " +
      s"$cappedJobs jobs")
    engine.release(); capped.release()
  }

  /** `crawl` and the Spark jobs it ran. */
  private def jobsOf(crawl: => WaveRunner.CrawlResult): (WaveRunner.CrawlResult, Long) = {
    val jobs = new java.util.concurrent.atomic.AtomicLong(0L)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = { jobs.incrementAndGet(); () }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val r = crawl
      org.apache.spark.GraftListenerSync.drain(spark.sparkContext)
      (r, jobs.get())
    } finally spark.sparkContext.removeSparkListener(listener)
  }
}
