package graft

import graft.crawl.WaveRunner
import graft.crawl.WaveRunner.CrawlConfig
import graft.model.{RobotsRule, Span, SpanDoc}
import graft.urls.Urls
import graft.synth.SyntheticSite
import graft.synth.SyntheticSite.{Seed, SiteConfig}

/** Frontier dynamics beyond the reference scenario: depth-2 crawls where
  * profile pages link back to the index and to collaborators — every such
  * candidate is a duplicate, so the Bloom+anti-join dedup is exercised by
  * the engine itself (not just unit-level); plus skewed hosts with salted
  * selection, robots deny enforcement, and retry behavior.
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

  test("skewed hosts: salted selection keeps per-host order and budgets exact") {
    // one host with 40 faculty, three with 3 — the hot-host shape salting defuses
    val hot  = SiteConfig(universities = 1, deptsPerU = 1, facultyPerDept = 40)
    val cold = SiteConfig(universities = 3, deptsPerU = 1, facultyPerDept = 3)
    // build a combined seed list over one synthetic universe: reuse cfg with
    // per-host faculty via two separate configs is not expressible, so model
    // skew with budget: big budget + salt over the single hot host
    val seeds   = SyntheticSite.seeds(hot)
    val fetcher = SyntheticSite.fetcher(hot)
    val oracle  = graft.oracle.SequentialOracle.run(seeds, fetcher)
    val engine  = WaveRunner.run(spark, seeds, fetcher, Nil,
      CrawlConfig(waveSeconds = 7.0, saltShards = 8, selector = "window"))
    val got = engine.crawlOrder.orderBy("seq").collect()
      .map(r => (r.getAs[String]("host"), r.getAs[String]("url"))).toVector
    assert(got === oracle.crawlOrder, "salted skew path must preserve exact order")
    // politeness: per wave, per host, fetch count ≤ budget (7/wave at 1s delay)
    val perWaveHost = engine.crawlOrder.groupBy("wave", "host").count()
      .collect().map(_.getLong(2))
    assert(perWaveHost.forall(_ <= 7L))
    assert(cold.universities === 3) // (cold config documents the intended shape)
  }

  test("robots deny prefixes keep URLs out of the crawl; crawl_delay scales budget") {
    val site  = SiteConfig(universities = 1, deptsPerU = 2, facultyPerDept = 4)
    val seeds = SyntheticSite.seeds(site)
    val host0 = graft.urls.Urls.hostOf(seeds.head.url)
    val rules = Seq(
      RobotsRule(host0, Seq("/people/f0", "/people/f1"), 1.0), // deny 2 profiles
      RobotsRule(graft.urls.Urls.hostOf(seeds(1).url), Nil, 0.25)) // 4x budget
    // rulesBroadcastMaxRows = 0 forces the shuffled-hash rules join (the
    // millions-of-hosts regime) through the FULL engine — deny/budget
    // semantics must be identical to the broadcast regime
    val engine = WaveRunner.run(spark, seeds, SyntheticSite.fetcher(site), rules,
      CrawlConfig(waveSeconds = 1.0, rulesBroadcastMaxRows = 0L))
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

  test("deferred-bloom compaction keeps multi-wave discoveries in seen (watermark regression)") {
    // Chain site: seed -> /a -> /b — genuinely NEW URLs are discovered at
    // every depth, unlike the synthetic site (which discovers everything at
    // wave 0). frontierDeltaMaxRows = 1 forces a compaction after every
    // wave. Regression for the deferred-bloom watermark: resolveBloom runs
    // after the loop advanced `wave`, so a compaction there must derive the
    // seen watermark from the COMMITTED wave, not the current one —
    // otherwise the in-flight wave's discoveries (here /b) are excluded
    // from the seen accumulator forever: missing from the final seen set
    // and eligible for re-fetch on rediscovery.
    import graft.model.{Span, SpanDoc}
    val seed = "https://chain.test/"
    val a    = "https://chain.test/a"
    val b    = "https://chain.test/b"
    def page(self: String, next: Option[String]): SpanDoc = SpanDoc(self,
      (Seq(Span("heading", "Page", "", 0)) ++
        next.map(n => Span("link", "next", n, 1))).toArray)
    val fetcher: String => Option[SpanDoc] = {
      case `seed` => Some(page(seed, Some(a)))
      case `a`    => Some(page(a, Some(b)))
      case `b`    => Some(page(b, None))
      case _      => None
    }
    val engine = WaveRunner.run(spark, Seq(Seed(seed, 0, "U", "D")), fetcher, Nil,
      CrawlConfig(maxDepth = 2, waveSeconds = 3.0, frontierDeltaMaxRows = 1L))
    val seen = engine.seen.select("url").collect().map(_.getString(0)).toSet
    assert(seen === Set(seed, a, b),
      "every discovered URL must survive compaction into the final seen set")
    val urls = engine.crawlOrder.select("url").collect().map(_.getString(0)).toSeq
    assert(urls.sorted === Seq(seed, a, b).sorted)
    assert(urls.distinct.length === urls.length, "no URL may be fetched twice")
    engine.release()
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
    val engine = WaveRunner.run(spark, seeds, SyntheticSite.fetcher(site), Nil,
      CrawlConfig(waveSeconds = 4.0, maxRetries = 2))
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
  }
}
