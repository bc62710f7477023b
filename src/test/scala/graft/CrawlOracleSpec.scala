package graft

import graft.crawl.{Records, WaveRunner}
import graft.crawl.WaveRunner.CrawlConfig
import graft.frontier.Robots
import graft.model.{FacultyRecord, RobotsRule}
import graft.oracle.SequentialOracle
import graft.synth.SyntheticSite
import graft.synth.SyntheticSite.SiteConfig

import org.apache.spark.sql.Row

/** The exactness gate (BASELINE.json north_rule): under the same seed list and
  * politeness budget, the engine's crawl ordering, URL-seen set, extracted
  * faculty records, and per-row span sequences must match the sequential
  * oracle — an independent re-statement of reference `scraper.py:14-163`.
  */
class CrawlOracleSpec extends SparkSpec {

  private def runBoth(site: SiteConfig, crawl: CrawlConfig = CrawlConfig(),
      rules: Seq[RobotsRule] = Nil) = {
    val seeds   = SyntheticSite.seeds(site)
    val fetcher = SyntheticSite.fetcher(site)
    val oracle  = SequentialOracle.run(seeds, fetcher)
    val engine  = WaveRunner.run(spark, seeds, fetcher, rules, crawl)
    (seeds, oracle, engine)
  }

  private def engineOrder(engine: WaveRunner.CrawlResult): Vector[(String, String)] =
    engine.crawlOrder.orderBy("seq").collect()
      .map(r => (r.getAs[String]("host"), r.getAs[String]("url"))).toVector

  private def engineRecords(spark: org.apache.spark.sql.SparkSession,
      engine: WaveRunner.CrawlResult, seeds: Seq[SyntheticSite.Seed]): Vector[FacultyRecord] =
    Records.facultyRecords(spark, engine.docs, seeds)
      .orderBy("seed_rank", "row_rank")
      .drop("seed_rank", "row_rank")
      .collect().map { r =>
        FacultyRecord(r.getAs[String]("name"), r.getAs[String]("title"),
          r.getAs[String]("university"), r.getAs[String]("department"),
          r.getAs[String]("email"),
          r.getSeq[String](r.fieldIndex("research_interests")).toList,
          r.getSeq[String](r.fieldIndex("publications")).toList,
          r.getAs[String]("profile_url"))
      }.toVector

  test("single host: global crawl ordering matches the sequential oracle exactly") {
    val site = SiteConfig(universities = 1, deptsPerU = 1, facultyPerDept = 6)
    val (_, oracle, engine) = runBoth(site)
    assert(engineOrder(engine) === oracle.crawlOrder)
  }

  test("forced shard-local bloom residency: ordering, seen, records unchanged") {
    // the Bloom filter as shard rows on the executors (the 10^10 residency,
    // every crawl's) through the FULL engine, over 4 hosts with errors
    val site = SiteConfig(universities = 2, deptsPerU = 2, facultyPerDept = 5,
      errorFraction = 0.2)
    val (seeds, oracle, engine) = runBoth(site)
    val got = engineOrder(engine).groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    val exp = oracle.crawlOrder.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    assert(got === exp)
    assert(engine.seen.collect().map(_.getAs[String]("url")).toSet === oracle.seen)
    assert(engineRecords(spark, engine, seeds) === oracle.records)
  }

  test("memory mode: the seen set is the frontier's (url_hash, url) keys") {
    val site = SiteConfig(universities = 2, deptsPerU = 1, facultyPerDept = 4,
      errorFraction = 0.2)
    val (_, oracle, engine) = runBoth(site, CrawlConfig(maxDepth = 2, waveSeconds = 2.0))
    assert(engine.seen.schema ===
      org.apache.spark.sql.types.StructType.fromDDL("url_hash long, url string"))
    val seen = engine.seen.collect().map(r => (r.getLong(0), r.getString(1)))
    val keys = engine.frontier.select("urlHash", "url").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    assert(seen.length === seen.distinct.length)
    assert(seen.toSet === keys.toSet)
    assert(seen.map(_._2).toSet === oracle.seen)
    engine.release()
  }

  test("single host: URL-seen set and faculty records match exactly") {
    val site = SiteConfig(universities = 1, deptsPerU = 1, facultyPerDept = 6)
    val (seeds, oracle, engine) = runBoth(site)
    val engineSeen = engine.seen.collect().map(_.getAs[String]("url")).toSet
    assert(engineSeen === oracle.seen)
    assert(engineRecords(spark, engine, seeds) === oracle.records)
  }

  test("multi-host with errors, relative links, linkless rows: per-host order, seen, records") {
    val site = SiteConfig(universities = 2, deptsPerU = 2, facultyPerDept = 5,
      errorFraction = 0.25, relativeLinkFraction = 0.6, noLinkFraction = 0.15)
    val (seeds, oracle, engine) = runBoth(site)

    val gotByHost = engineOrder(engine).groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    val expByHost = oracle.crawlOrder.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    assert(gotByHost.keySet === expByHost.keySet)
    for (h <- expByHost.keySet)
      assert(gotByHost(h) === expByHost(h), s"per-host ordering diverged for $h")

    val engineSeen = engine.seen.collect().map(_.getAs[String]("url")).toSet
    assert(engineSeen === oracle.seen)
    assert(engineRecords(spark, engine, seeds) === oracle.records)
  }

  test("per-row span-sequence equality (kind, text, media_ref, order) for every document") {
    val site = SiteConfig(universities = 2, deptsPerU = 1, facultyPerDept = 4,
      errorFraction = 0.2)
    val (_, oracle, engine) = runBoth(site)
    val engineDocs: Map[String, Vector[(String, String, String, Int)]] =
      engine.docs.collect().map { r =>
        val spans = r.getAs[Seq[Row]]("spans").sortBy(_.getAs[Int]("offset")).map { s =>
          (s.getAs[String]("kind"), s.getAs[String]("text"),
            s.getAs[String]("media_ref"), s.getAs[Int]("offset"))
        }.toVector
        r.getAs[String]("url") -> spans
      }.toMap
    val oracleDocs = oracle.documents
      .map(d => d.doc_id -> d.spans.sortBy(_.offset)
        .map(s => (s.kind, s.text, s.media_ref, s.offset)).toVector).toMap
    assert(engineDocs.keySet === oracleDocs.keySet)
    for ((id, exp) <- oracleDocs)
      assert(engineDocs(id) === exp, s"span sequence diverged for $id")
  }

  test("wider budget (4 req/wave) preserves per-host ordering and final state") {
    val site = SiteConfig(universities = 1, deptsPerU = 2, facultyPerDept = 7)
    val (seeds, oracle, engine) = runBoth(site, CrawlConfig(waveSeconds = 4.0))
    val gotByHost = engineOrder(engine).groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    val expByHost = oracle.crawlOrder.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    for (h <- expByHost.keySet)
      assert(gotByHost(h) === expByHost(h), s"per-host ordering diverged for $h")
    assert(engine.seen.collect().map(_.getAs[String]("url")).toSet === oracle.seen)
    assert(engineRecords(spark, engine, seeds) === oracle.records)
    // 7 profiles at 4/wave = ceil(7/4)=2 waves + index wave → 3 waves total
    assert(engine.waves === 3)
  }

  test("single host, 3 per wave: ordering, seen set and records match exactly") {
    val site = SiteConfig(universities = 1, deptsPerU = 1, facultyPerDept = 9)
    val (seeds, oracle, engine) = runBoth(site, CrawlConfig(waveSeconds = 3.0))
    // per-host sequences are the invariant; single host ⇒ identical global order
    assert(engineOrder(engine) === oracle.crawlOrder)
    assert(engine.seen.collect().map(_.getAs[String]("url")).toSet === oracle.seen)
    assert(engineRecords(spark, engine, seeds) === oracle.records)
  }

  // The leaf-wave rule: a wave with no fetched page below maxDepth skips
  // discovery. At maxDepth 1 every profile wave is a leaf; at maxDepth 2 none
  // is (its links are all duplicates), so both must give the oracle's crawl,
  // in memory and in snapshot mode.
  private val leafRegimes: Seq[(String, () => CrawlConfig)] = Seq(
    "memory mode"   -> (() => CrawlConfig()),
    "snapshot mode" -> (() => CrawlConfig(
      snapshotDir = Some(java.nio.file.Files.createTempDirectory("graft_leaf").toString))))

  for ((regime, cfg) <- leafRegimes; maxDepth <- Seq(1, 2))
    test(s"leaf waves, $regime, maxDepth $maxDepth: order, seen set and records match") {
      // 2 hosts × 5 profiles at 2 per wave: an index wave, then 3 profile waves
      val site = SiteConfig(universities = 2, deptsPerU = 1, facultyPerDept = 5,
        errorFraction = 0.2)
      // every host's rule is the default (allow all, 1 s delay), so the rules
      // change no budget; the selection still looks each host up in them
      val rules = SyntheticSite.seeds(site).map(s => RobotsRule(
        graft.urls.Urls.hostOf(graft.urls.Urls.normalize(s.url)), Nil, Robots.DefaultCrawlDelayS))
      val (seeds, oracle, engine) =
        runBoth(site, cfg().copy(maxDepth = maxDepth, waveSeconds = 2.0), rules)
      val got = engineOrder(engine).groupBy(_._1).view.mapValues(_.map(_._2)).toMap
      val exp = oracle.crawlOrder.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
      assert(got === exp)
      assert(engine.seen.collect().map(_.getAs[String]("url")).toSet === oracle.seen)
      assert(engineRecords(spark, engine, seeds) === oracle.records)
      assert(engine.waves === 4)
      // only the index wave enqueues: every profile link is a duplicate
      val enqueued = engine.metrics.select("wave", "urlsEnqueued").distinct().collect()
        .map(r => r.getInt(0) -> r.getLong(1)).toMap
      val profiles = (oracle.seen.size - seeds.size).toLong
      assert(enqueued === Map(0 -> profiles, 1 -> 0L, 2 -> 0L, 3 -> 0L))
      engine.release()
    }
}
