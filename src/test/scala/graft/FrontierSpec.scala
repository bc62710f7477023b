package graft

import graft.frontier.{BloomTable, PartitionedBloom, Robots, UrlSeen, WaveSelector}
import graft.model.RobotsRule
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import GenHelper.samples

/** Frontier-machinery invariants (SURVEY §5.2 #4): Bloom never drops a truly
  * unseen URL, salted selection preserves exact per-host top-k, robots deny
  * prefixes and budgets apply.
  */
class FrontierSpec extends SparkSpec {
  import spark.implicits._

  test("property: Bloom pre-filter + exact anti-join never drops an unseen key") {
    val gen = for {
      seenKeys <- Gen.listOf(Gen.chooseNum(-5000L, 5000L)).map(_.distinct)
      candKeys <- Gen.nonEmptyListOf(Gen.chooseNum(-5000L, 5000L)).map(_.distinct)
    } yield (seenKeys, candKeys)
    samples(gen, 12).foreach { case (seenKeys, candKeys) =>
      val seen = seenKeys.toDF("url_hash")
      val cand = candKeys.toDF("url_hash")
      // tiny expectedTotal forces a high Bloom FP rate → exercises the rescue path
      val bloom = PartitionedBloom.empty(nShards = 4, expectedTotal = 64, fpp = 0.5)
      seenKeys.foreach(bloom.put)
      seenKeys.foreach(k => assert(bloom.mightContain(k), "bloom must have no false negatives"))
      val got = UrlSeen.filterUnseen(cand, seen, bloom)
        .collect().map(_.getLong(0)).toSet
      assert(got === (candKeys.toSet -- seenKeys.toSet))
    }
  }

  test("property: sharded Bloom table probe never drops an unseen key") {
    // same exactness contract as the broadcast variant, via the distributed
    // BloomTable path the crawl engine uses (shard-local residency)
    val gen = for {
      seenKeys <- Gen.listOf(Gen.chooseNum(-5000L, 5000L)).map(_.distinct)
      candKeys <- Gen.nonEmptyListOf(Gen.chooseNum(-5000L, 5000L)).map(_.distinct)
    } yield (seenKeys, candKeys)
    samples(gen, 8).foreach { case (seenKeys, candKeys) =>
      val seen = seenKeys.toDF("url_hash")
      val cand = candKeys.toDF("url_hash")
      // tiny expectedTotal forces a high FP rate → exercises the rescue path;
      // empty seen exercises the missing-shard (no bloom) fast path
      val blooms = BloomTable.fromHashes(seen, nShards = 4, expectedTotal = 64, fpp = 0.5)
      val got = UrlSeen.filterUnseenSharded(cand, seen, blooms, nShards = 4)
        .collect().map(_.getLong(0)).toSet
      assert(got === (candKeys.toSet -- seenKeys.toSet))
    }
  }

  test("bloom table: distributed build+merge has no false negatives; counts sum") {
    val a = BloomTable.fromHashes((0L until 600L).toDF("url_hash"),
      nShards = 16, expectedTotal = 1 << 14, fpp = 0.01)
    val b = BloomTable.fromHashes((600L until 1000L).toDF("url_hash"),
      nShards = 16, expectedTotal = 1 << 14, fpp = 0.01)
    val merged = BloomTable.merge(a, b)
    assert(BloomTable.totalKeys(merged) === 1000L)
    // every inserted key must hit its own shard after the distributed merge
    val shards = merged.collect().map(s => s.shard ->
      org.apache.spark.util.sketch.BloomFilter.readFrom(
        new java.io.ByteArrayInputStream(s.bytes))).toMap
    (0L until 1000L).foreach { k =>
      val sh = BloomTable.shardOf(k, 16)
      assert(shards(sh).mightContainLong(k), s"false negative for $k in shard $sh")
    }
  }

  test("salted selection == unsalted selection == exact per-host top-k") {
    val gen = for {
      n <- Gen.chooseNum(1, 300)
      rows <- Gen.listOfN(n, for {
        host <- Gen.chooseNum(0, 5).map(h => s"h$h")
        pri  <- Gen.chooseNum(0, 20).map(_.toDouble) // coarse → many ties
        id   <- Gen.chooseNum(0L, 100000L)
      } yield (host, pri, id))
    } yield rows.distinctBy(_._3)
    samples(gen, 8).foreach { rows =>
      val df = rows.toDF("host", "priority", "urlHash")
        .withColumn("discoveredWave", lit(0))
        .withColumn("discoveredRank", col("urlHash"))
        .withColumn("url", concat(lit("u"), col("urlHash")))
        .withColumn("depth", lit(1))
        .withColumn("retries", lit(0))
        .withColumn("parentUrl", lit(""))
        .withColumn("budget", lit(4L))
      def sel(s: Int) = WaveSelector.select(df, s)
        .select("host", "host_rank", "urlHash")
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
      val expected = rows.groupBy(_._1).flatMap { case (h, rs) =>
        rs.sortBy(r => (-r._2, r._3, r._3)).take(4).zipWithIndex
          .map { case (r, i) => (h, i.toLong, r._3) }
      }.toSet
      assert(sel(1) === expected)
      assert(sel(4) === expected, "salted two-stage selection must be exact")
      assert(sel(16) === expected)
      // the native TypedImperativeAggregate selector (the crawl-engine
      // default) must be exact-equal too
      val nat = graft.frontier.TopKSelectNative.select(df)
        .select("host", "host_rank", "urlHash")
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
      assert(nat === expected, "native top-k selection must be exact")
    }
  }

  test("native selection is input-order and partitioning invariant") {
    // the distributed bounded-heap top-k must not depend on row arrival
    // order or partition layout (its tiebreak order is total via urlHash)
    val rows = (1 to 400).map(i => (s"h${i % 5}", (i % 13).toDouble, i.toLong))
    def df(seed: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame) = seed(rows.toDF("host", "priority", "urlHash"))
      .withColumn("discoveredWave", lit(0))
      .withColumn("discoveredRank", col("urlHash"))
      .withColumn("url", concat(lit("u"), col("urlHash")))
      .withColumn("depth", lit(1))
      .withColumn("retries", lit(0))
      .withColumn("parentUrl", lit(""))
      .withColumn("budget", lit(6L))
    def sel(d: org.apache.spark.sql.DataFrame) =
      graft.frontier.TopKSelectNative.select(d)
        .select("host", "host_rank", "urlHash")
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    val a = sel(df(identity))
    val b = sel(df(_.orderBy(col("urlHash").desc).repartition(7)))
    val c = sel(df(_.repartition(3, col("priority"))))
    assert(a === b)
    assert(a === c)
    // and the window selector agrees on the same input
    assert(WaveSelector.select(df(identity))
      .select("host", "host_rank", "urlHash")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet === a)
  }

  test("native buffer: split + serialize round-trip + merge equals sorted top-k") {
    // the native TypedImperativeAggregate's partial-aggregation invariant:
    // any split of a candidate stream into partial buffers, each pushed
    // through the shuffle byte format, merged in any order, must finish as
    // the sorted top-k (priority desc, then urlHash asc)
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.unsafe.types.UTF8String
    val expr = graft.frontier.TopKSelectNative(Literal("u"), Literal(0L),
      Literal("h"), Literal(1), Literal(1.0), Literal(0), Literal(0),
      Literal(0L), Literal(""), Literal(9L))
    def cand(id: Long) = new graft.frontier.NativeCand(
      UTF8String.fromString(s"u$id"), id, UTF8String.fromString("h"), 1,
      (id % 17).toDouble, 0, 0, id, UTF8String.fromString(""))
    val rnd = new scala.util.Random(23)
    (1 to 20).foreach { _ =>
      val n = 1 + rnd.nextInt(60)
      val ids = rnd.shuffle((0L until 200L).toList).take(n)
      val bufs = ids.grouped(1 + rnd.nextInt(4)).toList.map { p =>
        val b = expr.createAggregationBuffer()
        b.k = 9L
        p.foreach(id => b.insert(cand(id)))
        expr.deserialize(expr.serialize(b)) // through the shuffle format
      }
      val merged = bufs.reduce(expr.merge)
      val got = expr.eval(merged)
        .asInstanceOf[org.apache.spark.sql.catalyst.util.GenericArrayData]
        .array.map(_.asInstanceOf[InternalRow])
        .map(r => (r.getUTF8String(0).toString, r.getLong(1), r.getDouble(4)))
        .toSeq
      val want = ids.sortBy(id => (-(id % 17).toDouble, id)).take(9)
        .map(id => (s"u$id", id, (id % 17).toDouble))
      assert(got === want, s"n=$n")
    }
  }

  test("native selector rejects differing budgets on one host (constant-budget contract)") {
    // the aggregate sizes each host's selection by its budget, which must be
    // host-constant (the engine derives it from the host crawl delay); a
    // caller passing per-row budgets must fail loudly, not get a silently
    // mis-sized batch
    import org.apache.spark.sql.catalyst.expressions.{BoundReference, GenericInternalRow}
    import org.apache.spark.sql.types._
    import org.apache.spark.unsafe.types.UTF8String
    val types = Seq(StringType, LongType, StringType, IntegerType, DoubleType,
      IntegerType, IntegerType, LongType, StringType, LongType)
    val refs = types.zipWithIndex.map { case (t, i) => BoundReference(i, t, nullable = false) }
    val expr = graft.frontier.TopKSelectNative(refs(0), refs(1), refs(2),
      refs(3), refs(4), refs(5), refs(6), refs(7), refs(8), refs(9))
    def row(id: Long, budget: Long) = new GenericInternalRow(Array[Any](
      UTF8String.fromString(s"u$id"), id, UTF8String.fromString("h"), 1, 1.0,
      0, 0, id, UTF8String.fromString(""), budget))
    val b = expr.update(expr.createAggregationBuffer(), row(1L, 4L))
    val exUpd = intercept[IllegalArgumentException] { expr.update(b, row(2L, 5L)) }
    assert(exUpd.getMessage.contains("constant per-host budget"))
    val b2 = expr.update(expr.createAggregationBuffer(), row(3L, 5L))
    val exMrg = intercept[IllegalArgumentException] { expr.merge(b, b2) }
    assert(exMrg.getMessage.contains("constant per-host budget"))
    // an empty buffer merges with either side
    assert(expr.merge(expr.createAggregationBuffer(), b2).k === 5L)
    // end-to-end: the contract violation surfaces as a job failure
    val df = Seq(("h", 1.0, 1L, 4L), ("h", 2.0, 2L, 5L))
      .toDF("host", "priority", "urlHash", "budget")
      .withColumn("discoveredWave", lit(0))
      .withColumn("discoveredRank", col("urlHash"))
      .withColumn("url", concat(lit("u"), col("urlHash")))
      .withColumn("depth", lit(1))
      .withColumn("retries", lit(0))
      .withColumn("parentUrl", lit(""))
    def chain(t: Throwable): Seq[String] =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null).map(_.getMessage).toSeq
    val exNat = intercept[Exception] {
      graft.frontier.TopKSelectNative.select(df).collect()
    }
    assert(chain(exNat).exists(m => m != null && m.contains("constant per-host budget")))
  }

  test("per-host per-wave budget is never exceeded (politeness invariant)") {
    val rows = (1 to 500).map(i => (s"h${i % 3}", i.toDouble, i.toLong))
    val df = rows.toDF("host", "priority", "urlHash")
      .withColumn("discoveredWave", lit(0))
      .withColumn("discoveredRank", col("urlHash"))
      .withColumn("url", concat(lit("u"), col("urlHash")))
      .withColumn("budget", lit(7L))
    val counts = WaveSelector.select(df, 4).groupBy("host").count()
      .collect().map(_.getLong(1))
    assert(counts.forall(_ <= 7L))
    assert(counts.length === 3)
  }

  test("robots: deny prefixes drop URLs; crawl_delay drives the wave budget") {
    val rules = Robots.rulesDF(spark, Seq(
      RobotsRule("h1.com", Seq("/private", "/tmp"), 0.5),
      RobotsRule("h2.com", Nil, 2.0)))
    val frontier = Seq(
      ("h1.com", "https://h1.com/private/x"),
      ("h1.com", "https://h1.com/public/x"),
      ("h2.com", "https://h2.com/anything"),
      ("h3.com", "https://h3.com/no-rule")).toDF("host", "url")
    val got = Robots.withRules(frontier, rules)
      .withColumn("budget", Robots.waveBudget(4.0))
      .select("url", "allowed", "crawl_delay_s", "budget")
      .collect().map(r => (r.getString(0), r.getBoolean(1), r.getDouble(2), r.getLong(3)))
      .toSet
    assert(got === Set(
      ("https://h1.com/private/x", false, 0.5, 8L),
      ("https://h1.com/public/x", true, 0.5, 8L),
      ("https://h2.com/anything", true, 2.0, 2L),
      ("https://h3.com/no-rule", true, 1.0, 4L))) // default: allow, 1s (scraper.py:83)
  }

  test("robots.txt parser: groups, agent specificity, crawl-delay, comments") {
    val txt =
      """# robots for example.edu
        |Sitemap: https://example.edu/sitemap.xml
        |
        |User-agent: badbot
        |Disallow: /
        |
        |User-agent: graftbot
        |User-agent: otherbot
        |Disallow: /private/   # trailing comment
        |Disallow:
        |Crawl-delay: 2.5
        |Allow: /private/ok
        |
        |User-agent: *
        |Disallow: /tmp
        |Crawl-delay: not-a-number
        |""".stripMargin
    // specific agent group wins; empty Disallow ignored; delay parsed
    val mine = Robots.parseRobotsTxt("example.edu", txt, agent = "graftbot")
    assert(mine === RobotsRule("example.edu", Seq("/private/"), 2.5))
    // shared group via consecutive UA lines
    val other = Robots.parseRobotsTxt("example.edu", txt, agent = "OtherBot")
    assert(other.denyPrefixes === Seq("/private/"))
    // RFC 9309 product-token matching: the group's UA token is a
    // case-insensitive PREFIX of the crawler's agent string
    val versioned = Robots.parseRobotsTxt("example.edu", txt, agent = "GraftBot/1.0")
    assert(versioned === RobotsRule("example.edu", Seq("/private/"), 2.5))
    // unmatched agent falls back to the * group; bad delay → default
    val anon = Robots.parseRobotsTxt("example.edu", txt, agent = "anon")
    assert(anon === RobotsRule("example.edu", Seq("/tmp"), Robots.DefaultCrawlDelayS))
    // no groups at all → conservative default
    assert(Robots.parseRobotsTxt("h", "just text") === RobotsRule("h", Nil, 1.0))
  }

  test("robots rules beyond broadcast: shuffle-join regime is plan-real and result-identical") {
    val rules = Robots.rulesDF(spark, Seq(
      RobotsRule("h1.com", Seq("/private"), 0.5),
      RobotsRule("h2.com", Nil, 2.0)))
    val frontier = Seq(
      ("h1.com", "https://h1.com/private/x"),
      ("h1.com", "https://h1.com/public/x"),
      ("h2.com", "https://h2.com/anything"),
      ("h3.com", "https://h3.com/no-rule")).toDF("host", "url")
    def result(broadcastRules: Boolean) =
      Robots.withRules(frontier, rules, broadcastRules)
        .select("url", "allowed", "crawl_delay_s")
        .collect().map(r => (r.getString(0), r.getBoolean(1), r.getDouble(2))).toSet
    assert(result(broadcastRules = false) === result(broadcastRules = true))
    val plan = Robots.withRules(frontier, rules, broadcastRules = false)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastHashJoin"),
      s"above-threshold rules must not broadcast:\n$plan")
  }

  test("property: driver-merged robots rules equal the per-wave groupBy merge on duplicate hosts") {
    // the merge the crawl used to run in every wave, restated: rules grouped
    // by host inside the plan (deny prefixes unioned, largest delay kept)
    def groupByMerged(rules: org.apache.spark.sql.DataFrame) = rules.groupBy(col("host")).agg(
      array_sort(array_distinct(flatten(collect_list(col("denyPrefixes"))))).as("denyPrefixes"),
      max(col("crawlDelayS")).as("crawlDelayS"))
    val hosts = Seq("h0.com", "h1.com", "h2.com")
    val rule = for {
      host  <- Gen.oneOf(hosts)
      deny  <- Gen.listOf(Gen.oneOf("/a", "/b", "/p", "/p/x", "/private"))
      delay <- Gen.oneOf(0.25, 0.5, 1.0, 2.0, 3.0)
    } yield RobotsRule(host, deny, delay)
    val gen = for {
      rules <- Gen.nonEmptyListOf(rule)
      paths <- Gen.nonEmptyListOf(Gen.oneOf("/a/1", "/b", "/p/x/2", "/p2", "/q", "/private/z"))
    } yield (rules, paths)
    samples(gen, 12).foreach { case (rules, paths) =>
      val frontier = (hosts :+ "h3.com").flatMap(h => paths.distinct.map(p => (h, s"https://$h$p")))
        .toDF("host", "url")
      def result(rulesSide: org.apache.spark.sql.DataFrame) =
        Robots.withRules(frontier, rulesSide)
          .withColumn("budget", Robots.waveBudget(3.0))
          .select("url", "allowed", "crawl_delay_s", "budget").collect()
          .map(r => (r.getString(0), r.getBoolean(1), r.getDouble(2), r.getLong(3))).toSet
      val merged = Robots.mergeRules(rules)
      assert(merged.map(_.host).distinct.size === merged.size, "one row per host")
      val got = result(Robots.rulesDF(spark, merged))
      assert(got.size === frontier.count(), "merged rules must not fan the frontier out")
      assert(got === result(groupByMerged(Robots.rulesDF(spark, rules))), s"rules: $rules")
    }
  }

  test("robots fetch: per-host robots.txt probed through the fetcher") {
    import graft.model.{Span, SpanDoc}
    val bodies = Map(
      "a.edu" -> "User-agent: *\nDisallow: /admin\nCrawl-delay: 4",
      "b.edu" -> "User-agent: *\nDisallow:")
    val fetcher: String => Option[SpanDoc] = url => {
      val host = url.stripPrefix("https://").takeWhile(_ != '/')
      if (url.endsWith("/robots.txt"))
        bodies.get(host).map(b =>
          SpanDoc(url, b.linesIterator.zipWithIndex.map { case (l, i) =>
            Span("text", l, "", i) }.toArray))
      else None
    }
    val rules = Robots.fetchRules(spark, Seq("a.edu", "b.edu", "c.edu"), fetcher)
      .map(r => r.host -> r).toMap
    assert(rules("a.edu") === RobotsRule("a.edu", Seq("/admin"), 4.0))
    assert(rules("b.edu") === RobotsRule("b.edu", Nil, 1.0))
    assert(rules("c.edu") === RobotsRule("c.edu", Nil, 1.0)) // no robots.txt
  }

  test("broadcast Bloom: a wave whose new keys exceed the filter's sizing throws") {
    // one index page that links 24 profiles; the filter is sized for 8 keys
    val site = graft.synth.SyntheticSite.SiteConfig(universities = 1, deptsPerU = 1,
      facultyPerDept = 24)
    val cfg = graft.crawl.WaveRunner.CrawlConfig(bloomExpected = 8L)
    assert(cfg.bloomBroadcastable)
    val e = intercept[Exception] {
      graft.crawl.WaveRunner.run(spark, graft.synth.SyntheticSite.seeds(site),
        graft.synth.SyntheticSite.fetcher(site), Nil, cfg)
    }
    val causes = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null).toSeq
    assert(causes.exists(c => c.isInstanceOf[IllegalStateException] &&
      c.getMessage.contains("sized for 8 keys")), e.toString)
    // all or none: a put that does not fit leaves the filter as it was
    val pb = PartitionedBloom.empty(nShards = 4, expectedTotal = 100, fpp = 0.01)
    pb.putAll((0L until 60L).toArray)
    intercept[IllegalStateException](pb.putAll((60L until 120L).toArray))
    assert(pb.size === 60L)
  }

  test("partitioned bloom: shard merge and scaling math hold") {
    // the driver put of collected hashes (every broadcast-regime wave, and
    // resume) and the distributed BloomTable build of the same keys (the
    // sharded regime) must give bit-identical shards and the same key count
    val keys = (-500L until 500L).map(_ * 0x9E3779B97F4A7C15L)
    val put = PartitionedBloom.empty(nShards = 16, expectedTotal = 1 << 14, fpp = 0.01)
    val n = put.putHashes(keys.toDF("url_hash").repartition(4))
    val table = BloomTable.fromHashes(keys.toDF("url_hash"),
      nShards = 16, expectedTotal = 1 << 14, fpp = 0.01).collect().sortBy(_.shard)
    def bytes(bf: org.apache.spark.util.sketch.BloomFilter): Seq[Byte] = {
      val bos = new java.io.ByteArrayOutputStream()
      bf.writeTo(bos)
      bos.toByteArray.toSeq
    }
    assert(n === keys.size.toLong)
    assert(put.size === keys.size.toLong)
    assert(table.map(_.n).sum === n)
    assert(table.map(_.shard).toSeq === (0 until 16))
    assert(table.map(_.bytes.toSeq).toSeq === put.shards.map(bytes).toSeq)
    keys.foreach(k => assert(put.mightContain(k)))
    // a copy probes the same bits and does not see later puts
    val copy = put.copy()
    assert(copy.shards.map(bytes).toSeq === put.shards.map(bytes).toSeq)
    put.put(7L)
    assert(copy.size === n && put.size === n + 1)
    // documented 10^10 sizing: ~9.6 bits/key at 1% fpp → ~1.2 GB per 10^9 keys,
    // sharded so a single shard stays executor-resident
    val bitsPerKey = -math.log(0.01) / (math.log(2) * math.log(2))
    assert(bitsPerKey > 9 && bitsPerKey < 10.1)
  }
}
