package graft

import graft.frontier.{BloomTable, NativeCand, NativeTopKBuf, Robots, UrlSeen, WaveSelector}
import graft.model.{FrontierEntry, FrontierStatus, RobotsRule}
import org.apache.spark.ShuffleDependency
import org.apache.spark.rdd.RDD
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, GraftRows}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import GenHelper.samples

/** Frontier-machinery invariants (SURVEY §5.2 #4): Bloom never drops a truly
  * unseen URL, batch selection is the exact per-host top-k, robots deny
  * prefixes and budgets apply.
  */
class FrontierSpec extends SparkSpec {
  import spark.implicits._

  /** The per-host top-`budget` of `rows` restated in Scala: priority desc,
    * then urlHash asc (the frontier order when wave and rank tie with it).
    */
  private def topK(rows: Seq[(String, Double, Long)], budget: Int): Set[(String, Long, Long)] =
    rows.groupBy(_._1).flatMap { case (h, rs) =>
      rs.sortBy(r => (-r._2, r._3)).take(budget).zipWithIndex
        .map { case (r, i) => (h, i.toLong, r._3) }
    }.toSet

  private def hashKeys(keys: Seq[Long]): RDD[Long] =
    UrlSeen.keysOf(GraftRows.rows(keys.toDF("url_hash")), 0)

  /** A pending depth-1 frontier row; discoveredRank = urlHash. */
  private def entry(url: String, hash: Long, priority: Double): FrontierEntry =
    FrontierEntry(url, hash, graft.urls.Urls.hostOf(url), 1, priority, FrontierStatus.Pending,
      0, 0, hash, "")

  /** A batch row: host, host_rank, url, then the other frontier fields. */
  private type Batched = (String, Long, String, Long, Int, Double, Int, Int, Long, String)

  /** `entries` as stored frontier rows, over 4 partitions unless `layout`
    * places them otherwise.
    */
  private def stored(entries: Seq[FrontierEntry],
      layout: DataFrame => DataFrame = _.repartition(4)): RDD[InternalRow] = {
    val rows = GraftRows.rows(layout(entries.toDF())).map(_.copy())
    rows.localCheckpoint()
    rows.count()
    rows
  }

  /** The batch [[WaveSelector.select]] takes from `rows`, in (host,
    * host_rank) order, with `rules` merged and broadcast as a crawl does.
    */
  private def batchOf(rows: RDD[InternalRow], rules: Seq[RobotsRule], waveSeconds: Double,
      maxRetries: Int): Seq[Batched] = {
    val byHost = spark.sparkContext.broadcast(Robots.mergeRules(rules).map(r => r.host -> r).toMap)
    try WaveSelector.select(rows, byHost, waveSeconds, maxRetries, heapPartitions = 3,
        fetchPartitions = 5)
      .map(r => (r.getUTF8String(2).toString, r.getLong(9), r.getUTF8String(0).toString,
        r.getLong(1), r.getInt(3), r.getDouble(4), r.getInt(5), r.getInt(6), r.getLong(7),
        r.getUTF8String(8).toString))
      .collect().toSeq.sortBy(b => (b._1, b._2))
    finally byHost.destroy()
  }

  /** (host, host_rank, urlHash) of the batch [[WaveSelector.select]] takes
    * from pending rows (host, priority, urlHash) stored by `layout`, with no
    * robots rules: every host's budget is `budget` (at the default 1 s delay).
    */
  private def selected(rows: Seq[(String, Double, Long)], budget: Int,
      layout: DataFrame => DataFrame = _.repartition(4)): Set[(String, Long, Long)] = {
    val frontier = stored(rows.map { case (h, p, id) => entry(s"https://$h/u$id", id, p) }, layout)
    try batchOf(frontier, Nil, waveSeconds = budget.toDouble, maxRetries = 0)
      .map(b => (b._1, b._2, b._4)).toSet
    finally GraftRows.release(frontier)
  }

  test("property: Bloom pre-filter + exact anti-join never drops an unseen key") {
    val gen = for {
      seenKeys <- Gen.listOf(Gen.chooseNum(-5000L, 5000L)).map(_.distinct)
      candKeys <- Gen.nonEmptyListOf(Gen.chooseNum(-5000L, 5000L)).map(_.distinct)
    } yield (seenKeys, candKeys)
    samples(gen, 12).foreach { case (seenKeys, candKeys) =>
      // the crawl's own calls: seen keys and candidates placed alike, and a
      // table seeded lazily from the seen keys, as the crawl's entry is
      val placement = BloomTable.placement(nShards = 4, partitions = 3)
      val seen = UrlSeen.place(spark.sparkContext.parallelize(seenKeys, 2), placement)
      val cand = spark.sparkContext.parallelize(candKeys.map(h => (h, InternalRow(h))), 2)
        .partitionBy(placement)
      // tiny expectedTotal forces a high Bloom FP rate → exercises the rescue path
      val table = new BloomTable(seen, seenKeys.size.toLong, placement, expectedTotal = 64,
        fpp = 0.5)
      // the probe's job builds the shards
      val got = UrlSeen.exact(UrlSeen.flagSharded(cand, table.shards, placement), seen)
        .map(_.getLong(0)).collect().toSet
      assert(got === (candKeys.toSet -- seenKeys.toSet))
      val shards = table.shards.collect().map(s => s.shard -> s.bloom).toMap
      seenKeys.foreach(k => assert(shards(BloomTable.shardOf(k, 4)).mightContainLong(k),
        "bloom must have no false negatives"))
      GraftRows.release(table.shards)
    }
  }

  test("property: sharded Bloom table probe never drops an unseen key") {
    // same exactness contract through the DataFrame form, which builds the
    // shard rows for one query and does not store them
    val gen = for {
      seenKeys <- Gen.listOf(Gen.chooseNum(-5000L, 5000L)).map(_.distinct)
      candKeys <- Gen.nonEmptyListOf(Gen.chooseNum(-5000L, 5000L)).map(_.distinct)
    } yield (seenKeys, candKeys)
    samples(gen, 8).foreach { case (seenKeys, candKeys) =>
      val seen = seenKeys.toDF("url_hash")
      val cand = candKeys.toDF("url_hash")
      // tiny expectedTotal forces a high FP rate → exercises the rescue path;
      // empty seen exercises the empty-shard fast path
      val got = UrlSeen.filterUnseenSharded(cand, seen, nShards = 4, expectedTotal = 64,
        fpp = 0.5).collect().map(_.getLong(0)).toSet
      assert(got === (candKeys.toSet -- seenKeys.toSet))
    }
  }

  test("bloom table: distributed build+merge has no false negatives; counts sum") {
    // a lazy build from entry keys, then a put grown into the shards where
    // they live (the put's job stores both)
    val table = new BloomTable(hashKeys(0L until 600L), 600L,
      BloomTable.placement(nShards = 16, partitions = 8), expectedTotal = 1 << 14, fpp = 0.01)
    assert(table.size === 600L)
    assert(table.putKeys(hashKeys(600L until 1000L)) === 400L)
    assert(table.size === 1000L)
    val shards = table.shards.collect()
    assert(shards.map(_.keys).sum === 1000L)
    assert(shards.map(_.shard).sorted.toSeq === (0 until 16))
    // every inserted key must hit its own shard
    val byShard = shards.map(s => s.shard -> s.bloom).toMap
    (0L until 1000L).foreach { k =>
      val sh = BloomTable.shardOf(k, 16)
      assert(byShard(sh).mightContainLong(k), s"false negative for $k in shard $sh")
    }
    table.shards.unpersist()
  }

  test("placed URL-seen steps move nothing: no shuffle in the check, one stage per put") {
    // candidates, seen key parts and shards share one placement, so the exact
    // check is partition-local and a put of placed keys zips with its shards
    val sc = spark.sparkContext
    val placement = BloomTable.placement(nShards = 16, partitions = 8)
    def stored[T](rdd: RDD[T]): RDD[T] = { rdd.localCheckpoint(); rdd.count(); rdd }
    def shuffles(rdd: RDD[_]): Int = rdd.dependencies.map { d =>
      (if (d.isInstanceOf[ShuffleDependency[_, _, _]]) 1 else 0) + shuffles(d.rdd) }.sum
    val parts = Seq(0L until 300L, 300L until 600L)
      .map(ks => stored(UrlSeen.place(sc.parallelize(ks, 3), placement)))
    val seen = sc.union(parts)
    val cands = stored(sc.parallelize((500L until 900L).map(h => (h, InternalRow(h))), 3)
      .partitionBy(placement))
    // the table starts from the first part, lazily: the put of the second
    // builds the first part's shards in its own one stage
    val table = new BloomTable(parts.head, 300L, placement, expectedTotal = 1 << 12, fpp = 0.01)
    val stages = new java.util.concurrent.atomic.AtomicLong(0L)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        stages.addAndGet(e.stageInfos.size.toLong); ()
      }
    }
    sc.addSparkListener(listener)
    try table.putKeys(parts(1))
    finally {
      org.apache.spark.GraftListenerSync.drain(sc)
      sc.removeSparkListener(listener)
    }
    assert(stages.get() === 1L, "a put of placed keys is one job of one stage")
    assert(table.size === 600L)
    val shardedChecked = UrlSeen.exact(UrlSeen.flagSharded(cands, table.shards, placement), seen)
    assert(shuffles(shardedChecked) === 0)
    assert(shardedChecked.map(_.getLong(0)).collect().toSet === (600L until 900L).toSet)
    (cands +: table.shards +: parts).foreach(GraftRows.release)
  }

  test("native selection == exact per-host top-k restated in Scala") {
    val gen = for {
      n <- Gen.chooseNum(1, 300)
      rows <- Gen.listOfN(n, for {
        host <- Gen.chooseNum(0, 5).map(h => s"h$h")
        pri  <- Gen.chooseNum(0, 20).map(_.toDouble) // coarse → many ties
        id   <- Gen.chooseNum(0L, 100000L)
      } yield (host, pri, id))
    } yield rows.distinctBy(_._3)
    samples(gen, 8).foreach { rows =>
      assert(selected(rows, 4) === topK(rows, 4), "native top-k selection must be exact")
    }
  }

  test("native selection is input-order and partitioning invariant") {
    // the distributed bounded-heap top-k must not depend on row arrival
    // order or partition layout (its tiebreak order is total via urlHash)
    val rows = (1 to 400).map(i => (s"h${i % 5}", (i % 13).toDouble, i.toLong))
    val a = selected(rows, 6)
    assert(selected(rows, 6, _.orderBy(col("urlHash").desc).repartition(7)) === a)
    assert(selected(rows, 6, _.repartition(3, col("priority"))) === a)
    assert(a === topK(rows, 6))
  }

  test("property: the row selector == per-host top-k restated in Scala") {
    // hosts with and without rules, deny prefixes that match and that do
    // not, budgets from non-integral quotients and of 1, non-pending rows,
    // rows past maxRetries, and priority ties broken by (discoveredWave,
    // discoveredRank, urlHash)
    val hosts = Seq("h0.edu", "h1.edu", "h2.edu", "h3.edu")
    val rule = for {
      host  <- Gen.oneOf(hosts.take(3))
      deny  <- Gen.chooseNum(0, 2).flatMap(Gen.listOfN(_,
        Gen.oneOf("/pu", "/people/x", "/private", "/z", "/none")))
      delay <- Gen.oneOf(0.3, 0.7, 1.0, 2.5, 4.0)
    } yield RobotsRule(host, deny, delay)
    val row = for {
      host   <- Gen.oneOf(hosts)
      path   <- Gen.oneOf("/people/x", "/people/y", "/private/a", "/pub", "/zz")
      pri    <- Gen.oneOf(1.0, 10.0, 110.0)
      status <- Gen.frequency(6 -> FrontierStatus.Pending, 1 -> FrontierStatus.Fetched,
        1 -> FrontierStatus.Error)
      retries <- Gen.chooseNum(0, 2)
      wave   <- Gen.chooseNum(0, 2)
      rank   <- Gen.chooseNum(0L, 3L)
      hash   <- Gen.chooseNum(-1000000L, 1000000L)
    } yield FrontierEntry(s"https://$host$path/$hash", hash, host, wave, pri, status, retries,
      wave, rank, "")
    val gen = for {
      rules <- Gen.chooseNum(0, 4).flatMap(Gen.listOfN(_, rule))
      rows  <- Gen.chooseNum(1, 150).flatMap(Gen.listOfN(_, row)).map(_.distinctBy(_.urlHash))
    } yield (rules, rows)
    val waveSeconds = 2.0
    val maxRetries = 1
    samples(gen, 10, seed = 20261017L).foreach { case (rules, rows) =>
      val byHost = Robots.mergeRules(rules).map(r => r.host -> r).toMap
      val want = rows
        .filter(e => e.status == FrontierStatus.Pending && e.retries <= maxRetries)
        .filterNot(e => byHost.get(e.host).exists(_.denyPrefixes.exists(
          e.url.stripPrefix(s"https://${e.host}").startsWith(_))))
        .groupBy(_.host).toSeq.flatMap { case (h, es) =>
          val delay = byHost.get(h).fold(1.0)(_.crawlDelayS)
          es.sortBy(e => (-e.priority, e.discoveredWave, e.discoveredRank, e.urlHash))
            .take(math.max(1, (waveSeconds / delay).toInt)).zipWithIndex.map { case (e, i) =>
              (h, i.toLong, e.url, e.urlHash, e.depth, e.priority, e.retries, e.discoveredWave,
                e.discoveredRank, e.parentUrl)
            }
        }.sortBy(b => (b._1, b._2))
      val frontier = stored(rows)
      assert(batchOf(frontier, rules, waveSeconds, maxRetries) === want, s"rules: $rules")
      GraftRows.release(frontier)
    }
  }

  test("native buffer: split + serialize round-trip + merge equals sorted top-k") {
    // the row selector's heap shuffle invariant: any split of a candidate
    // stream into per-partition heaps, each pushed through the shuffle byte
    // format, merged in any order, must finish as the sorted top-k
    // (priority desc, then urlHash asc)
    import org.apache.spark.unsafe.types.UTF8String
    def cand(id: Long) = new NativeCand(
      UTF8String.fromString(s"u$id"), id, UTF8String.fromString("h"), 1,
      (id % 17).toDouble, 0, 0, id, UTF8String.fromString(""))
    val rnd = new scala.util.Random(23)
    (1 to 20).foreach { _ =>
      val n = 1 + rnd.nextInt(60)
      val ids = rnd.shuffle((0L until 200L).toList).take(n)
      val bufs = ids.grouped(1 + rnd.nextInt(4)).toList.map { p =>
        val b = NativeTopKBuf.empty(9L)
        p.foreach(id => b.insert(cand(id)))
        NativeTopKBuf.fromBytes(b.toBytes) // through the shuffle format
      }
      val got = rnd.shuffle(bufs).reduce(_ merge _).sorted
        .map(c => (c.url.toString, c.urlHash, c.priority)).toSeq
      val want = ids.sortBy(id => (-(id % 17).toDouble, id)).take(9)
        .map(id => (s"u$id", id, (id % 17).toDouble))
      assert(got === want, s"n=$n")
    }
  }

  test("per-host per-wave budget is never exceeded (politeness invariant)") {
    // h0 and h1 have rules (budgets 14 and 3 in a 7 s wave), h2 the default (7)
    val rules = Seq(RobotsRule("h0", Nil, 0.5), RobotsRule("h1", Nil, 2.0))
    val rows = stored((1 to 500).map(i => entry(s"https://h${i % 3}/u$i", i.toLong, i.toDouble)))
    val counts = batchOf(rows, rules, waveSeconds = 7.0, maxRetries = 0)
      .groupBy(_._1).view.mapValues(_.size).toMap
    assert(counts === Map("h0" -> 14, "h1" -> 3, "h2" -> 7))
    GraftRows.release(rows)
  }

  test("robots: deny prefixes drop URLs; crawl_delay drives the wave budget") {
    val rules = Seq(
      RobotsRule("h1.com", Seq("/private", "/tmp"), 0.5),
      RobotsRule("h2.com", Nil, 2.0))
    assert(!Robots.allows("https://h1.com/private/x", Seq("/private", "/tmp")))
    assert(Robots.allows("https://h1.com/public/x", Seq("/private", "/tmp")))
    assert(Robots.allows("https://h1.com/x/private", Seq("/private")))
    assert(Robots.waveBudget(4.0, 0.5) === 8L && Robots.waveBudget(4.0, 3.0) === 1L)
    assert(Robots.waveBudget(4.0, 8.0) === 1L, "a wave fetches at least one URL per host")
    // the denied URLs rank first on h1.com: the deny applies before the
    // budget, so h1.com still fills its budget of 8 with allowed URLs
    val denied = Seq("https://h1.com/private/x", "https://h1.com/tmp/y")
    val urls = denied ++ (0 until 10).map(i => s"https://h1.com/public/$i") ++
      (0 until 5).map(i => s"https://h2.com/anything/$i") ++
      (0 until 6).map(i => s"https://h3.com/no-rule/$i")
    val rows = stored(urls.zipWithIndex.map { case (u, i) =>
      entry(u, i.toLong, if (denied.contains(u)) 10.0 else 1.0) })
    val got = batchOf(rows, rules, waveSeconds = 4.0, maxRetries = 0)
    assert(got.groupBy(_._1).view.mapValues(_.size).toMap ===
      Map("h1.com" -> 8, "h2.com" -> 2, "h3.com" -> 4)) // default: allow, 1s (scraper.py:83)
    assert(got.forall(g => !denied.contains(g._3)))
  }

  test("property: Robots.allows == its regex form on schemes, hosts, paths and queries") {
    // the path test as it was written with a regex, restated: strip a
    // leading http:// or https:// (case-sensitive) and the authority up to
    // the first '/'
    def regexAllows(url: String, deny: Seq[String]): Boolean =
      url == null || deny == null || {
        val path = url.replaceFirst("^https?://[^/]*", "")
        !deny.exists(p => p != null && path.startsWith(p))
      }
    val url = for {
      scheme <- Gen.oneOf("https://", "http://", "HTTP://", "Https://", "ftp://", "https:/",
        "http:", "")
      host   <- Gen.oneOf("h.edu", "h.edu:8080", "", "user@h.edu", "h.edu?")
      path   <- Gen.oneOf("", "/", "/p", "/p/", "/private/x", "/people/f0?q=1", "?q=/p",
        "/p?x=/private", "#/p", "//p")
    } yield scheme + host + path
    val deny = Gen.listOf(Gen.oneOf("/", "/p", "/p/", "/private", "?q", "", "h.edu", "https:",
      "/people/f0?q", null))
    val gen = for {
      u <- Gen.frequency(20 -> url, 1 -> Gen.const(null: String))
      d <- Gen.frequency(20 -> deny, 1 -> Gen.const(null: Seq[String]))
    } yield (u, d)
    samples(gen, 2000, seed = 20261021L).foreach { case (u, d) =>
      assert(Robots.allows(u, d) === regexAllows(u, d), s"url = $u, deny = $d")
    }
    // the shapes named above, pinned
    assert(!Robots.allows("https://h.edu", Seq("")) && Robots.allows("https://h.edu", Seq("/")))
    assert(!Robots.allows("HTTP://h.edu/p", Seq("HTTP:")), "an upper-case scheme is no scheme")
    assert(!Robots.allows("h.edu/p", Seq("h.edu")), "a URL with no scheme is all path")
    assert(!Robots.allows("https://h.edu?q=/p", Seq("/p")),
      "the authority ends at the first '/', even one in a query")
    assert(Robots.allows(null, Seq("/")))
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

  test("pending >> batch: 64 hosts x 10^5 rows shuffle per-host heaps and the batch only") {
    // the crawl's scale shape: every host has far more pending rows than its
    // budget, so a selection that moved pending rows would shuffle ~10^5
    // records; bounded heaps shuffle one per host and input partition, then
    // the batch's round-robin to the fetch partitions
    val (hosts, partitions, pending) = (64, 8, 100000L)
    val rows = GraftRows.rows(spark.range(0L, pending, 1L, partitions).select(
      concat(lit("https://h"), col("id") % hosts, lit(".edu/"),
        when(col("id") % 7 === 0, "private").otherwise("public"), lit("/"), col("id")).as("url"),
      col("id").as("urlHash"),
      concat(lit("h"), col("id") % hosts, lit(".edu")).as("host"),
      lit(1).as("depth"),
      (col("id") % 11).cast("double").as("priority"),
      lit(FrontierStatus.Pending).as("status"),
      lit(0).as("retries"),
      lit(0).as("discoveredWave"),
      col("id").as("discoveredRank"),
      lit("").as("parentUrl"))).map(_.copy())
    rows.localCheckpoint()
    assert(rows.count() === pending && rows.getNumPartitions === partitions)
    // h0 denies /private and fetches at 0.5 s (budget 24); the rest default (12)
    val rules = Seq(RobotsRule("h0.edu", Seq("/private"), 0.5))
    val records = new java.util.concurrent.atomic.AtomicLong(0L)
    val listener = new SparkListener {
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit = if (t.taskMetrics != null) {
        records.addAndGet(t.taskMetrics.shuffleWriteMetrics.recordsWritten); ()
      }
    }
    spark.sparkContext.addSparkListener(listener)
    val got = try {
      val b = batchOf(rows, rules, waveSeconds = 12.0, maxRetries = 0)
      org.apache.spark.GraftListenerSync.drain(spark.sparkContext)
      b
    } finally spark.sparkContext.removeSparkListener(listener)
    GraftRows.release(rows)
    val perHost = got.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    assert(perHost.size === hosts)
    assert(perHost.forall { case (h, ranks) =>
      ranks === (0L until (if (h == "h0.edu") 24L else 12L)) })
    assert(got.size === 63 * 12 + 24)
    assert(got.filter(_._1 == "h0.edu").forall(_._3.startsWith("https://h0.edu/public/")))
    assert(records.get() <= hosts.toLong * partitions + got.size,
      s"${records.get()} records shuffled, more than one heap per host and partition " +
        "plus the batch")
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
      def result(rulesSide: Seq[RobotsRule]) = {
        val byHost = rulesSide.map(r => r.host -> r).toMap
        frontier.map { case (h, url) =>
          val delay = byHost.get(h).fold(Robots.DefaultCrawlDelayS)(_.crawlDelayS)
          (url, Robots.allows(url, byHost.get(h).fold(Seq.empty[String])(_.denyPrefixes)),
            delay, Robots.waveBudget(3.0, delay))
        }.toSet
      }
      val merged = Robots.mergeRules(rules)
      assert(merged.map(_.host).distinct.size === merged.size, "one row per host")
      val grouped = groupByMerged(rules.toDF()).collect().toSeq
        .map(r => RobotsRule(r.getString(0), r.getSeq[String](1), r.getDouble(2)))
      assert(result(merged) === result(grouped), s"rules: $rules")
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

  /** The [[IllegalStateException]] in `e`'s cause chain, if any. */
  private def stateCause(e: Throwable): Option[Throwable] =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
      .find(_.isInstanceOf[IllegalStateException])

  test("Bloom: a wave whose new keys exceed the filter's sizing throws") {
    // one index page that links 24 profiles; the filter is sized for 8 keys
    val site = graft.synth.SyntheticSite.SiteConfig(universities = 1, deptsPerU = 1,
      facultyPerDept = 24)
    val e = intercept[Exception] {
      graft.crawl.WaveRunner.run(spark, graft.synth.SyntheticSite.seeds(site),
        graft.synth.SyntheticSite.fetcher(site), Nil,
        graft.crawl.WaveRunner.CrawlConfig(bloomExpected = 8L))
    }
    assert(stateCause(e).exists(_.getMessage.contains("sized for 8 keys")), e)
    // all or none: a put that does not fit leaves the filter as it was
    val table = new BloomTable(hashKeys(0L until 60L), 60L,
      BloomTable.placement(nShards = 4, partitions = 2), expectedTotal = 100, fpp = 0.01)
    val stored = table.shards
    intercept[IllegalStateException](table.putKeys(hashKeys(60L until 120L)))
    assert(table.size === 60L && (table.shards eq stored))
    assert(table.shards.map(_.keys).sum().toLong === 60L)
    table.shards.unpersist()
  }

  test("Bloom: an entry frontier that alone overfills the filter throws before any fetch") {
    // 4 seeds and no discovery (maxDepth 0): only the entry pass counts the
    // keys, since the entry's shards are built lazily. The fetcher fails
    // the crawl differently if anything is fetched.
    val site = graft.synth.SyntheticSite.SiteConfig(universities = 1, deptsPerU = 4,
      facultyPerDept = 3)
    val seeds = graft.synth.SyntheticSite.seeds(site)
    assert(seeds.size === 4)
    val e = intercept[Exception] {
      graft.crawl.WaveRunner.run(spark, seeds,
        (url: String) => throw new UnsupportedOperationException(s"fetched $url"), Nil,
        graft.crawl.WaveRunner.CrawlConfig(bloomExpected = 2L, maxDepth = 0))
    }
    assert(stateCause(e).exists(_.getMessage.contains("sized for 2 keys")), e)
  }

  test("partitioned bloom: shard merge and scaling math hold") {
    // the shard rows, seeded lazily from entry keys and grown by a put, must
    // hold bit for bit what one filter per shard filled on the driver holds:
    // BloomFilter.create(max(64, expected / nShards), fpp), each key put
    // into shard pmod(key, nShards)
    val keys = (-500L until 500L).map(_ * 0x9E3779B97F4A7C15L)
    val (expected, nShards) = (1L << 14, 16)
    val reference = Array.fill(nShards)(
      org.apache.spark.util.sketch.BloomFilter.create(math.max(64L, expected / nShards), 0.01))
    keys.foreach(k => reference(BloomTable.shardOf(k, nShards)).putLong(k))
    val sharded = new BloomTable(hashKeys(keys.take(600)), 600L,
      BloomTable.placement(nShards, partitions = 8), expected, fpp = 0.01)
    assert(sharded.putKeys(hashKeys(keys.drop(600))) === 400L)
    val table = sharded.shards.collect().sortBy(_.shard)
    sharded.shards.unpersist()
    def bytes(bf: org.apache.spark.util.sketch.BloomFilter): Seq[Byte] = {
      val bos = new java.io.ByteArrayOutputStream()
      bf.writeTo(bos)
      bos.toByteArray.toSeq
    }
    assert(sharded.size === keys.size.toLong)
    assert(table.map(_.keys).sum === keys.size.toLong)
    assert(table.map(_.shard).toSeq === (0 until nShards))
    assert(table.map(s => bytes(s.bloom)).toSeq === reference.map(bytes).toSeq)
    keys.foreach(k => assert(table(BloomTable.shardOf(k, nShards)).bloom.mightContainLong(k)))
    // documented 10^10 sizing: ~9.6 bits/key at 1% fpp → ~1.2 GB per 10^9 keys,
    // sharded so a single shard stays executor-resident
    val bitsPerKey = -math.log(0.01) / (math.log(2) * math.log(2))
    assert(bitsPerKey > 9 && bitsPerKey < 10.1)
  }
}
