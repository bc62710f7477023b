package graft.crawl

import graft.extract.SpanExtract
import graft.frontier.{BloomShard, BloomTable, PartitionedBloom, Robots, UrlSeen, WaveSelector}
import graft.model._
import graft.synth.SyntheticSite.Seed
import graft.urls.Urls

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel


// fetch-stage rows (typed — per-row invariants matter here, SURVEY §1.3).
// Top-level (not nested/private) so Catalyst codegen can reach them.
final case class Selected(url: String, urlHash: Long, host: String, depth: Int,
    priority: Double, retries: Int, discoveredWave: Int, discoveredRank: Long,
    parentUrl: String, host_rank: Long)
final case class WaveFetch(url: String, urlHash: Long, host: String, depth: Int,
    priority: Double, retries: Int, discoveredWave: Int, discoveredRank: Long,
    parentUrl: String, host_rank: Long, ok: Boolean, spans: Array[Span], fetchMs: Long,
    wave: Int)

/** The crawl engine: a wave-synchronous driver loop of DataFrame jobs
  * (SURVEY.md §3 E1, §2.8). Each wave is one declarative pipeline:
  *
  *   frontier → robots broadcast-join → per-host top-k batch select
  *            → mapPartitions fetch → span docs
  *            → link explode → canonicalize → xxhash64 → whitelist/depth
  *            → Bloom pre-filter + exact anti-join (URL-seen)
  *            → state DELTA committed;  wave outputs committed atomically.
  *
  * Leaf waves: the wave's one select+fetch action also counts the fetched
  * pages that may still link within `maxDepth` (`ok` and `depth < maxDepth`).
  * When there are none the wave is a leaf: it skips link extraction, the
  * URL-seen probe, the filter delta build and the unseen cache, and its delta
  * is just the batch's new statuses. In the reference crawl (index page →
  * profiles, `scraper.py:43-63`, `maxDepth = 1`) every wave after the index
  * wave is a leaf.
  *
  * Work fixed for the crawl runs once, not per wave: the robots rules are
  * merged to one row per host on the driver before the loop
  * ([[graft.frontier.Robots.mergeRules]]), and a cold start seeds the
  * broadcast-regime URL-seen filter by putting the seed hashes into it on the
  * driver (a resume rebuilds it distributed, from the store's seen set).
  *
  * Wave-synchronous batches — not Structured Streaming — because the primary
  * correctness obligation is deterministic, reproducible ordering vs the
  * sequential reference (`scraper.py:43-63`); see SURVEY.md §2.9.
  *
  * State model (the 1000-executor / 10^10-URL design): per-wave work is
  * O(wave batch), never O(frontier). The frontier lives as
  *
  *  - `basePending`: the pending rows as of the last compaction — a stable,
  *    hash-partitioned, lineage-truncated table that per-wave jobs only ever
  *    SCAN (no per-wave shuffle, rewrite, or snapshot of it exists);
  *  - `deltaState`: the latest state of only the keys touched since the last
  *    compaction (fetched/error/retry statuses + newly discovered entries) —
  *    O(batches since compaction) rows, re-checkpointed each wave;
  *  - `doneDeltas`: append-only fetched/error rows, never re-materialized
  *    (a fetched URL can never be re-enqueued — the seen set guarantees it).
  *
  * The live frontier is the view `basePending ⧹ keys(deltaState) ∪ deltaState
  * ∪ doneDeltas`; a compaction every ~`frontierDeltaMaxRows` touched keys
  * folds deltas into a new base (the only O(frontier) shuffle, amortized).
  * The URL-seen table gets the same split: a stable `seenBase` whose
  * anti-join side reuses its partitioning wave-over-wave, plus a small
  * accumulator of post-compaction discoveries that joins as a broadcast.
  * Selection is a partial-aggregating exact top-k (map-side bounded heaps),
  * so even the selection shuffle moves O(hosts × budget) buffer rows, not
  * O(pending). Fetch is `mapPartitions` over the selected batch only.
  */
object WaveRunner {

  /** Per-page link-ordinal base for the discoveredRank encoding
    * (rank = parent_rank × RankBase + link_rank): supports up to 100k links
    * per page and ~3 depth levels before Long range runs out — both enforced
    * loudly (see the candidates projection), never by silent wraparound.
    */
  val RankBase = 100000L

  private val FrontierDdl =
    "url string, urlHash long, host string, depth int, priority double, " +
      "status string, retries int, discoveredWave int, discoveredRank long, " +
      "parentUrl string"

  final case class CrawlConfig(
      maxDepth: Int = 1,
      maxWaves: Int = 10000,
      maxRetries: Int = 0,          // reference fetches once, no retry (scraper.py:160-162)
      waveSeconds: Double = 1.0,    // × 1/crawl_delay = per-host budget (scraper.py:83)
      saltShards: Int = 1,          // skew pre-prune shards for the "window" selector
      /** Batch selector: "native" (default — exact per-host top-k as a
        * Catalyst TypedImperativeAggregate: O(hosts×budget) heap buffers on
        * the shuffle, zero-allocation reject path; see
        * [[graft.frontier.TopKSelectNative]]) or "window" (the two-stage
        * salted window — exact-equal, shuffles O(pending) rows per wave;
        * the skew path, see [[graft.frontier.WaveSelector]]).
        */
      selector: String = "native",
      bloomShards: Int = 32,
      bloomExpected: Long = 1L << 20,
      bloomFpp: Double = 0.01,
      /** URL-seen Bloom residency is chosen STATICALLY from the configured
        * sizing (like Spark's broadcast-join threshold): when the whole
        * filter (≈ 1.2·bloomExpected bytes at 1% fpp) fits under this bound
        * it is broadcast and probed row-locally — no extra shuffle; above it
        * the filter lives as a shard TABLE co-partitioned with candidates
        * and probed shard-locally (the 10^10 path: a 12 GB filter must never
        * exist on the driver or as one broadcast). Set to 0 to force the
        * sharded path regardless of sizing (tests do).
        */
      bloomBroadcastMaxBytes: Long = 256L << 20,
      /** Frontier/seen compaction threshold: when the keys touched since the
        * last compaction exceed this, deltas fold into new base tables (the
        * only O(frontier) shuffle — amortized over the waves between
        * compactions). Also bounds the delta-key broadcasts: size it so
        * `frontierDeltaMaxRows` × ~16 B fits comfortably in executor memory.
        */
      frontierDeltaMaxRows: Long = 1L << 22,
      /** Key-set anti-joins against the bounded delta/batch accumulators use
        * a BROADCAST below this many rows (no shuffle, but the driver
        * collects+ships the keys — serial time) and degrade to a shuffled
        * hash join above it (fully parallel; the stable side's partitioning
        * is reused). Measured crossover on the bench crawl: a 440k-key
        * broadcast costs ~0.5 s of serial driver time per wave that the
        * shuffle path spends in parallel.
        */
      deltaBroadcastMaxRows: Long = 1L << 17,
      /** Robots-rules join regime bound (static, like the Bloom residency):
        * rule sets with ≤ this many rows broadcast-join onto the frontier;
        * above it (millions of hosts) the join degrades to a shuffled hash
        * join. Set to 0 to force the shuffle regime (tests do).
        */
      rulesBroadcastMaxRows: Long = 1L << 20,
      snapshotDir: Option[String] = None, // Some(dir) = committed, resumable waves
      hostWhitelist: Option[Seq[String]] = None // default: seed hosts
  ) {
    require(selector == "native" || selector == "window",
      s"selector must be \"native\" or \"window\", got \"$selector\"")

    /** Conservative whole-filter size estimate from the configured sizing. */
    def bloomBytesEstimate: Long =
      (bloomExpected * math.ceil(
        -math.log(bloomFpp) / (math.log(2) * math.log(2))).toLong) / 8 + 64 * bloomShards
    def bloomBroadcastable: Boolean = bloomBytesEstimate <= bloomBroadcastMaxBytes
  }

  final case class CrawlResult(
      frontier: DataFrame,
      seen: DataFrame,       // url_hash, url
      docs: DataFrame,       // url, urlHash, host, depth, wave, spans
      private val orderThunk: () => DataFrame,
      metrics: DataFrame,    // wave, host, fetched, errors, fetchMsTotal, urlsEnqueued
      waves: Int,
      fetches: Long,         // total attempted fetches (= crawlOrder row count)
      cached: Seq[DataFrame] // per-wave caches backing docs/order in memory mode
  ) {
    /** Global crawl order (seq, wave, host, host_rank, url). Lazy: deriving
      * the seq offsets runs a small distributed job over the metrics views,
      * deferred so crawls that never read the ordering (the throughput
      * bench) don't pay that job inside their timed window.
      */
    lazy val crawlOrder: DataFrame = orderThunk()

    /** Unpersist the per-wave caches this result's DataFrames are views over.
      * Call when done with the result — in-JVM crawl reruns otherwise
      * accumulate cached blocks until the block manager thrashes (measured:
      * 2.6× throughput loss on the second run).
      */
    def release(): Unit = {
      cached.foreach(_.unpersist())
      frontier.unpersist(); seen.unpersist()
    }
  }

  private def seedEntriesOf(seeds: Seq[Seed]): Seq[FrontierEntry] =
    seeds.sortBy(_.rank).map { s =>
      val url = Urls.normalize(s.url)
      FrontierEntry(url, Urls.urlHash64(url), Urls.hostOf(url), depth = 0,
        priority = 1000.0 * 32 + 100.0, status = FrontierStatus.Pending, retries = 0,
        discoveredWave = 0, discoveredRank = s.rank.toLong, parentUrl = "")
    }

  /** The seed list as frontier rows (the wave-0 pre-state) — the base a
    * [[WaveSnapshots]] time-travel read folds deltas over when the snapshot
    * history predates the first compacted base.
    */
  def seedFrontier(spark: SparkSession, seeds: Seq[Seed]): DataFrame = {
    import spark.implicits._
    seedEntriesOf(seeds).toDS().toDF()
  }

  /** Cold-start crawl from a seed list. */
  def run(
      spark: SparkSession,
      seeds: Seq[Seed],
      fetcher: String => Option[SpanDoc],
      rules: Seq[RobotsRule] = Nil,
      cfg: CrawlConfig = CrawlConfig()
  ): CrawlResult = {
    import spark.implicits._
    val P = shufflePartitions(spark)
    val basePending0 = seedEntriesOf(seeds).toDS().toDF().repartition(P, col("urlHash"))
    val seen0 = basePending0.select(col("urlHash").as("url_hash"), col("url"))
      .repartition(P, col("url_hash"))
    val whitelist = cfg.hostWhitelist.getOrElse(
      seeds.map(s => Urls.hostOf(Urls.normalize(s.url))).distinct)
    runLoop(spark, basePending0, Nil, seen0, startWave = 0, Nil, whitelist,
      fetcher, rules, cfg, initialPending = Some(seeds.size.toLong),
      seedHashes = Some(seedEntriesOf(seeds).map(_.urlHash)))
  }

  /** Resume a snapshot-mode crawl from its last committed wave: reconstruct
    * the frontier from the newest compacted base (or the seed rows) folded
    * latest-wins with the per-wave frontier deltas after it, restore seen
    * from its deltas, rebuild the Bloom (fixed sizing ⇒ identical shape),
    * and run the remaining waves. Resuming a completed crawl is a no-op:
    * the restored frontier has no pending rows, so the loop commits nothing
    * new and returns the committed state.
    */
  def resume(
      spark: SparkSession,
      seeds: Seq[Seed],
      fetcher: String => Option[SpanDoc],
      rules: Seq[RobotsRule],
      cfg: CrawlConfig
  ): CrawlResult = {
    import spark.implicits._
    val dir = cfg.snapshotDir.getOrElse(
      throw new IllegalArgumentException("resume requires cfg.snapshotDir"))
    val P     = shufflePartitions(spark)
    val store = new ParquetSnapshotStore(spark, dir, P)
    val committed = store.listCommitted()
    if (committed.isEmpty) return run(spark, seeds, fetcher, rules, cfg)

    val last  = committed.max
    val waves = committed.sorted
    val seedRows = seedFrontier(spark, seeds)

    // frontier = newest compacted base (else the seed rows) + latest-wins
    // fold of the frontier deltas committed after it — the shared
    // time-travel read at wave `last` ([[WaveSnapshots.frontierAsOf]])
    val frontier0 = WaveSnapshots.frontierAsOf(store, seedRows, last)
    val basePending0 = frontier0.filter(col("status") === FrontierStatus.Pending)
      .repartition(P, col("urlHash"))
    val doneDeltas0 = Seq(frontier0.filter(col("status") =!= FrontierStatus.Pending))

    val seedSeen = seeds
      .map { s => val u = Urls.normalize(s.url); (Urls.urlHash64(u), u) }
      .toDF("url_hash", "url")
    val seen0 = WaveSnapshots.seenAsOf(store, seedSeen, last)
      .repartition(P, col("url_hash"))
    val whitelist = cfg.hostWhitelist.getOrElse(
      seeds.map(s => Urls.hostOf(Urls.normalize(s.url))).distinct)
    // resumed crawls don't know the restored pending-row count without an
    // extra job — the skip-empty-final-wave shortcut stays off and the loop
    // terminates on an observed empty batch as before
    runLoop(spark, basePending0, doneDeltas0, seen0, last + 1, waves, whitelist,
      fetcher, rules, cfg, initialPending = None, seedHashes = None)
  }

  /** The wave loop (shared by cold start and resume).
    *
    * @param basePending0   pending frontier rows at the starting base
    * @param doneDeltas0    already-done frontier rows (resume reconstruction)
    * @param committedWaves already-committed wave ids, whose deltas are
    *                       stitched into the returned result
    * @param seedHashes     cold start: the whole seen set as url hashes, put
    *                       into the broadcast-regime filter on the driver;
    *                       None (resume): build it distributed from seenBase0
    */
  private def runLoop(
      spark: SparkSession,
      basePending0: DataFrame,
      doneDeltas0: Seq[DataFrame],
      seenBase0: DataFrame,
      startWave: Int,
      committedWaves: Seq[Int],
      whitelist: Seq[String],
      fetcher: String => Option[SpanDoc],
      rules: Seq[RobotsRule],
      cfg: CrawlConfig,
      initialPending: Option[Long],
      seedHashes: Option[Seq[Long]]
  ): CrawlResult = {
    import spark.implicits._
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    import scala.concurrent.ExecutionContext.Implicits.global
    val P = shufflePartitions(spark)

    // -- frontier/seen state (see the class doc for the model) --
    var basePending = basePending0.persist(StorageLevel.MEMORY_AND_DISK)
    var seenBase    = seenBase0.persist(StorageLevel.MEMORY_AND_DISK)
    var deltaState  = union(spark, Nil, FrontierDdl) // empty until a wave commits
    var deltaRowsBound = 0L  // upper bound on |deltaState| (drives compaction)
    var seenAccRows  = 0L
    var fetchedSinceCompaction = 0L
    // discoveredWave watermark of the last compaction: rows discovered after
    // it (discoveredWave > seenSinceWave) are exactly the seen-set additions
    // not yet folded into seenBase — so the seen ACCUMULATOR derives from the
    // checkpointed deltaState for free (no per-wave seen checkpoint job; a
    // fetched discovery keeps its discoveredWave, a base retry keeps its
    // pre-compaction one)
    var seenSinceWave = startWave
    // keys SELECTED into a batch since the last compaction — the only base
    // rows a delta can supersede (discoveries never enter the base between
    // compactions), bounded by the politeness budgets and typically far
    // smaller than deltaState. Derived from the CHECKPOINTED deltaState (a
    // fetched key's latest state is fetched/error/pending-retry), never from
    // per-wave `fetched` views — a view over wave w's fetch plan references
    // wave w-1's views through the pending lineage, and plans grow
    // exponentially (persist caches data, not plans).
    def batchKeysSinceCompaction: DataFrame = deltaState
      .filter(col("status") =!= FrontierStatus.Pending || col("retries") > 0)
      .select(col("urlHash"))
    val doneDeltas   = scala.collection.mutable.ArrayBuffer(doneDeltas0: _*)
    def seenAcc: Option[DataFrame] =
      if (seenAccRows == 0L) None
      else Some(deltaState.filter(col("discoveredWave") > lit(seenSinceWave))
        .select(col("urlHash").as("url_hash"), col("url")))

    // bounded-key-set anti-join: broadcast below the configured bound (no
    // shuffle, but serial driver collect+ship), shuffled hash join above it
    // (parallel; a hash-partitioned left reuses its partitioning)
    def antiKeys(left: DataFrame, keys: DataFrame, keyCol: String,
        rowsBound: Long): DataFrame = {
      val right =
        if (rowsBound <= cfg.deltaBroadcastMaxRows) broadcast(keys)
        else keys.hint("shuffle_hash")
      left.join(right, Seq(keyCol), "left_anti")
    }

    // URL-seen Bloom state, residency chosen statically from the configured
    // sizing (cfg.bloomBroadcastable, like Spark's broadcast-join threshold):
    //  - broadcast regime (filter fits the bound): a driver PartitionedBloom,
    //    re-broadcast per wave, probed row-locally — no extra shuffle. The
    //    driver object is BOUNDED BY CONFIG, it does not grow with URL count.
    //  - sharded regime (the 10^10 path): a Dataset[BloomShard] living on
    //    executors, probed via shard-local cogroup — nothing whole-filter
    //    ever exists in one place. LAZY localCheckpoint, not persist: like
    //    the frontier state this is iterative — a persist caches data but
    //    keeps the logical plan, and the bloom plan references ITSELF twice
    //    per wave (probe + merge), so un-truncated lineage grows
    //    exponentially (measured: OOM building plan strings by wave ~6); the
    //    totalKeys action is what materializes the checkpoint — no extra job.
    val bloomBroadcast = cfg.bloomBroadcastable
    var bloomDriver: PartitionedBloom    = null
    var bloomTable: Dataset[BloomShard]  = null
    var seenTotal = 0L
    if (bloomBroadcast) {
      bloomDriver = seedHashes match {
        case Some(hashes) =>
          val f = PartitionedBloom.empty(cfg.bloomShards, cfg.bloomExpected, cfg.bloomFpp)
          hashes.foreach(f.put)
          f
        case None =>
          PartitionedBloom.build(seenBase0.select(col("url_hash")),
            cfg.bloomShards, cfg.bloomExpected, cfg.bloomFpp)
      }
    } else {
      bloomTable = BloomTable.fromHashes(seenBase0.select(col("url_hash")),
        cfg.bloomShards, cfg.bloomExpected, cfg.bloomFpp).localCheckpoint(false)
      seenTotal = BloomTable.totalKeys(bloomTable)
    }

    // merged to one row per host here, once: the per-wave join then needs no
    // aggregate over the rules
    val perHost = Robots.mergeRules(rules)
    val rulesDF = Robots.rulesDF(spark,
      if (perHost.nonEmpty) perHost else Seq(RobotsRule("__none__", Nil, Robots.DefaultCrawlDelayS)))
    val rulesBroadcastable = perHost.size <= cfg.rulesBroadcastMaxRows
    val whitelistDF = whitelist.toDF("host")

    // snapshot-mode table store (G10) — the engine speaks only to WaveStore;
    // a real Iceberg/Delta catalog drops in behind the trait
    val store: Option[WaveStore] =
      cfg.snapshotDir.map(d => new ParquetSnapshotStore(spark, d, P))

    val docsDeltas    = Seq.newBuilder[DataFrame]
    val orderDeltas   = Seq.newBuilder[DataFrame]
    val metricsDeltas = Seq.newBuilder[DataFrame]
    val cached        = Seq.newBuilder[DataFrame]
    committedWaves.foreach { w =>
      docsDeltas += store.get.readDelta(w, "docs_delta")
      orderDeltas += store.get.readDelta(w, "order_delta")
      metricsDeltas += store.get.readDelta(w, "metrics_delta")
    }

    val debug = sys.env.contains("GRAFT_CRAWL_DEBUG")
    var lastMark = System.nanoTime()
    def phase[T](name: String, wave: Int)(body: => T): T = {
      val t0 = System.nanoTime()
      val gap = (t0 - lastMark) / 1e6
      val r  = body
      lastMark = System.nanoTime()
      if (debug) System.err.println(
        f"[crawl-debug] wave=$wave $name%-18s ${(lastMark - t0) / 1e6}%.0f ms" +
          f" (gap $gap%.0f ms)")
      r
    }

    var wave = startWave
    var done = false
    var totalFetches = 0L
    // Exact pending-row count, maintained arithmetically (pending' =
    // pending − batch + discoveries) — exact only when maxRetries == 0
    // (the reference's fetch-once discipline and the engine default), since
    // retries re-enter pending in numbers only a job could count. When it
    // reaches zero the loop stops WITHOUT running the final empty wave: the
    // termination wave costs a full frontier scan + selection + zero-row
    // fetch (measured ~0.7 s on the bench corpus) only to observe an empty
    // batch the driver already knows is empty. Denied/over-budget rows keep
    // the count positive, so the shortcut can only fire when the frontier
    // is truly drained; None (resume, retries) falls back to the observed
    // empty batch exactly as before.
    var pendingKnown: Option[Long] =
      if (cfg.maxRetries == 0) initialPending else None

    // Deferred bloom resolution (memory mode): the wave's bloom/seen delta
    // is only NEEDED at the NEXT wave's discovery phase (its unseen filter),
    // not at wave end — so the build runs as a future that overlaps the next
    // wave's selection + fetch stages (which never read the seen state), and
    // resolves right before the next unseen construction. Holds
    // (wave, future of (n, driverDelta, tableDelta), unseen cache to release,
    // metrics-delta constructor awaiting n).
    var pendingBloom: Option[(Int, scala.concurrent.Future[(Long, PartitionedBloom, Dataset[BloomShard])],
        DataFrame, Long => DataFrame)] = None

    // shared post-bloom bookkeeping: merge the wave's filter delta, account
    // its discoveries, then (possibly) compact — the compaction check sits
    // here so the deferred path still compacts within one wave of the
    // threshold (bounded slack, documented on frontierDeltaMaxRows).
    // `committedWave` is the wave whose delta is being applied — NOT the
    // loop's current `wave` var: the deferred path resolves after the loop
    // advanced, and the compaction watermark must be derived from the wave
    // the discoveries were stamped against (committedWave + 1), or the
    // in-flight wave's discoveries are excluded from the seen accumulator
    // forever (never folded into seenBase → re-fetch on rediscovery).
    def applyBloom(committedWave: Int, n: Long, drvDelta: PartitionedBloom,
        tblDelta: Dataset[BloomShard]): Unit = {
      if (bloomBroadcast) {
        if (n > 0L) bloomDriver.mergeInPlace(drvDelta)
      } else {
        bloomTable.unpersist()
        bloomTable = tblDelta
        seenTotal += n
      }
      deltaRowsBound += n
      seenAccRows += n
      pendingKnown = pendingKnown.map(_ + n)
      maybeCompact(committedWave)
    }

    def resolveBloom(): Unit = pendingBloom.foreach { case (w, fut, unseenCache, mkMetrics) =>
      val (n, drv, tbl) = phase("bloom-resolve", w) { Await.result(fut, Duration.Inf) }
      metricsDeltas += mkMetrics(n)
      unseenCache.unpersist()
      pendingBloom = None
      applyBloom(w, n, drv, tbl)
    }

    // -- compaction: fold deltas into new base tables — the ONLY O(frontier)
    // shuffle in the engine, amortized over the waves between compactions.
    // Done rows move to the append-only doneDeltas views (they are never
    // re-materialized again).
    def maybeCompact(committedWave: Int): Unit = if (deltaRowsBound > cfg.frontierDeltaMaxRows) {
      phase("compaction", committedWave) {
        val dk = deltaState.select(col("urlHash"))
        val newBasePending = antiKeys(basePending, dk, "urlHash", deltaRowsBound)
          .select(basePending.columns.map(col): _*)
          .unionByName(deltaState.filter(col("status") === FrontierStatus.Pending))
          .repartition(P, col("urlHash"))
        val newSeenBase = seenAcc match {
          case Some(acc) => seenBase.unionByName(acc).repartition(P, col("url_hash"))
          case None      => null
        }
        val bpF = Future { newBasePending.localCheckpoint(true) }
        val sbF =
          if (newSeenBase == null) Future.successful(seenBase)
          else Future { newSeenBase.localCheckpoint(true) }
        val bp2 = Await.result(bpF, Duration.Inf)
        val sb2 = Await.result(sbF, Duration.Inf)
        doneDeltas += deltaState.filter(col("status") =!= FrontierStatus.Pending)
        store.foreach { st =>
          st.commitFrontierBase(committedWave,
            bp2.unionByName(union(spark, doneDeltas.toSeq, FrontierDdl)))
        }
        basePending.unpersist(); basePending = bp2
        if (!(sb2 eq seenBase)) { seenBase.unpersist(); seenBase = sb2 }
        deltaState = union(spark, Nil, FrontierDdl)
        // watermark = the wave the folded deltas were committed against:
        // wave w's discoveries are stamped discoveredWave = w + 1 and ARE
        // folded above (seenAcc was evaluated with the old watermark), so
        // anything stamped > committedWave + 1 is exactly the not-yet-folded
        // set. Using the loop's `wave` here is wrong in the deferred path
        // (it has already advanced) — regression-tested in CrawlDepth2Spec.
        seenAccRows = 0L; seenSinceWave = committedWave + 1
        fetchedSinceCompaction = 0L
        deltaRowsBound = 0L
      }
    }

    while (!done && wave < cfg.maxWaves && {
      // the arithmetic count lags by the DEFERRED discovery count (memory
      // mode hands the bloom/seen build to the next wave) — an apparent
      // zero must resolve the pending wave first to fold its discoveries in
      if (pendingKnown.exists(_ <= 0L)) resolveBloom()
      !pendingKnown.exists(_ <= 0L)
    }) {
      // live pending view: untouched base rows + touched keys' latest state.
      // The base side is a SCAN (its partitioning/caching is stable); the
      // only keys that move are the batch keys selected since compaction —
      // the sole base rows a delta can supersede — which are budget-bounded
      // and usually a small fraction of deltaState (discoveries live only in
      // the delta union below, they never need an anti-join).
      val basePart =
        if (fetchedSinceCompaction == 0L) basePending
        else antiKeys(basePending, batchKeysSinceCompaction, "urlHash",
          fetchedSinceCompaction)
      val pending = basePart
        .unionByName(deltaState)
        .filter(col("status") === FrontierStatus.Pending &&
          col("retries") <= cfg.maxRetries)
      val ruled = Robots.withRules(pending, rulesDF, rulesBroadcastable)
        .filter(col("allowed"))
        .withColumn("budget", Robots.waveBudget(cfg.waveSeconds))
      // the batch carries ALL frontier fields through the fetch stage so the
      // post-fetch state transition is a pure projection — no join back
      // against the frontier (one fewer shuffle per wave)
      val selected =
        if (cfg.selector == "window")
          WaveSelector.select(ruled, cfg.saltShards)
            .select(col("url"), col("urlHash"), col("host"), col("depth"),
              col("priority"), col("retries"), col("discoveredWave"),
              col("discoveredRank"), col("parentUrl"), col("host_rank"))
        else graft.frontier.TopKSelectNative.select(ruled)
      // Size fetch parallelism by request count, NOT by shuffle bytes: the
      // selection output is tiny (batch rows), so AQE would coalesce it to
      // ~1 partition and run the expensive fetch+encode stage serially.
      // Explicit repartition pins P*3 fetch tasks (at cluster scale: one
      // unit of politeness-bounded fetch work per core). Measured round 4
      // with AQE off: running the fetch directly on the selection reducers
      // (16 host-hashed partitions at 8 cores) is NOT faster — the saved
      // batch shuffle is repaid in coarser task granularity at the stage
      // tail — so the round-robin stays unconditional.
      val batch = selected.repartition(P * 3)

      // wave id travels in the closure, not as a lit() column: an inlined
      // literal changes the generated code every wave and forces a full
      // Janino recompile of the largest plan in the loop
      val waveNow = wave
      val fetched = batch.as[Selected].mapPartitions { it =>
        it.map { e =>
          val t0  = System.nanoTime()
          val doc = fetcher(e.url)
          WaveFetch(e.url, e.urlHash, e.host, e.depth, e.priority, e.retries,
            e.discoveredWave, e.discoveredRank, e.parentUrl, e.host_rank,
            ok = doc.isDefined, spans = doc.map(_.spans).getOrElse(Array.empty[Span]),
            fetchMs = (System.nanoTime() - t0) / 1000000L, wave = waveNow)
        }
      }.toDF()
        .persist(StorageLevel.MEMORY_AND_DISK)

      // one materializing action per wave decides termination, warms the
      // cache every downstream consumer reuses, AND counts the pages that may
      // still link within maxDepth (keep driver barriers minimal: each extra
      // .count/.isEmpty is a full job the wave loop serializes on)
      val isParent = col("ok") && col("depth") < cfg.maxDepth
      val (batchCount, parentCount) = phase("select+fetch", wave) {
        val r = fetched.agg(count(lit(1)), count(when(isParent, lit(1)))).first()
        (r.getLong(0), r.getLong(1))
      }
      totalFetches += batchCount
      if (batchCount == 0L) {
        fetched.unpersist()
        done = true
      } else {
        // The PREVIOUS wave's deferred bloom/seen delta resolves here first —
        // the first point in the wave that may READ the seen state, which is
        // what let its build overlap this wave's whole selection + fetch. A
        // leaf wave resolves it too: its compaction below must see it applied.
        resolveBloom()

        // -- link discovery → canonical candidates → URL-seen (G2-G4), only
        // when some fetched page may still link within maxDepth. A leaf wave
        // (no such page) discovers nothing, so it builds none of this.
        val unseen: Option[DataFrame] = if (parentCount == 0L) None else Some {
          // Two projections on purpose: the first materializes the sorted
          // spans and first-heading offset per ROW; referencing those as
          // attributes in the second keeps link extraction O(spans), not
          // O(spans × links) (an inlined aggregate re-evaluates per transform
          // element). The depth guard comes first: a leaf row's links would
          // all die at it, so they are never extracted or canonicalized.
          val links = fetched.filter(isParent)
            .select(col("url").as("parent_url"), col("depth").as("parent_depth"),
              col("discoveredRank").as("parent_rank"),
              // from the parent rows, not a lit(): an inlined wave literal
              // would change the generated code every wave
              (col("wave") + 1).as("discoveredWave"),
              SpanExtract.sortedSpans(col("spans")).as("__spans"))
            .withColumn("__firstH", SpanExtract.firstAnyHeadingOffset(col("__spans")))
            .select(col("parent_url"), col("parent_depth"), col("parent_rank"),
              col("discoveredWave"),
              explode(SpanExtract.pageLinksFrom(col("__spans"), col("__firstH"))).as("lnk"))
            .filter(col("lnk.anchorKind") === "anchor") // name-element anchors only (scraper.py:54)
            .select(col("parent_url"), col("parent_depth"), col("parent_rank"),
              col("discoveredWave"),
              col("lnk.url").as("raw_url"), col("lnk.rank").as("link_rank"))
          val candidates = links
            .withColumn("depth", col("parent_depth") + 1)
            .withColumn("url", Urls.canonicalizeUdf(col("raw_url"), col("parent_url")))
            .withColumn("host", Urls.hostOfUdf(col("url")))
            .withColumn("url_hash", xxhash64(col("url")))
            // first-discovery ordering encodes (parent_rank, link_rank) into one
            // long: rank = parent*RankBase + link. The guard fails LOUDLY on a
            // page with ≥ RankBase links (silent collision would corrupt the
            // first-discovery-wins ordering the exactness oracle checks); depth
            // overflow (RankBase^depth past ~3 with large seed ranks) throws in
            // Spark 4 ANSI arithmetic rather than wrapping.
            .withColumn("discoveredRank",
              when(col("link_rank") < RankBase,
                col("parent_rank") * RankBase + col("link_rank"))
                .otherwise(raise_error(concat(
                  lit(s"page has >= $RankBase link spans (url="), col("parent_url"),
                  lit("); discoveredRank encoding cannot order them")))))
            // whitelist as a broadcast SEMI JOIN, not an isInCollection literal:
            // a large host list inlined into codegen recompiles every wave (and
            // a real crawl's whitelist is millions of hosts — join-shaped)
            .join(broadcast(whitelistDF), Seq("host"), "left_semi")
            // first discovery wins when several pages link the same URL this
            // wave (every parent of a wave carries the same discoveredWave)
            .groupBy(col("url_hash"))
            .agg(min(struct(col("discoveredRank"), col("url"), col("host"),
              col("depth"), col("parent_url"), col("discoveredWave"))).as("c"))
            .select(col("url_hash"), col("c.*"))

          // URL-seen: shard-local Bloom fast path + exact anti-join. The exact
          // rescue never rewrites the seen set: it anti-joins the stable
          // seenBase (partitioning reused) and broadcast-anti-joins the
          // bounded accumulator of post-compaction discoveries.
          val seenAccBcast = seenAccRows <= cfg.deltaBroadcastMaxRows
          (if (bloomBroadcast)
            UrlSeen.filterUnseen(candidates, seenBase, seenAcc, bloomDriver,
              seenAccBcast)
          else
            UrlSeen.filterUnseenSharded(candidates, seenBase, seenAcc,
              bloomTable, cfg.bloomShards, seenAccBcast))
            .persist(StorageLevel.MEMORY_AND_DISK)
        }
        // buildBloom only READS state vars and returns the wave's update
        // (count, driver-regime delta, sharded-regime table); the caller
        // applies it after the future joins (Await is the memory barrier)
        val bloomTableNow  = bloomTable
        val seenTotalNow   = seenTotal
        def buildBloom(delta: DataFrame): (Long, PartitionedBloom, Dataset[BloomShard]) =
          if (bloomBroadcast) {
            val (f, n) = PartitionedBloom.buildWithCount(delta.select(col("url_hash")),
              cfg.bloomShards, cfg.bloomExpected, cfg.bloomFpp)
            (n, f, null)
          } else {
            val bloomDelta = BloomTable.fromHashes(delta.select(col("url_hash")),
              cfg.bloomShards, cfg.bloomExpected, cfg.bloomFpp)
            val nb = BloomTable.merge(bloomTableNow, bloomDelta)
              .localCheckpoint(false) // lazy: materialized by the totalKeys action
            (BloomTable.totalKeys(nb) - seenTotalNow, null, nb)
          }

        val newEntries = unseen.map(_.select(
          col("url"),
          col("url_hash").as("urlHash"),
          col("host"),
          col("depth"),
          WaveSelector.priority(col("depth"), lit(true),
            WaveSelector.profileShaped(col("url"))).as("priority"),
          lit(FrontierStatus.Pending).as("status"),
          lit(0).as("retries"),
          col("discoveredWave"),
          col("discoveredRank"),
          col("parent_url").as("parentUrl")))

        // -- state transition (G8): selected rows leave pending (errors
        // retry); the wave's DELTA is just their new statuses + discoveries —
        // O(batch), never O(frontier). No anti-join, union, repartition, or
        // checkpoint ever touches the full frontier here.
        val finished = fetched
          .select(col("url"), col("urlHash"), col("host"), col("depth"), col("priority"),
            when(col("ok"), FrontierStatus.Fetched)
              .when(col("retries") + 1 <= cfg.maxRetries, FrontierStatus.Pending)
              .otherwise(FrontierStatus.Error).as("status"),
            when(col("ok"), col("retries")).otherwise(col("retries") + 1).as("retries"),
            col("discoveredWave"), col("discoveredRank"), col("parentUrl"))
        val waveDelta = newEntries.fold(finished)(finished.unionByName(_))

        val docsDelta = fetched.filter(col("ok"))
          .select(col("url"), col("urlHash"), col("host"), col("depth"), col("wave"), col("spans"))
        val orderDelta = fetched.select(col("wave"), col("host"), col("host_rank"), col("url"))
        def mkMetricsDelta(unseenCount: Long) =
          fetched.groupBy(col("wave"), col("host")).agg(
            sum(when(col("ok"), 1L).otherwise(0L)).as("fetched"),
            sum(when(col("ok"), 0L).otherwise(1L)).as("errors"),
            sum(col("fetchMs")).as("fetchMsTotal"))
            .withColumn("urlsEnqueued", lit(unseenCount))

        // deltaState' = deltaState ⧹ batchKeys ∪ waveDelta. Only the BATCH
        // keys need the anti-join (newEntries are unseen, so they cannot
        // already be in deltaState), and an empty deltaState skips the join —
        // and its key shipping — entirely (every first wave after a
        // compaction, including discovery-heavy wave 0).
        def nextDeltaState(delta: DataFrame, batchKeys: DataFrame): DataFrame =
          if (deltaRowsBound == 0L) delta
          else antiKeys(deltaState, batchKeys, "urlHash", batchCount)
            .select(deltaState.columns.map(col): _*)
            .unionByName(delta)

        // -- commit (G10): snapshot store (resumable) or localCheckpoint.
        // Either way the committed object is the wave DELTA.
        store match {
          case Some(st) =>
            // snapshot mode stays fully synchronous: a committed wave's
            // marker must imply its seen/bloom state is durable+applied
            // before the next wave starts (the resume contract)
            val update = unseen.map(u => phase("discover+seen", wave) { buildBloom(u) })
            val metricsDelta = mkMetricsDelta(update.fold(0L)(_._1))
            val seenDelta = unseen.fold(union(spark, Nil, "url_hash long, url string"))(
              _.select(col("url_hash"), col("url")))
            st.commitWave(wave, waveDelta, seenDelta, docsDelta, orderDelta, metricsDelta)
            val waveDeltaDisk = st.readDelta(wave, "frontier_delta")
            // batch keys = the finished rows of the committed delta (new
            // entries are pending with no retries) — the predicate of
            // batchKeysSinceCompaction, not a wave literal, so the plan is the
            // same every wave; disk-backed so no per-wave cache is pinned
            val batchKeysDisk = waveDeltaDisk
              .filter(col("status") =!= FrontierStatus.Pending || col("retries") > 0)
              .select(col("urlHash"))
            deltaState = phase("delta-ckpt", wave) {
              nextDeltaState(waveDeltaDisk, batchKeysDisk).localCheckpoint(true)
            }
            docsDeltas += st.readDelta(wave, "docs_delta")
            orderDeltas += st.readDelta(wave, "order_delta")
            metricsDeltas += st.readDelta(wave, "metrics_delta")
            unseen.foreach(_.unpersist()); fetched.unpersist()
            deltaRowsBound += batchCount
            fetchedSinceCompaction += batchCount
            pendingKnown = pendingKnown.map(_ - batchCount)
            update match {
              case Some((n, drv, tbl)) => applyBloom(wave, n, drv, tbl)
              case None                => maybeCompact(wave)
            }
          case None =>
            // memory mode: deltas stay as views over the persisted `fetched`/
            // `unseen` caches, which live as long as the result does — no
            // per-wave re-materialization of the span data. The deltaState
            // checkpoint (O(touched keys), bounded by compaction) is awaited
            // HERE — the next wave's pending view needs it — but the bloom
            // build future is handed to `pendingBloom` un-awaited: nothing
            // before the next wave's unseen filter reads the seen state, so
            // the bloom jobs overlap that wave's whole selection + fetch
            // (both futures first-compute the shared `unseen` cache, which
            // the block manager serializes per-partition, so they cooperate
            // rather than duplicate).
            val bf = unseen.map(u => (u, Future { buildBloom(u) }))
            val ds2 = phase("delta-ckpt", wave) {
              Await.result(Future {
                nextDeltaState(waveDelta, fetched.select(col("urlHash")))
                  .localCheckpoint(true)
              }, Duration.Inf)
            }
            deltaState = ds2
            docsDeltas += docsDelta
            orderDeltas += orderDelta
            cached += fetched
            deltaRowsBound += batchCount
            fetchedSinceCompaction += batchCount
            pendingKnown = pendingKnown.map(_ - batchCount)
            bf match {
              case Some((u, f)) => pendingBloom = Some((wave, f, u, mkMetricsDelta _))
              case None =>
                metricsDeltas += mkMetricsDelta(0L)
                maybeCompact(wave)
            }
        }
        wave += 1
      }
    }
    // a deferred final-wave bloom (loop exited on empty batch, drained
    // frontier, or maxWaves) resolves before the result is assembled: it
    // appends the wave's metrics delta and applies the last seen update
    resolveBloom()

    val docs = union(spark, docsDeltas.result(),
      "url string, urlHash long, host string, depth int, wave int, " +
        "spans array<struct<kind:string,text:string,media_ref:string,offset:int,cls:string>>")
    val orderRaw = union(spark, orderDeltas.result(),
      "wave int, host string, host_rank long, url string")
    val metrics = union(spark, metricsDeltas.result(),
      "wave int, host string, fetched long, errors long, fetchMsTotal long, urlsEnqueued long")
    // Global crawl sequence, fully distributed and with NO unpartitioned
    // window (which would funnel every fetched URL ever through ONE task):
    // within (wave, host) the rows are already densely ranked by host_rank,
    // so seq = group offset + host_rank. Group offsets come from the
    // per-(wave,host) metrics — already aggregated, O(hosts×waves) rows,
    // never O(URLs) — as an intra-wave prefix sum (window partitioned by
    // wave; host order is Spark's own UTF8 binary sort, correct for any
    // host) plus cross-wave offsets from a tiny O(waves²) non-equi
    // self-join. Nothing is collected to the driver.
    def order(): DataFrame = {
      import org.apache.spark.sql.expressions.Window
      val counts = metrics.select(col("wave"), col("host"),
        (col("fetched") + col("errors")).as("__n"))
      val wIntra = Window.partitionBy(col("wave")).orderBy(col("host"))
        .rowsBetween(Window.unboundedPreceding, -1)
      val intra = counts.withColumn("__intra",
        coalesce(sum(col("__n")).over(wIntra), lit(0L)))
      val waveTotals = counts.groupBy(col("wave")).agg(sum(col("__n")).as("__wn"))
      val waveOff = waveTotals.as("a")
        .join(waveTotals.as("b"), col("b.wave") < col("a.wave"), "left")
        .groupBy(col("a.wave").as("wave"))
        .agg(coalesce(sum(col("b.__wn")), lit(0L)).as("__woff"))
      val offsets = intra.join(waveOff, Seq("wave"))
        .select(col("wave"), col("host"), (col("__woff") + col("__intra")).as("__offset"))
      orderRaw.join(offsets, Seq("wave", "host"))
        .withColumn("seq", col("__offset") + col("host_rank"))
        .select(col("seq"), col("wave"), col("host"), col("host_rank"), col("url"))
    }
    if (!bloomBroadcast) cached += bloomTable.toDF() // released with the result
    val deltaKeysF = deltaState.select(col("urlHash"))
    val frontierFinal = antiKeys(basePending, deltaKeysF, "urlHash", deltaRowsBound)
      .select(basePending.columns.map(col): _*)
      .unionByName(deltaState)
      .unionByName(union(spark, doneDeltas.toSeq, FrontierDdl))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val seenFinal = (seenAcc match {
      case Some(acc) => seenBase.unionByName(acc)
      case None      => seenBase
    }).persist(StorageLevel.MEMORY_AND_DISK)
    cached += basePending; cached += seenBase
    CrawlResult(frontierFinal, seenFinal, docs, () => order(), metrics, wave,
      totalFetches, cached.result())
  }

  private def shufflePartitions(spark: SparkSession): Int =
    spark.conf.get("spark.sql.shuffle.partitions", "32").toInt

  private def union(spark: SparkSession, dfs: Seq[DataFrame], emptySchema: String): DataFrame =
    if (dfs.isEmpty)
      spark.createDataFrame(new java.util.ArrayList[org.apache.spark.sql.Row](),
        org.apache.spark.sql.types.StructType.fromDDL(emptySchema))
    else dfs.reduce(_ unionByName _)

}
