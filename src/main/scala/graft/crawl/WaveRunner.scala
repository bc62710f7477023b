package graft.crawl

import graft.extract.SpanExtract
import graft.frontier.{BloomShard, BloomTable, PartitionedBloom, Robots, UrlSeen, WaveSelector}
import graft.model._
import graft.synth.SyntheticSite.Seed
import graft.urls.Urls

import org.apache.spark.HashPartitioner
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Dataset, GraftRows, Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{GenericInternalRow, UnsafeProjection}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import org.apache.spark.unsafe.types.UTF8String

/** The crawl engine: a wave-synchronous driver loop of Spark jobs
  * (SURVEY.md §3 E1, §2.8). Each wave is one pipeline:
  *
  *   frontier → robots broadcast-join → per-host top-k batch select
  *            → fetch (per partition) → span docs
  *            → link explode → canonicalize → xxhash64 → whitelist/depth
  *            → first discovery per key → Bloom pre-filter + exact check
  *            → state DELTA committed;  wave outputs committed atomically.
  *
  * SQL runs the relational steps whose semantics live in Column
  * expressions: selection (robots join, native top-k), link extraction
  * ([[graft.extract.SpanExtract]]) and the records. The engine's own
  * bookkeeping — fetch, first-discovery dedup, URL-seen check, delta,
  * compaction — works on RDDs of rows, which compile no code.
  *
  * Class budget. Spark caches generated classes in a Guava cache of 100
  * entries built with 4 segments, so each segment is an LRU of 25; the key
  * includes the class loader, so every whole-stage-codegen stage takes two
  * entries (the plan-time compile that checks the code, and the task's
  * compile), and every
  * interpreted projection, predicate or ordering one. A crawl plus its
  * records must stay well inside that (64 entries keep the chance that any
  * segment overflows under 2% per JVM), or every crawl recompiles classes
  * the previous one evicted and runs them cold. Count them with
  * `CodegenMetrics.METRIC_COMPILATION_TIME` around a crawl in a fresh JVM
  * (`CrawlDemo` reports it as `codegen_compiles`); CrawlScaleSpec pins that
  * a second crawl of the benchmark shape compiles none. Keep per-wave and
  * per-crawl values out of plans (no `lit` of a wave id or a count), keep
  * one plan shape per step, and read a set of row RDDs as ONE scan
  * ([[org.apache.spark.sql.GraftRows.scan]]): a union has one stage per
  * branch.
  *
  * Leaf waves: the wave's one fetch job also counts the fetched pages that
  * may still link within `maxDepth` (`ok` and `depth < maxDepth`). When
  * there are none the wave is a leaf: it skips link extraction and the
  * URL-seen check, and its delta is just the batch's new statuses. In the
  * reference crawl (index page → profiles, `scraper.py:43-63`,
  * `maxDepth = 1`) every wave after the index wave is a leaf.
  *
  * Work fixed for the crawl runs once, not per wave: the robots rules are
  * merged to one row per host on the driver before the loop
  * ([[graft.frontier.Robots.mergeRules]]). In the broadcast regime the
  * URL-seen Bloom filter lives on the driver and takes every new key there:
  * the seeds at a cold start, the store's seen set on resume, and each
  * wave's discoveries as the job that stores them ends.
  *
  * Wave-synchronous batches — not Structured Streaming — because the primary
  * correctness obligation is deterministic, reproducible ordering vs the
  * sequential reference (`scraper.py:43-63`); see SURVEY.md §2.9.
  *
  * State model (the 1000-executor / 10^10-URL design): per-wave work is
  * O(wave batch), never O(frontier). The frontier lives as
  *
  *  - base rows: the pending rows as of the last compaction — stable,
  *    lineage-truncated rows that per-wave jobs only ever SCAN (no per-wave
  *    shuffle, rewrite, or snapshot of them exists);
  *  - delta rows: the latest state of only the keys touched since the last
  *    compaction (fetched/error/retry statuses + newly discovered entries) —
  *    O(batches since compaction) rows, re-checkpointed each wave;
  *  - done rows: append-only fetched/error rows, never re-materialized
  *    (a fetched URL can never be re-enqueued — the seen set guarantees it).
  *
  * The live frontier is `base ⧹ batch keys ∪ delta ∪ done`; a compaction
  * every ~`frontierDeltaMaxRows` touched keys folds deltas into a new base
  * (the only O(frontier) work, amortized). The URL-seen rows get the same
  * split: stable seen rows placed by key hash, which a Bloom-positive
  * candidate's check reads one partition of, plus the discoveries since
  * compaction. Selection is a partial-aggregating exact top-k (map-side
  * bounded heaps), so even the selection shuffle moves O(hosts × budget)
  * buffer rows, not O(pending). Fetch maps the selected batch only.
  */
object WaveRunner {

  /** Per-page link-ordinal base for the discoveredRank encoding
    * (rank = parent_rank × RankBase + link_rank): supports up to 100k links
    * per page and ~3 depth levels before Long range runs out — both enforced
    * loudly (see the candidates projection), never by silent wraparound.
    */
  val RankBase = 100000L

  // every frontier row set has this schema, nullability included: the
  // generated code of a plan depends on its input's nullability, so a
  // non-null seed table would give wave 0 and the waves after a compaction
  // different classes
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
        * last compaction exceed this, deltas fold into new base rows (the
        * only O(frontier) work — amortized over the waves between
        * compactions). Also bounds the batch keys the driver holds and
        * broadcasts each wave: size it so `frontierDeltaMaxRows` × 8 B fits
        * comfortably in driver and executor memory.
        */
      frontierDeltaMaxRows: Long = 1L << 22,
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
      held: Seq[RDD[InternalRow]] // checkpointed row sets the DataFrames above read
  ) {
    /** Global crawl order (seq, wave, host, host_rank, url). Lazy: deriving
      * the seq offsets runs a small distributed job over the metrics views,
      * deferred so crawls that never read the ordering (the throughput
      * bench) don't pay that job inside their timed window.
      */
    lazy val crawlOrder: DataFrame = orderThunk()

    /** Free the checkpointed blocks this result's DataFrames are views over.
      * Call when done with the result — in-JVM crawl reruns otherwise
      * accumulate blocks until the block manager thrashes (measured: 2.6×
      * throughput loss on the second run).
      */
    def release(): Unit = held.foreach(_.unpersist(blocking = false))
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
    import scala.jdk.CollectionConverters._
    spark.createDataFrame(seedEntriesOf(seeds).map(e => Row.fromTuple(e)).asJava,
      StructType.fromDDL(FrontierDdl))
  }

  /** Cold-start crawl from a seed list. */
  def run(
      spark: SparkSession,
      seeds: Seq[Seed],
      fetcher: String => Option[SpanDoc],
      rules: Seq[RobotsRule] = Nil,
      cfg: CrawlConfig = CrawlConfig()
  ): CrawlResult = {
    val basePending0 = seedFrontier(spark, seeds)
    val seen0 = basePending0.select(col("urlHash").as("url_hash"), col("url"))
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
    val doneDeltas0 = Seq(frontier0.filter(col("status") =!= FrontierStatus.Pending))

    val seedSeen = seeds
      .map { s => val u = Urls.normalize(s.url); (Urls.urlHash64(u), u) }
      .toDF("url_hash", "url")
    val seen0 = WaveSnapshots.seenAsOf(store, seedSeen, last)
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
    *                       None (resume): put seenBase0's hashes instead
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
    val P  = shufflePartitions(spark)
    val sc = spark.sparkContext

    // The frontier/seen state is RDDs of rows, local-checkpointed: the
    // bookkeeping between waves (delta, compaction, seen) is row filters,
    // unions and a key partitioning, with no query plan to compile. SQL
    // runs the relational work — selection and link extraction — over
    // scans of these rows. Every stored RDD is in `held` until it is
    // superseded, or until the result is released.
    val held = scala.collection.mutable.ArrayBuffer.empty[RDD[InternalRow]]
    def hold(rdd: RDD[InternalRow], eager: Boolean): RDD[InternalRow] = {
      rdd.localCheckpoint()
      if (eager) rdd.count()
      held.synchronized { held += rdd }
      rdd
    }
    def drop(rdd: RDD[InternalRow]): Unit = {
      held.synchronized { held -= rdd }
      rdd.unpersist(blocking = false)
      ()
    }
    // seen rows, and each wave's candidates, are placed by their url hash
    val byKey = new HashPartitioner(P)
    def partitioned(rows: RDD[InternalRow], keyAt: Int): RDD[InternalRow] =
      rows.map(r => (r.getLong(keyAt), r)).partitionBy(byKey).values
    def stored(df: DataFrame, cols: Seq[String]): RDD[InternalRow] =
      GraftRows.rows(df.select(cols.map(col): _*)).map(_.copy())

    // -- frontier/seen state (see the class doc for the model) --
    var baseRdd  = hold(stored(basePending0, FrontierCols), eager = false)
    var seenRdd  = hold(partitioned(stored(seenBase0, Seq("url_hash", "url")), 0), eager = false)
    var deltaRdd = sc.emptyRDD[InternalRow]
    val doneRdds = scala.collection.mutable.ArrayBuffer(
      doneDeltas0.map(d => hold(stored(d, FrontierCols), eager = false)): _*)
    var deltaRowsBound = 0L  // upper bound on |deltaState| (drives compaction)
    var newSinceCompaction = 0L
    // keys SELECTED into a batch since the last compaction — the only base
    // rows a delta can supersede (discoveries never enter the base between
    // compactions). Bounded by the politeness budgets and the compaction
    // threshold; sorted, on the driver.
    var batchKeys = Array.emptyLongArray
    // discoveredWave watermark of the last compaction: rows discovered after
    // it (discoveredWave > watermark) are exactly the seen-set additions not
    // yet folded into seenRdd — a fetched discovery keeps its
    // discoveredWave, a base retry keeps its pre-compaction one
    var watermark = startWave

    def seenBase: DataFrame = GraftRows.scan(spark, Seq(seenRdd), SeenSchema)
    def newKeys: RDD[InternalRow] = {
      val w = watermark
      deltaRdd.filter(_.getInt(DiscoveredWaveAt) > w).mapPartitions(asRows(SeenSchema) { r =>
        Array[Any](r.getLong(UrlHashAt), r.getUTF8String(UrlAt)) })
    }
    def liveBase: RDD[InternalRow] = withoutKeys(baseRdd, batchKeys)

    // URL-seen Bloom state, residency chosen statically from the configured
    // sizing (cfg.bloomBroadcastable, like Spark's broadcast-join threshold):
    //  - broadcast regime (filter fits the bound): a driver PartitionedBloom
    //    that takes each wave's new keys on the driver (putHashes) and is
    //    broadcast as a copy per wave, probed row-locally — no extra shuffle.
    //    The driver object is BOUNDED BY CONFIG and putHashes throws past it.
    //  - sharded regime (the 10^10 path): a Dataset[BloomShard] living on
    //    executors, probed via shard-local cogroup — nothing whole-filter
    //    ever exists in one place. LAZY localCheckpoint, not persist: the
    //    bloom plan references ITSELF twice per wave (probe + merge), so
    //    un-truncated lineage grows exponentially (measured: OOM building
    //    plan strings by wave ~6); the totalKeys action is what materializes
    //    the checkpoint — no extra job.
    val bloomBroadcast = cfg.bloomBroadcastable
    var bloomDriver: PartitionedBloom    = null
    var bloomTable: Dataset[BloomShard]  = null
    var seenTotal = 0L
    if (bloomBroadcast) {
      bloomDriver = PartitionedBloom.empty(cfg.bloomShards, cfg.bloomExpected, cfg.bloomFpp)
      seedHashes match {
        case Some(hashes) => bloomDriver.putAll(hashes.toArray)
        case None         => bloomDriver.putHashes(seenBase)
      }
    } else {
      bloomTable = BloomTable.fromHashes(seenBase.select(col("url_hash")),
        cfg.bloomShards, cfg.bloomExpected, cfg.bloomFpp).localCheckpoint(false)
      seenTotal = BloomTable.totalKeys(bloomTable)
    }
    // puts a wave's new frontier rows' keys into the filter; returns how many
    def addToBloom(rows: RDD[InternalRow]): Long =
      if (bloomBroadcast) bloomDriver.putHashes(rows, UrlHashAt)
      else {
        val hashes = GraftRows.scan(spark, Seq(rows), FrontierSchema)
          .select(col("urlHash").as("url_hash"))
        val nb = BloomTable.merge(bloomTable, BloomTable.fromHashes(
          hashes, cfg.bloomShards, cfg.bloomExpected, cfg.bloomFpp))
          .localCheckpoint(false) // lazy: materialized by the totalKeys action
        val total = BloomTable.totalKeys(nb)
        bloomTable.unpersist(); bloomTable = nb
        val n = total - seenTotal
        seenTotal = total
        n
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
    // memory mode: every wave's fetched rows, read back as one fetch log
    val fetchedRdds = scala.collection.mutable.ArrayBuffer.empty[RDD[InternalRow]]

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

    // -- compaction: fold deltas into new base rows and the discoveries into
    // the seen rows (re-placed by key) — the ONLY O(frontier) work in the
    // engine, amortized over the waves between compactions.
    // Done rows move to the append-only doneRdds (never rewritten again).
    def maybeCompact(committedWave: Int): Unit = if (deltaRowsBound > cfg.frontierDeltaMaxRows) {
      phase("compaction", committedWave) {
        val pendingDelta = deltaRdd.filter(_.getUTF8String(StatusAt) == PendingUtf8)
        val bpF = Future { hold(sc.union(liveBase, pendingDelta).coalesce(P), eager = true) }
        val sbF =
          if (newSinceCompaction == 0L) Future.successful(seenRdd)
          else Future { hold(partitioned(sc.union(seenRdd, newKeys), 0), eager = true) }
        val bp2 = Await.result(bpF, Duration.Inf)
        val sb2 = Await.result(sbF, Duration.Inf)
        // the folded deltaRdd stays held: the done rows are a view over it
        doneRdds += deltaRdd.filter(_.getUTF8String(StatusAt) != PendingUtf8)
        store.foreach { st =>
          st.commitFrontierBase(committedWave,
            GraftRows.scan(spark, bp2 +: doneRdds.toSeq, FrontierSchema))
        }
        drop(baseRdd); baseRdd = bp2
        if (!(sb2 eq seenRdd)) { drop(seenRdd); seenRdd = sb2 }
        deltaRdd = sc.emptyRDD[InternalRow]
        // watermark = the wave the folded deltas were committed against:
        // wave w's discoveries are stamped discoveredWave = w + 1 and ARE
        // folded above, so anything stamped > committedWave + 1 is exactly
        // the not-yet-folded set (regression-tested in CrawlDepth2Spec)
        watermark = committedWave + 1
        batchKeys = Array.emptyLongArray
        newSinceCompaction = 0L
        deltaRowsBound = 0L
      }
    }

    while (!done && wave < cfg.maxWaves && !pendingKnown.exists(_ <= 0L)) {
      // live pending rows: untouched base rows + touched keys' latest state,
      // as ONE scan. The base rows lose the batch keys selected since
      // compaction — the sole base rows a delta can supersede (discoveries
      // live only in the delta). The plan is the same in every wave.
      val pending = GraftRows.scan(spark, Seq(liveBase, deltaRdd), FrontierSchema)
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

      // the fetch maps the batch rows (url, urlHash, host, depth, priority,
      // retries, discoveredWave, discoveredRank, parentUrl, host_rank) to
      // fetch-log rows; the wave id travels in the closure
      val waveNow = wave
      val fetchedRdd = hold(GraftRows.rows(batch).mapPartitions(asRows(FetchSchema) { e =>
        val t0  = System.nanoTime()
        val doc = fetcher(e.getUTF8String(0).toString)
        val fetchMs = (System.nanoTime() - t0) / 1000000L
        val spans = doc.fold(Array.empty[Any])(_.spans.map { s =>
          new GenericInternalRow(Array[Any](UTF8String.fromString(s.kind),
            UTF8String.fromString(s.text), UTF8String.fromString(s.media_ref), s.offset,
            UTF8String.fromString(s.cls))): Any })
        Array[Any](e.getUTF8String(0), e.getLong(1), e.getUTF8String(2), e.getInt(3),
          e.getDouble(4), e.getInt(5), e.getInt(6), e.getLong(7), e.getUTF8String(8),
          e.getLong(9), doc.isDefined, new GenericArrayData(spans), fetchMs, waveNow)
      }), eager = false)

      // one job per wave over the fetched rows (a plain RDD job: no plan to
      // compile) stores them, decides termination, counts the pages that may
      // still link within maxDepth, and brings the batch keys to the driver
      val maxDepth = cfg.maxDepth
      val parts = phase("select+fetch", wave) {
        sc.runJob(fetchedRdd, (it: Iterator[InternalRow]) => {
          var parents = 0L
          val keys = Array.newBuilder[Long]
          it.foreach { r =>
            if (r.getBoolean(FetchOkAt) && r.getInt(DepthAt) < maxDepth) parents += 1
            keys += r.getLong(UrlHashAt)
          }
          (parents, keys.result())
        })
      }
      val waveKeys = parts.flatMap(_._2).sorted
      val batchCount = waveKeys.length.toLong
      val parentCount = parts.map(_._1).sum
      totalFetches += batchCount
      if (batchCount == 0L) {
        drop(fetchedRdd)
        done = true
      } else {
        val fetched = GraftRows.scan(spark, Seq(fetchedRdd), FetchSchema)
        // -- link discovery → canonical candidates → URL-seen (G2-G4), only
        // when some fetched page may still link within maxDepth. A leaf wave
        // (no such page) discovers nothing, so it builds none of this.
        val isParent = col("ok") && col("depth") < cfg.maxDepth
        val newRows: Option[RDD[InternalRow]] = if (parentCount == 0L) None else Some {
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
          // every candidate as a pending frontier row
          val candidates = links
            .withColumn("depth", col("parent_depth") + 1)
            .withColumn("url", Urls.canonicalizeUdf(col("raw_url"), col("parent_url")))
            .withColumn("host", Urls.hostOfUdf(col("url")))
            // whitelist as a broadcast SEMI JOIN, not an isInCollection literal:
            // a large host list inlined into codegen recompiles every wave (and
            // a real crawl's whitelist is millions of hosts — join-shaped)
            .join(broadcast(whitelistDF), Seq("host"), "left_semi")
            .select(
              col("url"),
              xxhash64(col("url")).as("urlHash"),
              col("host"),
              col("depth"),
              WaveSelector.priority(col("depth"), lit(true),
                WaveSelector.profileShaped(col("url"))).as("priority"),
              lit(FrontierStatus.Pending).as("status"),
              lit(0).as("retries"),
              col("discoveredWave"),
              // first-discovery ordering encodes (parent_rank, link_rank) into
              // one long: rank = parent*RankBase + link. The guard fails LOUDLY
              // on a page with ≥ RankBase links (silent collision would corrupt
              // the first-discovery-wins ordering the exactness oracle checks);
              // depth overflow (RankBase^depth past ~3 with large seed ranks)
              // throws in Spark 4 ANSI arithmetic rather than wrapping.
              when(col("link_rank") < RankBase,
                col("parent_rank") * RankBase + col("link_rank"))
                .otherwise(raise_error(concat(
                  lit(s"page has >= $RankBase link spans (url="), col("parent_url"),
                  lit("); discoveredRank encoding cannot order them"))))
                .as("discoveredRank"),
              col("parent_url").as("parentUrl"))
          // first discovery wins when several pages link the same URL this
          // wave (every parent of a wave carries the same discoveredWave); the
          // keys land where seenRdd holds theirs
          val firsts = GraftRows.rows(candidates).map(r => (r.getLong(UrlHashAt), r.copy()))
            .reduceByKey(byKey, firstDiscovery _)
          // URL-seen: Bloom fast path + exact check. The exact rescue never
          // rewrites the seen set: it reads seenRdd's partition of each
          // Bloom-positive key, and the discoveries since compaction. The
          // broadcast regime probes a copy: the driver filter takes this
          // wave's keys while the copy is in use.
          val flagged =
            if (bloomBroadcast) UrlSeen.flag(firsts, bloomDriver.copy())
            else UrlSeen.flagSharded(firsts, bloomTable, cfg.bloomShards)
          hold(UrlSeen.exact(flagged, seenRdd, newKeys.map(_.getLong(0)), byKey), eager = false)
        }
        // the job that puts the new keys into the filter also stores them
        val n = newRows.fold(0L) { rows => phase("discover+seen", wave) { addToBloom(rows) } }

        // -- state transition (G8): selected rows leave pending (errors
        // retry); the wave's DELTA is just their new statuses + discoveries —
        // O(batch), never O(frontier). deltaState' = deltaState ⧹ batchKeys ∪
        // waveDelta; only the BATCH keys need removing (discoveries are
        // unseen, so they cannot already be in deltaState).
        val maxRetries = cfg.maxRetries
        val finished = fetchedRdd.mapPartitions(asRows(FrontierSchema) { r =>
          val ok = r.getBoolean(FetchOkAt)
          val retries = r.getInt(FetchRetriesAt)
          val status =
            if (ok) FetchedUtf8
            else if (retries + 1 <= maxRetries) PendingUtf8
            else ErrorUtf8
          Array[Any](r.getUTF8String(0), r.getLong(1), r.getUTF8String(2), r.getInt(3),
            r.getDouble(4), status, if (ok) retries else retries + 1, r.getInt(6),
            r.getLong(7), r.getUTF8String(8))
        })
        val waveDelta = finished +: newRows.toSeq
        // -- commit (G10): snapshot mode writes the wave's deltas durably
        // before the state moves on (a committed wave's marker implies its
        // seen/bloom state is durable+applied: the resume contract)
        store.foreach { st =>
          st.commitWave(wave, GraftRows.scan(spark, waveDelta, FrontierSchema),
            GraftRows.scan(spark, newRows.toSeq, FrontierSchema)
              .select(col("urlHash").as("url_hash"), col("url")),
            docsOf(fetched), orderOf(fetched), fetchMetricsOf(fetched))
        }
        val nextDelta = phase("delta-ckpt", wave) {
          hold(sc.union(withoutKeys(deltaRdd, waveKeys) +: waveDelta).coalesce(P), eager = true)
        }
        drop(deltaRdd); deltaRdd = nextDelta
        newRows.foreach(drop)
        if (store.isDefined) drop(fetchedRdd) else fetchedRdds += fetchedRdd
        deltaRowsBound += batchCount + n
        newSinceCompaction += n
        batchKeys = (batchKeys ++ waveKeys).sorted
        pendingKnown = pendingKnown.map(_ - batchCount + n)
        maybeCompact(wave)
        wave += 1
      }
    }

    // the fetch log: memory mode scans the fetched rows of every wave as ONE
    // relation; snapshot mode reads every committed wave's files in one scan
    val allWaves = committedWaves ++ (startWave until wave)
    val (docs, orderRaw, fetchAgg) = store match {
      case Some(st) if allWaves.nonEmpty => (st.readDeltas(allWaves, "docs_delta"),
        st.readDeltas(allWaves, "order_delta"), st.readDeltas(allWaves, "metrics_delta"))
      case _ =>
        val log = GraftRows.scan(spark, fetchedRdds.toSeq, FetchSchema)
        (docsOf(log), orderOf(log), fetchMetricsOf(log))
    }
    if (!bloomBroadcast) held ++= bloomTable.queryExecution.logical.collectFirst {
      case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd } // released with the result
    val frontierFinal =
      GraftRows.scan(spark, Seq(liveBase, deltaRdd) ++ doneRdds, FrontierSchema)
    val seenFinal = GraftRows.scan(spark, Seq(seenRdd, newKeys), SeenSchema)
    // urlsEnqueued from the frontier: wave w's discoveries are stamped
    // discoveredWave = w + 1 (seeds are 0)
    val enqueued = frontierFinal.filter(col("discoveredWave") > 0)
      .groupBy((col("discoveredWave") - 1).as("wave"))
      .agg(count(lit(1)).as("urlsEnqueued"))
    val metrics = fetchAgg.join(enqueued, Seq("wave"), "left")
      .select(col("wave"), col("host"), col("fetched"), col("errors"), col("fetchMsTotal"),
        coalesce(col("urlsEnqueued"), lit(0L)).as("urlsEnqueued"))
    CrawlResult(frontierFinal, seenFinal, docs, () => order(spark, orderRaw), metrics, wave,
      totalFetches, held.toSeq)
  }

  // every frontier row set has this schema, nullability included: the
  // generated code of a plan depends on its input's nullability, so a
  // non-null seed table would give wave 0 and the waves after a compaction
  // different classes
  private val FrontierSchema = StructType.fromDDL(FrontierDdl)
  private val FrontierCols = FrontierSchema.fieldNames.toSeq
  private val SeenSchema = StructType.fromDDL("url_hash long, url string")
  private val FetchSchema = StructType.fromDDL(
    "url string, urlHash long, host string, depth int, priority double, retries int, " +
      "discoveredWave int, discoveredRank long, parentUrl string, host_rank long, ok boolean, " +
      "spans array<struct<kind:string,text:string,media_ref:string,offset:int,cls:string>>, " +
      "fetchMs long, wave int")
  // field positions the row-level bookkeeping reads (frontier and fetch rows
  // share the first five fields)
  private val UrlAt = 0
  private val UrlHashAt = 1
  private val HostAt = 2
  private val DepthAt = 3
  private val DiscoveredRankAt = FrontierSchema.fieldIndex("discoveredRank")
  private val ParentUrlAt = FrontierSchema.fieldIndex("parentUrl")
  private val StatusAt = FrontierSchema.fieldIndex("status")
  private val DiscoveredWaveAt = FrontierSchema.fieldIndex("discoveredWave")
  private val FetchRetriesAt = FetchSchema.fieldIndex("retries")
  private val FetchOkAt = FetchSchema.fieldIndex("ok")
  private val PendingUtf8 = UTF8String.fromString(FrontierStatus.Pending)
  private val FetchedUtf8 = UTF8String.fromString(FrontierStatus.Fetched)
  private val ErrorUtf8 = UTF8String.fromString(FrontierStatus.Error)

  /** Per partition: `fields` of each input row as a compact row of `schema`
    * (a copy that holds nothing of the input row).
    */
  private def asRows(schema: StructType)(fields: InternalRow => Array[Any])
      : Iterator[InternalRow] => Iterator[InternalRow] = { it =>
    val toUnsafe = UnsafeProjection.create(schema)
    it.map(r => toUnsafe(new GenericInternalRow(fields(r))).copy())
  }

  /** Frontier rows whose `urlHash` is not among `sortedKeys`. */
  private def withoutKeys(rows: RDD[InternalRow], sortedKeys: Array[Long]): RDD[InternalRow] =
    if (sortedKeys.isEmpty) rows
    else {
      val keys = rows.sparkContext.broadcast(sortedKeys)
      rows.filter(r => java.util.Arrays.binarySearch(keys.value, r.getLong(UrlHashAt)) < 0)
    }

  private def docsOf(fetched: DataFrame): DataFrame = fetched.filter(col("ok"))
    .select(col("url"), col("urlHash"), col("host"), col("depth"), col("wave"), col("spans"))

  private def orderOf(fetched: DataFrame): DataFrame =
    fetched.select(col("wave"), col("host"), col("host_rank"), col("url"))

  private def fetchMetricsOf(fetched: DataFrame): DataFrame =
    fetched.groupBy(col("wave"), col("host")).agg(
      sum(when(col("ok"), 1L).otherwise(0L)).as("fetched"),
      sum(when(col("ok"), 0L).otherwise(1L)).as("errors"),
      sum(col("fetchMs")).as("fetchMsTotal"))

  /** Global crawl sequence (seq, wave, host, host_rank, url): the fetch log
    * sorted by (wave, host, host_rank) — host order is Spark's own UTF8
    * binary order — and numbered from 0. A range-partitioned sort and
    * `zipWithIndex` over the rows: fully distributed, with nothing collected
    * to the driver and no unpartitioned window, and no plan to compile
    * beyond the scan of the log.
    */
  private def order(spark: SparkSession, orderRaw: DataFrame): DataFrame = {
    implicit val byKey: Ordering[(Int, UTF8String, Long)] = Ordering.Tuple3(
      Ordering.Int, (a: UTF8String, b: UTF8String) => a.compareTo(b), Ordering.Long)
    val rows = GraftRows.rows(orderRaw.select(col("wave"), col("host"), col("host_rank"),
      col("url"))).map(_.copy())
    val numbered = rows.sortBy(r => (r.getInt(0), r.getUTF8String(1), r.getLong(2)))
      .zipWithIndex().map { case (r, seq) =>
        new GenericInternalRow(Array[Any](seq, r.getInt(0), r.getUTF8String(1),
          r.getLong(2), r.getUTF8String(3))): InternalRow
      }
    GraftRows.scan(spark, Seq(numbered),
      StructType.fromDDL("seq long, wave int, host string, host_rank long, url string"))
  }

  private def shufflePartitions(spark: SparkSession): Int =
    spark.conf.get("spark.sql.shuffle.partitions", "32").toInt

  /** The first discovery of a key: the least (discoveredRank, url, host,
    * depth, parentUrl, discoveredWave) of two frontier rows.
    */
  private def firstDiscovery(a: InternalRow, b: InternalRow): InternalRow = {
    val byField = Iterator(
      java.lang.Long.compare(a.getLong(DiscoveredRankAt), b.getLong(DiscoveredRankAt)),
      a.getUTF8String(UrlAt).compareTo(b.getUTF8String(UrlAt)),
      a.getUTF8String(HostAt).compareTo(b.getUTF8String(HostAt)),
      Integer.compare(a.getInt(DepthAt), b.getInt(DepthAt)),
      a.getUTF8String(ParentUrlAt).compareTo(b.getUTF8String(ParentUrlAt)),
      Integer.compare(a.getInt(DiscoveredWaveAt), b.getInt(DiscoveredWaveAt)))
    if (byField.find(_ != 0).getOrElse(0) <= 0) a else b
  }

}
