package graft.crawl

import graft.frontier.{BloomTable, Robots, UrlSeen, WaveSelector}
import graft.functions.SpanExprs
import graft.model._
import graft.synth.SyntheticSite.Seed
import graft.urls.Urls

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, GraftRows, Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{GenericInternalRow, UnsafeProjection}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import org.apache.spark.unsafe.types.UTF8String

/** The crawl engine: a wave-synchronous driver loop of Spark jobs
  * (SURVEY.md §3 E1, §2.8). Each wave is one pipeline:
  *
  *   frontier → robots rule per host → per-host top-k batch select
  *            → fetch (per partition) → span docs
  *            → link explode → canonicalize → xxhash64 → whitelist/depth
  *            → first discovery per key → Bloom pre-filter + exact check
  *            → state DELTA committed;  wave outputs committed atomically.
  *
  * SQL runs only link extraction ([[graft.functions.SpanExprs.anchorLinks]])
  * and the records, whose semantics live in Column expressions. The rest —
  * selection ([[graft.frontier.WaveSelector.select]]: the robots rules and
  * per-host heaps, run as the first stages of the wave's fetch job), fetch,
  * whitelist, first-discovery dedup, URL-seen check, delta, compaction —
  * works on RDDs of rows, which compile no code and plan no query.
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
  * merged to one per host ([[graft.frontier.Robots.mergeRules]]) and that
  * host map is broadcast to the selection tasks before the loop, the
  * whitelist hosts are broadcast once, and both are destroyed when the loop
  * ends. The URL-seen Bloom filter is shard rows held like the seen keys
  * ([[graft.frontier.BloomTable]]), at every size: nothing of it lives on
  * the driver or is broadcast. Its shards start from the entry's seen keys
  * and take each non-leaf wave's discoveries where they live; the entry's
  * shards are built by the first job that probes them, so they cost no job
  * of their own.
  *
  * One entry: a crawl starts from a stored frontier, the seed rows at a cold
  * start and the store's frontier at its last committed wave on resume. The
  * pending base, the done rows and the seen keys all read those stored rows,
  * and the pass that stores them also counts the pending ones. Each wave's
  * fetch job counts the rows that re-enter pending as retries, so the count
  * stays exact for every `maxRetries` and the loop stops without an empty
  * wave when nothing is left to fetch.
  *
  * Wave-synchronous batches — not Structured Streaming — because the primary
  * correctness obligation is deterministic, reproducible ordering vs the
  * sequential reference (`scraper.py:43-63`); see SURVEY.md §2.9.
  *
  * State model (the 1000-executor / 10^10-URL design): what a wave shuffles
  * and writes is O(wave batch), never O(frontier), but selection still SCANS
  * every pending row (robots rule and heap for each of them). With 64 hosts
  * at a budget of 12 on 4 cores, selection took 140 ms at 10^4 pending rows
  * and 234 ms at 4·10^6. The frontier lives as
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
  * (the only O(frontier) work, amortized). The URL-seen set is the
  * frontier's key set, kept as url hashes only (8-byte fingerprints, not
  * URLs) in held parts: the entry's keys, then each non-leaf wave's new
  * keys, stored by the job that puts them into the Bloom filter; compaction
  * concatenates them partition by partition. The parts, each wave's
  * candidates and the Bloom shards share ONE partitioner
  * ([[graft.frontier.ShardPlacement]]), so the URL-seen check, the Bloom
  * put and compaction move nothing. It has `min(bloomShards, P)` partitions
  * for `P` shuffle partitions: every test and benchmark shape has `P <= 32`,
  * the default `bloomShards`. Selection is
  * an exact top-k over map-side bounded heaps merged by host, so even the
  * selection shuffle moves O(hosts × budget) rows, not O(pending). Fetch
  * maps the selected batch only.
  */
object WaveRunner {

  /** Per-page link-ordinal base for the discoveredRank encoding
    * (rank = parent_rank × RankBase + link_rank): supports up to 100k links
    * per page and ~3 depth levels before Long range runs out — both enforced
    * loudly (see the candidates projection), never by silent wraparound.
    */
  val RankBase = 100000L

  /** A crawl's settings. The robots rules are not among them: a crawl takes
    * its rules as a list, and the selection reads them merged to one per
    * host, broadcast once per crawl, whatever their number.
    */
  final case class CrawlConfig(
      maxDepth: Int = 1,
      maxWaves: Int = 10000,
      maxRetries: Int = 0,          // reference fetches once, no retry (scraper.py:160-162)
      waveSeconds: Double = 1.0,    // × 1/crawl_delay = per-host budget (scraper.py:83)
      /** URL-seen Bloom sizing, fixed for the crawl: `bloomShards` shard
        * rows on the executors ([[graft.frontier.BloomTable]]), together
        * sized for `bloomExpected` keys at `bloomFpp`. A crawl whose seen set
        * would outgrow `bloomExpected` throws, at entry or at the wave that
        * would overfill it.
        */
      bloomShards: Int = 32,
      bloomExpected: Long = 1L << 20,
      bloomFpp: Double = 0.01,
      /** Frontier/seen compaction threshold: when the keys touched since the
        * last compaction exceed this, deltas fold into new base rows (the
        * only O(frontier) work — amortized over the waves between
        * compactions). Also bounds the batch keys the driver holds and
        * broadcasts each wave: size it so `frontierDeltaMaxRows` × 8 B fits
        * comfortably in driver and executor memory.
        */
      frontierDeltaMaxRows: Long = 1L << 22,
      snapshotDir: Option[String] = None // Some(dir) = committed, resumable waves
  )

  final case class CrawlResult(
      frontier: DataFrame,
      seen: DataFrame,       // url_hash, url: the frontier's keys
      docs: DataFrame,       // url, urlHash, host, depth, wave, spans
      private val orderThunk: () => DataFrame,
      metrics: DataFrame,    // wave, host, fetched, errors, fetchMsTotal, urlsEnqueued
      waves: Int,
      // fetches attempted by this call: a cold start's equal the crawlOrder
      // row count, a resume counts only its own (0 for a finished crawl)
      fetches: Long,
      held: Seq[RDD[_]]      // checkpointed row sets the DataFrames above read, Bloom shards
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
    def release(): Unit = held.foreach(GraftRows.release)
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
      FrontierSchema)
  }

  /** Cold-start crawl from a seed list: the wave loop entered with the seed
    * rows as its frontier.
    */
  def run(
      spark: SparkSession,
      seeds: Seq[Seed],
      fetcher: String => Option[SpanDoc],
      rules: Seq[RobotsRule] = Nil,
      cfg: CrawlConfig = CrawlConfig()
  ): CrawlResult =
    runLoop(spark, seedFrontier(spark, seeds), startWave = 0, Nil, whitelistOf(seeds),
      fetcher, rules, cfg)

  /** Resume a snapshot-mode crawl from its last committed wave: the wave
    * loop entered with the frontier as of that wave (the newest compacted
    * base, or the seed rows, folded latest-wins with the frontier deltas
    * after it: [[WaveSnapshots.frontierAsOf]], run once). Seen is that
    * frontier's key set, and the Bloom filter is rebuilt from it (fixed
    * sizing ⇒ identical shape). Resuming a completed crawl is a no-op: the
    * restored frontier has no pending rows, so the loop runs no wave and
    * returns the committed state. A directory with no committed wave is a
    * cold start.
    */
  def resume(
      spark: SparkSession,
      seeds: Seq[Seed],
      fetcher: String => Option[SpanDoc],
      rules: Seq[RobotsRule],
      cfg: CrawlConfig
  ): CrawlResult = {
    val dir = cfg.snapshotDir.getOrElse(
      throw new IllegalArgumentException("resume requires cfg.snapshotDir"))
    val P     = shufflePartitions(spark)
    val store = new ParquetSnapshotStore(spark, dir, P)
    val committed = store.listCommitted()
    if (committed.isEmpty) return run(spark, seeds, fetcher, rules, cfg)

    val last = committed.max
    runLoop(spark, WaveSnapshots.frontierAsOf(store, seedFrontier(spark, seeds), last),
      last + 1, committed.sorted, whitelistOf(seeds), fetcher, rules, cfg)
  }

  /** The hosts a crawl may enter: its seeds'. */
  private def whitelistOf(seeds: Seq[Seed]): Seq[String] =
    seeds.map(s => Urls.hostOf(Urls.normalize(s.url))).distinct

  /** The wave loop (shared by cold start and resume).
    *
    * @param entry          the frontier the loop starts from, every status:
    *                       stored once, it is the pending base, the done
    *                       rows and the seen keys
    * @param committedWaves already-committed wave ids, whose fetch logs are
    *                       stitched into the returned result
    */
  private def runLoop(
      spark: SparkSession,
      entry: DataFrame,
      startWave: Int,
      committedWaves: Seq[Int],
      whitelist: Seq[String],
      fetcher: String => Option[SpanDoc],
      rules: Seq[RobotsRule],
      cfg: CrawlConfig
  ): CrawlResult = {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    import scala.concurrent.ExecutionContext.Implicits.global
    val P  = shufflePartitions(spark)
    val sc = spark.sparkContext

    // The frontier/seen state is RDDs of rows and keys, local-checkpointed:
    // the bookkeeping between waves (delta, compaction, seen) is row filters
    // and unions, with no query plan to compile; so is selection, inside
    // each wave's fetch job. SQL runs only link extraction over scans of
    // these rows. Every stored RDD is in `held` until it is superseded or the
    // result released.
    val held = scala.collection.mutable.ArrayBuffer.empty[RDD[_]]
    def hold[T](rdd: RDD[T], eager: Boolean): RDD[T] = {
      rdd.localCheckpoint()
      if (eager) rdd.count()
      held.synchronized { held += rdd }
      rdd
    }
    def drop(rdd: RDD[_]): Unit = {
      held.synchronized { held -= rdd }
      GraftRows.release(rdd)
    }
    // -- frontier/seen state (see the class doc for the model) --
    // the entry rows, stored once: the pending base, the first done rows and
    // the seen keys read them (done rows stay views over stored rows)
    val entryRdd = hold(GraftRows.rows(entry.select(FrontierCols.map(col): _*)).map(_.copy()),
      eager = false)
    var baseRdd  = entryRdd.filter(isPending)
    var deltaRdd = sc.emptyRDD[InternalRow]
    val doneRdds = scala.collection.mutable.ArrayBuffer(entryRdd.filter(!isPending(_)))
    var deltaRowsBound = 0L  // upper bound on |deltaState| (drives compaction)
    // keys SELECTED into a batch since the last compaction — the only base
    // rows a delta can supersede (discoveries never enter the base between
    // compactions). Bounded by the politeness budgets and the compaction
    // threshold; sorted, on the driver.
    var batchKeys = Array.emptyLongArray
    def liveBase: RDD[InternalRow] = withoutKeys(baseRdd, batchKeys)

    // URL-seen state, all of it placed by one partitioner: the seen keys as
    // held parts (the entry's, then each non-leaf wave's new keys, stored by
    // the job that puts them into the Bloom filter), and the filter as shard
    // rows on the executors that take the new keys and probes of their
    // partition. The entry part and the shards built from it are stored by
    // the first job that reads them: the first non-leaf wave's discovery put.
    val placement = BloomTable.placement(cfg.bloomShards, P)
    val seenParts = scala.collection.mutable.ArrayBuffer(
      hold(UrlSeen.place(UrlSeen.keysOf(entryRdd, UrlHashAt), placement), eager = false))
    // the entry pass: one job over the entry rows stores them and counts
    // them and the pending ones; the filter throws here, before any wave,
    // when the entry alone exceeds its sizing
    val entryCounts = sc.runJob(entryRdd, (it: Iterator[InternalRow]) =>
      it.foldLeft((0L, 0L)) { case ((rows, pending), r) =>
        (rows + 1, if (isPending(r)) pending + 1 else pending) })
    val bloom = new BloomTable(seenParts.head, entryCounts.map(_._1).sum, placement,
      cfg.bloomExpected, cfg.bloomFpp)

    // fixed for the crawl, broadcast once and destroyed when the loop ends:
    // the robots rules the selection reads, merged to one per host, and the
    // hosts discovery may enter
    val rulesByHost = sc.broadcast(Robots.mergeRules(rules).map(r => r.host -> r).toMap)
    val hosts = sc.broadcast(whitelist.map(UTF8String.fromString).toSet)

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
    // Exact pending-row count from the entry's pending rows: pending' =
    // pending − batch + retrying + discoveries (the fetch job counts the
    // retrying rows). At zero the loop stops WITHOUT the empty wave (a
    // frontier scan + selection + zero-row fetch, ~0.7 s on the bench corpus)
    // that would only observe it, so a resume of a finished crawl runs no
    // wave. Robots-denied rows keep it positive: an empty batch stops then.
    var pendingCount = entryCounts.map(_._2).sum

    // -- compaction: fold deltas into new base rows — the ONLY O(frontier)
    // work in the engine, amortized over the waves between compactions —
    // and the seen parts into one, partition by partition (no shuffle).
    // Done rows move to the append-only doneRdds (never rewritten again).
    def maybeCompact(committedWave: Int): Unit = if (deltaRowsBound > cfg.frontierDeltaMaxRows) {
      phase("compaction", committedWave) {
        val pendingDelta = deltaRdd.filter(isPending)
        val bpF = Future { hold(sc.union(liveBase, pendingDelta).coalesce(P), eager = true) }
        val sbF = if (seenParts.size == 1) Future.successful(seenParts.head)
          else Future { hold(sc.union(seenParts.toSeq), eager = true) }
        val bp2 = Await.result(bpF, Duration.Inf)
        val sb2 = Await.result(sbF, Duration.Inf)
        // the folded deltaRdd stays held: the done rows are a view over it
        doneRdds += deltaRdd.filter(!isPending(_))
        store.foreach { st =>
          st.commitFrontierBase(committedWave,
            GraftRows.scan(spark, bp2 +: doneRdds.toSeq, FrontierSchema))
        }
        drop(baseRdd); baseRdd = bp2
        if (seenParts.size > 1) { seenParts.foreach(drop); seenParts.clear(); seenParts += sb2 }
        deltaRdd = sc.emptyRDD[InternalRow]
        batchKeys = Array.emptyLongArray
        deltaRowsBound = 0L
      }
    }

    val maxDepth = cfg.maxDepth
    val maxRetries = cfg.maxRetries
    try while (!done && wave < cfg.maxWaves && pendingCount > 0L) {
      // the batch, selected from the live rows (untouched base rows + touched
      // keys' latest state; the base rows lose the batch keys selected since
      // compaction — the sole base rows a delta can supersede, as discoveries
      // live only in the delta) by row code that runs as the first stages of
      // the wave's fetch job. It carries ALL frontier fields through the
      // fetch so the post-fetch state transition is a pure projection — no
      // join back against the frontier. Its rows are spread round-robin over
      // P*3 fetch tasks, sized by request count: the selection has only the
      // few partitions its hosts hash to (measured round 4: fetching on 16
      // host-hashed partitions at 8 cores is not faster — the saved shuffle
      // is repaid in coarser tasks at the stage tail).
      val batch = WaveSelector.select(sc.union(liveBase, deltaRdd), rulesByHost, cfg.waveSeconds,
        maxRetries, P, P * 3)

      // the fetch maps the batch rows (url, urlHash, host, depth, priority,
      // retries, discoveredWave, discoveredRank, parentUrl, host_rank) to
      // fetch-log rows; the wave id travels in the closure
      val waveNow = wave
      val fetchedRdd = hold(batch.mapPartitions(asRows(FetchSchema) { e =>
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
      // still link within maxDepth and the rows that will retry, and brings
      // the batch keys to the driver
      val parts = phase("select+fetch", wave) {
        sc.runJob(fetchedRdd, (it: Iterator[InternalRow]) => {
          var parents = 0L
          var retrying = 0L
          val keys = Array.newBuilder[Long]
          it.foreach { r =>
            if (!r.getBoolean(FetchOkAt)) {
              if (r.getInt(FetchRetriesAt) + 1 <= maxRetries) retrying += 1
            } else if (r.getInt(DepthAt) < maxDepth) parents += 1
            keys += r.getLong(UrlHashAt)
          }
          (parents, retrying, keys.result())
        })
      }
      val waveKeys = parts.flatMap(_._3).sorted
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
          // One projection: anchorLinks reads each page's spans once and
          // keeps the name-element anchors only (scraper.py:54). The depth
          // guard comes first: a leaf row's links would all die at it, so
          // they are never extracted or canonicalized.
          val links = fetched.filter(isParent)
            .select(col("url").as("parent_url"), col("depth").as("parent_depth"),
              col("discoveredRank").as("parent_rank"),
              // from the parent rows, not a lit(): an inlined wave literal
              // would change the generated code every wave
              (col("wave") + 1).as("discoveredWave"),
              explode(SpanExprs.anchorLinks(col("spans"))).as("lnk"))
            .select(col("parent_url"), col("parent_depth"), col("parent_rank"),
              col("discoveredWave"),
              col("lnk.url").as("raw_url"), col("lnk.rank").as("link_rank"))
          // every candidate as a pending frontier row
          val candidates = links
            .withColumn("depth", col("parent_depth") + 1)
            .withColumn("url", Urls.canonicalizeUdf(col("raw_url"), col("parent_url")))
            .withColumn("host", Urls.hostOfUdf(col("url")))
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
          // the whitelisted ones (a broadcast set, not a literal in the
          // plan, which would recompile with the list); first discovery wins
          // when several pages link the same URL this wave (every parent of a
          // wave carries the same discoveredWave)
          val firsts = GraftRows.rows(candidates)
            .filter(r => hosts.value.contains(r.getUTF8String(HostAt)))
            .map(r => (r.getLong(UrlHashAt), r.copy()))
            .reduceByKey(placement, firstDiscovery _)
          // URL-seen: Bloom fast path + exact check, both on the candidates'
          // own partition (nothing moves): a Bloom-positive key is checked
          // against its partition of the seen parts
          hold(UrlSeen.exact(UrlSeen.flagSharded(firsts, bloom.shards, placement),
            sc.union(seenParts.toSeq)), eager = false)
        }
        // the job that puts the new keys into the filter also stores them
        // (the rows, and their keys as the wave's seen part)
        val n = newRows.fold(0L) { rows =>
          val part = hold(UrlSeen.keysOf(rows, UrlHashAt), eager = false)
          seenParts += part
          phase("discover+seen", wave)(bloom.putKeys(part))
        }

        // -- state transition (G8): selected rows leave pending (errors
        // retry); the wave's DELTA is just their new statuses + discoveries —
        // O(batch), never O(frontier). deltaState' = deltaState ⧹ batchKeys ∪
        // waveDelta; only the BATCH keys need removing (discoveries are
        // unseen, so they cannot already be in deltaState).
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
        // -- commit (G10): snapshot mode writes the wave's frontier delta
        // and fetch log durably before the state moves on (a committed
        // wave's marker implies its seen/bloom state is durable+applied: the
        // resume contract)
        store.foreach(_.commitWave(wave, GraftRows.scan(spark, waveDelta, FrontierSchema), fetched))
        val nextDelta = phase("delta-ckpt", wave) {
          hold(sc.union(withoutKeys(deltaRdd, waveKeys) +: waveDelta).coalesce(P), eager = true)
        }
        drop(deltaRdd); deltaRdd = nextDelta
        newRows.foreach(drop)
        if (store.isDefined) drop(fetchedRdd) else fetchedRdds += fetchedRdd
        deltaRowsBound += batchCount + n
        batchKeys = (batchKeys ++ waveKeys).sorted
        pendingCount += parts.map(_._2).sum - batchCount + n
        maybeCompact(wave)
        wave += 1
      }
    } finally { rulesByHost.destroy(); hosts.destroy() }

    // the fetch log, which docs, order and metrics project: memory mode
    // scans the fetched rows of every wave as ONE relation; snapshot mode
    // reads every committed wave's fetch table in one scan
    val allWaves = committedWaves ++ (startWave until wave)
    val log = store match {
      case Some(st) if allWaves.nonEmpty => st.readFetchLog(allWaves)
      case _ => GraftRows.scan(spark, fetchedRdds.toSeq, FetchSchema)
    }
    held += bloom.shards // released with the result
    val frontierFinal =
      GraftRows.scan(spark, Seq(liveBase, deltaRdd) ++ doneRdds, FrontierSchema)
    // urlsEnqueued from the frontier: wave w's discoveries are stamped
    // discoveredWave = w + 1 (seeds are 0)
    val enqueued = frontierFinal.filter(col("discoveredWave") > 0)
      .groupBy((col("discoveredWave") - 1).as("wave"))
      .agg(count(lit(1)).as("urlsEnqueued"))
    val metrics = fetchMetricsOf(log).join(enqueued, Seq("wave"), "left")
      .select(col("wave"), col("host"), col("fetched"), col("errors"), col("fetchMsTotal"),
        coalesce(col("urlsEnqueued"), lit(0L)).as("urlsEnqueued"))
    CrawlResult(frontierFinal, WaveSnapshots.seenOf(frontierFinal), docsOf(log),
      () => order(spark, log), metrics, wave, totalFetches, held.toSeq)
  }

  // every frontier row set has this schema, nullability included: the
  // generated code of a plan depends on its input's nullability, so a
  // non-null seed table would give wave 0 and the waves after a compaction
  // different classes
  private[crawl] val FrontierSchema = StructType.fromDDL(
    "url string, urlHash long, host string, depth int, priority double, " +
      "status string, retries int, discoveredWave int, discoveredRank long, " +
      "parentUrl string")
  private[crawl] val FrontierCols = FrontierSchema.fieldNames.toSeq
  // a fetch-log row is its batch row and what the fetch returned
  private[crawl] val FetchSchema = StructType(WaveSelector.BatchSchema.fields ++ StructType.fromDDL(
    "ok boolean, spans array<struct<kind:string,text:string,media_ref:string,offset:int," +
      "cls:string>>, fetchMs long, wave int").fields)
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

  private def isPending(r: InternalRow): Boolean = r.getUTF8String(StatusAt) == PendingUtf8

  /** Frontier rows whose `urlHash` is not among `sortedKeys`. */
  private def withoutKeys(rows: RDD[InternalRow], sortedKeys: Array[Long]): RDD[InternalRow] =
    if (sortedKeys.isEmpty) rows
    else {
      val keys = rows.sparkContext.broadcast(sortedKeys)
      rows.filter(r => java.util.Arrays.binarySearch(keys.value, r.getLong(UrlHashAt)) < 0)
    }

  private def docsOf(fetched: DataFrame): DataFrame = fetched.filter(col("ok"))
    .select(col("url"), col("urlHash"), col("host"), col("depth"), col("wave"), col("spans"))

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
  private def order(spark: SparkSession, log: DataFrame): DataFrame = {
    implicit val byKey: Ordering[(Int, UTF8String, Long)] = Ordering.Tuple3(
      Ordering.Int, (a: UTF8String, b: UTF8String) => a.compareTo(b), Ordering.Long)
    val rows = GraftRows.rows(log.select(col("wave"), col("host"), col("host_rank"),
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
