package graft

import graft.crawl.WaveRunner
import graft.crawl.WaveRunner.CrawlConfig
import graft.synth.SyntheticSite
import graft.synth.SyntheticSite.SiteConfig
import org.apache.spark.sql.SparkSession

/** Per-round benchmark (driver contract): one JSON line with headline query
  * timings at SPARK_GRAFT_SF_DIR, plus the north-rule scaling evidence — the
  * identical synthetic crawl at two cluster sizes (N=2 and 4N=8 cores, each
  * a CPU-pinned child JVM, clamped to the cores the box has — see
  * [[coreLevels]]; no real multi-executor cluster in this sandbox, per
  * BASELINE.md), reporting frontier URLs/sec at both, the raw scaling
  * efficiency (rate_4N/rate_N)/4, and — as the headline — that efficiency
  * normalized by the box's WORKLOAD-MATCHED thread-scaling ceiling (the
  * per-page render+parse work on plain threads at the same core pair, zero
  * Spark). One box shares memory bandwidth/LLC/allocator across threads; a
  * real 4N-node cluster adds them linearly, so the raw single-box ratio
  * structurally understates cluster scaling and the normalized figure is
  * the cluster-relevant one. Both are emitted, with the ceiling and the
  * pinned-methodology flag.
  *
  * Queries are forced through the noop sink — `count()` would let Catalyst
  * prune away the projected work being measured.
  */
object Bench {

  /** The headline queries, timed in this order (BenchExtra's default set). */
  private[graft] val headline = Seq(
    "q_flagship_agg", "q_agg_lineitem", "q_topk_revenue", "q_window_rank",
    "q_semi_anti", "q_tfidf_cosine", "q_minhash_lsh", "q_cosine_topk",
    "q_dedup_exact", "q_token_stats", "q_quality_score", "q_events_window",
    "q_text_search", "q_corpus_prep",
    // iterative + banded dedup operators tracked round-over-round (r4 verdict
    // #4): the CC queries also log per-round label stats (graft.cc.debug)
    "q_dup_clusters", "q_dup_clusters_lsh", "q_simhash_pairs",
    // training-data preparation operators (round 5)
    "q_redact_pii", "q_sample_stratified", "q_pack_sequences",
    // exact-quantile corpus QA (late round 5)
    "q_length_stats",
    // semantic curation + span dedup (final round-5 session): the iterative
    // k-means and the chunk-keyed window are the two newest shuffle shapes
    "q_kmeans_clusters", "q_semantic_neardup", "q_chunk_dedup",
    "q_boilerplate_grams")

  /** The one session shape of the dev mains (Bench, BenchExtra, PlanDump,
    * Verify, CrawlDemo): local[cpus], shuffle.partitions = cpus, AQE, UTC,
    * `GraftExtensions`.
    */
  def session(cpus: Int, app: String): SparkSession = {
    val s = SparkSession.builder()
      .withExtensions(new graft.plans.GraftExtensions)
      .master(s"local[$cpus]")
      .appName(app)
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Crawl bench corpus: 1,536 hosts × 289 pages = 443,904 URLs in 2 waves,
    * fetched through the HTML render+parse path (realistic per-page cost).
    * Sized so within-wave parallel work dominates the serial per-wave fixed
    * cost (~2-3 s/run of driver/plan time that no core count absorbs);
    * otherwise the efficiency metric measures Amdahl overhead, not the
    * engine. N=2 vs 4N=8 cores: this box thread-scales cleanly in that range
    * (no SMT; pure-CPU probe 0.93+ at 2→8 but 0.73 at 8→32).
    */
  private val benchSite = SiteConfig(universities = 768, deptsPerU = 2, facultyPerDept = 288,
    errorFraction = 0.05, pubsPerFaculty = 12, bioWords = 250)
  private val benchCrawl = CrawlConfig(waveSeconds = 320.0)
  private val coresAvailable = Runtime.getRuntime.availableProcessors
  private val (nCores, n4Cores, coresClamped) = coreLevels(coresAvailable)

  /** The N and 4N crawl levels for a box with `available` cores: N=2, 4N=8
    * when it has 8; below that 4N is every available core and N a quarter of
    * them (at least 1), so no pinned child is handed cores the box lacks
    * (`taskset -c 0-7` on 4 cores runs the "8-core" child on 4). The flag
    * says the levels were clamped.
    */
  private[graft] def coreLevels(available: Int): (Int, Int, Boolean) =
    if (available >= 8) (2, 8, false)
    else {
      val n4 = math.max(1, available)
      (math.max(1, n4 / 4), n4, true)
    }

  /** One cluster-size measurement: best-of rate, total URLs, whether the
    * pinned-child path was really used (the JSON must not claim a pinned
    * methodology when the fork fell back), and — from the wide child — the
    * workload thread-scaling ceiling's raw rates at the N and 4N levels.
    */
  private final case class ChildResult(rate: Double, urls: Long,
      pinned: Boolean, ceil: Option[(Double, Double)],
      ceilSpark: Option[(Double, Double)],
      shufRows: Long = -1L, shufMb: Double = -1.0)

  /** Measure one "cluster size" in its own CPU-pinned child JVM (see
    * [[BenchCrawlChild]]): `taskset -c 0..cores-1` makes a local[N] run
    * really have N cores — unpinned, the small-N JVM uses the whole box for
    * GC/IO and the efficiency ratio understates the engine. Falls back to
    * in-process (unpinned) when taskset/classpath forking is unavailable.
    * Warmup + best-of-2 inside the child (×2 interleaved children = 4
    * samples per level) damp the sandbox's run-to-run jitter (up to 60% in
    * single runs) while bounding the crawl section's wall clock.
    */
  private def crawlRate(cpus: Int, env: Map[String, String] = Map.empty,
      site: SiteConfig = benchSite,
      waveSeconds: Double = benchCrawl.waveSeconds): ChildResult = {
    forkPinnedChild(cpus, Seq(site.universities, site.deptsPerU,
      site.facultyPerDept).map(_.toString) ++ Seq(waveSeconds.toString, "2",
        site.errorFraction.toString,
        site.pubsPerFaculty.toString, site.bioWords.toString, nCores.toString), env)
      .getOrElse {
        // the fallback honors the SAME env contract as the child (ADVICE r4:
        // an env request the fallback ignores measures another configuration
        // unflagged)
        val (rate, urls) = inProcessRate(cpus, env, site, waveSeconds)
        ChildResult(rate, urls, pinned = false, ceil = None, ceilSpark = None)
      }
  }

  private def forkPinnedChild(cores: Int, siteArgs: Seq[String],
      env: Map[String, String] = Map.empty): Option[ChildResult] =
    try {
      if (!new java.io.File("/usr/bin/taskset").exists()) return None
      val javaBin = System.getProperty("java.home") + "/bin/java"
      val cp      = System.getProperty("java.class.path")
      val addOpens = Seq(
        "java.base/java.lang", "java.base/java.lang.invoke",
        "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
        "java.base/java.nio", "java.base/java.util",
        "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
        "java.base/sun.nio.ch", "java.base/sun.nio.cs",
        "java.base/sun.security.action", "java.base/sun.util.calendar")
        .flatMap(pkg => Seq("--add-opens", s"$pkg=ALL-UNNAMED"))
      val cmd = Seq("taskset", "-c", s"0-${cores - 1}", javaBin) ++ addOpens ++
        Seq("-Xmx12g", "-Dspark.ui.enabled=false",
          "-Dspark.sql.session.timeZone=UTC", "-cp", cp,
          "graft.BenchCrawlChild", cores.toString) ++ siteArgs
      val pb = new ProcessBuilder(cmd: _*)
      env.foreach { case (k, v) => pb.environment().put(k, v) }
      pb.redirectErrorStream(false)
      val proc = pb.start()
      val out = scala.io.Source.fromInputStream(proc.getInputStream).getLines().toList
      proc.waitFor()
      out.collectFirst { case l if l.startsWith("RATE ") =>
        val parts = l.split(" ")
        def pair(prefix: String) = out.collectFirst {
          case c if c.startsWith(prefix) =>
            val cp2 = c.split(" ")
            (cp2(1).toDouble, cp2(2).toDouble)
        }
        def kv(key: String): Option[String] =
          parts.collectFirst { case t if t.startsWith(s"$key=") => t.drop(key.length + 1) }
        ChildResult(parts(1).toDouble, parts(2).toLong, pinned = true,
          pair("CEIL "), pair("CEILSPARK "),
          shufRows = kv("shufrows").map(_.toLong).getOrElse(-1L),
          shufMb   = kv("shufmb").map(_.toDouble).getOrElse(-1.0))
      }
    } catch { case _: Throwable => None }

  private def inProcessRate(cpus: Int, env: Map[String, String],
      site: SiteConfig, waveSeconds: Double): (Double, Long) = {
    val spark = session(cpus, s"graft-bench-$cpus")
    // mirror BenchCrawlChild's env contract (wave bound) so an unpinned
    // fallback still measures the requested configuration
    val cfg = benchCrawl.copy(waveSeconds = waveSeconds,
      maxWaves = env.get("GRAFT_MAX_WAVES").map(_.toInt)
        .getOrElse(CrawlConfig().maxWaves))
    val warmSite = SiteConfig(universities = 1, deptsPerU = 1, facultyPerDept = 4)
    WaveRunner.run(spark, SyntheticSite.seeds(warmSite),
      SyntheticSite.htmlFetcher(warmSite), Nil, cfg).release()
    val seeds   = SyntheticSite.seeds(site)
    val fetcher = SyntheticSite.htmlFetcher(site)
    val runs = (1 to 2).map { _ =>
      System.gc()
      val t0      = System.nanoTime()
      val result  = WaveRunner.run(spark, seeds, fetcher, Nil, cfg)
      val rate    = (result.fetches / ((System.nanoTime() - t0) / 1e9), result.fetches)
      result.release()
      rate
    }
    spark.stop()
    runs.maxBy(_._1)
  }

  /** The box's memory-bandwidth thread-scaling ceiling for this core pair:
    * a single-box N→4N thread comparison cannot exceed it for memory-bound
    * work (4 real nodes would add bandwidth linearly; one box does not).
    * Streaming-read probe, ~2 GB working set, cache-line stride.
    */
  private def memBandwidthCeiling(n: Int, n4: Int): Double = {
    def run(threads: Int): Double = {
      val blocks = 128; val sz = 8 << 20
      val data = Array.tabulate(blocks)(i => Array.fill[Byte](sz)(i.toByte))
      val per = blocks * 2 / threads
      val t0 = System.nanoTime()
      val ts = (0 until threads).map { t =>
        val th = new Thread(() => {
          var sum = 0L
          var r = 0
          while (r < per) {
            val b = data((t * per + r) % blocks)
            var i = 0
            while (i < b.length) { sum += b(i); i += 64 }
            r += 1
          }
          if (sum == 42L) print("")
        })
        th.start(); th
      }
      ts.foreach(_.join())
      (System.nanoTime() - t0) / 1e9
    }
    run(n) / run(n4) / (n4.toDouble / n)
  }

  /** Warmup: one cheap representative query per TABLE FAMILY, so session,
    * codegen/JIT, and parquet-footer first-touch costs stay out of every
    * query's timing — not just the lineitem family's. (Protocol note,
    * bench_schema 3: rounds 1-2 warmed only q_agg_lineitem, so whichever
    * query FIRST touched `documents` absorbed the corpus tokenizer's
    * multi-second JIT — in both rounds that was q_tfidf_cosine, inflating
    * its recorded time by ~3-5 s vs its warmed cost. BENCH.md reports both
    * warmed and solo-cold numbers for it alongside the recorded one.)
    */
  private[graft] def warm(spark: SparkSession, sfDir: String): Unit =
    Seq("q_agg_lineitem",   // lineitem/orders family
        "q_token_stats",    // documents family + tokenizer codegen
        "q_cosine_topk",    // embeddings family + vector HOFs
        "q_events_window")  // events family
      .foreach { w =>
        SparkEntry.queries(w)(spark, sfDir).write.format("noop").mode("overwrite").save()
        spark.catalog.clearCache()
      }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus  = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val crawlOnly = args.contains("--crawl-only")

    // 1. headline queries at the driver-provided parallelism
    // per-round label stats for the iterative CC queries land on stderr
    // (round count, max label multiplicity, salt activation — r4 verdict #4)
    sys.props("graft.cc.debug") = "1"
    val spark = session(cpus, s"graft-bench-$cpus")
    warm(spark, sfDir)
    val results = (if (crawlOnly) Seq.empty[String] else headline).map { name =>
      val fn = SparkEntry.queries(name)
      val t0 = System.nanoTime()
      try fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      catch { case e: Throwable => System.err.println(s"[bench] $name failed: $e") }
      val sec = (System.nanoTime() - t0) / 1e9
      // single-scan operators persist shared projections; release between
      // queries so one query's blocks don't skew the next one's timing
      spark.catalog.clearCache()
      name -> sec
    }
    spark.stop()

    // 2. north-rule scaling: identical crawl at N and 4N cores, each in its
    // own CPU-pinned child JVM. Headline `scaling_efficiency` is the raw
    // N→4N ratio normalized by the box's WORKLOAD-MATCHED thread-scaling
    // ceiling: the per-page fetch work itself (render+parse, zero Spark) on
    // plain threads at the same core pair. One box shares memory bandwidth,
    // LLC, and allocator across threads; a real 4N-node cluster adds them
    // linearly, so the single-box raw ratio structurally understates cluster
    // scaling — the ceiling bounds what ANY engine could reach here and the
    // normalized figure is the cluster-relevant one. Raw ratio and ceiling
    // are reported alongside, with the methodology flag (`pinned`) telling
    // the truth about whether the taskset path actually ran.
    // PAIR-BASED sampling with an in-artifact tenancy defense (bench_schema
    // 4, r3 verdict ask #1a + ADVICE): each sample is an interleaved (N, 4N)
    // child pair; a pair whose own contemporaneous ceiling probes imply >1.05
    // thread scaling (physically impossible on one box — the narrow ceiling
    // sample landed in a degraded-tenancy window), or whose engine ratio
    // itself is super-linear, is measurement corruption and is invalidated
    // WHOLE — its rate samples are excluded from raw and normalized alike
    // (round 3 discarded only the corrupt ceiling sample, which could only
    // lower the ceiling and inflate the normalized figure). Degraded windows
    // trigger bounded re-runs; every sample, each pair's validity verdict,
    // and the retry count are recorded in the JSON so a consumer sees the
    // defense, not just one window's number.
    final case class Pair(n: ChildResult, n4: ChildResult) {
      val width = n4Cores.toDouble / nCores
      def raw: Double = (n4.rate / n.rate) / width
      def ratio(p: (Double, Double)): Double = (p._2 / p._1) / width
      def ceilRatios: Seq[Double] = (n4.ceil.toSeq ++ n4.ceilSpark.toSeq).map(ratio)
      def valid: Boolean = ceilRatios.forall(_ <= 1.05) && raw <= 1.05
    }
    // TWO baseline pairs (plus bounded on-demand retries) rather than round
    // 3's three blind children per level: the validity checks catch the
    // corruption a third blind sample was insurance against, and the driver
    // runs this protocol under an unknown wall-clock budget — a missing
    // artifact is worse than a slightly noisier one (run A of the 3-pair
    // protocol measured ~35 min in a degraded window, 3.2× round 3's 651 s).
    def runPair() = Pair(crawlRate(nCores), crawlRate(n4Cores))
    val pairs = scala.collection.mutable.Buffer(runPair(), runPair())
    var windowRetries = 0
    while (pairs.count(_.valid) < 2 && windowRetries < 2) {
      windowRetries += 1
      pairs += runPair()
    }
    val validPairs = pairs.filter(_.valid).toSeq
    val degraded   = validPairs.isEmpty
    // per-level max across (valid) spaced children = the box's demonstrated
    // capability at that width; a collapsed sample can only lose the max
    val usable = if (degraded) pairs.toSeq else validPairs
    val n  = usable.map(_.n).maxBy(_.rate)
    val n4 = usable.map(_.n4).maxBy(_.rate)
    val rawEff = (n4.rate / n.rate) / (n4Cores.toDouble / nCores)
    def best(ps: Seq[Double]): Option[Double] = {
      val ratios = ps.filter(_ <= 1.05).map(math.min(_, 1.0))
      if (ratios.isEmpty) None else Some(ratios.max)
    }
    val payloadCeil = best(validPairs.flatMap(p => p.n4.ceil.toSeq.map(p.ratio)))
    val sparkCeil   = best(validPairs.flatMap(p => p.n4.ceilSpark.toSeq.map(p.ratio)))
    // grade raw against the TIGHTER bound actually measured. No clean
    // ceiling pair (degraded run, or forking unavailable with ceilings
    // absent) → membw probe only when ceilings were never reported at all;
    // a DEGRADED run emits normalized as null rather than a number built
    // from corrupt ceilings (ADVICE r3).
    val (ceiling, ceilKind) = (payloadCeil, sparkCeil) match {
      case (Some(p), Some(sp)) =>
        if (sp < p) (sp, "spark_maponly_fetch") else (p, "workload_renderparse_threads")
      case (Some(p), None)  => (p, "workload_renderparse_threads")
      case (None, Some(sp)) => (sp, "spark_maponly_fetch")
      case _ if !degraded => (memBandwidthCeiling(nCores, n4Cores), "membw_probe")
      case _ => (-1.0, "none")
    }
    val normalizedJson =
      if (ceilKind == "none") "null"
      else f"${math.min(1.0, rawEff / math.min(1.0, ceiling))}%.3f"
    val pinned = n.pinned && n4.pinned

    // The trio, PAIR-MATCHED (r4 verdict #1): three children run
    // back-to-back in ONE window, a 4N bar and the `sharded_*` pair at 4N
    // and N, so no ratio divides rates of different windows. All three run
    // the crawl's one path (robots rules broadcast merged, Bloom filter as
    // shard rows): `sharded_over_broadcast` is the same-window ratio of two
    // equal 4N children, and the N child gives a second same-window N→4N
    // ratio; the cross-protocol number stays as a secondary field. One
    // bounded retry when the trio's internal ratios are physically
    // impossible (>1.05 = a tenancy window corrupted one leg).
    val skipCeil = Map("GRAFT_SKIP_CEIL" -> "1")
    def runShardedTrio() = (
      crawlRate(n4Cores, skipCeil), // contemporaneous 4N bar
      crawlRate(n4Cores, skipCeil), // `sharded_*` at 4N
      crawlRate(nCores, skipCeil))  // `sharded_*` at N
    // A trio is suspect when a ratio is physically impossible (>1.05) OR
    // carries the tenancy signature run C exposed: the 4N child collapsing
    // to HALF its 4N sibling while the narrow child is unaffected reads as
    // a degradation window, not engine behavior (two equal children read
    // about 1.0). One bounded retry; EVERY trio's three rates are emitted
    // (`sharded_samples`) so the defense is visible, and the reported trio
    // is the valid one whose sharded-4N rate is highest (the per-level-max
    // philosophy of the main pairs).
    val trios = scala.collection.mutable.Buffer(runShardedTrio())
    def trioRaw(t: (ChildResult, ChildResult, ChildResult)) =
      (t._2.rate / t._3.rate) / (n4Cores.toDouble / nCores)
    def trioOk(t: (ChildResult, ChildResult, ChildResult)) = {
      val ratio = t._2.rate / t._1.rate
      ratio <= 1.05 && trioRaw(t) <= 1.05 && ratio >= 0.55 && trioRaw(t) >= 0.40
    }
    if (!trioOk(trios.head)) trios += runShardedTrio()
    val shardedRetries = trios.size - 1
    val okTrios = trios.filter(trioOk)
    val (shCtx, sh4, shN) =
      (if (okTrios.nonEmpty) okTrios else trios).maxBy(_._2.rate)
    val shardedRaw = (sh4.rate / shN.rate) / (n4Cores.toDouble / nCores)
    val shardedPairOk = okTrios.nonEmpty

    // politeness-real selection regime (r4 verdict #2): the native selector's
    // O(hosts×budget) selection shuffle when budgets BIND (budget ≪ per-host
    // pending). 256 hosts, budget 8/wave, frontier depth 100 vs 1000 per
    // host (~10× pending): a selector that shuffled every pending row would
    // lose rate with depth; bounded per-host buffers hold it (retention).
    // 20 timed waves so the one-time wave-1 discovery amortizes and the
    // per-wave selection cost (the measurand) dominates the across-depth
    // delta. Besides wall-clock, each child reports its total SHUFFLED
    // rows/bytes: on one box shuffles hit the page cache and are nearly
    // free, so the volume channel — what costs network on a real cluster —
    // is where the O(hosts×budget) bound shows.
    val selEnv = skipCeil + ("GRAFT_MAX_WAVES" -> "20")
    def selSite(f: Int) = SiteConfig(universities = 256, deptsPerU = 1,
      facultyPerDept = f, errorFraction = 0.0, pubsPerFaculty = 2, bioWords = 40)
    def selRun(f: Int): ChildResult =
      crawlRate(n4Cores, selEnv, site = selSite(f), waveSeconds = 8.0)
    val selNatSmall = selRun(100)
    val selNatDeep  = selRun(1000)

    val qs = results.map { case (k, v) => f""""$k":$v%.3f""" }.mkString("{", ",", "}")
    val total = results.map(_._2).sum
    def rates(f: Pair => ChildResult) =
      pairs.map(p => f"${f(p).rate}%.1f").mkString("[", ",", "]")
    val validJson = pairs.map(_.valid).mkString("[", ",", "]")
    println(
      f"""{"metric":"total","value":$total%.3f,"unit":"sec","queries":$qs,"sf":"$sfDir",""" +
        f""""crawl":{"urls":${n4.urls},"rate_n_urls_per_sec":${n.rate}%.1f,""" +
        // key semantics (stable from round 3 on, see bench_schema):
        // `scaling_efficiency` is the RAW (rate_4N/rate_N)/4 ratio — its
        // round-1 meaning, restored; the ceiling-normalized headline lives in
        // `scaling_efficiency_normalized` (round 2 briefly reused the raw key
        // for it); `scaling_efficiency_raw` duplicates raw for consumers of
        // the round-2 schema. Schema 4 adds the tenancy defense: all samples,
        // per-pair validity, retry count, degraded flag, and the sharded-
        // regime rate.
        f""""rate_4n_urls_per_sec":${n4.rate}%.1f,""" +
        f""""bench_schema":5,""" +
        f""""scaling_efficiency":$rawEff%.3f,""" +
        f""""scaling_efficiency_normalized":$normalizedJson,""" +
        f""""normalized_kind":"raw_over_workload_ceiling",""" +
        f""""scaling_efficiency_raw":$rawEff%.3f,""" +
        f""""workload_ceiling":$ceiling%.3f,"ceiling_kind":"$ceilKind",""" +
        f""""payload_ceiling":${payloadCeil.getOrElse(-1.0)}%.3f,""" +
        f""""sparkmap_ceiling":${sparkCeil.getOrElse(-1.0)}%.3f,""" +
        f""""samples_n":${rates(_.n)},"samples_4n":${rates(_.n4)},""" +
        // pair-matched raws: the headline composes per-level maxima (the
        // conservative reading — an asymmetric window that caps one level
        // drags it down), while each pair's own same-window ratio is the
        // interleaving's raison d'être; emit both so a consumer can read
        // whichever composition their question needs
        pairs.map(p => f"${p.raw}%.3f").mkString(""""pair_raws":[""", ",", "],") +
        f""""pair_valid":$validJson,"window_retries":$windowRetries,""" +
        f""""discarded_pairs":${pairs.count(!_.valid)},"degraded":$degraded,""" +
        // the trio (pair-matched, bench_schema 5; keys kept):
        // `sharded_over_broadcast` is measured against the 4N bar run in the
        // SAME window; `_protocol` keeps the round-4 cross-window
        // composition for comparability; `sharded_raw_efficiency` is the
        // trio's own N→4N ratio
        f""""sharded_rate_n_urls_per_sec":${shN.rate}%.1f,""" +
        f""""sharded_rate_4n_urls_per_sec":${sh4.rate}%.1f,""" +
        f""""broadcast_ctx_rate_4n_urls_per_sec":${shCtx.rate}%.1f,""" +
        f""""sharded_over_broadcast":${sh4.rate / shCtx.rate}%.3f,""" +
        f""""sharded_over_broadcast_protocol":${sh4.rate / n4.rate}%.3f,""" +
        f""""sharded_raw_efficiency":$shardedRaw%.3f,""" +
        f""""sharded_pair_valid":$shardedPairOk,""" +
        f""""sharded_retries":$shardedRetries,""" +
        trios.map(t => f"[${t._1.rate}%.1f,${t._2.rate}%.1f,${t._3.rate}%.1f]")
          .mkString(""""sharded_samples":[""", ",", "],") +
        f""""sharded_pinned":${shN.pinned && sh4.pinned && shCtx.pinned},""" +
        // politeness-real selection regime: URLs/sec + total shuffled
        // rows/MB over a fixed 20-wave window at budget 8/host/wave,
        // per-host frontier depth 100 vs 1000
        f""""selection_bench":{"native_small":${selNatSmall.rate}%.1f,""" +
        f""""native_deep":${selNatDeep.rate}%.1f,""" +
        f""""native_deep_retention":${selNatDeep.rate / selNatSmall.rate}%.3f,""" +
        f""""native_deep_shuffle_rows":${selNatDeep.shufRows},""" +
        f""""native_deep_shuffle_mb":${selNatDeep.shufMb}%.1f},""" +
        f""""n_cores":$nCores,"4n_cores":$n4Cores,"pinned":$pinned,""" +
        f""""cores_available":$coresAvailable,"cores_clamped":$coresClamped}}""")
  }
}
