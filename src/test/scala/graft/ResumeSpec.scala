package graft

import graft.crawl.WaveRunner
import graft.crawl.WaveRunner.CrawlConfig
import graft.synth.SyntheticSite
import graft.synth.SyntheticSite.SiteConfig
import java.nio.file.Files

/** Checkpointed resumability (SURVEY §2.8 G10, BASELINE.json): a crawl
  * interrupted after k committed waves and resumed must reach exactly the
  * state of an uninterrupted run; re-running a completed crawl is a no-op.
  */
class ResumeSpec extends SparkSpec {

  private val site    = SiteConfig(universities = 1, deptsPerU = 2,
    facultyPerDept = 6, errorFraction = 0.2)
  private val seeds   = SyntheticSite.seeds(site)
  private val fetcher = SyntheticSite.fetcher(site)

  private def stateOf(r: WaveRunner.CrawlResult) = {
    val order = r.crawlOrder.orderBy("seq").collect()
      .map(x => (x.getAs[String]("host"), x.getAs[String]("url"))).toVector
    val seen = r.seen.collect().map(_.getAs[String]("url")).toSet
    val frontier = r.frontier.collect()
      .map(x => (x.getAs[String]("url"), x.getAs[String]("status"))).toSet
    val docs = r.docs.collect().map(_.getAs[String]("url")).toSet
    (order, seen, frontier, docs)
  }

  test("interrupt after 2 waves + resume == uninterrupted run; re-resume is a no-op") {
    val dirA = Files.createTempDirectory("graft_resume_a").toString
    val full = WaveRunner.run(spark, seeds, fetcher, Nil,
      CrawlConfig(waveSeconds = 2.0, snapshotDir = Some(dirA)))
    val expected = stateOf(full)
    assert(full.waves === 4) // index wave + ceil(6/2)=3 profile waves

    val dirB = Files.createTempDirectory("graft_resume_b").toString
    // interrupted run: stop after 2 committed waves
    WaveRunner.run(spark, seeds, fetcher, Nil,
      CrawlConfig(waveSeconds = 2.0, snapshotDir = Some(dirB), maxWaves = 2))
    assert(new java.io.File(dirB).listFiles().count(_.getName.startsWith("wave=")) === 2)
    // resume to completion
    val resumed = WaveRunner.resume(spark, seeds, fetcher, Nil,
      CrawlConfig(waveSeconds = 2.0, snapshotDir = Some(dirB)))
    assert(stateOf(resumed) === expected)

    // resuming the completed crawl changes nothing and commits no new wave
    val again = WaveRunner.resume(spark, seeds, fetcher, Nil,
      CrawlConfig(waveSeconds = 2.0, snapshotDir = Some(dirB)))
    assert(stateOf(again) === expected)
    assert(new java.io.File(dirB).listFiles().count(_.getName.startsWith("wave=")) ===
      new java.io.File(dirA).listFiles().count(_.getName.startsWith("wave=")))
  }

  test("a no-op resume reads the frontier once and runs no wave") {
    // resuming a finished crawl stores its frontier as of the last wave in
    // one pass, which finds no pending row: no selection or fetch job runs
    // after it, and the frontier fold is not run again
    import graft.crawl.{ParquetSnapshotStore, WaveSnapshots}
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    def jobsOf[T](body: => T): (Int, T) = {
      val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
      val listener = new SparkListener {
        override def onJobStart(e: SparkListenerJobStart): Unit = { jobs.incrementAndGet(); () }
      }
      spark.sparkContext.addSparkListener(listener)
      try {
        val r = body
        org.apache.spark.GraftListenerSync.drain(spark.sparkContext)
        (jobs.get(), r)
      } finally spark.sparkContext.removeSparkListener(listener)
    }
    val dir = Files.createTempDirectory("graft_noop").toString
    val cfg = CrawlConfig(waveSeconds = 2.0, snapshotDir = Some(dir))
    val full = WaveRunner.run(spark, seeds, fetcher, Nil, cfg)
    val store = new ParquetSnapshotStore(spark, dir, spark.sessionState.conf.numShufflePartitions)
    val last = store.listCommitted().max
    val (foldJobs, _) = jobsOf(
      WaveSnapshots.frontierAsOf(store, WaveRunner.seedFrontier(spark, seeds), last).collect())
    val (resumeJobs, again) = jobsOf(WaveRunner.resume(spark, seeds, fetcher, Nil, cfg))
    assert(again.fetches === 0L)
    assert(again.waves === full.waves)
    assert(store.listCommitted().max === last)
    // the fold's jobs, with the entry pass in place of the collect: the store
    // opens its tables with known schemas, so opening the fetch log that
    // docs and order read runs no job
    assert(resumeJobs <= foldJobs,
      s"the no-op resume ran $resumeJobs jobs; one read of its frontier runs $foldJobs")
    full.release(); again.release()
  }

  test("resume after committed leaf waves == uninterrupted run") {
    // waves 1-3 are leaf waves (profile pages at maxDepth 1): they commit no
    // new frontier entries, so the seen set does not grow. Stopping after wave 2
    // leaves the resumed crawl to restore the seen filter from the store and
    // run the last leaf wave.
    def cfg(dir: String, maxWaves: Int = CrawlConfig().maxWaves) = CrawlConfig(
      waveSeconds = 2.0, snapshotDir = Some(dir), maxWaves = maxWaves)
    val full = WaveRunner.run(spark, seeds, fetcher, Nil,
      cfg(Files.createTempDirectory("graft_leaf_full").toString))
    val expected = stateOf(full)
    val dir = Files.createTempDirectory("graft_leaf_cut").toString
    WaveRunner.run(spark, seeds, fetcher, Nil, cfg(dir, maxWaves = 3)).release()
    val store = new graft.crawl.ParquetSnapshotStore(spark, dir,
      spark.sessionState.conf.numShufflePartitions)
    assert(store.listCommitted().sorted === Seq(0, 1, 2))
    Seq(1, 2).foreach { w =>
      val delta = store.readFrontierDeltas(Seq(w))
      assert(delta.filter(org.apache.spark.sql.functions.col("status") === "pending")
        .count() === 0L, s"leaf wave $w enqueued a URL")
      // the wave comes from the Hive-style dir name, beside the given schema
      assert(delta.select("wave").distinct().collect().map(_.getInt(0)).toSeq === Seq(w))
    }
    val resumed = WaveRunner.resume(spark, seeds, fetcher, Nil, cfg(dir))
    assert(stateOf(resumed) === expected)
    assert(store.listCommitted().sorted === Seq(0, 1, 2, 3))
    full.release(); resumed.release()
  }

  test("time travel: frontier/seen as-of wave w == a crawl stopped at wave w") {
    // Iceberg-snapshot semantics over the delta-commit log: for EVERY
    // committed wave w of a finished crawl, WaveSnapshots.frontierAsOf /
    // seenAsOf must reproduce exactly the state a crawl bounded to stop
    // after wave w would hold — across compaction (frontierDeltaMaxRows=1
    // forces a base mid-history, so reads exercise base+delta folds, not
    // just delta chains)
    import graft.crawl.{ParquetSnapshotStore, WaveSnapshots}
    import org.apache.spark.sql.functions.col
    val dirA = Files.createTempDirectory("graft_tt_a").toString
    val cfg = CrawlConfig(waveSeconds = 2.0, snapshotDir = Some(dirA),
      frontierDeltaMaxRows = 1)
    val full = WaveRunner.run(spark, seeds, fetcher, Nil, cfg)
    val store = new ParquetSnapshotStore(spark, dirA,
      spark.sessionState.conf.numShufflePartitions)
    val committed = store.listCommitted().sorted
    assert(committed.size === full.waves)
    assert(store.listFrontierBases().nonEmpty, "compaction must have fired")
    val seedRows = WaveRunner.seedFrontier(spark, seeds)
    def frontierSet(df: org.apache.spark.sql.DataFrame) = df
      .select("url", "status", "depth", "discoveredWave").collect()
      .map(r => (r.getString(0), r.getString(1), r.getInt(2), r.getInt(3))).toSet
    def seenSet(df: org.apache.spark.sql.DataFrame) =
      df.select("url_hash", "url").collect().map(r => (r.getLong(0), r.getString(1))).toSet
    // first, middle, and last committed wave (dedup'd for short histories)
    Seq(committed.head, committed(committed.size / 2), committed.max)
      .distinct.foreach { w =>
        // truth: an independent crawl bounded to stop after wave w
        // (deterministic site + selector ⇒ identical history)
        val dirW = Files.createTempDirectory(s"graft_tt_w$w").toString
        val bounded = WaveRunner.run(spark, seeds, fetcher, Nil,
          cfg.copy(snapshotDir = Some(dirW), maxWaves = w + 1))
        assert(frontierSet(WaveSnapshots.frontierAsOf(store, seedRows, w)) ===
          frontierSet(bounded.frontier), s"frontier as-of wave $w")
        assert(seenSet(WaveSnapshots.seenAsOf(store, seedRows, w)) ===
          seenSet(bounded.seen), s"seen as-of wave $w")
        bounded.release()
      }
    // the fetch log through the last wave: its ok rows are the full crawl's docs
    val docsAll = WaveSnapshots.fetchLogAsOf(store, committed.max).filter(col("ok"))
    assert(docsAll.select("url").collect().map(_.getString(0)).toSet ===
      full.docs.select("url").collect().map(_.getString(0)).toSet)
    // a never-committed wave is a loud error, not an empty read
    intercept[IllegalArgumentException] {
      WaveSnapshots.frontierAsOf(store, seedRows, committed.max + 1)
    }
    full.release()
  }

  test("every committed wave carries a manifest with per-partition lineage") {
    // a wave commits exactly two tables, the frontier delta and the fetch
    // log, plus a compacted frontier base at compaction waves (forced here)
    val dir = Files.createTempDirectory("graft_manifest").toString
    WaveRunner.run(spark, seeds, fetcher, Nil,
      CrawlConfig(waveSeconds = 4.0, snapshotDir = Some(dir), frontierDeltaMaxRows = 1)).release()
    val waves = new java.io.File(dir).listFiles().filter(_.getName.startsWith("wave="))
    assert(waves.nonEmpty)
    val wave = Set("frontier_delta", "fetch_delta", "manifest.json", "_COMMITTED")
    val base = Set("frontier_base", "_BASE_COMMITTED")
    waves.foreach { w =>
      val files = w.list().toSet
      assert(files === wave || files === wave ++ base, w.getName)
      val manifest = Files.readString(new java.io.File(w, "manifest.json").toPath)
      assert(manifest.contains("\"wave\":"))
      assert(manifest.contains("\"partitions\":"))
      assert(manifest.contains("\"rows\":"))
      assert(manifest.contains("\"format\":\"parquet-v2\""))
    }
    assert(waves.exists(w => new java.io.File(w, "_BASE_COMMITTED").exists()),
      "compaction must have fired")
  }

  test("a snapshot dir in the five-table layout is refused before anything is committed") {
    // the older layout committed seen/docs/order/metrics deltas and no fetch
    // log: its waves cannot be read back, so a resume must not append to it
    val dir = Files.createTempDirectory("graft_v1").toString
    WaveRunner.run(spark, seeds, fetcher, Nil,
      CrawlConfig(waveSeconds = 2.0, snapshotDir = Some(dir), maxWaves = 2)).release()
    val waves = new java.io.File(dir).listFiles().filter(_.getName.startsWith("wave="))
    waves.foreach { w =>
      val fetch = new java.io.File(w, "fetch_delta").toPath
      Files.move(fetch, new java.io.File(w, "docs_delta").toPath)
      Seq("seen_delta", "order_delta", "metrics_delta")
        .foreach(t => Files.createDirectory(new java.io.File(w, t).toPath))
    }
    def listing = new java.io.File(dir).listFiles().sorted.map(w => w.getName -> w.list().toSet).toSeq
    val before = listing
    val e = intercept[IllegalStateException] {
      WaveRunner.resume(spark, seeds, fetcher, Nil,
        CrawlConfig(waveSeconds = 2.0, snapshotDir = Some(dir)))
    }
    assert(e.getMessage.contains(dir) && e.getMessage.contains("parquet-v1"), e.getMessage)
    assert(listing === before)
  }
}
