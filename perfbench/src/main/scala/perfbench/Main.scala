package perfbench

import graft.SparkEntry
import graft.crawl.WaveRunner
import graft.synth.SyntheticSite

import org.apache.spark.PerfbenchBus
import org.apache.spark.sql.SparkSession

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

/** The benchmark's JVM: one workload, one process, one session shape.
  *
  * Usage: perfbench.Main --workload <crawl|queries>
  *   --seed <n> --seconds <s> --trace <0|1> --cores <n> --work <dir>
  *   [--tiny] [--break-check] [--prepare]
  *
  * `--cores 0` means min(4, cores available); a declared count above the
  * cores available to this JVM is refused with exit code 3.
  *
  * `--prepare` only generates the workload's inputs (cached across runs)
  * and exits, so that every measured JVM starts cold.
  *
  * Writes `<work>/report.json`: metrics with units, attempted operations,
  * failures, and the session shape. Query outputs for the DuckDB and digest
  * checks go to `<work>/out/`.
  */
object Main {

  final case class Opts(workload: String, seed: Long, seconds: Double, trace: Boolean,
      cores: Int, work: Path, tiny: Boolean, breakCheck: Boolean)

  def parse(args: Array[String]): Opts = {
    def value(flag: String): Option[String] =
      args.sliding(2).collectFirst { case Array(`flag`, v) => v }
    def need(flag: String): String =
      value(flag).getOrElse(throw new IllegalArgumentException(s"missing $flag"))
    Opts(need("--workload"), need("--seed").toLong, need("--seconds").toDouble,
      need("--trace") == "1", need("--cores").toInt, Paths.get(need("--work")),
      args.contains("--tiny"), args.contains("--break-check"))
  }

  /** The production session shape (`Bench`, `Verify`): the engine's
    * extensions, adaptive execution on, `local[N]` with N shuffle partitions.
    * Scratch space stays inside the work directory.
    */
  def session(o: Opts): SparkSession = {
    val s = SparkSession.builder()
      .withExtensions(new graft.plans.GraftExtensions)
      .master(s"local[${o.cores}]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", o.cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", o.work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", o.work.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Cores available to this JVM: its CPU affinity and any CPU quota. */
  def available: Int = Runtime.getRuntime.availableProcessors()

  def main(args: Array[String]): Unit = {
    val declared = parse(args)
    if (declared.cores < 0 || declared.cores > available) {
      System.err.println(s"perfbench: ${declared.cores} cores declared but $available " +
        "available; refusing to report a result")
      System.exit(3)
    }
    val o = if (declared.cores == 0) declared.copy(cores = math.min(4, available)) else declared
    Files.createDirectories(o.work)
    HeapWatch.install()
    val rep = new Report
    val workload: Workload = o.workload match {
      case "crawl"   => new CrawlRun(CrawlWorkload.crawl(o.seed, o.tiny), o)
      case "queries" => new QueryRun(QueryWorkload.All, o)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    workload.prepare()
    if (args.contains("--prepare")) return
    rep.mark("jvm")
    // set-up as the JVM sees it: session start plus warm-up, until the first
    // timed operation
    val t0 = System.nanoTime()
    workload.warm(session(o))
    rep.put("setup_s", (System.nanoTime() - t0) / 1e9, "s")
    rep.mark("setup")
    val spark = SparkSession.active
    rep.info ++= sessionInfo(spark, o)
    workload.measure(spark, rep)
    rep.mark("measure")
    if (o.trace) {
      spark.catalog.clearCache()
      PerfbenchBus.drain(spark.sparkContext)
      val retained = spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum
      rep.put("storage.retained_mb", retained / 1e6, "MB")
      rep.put("jvm.gc_s", Jvm.gcS, "s")
      rep.put("jvm.jit_s", Jvm.jitS, "s")
      rep.put("jvm.codecache_mb", Jvm.codeCacheMb, "MB")
    }
    spark.stop()
    rep.mark("stop")
    Files.writeString(o.work.resolve("report.json"), rep.toJson)
  }

  private def sessionInfo(spark: SparkSession, o: Opts): Map[String, Any] = Map(
    "workload" -> o.workload, "seed" -> o.seed, "seconds" -> o.seconds, "trace" -> o.trace,
    "tiny" -> o.tiny,
    "cores" -> o.cores, "cores_available" -> available,
    "xmx_mb" -> Jvm.maxHeapMb,
    "jvm_args" -> ManagementFactory.getRuntimeMXBean.getInputArguments.asScala.toSeq,
    "java_version" -> System.getProperty("java.version"),
    "spark_version" -> spark.version,
    "spark_conf" -> (spark.sparkContext.getConf.getAll.toMap ++
      spark.conf.getAll.filter(_._1.startsWith("spark.sql."))))

  /** A timed loop gives up after this many operations in a row have thrown,
    * so that a failing engine is reported as failed operations (exit 1)
    * instead of running into the JVM timeout.
    */
  val MaxFailedInARow = 3

  /** Zero-valued per-layer metrics for layers a workload does not exercise. */
  def putIdle(rep: Report, names: Seq[(String, String)]): Unit =
    names.foreach { case (n, u) => if (!rep.metrics.contains(n)) rep.put(n, 0.0, u) }

  val CrawlLayer: Seq[(String, String)] = Seq(
    "crawl.run_s" -> "s", "crawl.waves" -> "count", "crawl.fetches" -> "count",
    "crawl.jobs" -> "count", "crawl.stages" -> "count", "crawl.tasks" -> "count",
    "crawl.driver_only_s" -> "s", "crawl.task_s" -> "s", "crawl.shuffle_read_mb" -> "MB",
    "crawl.shuffle_write_mb" -> "MB", "crawl.spill_mb" -> "MB", "crawl.gc_s" -> "s",
    "wave.p50_s" -> "s", "wave.first_s" -> "s", "wave.last_s" -> "s",
    "store.mb" -> "MB", "store.files" -> "count", "store.bases" -> "count",
    "store.bytes_per_html_byte" -> "ratio",
    "fetch.pages" -> "count", "fetch.errors" -> "count", "fetch.payload_s" -> "s",
    "extract.parse_s" -> "s", "extract.html_mb" -> "MB",
    "records.s" -> "s", "records.rows" -> "count")

  val QueryLayer: Seq[(String, String)] = Seq(
    "query.build_ms" -> "ms", "query.driver_only_ms" -> "ms", "query.jobs" -> "count",
    "query.stages" -> "count", "query.exec_ms" -> "ms", "query.task_ms" -> "ms",
    "query.tasks" -> "count", "query.shuffle_mb" -> "MB", "query.spill_mb" -> "MB",
    "query.exchanges" -> "count") ++
    QueryWorkload.All.map(q => s"q.$q.s" -> "s")
}

/** One workload's phases: input preparation (in its own JVM, before any
  * measured run), the set-up warm-up, and the measured region with its
  * correctness checks.
  */
trait Workload {
  def prepare(): Unit
  def warm(spark: SparkSession): Unit
  def measure(spark: SparkSession, rep: Report): Unit
}

/** crawl: repeated full crawls, each timed from the `WaveRunner.run` call
  * until its faculty records are materialized, each checked against the
  * sequential oracle after its clock stops. The traced run adds the writing
  * path: one crawl committed to a snapshot directory, then resumed.
  */
final class CrawlRun(spec: CrawlSpec, o: Main.Opts) extends Workload {
  import CrawlWorkload._
  private val seeds = SyntheticSite.seeds(spec.site)
  private val plain = SyntheticSite.htmlFetcher(spec.site)
  private lazy val oracle = CrawlWorkload.oracle(spec, o.breakCheck)

  def prepare(): Unit = ()

  def warm(spark: SparkSession): Unit = {
    val w = warmSpec(o.seed, o.tiny)
    val r = run(spark, w, SyntheticSite.htmlFetcher(w.site), None)
    writeRecords(spark, w, r)
    r.release()
    spark.catalog.clearCache()
  }

  /** Check one crawl against the oracle; returns the engine's record count. */
  private def check(spark: SparkSession, rep: Report, what: String,
      r: WaveRunner.CrawlResult): Int = {
    val (bad, records) = diff(spark, spec, r, oracle)
    rep.check(what, bad.isEmpty, bad.mkString(", ") + " differ from the sequential oracle")
    records
  }

  /** Timed crawls until `seconds` of crawl time are measured, or until
    * `Main.MaxFailedInARow` crawls in a row have thrown. `timed` runs one
    * crawl and returns its result and seconds; checks run after it.
    */
  private def loop(spark: SparkSession, rep: Report, tag: String)(
      timed: => (WaveRunner.CrawlResult, Double)): Seq[CrawlSample] = {
    val out = ArrayBuffer.empty[CrawlSample]
    var i = 0
    var failedInARow = 0
    while (out.map(_.seconds).sum < o.seconds && failedInARow < Main.MaxFailedInARow) {
      val ok = rep.attempt(s"$tag crawl $i") {
        HeapWatch.watch(true)
        val (r, secs) = try timed finally HeapWatch.watch(false)
        val records = check(spark, rep, s"$tag crawl $i", r)
        out += CrawlSample(secs, r.fetches, r.waves, records)
        r.release()
        spark.catalog.clearCache()
      }
      failedInARow = if (ok.isEmpty) failedInARow + 1 else 0
      i += 1
    }
    out.toSeq
  }

  def measure(spark: SparkSession, rep: Report): Unit = {
    oracle // computed before the first timed crawl
    rep.info("settle_s") = Quiesce.settle()
    HeapWatch.start()
    val crawls = loop(spark, rep, "timed") {
      val t0 = System.nanoTime()
      val r = run(spark, spec, plain, None)
      writeRecords(spark, spec, r)
      (r, (System.nanoTime() - t0) / 1e9)
    }
    val heap = HeapWatch.stop()
    rep.mark("timed")
    val secs = crawls.map(_.seconds)
    if (secs.nonEmpty) {
      rep.put("op_p50_s", Stats.median(secs), "s")
      rep.put("op_p90_s", Stats.pct(secs, 0.9), "s")
      rep.put("items_per_s", crawls.map(_.fetches).sum / secs.sum, "1/s")
    }
    rep.put("heap_live_peak_mb", heap.getOrElse(0.0), "MB")
    rep.info("op_samples_s") = secs
    rep.info("fetches_per_crawl") = crawls.map(_.fetches)
    rep.info("waves_per_crawl") = crawls.map(_.waves)
    if (o.trace) {
      traced(spark, rep, Stats.median(secs))
      rep.mark("traced")
      snapshot(spark, rep)
      rep.mark("snapshot+resume")
      Main.putIdle(rep, Main.QueryLayer)
    }
  }

  private def traced(spark: SparkSession, rep: Report, untracedP50: Double): Unit = {
    Quiesce.settle()
    val tracer = new Tracer(spark)
    val ft = new FetchTrace(spark)
    val fetcher = ft.fetcher(spec.site)
    final case class T(run: SpanStats, rec: SpanStats, pages: Long, errors: Long,
        payloadS: Double, parseS: Double, htmlMb: Double)
    val ts = ArrayBuffer.empty[T]
    tracer.attach()
    val crawls = loop(spark, rep, "traced") {
      ft.reset()
      val (r, runStats) = tracer.span(run(spark, spec, fetcher, None))
      val (_, recStats) = tracer.span(writeRecords(spark, spec, r))
      ts += T(runStats, recStats, ft.pages.value, ft.errors.value, ft.payloadNs.value / 1e9,
        ft.parseNs.value / 1e9, ft.htmlBytes.value / 1e6)
      (r, runStats.wallS + recStats.wallS)
    }
    tracer.detach()
    def med(f: T => Double): Double = Stats.median(ts.map(f).toSeq)
    rep.put("crawl.run_s", med(_.run.wallS), "s")
    rep.put("crawl.waves", Stats.median(crawls.map(_.waves.toDouble)), "count")
    rep.put("crawl.fetches", Stats.median(crawls.map(_.fetches.toDouble)), "count")
    rep.put("crawl.jobs", med(_.run.jobs.toDouble), "count")
    rep.put("crawl.stages", med(_.run.stages.toDouble), "count")
    rep.put("crawl.tasks", med(_.run.tasks.toDouble), "count")
    rep.put("crawl.driver_only_s", med(_.run.driverOnlyS), "s")
    rep.put("crawl.task_s", med(_.run.taskS), "s")
    rep.put("crawl.shuffle_read_mb", med(_.run.shuffleReadMb), "MB")
    rep.put("crawl.shuffle_write_mb", med(_.run.shuffleWriteMb), "MB")
    rep.put("crawl.spill_mb", med(_.run.spillMb), "MB")
    rep.put("crawl.gc_s", med(_.run.gcS), "s")
    rep.put("fetch.pages", med(_.pages.toDouble), "count")
    rep.put("fetch.errors", med(_.errors.toDouble), "count")
    rep.put("fetch.payload_s", med(_.payloadS), "s")
    rep.put("extract.parse_s", med(_.parseS), "s")
    rep.put("extract.html_mb", med(_.htmlMb), "MB")
    rep.put("records.s", med(_.rec.wallS), "s")
    rep.put("records.rows", Stats.median(crawls.map(_.records.toDouble)), "count")
    val tracedOps = crawls.map(_.seconds)
    if (tracedOps.nonEmpty && untracedP50 > 0)
      rep.put("trace.overhead", Stats.median(tracedOps) / untracedP50, "ratio")
  }

  /** The writing path: the same crawl with every wave committed to a
    * snapshot directory (per-wave times from the commit markers, store size),
    * then `WaveRunner.resume` on the finished directory, which must be a
    * no-op returning the same seen set and records.
    */
  private def snapshot(spark: SparkSession, rep: Report): Unit = {
    val dir = o.work.resolve("snapshot")
    val cfg = spec.cfg.copy(snapshotDir = Some(dir.toString))
    rep.attempt("snapshot crawl") {
      val startMs = System.currentTimeMillis()
      val r = WaveRunner.run(spark, seeds, plain, spec.rules, cfg)
      writeRecords(spark, spec, r)
      check(spark, rep, "snapshot crawl", r)
      r.release()
      spark.catalog.clearCache()
      val waves = waveSeconds(spark, dir, startMs)
      rep.put("wave.p50_s", Stats.median(waves), "s")
      rep.put("wave.first_s", waves.headOption.getOrElse(0.0), "s")
      rep.put("wave.last_s", waves.lastOption.getOrElse(0.0), "s")
      val (bytes, files) = du(dir)
      rep.put("store.mb", bytes / 1e6, "MB")
      rep.put("store.files", files.toDouble, "count")
      rep.put("store.bases", frontierBases(spark, dir).toDouble, "count")
      rep.put("store.bytes_per_html_byte", bytes.toDouble / htmlBytes(oracle), "ratio")
    }
    rep.attempt("resume") {
      val store = new graft.crawl.ParquetSnapshotStore(spark, dir.toString, 1)
      val before = store.listCommitted().sorted
      val r = WaveRunner.resume(spark, seeds, plain, spec.rules, cfg)
      val bad = diff(spark, spec, r, oracle, withOrder = false)._1 ++
        (if (r.fetches != 0L) Seq(s"${r.fetches} new fetches") else Nil) ++
        (if (store.listCommitted().sorted != before) Seq("new committed waves") else Nil)
      rep.check("resume", bad.isEmpty, bad.mkString(", ") + " after resume")
      r.release()
      spark.catalog.clearCache()
    }
  }
}

/** queries: a single-client closed loop over seed-shuffled rounds of the
  * query set; one operation is one query execution.
  */
final class QueryRun(names: Seq[String], o: Main.Opts) extends Workload {
  private val sf = if (o.tiny) 0.002 else 0.05
  private val dataDir: Path = o.work.getParent.resolve(s"data-v${DataGen.Version}-sf$sf")

  def prepare(): Unit = if (!Files.exists(dataDir.resolve("_DONE"))) {
    val s = Main.session(o)
    DataGen.ensure(s, dataDir, sf)
    s.stop()
  }

  def warm(spark: SparkSession): Unit = QueryWorkload.Warm.foreach { q =>
    QueryWorkload.execute(spark, q, dataDir.toString)
    spark.catalog.clearCache()
  }

  /** Rounds until `seconds` of query time are measured, or until
    * `Main.MaxFailedInARow` executions in a row have thrown; each round runs
    * every query once, in a seed-drawn order. `timed` runs one query and
    * returns its build and execute seconds; returns (query, seconds) per
    * execution, by round.
    */
  private def rounds(spark: SparkSession, rep: Report, tag: String, firstRound: Int)(
      timed: String => (Double, Double)): Seq[Seq[(String, Double)]] = {
    val out = ArrayBuffer.empty[Seq[(String, Double)]]
    var round = firstRound
    var failedInARow = 0
    while (out.map(_.map(_._2).sum).sum < o.seconds && failedInARow < Main.MaxFailedInARow) {
      val done = QueryWorkload.shuffled(names, o.seed, round).flatMap { q =>
        val r = if (failedInARow >= Main.MaxFailedInARow) None else rep.attempt(s"$tag $q") {
          HeapWatch.watch(true)
          val (b, e) = try timed(q) finally HeapWatch.watch(false)
          q -> (b + e)
        }
        failedInARow = if (r.isEmpty) failedInARow + 1 else 0
        spark.catalog.clearCache()
        r
      }
      out += done
      round += 1
    }
    out.toSeq
  }

  def measure(spark: SparkSession, rep: Report): Unit = {
    val data = dataDir.toString
    // correctness executions (untimed): every query once, written as parquet
    val outDir = o.work.resolve("out")
    rep.info("check_execution_s") = names.map { q =>
      val t0 = System.nanoTime()
      rep.attempt(s"check $q") {
        QueryWorkload.writeResult(spark, q, data, outDir.resolve(q).toString)
      }
      spark.catalog.clearCache()
      s"$q=${(System.nanoTime() - t0) / 1e9}"
    }
    val oracle = names.flatMap(q => SparkEntry.oracleSql.get(q).map(q -> _)).toMap
    Files.writeString(outDir.resolve("oracle_sql.json"), Json.render(oracle))
    rep.info("data_dir") = data
    rep.info("sql_checked") = oracle.keys.toSeq.sorted
    rep.info("digest_checked") = names.filter(QueryWorkload.RowsOnly)
    rep.mark("check-executions")
    rep.info("settle_s") = Quiesce.settle()
    HeapWatch.start()
    val timed = rounds(spark, rep, "timed", 0) { q => QueryWorkload.execute(spark, q, data) }
    val heap = HeapWatch.stop()
    rep.mark("timed")
    val ops = timed.flatten.map(_._2)
    if (ops.nonEmpty) {
      rep.put("op_p50_s", Stats.median(ops), "s")
      rep.put("op_p90_s", Stats.pct(ops, 0.9), "s")
      rep.put("items_per_s", ops.size / ops.sum, "1/s")
    }
    rep.put("heap_live_peak_mb", heap.getOrElse(0.0), "MB")
    rep.info("op_samples_s") = timed.flatten.map { case (q, t) => s"$q=$t" }
    if (o.trace) traced(spark, rep, Stats.median(ops), timed.size)
  }

  private def traced(spark: SparkSession, rep: Report, untracedP50: Double,
      firstRound: Int): Unit = {
    Quiesce.settle()
    val tracer = new Tracer(spark)
    val spans = ArrayBuffer.empty[(String, Double, Double, SpanStats)]
    tracer.attach()
    val rs = rounds(spark, rep, "traced", firstRound) { q =>
      val ((b, e), st) = tracer.span(QueryWorkload.execute(spark, q, dataDir.toString))
      spans += ((q, b, e, st))
      (b, e)
    }
    tracer.detach()
    def mean(f: ((String, Double, Double, SpanStats)) => Double): Double =
      Stats.mean(spans.map(f).toSeq)
    rep.put("query.build_ms", mean(_._2) * 1e3, "ms")
    rep.put("query.exec_ms", mean(_._3) * 1e3, "ms")
    rep.put("query.driver_only_ms", mean(_._4.driverOnlyS) * 1e3, "ms")
    rep.put("query.jobs", mean(_._4.jobs.toDouble), "count")
    rep.put("query.stages", mean(_._4.stages.toDouble), "count")
    rep.put("query.task_ms", mean(_._4.taskS) * 1e3, "ms")
    rep.put("query.tasks", mean(_._4.tasks.toDouble), "count")
    rep.put("query.shuffle_mb", mean(_._4.shuffleWriteMb), "MB")
    rep.put("query.spill_mb", mean(_._4.spillMb), "MB")
    rep.put("query.exchanges", mean(_._4.exchanges.toDouble), "count")
    spans.groupBy(_._1).foreach { case (q, xs) =>
      rep.put(s"q.$q.s", Stats.median(xs.map(x => x._2 + x._3).toSeq), "s")
    }
    val ops = rs.flatten.map(_._2)
    if (ops.nonEmpty && untracedP50 > 0)
      rep.put("trace.overhead", Stats.median(ops) / untracedP50, "ratio")
    Main.putIdle(rep, Main.CrawlLayer)
  }
}
