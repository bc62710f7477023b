package graft

import graft.crawl.{Records, WaveRunner}
import graft.crawl.WaveRunner.CrawlConfig
import graft.oracle.SequentialOracle
import graft.synth.SyntheticSite
import graft.synth.SyntheticSite.SiteConfig

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator

/** User-facing demo / operational entry: run the crawl engine on the
  * deterministic synthetic site and report what the north rule measures —
  * frontier URLs/sec, waves, seen-set size, record count, the classes Spark
  * compiled for the crawl and its records (`codegen_compiles`, `codegen_ms`),
  * and (optionally) exactness vs the sequential oracle.
  *
  * Usage: runMain graft.CrawlDemo [universities] [deptsPerU] [facultyPerDept]
  *          [errorFraction] [waveSeconds] [snapshotDir] [--check-oracle]
  */
object CrawlDemo {
  def main(args: Array[String]): Unit = {
    val pos = args.filterNot(_.startsWith("--"))
    def arg(i: Int, default: String) = if (pos.length > i) pos(i) else default
    val site = SiteConfig(
      universities = arg(0, "2").toInt,
      deptsPerU = arg(1, "2").toInt,
      facultyPerDept = arg(2, "10").toInt,
      errorFraction = arg(3, "0.1").toDouble,
      pubsPerFaculty = arg(5, "7").toInt,
      bioWords = sys.env.getOrElse("GRAFT_BIO_WORDS", "0").toInt)
    val waveSeconds = arg(4, "8").toDouble
    val snapshotDir = if (pos.length > 6) Some(pos(6)) else None
    val checkOracle = args.contains("--check-oracle")

    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8").toInt
    val spark = Bench.session(cpus, "graft-crawl-demo")

    val seeds   = SyntheticSite.seeds(site)
    val fetcher = SyntheticSite.fetcher(site)
    val cfg     = CrawlConfig(waveSeconds = waveSeconds, snapshotDir = snapshotDir)

    // classes Spark compiles for the crawl plus its records, and the time
    // spent compiling them (the JVM-wide codegen counters, before and after)
    val compiles0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val compileNs0 = CodeGenerator.compileTime
    val t0 = System.nanoTime()
    val result = snapshotDir match {
      case Some(_) => WaveRunner.resume(spark, seeds, fetcher, Nil, cfg)
      case None    => WaveRunner.run(spark, seeds, fetcher, Nil, cfg)
    }
    val fetches = result.fetches
    val secs    = (System.nanoTime() - t0) / 1e9
    val records = Records.facultyRecords(spark, result.docs, seeds).count()
    val compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiles0
    val compileMs = (CodeGenerator.compileTime - compileNs0) / 1e6
    val seen    = result.seen.count()
    println(f"""{"hosts":${seeds.size},"waves":${result.waves},"fetches":$fetches,""" +
      f""""seen":$seen,"records":$records,"sec":$secs%.2f,""" +
      f""""urls_per_sec":${fetches / secs}%.1f,""" +
      f""""codegen_compiles":$compiles,"codegen_ms":$compileMs%.1f}""")

    if (checkOracle) {
      val oracle = SequentialOracle.run(seeds, fetcher)
      val got = result.crawlOrder.orderBy("seq").collect()
        .map(r => (r.getAs[String]("host"), r.getAs[String]("url"))).toVector
      val gotByHost = got.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
      val expByHost = oracle.crawlOrder.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
      val orderOk = expByHost.keySet == gotByHost.keySet &&
        expByHost.forall { case (h, seq) => gotByHost(h) == seq }
      val seenOk = result.seen.collect().map(_.getAs[String]("url")).toSet == oracle.seen
      println(s"""{"oracle_order_match":$orderOk,"oracle_seen_match":$seenOk,""" +
        s""""oracle_records":${oracle.records.size}}""")
    }
    spark.stop()
  }
}
