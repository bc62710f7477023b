package graft.crawl

import graft.frontier.{UrlSeen, WaveSelector}
import graft.model.{FrontierStatus, RobotsRule}
import graft.synth.SyntheticSite
import graft.synth.SyntheticSite.SiteConfig
import graft.urls.Urls

import org.apache.spark.sql.{DataFrame, GraftRows, SparkSession}
import org.apache.spark.sql.functions._

/** Crawl-operator queries expressed over the driver's testdata so the DuckDB
  * oracle can check them relationally (SURVEY §2.8): the canonicalizer, the
  * batch selector, and the Bloom+anti-join seen filter each get a query whose
  * expected output is plain SQL; the full crawl runs as a rows-only query on
  * the synthetic site (its exactness oracle is the ScalaTest suite).
  */
object CrawlQueries {

  private def orders(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(s"$dir/orders.parquet")

  /** URL canonicalization (F1): decorated URLs (mixed-case host, default
    * port, dot-segments, fragment) built from order keys must normalize to
    * the clean form the oracle constructs directly.
    */
  def urlCanonicalize(spark: SparkSession, dir: String): DataFrame =
    orders(spark, dir)
      .withColumn("raw",
        concat(lit("HTTPS://ShOp.Example.com:443/a/"), col("o_orderkey"),
          lit("/../item/"), col("o_orderkey"), lit("#ref")))
      .select(col("o_orderkey"),
        Urls.canonicalizeUdf(col("raw"), lit("https://shop.example.com/"))
          .as("canonical_url"))

  val urlCanonicalizeSql: String =
    """SELECT o_orderkey,
      |  'https://shop.example.com/a/item/' || o_orderkey AS canonical_url
      |FROM orders""".stripMargin

  /** Wave batch selection (W4/G5/G6): each host's top 3 through the crawl's
    * own batch selector, [[WaveSelector.select]], over pending frontier rows
    * synthesized from orders. No host has a robots rule, so each gets the
    * default 1 s delay and a 3 s wave's budget is 3; the oracle is the
    * equivalent ranked window. The rules broadcast (an empty map) is left to
    * the context cleaner: the returned plan reads it whenever it runs.
    */
  def frontierSelect(spark: SparkSession, dir: String): DataFrame = {
    val host = concat(lit("h"), pmod(col("o_custkey"), lit(50)))
    val frontier = orders(spark, dir).select( // WaveRunner.FrontierSchema's columns
      concat(lit("https://"), host, lit(".com/o/"), col("o_orderkey")).as("url"),
      col("o_orderkey").as("urlHash"),
      host.as("host"),
      lit(1).as("depth"),
      col("o_totalprice").as("priority"),
      lit(FrontierStatus.Pending).as("status"),
      lit(0).as("retries"),
      lit(0).as("discoveredWave"),
      col("o_orderkey").as("discoveredRank"),
      lit("").as("parentUrl"))
    val P = spark.conf.get("spark.sql.shuffle.partitions", "32").toInt
    val noRules = spark.sparkContext.broadcast(Map.empty[String, RobotsRule])
    val batch = WaveSelector.select(GraftRows.rows(frontier), noRules, waveSeconds = 3.0,
      maxRetries = 0, heapPartitions = P, fetchPartitions = P)
    GraftRows.scan(spark, Seq(batch), WaveSelector.BatchSchema)
      .select(col("host"), col("host_rank"), col("url"))
  }

  val frontierSelectSql: String =
    """SELECT host, CAST(rk - 1 AS BIGINT) AS host_rank, url FROM (
      |  SELECT 'h' || (o_custkey % 50) AS host,
      |    'https://h' || (o_custkey % 50) || '.com/o/' || o_orderkey AS url,
      |    row_number() OVER (PARTITION BY o_custkey % 50
      |      ORDER BY o_totalprice DESC, o_orderkey ASC, o_orderkey ASC) AS rk
      |  FROM orders) x
      |WHERE rk <= 3""".stripMargin

  /** URL-seen filter (G4): seen = even order keys, candidates = all keys; the
    * shard-local Bloom fast path + exact anti-join must return exactly the
    * odd keys (Bloom false positives rescued by the join — exactness is the
    * contract, so the oracle is plain SQL). Uses the sharded Bloom shard
    * rows — the residency model that carries to 10^10 keys.
    */
  def bloomAntijoin(spark: SparkSession, dir: String): DataFrame = {
    val all = orders(spark, dir).select(col("o_orderkey").as("url_hash"))
    val seen = all.filter(pmod(col("url_hash"), lit(2)) === 0)
    UrlSeen.filterUnseenSharded(all, seen, nShards = 8, expectedTotal = 1L << 16, fpp = 0.03)
      .select(col("url_hash"))
  }

  val bloomAntijoinSql: String =
    "SELECT o_orderkey AS url_hash FROM orders WHERE o_orderkey % 2 = 1"

  /** End-to-end E2 flagship path (rows-only): crawl → records → star
    * normalization → flagship denormalizing agg → match against the
    * reference's golden resume → top-k. The component exactness oracles live
    * in CrawlOracleSpec/StarSpec/MatchSpec; this query proves the composed
    * pipeline runs as one plan chain.
    */
  def matchSynthetic(spark: SparkSession, dir: String): DataFrame = {
    import graft.relational.{Match, Star}
    val site    = SiteConfig(universities = 2, deptsPerU = 2, facultyPerDept = 8,
      errorFraction = 0.15)
    val seeds   = SyntheticSite.seeds(site)
    val result  = WaveRunner.run(spark, seeds, SyntheticSite.htmlFetcher(site), Nil,
      WaveRunner.CrawlConfig(waveSeconds = 4.0))
    val records = Records.facultyRecords(spark, result.docs, seeds)
    val star    = Star.normalize(spark, records,
      java.sql.Timestamp.valueOf("2026-01-01 00:00:00"))
    val resume = Match.Resume("John Doe",
      Seq("Machine Learning", "Natural Language Processing", "Computer Vision"),
      Seq(Match.Education("PhD", "Computer Science", "Stanford University", Some(2022))),
      Nil)
    Match.matchResume(spark, Star.facultyProfiles(star)
      .withColumnRenamed("department_name", "department_name"), resume, topK = 10)
  }

  /** Full crawl on the synthetic site (rows-only: its exactness oracle is the
    * sequential re-statement in the test suite, not SQL). Scale-independent
    * of sfDir by design — the crawl input is the synthetic frontier.
    */
  def crawlSynthetic(spark: SparkSession, dir: String): DataFrame = {
    val site    = SiteConfig(universities = 2, deptsPerU = 2, facultyPerDept = 8,
      errorFraction = 0.15)
    val seeds   = SyntheticSite.seeds(site)
    val fetcher = SyntheticSite.fetcher(site)
    val result  = WaveRunner.run(spark, seeds, fetcher, Nil,
      WaveRunner.CrawlConfig(waveSeconds = 4.0))
    Records.facultyRecords(spark, result.docs, seeds)
      .orderBy(col("seed_rank"), col("row_rank"))
      .select(col("name"), col("title"), col("university"), col("department"),
        col("email"), col("profile_url"))
  }
}
