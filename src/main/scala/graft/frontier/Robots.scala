package graft.frontier

import graft.model.RobotsRule
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Robots rules as a broadcast-joined table (SURVEY.md §2.8 G9, J7).
  *
  * The reference has no robots handling (grep-verified, SURVEY §2.8); its
  * politeness is a hard-coded 1 req/s sleep (reference `scraper.py:83`) and
  * the API's per-key budget maps (reference `limiter.py:30-42`). The engine
  * therefore defaults every host to allow-all with crawl_delay = 1.0 s — the
  * reference-equivalent budget — and lets an explicit rules table override
  * per host (deny prefixes + crawl delay), exactly the broadcast-join shape
  * the north rule mandates.
  */
object Robots {

  val DefaultCrawlDelayS = 1.0 // scraper.py:83

  def rulesDF(spark: SparkSession, rules: Seq[RobotsRule]): DataFrame = {
    import spark.implicits._
    rules.toDS().toDF()
  }

  /** Rules merged to ONE row per host, on the driver: deny prefixes unioned,
    * sorted and de-duplicated; the most conservative — largest — crawl delay
    * kept. Duplicate host rows would fan the frontier out through the
    * [[withRules]] join and the same URL would be selected/fetched twice in
    * a wave, corrupting ordering and budgets. Hosts keep first-seen order.
    */
  def mergeRules(rules: Seq[RobotsRule]): Seq[RobotsRule] = {
    val byHost = rules.groupBy(_.host)
    rules.map(_.host).distinct.map { host =>
      val rs = byHost(host)
      RobotsRule(host, rs.flatMap(_.denyPrefixes).distinct.sorted, rs.map(_.crawlDelayS).max)
    }
  }

  /** Left-join rules onto a frontier (must carry `host`, `url`); null rule →
    * default allow + 1 s delay. Adds:
    *   `crawl_delay_s: double`, `allowed: boolean`.
    * Deny semantics: URL path starts with any deny prefix.
    *
    * `rules` must hold at most ONE row per host — merge a rule list with
    * [[mergeRules]] first (the crawl does, once per crawl); [[fetchRulesDF]]
    * over distinct hosts already is. The join then adds no aggregate over
    * the rules to the plan that uses it.
    *
    * Join regime is chosen STATICALLY by the caller (same pattern as the
    * URL-seen Bloom residency): `broadcastRules = true` below the configured
    * row bound — one broadcast, no shuffle; `false` for a rules table too big
    * to broadcast (millions of hosts), degrading to a shuffled hash join on
    * `host`.
    */
  def withRules(frontier: DataFrame, rules: DataFrame,
      broadcastRules: Boolean = true): DataFrame = {
    val perHost = rules.select(col("host"), col("denyPrefixes").as("__deny"),
      col("crawlDelayS").as("__delay"))
    val rulesSide = if (broadcastRules) broadcast(perHost) else perHost.hint("shuffle_hash")
    frontier.join(rulesSide, Seq("host"), "left")
      .withColumn("crawl_delay_s", coalesce(col("__delay"), lit(DefaultCrawlDelayS)))
      .withColumn("allowed", allowedUdf(col("url"), col("__deny")))
      .drop("__deny", "__delay")
  }

  /** True unless the URL's path starts with a deny prefix. A Scala UDF, not
    * an `exists` lambda: a higher-order function has no generated code, so
    * it would take its filter out of the join's whole-stage-codegen stage.
    */
  private val allowedUdf = udf { (url: String, deny: Seq[String]) =>
    url == null || deny == null || {
      val path = url.replaceFirst("^https?://[^/]*", "")
      !deny.exists(p => p != null && path.startsWith(p))
    }
  }

  /** Per-host fetch budget for one wave: how many requests a wave of
    * `waveSeconds` allows at the host's crawl delay (token-bucket refill for
    * one wave; reference budget semantics from `limiter.py:122-144`:
    * N requests per fixed window).
    */
  def waveBudget(waveSeconds: Double): org.apache.spark.sql.Column =
    greatest(lit(1L), floor(lit(waveSeconds) / col("crawl_delay_s")).cast("long"))

  // ---- robots.txt parsing (north rule: "Robots.txt fetch/parse ... run as
  // a broadcast-joined rules table") ----

  /** Parse robots.txt content into the engine's rule row for `host`.
    *
    * RFC 9309 / de-facto semantics, the subset a crawl scheduler consumes:
    * groups are runs of consecutive `User-agent:` lines followed by their
    * directives; group selection is the RFC's product-token match — a group
    * applies when its user-agent token is a case-insensitive PREFIX of the
    * crawler's agent string (so `User-agent: graftbot` matches agent
    * "graftbot/1.0"), the longest matching token wins, and the `*` group is
    * the fallback; `Disallow:` values are path prefixes (empty value =
    * allow-all directive, ignored); `Crawl-delay:` seconds override the
    * default; `#` comments and unknown directives (Allow, Sitemap, ...) are
    * tolerated and skipped — a malformed robots.txt must degrade to
    * conservative defaults, never crash the wave.
    */
  def parseRobotsTxt(host: String, text: String, agent: String = "*"): RobotsRule = {
    final case class Group(agents: Set[String], deny: Vector[String],
        delay: Option[Double])
    val groups  = scala.collection.mutable.ArrayBuffer.empty[Group]
    var agents  = Set.empty[String]
    var deny    = Vector.empty[String]
    var delay   = Option.empty[Double]
    var inAgents = false
    def flush(): Unit = {
      if (agents.nonEmpty) groups += Group(agents, deny, delay)
      agents = Set.empty; deny = Vector.empty; delay = None
    }
    text.linesIterator.foreach { raw =>
      val line = raw.takeWhile(_ != '#').trim
      val i = line.indexOf(':')
      if (i > 0) {
        val key   = line.substring(0, i).trim.toLowerCase
        val value = line.substring(i + 1).trim
        key match {
          case "user-agent" =>
            if (!inAgents) flush() // a UA line after directives starts a new group
            agents += value.toLowerCase
            inAgents = true
          case "disallow" =>
            inAgents = false
            if (value.nonEmpty && agents.nonEmpty) deny :+= value
          case "crawl-delay" =>
            inAgents = false
            if (agents.nonEmpty)
              delay = scala.util.Try(value.toDouble).toOption.filter(_ > 0).orElse(delay)
          case _ =>
            inAgents = false // Allow/Sitemap/unknown: tolerated, not modeled
        }
      }
    }
    flush()
    val a = agent.toLowerCase
    // longest case-insensitive token-prefix match; '*' only as fallback
    val best = groups.flatMap { g =>
      g.agents.filter(t => t != "*" && a.startsWith(t))
        .map(t => (t.length, g))
    }
    val chosen =
      if (best.nonEmpty) Some(best.maxBy(_._1)._2)
      else groups.find(_.agents.contains("*"))
    chosen match {
      case Some(g) => RobotsRule(host, g.deny, g.delay.getOrElse(DefaultCrawlDelayS))
      case None    => RobotsRule(host, Nil, DefaultCrawlDelayS)
    }
  }

  /** Fetch + parse robots.txt for every host, DISTRIBUTED end-to-end: probes
    * `https://host/robots.txt` through the engine's fetcher (robots bodies
    * travel as the text spans of a SpanDoc, same boundary as every other
    * fetch) and parses each body on the executors; a missing or unfetchable
    * robots.txt yields the default allow-all / 1 s rule. The rules TABLE this
    * returns never visits the driver — at web scale (millions of hosts) pass
    * it straight to [[withRules]] with `broadcastRules = false`; below the
    * broadcast bound, [[fetchRules]] is the collected convenience form.
    *
    * @param hosts a DataFrame with a `host: string` column
    */
  def fetchRulesDF(hosts: DataFrame,
      fetcher: String => Option[graft.model.SpanDoc],
      agent: String = "*"): DataFrame = {
    val spark = hosts.sparkSession
    import spark.implicits._
    hosts.select(col("host")).as[String]
      .repartition(spark.sparkContext.defaultParallelism)
      .mapPartitions { it =>
        it.map { host =>
          fetcher(s"https://$host/robots.txt") match {
            case Some(doc) =>
              val body = doc.spans.sortBy(_.offset).map(_.text).mkString("\n")
              parseRobotsTxt(host, body, agent)
            case None => RobotsRule(host, Nil, DefaultCrawlDelayS)
          }
        }
      }
      .toDF()
  }

  /** Collected convenience form of [[fetchRulesDF]] — only for rule sets
    * known to fit the broadcast regime.
    */
  def fetchRules(spark: SparkSession, hosts: Seq[String],
      fetcher: String => Option[graft.model.SpanDoc],
      agent: String = "*"): Seq[RobotsRule] = {
    import spark.implicits._
    fetchRulesDF(hosts.toDF("host"), fetcher, agent)
      .as[RobotsRule].collect().toSeq
  }
}
