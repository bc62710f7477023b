package graft.frontier

import graft.model.RobotsRule
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Robots rules, one per host, looked up by the batch selector (SURVEY.md
  * §2.8 G9, J7).
  *
  * The reference has no robots handling (grep-verified, SURVEY §2.8); its
  * politeness is a hard-coded 1 req/s sleep (reference `scraper.py:83`) and
  * the API's per-key budget maps (reference `limiter.py:30-42`). The engine
  * therefore defaults every host to allow-all with crawl_delay = 1.0 s — the
  * reference-equivalent budget — and lets an explicit rule override it per
  * host (deny prefixes + crawl delay): [[allows]] and [[waveBudget]] are the
  * one definition of what a rule does. A crawl merges its rules to one per
  * host and broadcasts that host map to the selection tasks once.
  */
object Robots {

  val DefaultCrawlDelayS = 1.0 // scraper.py:83

  /** Rules merged to ONE row per host, on the driver: deny prefixes unioned,
    * sorted and de-duplicated; the most conservative — largest — crawl delay
    * kept. Hosts keep first-seen order. A crawl's selection reads its rules
    * merged, as a map keyed by host.
    */
  def mergeRules(rules: Seq[RobotsRule]): Seq[RobotsRule] = {
    val byHost = rules.groupBy(_.host)
    rules.map(_.host).distinct.map { host =>
      val rs = byHost(host)
      RobotsRule(host, rs.flatMap(_.denyPrefixes).distinct.sorted, rs.map(_.crawlDelayS).max)
    }
  }

  /** True unless the URL's path starts with one of the `deny` prefixes. The
    * path is what follows a leading `http://` or `https://` (matched
    * case-sensitively) and the authority up to the first `/`: empty when no
    * `/` follows, the whole URL when neither scheme leads it. A scan, no
    * regex: the selection calls this for every row a host's heap takes.
    */
  def allows(url: String, deny: Seq[String]): Boolean =
    url == null || deny == null || {
      val scheme = if (url.startsWith("https://")) 8 else if (url.startsWith("http://")) 7 else 0
      val slash = if (scheme == 0) 0 else url.indexOf('/', scheme)
      val path = if (slash < 0) url.length else slash
      !deny.exists(p => p != null && url.startsWith(p, path))
    }

  /** Per-host fetch budget for one wave: how many requests a wave of
    * `waveSeconds` allows at the host's crawl delay, at least one
    * (token-bucket refill for one wave; reference budget semantics from
    * `limiter.py:122-144`: N requests per fixed window).
    */
  def waveBudget(waveSeconds: Double, crawlDelayS: Double): Long =
    math.max(1L, math.floor(waveSeconds / crawlDelayS).toLong)

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
    * robots.txt yields the default allow-all / 1 s rule. The rules table this
    * returns is computed on the executors; a crawl takes its rules as a list
    * ([[fetchRules]] collects them), merges them to one per host and
    * broadcasts them to its selection once.
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

  /** Collected form of [[fetchRulesDF]]: the list a crawl takes. */
  def fetchRules(spark: SparkSession, hosts: Seq[String],
      fetcher: String => Option[graft.model.SpanDoc],
      agent: String = "*"): Seq[RobotsRule] = {
    import spark.implicits._
    fetchRulesDF(hosts.toDF("host"), fetcher, agent)
      .as[RobotsRule].collect().toSeq
  }
}
