package graft.frontier

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Fetch priority for the crawl frontier (SURVEY.md §2.8 G5/G6, §2.5 W4).
  *
  * Priority reproduces the reference's fetch discipline (index pages before
  * profiles, index-document order within a host — reference `scraper.py:43-63`)
  * while adding the north rule's components (depth, domain whitelist,
  * profile-page URL-shape heuristic). Ties beyond priority break on
  * (discoveredWave, discoveredRank, urlHash) — urlHash is unique, so the
  * order is total and selection is reproducible run-to-run, which is what
  * makes the committed crawl ordering comparable to the sequential oracle.
  * The one batch selector, [[TopKSelectNative]], takes each host's top
  * `budget` rows in that order.
  */
object WaveSelector {

  /** Priority: higher fetched first. Depth dominates (seeds/index pages
    * first), then whitelist membership, then profile-shaped URL heuristic —
    * the north rule's "(depth, domain whitelist, profile-page heuristics)".
    */
  def priority(depth: Column, whitelisted: Column, profileShaped: Column): Column =
    lit(1000.0) * (lit(32) - depth) +
      when(whitelisted, 100.0).otherwise(0.0) +
      when(profileShaped, 10.0).otherwise(0.0)

  /** Profile-page URL-shape heuristic (north rule; grounded in the
    * reference's single followed link shape, `scraper.py:54-55,109-110`).
    */
  def profileShaped(url: Column): Column =
    url.rlike("""/(people|faculty|profiles?)/[^/]+$""")
}
