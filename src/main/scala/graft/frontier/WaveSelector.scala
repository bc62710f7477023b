package graft.frontier

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Priority + per-host batch selection for one crawl wave (SURVEY.md §2.8
  * G5/G6, §2.5 W4).
  *
  * Priority reproduces the reference's fetch discipline (index pages before
  * profiles, index-document order within a host — reference `scraper.py:43-63`)
  * while adding the north rule's components (depth, domain whitelist,
  * profile-page URL-shape heuristic). Deterministic total order: ties beyond
  * priority break on (discoveredWave, discoveredRank, urlHash) — urlHash is
  * unique, so selection is reproducible run-to-run, which is what makes the
  * committed crawl ordering comparable to the sequential oracle.
  *
  * Skew: a hot host (10^6 pending URLs on one domain) would funnel into a
  * single window partition. Selection therefore runs in two stages:
  *   1. salted pre-prune — window over (host, salt = pmod(urlHash, S)) keeps
  *      the per-shard top-`budget`, bounding stage-2 input to S×budget rows
  *      per host while provably retaining the true per-host top-`budget`;
  *   2. exact per-host top-`budget` window over the pruned rows.
  * Stage 1 spreads the heavy lifting across S shards (AQE skew handling is
  * enabled as belt-and-braces); stage 2 is exact, so ordering parity holds.
  *
  * The crawl's default selector is the partial-aggregating
  * [[TopKSelectNative]]; this window form is the `"window"` selector and
  * serves `q_frontier_select`.
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

  /** Select this wave's batch with the two-stage salted window.
    *
    * @param pending  pending frontier rows with `host`, `priority`,
    *                 `discoveredWave`, `discoveredRank`, `urlHash`, and
    *                 `budget` (per-host row budget, from [[Robots.waveBudget]])
    * @param saltShards shards for the skew pre-prune (S=1 disables salting)
    * @return batch rows + `host_rank` (0-based intra-host fetch position)
    */
  def select(pending: DataFrame, saltShards: Int = 1): DataFrame = {
    val ord = Seq(
      col("priority").desc,
      col("discoveredWave").asc,
      col("discoveredRank").asc,
      col("urlHash").asc)
    val pruned =
      if (saltShards <= 1) pending
      else {
        val wSalt = Window
          .partitionBy(col("host"), pmod(col("urlHash"), lit(saltShards)))
          .orderBy(ord: _*)
        pending
          .withColumn("__shard_rank", row_number().over(wSalt))
          .filter(col("__shard_rank") <= col("budget"))
          .drop("__shard_rank")
      }
    val wHost = Window.partitionBy(col("host")).orderBy(ord: _*)
    pruned
      .withColumn("host_rank", row_number().over(wHost).cast("long") - 1L)
      .filter(col("host_rank") < col("budget"))
  }
}
