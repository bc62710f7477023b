package graft.crawl

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Time-travel reads over a [[WaveStore]] — the Iceberg snapshot semantics
  * ("read the table as of snapshot S") expressed over the store's
  * delta-commit log, usable against ANY committed crawl directory without
  * re-running the crawl.
  *
  * The frontier read is the same latest-wins fold [[WaveRunner.resume]]
  * boots from (resume ≡ `frontierAsOf(lastCommitted)`): start from the
  * newest compacted base at or before the target wave (else the seed rows)
  * and fold the frontier deltas committed after it, each key taking its
  * newest delta row. Cost is O(base + deltas-since-base), never
  * O(waves × frontier) — compaction amortizes time travel exactly as it
  * amortizes resume. The seen set is that frontier's key set, and docs,
  * order and metrics are projections of the fetch log up to the target wave.
  */
object WaveSnapshots {

  private[crawl] val FrontierCols = Seq("url", "urlHash", "host", "depth",
    "priority", "status", "retries", "discoveredWave", "discoveredRank",
    "parentUrl")

  /** Committed waves at or before `wave` (sorted). Fails loudly on a wave
    * that was never committed — a time-travel read of an uncommitted wave
    * has no defined state.
    */
  private def wavesThrough(store: WaveStore, wave: Int): Seq[Int] = {
    val committed = store.listCommitted().sorted
    require(committed.contains(wave),
      s"wave $wave is not committed (committed: ${committed.mkString(",")})")
    committed.filter(_ <= wave)
  }

  /** The full frontier (every key's newest status) as of committed `wave`.
    * `seedRows` supplies the wave-0 pre-state for stores whose history
    * predates the first compacted base — pass the same seed entries the
    * crawl was started with.
    */
  def frontierAsOf(store: WaveStore, seedRows: DataFrame, wave: Int): DataFrame = {
    val waves = wavesThrough(store, wave)
    val bases = store.listFrontierBases().filter(_ <= wave)
    val (base0, deltaWaves) =
      if (bases.isEmpty) (seedRows, waves)
      else (store.readFrontierBase(bases.max), waves.filter(_ > bases.max))
    deltaWaves
      .map(w => store.readDelta(w, "frontier_delta").withColumn("__dw", lit(w)))
      .reduceOption(_ unionByName _) match {
      case None => base0.select(FrontierCols.map(col): _*)
      case Some(du) =>
        val latest = du.groupBy(col("urlHash"))
          .agg(max_by(struct(FrontierCols.map(col): _*), col("__dw")).as("c"))
          .select(col("c.*"))
        base0.join(latest.select(col("urlHash")), Seq("urlHash"), "left_anti")
          .select(FrontierCols.map(col): _*)
          .unionByName(latest.select(FrontierCols.map(col): _*))
    }
  }

  /** The URL-seen set as of committed `wave`: every URL ever enqueued is a
    * frontier row, so the seen set is the frontier's key set.
    */
  def seenAsOf(store: WaveStore, seedRows: DataFrame, wave: Int): DataFrame =
    frontierAsOf(store, seedRows, wave).select(col("urlHash").as("url_hash"), col("url"))

  /** The fetch log (every attempted fetch, with its spans) through committed
    * `wave`, as one scan: docs, crawl order and metrics are projections of it.
    */
  def fetchLogAsOf(store: WaveStore, wave: Int): DataFrame =
    store.readDeltas(wavesThrough(store, wave), "fetch_delta")

  /** Convenience: time-travel a committed snapshot DIRECTORY (the engine's
    * parquet store layout) without constructing the store by hand.
    */
  def frontierAsOf(spark: SparkSession, dir: String, seedRows: DataFrame,
      wave: Int): DataFrame = {
    val p = spark.sessionState.conf.numShufflePartitions
    frontierAsOf(new ParquetSnapshotStore(spark, dir, p), seedRows, wave)
  }
}
