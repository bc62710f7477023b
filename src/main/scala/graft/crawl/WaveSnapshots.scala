package graft.crawl

import org.apache.spark.sql.DataFrame
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
  * row of the newest wave (a base row is older than every delta row), in
  * one aggregate over one scan of the deltas. Cost is O(base +
  * deltas-since-base), never O(waves × frontier) — compaction amortizes
  * time travel exactly as it amortizes resume. The seen set is that
  * frontier's key set, and docs, order and metrics are projections of the
  * fetch log up to the target wave.
  */
object WaveSnapshots {

  private val FrontierCols = WaveRunner.FrontierCols

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
    val base = base0.select(FrontierCols.map(col): _*)
    if (deltaWaves.isEmpty) base
    else base.withColumn("wave", lit(-1))
      .unionByName(store.readFrontierDeltas(deltaWaves)
        .select((FrontierCols :+ "wave").map(col): _*))
      .groupBy(col("urlHash"))
      .agg(max_by(struct(FrontierCols.map(col): _*), col("wave")).as("c"))
      .select(col("c.*"))
  }

  /** The URL-seen set as of committed `wave`: every URL ever enqueued is a
    * frontier row, so the seen set is the frontier's key set.
    */
  def seenAsOf(store: WaveStore, seedRows: DataFrame, wave: Int): DataFrame =
    seenOf(frontierAsOf(store, seedRows, wave))

  /** The URL-seen set (`url_hash`, `url`) of a frontier: its key set. */
  def seenOf(frontier: DataFrame): DataFrame =
    frontier.select(col("urlHash").as("url_hash"), col("url"))

  /** The fetch log (every attempted fetch, with its spans) through committed
    * `wave`, as one scan: docs, crawl order and metrics are projections of it.
    */
  def fetchLogAsOf(store: WaveStore, wave: Int): DataFrame =
    store.readFetchLog(wavesThrough(store, wave))
}
