package graft.crawl

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import java.nio.file.{Files, Paths}

/** Iceberg-shaped wave-snapshot table interface (SURVEY §7.4): the narrow
  * surface a real table catalog (Iceberg / Delta) drops into. The crawl
  * engine speaks ONLY to this trait — commit one wave's five DELTAS
  * atomically, list committed waves, read a wave's deltas back.
  *
  * Per-wave commits are O(wave batch), never O(frontier): `commitWave` writes
  * the wave's frontier DELTA (the latest state of only the keys the wave
  * touched — fetched statuses + newly discovered entries), not the full
  * frontier. The full frontier is recovered at read by folding deltas
  * latest-wins over the seed rows (or over the most recent compacted base).
  * `commitFrontierBase` writes such a compacted full snapshot — the engine
  * calls it when its in-memory compaction fires (every ~K waves), so the
  * O(frontier) write is amortized over K waves and resume reads stay cheap.
  *
  * Catalog mapping: `commitWave` = one append-only snapshot/commit per wave
  * (Iceberg MERGE writes only changed files — the delta IS the changed-file
  * set); `commitFrontierBase` = a rewrite/compaction commit; `listCommitted`
  * = snapshot log; `readDelta`/`readFrontierBase` = time-travel reads.
  */
trait WaveStore {
  /** Committed wave ids (unordered). */
  def listCommitted(): Seq[Int]
  /** Atomically commit one wave: all five deltas + manifest, then the
    * commit marker — a reader never observes a partial wave.
    */
  def commitWave(wave: Int, frontierDelta: DataFrame, seenDelta: DataFrame,
      docsDelta: DataFrame, orderDelta: DataFrame, metricsDelta: DataFrame): Unit
  /** Commit a compacted FULL frontier snapshot as of `wave` (all statuses).
    * Readers resume from the newest base + the deltas after it.
    */
  def commitFrontierBase(wave: Int, frontier: DataFrame): Unit
  /** Waves at which a compacted frontier base was committed (unordered). */
  def listFrontierBases(): Seq[Int]
  def readFrontierBase(wave: Int): DataFrame
  /** kind ∈ {frontier_delta, seen_delta, docs_delta, order_delta, metrics_delta}. */
  def readDelta(wave: Int, kind: String): DataFrame
  /** One delta kind of several (≥ 1) waves as ONE scan. */
  def readDeltas(waves: Seq[Int], kind: String): DataFrame
}

/** No-catalog-jar implementation (the sandbox has no Iceberg jar): parquet
  * data files + JSON manifest + `_COMMITTED` / `_BASE_COMMITTED` markers as
  * the atomic commits.
  */
final class ParquetSnapshotStore(spark: SparkSession, dir: String,
    partitions: Int) extends WaveStore {

  private def wdir(wave: Int): String = f"$dir/wave=$wave%05d"

  private def committedWaves(marker: String): Seq[Int] = {
    val d = new java.io.File(dir)
    if (!d.exists()) Nil
    else {
      val files = d.listFiles()
      if (files == null)
        throw new IllegalStateException(
          s"snapshot dir $dir exists but is not listable (not a directory, or IO error)")
      files.toSeq
        .filter(f => f.isDirectory && f.getName.startsWith("wave=") &&
          new java.io.File(f, marker).exists())
        .map { f =>
          try f.getName.stripPrefix("wave=").toInt
          catch {
            case _: NumberFormatException => throw new IllegalStateException(
              s"malformed snapshot directory name '${f.getName}' in $dir " +
                "(expected wave=<int>)")
          }
        }
    }
  }

  override def listCommitted(): Seq[Int] = committedWaves("_COMMITTED")

  override def listFrontierBases(): Seq[Int] = committedWaves("_BASE_COMMITTED")

  override def commitWave(wave: Int, frontierDelta: DataFrame, seenDelta: DataFrame,
      docsDelta: DataFrame, orderDelta: DataFrame, metricsDelta: DataFrame): Unit = {
    val w = wdir(wave)
    frontierDelta.write.mode("overwrite").parquet(s"$w/frontier_delta")
    seenDelta.write.mode("overwrite").parquet(s"$w/seen_delta")
    docsDelta.write.mode("overwrite").parquet(s"$w/docs_delta")
    orderDelta.write.mode("overwrite").parquet(s"$w/order_delta")
    metricsDelta.write.mode("overwrite").parquet(s"$w/metrics_delta")
    writeManifest(w, wave)
    Files.writeString(Paths.get(s"$w/_COMMITTED"), "1")
    ()
  }

  override def commitFrontierBase(wave: Int, frontier: DataFrame): Unit = {
    val w = wdir(wave)
    frontier.write.mode("overwrite").parquet(s"$w/frontier_base")
    Files.writeString(Paths.get(s"$w/_BASE_COMMITTED"), "1")
    ()
  }

  override def readFrontierBase(wave: Int): DataFrame =
    spark.read.parquet(s"${wdir(wave)}/frontier_base")

  override def readDelta(wave: Int, kind: String): DataFrame =
    spark.read.parquet(s"${wdir(wave)}/$kind")

  override def readDeltas(waves: Seq[Int], kind: String): DataFrame =
    spark.read.parquet(waves.map(w => s"${wdir(w)}/$kind"): _*)

  /** Iceberg-style commit manifest: wave id, input snapshot, and per-partition
    * lineage (logical hash partition of the wave's frontier delta → row
    * count) — BASELINE.json: "per-partition lineage and checkpointed
    * resumability". The lineage is over the DELTA: the set of partitions the
    * wave's commit actually changed, which is what an incremental-commit
    * manifest records.
    */
  private def writeManifest(w: String, wave: Int): Unit = {
    val parts = spark.read.parquet(s"$w/frontier_delta")
      .groupBy(pmod(col("urlHash"), lit(partitions)).as("pt")).count()
      .collect().sortBy(_.getLong(0))
      .map(r => s"""{"partition":${r.getLong(0)},"rows":${r.getLong(1)}}""")
      .mkString("[", ",", "]")
    val json =
      s"""{"wave":$wave,"inputSnapshot":${wave - 1},"partitions":$parts,"format":"parquet-v1"}"""
    Files.writeString(Paths.get(s"$w/manifest.json"), json)
    ()
  }
}
