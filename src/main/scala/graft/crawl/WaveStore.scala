package graft.crawl

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import java.nio.file.{Files, Paths}

/** Iceberg-shaped wave-snapshot table interface (SURVEY §7.4): the narrow
  * surface a real table catalog (Iceberg / Delta) drops into. The crawl
  * engine speaks ONLY to this trait — commit one wave's two tables
  * atomically, list committed waves, read a wave's tables back.
  *
  * A wave commits two tables, and every other crawl output is derived from
  * them at read:
  *  - `frontier_delta`: the latest state of only the keys the wave touched
  *    (fetched statuses + newly discovered entries), never the full
  *    frontier, so a commit is O(wave batch). The full frontier is recovered
  *    by folding deltas latest-wins over the seed rows (or over the most
  *    recent compacted base), and the URL-seen set is its key set.
  *  - `fetch_delta`: the wave's fetch log (one row per attempted fetch,
  *    with its spans), from which docs, the crawl order and the per-host
  *    metrics are projected.
  * `commitFrontierBase` writes a compacted full snapshot — the engine calls
  * it when its in-memory compaction fires (every ~K waves), so the
  * O(frontier) write is amortized over K waves and resume reads stay cheap.
  *
  * Catalog mapping: `commitWave` = one append-only snapshot/commit per wave
  * (Iceberg MERGE writes only changed files — the delta IS the changed-file
  * set); `commitFrontierBase` = a rewrite/compaction commit; `listCommitted`
  * = snapshot log; `readFetchLog`/`readFrontierDeltas`/`readFrontierBase` =
  * time-travel reads.
  */
trait WaveStore {
  /** Committed wave ids (unordered). */
  def listCommitted(): Seq[Int]
  /** Atomically commit one wave: both tables + manifest, then the commit
    * marker — a reader never observes a partial wave.
    */
  def commitWave(wave: Int, frontierDelta: DataFrame, fetchLog: DataFrame): Unit
  /** Commit a compacted FULL frontier snapshot as of `wave` (all statuses).
    * Readers resume from the newest base + the deltas after it.
    */
  def commitFrontierBase(wave: Int, frontier: DataFrame): Unit
  /** Waves at which a compacted frontier base was committed (unordered). */
  def listFrontierBases(): Seq[Int]
  def readFrontierBase(wave: Int): DataFrame
  /** The frontier deltas of several (≥ 1) waves as ONE scan, each row with
    * the `wave` that committed it.
    */
  def readFrontierDeltas(waves: Seq[Int]): DataFrame
  /** The fetch logs of several (≥ 1) waves as ONE scan. */
  def readFetchLog(waves: Seq[Int]): DataFrame
}

/** No-catalog-jar implementation (the sandbox has no Iceberg jar): parquet
  * data files + JSON manifest + `_COMMITTED` / `_BASE_COMMITTED` markers as
  * the atomic commits. Tables are read with the engine's schemas, so
  * opening one runs no job to infer a schema from parquet footers. Refuses
  * a directory written in the older five-table layout (`parquet-v1`, whose
  * committed waves have no `fetch_delta`): its waves cannot be read back,
  * and a resume must not append to it.
  */
final class ParquetSnapshotStore(spark: SparkSession, dir: String,
    partitions: Int) extends WaveStore {

  private def wdir(wave: Int): String = f"$dir/wave=$wave%05d"

  private def waveDirs: Seq[java.io.File] = {
    val d = new java.io.File(dir)
    if (!d.exists()) Nil
    else {
      val files = d.listFiles()
      if (files == null)
        throw new IllegalStateException(
          s"snapshot dir $dir exists but is not listable (not a directory, or IO error)")
      files.toSeq.filter(f => f.isDirectory && f.getName.startsWith("wave="))
    }
  }

  waveDirs.find(w => new java.io.File(w, "_COMMITTED").exists() &&
      !new java.io.File(w, "fetch_delta").exists()).foreach { w =>
    throw new IllegalStateException(
      s"snapshot dir $dir holds ${w.getName} in the parquet-v1 layout (five tables per " +
        "wave); this store reads and writes parquet-v2 (frontier_delta + fetch_delta): " +
        "crawl into a new directory")
  }

  private def committedWaves(marker: String): Seq[Int] =
    waveDirs.filter(f => new java.io.File(f, marker).exists()).map { f =>
      try f.getName.stripPrefix("wave=").toInt
      catch {
        case _: NumberFormatException => throw new IllegalStateException(
          s"malformed snapshot directory name '${f.getName}' in $dir " +
            "(expected wave=<int>)")
      }
    }

  override def listCommitted(): Seq[Int] = committedWaves("_COMMITTED")

  override def listFrontierBases(): Seq[Int] = committedWaves("_BASE_COMMITTED")

  override def commitWave(wave: Int, frontierDelta: DataFrame, fetchLog: DataFrame): Unit = {
    val w = wdir(wave)
    frontierDelta.write.mode("overwrite").parquet(s"$w/frontier_delta")
    fetchLog.write.mode("overwrite").parquet(s"$w/fetch_delta")
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

  private def frontierReader = spark.read.schema(WaveRunner.FrontierSchema)

  override def readFrontierBase(wave: Int): DataFrame =
    frontierReader.parquet(s"${wdir(wave)}/frontier_base")

  override def readFetchLog(waves: Seq[Int]): DataFrame =
    spark.read.schema(WaveRunner.FetchSchema)
      .parquet(waves.map(w => s"${wdir(w)}/fetch_delta"): _*)

  // the wave dirs are Hive-style partitions: read from the store dir as the
  // base path, every row carries the `wave` of its dir (a partition column
  // is added to the given schema)
  override def readFrontierDeltas(waves: Seq[Int]): DataFrame =
    frontierReader.option("basePath", dir)
      .parquet(waves.map(w => s"${wdir(w)}/frontier_delta"): _*)

  /** Iceberg-style commit manifest: wave id, input snapshot, and per-partition
    * lineage (logical hash partition of the wave's frontier delta → row
    * count) — BASELINE.json: "per-partition lineage and checkpointed
    * resumability". The lineage is over the DELTA: the set of partitions the
    * wave's commit actually changed, which is what an incremental-commit
    * manifest records.
    */
  private def writeManifest(w: String, wave: Int): Unit = {
    val parts = frontierReader.parquet(s"$w/frontier_delta")
      .groupBy(pmod(col("urlHash"), lit(partitions)).as("pt")).count()
      .collect().sortBy(_.getLong(0))
      .map(r => s"""{"partition":${r.getLong(0)},"rows":${r.getLong(1)}}""")
      .mkString("[", ",", "]")
    val json =
      s"""{"wave":$wave,"inputSnapshot":${wave - 1},"partitions":$parts,"format":"parquet-v2"}"""
    Files.writeString(Paths.get(s"$w/manifest.json"), json)
    ()
  }
}
