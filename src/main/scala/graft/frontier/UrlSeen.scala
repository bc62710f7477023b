package graft.frontier

import org.apache.spark.{Partitioner, SparkContext}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, GraftRows}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.functions._
import org.apache.spark.util.sketch.BloomFilter

/** URL-seen set: partitioned Bloom pre-filter + exact check, keyed by
  * canonicalized-URL xxHash64 (SURVEY.md §2.8 G4; BASELINE.json north star).
  * Bloom is the one filter family: the seen set only grows, so a filter
  * that also supports deletion would buy nothing.
  *
  * Exactness contract: the Bloom alone has false positives, which would
  * wrongly DROP unseen URLs if trusted. It is therefore only the cheap
  * fast-path: candidates whose shard-Bloom probe is NEGATIVE are definitely
  * unseen and skip the check; probe-positive candidates (rare: FPP + true
  * dups) are checked exactly against the seen keys ([[UrlSeen.exact]]). The
  * resulting seen set is exactly the reference's (reference dedup grounding:
  * `main.py:187-190` natural-key probes; `scraper.py:43-63` one fetch per
  * discovered URL).
  *
  * Scale math (10^10 URLs, the north-rule frontier): 1% FPP needs ~9.6
  * bits/key → ~12 GB of Bloom total. Sharded by `pmod(url_hash, nShards)`
  * into 1024 shards that is ~12 MB/shard; a probe placed with its shard
  * touches only the shards of its own partition.
  *
  * THIS class is the driver-resident/broadcast form — the crawl engine's
  * regime while the configured filter fits `bloomBroadcastMaxBytes`, a hard
  * OOM at 10^10. Above that bound the engine holds the filter as a
  * [[BloomTable]] instead: shard rows placed by shard id on the executors,
  * which take new keys and probes where they live, so residency carries to
  * 10^10. Both forms use the same sizing and sharding, so for the same keys
  * their shards hold the same bits.
  */
final class PartitionedBloom(val nShards: Int, val shards: Array[BloomFilter],
    val capacity: Long, fpp: Double) extends Serializable {
  private var keys = 0L
  /** Keys put so far (duplicates included). */
  def size: Long = keys
  def shardOf(hash: Long): Int = BloomTable.shardOf(hash, nShards)
  def mightContain(hash: Long): Boolean = shards(shardOf(hash)).mightContainLong(hash)
  /** Insert one key on the driver. */
  def put(hash: Long): Unit = { shards(shardOf(hash)).putLong(hash); keys += 1 }

  /** Put `hashes` on the driver, all or none. Throws before the filter
    * would hold more than `capacity` keys ([[BloomTable.overfull]]).
    */
  def putAll(hashes: Array[Long]): Unit = {
    if (keys + hashes.length > capacity)
      throw BloomTable.overfull(capacity, keys + hashes.length)
    hashes.foreach(put)
  }

  /** [[putAll]] `keys`, one partition at a time as its task ends (the
    * driver never holds more than one partition's keys), in one job that
    * also stores `keys` when they are held; returns how many were put.
    */
  def putKeys(keys: RDD[Long]): Long = {
    var n = 0L
    keys.sparkContext.runJob(keys, (it: Iterator[Long]) => it.toArray,
      (_: Int, part: Array[Long]) => { putAll(part); n += part.length })
    n
  }

  /** A copy to probe while this filter keeps taking puts. */
  def copy(): PartitionedBloom = {
    // each shard's bits merged into an empty shard made alike (same shape)
    val c = new PartitionedBloom(nShards,
      shards.map(s => BloomTable.emptyShard(capacity, nShards, fpp).mergeInPlace(s)), capacity, fpp)
    c.keys = keys
    c
  }
}

object PartitionedBloom {
  /** Shards sized for `expectedTotal` keys at `fpp`, fixed at crawl start. */
  def empty(nShards: Int, expectedTotal: Long, fpp: Double): PartitionedBloom =
    new PartitionedBloom(nShards,
      Array.fill(nShards)(BloomTable.emptyShard(expectedTotal, nShards, fpp)), expectedTotal, fpp)
}

/** One shard of the sharded URL-seen Bloom: its id, the keys put into it
  * (duplicates included) and its filter.
  */
final case class BloomShard(shard: Int, keys: Long, bloom: BloomFilter)

/** Places a url hash on the partition that holds its Bloom shard
  * (`shard % numPartitions`). It is the one placement of every URL-seen row
  * set in both regimes — seen keys, candidates, new keys and shard rows —
  * and each keeps it, so a check or put reads its own partition and moves
  * nothing.
  */
final case class ShardPlacement(nShards: Int, numPartitions: Int) extends Partitioner {
  def getPartition(key: Any): Int =
    BloomTable.shardOf(key.asInstanceOf[Long], nShards) % numPartitions
}

/** The URL-seen Bloom as shard ROWS — the 10^10 residency model.
  *
  * [[PartitionedBloom]] (above) holds every shard in one driver object and
  * broadcasts the whole filter; at 10^10 keys / 1% FPP that is a ~12 GB
  * driver allocation and a ~12 GB broadcast per wave — a hard OOM, not a
  * slowdown. Here each shard is one row of a local-checkpointed RDD, placed
  * on partition `shard % numPartitions` ([[ShardPlacement]]), so an executor
  * only ever holds the shards of its own partitions (~12 MB each at 1024
  * shards) and nothing driver-side grows with the URL count. Filter bytes
  * never cross the wire:
  *
  *  - [[putKeys]] zips placed keys with their shards and puts them into a
  *    copy of each shard where it lives (stored rows are never mutated);
  *    keys not placed yet move to their shard's partition first;
  *  - a probe ([[UrlSeen.flagSharded]]) zips placed candidates with their
  *    shards the same way.
  *
  * Same sizing and sharding as [[PartitionedBloom]], so for the same keys a
  * shard holds the same bits. Not thread-safe: one crawl loop drives it.
  */
final class BloomTable(sc: SparkContext, nShards: Int, expectedTotal: Long, fpp: Double,
    numPartitions: Int) {
  val placement: ShardPlacement = BloomTable.placement(nShards, numPartitions)
  private var rows: RDD[BloomShard] = BloomTable.empty(sc, placement, expectedTotal, fpp)
  private var keys = 0L

  /** Keys put so far (duplicates included). */
  def size: Long = keys

  /** The current shard rows: stored once anything was put. */
  def shards: RDD[BloomShard] = rows

  /** Put `hashes`, in one job that also stores the grown shards (and
    * `hashes` when they are held); returns how many were put. Hashes placed
    * by [[placement]] are not moved. All or none: throws before the table
    * would hold more than `expectedTotal` keys, like
    * [[PartitionedBloom.putAll]], and keeps the shards it had.
    */
  def putKeys(hashes: RDD[Long]): Long = {
    val next = BloomTable.grow(rows, UrlSeen.place(hashes, placement), placement.nShards,
      expectedTotal, fpp)
    next.localCheckpoint()
    val total = sc.runJob(next, (it: Iterator[BloomShard]) => it.map(_.keys).sum).sum
    if (total > expectedTotal) {
      GraftRows.release(next)
      throw BloomTable.overfull(expectedTotal, total)
    }
    GraftRows.release(rows)
    rows = next
    val n = total - keys
    keys = total
    n
  }
}

object BloomTable {

  /** One empty shard of a filter sized for `expectedTotal` keys at `fpp`. */
  private[frontier] def emptyShard(expectedTotal: Long, nShards: Int, fpp: Double): BloomFilter =
    BloomFilter.create(math.max(64L, expectedTotal / nShards), fpp)

  def shardOf(hash: Long, nShards: Int): Int =
    (((hash % nShards) + nShards) % nShards).toInt

  /** A filter sized for `capacity` keys was asked to hold `total`: past its
    * sizing the false-positive rate climbs, so the crawl must be sized
    * larger, never go on degraded.
    */
  private[frontier] def overfull(capacity: Long, total: Long): IllegalStateException =
    new IllegalStateException(s"URL-seen Bloom filter sized for $capacity " +
      s"keys would hold $total: raise bloomExpected")

  /** Shards spread over at most `partitions` partitions. */
  def placement(nShards: Int, partitions: Int): ShardPlacement =
    ShardPlacement(nShards, math.min(nShards, partitions))

  /** Shards holding `hashes` (placed by `placement`), built where they
    * are; not stored.
    */
  def build(hashes: RDD[Long], placement: ShardPlacement, expectedTotal: Long,
      fpp: Double): RDD[BloomShard] =
    grow(empty(hashes.sparkContext, placement, expectedTotal, fpp), hashes, placement.nShards,
      expectedTotal, fpp)

  /** Empty shards, each on its placed partition (not stored: cheap to make). */
  private def empty(sc: SparkContext, placement: ShardPlacement, expectedTotal: Long,
      fpp: Double): RDD[BloomShard] = {
    val np = placement.numPartitions
    val nShards = placement.nShards
    sc.parallelize(0 until np, np).flatMap { p =>
      (p until nShards by np).map(s => BloomShard(s, 0L, emptyShard(expectedTotal, nShards, fpp)))
    }
  }

  /** `shards` with `hashes` put in, each into a copy of its shard where it
    * lives (its bits merged into an empty shard made alike): `hashes` are
    * placed as the shards are.
    */
  private def grow(shards: RDD[BloomShard], hashes: RDD[Long], nShards: Int,
      expectedTotal: Long, fpp: Double): RDD[BloomShard] =
    hashes.zipPartitions(shards) { (hs, olds) =>
      val mine = olds.map(s => s.shard ->
        s.copy(bloom = emptyShard(expectedTotal, nShards, fpp).mergeInPlace(s.bloom))).toMap
      val added = new Array[Long](nShards)
      hs.foreach { h =>
        val s = shardOf(h, nShards)
        mine(s).bloom.putLong(h)
        added(s) += 1
      }
      mine.valuesIterator.map(s => s.copy(keys = s.keys + added(s.shard)))
    }
}

object UrlSeen {

  /** A candidate row keyed by its url hash, with its Bloom probe result
    * (true = maybe seen).
    */
  type Flagged = (Long, (InternalRow, Boolean))

  /** `keys` placed by `placement`: no move when they are already. */
  def place(keys: RDD[Long], placement: ShardPlacement): RDD[Long] =
    if (keys.partitioner.contains(placement)) keys
    else keys.map(h => (h, ())).partitionBy(placement)
      .mapPartitions(_.map(_._1), preservesPartitioning = true)

  /** The hash at field `at` of every row, kept where the row is. */
  def keysOf(rows: RDD[InternalRow], at: Int): RDD[Long] =
    rows.mapPartitions(_.map(_.getLong(at)), preservesPartitioning = true)

  /** Broadcast-regime probe: every candidate against the broadcast filter,
    * row-locally (no shuffle; the candidates keep their placement).
    */
  def flag(candidates: RDD[(Long, InternalRow)], bloom: PartitionedBloom): RDD[Flagged] = {
    val bc = candidates.sparkContext.broadcast(bloom)
    candidates.mapPartitions(_.map { case (h, r) => (h, (r, bc.value.mightContain(h))) },
      preservesPartitioning = true)
  }

  /** Sharded-regime probe: candidates placed by `placement` are probed
    * against the shards of their own partition; nothing moves, so executor
    * residency is O(shards/executor), never O(filter).
    */
  def flagSharded(candidates: RDD[(Long, InternalRow)], shards: RDD[BloomShard],
      placement: ShardPlacement): RDD[Flagged] =
    candidates.zipPartitions(shards, preservesPartitioning = true) { (cands, own) =>
      val bloom = own.map(s => s.shard -> s.bloom).toMap
      cands.map { case (h, r) =>
        (h, (r, bloom(BloomTable.shardOf(h, placement.nShards)).mightContainLong(h))) }
    }

  /** The rows of `flagged` whose key is NOT in `seen` — exactly, in one
    * partition-local pass: both are placed by the same partitioner, so each
    * candidate partition reads only its own partition of the seen keys.
    * Bloom-negative rows are definitely unseen and pass; the Bloom-positive
    * ones (rare: FPP + true duplicates) are checked, and the seen partition
    * is scanned only when it has any. Keeps the placement.
    */
  def exact(flagged: RDD[Flagged], seen: RDD[Long]): RDD[InternalRow] = {
    require(flagged.partitioner.isDefined && flagged.partitioner == seen.partitioner,
      s"candidates (${flagged.partitioner}) and seen keys (${seen.partitioner}) " +
        "must be placed alike")
    flagged.zipPartitions(seen, preservesPartitioning = true) { (cands, seenKeys) =>
      val maybe = scala.collection.mutable.ArrayBuffer.empty[(Long, InternalRow)]
      val unseen = cands.flatMap { case (h, (r, m)) =>
        if (m) { maybe += ((h, r)); None } else Some(r) }
      unseen ++ {
        val wanted = scala.collection.mutable.HashSet.empty[Long] ++= maybe.map(_._1)
        if (wanted.nonEmpty) seenKeys.foreach(wanted -= _)
        maybe.iterator.collect { case (h, r) if wanted(h) => r }
      }
    }
  }

  /** DataFrame form of the sharded-regime filter: the rows of `candidates`
    * (which carry `url_hash`) whose key is not in `seen`. The shards are
    * built from `seen` for this query and not stored.
    */
  def filterUnseenSharded(candidates: DataFrame, seen: DataFrame, nShards: Int,
      expectedTotal: Long, fpp: Double): DataFrame = {
    val spark = candidates.sparkSession
    val placement = BloomTable.placement(nShards,
      spark.conf.get("spark.sql.shuffle.partitions", "32").toInt)
    val seenKeys = place(keysOf(GraftRows.rows(seen.select(col("url_hash"))), 0), placement)
    val shards = BloomTable.build(seenKeys, placement, expectedTotal, fpp)
    val at = candidates.schema.fieldIndex("url_hash")
    val cands = GraftRows.rows(candidates).map(r => (r.getLong(at), r.copy()))
      .partitionBy(placement)
    GraftRows.scan(spark, Seq(exact(flagSharded(cands, shards, placement), seenKeys)),
      candidates.schema)
  }
}
