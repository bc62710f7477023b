package graft.frontier

import org.apache.spark.{Partitioner, SparkContext}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, GraftRows}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.functions._
import org.apache.spark.util.sketch.BloomFilter

/** One shard of the URL-seen Bloom: its id, the keys put into it
  * (duplicates included) and its filter.
  */
final case class BloomShard(shard: Int, keys: Long, bloom: BloomFilter)

/** Places a url hash on the partition that holds its Bloom shard
  * (`shard % numPartitions`). It is the one placement of every URL-seen row
  * set — seen keys, candidates, new keys and shard rows — and each keeps
  * it, so a check or put reads its own partition and moves nothing.
  */
final case class ShardPlacement(nShards: Int, numPartitions: Int) extends Partitioner {
  def getPartition(key: Any): Int =
    BloomTable.shardOf(key.asInstanceOf[Long], nShards) % numPartitions
}

/** The URL-seen Bloom as shard ROWS — the crawl's one residency, which
  * carries to 10^10 keys. Each shard is one row of a local-checkpointed RDD,
  * placed on partition `shard % numPartitions` ([[ShardPlacement]]), so an
  * executor only ever holds the shards of its own partitions (~12 MB each
  * at 1024 shards). Filter bytes never cross the wire:
  *
  *  - the table starts from the `entry` keys (moved to `placement` unless
  *    placed by it). Their shards are stored lazily: the first job that
  *    probes or grows them builds them where they live, so the entry costs
  *    no job of its own;
  *  - [[putKeys]] zips placed keys with their shards and puts them into a
  *    copy of each shard where it lives (stored rows are never mutated);
  *    keys not placed yet move to their shard's partition first;
  *  - a probe ([[UrlSeen.flagSharded]]) zips placed candidates with their
  *    shards the same way.
  *
  * `entryKeys` is the count of `entry` (its caller counts it in a pass it
  * makes anyway). Sized for `expectedTotal` keys: the table throws
  * ([[BloomTable.overfull]]) before it would hold more, at construction or
  * at a put. Not thread-safe: one crawl loop drives it.
  */
final class BloomTable(entry: RDD[Long], entryKeys: Long, placement: ShardPlacement,
    expectedTotal: Long, fpp: Double) {
  if (entryKeys > expectedTotal) throw BloomTable.overfull(expectedTotal, entryKeys)
  private var rows: RDD[BloomShard] = BloomTable.build(entry, placement, expectedTotal, fpp)
  rows.localCheckpoint()
  private var keys = entryKeys

  /** Keys put so far (duplicates included). */
  def size: Long = keys

  /** The current shard rows: stored by the first job that reads them. */
  def shards: RDD[BloomShard] = rows

  /** Put `hashes`, in one job that also stores the grown shards (and
    * `hashes` when they are held); returns how many were put. Hashes placed
    * by `placement` are not moved. All or none: throws before the table
    * would hold more than `expectedTotal` keys, and keeps the shards it had.
    */
  def putKeys(hashes: RDD[Long]): Long = {
    val next = BloomTable.grow(rows, UrlSeen.place(hashes, placement), placement.nShards,
      expectedTotal, fpp)
    next.localCheckpoint()
    val total = hashes.sparkContext.runJob(next,
      (it: Iterator[BloomShard]) => it.map(_.keys).sum).sum
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
  private def emptyShard(expectedTotal: Long, nShards: Int, fpp: Double): BloomFilter =
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

  /** Shards holding `hashes` (moved to `placement` unless placed by it),
    * built where they are; not stored.
    */
  def build(hashes: RDD[Long], placement: ShardPlacement, expectedTotal: Long,
      fpp: Double): RDD[BloomShard] =
    grow(empty(hashes.sparkContext, placement, expectedTotal, fpp),
      UrlSeen.place(hashes, placement), placement.nShards, expectedTotal, fpp)

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
  * touches only the shards of its own partition. The filter therefore
  * lives only as shard rows ([[BloomTable]]), at every size: nothing on the
  * driver grows with the URL count.
  */
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

  /** The Bloom probe: candidates placed by `placement` are probed against
    * the shards of their own partition; nothing moves, so executor
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

  /** DataFrame form of the filter: the rows of `candidates`
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
