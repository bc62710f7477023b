package graft.frontier

/** Cuckoo filter (Fan et al., "Cuckoo Filter: Practically Better Than
  * Bloom", CoNEXT 2014): bucketized partial-key cuckoo hashing, 4 slots per
  * bucket, 16-bit fingerprints. The north rule names "Bloom/Cuckoo" as the
  * URL-seen options; the cuckoo variant adds what a long-running frontier
  * eventually wants and Bloom cannot give — DELETION (e.g. retiring expired
  * robots-blocked entries or rolling off a TTL window) — at comparable space
  * (~18 bits/key here vs ~9.6 for Bloom@1% but with an order-of-magnitude
  * lower FPP: ε ≈ 8/2^16 ≈ 0.012% at 4 slots/16-bit fingerprints).
  *
  * Same exactness contract as the Bloom path: a cuckoo filter has false
  * positives but NO false negatives for inserted keys (up to capacity —
  * inserts fail loudly past ~95% load rather than dropping), so it is only
  * ever the cheap pre-filter; positives are rescued by the exact anti-join.
  *
  * Buckets are a power of two so the partial-key alternate index
  * `i2 = i1 XOR h(fp)` is closed under the mask (the property that makes
  * deletion and merging work without the original keys).
  */
final class CuckooFilter private (val nBuckets: Int) extends Serializable {
  import CuckooFilter._

  // 4 slots per bucket, 0 = empty (fingerprints are never 0)
  private val slots = new Array[Short](nBuckets * SlotsPerBucket)
  private var count = 0L

  def size: Long = count

  private def mask: Int = nBuckets - 1

  private def slotBase(bucket: Int): Int = bucket * SlotsPerBucket

  private def tryInsertAt(bucket: Int, fp: Short): Boolean = {
    val base = slotBase(bucket)
    var k = 0
    while (k < SlotsPerBucket) {
      if (slots(base + k) == 0) { slots(base + k) = fp; return true }
      k += 1
    }
    false
  }

  private def containsAt(bucket: Int, fp: Short): Boolean = {
    val base = slotBase(bucket)
    var k = 0
    while (k < SlotsPerBucket) {
      if (slots(base + k) == fp) return true
      k += 1
    }
    false
  }

  private def removeAt(bucket: Int, fp: Short): Boolean = {
    val base = slotBase(bucket)
    var k = 0
    while (k < SlotsPerBucket) {
      if (slots(base + k) == fp) { slots(base + k) = 0; return true }
      k += 1
    }
    false
  }

  /** Insert by raw fingerprint + one of its two buckets (enough information
    * to place, relocate, look up, and delete — the partial-key property).
    * Returns false if the filter is effectively full (max kicks exhausted) —
    * in which case the displacement chain is UNWOUND first, so the filter is
    * bit-identical to before the call: a failed insert can never turn a
    * previously-inserted key into a false negative (the no-false-negative
    * contract the exact-rescue design relies on — without the unwind, the
    * last displaced victim would be silently dropped, and a caller that
    * catches the failure and continues would carry a corrupted filter).
    */
  def insertFp(bucket: Int, fp: Short): Boolean = {
    val alt = altBucket(bucket, fp, mask)
    if (tryInsertAt(bucket, fp) || tryInsertAt(alt, fp)) { count += 1; return true }
    // relocate: kick a random-ish victim between its two buckets, recording
    // the chain (slot written, fingerprint written) for the failure unwind
    var b = if (((fp & 1): Int) == 0) bucket else alt
    var f = fp
    var kicks = 0
    val slotTrail = new Array[Int](MaxKicks)
    val fpTrail   = new Array[Short](MaxKicks)
    while (kicks < MaxKicks) {
      val base = slotBase(b)
      val victimSlot = base + (kicks & (SlotsPerBucket - 1))
      val victim = slots(victimSlot)
      slots(victimSlot) = f
      slotTrail(kicks) = victimSlot
      fpTrail(kicks) = f
      f = victim
      b = altBucket(b, f, mask)
      if (tryInsertAt(b, f)) { count += 1; return true }
      kicks += 1
    }
    // capacity exhausted: restore every displaced victim. Step i wrote
    // fpTrail(i) into slotTrail(i), displacing the value that step i+1 then
    // carried (the final carry is `f`); walking backwards puts each victim
    // home and squeezes the never-before-inserted `fp` back out.
    var i = kicks - 1
    while (i >= 0) {
      val victim = if (i == kicks - 1) f else fpTrail(i + 1)
      slots(slotTrail(i)) = victim
      i -= 1
    }
    false
  }

  def put(hash: Long): Boolean = insertFp(bucketOf(hash, mask), fingerprintOf(hash))

  def mightContain(hash: Long): Boolean = {
    val fp = fingerprintOf(hash)
    val b1 = bucketOf(hash, mask)
    containsAt(b1, fp) || containsAt(altBucket(b1, fp, mask), fp)
  }

  /** Remove one instance of the key; true if something was removed. Only
    * call for keys known inserted (deleting a never-inserted key can evict a
    * colliding entry — the documented cuckoo-filter contract).
    */
  def remove(hash: Long): Boolean = {
    val fp = fingerprintOf(hash)
    val b1 = bucketOf(hash, mask)
    val ok = removeAt(b1, fp) || removeAt(altBucket(b1, fp, mask), fp)
    if (ok) count -= 1
    ok
  }

  /** Merge another same-shape filter in: re-place every stored fingerprint
    * (its bucket index + fingerprint are sufficient — no original keys
    * needed). Throws if capacity is exhausted: a silent drop would break the
    * no-false-negative contract the exact-rescue design relies on.
    */
  def mergeInPlace(other: CuckooFilter): Unit = {
    require(other.nBuckets == nBuckets, "incompatible cuckoo sharding")
    var b = 0
    while (b < other.nBuckets) {
      val base = other.slotBase(b)
      var k = 0
      while (k < SlotsPerBucket) {
        val fp = other.slots(base + k)
        if (fp != 0 && !insertFp(b, fp))
          throw new IllegalStateException(
            s"cuckoo filter over capacity during merge (nBuckets=$nBuckets)")
        k += 1
      }
      b += 1
    }
  }
}

object CuckooFilter {
  val SlotsPerBucket = 4
  private val MaxKicks = 500

  /** Murmur3 finalizer: bucket and fingerprint must come from WELL-MIXED
    * bits — deriving them from raw low/high bits makes sequential keys share
    * fingerprints (observed: deletes became no-ops because colliding keys
    * held identical fingerprints in overlapping buckets).
    */
  private def mix(h: Long): Long = {
    var x = h
    x ^= x >>> 33; x *= 0xff51afd7ed558ccdL
    x ^= x >>> 33; x *= 0xc4ceb9fe1a85ec53L
    x ^= x >>> 33
    x
  }

  /** Sized for `expected` keys at ≤~95% load, buckets a power of two. */
  def create(expected: Long): CuckooFilter = {
    val needed  = math.max(8L, math.ceil(expected / (SlotsPerBucket * 0.95)).toLong)
    val buckets = java.lang.Long.highestOneBit(needed - 1) << 1 // next pow2
    new CuckooFilter(math.max(8L, buckets).toInt)
  }

  /** 16-bit fingerprint, never 0 (0 marks an empty slot). */
  def fingerprintOf(hash: Long): Short = {
    val f = (mix(hash) >>> 48).toShort
    if (f == 0) 1 else f
  }

  def bucketOf(hash: Long, mask: Int): Int = (mix(hash) & mask).toInt

  /** Alternate bucket via the partial-key XOR trick (closed under pow2). */
  def altBucket(bucket: Int, fp: Short, mask: Int): Int =
    (bucket ^ ((fp & 0xFFFF) * 0x5bd1e995)) & mask
}

/** Sharded wrapper mirroring [[PartitionedBloom]] — the drop-in cuckoo
  * option for the URL-seen pre-filter's broadcast regime
  * (`CrawlConfig.seenFilter = "cuckoo"`).
  */
final class PartitionedCuckoo(val nShards: Int, val shards: Array[CuckooFilter])
    extends SeenPreFilter {
  override def mergeWith(delta: SeenPreFilter): Unit = delta match {
    case c: PartitionedCuckoo => mergeInPlace(c)
    case other => throw new IllegalArgumentException(
      s"cannot merge ${other.getClass.getSimpleName} into PartitionedCuckoo")
  }
  def shardOf(hash: Long): Int = (((hash % nShards) + nShards) % nShards).toInt
  def mightContain(hash: Long): Boolean = shards(shardOf(hash)).mightContain(hash)
  override def put(hash: Long): Unit = {
    if (!shards(shardOf(hash)).put(hash))
      throw new IllegalStateException("cuckoo shard over capacity")
  }
  def remove(hash: Long): Boolean = shards(shardOf(hash)).remove(hash)
  def mergeInPlace(delta: PartitionedCuckoo): Unit = {
    require(delta.nShards == nShards, "incompatible cuckoo sharding")
    var i = 0
    while (i < nShards) { shards(i).mergeInPlace(delta.shards(i)); i += 1 }
  }
}

object PartitionedCuckoo {
  def empty(nShards: Int, expectedTotal: Long): PartitionedCuckoo =
    new PartitionedCuckoo(nShards,
      Array.fill(nShards)(CuckooFilter.create(
        math.max(64L, expectedTotal / nShards))))

  /** Distributed build: shard filters assembled per hash range, collected
    * (bounded by sizing, not URL count — broadcast-regime only), merged.
    */
  def build(hashes: org.apache.spark.sql.DataFrame, nShards: Int,
      expectedTotal: Long): PartitionedCuckoo =
    buildWithCount(hashes, nShards, expectedTotal)._1

  /** Like [[build]] but also returns the input row count, piggybacked on the
    * same job (mirrors PartitionedBloom.buildWithCount).
    */
  def buildWithCount(hashes: org.apache.spark.sql.DataFrame, nShards: Int,
      expectedTotal: Long): (PartitionedCuckoo, Long) = {
    val spark = hashes.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val perShard = math.max(64L, expectedTotal / nShards)
    val pc = empty(nShards, expectedTotal)
    val built = hashes.select(col("url_hash").cast("long")).as[Long]
      .groupByKey(h => (((h % nShards) + nShards) % nShards).toInt)
      .mapGroups { (shard, it) =>
        val cf = CuckooFilter.create(perShard)
        var n  = 0L
        it.foreach { h =>
          if (!cf.put(h))
            throw new IllegalStateException("cuckoo shard over capacity")
          n += 1
        }
        // serialized: CuckooFilter has no Catalyst encoder (it is plumbing,
        // not data); java-serialize the shard for the collect
        val bos = new java.io.ByteArrayOutputStream()
        val oos = new java.io.ObjectOutputStream(bos)
        oos.writeObject(cf); oos.close()
        (shard, bos.toByteArray, n)
      }
      .collect()
    built.foreach { case (shard, bytes, _) =>
      val ois = new java.io.ObjectInputStream(new java.io.ByteArrayInputStream(bytes))
      pc.shards(shard).mergeInPlace(ois.readObject().asInstanceOf[CuckooFilter])
    }
    (pc, built.map(_._3).sum)
  }
}
