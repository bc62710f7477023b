package graft.frontier

import graft.model.{FrontierStatus, RobotsRule}

import org.apache.spark.HashPartitioner
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{GenericInternalRow, UnsafeProjection}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import scala.jdk.CollectionConverters._

/** One selection candidate held in a [[NativeTopKBuf]] heap. Strings stay
  * [[UTF8String]] end-to-end (cloned out of the input row's shared buffer;
  * emitted verbatim into the batch row) — they are never converted to Java
  * strings.
  */
private[graft] final class NativeCand(
    val url: UTF8String, val urlHash: Long, val host: UTF8String,
    val depth: Int, val priority: Double, val retries: Int,
    val discoveredWave: Int, val discoveredRank: Long,
    val parentUrl: UTF8String)

/** Mutable per-host top-`k` heap: an array-backed binary heap with the WORST
  * candidate at the root, so a full heap evicts in O(log k). The order is
  * priority desc, then (discoveredWave, discoveredRank, urlHash) asc — the
  * frontier order of [[WaveSelector]], total because urlHash is unique —
  * unrolled so the accept/reject decision needs only four primitives
  * ([[accepts]]). A heap is made with its budget `k` ≥ 1
  * ([[Robots.waveBudget]]).
  */
private[graft] final class NativeTopKBuf(val k: Long, var n: Int,
    var items: Array[NativeCand]) {

  /** Candidate order: priority desc, then (wave, rank, urlHash) asc. */
  private def cmp(aP: Double, aW: Int, aR: Long, aH: Long, b: NativeCand): Int = {
    var c = java.lang.Double.compare(b.priority, aP)
    if (c != 0) return c
    c = Integer.compare(aW, b.discoveredWave)
    if (c != 0) return c
    c = java.lang.Long.compare(aR, b.discoveredRank)
    if (c != 0) return c
    java.lang.Long.compare(aH, b.urlHash)
  }
  private def worse(i: Int, j: Int): Boolean = {
    val a = items(i)
    cmp(a.priority, a.discoveredWave, a.discoveredRank, a.urlHash, items(j)) > 0
  }
  private def swap(i: Int, j: Int): Unit = {
    val t = items(i); items(i) = items(j); items(j) = t
  }
  private def siftUp(i0: Int): Unit = {
    var i = i0
    while (i > 0 && worse(i, (i - 1) >> 1)) { swap(i, (i - 1) >> 1); i = (i - 1) >> 1 }
  }
  private def siftDown(): Unit = {
    var i = 0
    var cont = true
    while (cont) {
      val l = 2 * i + 1
      val r = l + 1
      var w = i
      if (l < n && worse(l, w)) w = l
      if (r < n && worse(r, w)) w = r
      if (w == i) cont = false else { swap(i, w); i = w }
    }
  }

  /** True iff a candidate with these ordering fields belongs in the buffer —
    * callable BEFORE materializing its strings.
    */
  def accepts(pri: Double, wave: Int, rank: Long, hash: Long): Boolean =
    n < k || cmp(pri, wave, rank, hash, items(0)) < 0

  def insert(c: NativeCand): Unit = {
    if (n < k) {
      if (n == items.length) {
        val cap = math.min(math.max(16L, k), 1L + items.length * 2L).toInt
        items = java.util.Arrays.copyOf(items, cap)
      }
      items(n) = c
      n += 1
      siftUp(n - 1)
    } else if (cmp(c.priority, c.discoveredWave, c.discoveredRank, c.urlHash,
        items(0)) < 0) {
      items(0) = c
      siftDown()
    }
  }

  /** Merge `b` in: another heap of candidates of the same host. */
  def merge(b: NativeTopKBuf): NativeTopKBuf = {
    var i = 0
    while (i < b.n) { insert(b.items(i)); i += 1 }
    this
  }

  /** The held candidates (at most `k`), best first. */
  def sorted: Array[NativeCand] = {
    val out = java.util.Arrays.copyOfRange(items, 0, n)
    java.util.Arrays.sort(out, (a: NativeCand, b: NativeCand) =>
      cmp(a.priority, a.discoveredWave, a.discoveredRank, a.urlHash, b))
    out
  }

  /** The buffer as a flat length-prefixed byte image (the shuffle format). */
  def toBytes: Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    val out = new java.io.DataOutputStream(bos)
    def str(s: UTF8String): Unit = {
      val b = s.getBytes
      out.writeInt(b.length)
      out.write(b)
    }
    out.writeLong(k)
    out.writeInt(n)
    var i = 0
    while (i < n) {
      val c = items(i)
      str(c.url)
      out.writeLong(c.urlHash)
      str(c.host)
      out.writeInt(c.depth)
      out.writeDouble(c.priority)
      out.writeInt(c.retries)
      out.writeInt(c.discoveredWave)
      out.writeLong(c.discoveredRank)
      str(c.parentUrl)
      i += 1
    }
    out.flush()
    bos.toByteArray
  }
}

private[graft] object NativeTopKBuf {

  /** An empty heap of budget `k`. */
  def empty(k: Long): NativeTopKBuf = new NativeTopKBuf(k, 0, new Array[NativeCand](16))

  /** The buffer [[NativeTopKBuf.toBytes]] wrote. */
  def fromBytes(bytes: Array[Byte]): NativeTopKBuf = {
    val in = new java.io.DataInputStream(new java.io.ByteArrayInputStream(bytes))
    val k = in.readLong()
    val n = in.readInt()
    def str(): UTF8String = {
      val b = new Array[Byte](in.readInt())
      in.readFully(b)
      UTF8String.fromBytes(b)
    }
    val items = new Array[NativeCand](math.max(n, 16))
    var i = 0
    while (i < n) {
      items(i) = new NativeCand(str(), in.readLong(), str(), in.readInt(),
        in.readDouble(), in.readInt(), in.readInt(), in.readLong(), str())
      i += 1
    }
    // items arrived in heap order from toBytes — heap property preserved
    new NativeTopKBuf(k, n, items)
  }
}

/** Fetch priority and the batch selector of the crawl frontier (SURVEY.md
  * §2.8 G5/G6, §2.5 W4).
  *
  * Priority reproduces the reference's fetch discipline (index pages before
  * profiles, index-document order within a host — reference `scraper.py:43-63`)
  * while adding the north rule's components (depth, domain whitelist,
  * profile-page URL-shape heuristic). Ties beyond priority break on
  * (discoveredWave, discoveredRank, urlHash) — urlHash is unique, so the
  * order is total and selection is reproducible run-to-run, which is what
  * makes the committed crawl ordering comparable to the sequential oracle.
  * [[select]] takes each host's top `budget` rows in that order with a
  * per-host [[NativeTopKBuf]] heap, as row code: the crawl's waves and the
  * `q_frontier_select` query both run it.
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

  private val PendingUtf8 = UTF8String.fromString(FrontierStatus.Pending)

  /** The fields of a batch row: the frontier row's, less its status, plus
    * `host_rank`, the 0-based fetch position within its host.
    */
  val BatchSchema: StructType = StructType.fromDDL(
    "url string, urlHash long, host string, depth int, priority double, retries int, " +
      "discoveredWave int, discoveredRank long, parentUrl string, host_rank long")

  /** A wave's batch: of the pending `frontier` rows with at most
    * `maxRetries` retries, each host's top `budget` rows that its robots
    * rule allows ([[Robots.allows]], [[Robots.waveBudget]]; a host with no
    * rule in `rules`, the crawl's merged rules keyed by host, allows all at
    * the default delay), as batch rows round-robined to `fetchPartitions`
    * partitions, so fetch parallelism follows the request count, not the
    * few selection partitions.
    *
    * Row code, no query plan: the stages run inside the job that consumes
    * the result. Every input partition reduces to a bounded heap per host,
    * and the heaps are merged by host over `heapPartitions` partitions, so
    * the shuffle moves O(hosts × budget) candidates, never O(pending) rows.
    */
  def select(frontier: RDD[InternalRow], rules: Broadcast[Map[String, RobotsRule]],
      waveSeconds: Double, maxRetries: Int, heapPartitions: Int,
      fetchPartitions: Int): RDD[InternalRow] = {
    // frontier row fields: url 0, urlHash 1, host 2, depth 3, priority 4,
    // status 5, retries 6, discoveredWave 7, discoveredRank 8, parentUrl 9
    val pending = frontier.filter(r => r.getUTF8String(5) == PendingUtf8 && r.getInt(6) <= maxRetries)
    pending.mapPartitions(hostHeaps(_, rules.value, waveSeconds).map {
        case (h, b) => (h, b.toBytes) })
      .partitionBy(new HashPartitioner(heapPartitions))
      .mapPartitions { parts =>
        val byHost = new java.util.HashMap[UTF8String, NativeTopKBuf]()
        parts.foreach { case (h, bytes) =>
          byHost.merge(h, NativeTopKBuf.fromBytes(bytes), (a, b) => a.merge(b)) }
        val toUnsafe = UnsafeProjection.create(BatchSchema)
        byHost.values.iterator.asScala.flatMap(_.sorted.iterator.zipWithIndex.map {
          case (c, rank) =>
            toUnsafe(new GenericInternalRow(Array[Any](c.url, c.urlHash, c.host, c.depth,
              c.priority, c.retries, c.discoveredWave, c.discoveredRank, c.parentUrl,
              rank.toLong))).copy(): InternalRow
        })
      }.repartition(fetchPartitions)
  }

  /** Per host of `rows` with an allowed row: a heap of the rows its rule in
    * `rules` allows, sized by its budget. A row is tested against the rule
    * before it enters the heap, and only when the heap would take it.
    */
  private def hostHeaps(rows: Iterator[InternalRow], rules: Map[String, RobotsRule],
      waveSeconds: Double): Iterator[(UTF8String, NativeTopKBuf)] = {
    final class Slot(val host: UTF8String, val buf: NativeTopKBuf, val deny: Seq[String])
    val slots = new java.util.HashMap[UTF8String, Slot]()
    rows.foreach { r =>
      val host = r.getUTF8String(2)
      var slot = slots.get(host)
      if (slot == null) {
        val rule = rules.get(host.toString)
        val delay = rule.fold(Robots.DefaultCrawlDelayS)(_.crawlDelayS)
        slot = new Slot(host.clone(), NativeTopKBuf.empty(Robots.waveBudget(waveSeconds, delay)),
          rule.fold(Seq.empty[String])(_.denyPrefixes))
        slots.put(slot.host, slot)
      }
      val pri  = r.getDouble(4)
      val wave = r.getInt(7)
      val rank = r.getLong(8)
      val hash = r.getLong(1)
      if (slot.buf.accepts(pri, wave, rank, hash) &&
          (slot.deny.isEmpty || Robots.allows(r.getUTF8String(0).toString, slot.deny)))
        slot.buf.insert(new NativeCand(r.getUTF8String(0).clone(), hash, slot.host,
          r.getInt(3), pri, r.getInt(6), wave, rank, r.getUTF8String(9).clone()))
    }
    slots.values.iterator.asScala.collect { case s if s.buf.n > 0 => (s.host, s.buf) }
  }
}
