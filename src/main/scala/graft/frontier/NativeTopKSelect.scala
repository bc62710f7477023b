package graft.frontier

import org.apache.spark.sql.{DataFrame, GraftColumn}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** One selection candidate held inside the native aggregation buffer. Strings
  * stay [[UTF8String]] end-to-end (cloned out of the input row's shared
  * buffer; emitted verbatim into the output array) — they are never converted
  * to Java strings at any point of the aggregation.
  */
private[graft] final class NativeCand(
    val url: UTF8String, val urlHash: Long, val host: UTF8String,
    val depth: Int, val priority: Double, val retries: Int,
    val discoveredWave: Int, val discoveredRank: Long,
    val parentUrl: UTF8String)

/** Mutable native top-k buffer: an array-backed binary heap with the WORST
  * candidate at the root, so a full buffer evicts in O(log k). The order is
  * priority desc, then (discoveredWave, discoveredRank, urlHash) asc — the
  * frontier order of [[WaveSelector]], total because urlHash is unique — unrolled so
  * the accept/reject decision needs only four primitives (see
  * [[TopKSelectNative.update]]).
  */
private[graft] final class NativeTopKBuf(var k: Long, var n: Int,
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

  /** Merge `b` in: both must hold candidates of one host, so their budgets
    * agree (or one buffer is still unset).
    */
  def merge(b: NativeTopKBuf): NativeTopKBuf = {
    if (k == TopKSelectNative.UnsetK) k = b.k
    else require(b.k == TopKSelectNative.UnsetK || b.k == k,
      s"TopKSelectNative requires a constant per-host budget (the " +
        s"aggregation key is host): merged buffers carry budgets $k and ${b.k}")
    if (k > 0) { var i = 0; while (i < b.n) { insert(b.items(i)); i += 1 } }
    this
  }

  /** The top `k` candidates, best first. */
  def sorted: Array[NativeCand] = {
    val out = java.util.Arrays.copyOfRange(items, 0, n)
    java.util.Arrays.sort(out, (a: NativeCand, b: NativeCand) =>
      cmp(a.priority, a.discoveredWave, a.discoveredRank, a.urlHash, b))
    out.take(math.min(math.max(k, 0L), n.toLong).toInt)
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

  /** An empty buffer of budget `k` ([[TopKSelectNative.UnsetK]]: not known yet). */
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

/** The batch selector as a NATIVE Catalyst [[TypedImperativeAggregate]], for
  * DataFrame queries (`q_frontier_select`, `q_frontier_select_native`): exact
  * per-host top-`budget` selection, partial-aggregating: each input
  * partition reduces to a bounded per-host heap map-side, so the selection
  * shuffle moves O(hostsPerPartition × budget) buffers — never O(pending),
  * which a ranked window would shuffle. A hot host (10^6 pending URLs on one
  * domain) therefore needs no salting: its final merge combines ≤ P bounded
  * buffers, not its raw rows. The crawl runs the same heaps, their merge,
  * sorted output and byte image ([[NativeTopKBuf]]) as row code
  * ([[WaveSelector.select]]).
  *
  *   - `update` reads the four ordering primitives straight off the
  *     [[InternalRow]], asks the heap [[NativeTopKBuf.accepts]], and only
  *     materializes the three strings for ACCEPTED rows. In the
  *     politeness-real regime (budget ≪ pending) almost every row takes the
  *     zero-allocation reject path.
  *   - buffer serialization (once per host per map partition, on the
  *     shuffle) is a flat length-prefixed byte image, not an encoder pass.
  *
  * REQUIRES `budget` constant per host (the crawl's budget derives from the
  * host-level crawl delay, [[Robots.waveBudget]], and the aggregation key is
  * the host). The contract is ENFORCED in
  * `update` and `merge`: per-row budgets fail with an
  * IllegalArgumentException naming the host, not a silently mis-sized batch.
  *
  * Semantics (order, tiebreaks, constant-budget contract, k=0, overflow
  * growth) are pinned equal to a sorted per-host top-k restated in Scala by
  * FrontierSpec's property tests, and to the ranked-window SQL by the
  * `q_frontier_select` DuckDB oracle.
  */
final case class TopKSelectNative(
    url: Expression, urlHash: Expression, host: Expression, depth: Expression,
    priority: Expression, retries: Expression, discoveredWave: Expression,
    discoveredRank: Expression, parentUrl: Expression, budget: Expression,
    mutableAggBufferOffset: Int = 0, inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[NativeTopKBuf] {

  override def children: Seq[Expression] = Seq(url, urlHash, host, depth,
    priority, retries, discoveredWave, discoveredRank, parentUrl, budget)

  // input types are exact by construction ([[select]] feeds the frontier
  // columns); type-coercion traits (ImplicitCastInputTypes) are private[sql]
  // and unnecessary here
  override def nullable: Boolean = false

  override val dataType: DataType = ArrayType(StructType(Seq(
    StructField("url", StringType), StructField("urlHash", LongType),
    StructField("host", StringType), StructField("depth", IntegerType),
    StructField("priority", DoubleType), StructField("retries", IntegerType),
    StructField("discoveredWave", IntegerType),
    StructField("discoveredRank", LongType),
    StructField("parentUrl", StringType))), containsNull = false)

  override def createAggregationBuffer(): NativeTopKBuf =
    NativeTopKBuf.empty(TopKSelectNative.UnsetK)

  override def update(buf: NativeTopKBuf, input: InternalRow): NativeTopKBuf = {
    val b = budget.eval(input).asInstanceOf[Long]
    if (buf.k == TopKSelectNative.UnsetK) buf.k = b
    else require(b == buf.k,
      s"TopKSelectNative requires a constant per-host budget (the " +
        s"aggregation key is host): host ${host.eval(input)} carries " +
        s"budgets ${buf.k} and $b")
    if (buf.k <= 0) return buf
    val pri  = priority.eval(input).asInstanceOf[Double]
    val wave = discoveredWave.eval(input).asInstanceOf[Int]
    val rank = discoveredRank.eval(input).asInstanceOf[Long]
    val hash = urlHash.eval(input).asInstanceOf[Long]
    if (!buf.accepts(pri, wave, rank, hash)) return buf // zero-alloc reject
    buf.insert(new NativeCand(
      url.eval(input).asInstanceOf[UTF8String].clone(), hash,
      host.eval(input).asInstanceOf[UTF8String].clone(),
      depth.eval(input).asInstanceOf[Int], pri,
      retries.eval(input).asInstanceOf[Int], wave, rank,
      parentUrl.eval(input).asInstanceOf[UTF8String].clone()))
    buf
  }

  override def merge(a: NativeTopKBuf, b: NativeTopKBuf): NativeTopKBuf = a.merge(b)

  override def eval(buf: NativeTopKBuf): Any =
    new GenericArrayData(buf.sorted.map { c =>
      new GenericInternalRow(Array[Any](c.url, c.urlHash, c.host, c.depth,
        c.priority, c.retries, c.discoveredWave, c.discoveredRank, c.parentUrl)): Any
    })

  override def serialize(buf: NativeTopKBuf): Array[Byte] = buf.toBytes

  override def deserialize(bytes: Array[Byte]): NativeTopKBuf = NativeTopKBuf.fromBytes(bytes)

  override def withNewMutableAggBufferOffset(newOffset: Int): TopKSelectNative =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): TopKSelectNative =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): TopKSelectNative =
    copy(url = newChildren(0), urlHash = newChildren(1), host = newChildren(2),
      depth = newChildren(3), priority = newChildren(4),
      retries = newChildren(5), discoveredWave = newChildren(6),
      discoveredRank = newChildren(7), parentUrl = newChildren(8),
      budget = newChildren(9))
}

object TopKSelectNative {

  /** Sentinel budget of a buffer that has not yet absorbed a row (budgets
    * from [[Robots.waveBudget]] are ≥ 1, so -1 is unreachable as data).
    */
  val UnsetK: Long = -1L

  /** Each host's top `budget` rows of `pending` via the native aggregate:
    * the candidate columns (minus `budget`) plus `host_rank`, the 0-based intra-host fetch
    * position. `pending` must carry the url, urlHash, host, depth, priority,
    * retries, discoveredWave, discoveredRank, parentUrl and budget columns.
    */
  def select(pending: DataFrame): DataFrame = {
    val e = GraftColumn.expr _
    val topk = TopKSelectNative(e(col("url")), e(col("urlHash")),
      e(col("host")), e(col("depth")), e(col("priority")), e(col("retries")),
      e(col("discoveredWave")), e(col("discoveredRank")), e(col("parentUrl")),
      e(col("budget")))
    pending
      .groupBy(col("host"))
      .agg(GraftColumn(topk.toAggregateExpression()).as("sel"))
      .select(col("host"), posexplode(col("sel")).as(Seq("host_rank", "c")))
      .select(col("c.url"), col("c.urlHash"), col("host"), col("c.depth"),
        col("c.priority"), col("c.retries"), col("c.discoveredWave"),
        col("c.discoveredRank"), col("c.parentUrl"),
        col("host_rank").cast("long").as("host_rank"))
  }
}
