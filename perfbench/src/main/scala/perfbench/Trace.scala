package perfbench

import org.apache.spark.PerfbenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.util.QueryExecutionListener

import java.lang.management.{ManagementFactory, MemoryType}
import javax.management.{NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData
import com.sun.management.GarbageCollectionNotificationInfo

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

/** What one traced span did: wall time plus the Spark work inside it. */
final case class SpanStats(
    wallS: Double, jobs: Long, stages: Long, tasks: Long, taskS: Double, gcS: Double,
    shuffleReadMb: Double, shuffleWriteMb: Double, spillMb: Double,
    driverOnlyS: Double, exchanges: Long)

/** The traced run's instruments: a SparkListener for jobs, stages and task
  * metrics, and a QueryExecutionListener that counts shuffle exchanges in
  * every executed plan. `span` drains the listener bus on both sides, so
  * everything it reports was delivered for work started inside the span.
  */
final class Tracer(spark: SparkSession) {
  private val sc = spark.sparkContext

  private object Tasks extends SparkListener {
    var jobs, stages, tasks, runMs, gcMs, readB, writeB, spillB = 0L
    val intervals = ArrayBuffer.empty[(Long, Long)]
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized { jobs += 1 }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      synchronized { stages += 1 }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      tasks += 1
      intervals += ((e.taskInfo.launchTime, e.taskInfo.finishTime))
      val m = e.taskMetrics
      if (m != null) {
        runMs += m.executorRunTime
        gcMs += m.jvmGCTime
        readB += m.shuffleReadMetrics.totalBytesRead
        writeB += m.shuffleWriteMetrics.bytesWritten
        spillB += m.diskBytesSpilled
      }
    }
    def reset(): Unit = synchronized {
      jobs = 0; stages = 0; tasks = 0; runMs = 0; gcMs = 0; readB = 0; writeB = 0; spillB = 0
      intervals.clear()
    }
  }

  private object Queries extends QueryExecutionListener with AdaptiveSparkPlanHelper {
    var exchanges = 0L
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val n = collectWithSubqueries(qe.executedPlan) { case e: ShuffleExchangeLike => e }.size
      synchronized { exchanges += n }
    }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    def reset(): Unit = synchronized { exchanges = 0 }
  }

  def attach(): Unit = {
    sc.addSparkListener(Tasks)
    spark.listenerManager.register(Queries)
  }

  def detach(): Unit = {
    PerfbenchBus.drain(sc)
    sc.removeSparkListener(Tasks)
    spark.listenerManager.unregister(Queries)
  }

  /** Run `body` as one span and report its wall time and Spark work. */
  def span[T](body: => T): (T, SpanStats) = {
    PerfbenchBus.drain(sc)
    Tasks.reset(); Queries.reset()
    val t0 = System.currentTimeMillis()
    val n0 = System.nanoTime()
    val out = body
    val wall = (System.nanoTime() - n0) / 1e9
    val t1 = System.currentTimeMillis()
    PerfbenchBus.drain(sc)
    val stats = Tasks.synchronized {
      Queries.synchronized {
        SpanStats(wall, Tasks.jobs, Tasks.stages, Tasks.tasks, Tasks.runMs / 1e3,
          Tasks.gcMs / 1e3, Tasks.readB / 1e6, Tasks.writeB / 1e6, Tasks.spillB / 1e6,
          math.max(0.0, (t1 - t0 - covered(Tasks.intervals.toSeq, t0, t1)) / 1e3),
          Queries.exchanges)
      }
    }
    (out, stats)
  }

  /** Milliseconds of [t0, t1] during which at least one task was running. */
  private def covered(intervals: Seq[(Long, Long)], t0: Long, t1: Long): Long = {
    var total = 0L
    var end = t0
    intervals.map { case (a, b) => (math.max(a, t0), math.min(b, t1)) }
      .filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
        if (b > end) { total += b - math.max(a, end); end = b }
      }
    total
  }
}

/** Largest heap occupancy right after a GC, from the collectors' own
  * notifications, over the stretches between `watch(true)` and
  * `watch(false)` since the last `start()`.
  */
object HeapWatch {
  @volatile private var watching = false
  @volatile private var peakBytes = 0L
  private lazy val heapPools: Set[String] = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet

  private val listener: NotificationListener = (n, _) =>
    if (watching && n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
      val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
      val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
        .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
      HeapWatch.synchronized { if (used > peakBytes) peakBytes = used }
    }

  def install(): Unit = ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
    case e: NotificationEmitter => e.addNotificationListener(listener, null, null)
    case _ =>
  }

  def start(): Unit = { peakBytes = 0L; watching = false }

  def watch(on: Boolean): Unit = watching = on

  /** Stop watching; the peak in MB, or None if no collection was seen. */
  def stop(): Option[Double] = {
    watching = false
    if (peakBytes > 0L) Some(peakBytes / 1e6) else None
  }
}

/** Let the JVM settle before a timed region: a full GC, then wait until the
  * JIT compiler queue has drained (less than 10% of wall time spent
  * compiling over a 250 ms window), for at most `maxSeconds`. Compilations
  * left over from the warm-up otherwise run during the timed operations and
  * compete with them for the cores. Returns the seconds waited.
  */
object Quiesce {
  def settle(maxSeconds: Double = 8.0): Double = {
    val t0 = System.nanoTime()
    System.gc()
    val jit = ManagementFactory.getCompilationMXBean
    var last = jit.getTotalCompilationTime
    var quiet = false
    while (!quiet && (System.nanoTime() - t0) / 1e9 < maxSeconds) {
      Thread.sleep(250)
      val now = jit.getTotalCompilationTime
      quiet = now - last < 25
      last = now
    }
    (System.nanoTime() - t0) / 1e9
  }
}

/** Whole-process JVM counters from the platform MXBeans. */
object Jvm {
  def gcS: Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime max 0L).sum / 1e3
  def jitS: Double = ManagementFactory.getCompilationMXBean.getTotalCompilationTime / 1e3
  def codeCacheMb: Double = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(p => p.getType == MemoryType.NON_HEAP &&
      (p.getName.startsWith("CodeHeap") || p.getName == "Code Cache"))
    .map(_.getUsage.getUsed).sum / 1e6
  def maxHeapMb: Double = Runtime.getRuntime.maxMemory / 1e6
}
