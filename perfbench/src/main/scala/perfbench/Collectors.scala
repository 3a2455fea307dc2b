package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan, WholeStageCodegenExec, InputAdapter}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Outside-in collectors shared by every workload: a SparkListener, a
  * QueryExecutionListener and a StreamingQueryListener registered from
  * benchmark code, plus the JVM beans. They are registered around traced
  * ops only. Each callback records a span in the tracer, and the counters
  * accumulate until [[reset]]. */
final class Collectors(tracer: Tracer) {
  private val wallOffset = System.nanoTime() - System.currentTimeMillis() * 1000000L
  private def nanosOf(epochMs: Long): Long = epochMs * 1000000L + wallOffset

  // counters since the last reset (the listener-bus thread writes, the main thread reads)
  var jobs = 0L; var stages = 0L; var tasks = 0L
  var shuffleRead = 0L; var shuffleWrite = 0L; var spill = 0L
  var taskRunMs = 0L
  /** Worst stage's max/median task run time, over stages with ≥ 4 tasks. */
  var worstSkew = 1.0
  private val stageTaskMs = mutable.Map.empty[Int, mutable.ArrayBuffer[Long]]
  /** Executed plans of the queries that ran since the last reset. */
  val plans = mutable.ArrayBuffer.empty[(String, SparkPlan)]
  /** Streaming progress durations (component → ms) since the last reset. */
  val streamMs = mutable.Map.empty[String, Long].withDefaultValue(0L)

  def reset(): Unit = synchronized {
    jobs = 0; stages = 0; tasks = 0; shuffleRead = 0; shuffleWrite = 0; spill = 0
    taskRunMs = 0; worstSkew = 1.0; stageTaskMs.clear(); plans.clear(); streamMs.clear()
  }

  private val jobStart = mutable.Map.empty[Int, Long]

  val sparkListener: SparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Collectors.this.synchronized {
      jobs += 1
      jobStart(e.jobId) = nanosOf(e.time)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Collectors.this.synchronized {
      jobStart.remove(e.jobId).foreach(t0 => tracer.record("spark.job", t0, nanosOf(e.time)))
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Collectors.this.synchronized {
        stages += 1
        stageTaskMs.remove(e.stageInfo.stageId).foreach { ms =>
          if (ms.length >= 4) {
            val sorted = ms.sorted
            val med = math.max(sorted(sorted.length / 2), 1L)
            worstSkew = math.max(worstSkew, sorted.last.toDouble / med)
          }
        }
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Collectors.this.synchronized {
      tasks += 1
      val m = e.taskMetrics
      if (m != null) {
        shuffleRead += m.shuffleReadMetrics.totalBytesRead
        shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        spill += m.memoryBytesSpilled + m.diskBytesSpilled
        taskRunMs += m.executorRunTime
        stageTaskMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) += m.executorRunTime
      }
    }
  }

  val queryListener: QueryExecutionListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val end = System.nanoTime()
      Collectors.this.synchronized(plans += ((funcName, qe.executedPlan)))
      tracer.record(s"sql.$funcName", end - durationNs, end)
    }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  val streamListener: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val t0 = nanosOf(java.time.Instant.parse(p.timestamp).toEpochMilli)
      var t = t0
      // progress components in the order the trigger runs them
      for (k <- Seq("latestOffset", "getBatch", "queryPlanning", "addBatch",
                    "walCommit", "commitOffsets");
           ms <- Option(p.durationMs.get(k)).map(_.longValue)) {
        Collectors.this.synchronized(streamMs(k) += ms)
        tracer.record(s"stream.$k", t, t + ms * 1000000L)
        t += ms * 1000000L
      }
    }
  }

  def register(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(queryListener)
    spark.streams.addListener(streamListener)
  }

  def unregister(spark: SparkSession): Unit = {
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(queryListener)
    spark.streams.removeListener(streamListener)
  }

  /** Blocks until the listener bus has delivered every queued event (the
    * bus is not public API, so it is reached by reflection). */
  def drain(spark: SparkSession): Unit = {
    val bus = spark.sparkContext.getClass.getMethod("listenerBus").invoke(spark.sparkContext)
    bus.getClass.getMethod("waitUntilEmpty").invoke(bus)
  }
}

object Collectors {

  /** Total GC time of all collectors, in seconds. */
  def gcSeconds(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum / 1e3

  /** (whole-stage codegen stages, physical operators outside any of them)
    * in an executed plan, looking through adaptive and query-stage
    * wrappers. */
  def codegenCounts(plan: SparkPlan): (Int, Int) = {
    var stagesN = 0
    var outside = 0
    def walk(p: SparkPlan, inCodegen: Boolean): Unit = p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan, inCodegen)
      case q: QueryStageExec => walk(q.plan, inCodegen)
      case w: WholeStageCodegenExec => stagesN += 1; walk(w.child, inCodegen = true)
      case i: InputAdapter => walk(i.child, inCodegen = false)
      case other =>
        if (!inCodegen) outside += 1
        other.children.foreach(walk(_, inCodegen))
    }
    walk(plan, inCodegen = false)
    (stagesN, outside)
  }
}

/** Peak live heap during a piece of untimed work. While the work runs, a
  * sampler thread collects the whole heap every [[HeapWatch.PeriodMs]];
  * the heap in use after each full collection, read from the collectors'
  * notifications, is the live heap at that moment. */
final class HeapWatch extends javax.management.NotificationListener {
  import com.sun.management.GarbageCollectionNotificationInfo

  private var peak = 0L
  private var n = 0
  private val beans = ManagementFactory.getGarbageCollectorMXBeans.asScala.toSeq
    .collect { case b: javax.management.NotificationEmitter => b }
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP).map(_.getName).toSet
  beans.foreach(_.addNotificationListener(this, null, null))

  override def handleNotification(note: javax.management.Notification, handback: AnyRef): Unit =
    if (note.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
      val info = GarbageCollectionNotificationInfo.from(
        note.getUserData.asInstanceOf[javax.management.openmbean.CompositeData])
      if (info.getGcAction == "end of major GC") {
        val after = info.getGcInfo.getMemoryUsageAfterGc.asScala
          .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
        synchronized { peak = math.max(peak, after); n += 1 }
      }
    }

  /** Runs `body` under the sampler; returns its result, the peak live
    * heap in MB and the number of samples. */
  def measure[A](body: => A): (A, Double, Int) = {
    synchronized { peak = 0L; n = 0 }
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    val sampler = new Thread(() =>
      while (!stop.get) { System.gc(); Thread.sleep(HeapWatch.PeriodMs) })
    sampler.setDaemon(true)
    sampler.start()
    val result = try body finally { stop.set(true); sampler.join() }
    Thread.sleep(200) // notifications arrive on another thread
    synchronized((result, peak / 1048576.0, n))
  }

  def close(): Unit = beans.foreach(b => scala.util.Try(b.removeNotificationListener(this)))
}

object HeapWatch {
  val PeriodMs = 100L
}
