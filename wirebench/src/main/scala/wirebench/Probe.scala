package wirebench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong
import javax.management.{Notification, NotificationEmitter, NotificationListener}

import scala.jdk.CollectionConverters._

import com.sun.management.GarbageCollectionNotificationInfo
import org.apache.spark.Success
import org.apache.spark.scheduler._

import graft.core.{Engine, Events, ExecuteStatement}

/** Wall-clock milliseconds (event and listener timestamps) mapped onto
  * the `System.nanoTime` axis every client timer uses.
  */
object Clock {
  private val offsetNs = System.nanoTime() - System.currentTimeMillis() * 1000000L
  def fromWallMs(ms: Long): Long = ms * 1000000L + offsetNs
}

/** What the engine reported about one operation, on the nanoTime axis.
  * `stmt` is the benchmark execution it belongs to (-1 if unknown).
  */
final class OpTimes(val opId: String, val sessionId: String, val stmt: Long) {
  @volatile var pending, running, compiled, finished = 0L
  @volatile var failed = false
  /** QueryPlanningTracker phase -> (start, end) on the nanoTime axis. */
  @volatile var phases: Map[String, (Long, Long)] = Map.empty
}

/** Spark work of one job group (or one ungrouped job). */
final class ExecAgg {
  val jobs = new java.util.concurrent.ConcurrentLinkedQueue[(Int, Long, Long)]()
  val jobStart = new ConcurrentHashMap[Int, java.lang.Long]()
  val stages, tasks, failedTasks = new AtomicLong
  val runMs, cpuNs, gcMs, inputB, shReadB, shWriteB, spillB, resultB = new AtomicLong
}

/** The benchmark's view into the engine from its public surfaces: a
  * lifecycle [[Events.Handler]], a job-group-keyed `SparkListener` and
  * the JVM's GC notifications. Registered only for traced runs, except
  * the GC watcher, which feeds `heap_peak_mb` in every run.
  */
final class Probe(engine: Engine) extends SparkListener with Events.Handler {

  val ops = new ConcurrentHashMap[String, OpTimes]()
  /** Session id -> when the engine opened it. */
  val sessionOpened = new ConcurrentHashMap[String, java.lang.Long]()
  private val sessionOwner = new ConcurrentHashMap[String, String]()
  private val current = new ConcurrentHashMap[String, java.lang.Long]()
  @volatile private var pendingOwner: String = null

  /** The next session the engine opens belongs to `owner` (call only
    * where sessions open one at a time).
    */
  def expectSession(owner: String): Unit = pendingOwner = owner
  /** Untagged operations (metadata calls) on `owner`'s session belong
    * to execution `stmt`.
    */
  def setCurrent(owner: String, stmt: Long): Unit = current.put(owner, stmt)

  private val Tag = """/\* bench:(\d+) \*/""".r.unanchored

  override def onEvent(e: Events.Event): Unit = {
    val now = System.nanoTime()
    e match {
      case s: Events.SessionEvent if s.action == "OPENED" =>
        sessionOpened.put(s.sessionId, now)
        val o = pendingOwner
        if (o != null) { sessionOwner.put(s.sessionId, o); pendingOwner = null }
      case o: Events.OperationEvent =>
        val t = if (o.state == "PENDING") {
          val fresh = new OpTimes(o.opId, o.sessionId, stmtOf(o.opId, o.sessionId))
          ops.putIfAbsent(o.opId, fresh)
          ops.get(o.opId)
        } else ops.get(o.opId)
        if (t != null) o.state match {
          case "PENDING" => t.pending = now
          case "RUNNING" => t.running = now
          case "COMPILED" => t.compiled = now
          case "FINISHED" =>
            t.finished = now
            t.phases = phasesOf(o.sessionId, o.opId)
          case "CLOSED" =>
          case _ => t.failed = true; t.finished = now
        }
      case _ =>
    }
  }

  private def stmtOf(opId: String, sessionId: String): Long =
    engine.session(sessionId).flatMap(_.operation(opId)) match {
      case Some(es: ExecuteStatement) => es.statement match {
        case Tag(n) => n.toLong
        case _ => -1L
      }
      case _ =>
        Option(sessionOwner.get(sessionId)).flatMap(o => Option(current.get(o)))
          .map(_.longValue).getOrElse(-1L)
    }

  private def phasesOf(sessionId: String, opId: String): Map[String, (Long, Long)] =
    engine.session(sessionId).flatMap(_.operation(opId)) match {
      case Some(es: ExecuteStatement) if es.result != null =>
        es.result.queryExecution.tracker.phases.map { case (k, p) =>
          k -> (Clock.fromWallMs(p.startTimeMs), Clock.fromWallMs(p.endTimeMs))
        }
      case _ => Map.empty
    }

  // ---- Spark listener: work keyed by job group ("graft-op-<handle>")
  // or, for jobs launched outside any operation, by "job:<id>" ----

  val exec = new ConcurrentHashMap[String, ExecAgg]()
  private val stageKey = new ConcurrentHashMap[Int, String]()
  private val jobKey = new ConcurrentHashMap[Int, String]()
  private val openJobs = new AtomicLong

  private def agg(key: String): ExecAgg = exec.computeIfAbsent(key, _ => new ExecAgg)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val group = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
    val key = group.filter(_.startsWith("graft-op-")).map(_.stripPrefix("graft-op-"))
      .getOrElse(s"job:${e.jobId}")
    jobKey.put(e.jobId, key)
    e.stageIds.foreach(stageKey.put(_, key))
    agg(key).jobStart.put(e.jobId, e.time)
    openJobs.incrementAndGet()
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobKey.get(e.jobId)).foreach { key =>
      val a = agg(key)
      Option(a.jobStart.get(e.jobId)).foreach(s => a.jobs.add((e.jobId, s.longValue, e.time)))
      openJobs.decrementAndGet()
    }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    Option(stageKey.get(e.stageInfo.stageId)).foreach(agg(_).stages.incrementAndGet())

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(stageKey.get(e.stageId)).foreach { key =>
      val a = agg(key)
      a.tasks.incrementAndGet()
      if (e.reason != Success) a.failedTasks.incrementAndGet()
      val m = e.taskMetrics
      if (m != null) {
        a.runMs.addAndGet(m.executorRunTime)
        a.cpuNs.addAndGet(m.executorCpuTime)
        a.gcMs.addAndGet(m.jvmGCTime)
        a.inputB.addAndGet(m.inputMetrics.bytesRead)
        a.shReadB.addAndGet(m.shuffleReadMetrics.totalBytesRead)
        a.shWriteB.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        a.spillB.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
        a.resultB.addAndGet(m.resultSize)
      }
    }

  /** Wait (bounded) for the asynchronous listener bus to deliver the
    * end of every job it announced.
    */
  def drain(timeoutMs: Long = 10000): Unit = {
    val until = System.currentTimeMillis() + timeoutMs
    var quietSince = System.currentTimeMillis()
    var last = -1L
    while (System.currentTimeMillis() < until &&
      (openJobs.get > 0 || System.currentTimeMillis() - quietSince < 300)) {
      val seen = exec.values.asScala.map(_.tasks.get).sum
      if (seen != last) { last = seen; quietSince = System.currentTimeMillis() }
      Thread.sleep(20)
    }
  }
}

/** Heap used after each GC, and collection time, from the JVM's GC
  * notifications and collector beans.
  */
final class GcWatch extends NotificationListener {
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP).map(_.getName).toSet
  @volatile var peakAfterGcBytes = 0L
  private val beans = ManagementFactory.getGarbageCollectorMXBeans.asScala.toSeq
  private val gcMs0 = gcMsNow

  def gcMsNow: Long = beans.map(b => math.max(0L, b.getCollectionTime)).sum
  def gcMs: Long = gcMsNow - gcMs0

  beans.foreach {
    case em: NotificationEmitter => em.addNotificationListener(this, null, null)
    case _ =>
  }

  override def handleNotification(n: Notification, hb: Any): Unit =
    if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
      val info = GarbageCollectionNotificationInfo.from(
        n.getUserData.asInstanceOf[javax.management.openmbean.CompositeData])
      val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
        .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
      synchronized { if (used > peakAfterGcBytes) peakAfterGcBytes = used }
    }

  def close(): Unit = beans.foreach {
    case em: NotificationEmitter => try em.removeNotificationListener(this) catch { case _: Throwable => }
    case _ =>
  }
}
