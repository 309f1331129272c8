package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd
import org.apache.spark.sql.perfbench.Internals

/** One public-function call into a layer, as seen from the benchmark;
  * times are ms from the op's start, `parent` is the enclosing span's id
  * (-1: the op itself).
  */
final case class Span(id: Int, name: String, startMs: Double, endMs: Double, parent: Int)

/** Spark work of one op. Jobs are attributed to the op whose time window
  * contains the job's start; stages and tasks follow their job through
  * `SparkListenerJobStart.stageInfos`. There is one client, so at most one
  * op is open at a time and the windows never overlap.
  */
final class OpCounters {
  val jobs = mutable.ArrayBuffer.empty[(Long, Long)] // (start, end) epoch ms
  var stagesRun = 0L
  var stagesListed = 0L
  var tasks = 0L
  var tasksFailed = 0L
  var taskMs = 0L
  var taskCpuNs = 0L
  var schedDelayMs = 0L
  var shuffleWriteBytes = 0L
  var shuffleReadBytes = 0L
  var fetchWaitMs = 0L
  var spillBytes = 0L
  var inputBytes = 0L
  var inputRecords = 0L
  var taskGcMs = 0L
  var planMs = 0.0
  var sqlExecutions = 0L
}

/** The traced run's listener. Events arrive on Spark's listener thread;
  * [[Tracer.closeOp]] drains the bus before it reads the counters.
  */
final class OpListener extends SparkListener {
  @volatile private var current: OpCounters = null
  @volatile private var openedAt = Long.MaxValue
  private val jobOf = mutable.HashMap.empty[Int, OpCounters]   // jobId
  private val stageOf = mutable.HashMap.empty[Int, OpCounters] // stageId
  private val jobStart = mutable.HashMap.empty[Int, Long]
  val unattributedJobs = new AtomicLong(0L)

  def open(c: OpCounters, atMs: Long): Unit = synchronized {
    current = c; openedAt = atMs
  }
  def close(): Unit = synchronized { current = null; openedAt = Long.MaxValue }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val c = current
    if (c != null && e.time >= openedAt) {
      jobOf(e.jobId) = c
      jobStart(e.jobId) = e.time
      c.stagesListed += e.stageInfos.size
      e.stageInfos.foreach(s => stageOf(s.stageId) = c)
    } else unattributedJobs.incrementAndGet()
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    for (c <- jobOf.remove(e.jobId); s <- jobStart.remove(e.jobId))
      c.jobs += ((s, e.time))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stageOf.get(e.stageInfo.stageId).foreach(_.stagesRun += 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageOf.get(e.stageId).foreach { c =>
      c.tasks += 1
      if (!e.taskInfo.successful) c.tasksFailed += 1
      val m = e.taskMetrics
      if (m != null) {
        c.taskMs += m.executorRunTime
        c.taskCpuNs += m.executorCpuTime
        c.taskGcMs += m.jvmGCTime
        c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        c.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
        c.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
        c.spillBytes += m.diskBytesSpilled
        c.inputBytes += m.inputMetrics.bytesRead
        c.inputRecords += m.inputMetrics.recordsRead
        // the UI's scheduler delay: task wall not spent deserializing,
        // running, serializing the result or fetching it
        val ti = e.taskInfo
        val wall = if (ti.finishTime > 0) ti.finishTime - ti.launchTime else 0L
        val getting = if (ti.gettingResult) ti.finishTime - ti.gettingResultTime else 0L
        c.schedDelayMs += math.max(0L, wall - m.executorRunTime -
          m.executorDeserializeTime - m.resultSerializationTime - getting)
      }
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case end: SparkListenerSQLExecutionEnd => synchronized {
      val c = current
      if (c != null) { c.planMs += Internals.planningMs(end); c.sqlExecutions += 1 }
    }
    case _ =>
  }
}

/** Environment probes carried into every op record, traced or not:
  * hypervisor steal ticks from /proc/stat and a 400 ms heartbeat that books
  * any oversleep as stall time (a whole-VM freeze stops the guest's steal
  * counter too, only the monotonic clock sees it). Contamination is
  * recorded, never corrected.
  */
object Env {
  def stealTicks(): Long =
    try {
      val l = Files.readAllLines(Paths.get("/proc/stat")).get(0).trim.split("\\s+")
      if (l.length > 8) l(8).toLong else -1L
    } catch { case _: Throwable => -1L }

  val stallNanos = new AtomicLong(0L)
  private lazy val heartbeat = {
    val t = new Thread(() => {
      var running = true
      while (running) {
        val t0 = System.nanoTime()
        try Thread.sleep(100) catch { case _: InterruptedException => running = false }
        val over = System.nanoTime() - t0 - 100000000L
        if (over > 400000000L) stallNanos.addAndGet(over)
      }
    }, "perfbench-heartbeat")
    t.setDaemon(true)
    t.start()
    t
  }
  def start(): Unit = heartbeat: Unit

  def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  def heapUsedMb(): Double =
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0

  /** Peak resident set of this process (`VmHWM`), MiB. */
  def rssPeakMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(-1.0)
}

/** Spans of the current op; a no-op when tracing is off. */
final class Tracer(val enabled: Boolean) {
  private var origin = 0L
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val stack = mutable.Stack.empty[Int]
  private var nextId = 0

  def begin(atNanos: Long): Unit = {
    origin = atNanos; spans.clear(); stack.clear(); nextId = 0
  }

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.getOrElse(-1)
      val t0 = System.nanoTime()
      stack.push(id)
      try body
      finally {
        stack.pop()
        spans += Span(id, name, (t0 - origin) / 1e6, (System.nanoTime() - origin) / 1e6, parent)
      }
    }

  def take(): Seq[Span] = spans.toList
}
