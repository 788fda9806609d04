package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** Cumulative Spark work counters; subtracting two snapshots gives the work
  * of the interval between them. */
final case class Work(jobs: Long = 0, stages: Long = 0, tasks: Long = 0,
                      taskRunNs: Long = 0, taskCpuNs: Long = 0,
                      shuffleWriteBytes: Long = 0, shuffleReadBytes: Long = 0,
                      spillBytes: Long = 0, taskDurationsMs: Vector[Long] = Vector.empty,
                      persistedRdds: Set[Int] = Set.empty) {
  def -(o: Work): Work = Work(jobs - o.jobs, stages - o.stages, tasks - o.tasks,
    taskRunNs - o.taskRunNs, taskCpuNs - o.taskCpuNs,
    shuffleWriteBytes - o.shuffleWriteBytes, shuffleReadBytes - o.shuffleReadBytes,
    spillBytes - o.spillBytes, taskDurationsMs.drop(o.taskDurationsMs.size),
    persistedRdds -- o.persistedRdds)
}

/** Job, stage and task events of the whole session, accumulated. Task
  * durations are kept individually so an interval can report its median
  * and its slowest task. */
class Ledger extends SparkListener {
  private var w = Work()

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    w = w.copy(jobs = w.jobs + 1)
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val persisted = e.stageInfo.rddInfos.filter(_.storageLevel.isValid).map(_.id)
    w = w.copy(stages = w.stages + 1, persistedRdds = w.persistedRdds ++ persisted)
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) w = w.copy(
      tasks = w.tasks + 1,
      taskRunNs = w.taskRunNs + m.executorRunTime * 1000000L,
      taskCpuNs = w.taskCpuNs + m.executorCpuTime,
      shuffleWriteBytes = w.shuffleWriteBytes + m.shuffleWriteMetrics.bytesWritten,
      shuffleReadBytes = w.shuffleReadBytes + m.shuffleReadMetrics.totalBytesRead,
      spillBytes = w.spillBytes + m.memoryBytesSpilled + m.diskBytesSpilled,
      taskDurationsMs = w.taskDurationsMs :+ e.taskInfo.duration)
  }
  def snapshot(): Work = synchronized(w)
}

final case class Span(id: Int, parent: Int, name: String, startNs: Long, endNs: Long)

/** The traced run's instruments: the ledger, spans around every call the
  * benchmark makes into a layer, and JVM counters. Spans stay in memory
  * until [[write]]. With tracing off every method is a cheap no-op apart
  * from running the timed body. */
class Tracer(spark: SparkSession, val on: Boolean) {
  private val ledger = new Ledger
  if (on) spark.sparkContext.addSparkListener(ledger)
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val nextId = new AtomicInteger(1)
  private var current = 0

  /** Work counters now, after every event so far has been delivered. */
  def work(): Work =
    if (!on) Work()
    else {
      org.apache.spark.BenchBridge.drain(spark.sparkContext)
      ledger.snapshot().copy(persistedRdds = ledger.snapshot().persistedRdds ++
        spark.sparkContext.getPersistentRDDs.keySet)
    }

  def span[T](name: String)(body: => T): T = {
    if (!on) return body
    val id = nextId.getAndIncrement()
    val parent = current
    current = id
    val t0 = System.nanoTime()
    try body
    finally {
      spans += Span(id, parent, name, t0, System.nanoTime())
      current = parent
    }
  }

  def write(path: java.nio.file.Path): Unit = if (on) {
    val t0 = spans.map(_.startNs).minOption.getOrElse(0L)
    val lines = spans.sortBy(_.startNs).map { s =>
      s"""{"id":${s.id},"parent":${s.parent},"name":"${s.name}",""" +
        s""""start_ms":${(s.startNs - t0) / 1e6},"end_ms":${(s.endNs - t0) / 1e6}}"""
    }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.writeString(path, lines.mkString("[\n", ",\n", "\n]\n"))
  }
}

/** Counters of this JVM: CPU time, GC time, heap-pool peaks, and the
  * process's peak resident set. */
object Jvm {
  /** CPU time of every thread of this process except the JIT compiler's.
    * The guest kernel leaves time the host stole from its vCPUs out of it.
    * The compiler threads work through a queue of hot methods in the
    * background, for minutes after start: how far they get by a given pass
    * depends on the host, so their CPU time is reported apart
    * ([[jitCpuNs]]). */
  def cpuNs(): Long = processCpuNs() - jitCpuNs()

  private def processCpuNs(): Long =
    ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  /** The JIT compiler threads' /proc stat files. The benchmark starts the
    * JVM with -XX:-UseDynamicNumberOfCompilerThreads, so these threads live
    * as long as the JVM and the set found on first use stays complete. */
  private lazy val jitStats: Seq[java.nio.file.Path] = {
    val tasks = Option(new java.io.File("/proc/self/task").listFiles()).getOrElse(Array.empty)
    tasks.toSeq.map(_.toPath.resolve("stat")).filter(p => readStat(p).exists(_._1.contains("CompilerThre")))
  }

  /** (thread name, user + system CPU in clock ticks) of one /proc stat file. */
  private def readStat(p: java.nio.file.Path): Option[(String, Long)] =
    scala.util.Try(java.nio.file.Files.readString(p)).toOption.map { st =>
      val close = st.lastIndexOf(')')
      val f = st.substring(close + 2).split(' ')
      (st.substring(st.indexOf('(') + 1, close), f(11).toLong + f(12).toLong)
    }

  /** CPU time of the JIT compiler threads (0 where /proc is absent). */
  def jitCpuNs(): Long = jitStats.flatMap(readStat).map(_._2).sum * 10000000L

  def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum

  private def heapPools =
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)

  def resetHeapPeak(): Unit = heapPools.foreach(_.resetPeakUsage())

  def heapPeakMb(): Double = heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0

  /** VmHWM from /proc/self/status, in MB (0 where /proc is absent). */
  def rssPeakMb(): Double = {
    val status = java.nio.file.Paths.get("/proc/self/status")
    if (!java.nio.file.Files.exists(status)) 0.0
    else java.nio.file.Files.readAllLines(status).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toDouble / 1024.0).getOrElse(0.0)
  }
}

/** Fake-API instruments, shared by the main thread and the (local-mode)
  * task threads of one process. */
object ApiCounters {
  val pageCalls = new AtomicLong
  val detailCalls = new AtomicLong
  val busyNs = new AtomicLong
  val inflight = new AtomicInteger
  val inflightMax = new AtomicInteger
  @volatile var on = false

  def reset(): Unit = {
    pageCalls.set(0); detailCalls.set(0); busyNs.set(0); inflight.set(0); inflightMax.set(0)
  }
}
