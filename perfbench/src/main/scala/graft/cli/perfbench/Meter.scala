package graft.cli.perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.{PerfbenchBus, SparkContext}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}

/** Engine work counters for one operation window, taken from outside
  * the engine: a listener on the Spark listener bus. The bus is drained
  * at both window edges, so every event of the operation lands in its
  * own window and none of a neighbour's. */
final class OpMeter(sc: SparkContext) extends SparkListener {
  private var jobs = 0L
  private var tasks = 0L
  private var shuffleWriteBytes = 0L
  private var shuffleRecords = 0L
  private var spillBytes = 0L
  private var inputBytes = 0L
  private var runMs = 0L
  private var schedMs = 0L
  /** (launch time ms since epoch, executor run time ms) per task */
  private val taskLog = mutable.ArrayBuffer.empty[(Long, Long)]

  sc.addSparkListener(this)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobs += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    tasks += 1
    val m = e.taskMetrics
    val i = e.taskInfo
    if (m != null) {
      shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      shuffleRecords += m.shuffleWriteMetrics.recordsWritten
      spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      inputBytes += m.inputMetrics.bytesRead
      runMs += m.executorRunTime
      // Spark UI's scheduler delay: task wall time not spent running,
      // deserializing, serializing or fetching the result.
      val fetch = if (i.gettingResultTime > 0) i.finishTime - i.gettingResultTime else 0L
      schedMs += math.max(0L, (i.finishTime - i.launchTime) - m.executorRunTime -
        m.executorDeserializeTime - m.resultSerializationTime - fetch)
      taskLog += ((i.launchTime, m.executorRunTime))
    }
  }

  def begin(): Unit = {
    PerfbenchBus.drain(sc)
    synchronized {
      jobs = 0; tasks = 0; shuffleWriteBytes = 0; shuffleRecords = 0
      spillBytes = 0; inputBytes = 0; runMs = 0; schedMs = 0
      taskLog.clear()
    }
  }

  def end(): Map[String, Any] = {
    PerfbenchBus.drain(sc)
    synchronized {
      Map("jobs" -> jobs, "tasks" -> tasks,
        "shuffle_write_bytes" -> shuffleWriteBytes,
        "shuffle_records" -> shuffleRecords, "spill_bytes" -> spillBytes,
        "input_bytes" -> inputBytes, "executor_run_s" -> runMs / 1e3,
        "scheduler_delay_s" -> schedMs / 1e3,
        "task_log" -> taskLog.map { case (l, r) => Seq(l, r) }.toList)
    }
  }

  def detach(): Unit = sc.removeSparkListener(this)
}

object Jvm {
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  /** CPU time this process has used, in seconds. */
  def cpuSeconds(): Double = os.getProcessCpuTime / 1e9

  def gcMillis(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(0L, b.getCollectionTime)).sum

  /** Peak resident set size of this process (VmHWM), in MB. */
  def rssPeakMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") =>
        l.split("\\s+")(1).toDouble / 1024.0
    }.getOrElse(0.0)
    finally src.close()
  }
}

/** In-memory span recorder: one span per call into a layer, with its
  * parent and the id of the operation it belongs to. Disabled, it only
  * runs the body. */
final class Spans(enabled: Boolean) {
  private val done = mutable.ArrayBuffer.empty[Map[String, Any]]
  private var stack: List[Int] = Nil
  private var nextId = 1
  var opId = 0

  def apply[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.getOrElse(0)
      stack = id :: stack
      val startMs = System.currentTimeMillis()
      val t0 = System.nanoTime()
      try body
      finally {
        val dur = (System.nanoTime() - t0) / 1e9
        stack = stack.tail
        done += Map("id" -> id, "parent" -> parent, "op" -> opId,
          "name" -> name, "start_ms" -> startMs, "dur_s" -> dur)
      }
    }

  def all: Seq[Map[String, Any]] = done.toSeq
}
