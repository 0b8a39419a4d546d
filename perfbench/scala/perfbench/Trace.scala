package perfbench

import java.io.File

import scala.collection.mutable

import org.apache.spark.{PerfbenchAccess, SparkContext, Success}
import org.apache.spark.scheduler._

/** File-system helpers: sizes, listings and removal of the files the
  * benchmark measures and cleans up. */
object Fs {
  def rm(f: File): Unit = {
    val children = f.listFiles()
    if (children != null) children.foreach(rm)
    f.delete()
    ()
  }

  def bytes(f: File): Long = {
    val children = f.listFiles()
    if (children != null) children.map(bytes).sum else f.length()
  }

  /** Every regular file under `root`, path -> bytes. */
  def files(root: File): Map[String, Long] = {
    val out = mutable.Map.empty[String, Long]
    def walk(f: File): Unit = {
      val children = f.listFiles()
      if (children != null) children.foreach(walk)
      else if (f.isFile) out(f.getPath) = f.length()
    }
    walk(root)
    out.toMap
  }

  /** The `graft_*` entries `graft.core.Scratch` leaves in `tmp`, name -> bytes. */
  def scratch(tmp: File): Map[String, Long] =
    Option(tmp.listFiles()).toSeq.flatten
      .filter(_.getName.startsWith("graft_"))
      .map(f => f.getName -> bytes(f)).toMap

  /** CPU seconds this JVM has used, all threads. */
  def cpuS(): Double = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime / 1e9

  /** Seconds the JIT compilers and the garbage collectors have spent. */
  def jitS(): Double =
    java.lang.management.ManagementFactory.getCompilationMXBean.getTotalCompilationTime / 1e3
  def gcS(): Double = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).sum / 1e3
  }

  /** Seconds of CPU the hypervisor has stolen from this machine, summed over
    * its CPUs (the steal column of /proc/stat). */
  def stealS(): Double = {
    val f = scala.io.Source.fromFile("/proc/stat")
    try f.getLines().next().split("\\s+")(8).toDouble / 100 finally f.close()
  }

  /** The JVM's peak resident set (VmHWM), in MiB. */
  def peakRssMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024
  }
}

/** Counts for one span: the jobs, stages and tasks Spark ran while the
  * span was open, as a `SparkListener` sees them. */
final class SpanCounts {
  var jobs = 0
  var jobMs = 0L
  var stages = 0
  var shuffleStages = 0
  var skippedStages = 0
  var resultStageMs = 0L
  val stageIntervals = mutable.ArrayBuffer.empty[(Long, Long)]
  var tasks = 0
  var failedTasks = 0
  var taskRunMs = 0L
  var taskCpuMs = 0.0
  var taskWaitMs = 0L
  var shuffleWriteBytes = 0L
  var shuffleReadBytes = 0L
  var spillBytes = 0L
  var peakExecMem = 0L
  var inputBytes = 0L

  /** Wall time inside [t0, t1] (epoch ms) that no stage of this span covers. */
  def uncoveredMs(t0: Long, t1: Long): Long = {
    var covered = 0L
    var end = t0
    stageIntervals.map { case (a, b) => (math.max(a, t0), math.min(b, t1)) }
      .filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
        if (b > end) { covered += b - math.max(a, end); end = b }
      }
    math.max(0L, t1 - t0 - covered)
  }
}

/** The benchmark's tracer.  The op runner names the open span in a
  * local property of the driver thread (`perfbench.span`), which Spark
  * copies onto every job the thread submits, including the broadcast
  * and AQE stage jobs it launches on helper threads.  The listener
  * folds each job's stages and tasks into the counts of the span that
  * submitted it.  Nothing inside the engine is instrumented. */
final class Tracer(sc: SparkContext) extends SparkListener {
  private val SpanKey = "perfbench.span"
  private val bySpan = mutable.Map.empty[String, SpanCounts]
  private val stageSpan = mutable.Map.empty[Int, String]
  private val jobs = mutable.Map.empty[Int, (String, Long, Seq[Int])]
  private val submitted = mutable.Set.empty[Int]

  def open(span: String): Unit = sc.setLocalProperty(SpanKey, span)
  def close(): Unit = sc.setLocalProperty(SpanKey, null)

  /** Wait for the listener bus, then remove and return the counts of `span`. */
  def take(span: String): SpanCounts = {
    PerfbenchAccess.drain(sc)
    synchronized(bySpan.remove(span).getOrElse(new SpanCounts))
  }

  private def counts(span: String) = bySpan.getOrElseUpdate(span, new SpanCounts)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val span = Option(e.properties).flatMap(p => Option(p.getProperty(SpanKey)))
    span.foreach { s =>
      val ids = e.stageInfos.map(_.stageId)
      ids.foreach(id => stageSpan.getOrElseUpdate(id, s))
      jobs(e.jobId) = (s, e.time, ids)
      counts(s).jobs += 1
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.remove(e.jobId).foreach { case (s, t0, ids) =>
      val c = counts(s)
      c.jobMs += e.time - t0
      c.skippedStages += ids.count(id => !submitted.contains(id))
    }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    synchronized { submitted += e.stageInfo.stageId; () }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val info = e.stageInfo
    stageSpan.get(info.stageId).foreach { s =>
      val c = counts(s)
      val t0 = info.submissionTime.getOrElse(0L)
      val t1 = info.completionTime.getOrElse(t0)
      c.stages += 1
      if (PerfbenchAccess.isShuffleStage(info)) c.shuffleStages += 1
      else c.resultStageMs += t1 - t0
      c.stageIntervals += ((t0, t1))
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageSpan.get(e.stageId).foreach { s =>
      val c = counts(s)
      c.tasks += 1
      if (e.reason != Success) c.failedTasks += 1
      val m = e.taskMetrics
      if (m != null) {
        val info = e.taskInfo
        val delay = info.duration - m.executorRunTime -
          m.executorDeserializeTime - m.resultSerializationTime -
          info.gettingResultTime
        c.taskRunMs += m.executorRunTime
        c.taskCpuMs += m.executorCpuTime / 1e6
        c.taskWaitMs += math.max(0L, delay) + m.executorDeserializeTime
        c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        c.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
        c.spillBytes += m.diskBytesSpilled
        c.peakExecMem = math.max(c.peakExecMem, m.peakExecutionMemory)
        c.inputBytes += m.inputMetrics.bytesRead
      }
    }
  }
}
