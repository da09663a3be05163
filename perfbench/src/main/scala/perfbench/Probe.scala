package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._

/** Spans around calls into graft's layers, kept in memory.
  *
  * Each span has a name, start, end, parent span and operation id. With
  * tracing off, [[span]] only runs its body. A layer's self time is its
  * span's duration minus its child spans' durations (calls nest and do
  * not overlap, so the children's union is their sum).
  */
final class Tracer(val on: Boolean) {
  private val names = mutable.ArrayBuffer.empty[String]
  private val starts = mutable.ArrayBuffer.empty[Long]
  private val ends = mutable.ArrayBuffer.empty[Long]
  private val parents = mutable.ArrayBuffer.empty[Int]
  private val opIds = mutable.ArrayBuffer.empty[Int]
  private var stack: List[Int] = Nil
  /** Operation the next spans belong to; -1 outside measured operations. */
  var opId: Int = -1

  def span[T](name: String)(body: => T): T =
    if (!on) body
    else {
      val i = names.length
      names += name; starts += System.nanoTime(); ends += 0L
      parents += stack.headOption.getOrElse(-1); opIds += opId
      stack = i :: stack
      try body
      finally { ends(i) = System.nanoTime(); stack = stack.tail }
    }

  /** Counts reported per operation beside the spans, kept with tracing
    * on or off, for measured operations only.
    */
  val counts: mutable.Map[String, Long] = mutable.Map.empty

  def count(name: String, n: Long): Unit =
    if (opId >= 0) counts(name) = counts.getOrElse(name, 0L) + n

  /** Self nanoseconds and call count per span name, over the spans
    * whose operation id passes `of` (measured operations by default).
    */
  def selfTimes(of: Int => Boolean = _ >= 0): Map[String, (Long, Int)] = {
    val self = Array.tabulate(names.length)(i => ends(i) - starts(i))
    names.indices.foreach { i =>
      val p = parents(i)
      if (p >= 0) self(p) -= ends(i) - starts(i)
    }
    names.indices.filter(i => of(opIds(i))).groupBy(names).map { case (n, is) =>
      n -> ((is.map(self(_)).sum, is.length))
    }
  }

  /** One JSON line per span. */
  def write(path: java.nio.file.Path): Unit = {
    val w = java.nio.file.Files.newBufferedWriter(path)
    try names.indices.foreach { i =>
      w.write(s"""{"name":"${names(i)}","start_ns":${starts(i)},"end_ns":${ends(i)},""" +
        s""""parent":${parents(i)},"op":${opIds(i)}}""")
      w.newLine()
    } finally w.close()
  }
}

object Tracer {
  /** Operation id of spans recorded during set-up. */
  val SetUp = -2
}

/** Spark job, task, shuffle and spill counts from a listener the
  * benchmark registers. Job times are the scheduler's wall-clock
  * milliseconds.
  */
final class SparkProbe extends SparkListener {
  final class Job(val id: Int, val start: Long) {
    var end: Long = -1L
    var tasks = 0
    var executorMs = 0L
    var shuffleWrite = 0L
    var spill = 0L
  }
  private val jobs = mutable.LinkedHashMap.empty[Int, Job]
  private val stageJob = mutable.HashMap.empty[Int, Int]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobs(e.jobId) = new Job(e.jobId, e.time)
    e.stageIds.foreach(stageJob(_) = e.jobId)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.end = e.time)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    for (jid <- stageJob.get(e.stageId); j <- jobs.get(jid)) {
      j.tasks += 1
      val m = e.taskMetrics
      if (m != null) {
        j.executorMs += m.executorRunTime
        j.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        j.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }

  def snapshot(): Seq[Job] = synchronized(jobs.values.toList)
}

object Jvm {
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  def cpuNanos: Long = os.getProcessCpuTime

  private val threads = ManagementFactory.getThreadMXBean
    .asInstanceOf[com.sun.management.ThreadMXBean]

  /** CPU nanoseconds of the application threads: every thread the
    * ThreadMXBean lists, which leaves out the JIT compiler and GC threads
    * (compilation of Spark's code base went on through the measured phase
    * and was most of the process CPU time on kb_upload).
    */
  def appCpuNanos: Long = threads.getThreadCpuTime(threads.getAllThreadIds).iterator.filter(_ > 0).sum
  def load1: Double = os.getSystemLoadAverage
  def nproc: Int = Runtime.getRuntime.availableProcessors()

  def gcMillis: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum

  /** Heap still in use after full collections. */
  def liveHeapBytes(): Long = {
    val mem = ManagementFactory.getMemoryMXBean
    (1 to 3).foreach { _ => System.gc(); Thread.sleep(50) }
    mem.getHeapMemoryUsage.getUsed
  }

  def startMillis: Long = ManagementFactory.getRuntimeMXBean.getStartTime

  /** (steal, total) jiffies of all CPUs from /proc/stat; zeros where
    * the file does not exist. Steal is time the hypervisor gave this
    * machine's CPUs to someone else.
    */
  def stealJiffies(): (Long, Long) = {
    val f = java.nio.file.Paths.get("/proc/stat")
    if (!java.nio.file.Files.isReadable(f)) (0L, 0L)
    else {
      val cpu = java.nio.file.Files.readAllLines(f).get(0).trim.split("\\s+").drop(1).map(_.toLong)
      (if (cpu.length > 7) cpu(7) else 0L, cpu.take(8).sum)
    }
  }

  /** Milliseconds one thread takes for a fixed integer loop: a probe of
    * how fast the box runs right now, recorded beside the metrics.
    */
  def calibrationMs(): Double = {
    val t0 = System.nanoTime()
    var x = 88172645463325252L
    var i = 0
    while (i < 50000000) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; i += 1 }
    val ms = (System.nanoTime() - t0) / 1e6
    if (x == 42L) System.err.print("") // keeps the loop from being removed
    ms
  }
}
