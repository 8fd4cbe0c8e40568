package graft.perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.graftbench.BusFlush

import graft.MetricListener

/** Spark and JVM counters at one instant. */
final case class Snap(jobs: Long, taskCpuNs: Long, shuffleBytes: Long,
                      gcMs: Long, procCpuNs: Long) {
  def -(o: Snap): Snap = Snap(jobs - o.jobs, taskCpuNs - o.taskCpuNs,
    shuffleBytes - o.shuffleBytes, gcMs - o.gcMs, procCpuNs - o.procCpuNs)
  def +(o: Snap): Snap = Snap(jobs + o.jobs, taskCpuNs + o.taskCpuNs,
    shuffleBytes + o.shuffleBytes, gcMs + o.gcMs, procCpuNs + o.procCpuNs)
}

object Snap {
  val Zero: Snap = Snap(0, 0, 0, 0, 0)
}

/** The engine's own counters (graft.MetricListener), read at span
  * boundaries. `flush` drains the listener bus so task-end events land
  * in the window that ran them; only the traced run pays for it.
  */
final class Meter(spark: SparkSession) {
  val listener: MetricListener = MetricListener.install(spark.sparkContext)
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private val gcs = ManagementFactory.getGarbageCollectorMXBeans.asScala

  def flush(): Unit = BusFlush.flush(spark.sparkContext)

  def procCpuNs: Long = os.getProcessCpuTime

  def snap(): Snap = Snap(listener.jobs.get.toLong, listener.cpuNs.get,
    listener.shuffleWriteBytes.get, gcs.map(_.getCollectionTime).sum,
    os.getProcessCpuTime)

  /** All CPUs' jiffies since boot as (total, stolen), from the first
    * line of /proc/stat; (0, 0) where it cannot be read.
    */
  def cpuJiffies: (Long, Long) =
    scala.util.Using(scala.io.Source.fromFile("/proc/stat")) { s =>
      val f = s.getLines().next().trim.split("\\s+").drop(1).map(_.toLong)
      // user nice system idle iowait irq softirq steal; guest time is
      // already inside user
      (f.take(8).sum, f.lift(7).getOrElse(0L))
    }.getOrElse((0L, 0L))

  /** Share of the machine's CPU time the hypervisor gave to other guests
    * between two [[cpuJiffies]] readings.
    */
  def stealShare(from: (Long, Long), to: (Long, Long)): Double = {
    val total = to._1 - from._1
    if (total <= 0) 0.0 else (to._2 - from._2).toDouble / total
  }

  /** `threads` JVM threads each run a fixed xorshift loop, with no
    * Spark, no I/O and no allocation: graft.Bench's calibration kernel,
    * shortened so that it can run between operations.
    */
  def calib(threads: Int): Calib = {
    def kernel(seed: Long, iters: Long): Long = {
      var x = seed | 1L
      var i = 0L
      while (i < iters) {
        x ^= x << 13; x ^= x >>> 7; x ^= x << 17
        i += 1
      }
      x
    }
    val sink = new java.util.concurrent.atomic.AtomicLong
    val cpuNs = new java.util.concurrent.atomic.AtomicLong
    val mx = ManagementFactory.getThreadMXBean
    // untimed: compiles the kernel, so the timed pass measures the box
    sink.addAndGet(kernel(42L, Calib.Iters / 20))
    val t0 = System.nanoTime()
    val ts = (1 to threads).map { i =>
      val t = new Thread(() => {
        val c = mx.getCurrentThreadCpuTime
        sink.addAndGet(kernel(i.toLong, Calib.Iters))
        cpuNs.addAndGet(mx.getCurrentThreadCpuTime - c): Unit
      })
      t.start(); t
    }
    ts.foreach(_.join())
    Calib((System.nanoTime() - t0) / 1e9, cpuNs.get / 1e9 / threads)
  }

  /** Heap in use after a full collection, MB: what the long-lived
    * process keeps (caches, registries, leaks), free of GC timing.
    */
  def liveHeapMb: Double = {
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1e6
  }

  /** Peak resident set of this process so far, MB. */
  def peakRssMb: Double =
    scala.util.Using(scala.io.Source.fromFile("/proc/self/status")) { s =>
      s.getLines().find(_.startsWith("VmHWM:"))
        .map(_.replaceAll("[^0-9]", "").toDouble / 1024.0).getOrElse(0.0)
    }.getOrElse(0.0)
}

/** One pass of [[Meter.calib]]: the wall seconds for all threads to
  * finish, and the CPU seconds of one thread. Steal stretches the wall
  * alone; shared caches, memory bandwidth and frequency droop stretch
  * both.
  */
final case class Calib(wallSec: Double, cpuSec: Double)

/** Box-weather normalization, after graft.Bench's `calib` channel
  * (BENCHING.md, "box-weather normalization"). [[Meter.calib]] runs
  * before the set-up, after it, and after every operation: between
  * timed intervals, never inside one, so nothing the program does
  * while timed changes it. Co-tenant load (steal, shared caches, memory
  * bandwidth, frequency droop) only ever slows the kernel, so the
  * quieter of the two samples around an interval, over the frozen
  * reference, is that interval's box factor; graft.Bench takes
  * min(start, end) the same way over its whole run. Wall times take the
  * wall factor; CPU times, which steal does not stretch, the CPU one.
  */
object Calib {
  /** Per-thread iterations of the kernel. */
  val Iters: Long = 60000000L
  /** The kernel's quiet floor with 4 threads on the 4-core VM the bounds
    * were set on (tenth percentile of 120 samples), frozen as the unit:
    * a factor of 1 reads as that box on a quiet day.
    */
  val RefWallSec = 0.17
  /** The CPU-time unit, set a little below the wall one: on a quiet box
    * each thread is on a core for nearly all of the wall.
    */
  val RefCpuSec = 0.16

  def wallFactor(before: Calib, after: Calib): Double =
    math.min(before.wallSec, after.wallSec) / RefWallSec
  def cpuFactor(before: Calib, after: Calib): Double =
    math.min(before.cpuSec, after.cpuSec) / RefCpuSec
}

final case class Span(id: Int, parent: Int, name: String, startNs: Long,
                      endNs: Long, delta: Snap, peakTaskMemBytes: Long) {
  def durNs: Long = endNs - startNs
  /** `sources.extract` -> `sources`; the root `op` span is its own. */
  def layer: String = name.takeWhile(_ != '.')
}

/** In-memory spans around the benchmark's calls into each layer. Off
  * (`enabled = false`) it runs the body and records nothing, so the
  * untraced run times exactly the calls the traced run makes.
  */
final class Tracer(val enabled: Boolean, meter: Meter, val runId: String) {
  val spans = ArrayBuffer[Span]()
  private var nextId = 0
  private var stack: List[Int] = Nil

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.getOrElse(-1)
      stack = id :: stack
      meter.flush()
      meter.listener.resetPeakExecMem()
      val before = meter.snap()
      val t0 = System.nanoTime()
      try body
      finally {
        meter.flush()
        val t1 = System.nanoTime()
        spans += Span(id, parent, name, t0, t1, meter.snap() - before,
          meter.listener.peakExecMemBytes.get)
        stack = stack.tail
      }
    }

  /** Duration minus the part of it the span's children cover. */
  def selfNs(s: Span): Long =
    s.durNs - spans.filter(_.parent == s.id).map(_.durNs).sum

  def selfByLayer: Map[String, Long] =
    spans.groupBy(_.layer).map { case (l, ss) => l -> ss.map(selfNs).sum }

  def named(name: String): Seq[Span] = spans.filter(_.name == name).toSeq
}
