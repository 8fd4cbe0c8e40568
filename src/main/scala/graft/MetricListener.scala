package graft

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}

/** THE jobs/CPU/shuffle accumulator for the measurement mains (Bench,
  * Probe, perfbench) — one copy of the attribution rules instead of one
  * hand-rolled listener per tool:
  *
  *   - executor CPU = `executorCpuTime + executorDeserializeCpuTime`
  *     (deserialization is real per-task work; excluding it undercounts
  *     short-task queries),
  *   - null `taskMetrics` (lost/failed tasks) contribute nothing,
  *   - shuffle = bytes WRITTEN (the write side counts each byte once;
  *     read-side metrics double-count locally-read blocks).
  *
  * Counters are cumulative for the context's lifetime; callers snapshot
  * before/after a query and subtract, draining the listener bus
  * ([[org.apache.spark.graftbench.BusFlush]]) on BOTH sides so async
  * events land inside the window that produced them.
  */
final class MetricListener extends SparkListener {
  val jobs = new java.util.concurrent.atomic.AtomicInteger
  val cpuNs = new java.util.concurrent.atomic.AtomicLong
  val shuffleWriteBytes = new java.util.concurrent.atomic.AtomicLong
  /** Max single-task `peakExecutionMemory` since the last
    * [[resetPeakExecMem]] — the per-key memory-pressure channel (r21,
    * VERDICT r20 item 7): a state-heavy plan regression (a window
    * buffering a skewed key, a hash build outgrowing its side) shows
    * here at sf0.1 long before it OOMs at scale. A max cannot be
    * snapshot-subtracted like the cumulative counters, so the bench
    * RESETS it at each query's measurement window instead.
    */
  val peakExecMemBytes = new java.util.concurrent.atomic.AtomicLong

  def resetPeakExecMem(): Unit = peakExecMemBytes.set(0L)

  override def onJobStart(js: SparkListenerJobStart): Unit = {
    jobs.incrementAndGet(); ()
  }

  override def onTaskEnd(te: SparkListenerTaskEnd): Unit = {
    val tm = te.taskMetrics
    if (tm != null) {
      cpuNs.addAndGet(tm.executorCpuTime + tm.executorDeserializeCpuTime)
      shuffleWriteBytes.addAndGet(tm.shuffleWriteMetrics.bytesWritten)
      peakExecMemBytes.accumulateAndGet(tm.peakExecutionMemory, Math.max)
      ()
    }
  }
}

object MetricListener {
  /** Register a fresh listener on `sc` and return it. */
  def install(sc: SparkContext): MetricListener = {
    val l = new MetricListener
    sc.addSparkListener(l)
    l
  }
}
