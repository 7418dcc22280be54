package graft

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.json4s.{JDouble, JObject, JValue}

/** Per-query resource accounting for the bench (VERDICT r12 #3): wall
  * ratios alone can hide a cliff that only shows on a real cluster —
  * a query can stay flat in seconds while its shuffle volume or
  * per-task peak execution memory grows super-linearly (local[32]
  * shuffles through the page cache and one big heap; 1000 executors
  * shuffle through the network and per-executor memory limits). The
  * bench therefore records, per query window:
  *
  *   - shuffle bytes written / read (the network volume a cluster
  *     would move — THE scale-out cost driver),
  *   - memory + disk spill bytes (zero until an operator's working
  *     set outgrows its execution-memory share — any nonzero value at
  *     sf0.1 is an early warning),
  *   - max per-task peak execution memory (the quantity that must fit
  *     in an executor's task slot at 100 TB; a task-skew blowup shows
  *     here long before it OOMs).
  *
  * Totals are accumulated from task-end events; windows are made
  * exact by draining the (asynchronous) listener bus at both edges
  * ([[org.apache.spark.GraftCoreBridge.drainListenerBus]]). */
final class BenchMetricsListener extends SparkListener {
  private val shRead = new AtomicLong
  private val shWrite = new AtomicLong
  private val spillDisk = new AtomicLong
  private val spillMem = new AtomicLong
  private val peakTaskMem = new AtomicLong

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) {
      shRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
      shWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      spillDisk.addAndGet(m.diskBytesSpilled)
      spillMem.addAndGet(m.memoryBytesSpilled)
      peakTaskMem.getAndUpdate(p => math.max(p, m.peakExecutionMemory))
    }
  }

  def reset(): Unit = {
    shRead.set(0); shWrite.set(0); spillDisk.set(0); spillMem.set(0)
    peakTaskMem.set(0)
  }

  /** (shuffle read, shuffle write, spill disk+mem, max task peak mem),
    * all bytes. */
  def snapshot: (Long, Long, Long, Long) =
    (shRead.get, shWrite.get, spillDisk.get + spillMem.get,
      peakTaskMem.get)
}

object BenchMetricsListener {
  /** `v` rounded half-up to `digits` decimals, as a JSON number. */
  def rounded(v: Double, digits: Int): JValue =
    JDouble(BigDecimal(v).setScale(digits, BigDecimal.RoundingMode.HALF_UP).toDouble)

  /** One JSON object per query: MBs, one decimal — enough to spot a
    * 10× jump, compact enough for 400+ rows in BENCH_FULL.json. */
  def json(s: (Long, Long, Long, Long)): JValue = {
    def mb(b: Long): JValue = rounded(b / 1048576.0, 1)
    JObject("sh_r_mb" -> mb(s._1), "sh_w_mb" -> mb(s._2),
      "spill_mb" -> mb(s._3), "peak_task_mem_mb" -> mb(s._4))
  }
}
