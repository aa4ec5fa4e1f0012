package perfbench

import java.util.concurrent.atomic.AtomicLong
import java.util.concurrent.locks.LockSupport

import scala.collection.mutable

import org.apache.spark.BenchBus

/** The peak of Spark's managed memory (execution plus storage, see
  * `BenchBus.managedMemoryUsed`) per unit, sampled every millisecond by
  * a daemon thread. Unlike the process's resident size, it does not
  * depend on how far the collector happened to grow the heap, and it
  * moves with the program's buffers, caches, persists and checkpoints.
  */
final class MemoryWatch {
  private val peak = new AtomicLong
  @volatile private var running = true
  private val perName = mutable.LinkedHashMap[String, mutable.ArrayBuffer[Double]]()

  private val sampler = new Thread(() => {
    while (running) {
      peak.accumulateAndGet(BenchBus.managedMemoryUsed(), math.max)
      LockSupport.parkNanos(1000000L)
    }
  }, "perfbench-memory")
  sampler.setDaemon(true)
  sampler.start()

  def beforeUnit(): Unit = peak.set(BenchBus.managedMemoryUsed())

  def afterUnit(name: String): Unit =
    perName.getOrElseUpdate(name, mutable.ArrayBuffer()) += peak.get / 1048576.0

  def stop(): Unit = { running = false; sampler.join() }

  /** Each unit kind at the median of its peaks; the largest of those, in MB. */
  def peakMb: Double =
    if (perName.isEmpty) 0.0 else perName.values.map(v => Stats.median(v.toSeq)).max
}
