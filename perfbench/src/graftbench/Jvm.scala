package graftbench

import java.lang.management.{ManagementFactory, MemoryType}
import scala.jdk.CollectionConverters._

/** JVM and host probes: the calibration kernel, GC, heap and allocation. */
object Jvm {

  private val Mb = 1024.0 * 1024.0

  /** A fixed single-thread arithmetic kernel (xorshift + float accumulate),
    * median of three passes in ms. It does the same work on every commit,
    * so it tracks the speed of the host, not of the code.
    */
  def calibMs(): Double = {
    def pass(): Double = {
      val t0 = System.nanoTime()
      var x = 88172645463325252L
      var acc = 0.0
      var i = 0
      while (i < 30000000) {
        x ^= x << 13; x ^= x >>> 7; x ^= x << 17
        acc += (x & 1023) * 1e-3
        i += 1
      }
      if (acc == 42.0) println("") // keeps the loop live
      (System.nanoTime() - t0) / 1e6
    }
    Seq(pass(), pass(), pass()).sorted.apply(1)
  }

  /** Median over 5 blocks of `n` calls of `body`, in ns per call. */
  def perCallNs(n: Int)(body: => Any): Double = {
    val blocks = (0 until 5).map { _ =>
      val t0 = System.nanoTime()
      var i = 0
      while (i < n) { body; i += 1 }
      (System.nanoTime() - t0).toDouble / n
    }
    blocks.sorted.apply(2)
  }

  def gcMs(): Long = ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum

  private def heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala.filter(_.getType == MemoryType.HEAP)

  def resetPeaks(): Unit = heapPools.foreach(_.resetPeakUsage())

  def heapPeakMb(): Double = heapPools.map(_.getPeakUsage.getUsed).sum / Mb

  /** Heap in use after full collections: the state the run retains. The
    * pauses let Spark's ContextCleaner drop the blocks of RDDs and
    * broadcasts that the previous collection found unreachable.
    */
  def liveHeapMb(): Double = {
    (0 until 3).foreach { _ =>
      System.gc()
      Thread.sleep(300)
    }
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / Mb
  }

  private val threads = ManagementFactory.getThreadMXBean.asInstanceOf[com.sun.management.ThreadMXBean]

  /** Bytes allocated so far by the calling thread. */
  def allocated(): Long = threads.getCurrentThreadAllocatedBytes
}
