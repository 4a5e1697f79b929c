package graftbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable

/** In-memory span recorder. A traced op opens a root span (layer `bench`);
  * every [[span]] inside it on the same thread becomes a child of the
  * innermost open span. Each open span sets the thread's Spark job group to
  * `gb-<span id>`, so [[BenchListener]] can attach the jobs it launches as
  * child spans. Outside a traced op [[span]] just runs its body.
  */
final class Tracer(sc: SparkContext, val enabled: Boolean) {

  private final class Frame(val op: Long, val id: Long, val name: String, val parent: Frame)

  private val ids = new AtomicLong(0)
  private val current = new ThreadLocal[Frame]
  private val recorded = new ConcurrentLinkedQueue[Array[Any]]()

  def op[T](opId: Long, kind: String, traced: Boolean)(body: => T): T =
    if (enabled && traced && current.get == null) within(opId, "bench", kind)(body) else body

  def span[T](layer: String, name: String)(body: => T): T = {
    val parent = current.get
    if (parent == null) body else within(parent.op, layer, name)(body)
  }

  /** Recorded spans as `[op_id, span_id, parent, layer, name, start_ns, end_ns]`. */
  def spans: Seq[Array[Any]] = recorded.toArray(Array.empty[Array[Any]]).toSeq

  private def within[T](opId: Long, layer: String, name: String)(body: => T): T = {
    val parent = current.get
    val f = new Frame(opId, ids.incrementAndGet(), s"$layer/$name", parent)
    current.set(f)
    sc.setJobGroup(Tracer.group(f.id), f.name, interruptOnCancel = false)
    val start = System.nanoTime()
    try body
    finally {
      val end = System.nanoTime()
      recorded.add(Array[Any](opId, f.id, if (parent == null) 0L else parent.id, layer, name, start, end))
      current.set(parent)
      if (parent == null) sc.clearJobGroup()
      else sc.setJobGroup(Tracer.group(parent.id), parent.name, interruptOnCancel = false)
    }
  }
}

object Tracer {
  def group(spanId: Long): String = s"gb-$spanId"
}

/** Benchmark-owned Spark listener: per job its group, interval (on the
  * `System.nanoTime` clock the spans use), stages and tasks run, and the
  * summed task metrics. All callbacks arrive on the single listener-bus
  * thread; read [[jobs]] only after draining the bus.
  */
final class BenchListener extends SparkListener {

  final class JobRec(val id: Int, val group: String, val startNs: Long) {
    var endNs = 0L
    var stages = 0
    var tasks = 0
    var taskMs = 0L
    var shuffleReadBytes = 0L
    var shuffleWriteBytes = 0L
    var spillBytes = 0L
    var inputRecords = 0L
    var outputBytes = 0L
    var gcMs = 0L
  }

  // epoch ms (Spark event time) -> System.nanoTime domain
  private val nsOffset = System.nanoTime() - System.currentTimeMillis() * 1000000L
  private val byJob = mutable.LinkedHashMap.empty[Int, JobRec]
  private val byStage = mutable.HashMap.empty[Int, JobRec]

  private def ns(epochMs: Long): Long = epochMs * 1000000L + nsOffset

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val group = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).orNull
    val rec = new JobRec(e.jobId, group, ns(e.time))
    byJob(e.jobId) = rec
    e.stageIds.foreach(byStage(_) = rec)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    byJob.get(e.jobId).foreach(_.endNs = ns(e.time))

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    byStage.get(e.stageInfo.stageId).foreach(_.stages += 1)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    byStage.get(e.stageId).foreach { r =>
      r.tasks += 1
      val m = e.taskMetrics
      if (m != null) {
        r.taskMs += m.executorRunTime
        r.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
        r.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        r.spillBytes += m.diskBytesSpilled
        r.inputRecords += m.inputMetrics.recordsRead
        r.outputBytes += m.outputMetrics.bytesWritten
        r.gcMs += m.jvmGCTime
      }
    }

  /** `[job_id, group, start_ns, end_ns, stages, tasks, task_ms, shuffle_read_b,
    * shuffle_write_b, spill_b, input_records, output_b, gc_ms]` per job.
    */
  def jobs: Seq[Array[Any]] = byJob.values.toSeq.map { r =>
    Array[Any](
      r.id, r.group, r.startNs, r.endNs, r.stages, r.tasks, r.taskMs, r.shuffleReadBytes,
      r.shuffleWriteBytes, r.spillBytes, r.inputRecords, r.outputBytes, r.gcMs
    )
  }
}
