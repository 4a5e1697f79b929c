package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graftshim.GraftSqlShim
import org.apache.spark.sql.streaming.StreamingQueryListener

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}
import scala.jdk.CollectionConverters._

/** Spark accounting of one measured body. [[measure]] puts a fresh job tag
  * (`SparkContext.addJobTag`) on the calling thread for the body's
  * duration; threads started under it inherit the tag, so a streaming
  * query started inside the body has its micro-batch jobs counted too (its
  * jobs run under the stream's own run-id job group, which is why a job
  * group would miss them). Jobs other threads run meanwhile carry no tag
  * and are not counted. The counters are read after the listener bus has
  * drained, so repeated runs of one plan report the same counts.
  */
object QueryMetrics {

  /** What one body cost:
    *   - `wallS`: wall seconds of the body;
    *   - `jobs`, `stages`, `tasks`: jobs started, stages completed and
    *     tasks ended under the tag (a skipped stage never completes);
    *   - `taskS`: summed task `executorRunTime`, in seconds;
    *   - shuffle read and write bytes, and spill bytes (disk + memory);
    *   - `batchMs`: the `triggerExecution` ms of each micro-batch of every
    *     stream whose jobs carry the tag, in arrival order.
    */
  final case class Record(
      wallS: Double,
      jobs: Int,
      stages: Int,
      tasks: Int,
      taskS: Double,
      shuffleReadBytes: Long,
      shuffleWriteBytes: Long,
      spillBytes: Long,
      batchMs: Seq[Long]
  ) {
    def json: String =
      f"""{"wall_s":$wallS%.3f,"jobs":$jobs,"stages":$stages,"tasks":$tasks,"task_s":$taskS%.3f,""" +
        s""""shuffle_read_bytes":$shuffleReadBytes,"shuffle_write_bytes":$shuffleWriteBytes,""" +
        s""""spill_bytes":$spillBytes,"batch_ms":${batchMs.mkString("[", ",", "]")}}"""
  }

  private val calls = new AtomicLong(0)

  /** Runs `body` under a fresh job tag and returns its result with its
    * [[Record]]. The listeners live for this call only; if `body` throws,
    * they are removed and the exception propagates.
    */
  def measure[A](spark: SparkSession, name: String)(body: => A): (A, Record) = {
    val sc = spark.sparkContext
    val collector = new Collector(s"graft-${name.replace(',', '_')}-${calls.incrementAndGet()}")
    sc.addSparkListener(collector)
    spark.streams.addListener(collector.batches)
    sc.addJobTag(collector.tag)
    try {
      val t0 = System.nanoTime()
      val out = body
      val wallS = (System.nanoTime() - t0) / 1e9
      GraftSqlShim.drainListenerBus(sc)
      (out, collector.record(wallS))
    } finally {
      sc.removeJobTag(collector.tag)
      spark.streams.removeListener(collector.batches)
      sc.removeSparkListener(collector)
    }
  }

  /** Job, stage and task callbacks arrive on the shared listener-bus
    * queue, stream progress on the streams queue; both are read only after
    * the bus has drained.
    */
  private final class Collector(val tag: String) extends SparkListener {
    private val stageIds = ConcurrentHashMap.newKeySet[Int]()
    private val streams = ConcurrentHashMap.newKeySet[String]()
    private val progress = new ConcurrentLinkedQueue[(String, Long)]()
    private val jobs, stages, tasks = new AtomicInteger(0)
    private val taskMs, shuffleRead, shuffleWrite, spill = new AtomicLong(0)

    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val props = Option(e.properties)
      def prop(key: String): Option[String] = props.flatMap(p => Option(p.getProperty(key)))
      if (prop("spark.job.tags").exists(_.split(',').contains(tag))) {
        jobs.incrementAndGet()
        e.stageIds.foreach(stageIds.add)
        prop("sql.streaming.queryId").foreach(streams.add)
      }
    }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      if (stageIds.contains(e.stageInfo.stageId)) stages.incrementAndGet()

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      if (stageIds.contains(e.stageId)) {
        tasks.incrementAndGet()
        val m = e.taskMetrics
        if (m != null) {
          taskMs.addAndGet(m.executorRunTime)
          shuffleRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
          shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
          spill.addAndGet(m.diskBytesSpilled + m.memoryBytesSpilled)
        }
      }

    val batches: StreamingQueryListener = new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
        Option(e.progress.durationMs.get("triggerExecution"))
          .foreach(ms => progress.add((e.progress.id.toString, ms.longValue)))
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    }

    def record(wallS: Double): Record =
      Record(
        wallS,
        jobs.get,
        stages.get,
        tasks.get,
        taskMs.get / 1e3,
        shuffleRead.get,
        shuffleWrite.get,
        spill.get,
        progress.asScala.collect { case (id, ms) if streams.contains(id) => ms }.toSeq
      )
  }
}
