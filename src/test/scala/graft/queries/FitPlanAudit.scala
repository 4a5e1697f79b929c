package graft.queries

import graft.GraftSession
import graft.llmops.AnnIndex
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.execution.{ExplainMode, QueryExecution}
import org.apache.spark.sql.graftshim.GraftSqlShim
import org.apache.spark.sql.util.QueryExecutionListener

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger
import scala.jdk.CollectionConverters._

/** Diagnostic main: the executed plans of one IVF-PQ fit —
  * [[graft.llmops.AnnIndex.fitIvfPq]] on the `llm_ann_ivf_pq` fixture and
  * knobs (cells 8, iters 2, m 8, ks 32, pqIters 2) — captured with a
  * `QueryExecutionListener` as each query of the fit runs, each with the
  * number of Spark jobs it launched, after the fit's total job count (an
  * execution that reports no name to listeners, such as an internal
  * collect, has its jobs counted with the next reported one). The
  * fit runs while a query is being built and its result is local, so no
  * registered query's `.explain` can show it. Not part of any gate or
  * bench; run by hand via
  * `sbt "Test/runMain graft.queries.FitPlanAudit [sfDir]"`.
  */
object FitPlanAudit {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val spark = GraftSession.local(4)
    spark.sparkContext.setLogLevel("ERROR")
    val sc = spark.sparkContext
    val fx = LlmQueries.clusteredFixture(spark, sfDir).localCheckpoint(true)

    // The listener and the QueryExecutionListener share the listener bus's
    // shared queue, so they see events in order: the jobs counted between
    // two reported executions are the later one's.
    val jobs = new AtomicInteger(0)
    val sinceLast = new AtomicInteger(0)
    sc.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        jobs.incrementAndGet()
        sinceLast.incrementAndGet()
      }
    })
    val executed = new ConcurrentLinkedQueue[(String, QueryExecution, Int)]()
    spark.listenerManager.register(new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        executed.add((funcName, qe, sinceLast.getAndSet(0)))
      override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    })
    GraftSqlShim.drainListenerBus(sc)
    jobs.set(0)
    sinceLast.set(0)
    executed.clear()

    AnnIndex.fitIvfPq(fx, "vec_id", "v", cells = 8, iters = 2, seed = 42L, pqM = 8, pqKs = 32, pqIters = 2, dim = LlmQueries.EmbDim)
    GraftSqlShim.drainListenerBus(sc)

    println(
      s"fitIvfPq: ${jobs.get} Spark jobs, ${executed.size} reported query executions, " +
        s"${sinceLast.get} jobs after the last of them"
    )
    executed.asScala.zipWithIndex.foreach { case ((funcName, qe, n), i) =>
      println(s"\n================ execution ${i + 1}: $funcName, $n jobs ================")
      println(qe.explainString(ExplainMode.fromString("formatted")))
    }
    spark.stop()
  }
}
