package graft.queries

import graft.{GraftSession, QueryMetrics}
import graft.llmops.AnnIndex
import org.apache.spark.sql.execution.{ExplainMode, QueryExecution}
import org.apache.spark.sql.graftshim.GraftSqlShim
import org.apache.spark.sql.util.QueryExecutionListener

import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._

/** Diagnostic main: the executed plans of one IVF-PQ fit —
  * [[graft.llmops.AnnIndex.fitIvfPq]] on the `llm_ann_ivf_pq` fixture and
  * knobs (cells 8, iters 2, m 8, ks 32, pqIters 2) — captured with a
  * `QueryExecutionListener` as each query of the fit runs, after the fit's
  * total Spark job count from [[graft.QueryMetrics]]. The fit runs while a query is being built and its result is
  * local, so no registered query's `.explain` can show it. Not part of any
  * gate or bench; run by hand via
  * `sbt "Test/runMain graft.queries.FitPlanAudit [sfDir]"`.
  */
object FitPlanAudit {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val spark = GraftSession.local(4)
    spark.sparkContext.setLogLevel("ERROR")
    val fx = LlmQueries.clusteredFixture(spark, sfDir).localCheckpoint(true)

    val executed = new ConcurrentLinkedQueue[(String, QueryExecution)]()
    spark.listenerManager.register(new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        executed.add((funcName, qe))
      override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    })
    GraftSqlShim.drainListenerBus(spark.sparkContext)
    executed.clear()

    val (_, m) = QueryMetrics.measure(spark, "fitIvfPq") {
      AnnIndex.fitIvfPq(fx, "vec_id", "v", cells = 8, iters = 2, seed = 42L, pqM = 8, pqKs = 32, pqIters = 2, dim = LlmQueries.EmbDim)
    }
    println(s"fitIvfPq: ${m.jobs} Spark jobs, ${executed.size} reported query executions")
    executed.asScala.zipWithIndex.foreach { case ((funcName, qe), i) =>
      println(s"\n================ execution ${i + 1}: $funcName ================")
      println(qe.explainString(ExplainMode.fromString("formatted")))
    }
    spark.stop()
  }
}
