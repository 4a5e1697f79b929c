package graft.queries

import graft.{GraftSession, QueryMetrics}
import graft.llmops.{AnnIndex, Similarity}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.execution.{ExplainMode, QueryExecution}
import org.apache.spark.sql.graftshim.GraftSqlShim
import org.apache.spark.sql.util.QueryExecutionListener

import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._

/** Diagnostic main: the executed plans of the IVF-PQ index lifecycle,
  * captured with a `QueryExecutionListener` as each query runs, after each
  * phase's total Spark job count, wall seconds and task seconds from
  * [[graft.QueryMetrics]]. The two fits of `fitIvfPq` run at once, so
  * their plans interleave in completion order. Three
  * audits, all at the fixture's knobs (cells 8, iters 2, m 8, ks 32,
  * pqIters 2):
  *   - `fit` (the default): one [[graft.llmops.AnnIndex.fitIvfPq]] on the
  *     `llm_ann_ivf_pq` fixture;
  *   - `append`: fit → save → load → append on the `llm_ann_index_append`
  *     fixture (the corpus is the rows with `vec_id % 5 != 0`, the
  *     appended batch the rest);
  *   - `ivfpq`: the `llm_ann_ivf_pq` query — [[graft.llmops.Similarity.ivfPqTopK]]
  *     (k 5, nprobe 2, rerank 50) on its fixture, collected;
  *   - `probe`: the `llm_ann_index_pruned` probe — fit, save and load
  *     untimed, one warm-up probe, then one
  *     [[graft.llmops.AnnIndex.probeIvfPqPruned]] of its batch (k 5,
  *     nprobe 2, rerank 50, excludeSelf), collected.
  * The fit and the pruned probe run while a query is being built and
  * their results are local, so no registered query's `.explain` can show
  * them. Not part of any gate or bench; run by hand via
  * `sbt "Test/runMain graft.queries.FitPlanAudit [sfDir] [fit|append|ivfpq|probe]"`.
  */
object FitPlanAudit {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val audit = args.lift(1).getOrElse("fit")
    require(Seq("fit", "append", "ivfpq", "probe").contains(audit), s"unknown audit $audit (fit, append, ivfpq or probe)")
    val spark = GraftSession.local(4)
    spark.sparkContext.setLogLevel("ERROR")
    val fx = LlmQueries.clusteredFixture(spark, sfDir).localCheckpoint(true)

    val executed = new ConcurrentLinkedQueue[(String, QueryExecution)]()
    spark.listenerManager.register(new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        executed.add((funcName, qe))
      override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    })

    /** `body` measured as `phase`, then the plans it executed. */
    def phase[A](name: String)(body: => A): A = {
      GraftSqlShim.drainListenerBus(spark.sparkContext)
      executed.clear()
      val (out, m) = QueryMetrics.measure(spark, name)(body)
      println(f"$name: ${m.jobs} Spark jobs, wall_s ${m.wallS}%.3f, task_s ${m.taskS}%.3f, ${executed.size} reported query executions")
      executed.asScala.zipWithIndex.foreach { case ((funcName, qe), i) =>
        println(s"\n================ $name execution ${i + 1}: $funcName ================")
        println(qe.explainString(ExplainMode.fromString("formatted")))
      }
      out
    }

    def fit(df: org.apache.spark.sql.DataFrame): AnnIndex.IvfPqIndex =
      AnnIndex.fitIvfPq(df, "vec_id", "v", cells = 8, iters = 2, seed = 42L, pqM = 8, pqKs = 32, pqIters = 2, dim = LlmQueries.EmbDim)

    if (audit == "fit") phase("fitIvfPq")(fit(fx))
    else if (audit == "ivfpq")
      phase("ivfPqTopK")(
        Similarity
          .ivfPqTopK(fx, "vec_id", "v", k = 5, cells = 8, nprobe = 2, iters = 2, seed = 42L, pqM = 8, pqKs = 32, pqIters = 2, rerank = 50, dim = LlmQueries.EmbDim)
          .select("qid", "nid", "rank")
          .collect()
      )
    else if (audit == "probe") {
      val dir = java.nio.file.Files.createTempDirectory("graft_fit_plan_audit").toString
      AnnIndex.save(fit(fx), dir)
      val loaded = AnnIndex.load(spark, dir)
      def probe(): Array[org.apache.spark.sql.Row] = AnnIndex
        .probeIvfPqPruned(loaded, fx.filter(col("vec_id") % 97 === 0), "vec_id", "v", k = 5, nprobe = 2, rerank = 50, rerankFrom = Some(fx), excludeSelf = true)
        .select("qid", "nid", "rank")
        .collect()
      probe()
      phase("probeIvfPqPruned")(probe())
    } else {
      val dir = java.nio.file.Files.createTempDirectory("graft_fit_plan_audit").toString
      val idx = phase("fitIvfPq")(fit(fx.filter(col("vec_id") % 5 =!= 0)))
      phase("save")(AnnIndex.save(idx, dir))
      phase("load")(AnnIndex.load(spark, dir))
      phase("append")(AnnIndex.append(spark, dir, fx.filter(col("vec_id") % 5 === 0), "vec_id", "v", batchId = 0L))
    }
    spark.stop()
  }
}
