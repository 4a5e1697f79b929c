package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.graftshim.GraftSqlShim
import org.apache.spark.sql.util.QueryExecutionListener

import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._

/** One lazy local session shared across Spark-backed specs (mirrors the
  * reference's SparkRuntimeSpec session config: local, UI off, minimal
  * shuffle partitions).
  */
trait SparkTestSession {
  lazy val spark: SparkSession = SparkTestSession.session
}

object SparkTestSession {
  lazy val session: SparkSession = {
    val s = GraftSession.local(4)
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** `body`'s result and the query executions of `spark` it reported to
    * `QueryExecutionListener`s, as (name, execution) in completion order —
    * the plans an operator ran even when the frame it returns is local.
    */
  def executionsOf[A](spark: SparkSession)(body: => A): (A, Seq[(String, QueryExecution)]) = {
    val seen = new ConcurrentLinkedQueue[(String, QueryExecution)]()
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = seen.add((funcName, qe))
      override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    }
    GraftSqlShim.drainListenerBus(spark.sparkContext)
    spark.listenerManager.register(listener)
    try {
      val out = body
      GraftSqlShim.drainListenerBus(spark.sparkContext)
      (out, seen.asScala.toSeq)
    } finally spark.listenerManager.unregister(listener)
  }

  /** The executed plan of the one execution named `name` among `runs`. */
  def planNamed(runs: Seq[(String, QueryExecution)], name: String): String = {
    val named = runs.collect { case (`name`, qe) => qe.executedPlan.toString }
    assert(named.size == 1, s"expected one execution named $name, got ${runs.map(_._1).mkString(", ")}")
    named.head
  }
}
