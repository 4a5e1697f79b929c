package graft

import org.apache.spark.sql.SparkSession

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
}
