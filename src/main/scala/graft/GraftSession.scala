package graft

import org.apache.spark.sql.SparkSession

/** The local `SparkSession` every graft main, tool and Spark-backed spec
  * starts from: `local[cpus]` with `cpus` shuffle partitions, UTC session
  * time zone, UI off, TIMESTAMP(NANOS) parquet read as epoch-ns Long
  * (`QueryDef.normalizeTs` assumes it), and a fresh temporary warehouse so
  * `saveAsTable` never writes into the working directory.
  */
object GraftSession {

  def builder(cpus: Int): SparkSession.Builder =
    SparkSession
      .builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toLong)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.warehouse.dir", java.nio.file.Files.createTempDirectory("graft_wh").toString)

  def local(cpus: Int): SparkSession = builder(cpus).getOrCreate()
}
