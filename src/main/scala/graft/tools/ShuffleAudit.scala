package graft.tools

import graft.GraftSession
import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}

import java.util.concurrent.atomic.AtomicLong

/** Per-query shuffle accounting: runs headline queries and reports bytes
  * shuffled (written + read) and spilled per query — the numbers that
  * actually predict 100 TB behavior, where wall-clock on a laptop-scale
  * SF cannot. A query whose shuffle bytes grow super-linearly in SF is a
  * scale bug even when its local seconds look fine.
  *
  *   ShuffleAudit [sfDir] [query...]   → one JSON line per query
  */
object ShuffleAudit {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val names = if (args.length > 1) args.drop(1).toSeq else graft.Bench.headline
    val spark = GraftSession.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "8").toInt)
    spark.sparkContext.setLogLevel("ERROR")

    val written = new AtomicLong
    val read = new AtomicLong
    val spilled = new AtomicLong
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
        val m = sc.stageInfo.taskMetrics
        if (m != null) {
          written.addAndGet(m.shuffleWriteMetrics.bytesWritten)
          read.addAndGet(m.shuffleReadMetrics.totalBytesRead)
          spilled.addAndGet(m.diskBytesSpilled + m.memoryBytesSpilled)
        }
      }
    })

    val queries = graft.SparkEntry.queries
    names.foreach { name =>
      queries.get(name).foreach { fn =>
        written.set(0); read.set(0); spilled.set(0)
        try {
          fn(spark, sfDir).write.format("noop").mode("overwrite").save()
          // listener events are posted asynchronously; drain before reading
          org.apache.spark.sql.graftshim.GraftSqlShim.drainListenerBus(spark.sparkContext)
          println(
            s"""{"query":"$name","shuffle_write_bytes":${written.get},""" +
              s""""shuffle_read_bytes":${read.get},"spill_bytes":${spilled.get}}"""
          )
        } catch {
          case e: Throwable =>
            println(s"""{"query":"$name","error":"${Option(e.getMessage).getOrElse("?").take(120).replace("\"", "'")}"}""")
        }
        spark.catalog.clearCache()
      }
    }
    spark.stop()
  }
}
