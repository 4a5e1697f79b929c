package graft.tools

import graft.GraftSession
import org.apache.spark.sql.streaming.StreamingQueryListener

/** One-off profiler for the streaming batch-equivalence gates: runs each
  * t* query standalone and prints the per-micro-batch durationMs breakdown
  * (addBatch / walCommit / stateStore commit / etc.) so overhead — not
  * guesswork — decides the tuning.
  */
object StreamProfile {
  def main(args: Array[String]): Unit = {
    val sf = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
    spark.sparkContext.setLogLevel("WARN")

    spark.streams.addListener(new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
        val p = e.progress
        println(s"[profile] batch=${p.batchId} rows=${p.numInputRows} durationMs=${p.durationMs}")
        p.stateOperators.foreach { so =>
          println(
            s"[profile]   state op=${so.operatorName} rowsTotal=${so.numRowsTotal} " +
              s"commitMs=${so.commitTimeMs} memUsed=${so.memoryUsedBytes}"
          )
        }
      }
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    })

    val names = if (args.nonEmpty) args.toSeq else Seq("t4_stream_dedup_batch_eq")
    val qs = graft.queries.StreamingQueries.all.map(q => q.name -> q.fn).toMap
    names.foreach { n =>
      val t0 = System.nanoTime()
      val df = qs(n)(spark, sf)
      val rows = df.count()
      println(f"[profile] $n total=${(System.nanoTime() - t0) / 1e9}%.2f s rows=$rows")
    }
    spark.stop()
  }
}
