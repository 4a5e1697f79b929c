package graft.queries

import graft.{GraftSession, QueryMetrics}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** Diagnostic main (round 18, VERDICT r17 item 4): re-runs the t17 gate's
  * exact body N times in one warmed JVM with PER-PHASE wall seconds,
  * Spark jobs and task seconds ([[graft.QueryMetrics]]), to
  * attribute the 16.6/20.1/48.4 s min/median/max spread BENCH_r17
  * recorded — the only query with a > 2× tail. Not part of any gate or
  * bench; run by hand via `sbt "Test/runMain graft.queries.T17TailProbe"`.
  */
object T17TailProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val reps = args.headOption.map(_.toInt).getOrElse(6)
    val spark = GraftSession.local(cpus.toInt)
    spark.sparkContext.setLogLevel("WARN")
    spark.range(1000000).selectExpr("sum(id)").write.format("noop").mode("overwrite").save()

    import graft.llmops.AnnIndex
    import QueryDef.tmpDir

    (0 until reps).foreach { rep =>
      val phases = scala.collection.mutable.ArrayBuffer.empty[(String, QueryMetrics.Record)]
      def timed[A](label: String)(body: => A): A = {
        val (r, m) = QueryMetrics.measure(spark, label)(body)
        phases += ((label, m))
        r
      }
      val tRun0 = System.nanoTime()
      val in = tmpDir("t17p_in")
      val out = tmpDir("t17p_out")
      val ckpt = tmpDir("t17p_ckpt")
      val dir = tmpDir("t17p_idx")
      val fx = timed("fixture")(LlmQueries.driftedFixture(spark, sfDir).localCheckpoint(true))
      val corpus = fx.filter(col("vec_id") % 5 =!= 0)
      val batch = fx.filter(col("vec_id") % 5 === 0)
      val idx = timed("fit0")(
        AnnIndex.fitIvfPq(corpus, "vec_id", "v", cells = 8, iters = 2, seed = 42L, pqM = 8, pqKs = 32, pqIters = 2, dim = LlmQueries.EmbDim)
      )
      timed("save0")(AnnIndex.save(idx, dir))
      timed("append0")(AnnIndex.append(spark, dir, batch, "vec_id", "v", batchId = 0L))
      val pinned = timed("pin")(AnnIndex.load(spark, dir))
      val probeQs = fx.filter(col("vec_id") % 97 === 0).select("vec_id", "v").coalesce(1)
      (0 until 3).foreach { i =>
        probeQs.write.mode(if (i == 0) "overwrite" else "append").parquet(in)
      }
      timed("stream") {
        spark.readStream
          .schema("vec_id LONG, v ARRAY<DOUBLE>")
          .option("maxFilesPerTrigger", "1")
          .parquet(in)
          .writeStream
          .foreachBatch { (b: org.apache.spark.sql.DataFrame, id: Long) =>
            if (id == 1L && AnnIndex.retainedGenerations(spark, dir).size < 2) {
              val fresh = timed(s"b$id.fit1")(
                AnnIndex.fitIvfPq(fx, "vec_id", "v", cells = 8, iters = 2, seed = 42L, pqM = 8, pqKs = 32, pqIters = 2, dim = LlmQueries.EmbDim)
              )
              timed(s"b$id.save1")(AnnIndex.save(fresh, dir))
              timed(s"b$id.vacuum")(AnnIndex.vacuum(spark, dir))
            }
            val loaded = timed(s"b$id.load")(AnnIndex.load(spark, dir))
            val probed = AnnIndex
              .probeIvfPqPruned(loaded, b, "vec_id", "v", k = 5, nprobe = 2, rerank = 50, rerankFrom = Some(fx), excludeSelf = true)
              .select("qid", "nid", "rank")
            val withPinned =
              if (id == 2L)
                probed.unionByName(
                  AnnIndex
                    .probeIvfPqPruned(pinned, b, "vec_id", "v", k = 5, nprobe = 2, rerank = 50, rerankFrom = Some(fx), excludeSelf = true)
                    .select("qid", "nid", "rank")
                )
              else probed
            timed(s"b$id.probe_write")(withPinned.write.mode("append").parquet(out))
            ()
          }
          .option("checkpointLocation", ckpt)
          .trigger(Trigger.AvailableNow())
          .start()
          .awaitTermination()
      }
      timed("read_dedup")(
        spark.read.parquet(out).dropDuplicates("qid", "nid", "rank").write.format("noop").mode("overwrite").save()
      )
      val total = (System.nanoTime() - tRun0) / 1e9
      println(f"[t17probe] rep=$rep total=$total%.2f " + phases.map { case (l, m) => f"$l=${m.wallS}%.2f/${m.jobs}j/${m.taskS}%.2fts" }.mkString(" "))
    }
    spark.stop()
  }
}
