package graft.tools

import graft.{GraftSession, SparkEntry}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}

/** Per-query job/stage/task accounting (round 18 optimization round): runs
  * each named query REPS times through the noop sink and prints, per query,
  * wall seconds alongside the number of Spark jobs, stages and tasks and the
  * summed executor task time. A query whose wall time is many times its
  * summed task time is dominated by DRIVER orchestration (job scheduling,
  * plan compilation, fs round-trips), not by data work — the round-18
  * optimization target at bench scale and the job-count term that multiplies
  * per-query latency at any scale.
  *
  *   sbt "runMain graft.tools.JobStatsProbe [sfDir] [reps] [query...]"
  */
object JobStatsProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val reps = args.drop(1).headOption.map(_.toInt).getOrElse(2)
    val names = if (args.length > 2) args.drop(2).toSeq else Seq("llm_ann_ivf_pq")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = GraftSession.local(cpus.toInt)
    spark.sparkContext.setLogLevel("ERROR")

    val jobs = new java.util.concurrent.atomic.AtomicLong
    val stages = new java.util.concurrent.atomic.AtomicLong
    val tasks = new java.util.concurrent.atomic.AtomicLong
    val taskMs = new java.util.concurrent.atomic.AtomicLong
    val verbose = sys.env.get("JOBSTATS_VERBOSE").contains("1")
    val jobStartNs = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String)]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = {
        jobs.incrementAndGet()
        if (verbose) {
          val desc = j.stageInfos.map(_.name).mkString(" | ")
          jobStartNs.put(j.jobId, (System.nanoTime(), desc.take(180)))
        }
      }
      override def onJobEnd(j: org.apache.spark.scheduler.SparkListenerJobEnd): Unit =
        if (verbose) {
          Option(jobStartNs.remove(j.jobId)).foreach { case (t0, desc) =>
            println(f"    job ${j.jobId}%4d ${(System.nanoTime() - t0) / 1e3 / 1e3}%8.0f ms  $desc")
          }
        }
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit = stages.incrementAndGet()
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
        tasks.incrementAndGet()
        if (t.taskInfo != null) taskMs.addAndGet(t.taskInfo.duration)
      }
    })

    // warmup (same as Bench)
    spark.range(1000000).selectExpr("sum(id)").write.format("noop").mode("overwrite").save()
    spark.read.parquet(s"$sfDir/region.parquet").write.format("noop").mode("overwrite").save()

    val queries = SparkEntry.queries
    println(f"${"query"}%-45s ${"rep"}%3s ${"wall_s"}%7s ${"jobs"}%5s ${"stages"}%6s ${"tasks"}%6s ${"task_s"}%7s")
    names.foreach { name =>
      queries.get(name) match {
        case None => println(s"$name: NOT REGISTERED")
        case Some(fn) =>
          (1 to reps).foreach { rep =>
            jobs.set(0); stages.set(0); tasks.set(0); taskMs.set(0)
            val t0 = System.nanoTime()
            try {
              fn(spark, sfDir).write.format("noop").mode("overwrite").save()
              val wall = (System.nanoTime() - t0) / 1e9
              // brief pause so async listener events drain before reading counters
              Thread.sleep(150)
              println(f"$name%-45s $rep%3d $wall%7.2f ${jobs.get()}%5d ${stages.get()}%6d ${tasks.get()}%6d ${taskMs.get() / 1e3}%7.2f")
            } catch {
              case e: Throwable => println(s"$name rep $rep FAILED: ${e.getMessage.take(120)}")
            }
            spark.catalog.clearCache()
            spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
          }
      }
    }
    spark.stop()
  }
}
