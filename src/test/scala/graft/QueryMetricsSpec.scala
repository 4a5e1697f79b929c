package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.Files
import java.util.concurrent.CountDownLatch

/** [[QueryMetrics.measure]]'s accounting: exact job, stage and task counts
  * for fixed-partition plans, tag-scoped attribution (another thread's
  * jobs are not counted, a stream's micro-batch jobs are), and counts that
  * repeat exactly with no sleep between runs.
  */
class QueryMetricsSpec extends AnyFunSuite with SparkTestSession {

  private def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** No shuffle: one job of one stage, one task per input partition. */
  private def oneStage(): Unit = noop(spark.range(0, 1000, 1, 4).selectExpr("id * 2 AS x"))

  /** One round-robin shuffle, 4 map partitions into 3: AQE runs the map
    * stage as its own job, then the result job, whose copy of the map
    * stage is skipped.
    */
  private def oneShuffle(): Unit = noop(spark.range(0, 1000, 1, 4).repartition(3).selectExpr("id + 1 AS x"))

  private def counts(m: QueryMetrics.Record): (Int, Int, Int) = (m.jobs, m.stages, m.tasks)

  test("a one-stage and a one-shuffle query report exact jobs, stages and tasks") {
    val (_, narrow) = QueryMetrics.measure(spark, "one-stage")(oneStage())
    assert(counts(narrow) == ((1, 1, 4)))
    val (_, wide) = QueryMetrics.measure(spark, "one-shuffle")(oneShuffle())
    assert(counts(wide) == ((2, 2, 7)))
    assert(wide.shuffleWriteBytes > 0 && wide.shuffleReadBytes > 0)
    assert(narrow.shuffleWriteBytes == 0 && narrow.batchMs.isEmpty)
  }

  test("a job another thread runs without the tag is not counted") {
    val go, done = new CountDownLatch(1)
    val other = new Thread(() => {
      go.await()
      noop(spark.range(0, 100, 1, 2).toDF())
      done.countDown()
    })
    other.start()
    val (_, m) = QueryMetrics.measure(spark, "tagged") {
      go.countDown()
      done.await()
      oneStage()
    }
    other.join()
    assert(counts(m) == ((1, 1, 4)), s"only the tagged one-stage job counts: $m")
  }

  test("an AvailableNow stream started inside measure has its micro-batch jobs and durations counted") {
    val in = Files.createTempDirectory("graft_qm_in").toString
    val ckpt = Files.createTempDirectory("graft_qm_ckpt").toString
    (0 until 3).foreach(i => spark.range(i * 10, i * 10 + 10, 1, 1).write.mode("append").parquet(in))
    val sc = spark.sparkContext
    // measure's per-call listeners are gone afterwards
    val listeners = spark.streams.listListeners().length
    val (_, m) = QueryMetrics.measure(spark, "stream") {
      sc.setJobGroup("graft-qm-caller", "caller's group")
      try
        spark.readStream
          .schema("id LONG")
          .option("maxFilesPerTrigger", "1")
          .parquet(in)
          .writeStream
          .format("noop")
          .option("checkpointLocation", ckpt)
          .trigger(Trigger.AvailableNow())
          .start()
          .awaitTermination()
      finally sc.clearJobGroup()
    }
    // one job and one completed micro-batch per input file
    assert(m.jobs == 3 && m.batchMs.size == 3, m)
    assert(m.batchMs.forall(_ > 0), m)
    // the micro-batches ran under the stream's own job group, not the caller's
    assert(sc.statusTracker.getJobIdsForGroup("graft-qm-caller").isEmpty)
    assert(spark.streams.listListeners().length == listeners)
  }

  test("20 measurements of one query in a row report identical counts") {
    val seen = (1 to 20).map(i => counts(QueryMetrics.measure(spark, s"repeat-$i")(oneShuffle())._2))
    assert(seen.distinct == Seq((2, 2, 7)))
  }
}
