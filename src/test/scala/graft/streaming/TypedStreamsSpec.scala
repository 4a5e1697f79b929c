package graft.streaming

import graft.SparkTestSession
import graft.model.Tables.DocumentRow
import graft.sources.TypedSource
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.Files
import java.sql.Timestamp

/** Streaming specs: MemoryStream-driven micro-batches through the
  * contract-pinned streaming surface.
  */
class TypedStreamsSpec extends AnyFunSuite with SparkTestSession {

  import spark.implicits._

  test("windowedCounts: watermarked tumbling window counts per key") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Timestamp, Long)]
    val df = input.toDF().toDF("ts", "user_id")
    val counts = TypedStreams.windowedCounts(df, "ts", "user_id", "10 minutes", "5 minutes")
    val q = counts.writeStream.format("memory").queryName("win_counts").outputMode("complete").start()
    try {
      def t(s: String) = Timestamp.valueOf(s)
      input.addData(
        (t("2026-01-01 00:01:00"), 1L),
        (t("2026-01-01 00:02:00"), 1L),
        (t("2026-01-01 00:06:00"), 1L),
        (t("2026-01-01 00:01:30"), 2L)
      )
      q.processAllAvailable()
      val rows = spark.table("win_counts").as[(Timestamp, Timestamp, Long, Long)].collect()
      val m = rows.map(r => (r._1.toString, r._3) -> r._4).toMap
      assert(m(("2026-01-01 00:00:00.0", 1L)) == 2L)
      assert(m(("2026-01-01 00:05:00.0", 1L)) == 1L)
      assert(m(("2026-01-01 00:00:00.0", 2L)) == 1L)
    } finally q.stop()
  }

  test("sessionize: flatMapGroupsWithState closes sessions on gap") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[TypedStreams.SessionEvent]
    val sessions = TypedStreams.sessionize(input.toDS(), gapMillis = 60000L, withTimeout = false)
    val q = sessions.writeStream.format("memory").queryName("sessions").outputMode("append").start()
    try {
      // two sessions for key 1 in one batch (gap > 60s closes the first)
      input.addData(
        TypedStreams.SessionEvent(1L, 0L),
        TypedStreams.SessionEvent(1L, 30000L),
        TypedStreams.SessionEvent(1L, 200000L),
        TypedStreams.SessionEvent(2L, 0L)
      )
      q.processAllAvailable()
      val closed = spark.table("sessions").as[TypedStreams.SessionOut].collect()
      assert(closed.toSeq == Seq(TypedStreams.SessionOut(1L, 0L, 30000L, 2L)))
    } finally q.stop()
  }

  test("streamingDedupExact drops duplicate content within the watermark") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Timestamp, String)]
    val df = input.toDF().toDF("ts", "text")
    val deduped = TypedStreams.streamingDedupExact(df, "ts", "10 minutes")
    val q = deduped.writeStream.format("memory").queryName("dedup_stream").outputMode("append").start()
    try {
      def t(s: String) = Timestamp.valueOf(s)
      input.addData(
        (t("2026-01-01 00:01:00"), "hello world"),
        (t("2026-01-01 00:02:00"), "hello world"), // dup within watermark
        (t("2026-01-01 00:03:00"), "different doc")
      )
      q.processAllAvailable()
      val texts = spark.table("dedup_stream").select("text").as[String].collect().sorted
      assert(texts.toSeq == Seq("different doc", "hello world"))
    } finally q.stop()
  }

  test("readStream forces the contract schema on a file source") {
    implicit val s = spark
    // file streaming sources need a directory; stage the single-file table
    val srcDir = Files.createTempDirectory("graft-stream-src")
    Files.copy(
      java.nio.file.Paths.get("/root/testdata/sf0.001/documents.parquet"),
      srcDir.resolve("part-0.parquet")
    )
    val docs = TypedStreams.readStream(
      TypedSource[DocumentRow]("parquet", srcDir.toString)
    )
    assert(docs.isStreaming)
    val stats = TypedStreams.streamingTextStats(docs)
    val out = Files.createTempDirectory("graft-stream").toString
    val q = TypedStreams
      .writeStream[DocumentRow, graft.contracts.SchemaPolicy.BackwardT](
        stats.select("doc_id", "text", "lang", "source", "n_chars"),
        s"$out/sink",
        s"$out/ckpt"
      )
      .start()
    try {
      q.processAllAvailable()
      assert(spark.read.parquet(s"$out/sink").count() > 0)
    } finally q.stop()
  }

  test("streamed ANN probe: each micro-batch statically prunes the index scan to its probed cells") {
    import graft.llmops.AnnIndex
    import org.apache.spark.sql.functions.col
    // 3 well-separated clusters so cell assignment is stable; index frozen
    val rnd = new scala.util.Random(7)
    val vecs = (0 until 60).map { i =>
      (i.toLong, Seq.tabulate(8)(j => (i % 3 * 5).toFloat + rnd.nextFloat() * 0.1f))
    }
    val df = vecs.toDF("vec_id", "v").localCheckpoint(true)
    val dir = Files.createTempDirectory("graft-t12spec-idx").toString
    AnnIndex.save(AnnIndex.fitIvfPq(df, "vec_id", "v", cells = 3, iters = 2, pqM = 2, pqKs = 4, pqIters = 2, dim = 8), dir)
    val loaded = AnnIndex.load(spark, dir)
    // stream 2 micro-batches of queries from ONE cluster each
    val in = Files.createTempDirectory("graft-t12spec-in").toString
    val out = Files.createTempDirectory("graft-t12spec-out").toString
    df.filter(col("vec_id") % 3 === 0).limit(2).write.parquet(s"$in/b0")
    df.filter(col("vec_id") % 3 === 1).limit(2).write.parquet(s"$in/b1")
    // the probe returns a local relation: its codes scan runs as the
    // execution named probeIvfPqPruned.shortlist
    val (_, runs) = graft.SparkTestSession.executionsOf(spark) {
      spark.readStream
        .schema("vec_id LONG, v ARRAY<DOUBLE>")
        .option("maxFilesPerTrigger", "1")
        .parquet(s"$in/*")
        .writeStream
        .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
          AnnIndex
            .probeIvfPqPruned(loaded, batch, "vec_id", "v", k = 3, nprobe = 1)
            .select("qid", "nid", "rank")
            .write
            .mode("append")
            .parquet(out)
          ()
        }
        .option("checkpointLocation", Files.createTempDirectory("graft-t12spec-ckpt").toString)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
        .awaitTermination()
    }
    val plans = runs.collect { case ("probeIvfPqPruned.shortlist", qe) => qe.executedPlan.toString }
    assert(plans.size >= 2, s"expected >= 2 micro-batches, got ${plans.size}")
    // every micro-batch's codes scan carries a static __cid IN partition
    // filter — the streamed probe reads only the probed cells' files
    plans.foreach { p =>
      // a 1-cell batch's IN list constant-folds to equality — both forms
      // are the same static pruning
      assert(
        "PartitionFilters: \\[[^\\]]*__cid[^\\]]*(IN|=)".r.findFirstIn(p).nonEmpty,
        s"streamed probe plan lacks a static __cid partition filter:\n$p"
      )
    }
    // and the streamed sink equals the one-shot batch probe of the same qids
    val streamed = spark.read.parquet(out)
      .select("qid", "nid", "rank").as[(Long, Long, Long)].collect().sortBy(r => (r._1, r._3)).toSeq
    val qids = streamed.map(_._1).distinct.sorted
    val direct = AnnIndex
      .probeIvfPqPruned(loaded, df.filter(col("vec_id").isin(qids: _*)), "vec_id", "v", k = 3, nprobe = 1)
      .select("qid", "nid", "rank").as[(Long, Long, Long)].collect().sortBy(r => (r._1, r._3)).toSeq
    assert(streamed == direct)
  }

  test("streamed index append: probe of the streamed-appended index is bit-identical to the one-shot batch append") {
    import graft.llmops.AnnIndex
    import org.apache.spark.sql.functions.col
    val rnd = new scala.util.Random(11)
    val vecs = (0 until 60).map { i =>
      (i.toLong, Seq.tabulate(8)(_ => (i % 3 * 5).toFloat + rnd.nextFloat() * 0.1f))
    }
    val df = vecs.toDF("vec_id", "v").localCheckpoint(true)
    val corpus = df.filter(col("vec_id") % 5 =!= 0)
    val batch = df.filter(col("vec_id") % 5 === 0).localCheckpoint(true)
    val idx = AnnIndex.fitIvfPq(corpus, "vec_id", "v", cells = 3, iters = 2, pqM = 2, pqKs = 4, pqIters = 2, dim = 8)
    val dirA = Files.createTempDirectory("graft-t13spec-a").toString
    val dirB = Files.createTempDirectory("graft-t13spec-b").toString
    AnnIndex.save(idx, dirA)
    AnnIndex.save(idx, dirB)
    AnnIndex.append(spark, dirA, batch, "vec_id", "v", batchId = 0L) // one-shot batch append
    // the same batch as >= 2 micro-batch appends
    val in = Files.createTempDirectory("graft-t13spec-in").toString
    batch.filter(col("vec_id") % 2 === 0).write.parquet(s"$in/b0")
    batch.filter(col("vec_id") % 2 =!= 0).write.parquet(s"$in/b1")
    spark.readStream
      .schema("vec_id LONG, v ARRAY<DOUBLE>")
      .option("maxFilesPerTrigger", "1")
      .parquet(s"$in/*")
      .writeStream
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, id: Long) =>
        AnnIndex.append(spark, dirB, b, "vec_id", "v", batchId = id)
        ()
      }
      .option("checkpointLocation", Files.createTempDirectory("graft-t13spec-ckpt").toString)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
      .awaitTermination()
    def probed(dir: String): Seq[(Long, Long, Long)] = AnnIndex
      .probeIvfPq(AnnIndex.load(spark, dir), df, "vec_id", "v", k = 3, nprobe = 2, excludeSelf = true)
      .select("qid", "nid", "rank").as[(Long, Long, Long)].collect().sortBy(identity).toSeq
    assert(probed(dirB) == probed(dirA))
    // the staleness ledger accounts for exactly the appended rows
    import org.apache.spark.sql.functions.sum
    val added = AnnIndex.staleness(spark, dirB).agg(sum("added")).as[Long].head()
    assert(added == batch.count())
  }
}
