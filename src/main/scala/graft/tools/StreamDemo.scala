package graft.tools

import graft.GraftSession
import graft.model.Tables.DocumentRow
import graft.sources.TypedSource
import graft.streaming.TypedStreams
import org.apache.spark.sql.SparkSession

/** End-to-end streaming demo: file source (contract-pinned) → per-row
  * llmops text stats → policy-pinned parquet sink. New files dropped into
  * the source dir are picked up by subsequent micro-batches.
  *
  *   sbt "runMain graft.tools.StreamDemo"
  */
object StreamDemo {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.local(4)
    spark.sparkContext.setLogLevel("ERROR")
    implicit val s: SparkSession = spark

    val work = java.nio.file.Files.createTempDirectory("graft-stream-demo")
    val srcDir = work.resolve("in")
    java.nio.file.Files.createDirectories(srcDir)
    java.nio.file.Files.copy(
      java.nio.file.Paths.get("/root/testdata/sf0.001/documents.parquet"),
      srcDir.resolve("batch-0.parquet")
    )

    val docs = TypedStreams.readStream(TypedSource[DocumentRow]("parquet", srcDir.toString))
    val stats = TypedStreams
      .streamingTextStats(docs)
      .select("doc_id", "text", "lang", "source", "n_chars")
    val q = TypedStreams
      .writeStream[DocumentRow, graft.contracts.SchemaPolicy.ExactT](
        stats,
        s"$work/out",
        s"$work/ckpt"
      )
      .start()
    q.processAllAvailable()
    val n1 = spark.read.parquet(s"$work/out").count()
    println(s"[stream-demo] batch 1: $n1 rows in sink")

    // drop a second file; the stream must pick it up incrementally
    java.nio.file.Files.copy(
      java.nio.file.Paths.get("/root/testdata/sf0.01/documents.parquet"),
      srcDir.resolve("batch-1.parquet")
    )
    q.processAllAvailable()
    val n2 = spark.read.parquet(s"$work/out").count()
    println(s"[stream-demo] batch 2: $n2 rows in sink (incremental pickup: ${n2 - n1})")
    q.stop()
    println(if (n1 > 0 && n2 > n1) "[stream-demo] OK" else "[stream-demo] FAILED")
    spark.stop()
  }
}
