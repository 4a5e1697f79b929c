package graft

import graft.contracts._
import graft.pipeline._
import graft.sources.{TypedSink, TypedSource}

/** Demo entry (mirrors the reference's CtdcPoc demo, CtdcPoc.scala:106-172):
  * green pipeline, construction-time drift fuse, runtime pin rejection —
  * driven against the real testdata parquet.
  *
  *   sbt "runMain graft.Demo"
  */
object Demo {

  case class CustomerRow(c_custkey: Long, c_name: String, c_nationkey: Int, c_acctbal: Double, c_mktsegment: String)
  case class CustomerSlim(c_custkey: Long, c_name: String, c_acctbal: Double)
  case class CustomerDrifted(c_custkey: Long, c_name: String)

  def main(args: Array[String]): Unit = {
    val spark = GraftSession.local(4)
    spark.sparkContext.setLogLevel("WARN")

    val sf = if (args.nonEmpty) args(0) else "/root/testdata/sf0.001"
    val out = java.nio.file.Files.createTempDirectory("graft-demo").toString

    // 1. Green path: typed scan -> pinned transform -> policy-pinned sink.
    val run = PipelineBuilder[Nothing]("demo")
      .addSource(TypedSource[CustomerRow]("parquet", s"$sf/customer.parquet"))
      .transformAs[CustomerSlim]("project 3 cols")(_.select("c_custkey", "c_name", "c_acctbal"))
      .addSink[CustomerSlim, SchemaPolicy.ExactT](TypedSink[CustomerSlim](s"$out/slim"))
      .build
    val df = run(spark)
    println(s"[demo] green path: wrote ${spark.read.parquet(s"$out/slim").count()} rows to $out/slim")
    df.show(3)

    // 2. Construction-time fuse: drifting sink contract throws while wiring.
    try {
      PipelineBuilder[Nothing]("drift")
        .addSource(TypedSource[CustomerRow]("parquet", s"$sf/customer.parquet"))
        .transformAs[CustomerDrifted]("too narrow")(_.select("c_custkey", "c_name"))
        .addSink[CustomerSlim, SchemaPolicy.ExactT](TypedSink[CustomerSlim](s"$out/never"))
      sys.error("drift was NOT caught — bug")
    } catch {
      case e: ContractViolation =>
        println(s"[demo] construction-time fuse fired as expected:\n${e.getMessage.linesIterator.take(4).mkString("\n")}")
    }

    // 3. Runtime pin: actual file schema drifts from the declared contract.
    try {
      val bad = spark.read.parquet(s"$sf/orders.parquet") // wrong table entirely
      SchemaCheck.assertMatchesContract[CustomerRow](bad)
      sys.error("runtime drift was NOT caught — bug")
    } catch {
      case e: ContractViolation =>
        println(s"[demo] runtime pin fired as expected: ${e.getMessage.linesIterator.take(3).mkString(" | ")}")
    }

    spark.stop()
    println("[demo] OK")
  }
}
