package graftbench

import graft.contracts._
import graft.pipeline.PipelineBuilder
import graft.sources.{TypedIO, TypedSink, TypedSource}
import graftbench.Contracts._
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import java.nio.file.Path

/** `contract_etl`: two contract pipelines over generated orders, alternating.
  * `write` keeps ~72% of the rows, derives `net` and writes them under
  * `Exact`; `rollup` groups by (cust_id, status) into a small sink whose
  * `Backward` contract has one optional field more. Each op's output is
  * checked against a plain-DataFrame oracle: per-status row counts and the
  * sum of `net`. After the window a [[ContractProbe]] checks definition-time
  * contract enforcement, and in a traced run times it.
  */
final class ContractEtl(h: Harness) extends Workload {
  import ContractEtl._
  import h.{spark, tracer}

  private val ordersPath = h.dir("contract_etl/orders")
  private var src: TypedSource[Order] = _
  private var writeOracle: Map[String, (Long, Double)] = Map.empty
  private var rollupOracle: Map[String, (Long, Double)] = Map.empty
  private val netOut = h.dir("contract_etl/out/net").toString
  private val rollupOut = h.dir("contract_etl/out/rollup").toString
  private val contracts = new ContractProbe(h)

  /** Generates the orders and computes the oracle, which reads the same
    * files as plain parquet, without graft.
    */
  override def prepare(): Unit = {
    generate(ordersPath)
    val plain = spark.read.parquet(ordersPath.toString)
    writeOracle = perStatus(plain.where("status <> 'cancelled' AND qty >= 3"), "count(*)", "sum(qty * price * (1 - discount))")
    rollupOracle = perStatus(plain, "count(*)", "sum(qty * price * (1 - discount))")
    h.extra("write_rows") = writeOracle.values.map(_._1).sum
  }

  /** The typed source and a first (write, rollup) pair, checked like every
    * op; the first set-up of a JVM is the cold one.
    */
  def setup(rep: Int): Unit = {
    src = TypedSource[Order]("parquet", ordersPath.toString)
    write(traced = false)
    rollup(traced = false)
  }

  /** Op latency keeps falling over the first pairs of a JVM. */
  override def warm(): Unit = (0 until WarmPairs).foreach { _ =>
    write(traced = false)
    rollup(traced = false)
  }

  /** Whole (write, rollup) pairs, so every window has the same op mix. */
  def measure(): Unit = {
    var i = 0L
    while (h.windowOpen) {
      write(h.traceOp(i))
      rollup(h.traceOp(i))
      i += 1
    }
  }

  override def verify(): Unit = contracts.check()

  override def attribute(): Unit = {
    (0 until 3).foreach { _ =>
      tracer.op(h.nextId(), "attr_write", traced = true) {
        val df = keepAndNet(TypedIO.readDF(src)(spark, ShapeOf[Order]))
        tracer.span("sources", "TypedIO.writeDF") {
          TypedIO.writeDF[OrderNet, SchemaPolicy.ExactT](df, TypedSink[OrderNet](s"$netOut-attr"))
        }
      }
    }
    contracts.attribute()
  }

  private def write(traced: Boolean): Unit =
    h.op("write", traced, Rows) {
      val run = tracer.span("pipeline", "wire") {
        PipelineBuilder[Order]("orders-net")
          .addSourceDF[Order] { s =>
            val shape = tracer.span("contracts", "ShapeOf")(ShapeOf[Order])
            tracer.span("sources", "TypedIO.readDF")(TypedIO.readDF(src)(s, shape))
          }
          .transformAs[OrderNet]("keep and derive net")(keepAndNet)
          .addSink[OrderNet, SchemaPolicy.ExactT](TypedSink[OrderNet](netOut))
          .build
      }
      tracer.span("pipeline", "run")(run(spark))
    }(_ => matches(perStatus(spark.read.parquet(netOut), "count(*)", "sum(net)"), writeOracle))

  private def rollup(traced: Boolean): Unit =
    h.op("rollup", traced, Rows) {
      val run = tracer.span("pipeline", "wire") {
        PipelineBuilder[Order]("cust-status")
          .addSource(src)
          .transformAs[CustStatus]("per customer and status") { df =>
            df.groupBy("cust_id", "status").agg(count(lit(1)).as("orders"), sum(net).as("net"))
          }
          .addSink[CustStatusSink, SchemaPolicy.BackwardT](TypedSink[CustStatusSink](rollupOut))
          .build
      }
      tracer.span("pipeline", "run")(run(spark))
    }(_ => matches(perStatus(spark.read.parquet(rollupOut), "sum(orders)", "sum(net)"), rollupOracle))

  private def generate(path: Path): Unit = {
    val seed = h.args.seed
    def pick(k: Int, n: Long): Column = pmod(xxhash64(col("id"), lit(seed), lit(k)), lit(n))
    def oneOf(k: Int, xs: String*): Column = element_at(array(xs.map(lit): _*), (pick(k, xs.size.toLong) + 1).cast("int"))
    spark
      .range(0, Rows, 1, h.cores)
      .select(
        col("id").as("order_id"),
        pick(1, Customers).as("cust_id"),
        oneOf(2, "pending", "paid", "shipped", "delivered", "cancelled").as("status"),
        (pick(3, 20) + 1).cast("int").as("qty"),
        (pick(4, 100000) / 100.0).as("price"),
        (pick(5, 30) / 100.0).as("discount"),
        when(pick(6, 4) === 0, concat(lit("gift-"), col("id").cast("string"))).as("note"),
        struct(
          oneOf(7, "Utrecht", "Leiden", "Delft", "Gouda", "Breda", "Assen", "Venlo", "Hoorn").as("city"),
          when(pick(8, 10) =!= 0, (pick(9, 90000) + 10000).cast("int")).as("zip"),
          lit("NL").as("country")
        ).as("addr"),
        (lit(1700000000000L) + pick(10, 2592000000L)).as("ts")
      )
      .write
      .mode("overwrite")
      .parquet(path.toString)
  }

  private def perStatus(df: DataFrame, countExpr: String, sumExpr: String): Map[String, (Long, Double)] =
    df.groupBy("status")
      .agg(expr(countExpr).cast("long"), expr(sumExpr).cast("double"))
      .collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2)))
      .toMap

  private def matches(got: Map[String, (Long, Double)], want: Map[String, (Long, Double)]): Option[String] = {
    val ok = got.keySet == want.keySet && want.forall { case (k, (n, s)) =>
      val (gn, gs) = got(k)
      gn == n && math.abs(gs - s) <= 1e-9 * math.max(1.0, math.abs(s))
    }
    if (ok) None else Some(s"per-status (count, sum net) $got != oracle $want")
  }
}

object ContractEtl {
  val Rows = 200000L
  val Customers = 20000L
  val WarmPairs = 1

  private val net: Column = col("qty") * col("price") * (lit(1.0) - col("discount"))

  val keepAndNet: DataFrame => DataFrame = df =>
    df.filter(col("status") =!= "cancelled" && col("qty") >= 3)
      .select(col("order_id"), col("cust_id"), col("status"), net.as("net"), col("note"), col("addr"), col("ts"))
}
