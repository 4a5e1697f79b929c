package graftbench

import graft.contracts._
import graft.pipeline.PipelineBuilder
import graft.sources.TypedSink
import graftbench.Contracts._
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.lit

import java.lang.management.ManagementFactory
import java.util.concurrent.atomic.AtomicInteger
import scala.util.{Failure, Success, Try}

/** Definition-time contract work beside `contract_etl`: source -> transform
  * -> sink pipelines over a 3-level nested, 6-field contract family with the
  * construction-time fuse, the sink policy rotating through Exact,
  * ExactOrdered, Backward and Forward, and runtime pins of the source and
  * transform schemas on plan-only DataFrames. No Spark action runs.
  *
  * [[check]] runs in every run: conformant definitions must not throw and a
  * drifting one must raise [[ContractViolation]]. [[attribute]] times the
  * calls, in the traced run only.
  */
final class ContractProbe(h: Harness) {
  import ContractProbe._
  import h.spark

  private lazy val srcDf: DataFrame = spark.createDataFrame(spark.sparkContext.emptyRDD[Row], ShapeOf[Profile].struct)
  private lazy val midDf: DataFrame = score(srcDf)
  private val scoredSink = TypedSink[Scored]("unused/scored")
  private val wideSink = TypedSink[ScoredSink]("unused/scored_sink")
  private val next = new AtomicInteger(0)

  def check(): Unit = {
    val failures = (0 until Definitions).flatMap(i => Try { wire(i); pin() }.failed.toOption)
    h.check("conformant_definitions", failures.isEmpty, failures.headOption.map(_.toString).getOrElse(""))
    val err = drifts()
    h.check("drift_raises", err.isEmpty, err.getOrElse(""))
  }

  /** Single-thread costs of a definition, a pin and the contract calls
    * inside them, and the share of time that concurrent definers wait.
    */
  def attribute(): Unit = {
    h.extra("pipeline.wire_us") = Jvm.perCallNs(5000)(wire(next.getAndIncrement())) / 1e3
    h.extra("contracts.pin_us") = Jvm.perCallNs(5000)(pin()) / 2 / 1e3
    h.extra("contracts.shapeof_us") = Jvm.perCallNs(20000)(ShapeOf[Profile]) / 1e3
    h.extra("contracts.check_us") = Jvm.perCallNs(5000)(SchemaConforms.check[Scored, Scored, SchemaPolicy.ExactT]) / 1e3
    h.extra("contracts.drift_render_us") = Jvm.perCallNs(1000) {
      SchemaConforms.check[ScoredDrift, Scored, SchemaPolicy.ExactT].left.map(_.render("out", "contract"))
    } / 1e3
    h.extra("contracts.wait_ratio") = waitRatio()
  }

  /** Waited plus blocked time over wall time of one definer per Spark core,
    * each defining and pinning pipelines for [[BurstMs]].
    */
  private def waitRatio(): Double = {
    val bean = ManagementFactory.getThreadMXBean
    bean.setThreadContentionMonitoringEnabled(true)
    val waits = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long)]()
    val end = System.nanoTime() + BurstMs * 1000000L
    val threads = (0 until h.cores).map { _ =>
      new Thread(() => {
        val tid = Thread.currentThread().getId
        val i0 = bean.getThreadInfo(tid)
        val t0 = System.nanoTime()
        var i = 0
        while (System.nanoTime() < end) { wire(i); pin(); i += 1 }
        val i1 = bean.getThreadInfo(tid)
        val waitedMs = (i1.getWaitedTime - i0.getWaitedTime) + (i1.getBlockedTime - i0.getBlockedTime)
        waits.add((waitedMs * 1000000L, System.nanoTime() - t0))
      })
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    val (w, t) = waits.toArray(Array.empty[(Long, Long)]).foldLeft((0L, 0L)) { case ((a, b), (x, y)) => (a + x, b + y) }
    w.toDouble / t
  }

  private def score(df: DataFrame): DataFrame = df.withColumn("score", lit(1.0))

  private def base = PipelineBuilder[Profile]("profiles-scored")
    .addSourceDF[Profile](_ => srcDf)
    .transformAs[Scored]("score")(score)

  private def wire(i: Int): Any = i % 4 match {
    case 0 => base.addSink[Scored, SchemaPolicy.ExactT](scoredSink).build
    case 1 => base.addSink[Scored, SchemaPolicy.ExactOrderedT](scoredSink).build
    case 2 => base.addSink[ScoredSink, SchemaPolicy.BackwardT](wideSink).build
    case _ => base.addSink[ScoredSink, SchemaPolicy.ForwardT](wideSink).build
  }

  private def pin(): Unit = {
    SchemaCheck.assertMatchesContract[Profile](srcDf)
    SchemaCheck.assertMatchesContract[Scored](midDf)
  }

  /** None when a drifting definition raises [[ContractViolation]]. */
  private def drifts(): Option[String] =
    Try(base.addSink[ScoredDrift, SchemaPolicy.ExactT](TypedSink[ScoredDrift]("unused/drift")).build) match {
      case Failure(_: ContractViolation) => None
      case Failure(e)                    => Some(s"drifting definition raised $e, not ContractViolation")
      case Success(_)                    => Some("drifting definition was accepted")
    }
}

object ContractProbe {
  val Definitions = 1000
  val BurstMs = 1000L
}
