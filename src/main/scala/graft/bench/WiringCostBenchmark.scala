package graft.bench

import graft.contracts._

import java.nio.file.{Files, Path}

/** Wiring-cost micro-benchmark: ns per `SchemaConforms.check` at pipeline
  * CONSTRUCTION time — our analog of the reference's compile-time
  * witness-generation table (BASELINE.md "Compile-time witness-generation
  * overhead"; reference benchmarks/results/&#42;/summary.md). The reference
  * pays its contract check in scalac wall clock (~27-38 ms per
  * producer/contract pair at 10-50 pairs); we pay it once per
  * `PipelineBuilder` stage at runtime construction, before any Spark
  * action. This bench publishes that cost so the two numbers can sit in
  * one table.
  *
  * Cases (all on the O23 3-level 6-field Contract fixture):
  *   - `shapeof_derive`       — implicit ShapeOf summon alone (the
  *                              dominant part of a check: the type tag,
  *                              its cache key and the memo lookup of the
  *                              contract's StructType)
  *   - `check_green`          — full SchemaConforms.check, conformant
  *                              (derivation × 2 + early-exit conforms)
  *   - `check_drift`          — full check on a drifting Out (missing
  *                              field + changed leaf type), Left path,
  *                              report built but not rendered
  *   - `check_drift_render`   — drift path + the path-rich report render
  *                              (what ContractViolation carries)
  *   - `pin_fast_ok_control`  — early-exit SchemaCompare.conforms pin (the
  *                              per-write runtime cost, for scale: this is
  *                              what O23 benches against the reference's
  *                              runtime comparator numbers)
  *
  * Protocol mirrors the comparator bench harness (warmup + measured
  * iterations, volatile blackhole, CSV min/avg/max) with a smaller default
  * ops count — check costs are µs-class, 3 orders above the boolean
  * comparators.
  *
  * Usage: runMain graft.bench.WiringCostBenchmark [out.csv] [warmups] [iters] [ops]
  */
object WiringCostBenchmark {

  import RuntimeSchemaBenchmark.{Address, Contract, Event}

  // Drifting producer: `metrics` missing, `age` leaf type changed —
  // two drift lines through nested rendering.
  final case class DriftedOut(
      id: Long,
      email: String,
      age: Option[String],
      address: Address,
      events: List[Event]
  )

  @volatile private var blackhole: Long = 0L

  private final case class Case(name: String, run: () => Long)

  def main(args: Array[String]): Unit = {
    val outputPath = args.headOption.map(Path.of(_))
    val warmups = args.lift(1).map(_.toInt).getOrElse(3)
    val iters = args.lift(2).map(_.toInt).getOrElse(8)
    val ops = args.lift(3).map(_.toInt).getOrElse(20000)

    // memoized pin inputs for the control row
    val expected = ShapeOf[Contract].struct
    val runtime = implicitly[PolicyRuntime[SchemaPolicy.ExactT]]

    val cases = List(
      Case("shapeof_derive", () => ShapeOf[Contract].struct.length.toLong),
      Case(
        "check_green",
        () => if (SchemaConforms.check[Contract, Contract, SchemaPolicy.ExactT].isRight) 1L else 0L
      ),
      Case(
        "check_drift",
        () => if (SchemaConforms.check[DriftedOut, Contract, SchemaPolicy.ExactT].isLeft) 1L else 0L
      ),
      Case(
        "check_drift_render",
        () =>
          SchemaConforms.check[DriftedOut, Contract, SchemaPolicy.ExactT] match {
            case Left(report) => report.render("out", "contract").length.toLong
            case Right(_)     => 0L
          }
      ),
      Case("pin_fast_ok_control", () => if (runtime.ok(expected, expected)) 1L else 0L)
    )

    // avg_alloc_bytes_per_op is -1.0 when the JVM's per-thread allocation
    // counter is unavailable (non-HotSpot bean or accounting disabled)
    val header =
      "benchmark,avg_ns_per_op,min_ns_per_op,max_ns_per_op,avg_alloc_bytes_per_op,measurement_iterations,ops_per_iteration"
    val rows = cases.map { c =>
      (1 to warmups).foreach(_ => batch(c.run, ops))
      val measured = (1 to iters).map(_ => batch(c.run, ops))
      val ns = measured.map(_._1.toDouble / ops)
      val alloc = measured.map(_._2.toDouble / ops)
      f"${c.name},${ns.sum / ns.length}%.2f,${ns.min}%.2f,${ns.max}%.2f,${alloc.sum / alloc.length}%.1f,$iters,$ops"
    }
    val rendered = rows.mkString("\n")
    outputPath.foreach { p =>
      Option(p.getParent).foreach(Files.createDirectories(_))
      Files.writeString(p, rendered)
    }
    println(header)
    println(rendered)
  }

  /** One measured batch → (elapsed ns, allocated bytes). Allocation is the
    * memory analog of the reference's compile-RSS column (BASELINE.md
    * reports ~+64 MiB scalac RSS for its witness generation): per-op
    * heap allocation of a construction-time check, sampled with the JVM's
    * exact per-thread allocation counter (HotSpot ThreadMXBean).
    */
  /** The HotSpot allocation counter when present AND enabled; None on a
    * non-HotSpot JVM (the bean is a different class — an unguarded cast
    * is a ClassCastException on OpenJ9) or when accounting is disabled
    * (getThreadAllocatedBytes then returns -1 and the delta would emit
    * garbage negative alloc columns into the CSV).
    */
  private lazy val allocBean: Option[com.sun.management.ThreadMXBean] =
    java.lang.management.ManagementFactory.getThreadMXBean match {
      case b: com.sun.management.ThreadMXBean
          if b.isThreadAllocatedMemorySupported && b.isThreadAllocatedMemoryEnabled =>
        Some(b)
      case _ => None
    }

  private def batch(run: () => Long, ops: Int): (Long, Long) = {
    val tid = Thread.currentThread().getId
    var acc = 0L
    var i = 0
    val a0 = allocBean.map(_.getThreadAllocatedBytes(tid))
    val start = System.nanoTime()
    while (i < ops) {
      acc ^= run()
      i += 1
    }
    val elapsed = System.nanoTime() - start
    // without the counter the honest value is "no measurement": -1·ops
    // makes the per-op average render as exactly -1.0, a visible sentinel
    // instead of a plausible-looking garbage number
    val allocated = allocBean.zip(a0).map { case (b, s) => b.getThreadAllocatedBytes(tid) - s }.getOrElse(-1L * ops)
    blackhole ^= acc
    (elapsed, allocated)
  }
}
