package graftbench

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.{Failure, Success, Try}

final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean, work: Path, out: Path)

object Args {
  def parse(argv: Array[String]): Args = {
    val kv = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(
      workload = need("workload"),
      seed = need("seed").toLong,
      seconds = need("seconds").toDouble,
      trace = need("trace") == "1",
      work = Paths.get(need("work")).toAbsolutePath,
      out = Paths.get(need("out")).toAbsolutePath
    )
  }
}

/** One timed operation: `ns` is its latency, `allocB` what the calling
  * thread allocated during it.
  */
final case class OpRec(
    kind: String,
    id: Long,
    ns: Long,
    ok: Boolean,
    err: String,
    traced: Boolean,
    allocB: Long,
    info: Map[String, Any]
)

/** A workload: untimed one-off preparation, set-up that can be repeated
  * (timed, `setup_s`), an untimed warm-up, a closed measuring loop,
  * end-of-run correctness checks, and (traced run only) attribution calls,
  * both after the timed window.
  */
trait Workload {
  /** `setup_s` is the median of this many set-ups. */
  def setupReps: Int = 5
  def prepare(): Unit = ()
  def setup(rep: Int): Unit
  def warm(): Unit = ()
  def measure(): Unit
  def verify(): Unit = ()
  def attribute(): Unit = ()
}

final class Harness(val spark: SparkSession, val args: Args, val tracer: Tracer) {

  val cores: Int = Main.cores
  private val ops = new ConcurrentLinkedQueue[OpRec]()
  private val checks = new ConcurrentLinkedQueue[Map[String, Any]]()
  private val opIds = new AtomicLong(0)
  private val pausedNs = new AtomicLong(0)
  private val items = new AtomicLong(0)
  @volatile private var measuring = false
  @volatile private var windowEndNs = 0L
  @volatile private var windowPaused0 = 0L
  val extra: mutable.Map[String, Any] = mutable.LinkedHashMap.empty

  def dir(name: String): Path = {
    val p = args.work.resolve(name)
    Files.createDirectories(p.getParent)
    p
  }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p))
      Files.walk(p).iterator().asScala.toSeq.reverse.foreach(Files.delete)

  def check(name: String, ok: Boolean, detail: String = ""): Unit =
    checks.add(Map("name" -> name, "ok" -> ok, "detail" -> detail))

  /** Whether the next op is traced: every other op of a traced run, so the
    * untraced half gives the tracing overhead.
    */
  def traceOp(i: Long): Boolean = tracer.enabled && i % 2 == 0

  /** Run `body` as one op of `kind` that completes `done` items, then
    * `verify` its result outside the timing (an error message fails the
    * op). Ops outside the timed window are not recorded, but their failures
    * are reported as failed checks.
    */
  def op[T](kind: String, traced: Boolean, done: Long)(body: => T)(
      verify: T => Option[String],
      info: T => Map[String, Any] = (_: T) => Map.empty[String, Any]
  ): Option[T] = {
    val id = opIds.incrementAndGet()
    val a0 = Jvm.allocated()
    val t0 = System.nanoTime()
    val r = Try(tracer.op(id, kind, traced)(body))
    val dt = System.nanoTime() - t0
    val alloc = Jvm.allocated() - a0
    val c0 = System.nanoTime()
    val err = r match {
      case Success(v) => Try(verify(v)).fold(t => Some(t.toString), identity)
      case Failure(t) => Some(t.toString)
    }
    pausedNs.addAndGet(System.nanoTime() - c0)
    if (measuring) {
      ops.add(OpRec(kind, id, dt, err.isEmpty, err.orNull, traced, alloc, r.toOption.map(info).getOrElse(Map.empty)))
      if (err.isEmpty) items.addAndGet(done)
    } else if (err.nonEmpty) check(s"setup_op:$kind", ok = false, err.get)
    r.toOption.filter(_ => err.isEmpty)
  }

  def nextId(): Long = opIds.incrementAndGet()

  /** Whether the window still runs: it measures `--seconds` of op time,
    * so the time spent checking outputs extends it.
    */
  def windowOpen: Boolean = System.nanoTime() - (pausedNs.get - windowPaused0) < windowEndNs

  def run(wl: Workload, listener: Option[BenchListener]): Map[String, Any] = {
    val phases = mutable.LinkedHashMap[String, Double]("spark_ready" -> Main.sinceJvmStart())
    val calib0 = Jvm.calibMs()
    wl.prepare()
    phases("prepare_done") = Main.sinceJvmStart()
    // checks of the ops a set-up runs are not set-up time
    val setup = (0 until wl.setupReps).map { rep =>
      val p0 = pausedNs.get
      val t0 = System.nanoTime()
      wl.setup(rep)
      (System.nanoTime() - t0 - (pausedNs.get - p0)) / 1e9
    }
    phases("setup_done") = Main.sinceJvmStart()
    wl.warm()
    phases("warm_done") = Main.sinceJvmStart()
    Jvm.resetPeaks()
    val gc0 = Jvm.gcMs()
    measuring = true
    windowPaused0 = pausedNs.get
    val w0 = System.nanoTime()
    windowEndNs = w0 + (args.seconds * 1e9).toLong
    wl.measure()
    val window = System.nanoTime() - w0
    val paused = pausedNs.get - windowPaused0
    measuring = false
    val gcPause = Jvm.gcMs() - gc0
    val heapPeak = Jvm.heapPeakMb()
    val live = Jvm.liveHeapMb()
    wl.verify()
    if (tracer.enabled) wl.attribute()
    val calib1 = Jvm.calibMs()
    listener.foreach(_ => org.apache.spark.graftbench.BusDrain(spark.sparkContext))
    phases("done") = Main.sinceJvmStart()
    Map(
      "phases_s" -> phases,
      "workload" -> args.workload,
      "seed" -> args.seed,
      "cores" -> cores,
      "trace" -> tracer.enabled,
      "setup_s" -> setup,
      "window_s" -> window / 1e9,
      "paused_s" -> paused / 1e9,
      "items" -> items.get,
      "live_heap_mb" -> live,
      "heap_peak_mb" -> heapPeak,
      "gc_pause_ms" -> gcPause,
      "calib_ms" -> Seq(calib0, calib1),
      "checks" -> checks.asScala.toSeq,
      "ops" -> ops.asScala.toSeq.sortBy(_.id).map { r =>
        Map(
          "kind" -> r.kind, "id" -> r.id, "ns" -> r.ns, "ok" -> r.ok, "err" -> r.err,
          "traced" -> r.traced, "alloc_b" -> r.allocB
        ) ++ r.info
      },
      "extra" -> extra,
      "spans" -> tracer.spans,
      "jobs" -> listener.map(_.jobs).getOrElse(Nil)
    )
  }
}

object Main {

  /** Spark cores: half the host's vCPUs. A host that lends some of its
    * vCPUs to other guests then still runs every task, which made op
    * latencies steadier between runs.
    */
  val cores: Int = math.max(1, Runtime.getRuntime.availableProcessors / 2)

  def sinceJvmStart(): Double =
    (System.currentTimeMillis() - java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3

  def main(argv: Array[String]): Unit = {
    val args = Args.parse(argv)
    Files.createDirectories(args.work)
    val spark = SparkSession
      .builder()
      .master(s"local[$cores]")
      .appName("graftbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      // the default cache of 100 generated classes is too small for a run
      // that alternates op types: each op recompiles what the other evicted
      .config("spark.sql.codegen.cache.maxEntries", "1000")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "127.0.0.1")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", args.work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", args.work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    try {
      val listener = if (args.trace) Some(new BenchListener) else None
      listener.foreach(spark.sparkContext.addSparkListener)
      val h = new Harness(spark, args, new Tracer(spark.sparkContext, args.trace))
      val wl: Workload = args.workload match {
        case "contract_etl" => new ContractEtl(h)
        case "ann_serving"  => new AnnServing(h)
        case other          => throw new IllegalArgumentException(s"unknown workload $other")
      }
      val result = h.run(wl, listener)
      Files.writeString(args.out, new ObjectMapper().registerModule(DefaultScalaModule).writeValueAsString(result))
    } finally spark.stop()
  }
}
