package graft.perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.PerfbenchBridge
import org.apache.spark.sql.SparkSession

import graft.BenchData

/** Peak heap used right after a full collection, sampled at fixed points
  * (after set-up and after every measured cycle, off the timed path).
  * No workload keeps an RDD cached between operations, so cached blocks
  * an operation released asynchronously are waited for first (up to a
  * second): the sample must not race their removal.
  */
final class HeapProbe {
  var peakMb = 0.0
  def sample(sc: org.apache.spark.SparkContext): Unit = {
    val deadline = System.nanoTime() + 1000000000L
    while (PerfbenchBridge.rddBlocksCached(sc) && System.nanoTime() < deadline)
      Thread.sleep(10)
    System.gc()
    val used = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
    peakMb = math.max(peakMb, used / 1048576.0)
  }
}

/** State of one benchmark run: the session, the recorder, the raw
  * samples the harness turns into metrics, and the output checks.
  */
final class Ctx(val workload: String, val seed: Long, val seconds: Double,
                val traced: Boolean, val work: String, val cores: Int) {
  var spark: SparkSession = _
  var recorder: Recorder = _
  var listener: JobListener = _
  val heap = new HeapProbe

  var attempted = 0L
  private val failedOps = mutable.LinkedHashSet[Long]()
  val failures = mutable.ArrayBuffer[String]()

  val setupS = mutable.ArrayBuffer[Double]()
  /** Wall seconds of the workload's timed operations (fits or queries),
    * by operation name.
    */
  val opS = mutable.LinkedHashMap[String, mutable.ArrayBuffer[Double]]()
  def timed(s: Span): Unit = opS.getOrElseUpdate(s.name, mutable.ArrayBuffer()) += s.seconds
  /** Every measured operation, for the per-operation Spark counters. */
  val measured = mutable.ArrayBuffer[Span]()
  var rows = 0.0
  var rowsWallS = 0.0
  var quantError = Double.NaN
  val perLayer = mutable.LinkedHashMap[String, Double]()

  def path(name: String): String = s"$work/data/$name"

  def startSession(): Unit = {
    spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      // nothing reads the status store with the UI off; bounding what it
      // retains keeps `heap_mb_peak` about the program's own state
      .config("spark.ui.retainedJobs", "20")
      .config("spark.ui.retainedStages", "20")
      .config("spark.ui.retainedTasks", "2000")
      .config("spark.sql.ui.retainedExecutions", "20")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
  }

  def fail(op: Long, msg: String): Unit = {
    failedOps += op
    if (failures.size < 20) failures += msg
  }

  def check(op: Long, ok: Boolean, msg: => String): Unit = if (!ok) fail(op, msg)

  def failed: Long = failedOps.size.toLong

  /** Deliver every pending listener event before reading the counters. */
  def drainListeners(): Unit = PerfbenchBridge.drainListeners(spark.sparkContext)

  /** One measured operation: counted as attempted, timed, and counted as
    * failed if it throws.
    */
  def op[T](name: String)(f: => T): Option[(T, Span)] = {
    attempted += 1
    try {
      val r = recorder.op(name)(f)
      measured += r._2
      Some(r)
    } catch {
      case NonFatal(e) =>
        fail(-attempted, s"$name threw ${e.getClass.getSimpleName}: ${e.getMessage}")
        None
    }
  }

  /** Whole cycles, at least one, while the next cycle is expected (at
    * the mean cycle time so far) to end within `seconds`. Samples the
    * heap after each cycle.
    */
  def loop(cycle: => Unit): Unit = {
    val t0 = System.nanoTime()
    var busy = 0.0
    var c = 0
    def elapsed = (System.nanoTime() - t0) / 1e9
    while (c == 0 || elapsed + busy / c <= seconds) {
      val c0 = System.nanoTime()
      cycle
      busy += (System.nanoTime() - c0) / 1e9
      heap.sample(spark.sparkContext)
      c += 1
    }
  }
}

/** One workload: set-up (run several times; the last one is kept) and
  * the measured closed loop.
  */
trait Workload {
  /** Set-ups per run; `setup_s` is their median. */
  def setupReps: Int = 5
  def setup(ctx: Ctx): Unit
  def measure(ctx: Ctx): Unit
}

/** Benchmark runner: one workload as a single-client closed loop on a
  * `local[cores]` session. Writes the raw samples as one JSON object to
  * `--out`; `perfbench/run.py` turns them into the reported metrics.
  *
  *   graft.perfbench.Main --workload W --seed N --seconds S --trace 0|1
  *     --work DIR --out FILE
  */
object Main {
  val workloads: Map[String, Workload] = Map(
    "som_train" -> SomTrain,
    "som_query" -> SomQuery,
    "kmeans_train" -> KmeansTrain)

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def arg(k: String): String = args.getOrElse(k, sys.error(s"missing --$k"))
    val name = arg("workload")
    val wl = workloads.getOrElse(name, sys.error(s"unknown workload $name"))
    val cores = Runtime.getRuntime.availableProcessors()
    val ctx = new Ctx(name, arg("seed").toLong, arg("seconds").toDouble,
      arg("trace") == "1", arg("work"), cores)

    val t0 = System.nanoTime()
    def phase(what: String): Unit =
      System.err.println(f"perfbench: $what at ${(System.nanoTime() - t0) / 1e9}%.1f s")
    ctx.startSession()
    phase("session started")
    for (_ <- 0 until wl.setupReps) {
      val s0 = System.nanoTime()
      wl.setup(ctx)
      ctx.setupS += (System.nanoTime() - s0) / 1e9
    }
    phase("set-up done")
    val sc = ctx.spark.sparkContext
    ctx.heap.sample(sc)
    val start = health(ctx.spark)
    phase("start stamps done")
    ctx.recorder = new Recorder(sc, ctx.traced)
    if (ctx.traced) {
      ctx.listener = new JobListener
      sc.addSparkListener(ctx.listener)
    }
    wl.measure(ctx)
    phase("measured")
    if (ctx.traced) {
      ctx.drainListeners()
      ctx.perLayer ++= SparkLayer.metrics(ctx.listener, ctx.measured.toSeq, cores)
      for (epoch <- ctx.perLayer.get("som.kernel.epoch_s"); job = ctx.perLayer("spark.job_s_p50")
           if job > 0)
        ctx.perLayer("som.epoch.kernel_share") = epoch / job
      writeSpans(ctx, s"${arg("work")}/spans.json")
    }
    val end = health(ctx.spark)
    ctx.spark.stop()
    phase("end stamps done")

    val perLayer = PerLayer.defaults ++ ctx.perLayer
    val unknown = perLayer.keySet -- PerLayer.defaults.keySet
    require(unknown.isEmpty, s"undeclared per-layer metrics: ${unknown.mkString(", ")}")
    val out = Json.obj(
      "workload" -> name,
      "seed" -> ctx.seed,
      "trace" -> ctx.traced,
      "cores" -> cores,
      "attempted" -> ctx.attempted,
      "failed" -> ctx.failed,
      "failures" -> ctx.failures.toSeq,
      "setup_s" -> ctx.setupS.toSeq,
      "op_s" -> ctx.opS.toSeq.map { case (k, v) => k -> v.toSeq },
      "rows" -> ctx.rows,
      "rows_wall_s" -> ctx.rowsWallS,
      "heap_mb_peak" -> ctx.heap.peakMb,
      "quant_error" -> ctx.quantError,
      "per_layer" -> perLayer.toSeq.sortBy(_._1),
      "health" -> Seq("start" -> start, "end" -> end))
    Files.write(Paths.get(arg("out")), out.getBytes("UTF-8"))
  }

  /** Machine-health stamps (context for the timings, not metrics). */
  private def health(spark: SparkSession): Seq[(String, Any)] =
    Seq("memcpy_gbps" -> BenchData.memcpyGbps(),
      "shuffle_canary_s" -> BenchData.shuffleCanarySec(spark))

  private def writeSpans(ctx: Ctx, file: String): Unit = {
    val spans = ctx.recorder.spans.map { s =>
      Json.obj("op" -> s.op, "layer" -> s.layer, "name" -> s.name,
        "start_ns" -> s.startNs, "end_ns" -> s.endNs)
    }
    val js = ctx.listener.allJobs.map { j =>
      Json.obj("job" -> j.id, "op" -> j.group, "start_ms" -> j.startMs,
        "end_ms" -> j.endMs)
    }
    Files.write(Paths.get(file),
      s"""{"spans":[${spans.mkString(",")}],"jobs":[${js.mkString(",")}]}""".getBytes("UTF-8"))
  }
}

/** Every per-layer metric the traced run reports. A layer a workload does
  * not exercise reads 0 there.
  */
object PerLayer {
  val defaults: Map[String, Double] = Seq(
    "spark.jobs_per_op", "spark.stages_per_op", "spark.tasks_per_op",
    "spark.min_reduce_tasks", "spark.shuffle_write_bytes_per_op",
    "spark.shuffle_read_records_per_op", "spark.input_bytes_per_op",
    "spark.input_records_per_op", "spark.output_bytes_per_op",
    "spark.result_bytes_per_op", "spark.spill_bytes_per_op",
    "spark.task_run_s_per_op", "spark.task_cpu_s_per_op", "spark.gc_s_per_op",
    "spark.job_s_p50", "spark.driver_s_per_op", "spark.slot_util",
    "som.kernel.distance_s", "som.kernel.argmin_s", "som.kernel.neighborhood_s",
    "som.kernel.epoch_s", "som.kernel.accum_s", "som.kernel.flops_per_epoch",
    "som.kernel.gflops", "som.epoch.kernel_share", "som.fit_s", "som.topo_error",
    "som.query.activation_response_s", "som.query.labels_map_s",
    "som.query.quantization_error_s", "som.query.topographic_error_s",
    "som.query.quantize_s", "som.query.win_map_s",
    "plans.som_bmu.ns_per_row", "plans.kmeans_assign.ns_per_row",
    "operators.kmeans.init_jobs", "operators.kmeans.init_s",
    "operators.kmeans.lloyd_jobs", "operators.kmeans.lloyd_s"
  ).map(_ -> 0.0).toMap
}

/** Minimal JSON writer for the run record. */
object Json {
  def value(v: Any): String = v match {
    case null => "null"
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case kv: Seq[_] if kv.nonEmpty && kv.forall(_.isInstanceOf[(_, _)]) =>
      kv.map { case (k, x) => quote(k.toString) + ":" + value(x) }.mkString("{", ",", "}")
    case xs: Seq[_] => xs.map(value).mkString("[", ",", "]")
    case other => quote(other.toString)
  }

  def obj(kv: (String, Any)*): String = value(kv)

  private def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    b += '"'
    b.toString
  }
}
