package graft.perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One timed call. Spans of one operation share `op`; layer "bench" is
  * the operation itself, any other layer a call made inside it.
  */
final case class Span(op: Long, layer: String, name: String,
                      startNs: Long, endNs: Long, startMs: Long, endMs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** In-memory span recorder. Every operation gets an id and a span in both
  * modes; only the traced mode tags the operation's Spark jobs with it
  * (as the job group) and records the layer spans inside it. Spans are
  * written out once, at the end of the run.
  */
final class Recorder(sc: SparkContext, val traced: Boolean) {
  val spans = mutable.ArrayBuffer[Span]()
  private var nextOp = 0L
  private var current = 0L

  /** Run one operation; returns its result and its span. */
  def op[T](name: String)(f: => T): (T, Span) = {
    nextOp += 1
    current = nextOp
    if (traced) sc.setJobGroup(current.toString, name)
    try {
      val (r, s) = timed(current, "bench", name)(f)
      spans += s
      (r, s)
    } finally {
      if (traced) sc.clearJobGroup()
      current = 0L
    }
  }

  /** A call into `layer` inside the current operation. */
  def span[T](layer: String, name: String)(f: => T): T =
    if (!traced) f
    else {
      val (r, s) = timed(current, layer, name)(f)
      spans += s
      r
    }

  private def timed[T](op: Long, layer: String, name: String)(f: => T): (T, Span) = {
    val m0 = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val r = f
    (r, Span(op, layer, name, t0, System.nanoTime(), m0, System.currentTimeMillis()))
  }

  def layerSeconds(layer: String, name: String): Seq[Double] =
    spans.iterator.filter(s => s.layer == layer && s.name == name).map(_.seconds).toSeq
}

/** Spark-side counters, attributed to the operation that ran them
  * through the job group the [[Recorder]] sets before each call.
  */
final class JobListener extends SparkListener {
  final class Job(val id: Int, val group: String, val callSite: String,
                  val startMs: Long) {
    var endMs: Long = startMs
  }
  final class Stage(val id: Int, val job: Int, val reduce: Boolean) {
    var tasks = 0L
    var runMs = 0L
    var cpuNs = 0L
    var gcMs = 0L
    var shuffleWriteBytes = 0L
    var shuffleReadRecords = 0L
    var inputBytes = 0L
    var inputRecords = 0L
    var outputBytes = 0L
    var resultBytes = 0L
    var spillBytes = 0L
  }

  private val jobs = mutable.LinkedHashMap[Int, Job]()
  private val stages = mutable.HashMap[Int, Stage]()

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val group = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    // the result stage's details hold the job's long call site
    val callSite = if (e.stageInfos.isEmpty) "" else e.stageInfos.maxBy(_.stageId).details
    val job = new Job(e.jobId, group, callSite, e.time)
    jobs(e.jobId) = job
    e.stageInfos.foreach { s =>
      if (!stages.contains(s.stageId))
        stages(s.stageId) = new Stage(s.stageId, e.jobId, s.parentIds.nonEmpty)
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    for (s <- stages.get(e.stageId); m <- Option(e.taskMetrics)) {
      s.tasks += 1
      s.runMs += m.executorRunTime
      s.cpuNs += m.executorCpuTime
      s.gcMs += m.jvmGCTime
      s.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      s.shuffleReadRecords += m.shuffleReadMetrics.recordsRead
      s.inputBytes += m.inputMetrics.bytesRead
      s.inputRecords += m.inputMetrics.recordsRead
      s.outputBytes += m.outputMetrics.bytesWritten
      s.resultBytes += m.resultSize
      s.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }

  def jobsOf(op: Long): Seq[Job] = synchronized {
    jobs.valuesIterator.filter(_.group == op.toString).toSeq
  }

  /** Stages that ran tasks for `jobs`. */
  def stagesOf(jobs: Seq[Job]): Seq[Stage] = synchronized {
    val ids = jobs.map(_.id).toSet
    stages.valuesIterator.filter(s => ids(s.job) && s.tasks > 0).toSeq
  }

  def allJobs: Seq[Job] = synchronized(jobs.values.toSeq)
}

/** Per-operation Spark metrics over a set of measured operations. */
object SparkLayer {
  /** Total length of the union of `[start, end]` intervals clipped to
    * `[lo, hi]`, in milliseconds.
    */
  def unionMs(intervals: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    val clipped = intervals.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0L
    var curA = Long.MinValue
    var curB = Long.MinValue
    clipped.foreach { case (a, b) =>
      if (a > curB) {
        if (curB > curA) total += curB - curA
        curA = a; curB = b
      } else curB = math.max(curB, b)
    }
    if (curB > curA) total += curB - curA
    total
  }

  def metrics(l: JobListener, ops: Seq[Span], cores: Int): Map[String, Double] = {
    val n = math.max(ops.size, 1).toDouble
    val perOp = ops.map(o => o -> l.jobsOf(o.op))
    val jobs = perOp.flatMap(_._2)
    val stages = l.stagesOf(jobs)
    def sum(f: JobListener#Stage => Long): Double = stages.iterator.map(f).sum.toDouble
    val jobWallMs = perOp.map { case (o, js) =>
      unionMs(js.map(j => (j.startMs, j.endMs)), o.startMs, o.endMs)
    }
    val driverS = perOp.zip(jobWallMs).map { case ((o, _), w) =>
      math.max(0L, (o.endMs - o.startMs) - w) / 1000.0
    }
    val reduceTasks = stages.filter(_.reduce).map(_.tasks)
    val runMs = sum(_.runMs)
    Map(
      "spark.jobs_per_op" -> jobs.size / n,
      "spark.stages_per_op" -> stages.size / n,
      "spark.tasks_per_op" -> sum(_.tasks) / n,
      "spark.min_reduce_tasks" -> (if (reduceTasks.isEmpty) 0.0 else reduceTasks.min.toDouble),
      "spark.shuffle_write_bytes_per_op" -> sum(_.shuffleWriteBytes) / n,
      "spark.shuffle_read_records_per_op" -> sum(_.shuffleReadRecords) / n,
      "spark.input_bytes_per_op" -> sum(_.inputBytes) / n,
      "spark.input_records_per_op" -> sum(_.inputRecords) / n,
      "spark.output_bytes_per_op" -> sum(_.outputBytes) / n,
      "spark.result_bytes_per_op" -> sum(_.resultBytes) / n,
      "spark.spill_bytes_per_op" -> sum(_.spillBytes) / n,
      "spark.task_run_s_per_op" -> runMs / 1000.0 / n,
      "spark.task_cpu_s_per_op" -> sum(_.cpuNs) / 1e9 / n,
      "spark.gc_s_per_op" -> sum(_.gcMs) / 1000.0 / n,
      "spark.job_s_p50" -> Stats.median(jobs.map(j => (j.endMs - j.startMs) / 1000.0)),
      "spark.driver_s_per_op" -> driverS.sum / n,
      "spark.slot_util" -> {
        val wall = jobWallMs.sum.toDouble
        if (wall > 0) runMs / (cores * wall) else 0.0
      })
  }
}

object Stats {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val m = s.size / 2
      if (s.size % 2 == 1) s(m) else (s(m - 1) + s(m)) / 2
    }
}
