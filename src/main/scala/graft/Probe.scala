package graft

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{GraftBridge, SparkSession}
import org.apache.spark.sql.execution.FormattedMode

/** One measurement main over `SparkEntry.queries`:
  *
  * {{{
  * runMain graft.Probe time  <sfDir> <q>...   # warm-up + min of 2 timed runs
  * runMain graft.Probe jobs  <sfDir> [q...]   # query jobs tasks warm_s, tab-separated
  * runMain graft.Probe trace <sfDir> <q>      # one line per job of the warm run
  * runMain graft.Probe plan  <sfDir> [--out <dir>] [q...]
  * }}}
  *
  * `jobs` and `plan` run every query, sorted by name, when none is
  * named, and leave out (with a note on stderr) any query that fails.
  * `plan` prints each query's executed plan filtered to the
  * load-bearing lines, or with `--out` writes each query's full
  * formatted plan to `<dir>/<q>.txt`. `SPARK_GRAFT_CPUS` sets the
  * cores (default: all available).
  *
  * Job and task counts are deterministic where wall time on a shared
  * machine is not, so `jobs` output from two trees compares with plain
  * `diff` on its first three columns. Each mode is a method on a
  * caller's session, so a spec can run it on the test session.
  */
object Probe {

  /** One `jobs` row: jobs and tasks the warm run started, and its wall
    * seconds. Tasks count every stage each job lists, skipped ones
    * included.
    */
  final case class JobCount(query: String, jobs: Int, tasks: Int, warmS: Double) {
    def row: String = f"$query\t$jobs\t$tasks\t$warmS%.3f"
  }

  def main(args: Array[String]): Unit = {
    val usage = "usage: Probe time|jobs|trace|plan <sfDir> [--out <dir>] [query...]"
    require(args.length >= 2, usage)
    val (mode, sfDir, rest) = (args(0), args(1), args.drop(2).toSeq)
    val spark = GraftSession.local(
      GraftSession.cores(Runtime.getRuntime.availableProcessors))
    try mode match {
      case "time" =>
        time(spark, sfDir, rest).foreach { case (q, s) => println(f"$q\t$s%.3f") }
      case "jobs" =>
        println("query\tjobs\ttasks\twarm_s")
        jobs(spark, sfDir, rest).foreach(j => println(j.row))
      case "trace" =>
        require(rest.length == 1, usage)
        trace(spark, sfDir, rest.head).foreach(println)
      case "plan" => rest match {
        case "--out" +: dir +: names =>
          planFiles(spark, sfDir, Paths.get(dir), names).foreach(p => println(s"wrote $p"))
        case names =>
          plan(spark, sfDir, names).foreach { case (q, p) => println(s"===== $q =====\n$p") }
      }
      case other => throw new IllegalArgumentException(s"unknown mode '$other'; $usage")
    } finally spark.stop()
  }

  /** Per query: one warm-up run, then the min of 2 timed runs (the
    * Bench methodology), in seconds.
    */
  def time(spark: SparkSession, sfDir: String, names: Seq[String]): Seq[(String, Double)] =
    names.map { q =>
      val run = () => SparkEntry.queries(q)(spark, sfDir).count()
      run()
      q -> math.min(seconds(run()), seconds(run()))
    }

  /** Per query: the jobs and tasks of the run after a warm-up, which
    * also fills any per-session memo.
    */
  def jobs(spark: SparkSession, sfDir: String, names: Seq[String]): Seq[JobCount] =
    eachQuery(names) { q =>
      val run = () => SparkEntry.queries(q)(spark, sfDir).count()
      run()
      val (sec, started) = recordJobs(spark)(run())
      JobCount(q, started.size, started.map(tasks).sum, sec)
    }

  /** The jobs of `q`'s run after a warm-up, one line each — stage
    * count, task count, first word of each stage name, and the first
    * engine frame of the call site — then a summary line.
    */
  def trace(spark: SparkSession, sfDir: String, q: String): Seq[String] = {
    val run = () => SparkEntry.queries(q)(spark, sfDir).count()
    run()
    val (sec, started) = recordJobs(spark)(run())
    started.map { js =>
      val stages = js.stageInfos.sortBy(_.stageId)
      val site = stages.headOption.map { s =>
        val lines = s.details.linesIterator.toSeq
        lines.find(l => l.contains("graft") && !l.contains("graft.Probe"))
          .orElse(lines.headOption).getOrElse("")
      }.getOrElse("?")
      f"job ${js.jobId}%4d stages=${stages.length} tasks=${tasks(js)}%4d " +
        s"[${stages.map(_.name.takeWhile(_ != ' ')).mkString(",")}] $site"
    } :+ f"[probe] $q warm $sec%.3f s, ${started.size} jobs"
  }

  /** Plan lines worth auditing: scans with their pushed filters and
    * read schema, joins, exchanges, filters, aggregates, top-n and
    * whole-stage-codegen spans.
    */
  private val planKeys = Seq("Scan", "Join", "Exchange", "Filter", "Codegen",
    "PushedFilters", "ReadSchema", "Aggregate", "TopNSmallest")

  /** Per query: its executed plan cut to the [[planKeys]] lines,
    * control characters escaped.
    */
  def plan(spark: SparkSession, sfDir: String, names: Seq[String]): Seq[(String, String)] =
    eachQuery(names) { q =>
      val text = SparkEntry.queries(q)(spark, sfDir).queryExecution.executedPlan.toString
      q -> escape(text.linesIterator.filter(l => planKeys.exists(l.contains)).mkString("\n"))
    }

  /** Writes each query's full formatted plan (control characters
    * escaped) to `<outDir>/<q>.txt`; returns the written paths.
    */
  def planFiles(spark: SparkSession, sfDir: String, outDir: Path,
      names: Seq[String]): Seq[Path] = {
    Files.createDirectories(outDir)
    eachQuery(names) { q =>
      val text = SparkEntry.queries(q)(spark, sfDir).queryExecution
        .explainString(FormattedMode)
      Files.writeString(outDir.resolve(s"$q.txt"), escape(text))
    }
  }

  /** `f` over the named queries, or over every query sorted by name
    * when none is named. A failing query is reported on stderr and
    * left out.
    */
  private def eachQuery[A](names: Seq[String])(f: String => A): Seq[A] =
    (if (names.nonEmpty) names else SparkEntry.queries.keys.toSeq.sorted).flatMap { q =>
      try Some(f(q))
      catch {
        case NonFatal(e) =>
          System.err.println(s"[probe] $q failed: ${e.getClass.getSimpleName}: ${e.getMessage}")
          None
      }
    }

  private def seconds(f: => Unit): Double = {
    val t0 = System.nanoTime()
    f
    (System.nanoTime() - t0) / 1e9
  }

  private def tasks(js: SparkListenerJobStart): Int = js.stageInfos.map(_.numTasks).sum

  /** Runs `f` and returns its wall seconds with every job it started.
    * The bus is drained before the listener goes on, so no earlier
    * run's event lands here, and again before it is read, so none of
    * `f`'s events is missed.
    */
  private[graft] def recordJobs(spark: SparkSession)(f: => Unit)
      : (Double, Seq[SparkListenerJobStart]) = {
    val sc = spark.sparkContext
    val started = new ConcurrentLinkedQueue[SparkListenerJobStart]()
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = { started.add(js); () }
    }
    GraftBridge.drainListeners(sc)
    sc.addSparkListener(listener)
    try {
      val sec = seconds(f)
      GraftBridge.drainListeners(sc)
      (sec, started.asScala.toSeq)
    } finally sc.removeSparkListener(listener)
  }

  /** Control characters (the Sampling null-key sentinel is a literal
    * NUL in plan text) as `\\uXXXX`, so plan dumps stay text files.
    */
  private def escape(s: String): String =
    s.flatMap(c => if (c < ' ' && c != '\n') f"\\u${c.toInt}%04x" else c.toString)
}
