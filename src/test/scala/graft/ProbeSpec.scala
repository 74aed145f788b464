package graft

import java.nio.file.Files

import scala.jdk.CollectionConverters._

/** The `Probe` modes on the test session: job counts repeat exactly,
  * `trace` lists the jobs `jobs` counts, and `plan` output stays text.
  */
class ProbeSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"
  private val qs = Seq("q1_lineitem_agg", "som_winner_expr", "text_stats")

  test("jobs: two passes give identical counts of at least one job") {
    val a = Probe.jobs(spark, dir, qs)
    val b = Probe.jobs(spark, dir, qs)
    assert(a.map(_.query) == qs)
    assert(a.forall(_.jobs >= 1), a)
    assert(a.map(j => (j.query, j.jobs, j.tasks)) == b.map(j => (j.query, j.jobs, j.tasks)))
    assert(a.head.row.split('\t').length == 4)
  }

  test("trace: one line per job that jobs counts") {
    val counts = Probe.jobs(spark, dir, qs).map(j => j.query -> j.jobs).toMap
    for (q <- qs) {
      val lines = Probe.trace(spark, dir, q)
      assert(lines.count(_.startsWith("job ")) == counts(q), lines.mkString("\n"))
      assert(lines.last.endsWith(s"${counts(q)} jobs"))
    }
  }

  test("plan: filtered executed plans have a Scan line and no raw control characters") {
    val plans = Probe.plan(spark, dir, qs)
    assert(plans.map(_._1) == qs)
    for ((q, p) <- plans) {
      assert(p.linesIterator.exists(_.contains("Scan")), s"$q:\n$p")
      assert(!p.exists(c => c < ' ' && c != '\n'), q)
    }
  }

  test("plan --out: one formatted plan file per query") {
    val out = Files.createTempDirectory("probe-plans")
    val written = Probe.planFiles(spark, dir, out, qs)
    val listed = Files.list(out).iterator().asScala.map(_.getFileName.toString).toSet
    assert(listed == qs.map(q => s"$q.txt").toSet)
    assert(written.forall(p => Files.readString(p).contains("Scan")))
  }
}
