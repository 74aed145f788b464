package graft

import org.apache.spark.SparkException
import org.apache.spark.rdd.RDD

/** [[Parts.load]], the one step that reads a loop's input blocks and
  * picks their form: the jobs it runs, what it ships, the order of what
  * comes back and what it leaves cached.
  */
class PartsSpec extends SparkSpec {
  import PartsSpec._

  /** One block per partition, partition p holding the ints of
    * `layout(p)`; [[Opaque]] blocks when `opaque`.
    */
  private def blocks(layout: Seq[Range], opaque: Boolean = false): RDD[Block] =
    spark.sparkContext.parallelize(layout, layout.length)
      .map(r => if (opaque) new Opaque(r.toArray) else new Block(r.toArray))

  /** `load` over `layout` at `threshold`, with `first` the block's ints:
    * the form, the first results, the values on the driver (none for
    * the cluster form) and the jobs run. A cluster result is released
    * unless `keep`; nothing else may stay cached.
    */
  private def load(layout: Seq[Range], threshold: Long, keep: Boolean = false,
                   opaque: Boolean = false)
      : (Parts[Block], IndexedSeq[Seq[Int]], Option[Seq[Seq[Int]]], Int) = {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    var out: (Parts[Block], IndexedSeq[Seq[Int]]) = null
    val (_, jobs) = Probe.recordJobs(spark) {
      out = Parts.load(blocks(layout, opaque), new Block(Array.empty), threshold)(
        _.xs.length.toLong, ints)
    }
    val (parts, firsts) = out
    val local = parts match {
      case Parts.Local(values) => Some(values.map(ints))
      case _ => None
    }
    if (!keep) parts.release()
    if (local.isDefined || !keep)
      assert(sc.getPersistentRDDs.keySet == before, "load left its blocks cached")
    (parts, firsts, local, jobs.size)
  }

  private val even = Seq(0 until 5, 5 until 10, 10 until 15, 15 until 20)
  // sizes 2, 9, 0, 3: the 9-int block exceeds a 16-int threshold's share
  private val uneven = Seq(0 until 2, 2 until 11, 0 until 0, 11 until 14)

  test("even blocks within the threshold come back in one job") {
    val (_, firsts, local, jobs) = load(even, threshold = 20L)
    assert(jobs == 1)
    assert(local.contains(even.map(_.toSeq)))
    assert(firsts == even.map(_.toSeq))
  }

  test("a block over its share, total within the threshold: a second job, partition order") {
    val (_, firsts, local, jobs) = load(uneven, threshold = 16L)
    assert(jobs == 2)
    assert(local.contains(uneven.map(_.toSeq)))
    assert(firsts == uneven.map(_.toSeq))
  }

  test("a total over the threshold stays on the cluster, cached until release") {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    val (parts, firsts, local, jobs) = load(uneven, threshold = 13L, keep = true)
    try {
      assert(jobs == 1)
      assert(local.isEmpty && parts.isInstanceOf[Parts.Spread[_]])
      assert(firsts == uneven.map(_.toSeq))
      assert((sc.getPersistentRDDs.keySet -- before).size == 1, "the blocks are cached")
      // the cached blocks serve the loop's next step
      val (_, more) = Probe.recordJobs(spark) {
        assert(parts.map(_.xs.sum).collect() == uneven.map(_.sum))
      }
      assert(more.size == 1)
    } finally parts.release()
    assert(sc.getPersistentRDDs.keySet == before)
  }

  test("threshold 0 keeps even a tiny input on the cluster and ships no block") {
    val (parts, firsts, local, jobs) =
      load(Seq(0 until 1, 1 until 2), threshold = 0L, opaque = true)
    assert(jobs == 1)
    assert(local.isEmpty && parts.isInstanceOf[Parts.Spread[_]])
    assert(firsts == Seq(Seq(0), Seq(1)))
  }

  test("an RDD without partitions is the empty block on the driver, no job") {
    var out: (Parts[Block], IndexedSeq[Int]) = null
    val (_, jobs) = Probe.recordJobs(spark) {
      out = Parts.load(spark.sparkContext.emptyRDD[Block], new Block(Array(7)), 10L)(
        _.xs.length.toLong, _.xs.sum)
    }
    assert(jobs.isEmpty)
    val Parts.Local(values) = out._1
    assert(values.map(ints) == Seq(Seq(7)))
    assert(out._2 == Seq(7))
  }

  test("a throwing first step leaves nothing cached") {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    for (threshold <- Seq(0L, 100L)) {
      val e = intercept[SparkException] {
        Parts.load(blocks(even), new Block(Array.empty), threshold)(
          _.xs.length.toLong, b => require(b.xs.head != 10, "bad block"))
      }
      assert(e.getMessage.contains("bad block"))
      assert(sc.getPersistentRDDs.keySet == before, s"threshold $threshold")
    }
  }

  test("first results come back in partition order in either form") {
    val layout = (0 until 7).map(p => p * 10 until p * 10 + p % 3)
    for (threshold <- Seq(0L, 3L, 7L, 100L)) {
      val (_, firsts, local, _) = load(layout, threshold)
      assert(firsts == layout.map(_.toSeq), s"threshold $threshold")
      // sizes 0, 1, 2, 0, 1, 2, 0 total 6: thresholds 7 and 100 bring
      // them to the driver, 0 and 3 (a share of 0) do not
      assert(local.isDefined == (threshold >= 6), s"threshold $threshold")
      local.foreach(v => assert(v == layout.map(_.toSeq)))
    }
  }
}

object PartsSpec {
  /** A block of ints. */
  class Block(val xs: Array[Int]) extends Serializable

  /** A block that cannot be serialized: a job that ships one fails. */
  final class Opaque(xs: Array[Int]) extends Block(xs) {
    val lock = new Object
  }

  def ints(b: Block): Seq[Int] = b.xs.toSeq
}
