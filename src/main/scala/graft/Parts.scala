package graft

import scala.reflect.ClassTag

import org.apache.spark.rdd.RDD
import org.apache.spark.storage.StorageLevel

/** One value per input partition: the blocks a training loop runs over
  * (SOM epochs, k-means init and Lloyd's steps, logit GD) and the
  * per-block state it carries between passes. Every step maps one block
  * kernel over the values and folds the per-block results — the
  * reference's map-over-Dask-blocks-and-sum shape (`xpysom.py:545-558`).
  * Two forms differ only in where the kernel runs:
  *  - [[Parts.Spread]]: an RDD with one value per partition; each
  *    `collect` or `reduce` is one Spark job;
  *  - [[Parts.Local]]: the values in partition order, on the driver;
  *    no Spark job at all.
  *
  * `reduce(depth)` is one fixed-topology fold for both forms. The fan-out
  * is max(⌈width^(1/depth)⌉, 2); while more than fan-out values remain,
  * each run of fan-out adjacent partition ids folds into one value, left
  * to right in id order; the last at most fan-out values fold left. The
  * combine order depends only on (width, depth), never on the form or on
  * shuffle arrival order, so float sums are bit-reproducible across runs,
  * resumes and forms, unlike `RDD.treeReduce`. A [[Parts.Spread]] runs a
  * level as a cluster exchange only where `treeAggregate` would add one
  * (width > fan-out + ⌈width/fan-out⌉), then collects the partials and
  * finishes on the driver with the same grouping.
  */
private[graft] sealed trait Parts[A] {
  def map[B: ClassTag](f: A => B): Parts[B]
  /** `f` over this and `that` value by value; `that` must come from the
    * same [[Parts]] (the same form and partitions).
    */
  def zip[B: ClassTag, C: ClassTag](that: Parts[B])(f: (A, B) => C): Parts[C]
  /** The values in partition order. */
  def collect(): IndexedSeq[A]
  /** The values folded by `f` in the fixed topology of `depth` (see
    * [[Parts]]). `f` may write into and return its left operand, so
    * reduce only values made for it (a [[map]]'s output).
    */
  def reduce(depth: Int)(f: (A, A) => A): A
  /** `body` with `v` readable from block kernels through the function
    * it is given: one broadcast on [[Parts.Spread]], destroyed when
    * `body` returns; the value itself on [[Parts.Local]].
    */
  def withShared[B: ClassTag, R](v: B)(body: (() => B) => R): R
  def persist(): Parts[A]
  /** Drops what [[persist]] cached, waiting until it is gone. */
  def release(): Unit
}

private[graft] object Parts {

  /** The depth of the merges whose result cannot depend on the
    * topology (exact sums, IEEE min): `treeReduce`'s default.
    */
  val exactDepth = 2

  /** The values of `rdd`, one per partition; an RDD without partitions
    * is the one value `empty` on the driver.
    */
  def of[A](rdd: RDD[A], empty: => A): Parts[A] =
    if (rdd.partitions.isEmpty) Local(Vector(empty)) else Spread(rdd)

  private def fanout(width: Int, depth: Int): Int =
    math.max(math.ceil(math.pow(width.toDouble, 1.0 / math.max(depth, 1))).toInt, 2)

  /** The driver half of the fold: `vs` in partition order. */
  private def fold[A](vs: IndexedSeq[A], fan: Int)(f: (A, A) => A): A = {
    require(vs.nonEmpty, "no partials to reduce (empty input)")
    var cur = vs
    while (cur.length > fan) cur = cur.grouped(fan).map(_.reduceLeft(f)).toIndexedSeq
    cur.reduceLeft(f)
  }

  final case class Local[A](values: IndexedSeq[A]) extends Parts[A] {
    def map[B: ClassTag](f: A => B): Parts[B] = Local(values.map(f))
    def zip[B: ClassTag, C: ClassTag](that: Parts[B])(f: (A, B) => C): Parts[C] =
      Local(values.zip(that.asInstanceOf[Local[B]].values).map(f.tupled))
    def collect(): IndexedSeq[A] = values
    def reduce(depth: Int)(f: (A, A) => A): A = fold(values, fanout(values.length, depth))(f)
    def withShared[B: ClassTag, R](v: B)(body: (() => B) => R): R = body(() => v)
    def persist(): Parts[A] = this
    def release(): Unit = ()
  }

  final case class Spread[A](rdd: RDD[A]) extends Parts[A] {
    def map[B: ClassTag](f: A => B): Parts[B] = Spread(rdd.map(f))
    def zip[B: ClassTag, C: ClassTag](that: Parts[B])(f: (A, B) => C): Parts[C] =
      Spread(rdd.zipPartitions(that.asInstanceOf[Spread[B]].rdd,
        preservesPartitioning = true)((as, bs) => Iterator(f(as.next(), bs.next()))))
    def collect(): IndexedSeq[A] = rdd.collect().toIndexedSeq
    def reduce(depth: Int)(f: (A, A) => A): A = {
      var width = rdd.getNumPartitions
      val fan = fanout(width, depth)
      var cur = rdd.mapPartitionsWithIndex((pid, it) => it.map(pid -> _))
      while (width > fan + (width + fan - 1) / fan) {
        val next = (width + fan - 1) / fan
        cur = cur.map { case (pid, v) => (pid / fan, (pid, v)) }
          .groupByKey(next)
          .map { case (gid, it) => gid -> it.toSeq.sortBy(_._1).map(_._2).reduceLeft(f) }
        width = next
      }
      fold(cur.collect().toIndexedSeq.sortBy(_._1).map(_._2), fan)(f)
    }
    def withShared[B: ClassTag, R](v: B)(body: (() => B) => R): R = {
      val bc = rdd.sparkContext.broadcast(v)
      try body(() => bc.value) finally bc.destroy()
    }
    def persist(): Parts[A] = { rdd.persist(StorageLevel.MEMORY_AND_DISK); this }
    def release(): Unit = { rdd.unpersist(blocking = true); () }
  }
}
