package graft

import scala.reflect.ClassTag

import org.apache.spark.rdd.RDD
import org.apache.spark.storage.StorageLevel

/** One value per input partition: the blocks a training loop runs over
  * (SOM epochs, k-means init and Lloyd's steps, logit GD, BPE merges)
  * and the per-block state it carries between passes. Every step maps
  * one block kernel over the values and folds the per-block results — the
  * reference's map-over-Dask-blocks-and-sum shape (`xpysom.py:545-558`).
  * Two forms differ only in where the kernel runs:
  *  - [[Parts.Spread]]: an RDD with one value per partition; each
  *    `collect` or `reduce` is one Spark job;
  *  - [[Parts.Local]]: the values in partition order, on the driver;
  *    no Spark job at all.
  *
  * A loop gets its blocks from [[Parts.load]], which picks the form by
  * one rule for every loop: its blocks total at most the loop's
  * threshold, or they stay on the cluster.
  *
  * Every merge `reduce` runs is exact — long sums, IEEE min, the SOM's
  * [[graft.som.ExactSum]] — so its result cannot depend on the
  * partitioning, the combine tree or the arrival order of the partials.
  */
private[graft] sealed trait Parts[A] {
  def map[B: ClassTag](f: A => B): Parts[B]
  /** `f` over this and `that` value by value; `that` must come from the
    * same [[Parts]] (the same form and partitions).
    */
  def zip[B: ClassTag, C: ClassTag](that: Parts[B])(f: (A, B) => C): Parts[C]
  /** The values in partition order. */
  def collect(): IndexedSeq[A]
  /** The values merged by `f` in no fixed order: `f` must be exact
    * (see [[Parts]]). `f` may write into and return its left operand,
    * so reduce only values made for it (a [[map]]'s output).
    */
  def reduce(f: (A, A) => A): A
  /** `body` with `v` readable from block kernels through the function
    * it is given: one broadcast on [[Parts.Spread]], destroyed when
    * `body` returns; the value itself on [[Parts.Local]].
    */
  def withShared[B: ClassTag, R](v: B)(body: (() => B) => R): R
  def persist(): Parts[A]
  /** Like [[persist]], for values a loop rewrites step by step: on
    * [[Parts.Spread]] the RDD is marked for `localCheckpoint`, so the
    * first job over it caches it and cuts its lineage there, and the
    * values of step k keep a lineage one step deep, not k.
    */
  def checkpoint(): Parts[A]
  /** Drops what [[persist]] or [[checkpoint]] cached, waiting until it
    * is gone.
    */
  def release(): Unit
}

private[graft] object Parts {

  /** The values of `rdd`, one per partition; an RDD without partitions
    * is the one value `empty` on the driver.
    */
  def of[A](rdd: RDD[A], empty: => A): Parts[A] =
    if (rdd.partitions.isEmpty) Local(Vector(empty)) else Spread(rdd)

  /** A loop's input: the values of `rdd` ([[of]]), on the driver when
    * their `size`s total at most `threshold` (in the loop's unit: rows,
    * values or words; 0 keeps them on the cluster), and `first` of each
    * value in partition order — the loop's first step, paid for by the
    * job that reads the input.
    *
    * `rdd` is cached and read by ONE job, which returns `first` of every
    * block, and the block itself when `threshold > 0` and its size is at
    * most its even share `threshold / partitions` — so the job never
    * ships more than `threshold`. Then:
    *  - every block came back: the cache is dropped, [[Local]];
    *  - some did not, but the sizes total at most `threshold`: one more
    *    job collects the others from the cache, which is then dropped,
    *    [[Local]] in partition order;
    *  - otherwise: the cached [[Spread]].
    * An RDD without partitions is [[Local]] of `empty`, with no job. On
    * a failure nothing stays cached; otherwise the caller releases the
    * result.
    */
  def load[A: ClassTag, F: ClassTag](rdd: RDD[A], empty: => A, threshold: Long)(
      size: A => Long, first: A => F): (Parts[A], IndexedSeq[F]) =
    if (rdd.partitions.isEmpty) {
      val e = empty
      (Local(Vector(e)), Vector(first(e)))
    } else {
      val blocks = Spread(rdd).persist()
      try {
        val share = if (threshold > 0) threshold / rdd.getNumPartitions else -1L
        val got = rdd.map { a =>
          val n = size(a)
          (n, first(a), if (n <= share) Some(a) else None)
        }.collect()
        val missing = got.indices.filter(got(_)._3.isEmpty)
        val local =
          if (missing.isEmpty) Some(got.map(_._3.get).toIndexedSeq)
          else if (threshold > 0 && got.iterator.map(_._1).sum <= threshold) {
            val rest = missing.zip(rdd.sparkContext.runJob(rdd,
              (it: Iterator[A]) => it.next(), missing)).toMap
            Some(got.indices.map(i => got(i)._3.getOrElse(rest(i))))
          } else None
        local.foreach(_ => blocks.release())
        (local.fold[Parts[A]](blocks)(Local(_)), got.map(_._2).toIndexedSeq)
      } catch { case e: Throwable => blocks.release(); throw e }
    }

  final case class Local[A](values: IndexedSeq[A]) extends Parts[A] {
    def map[B: ClassTag](f: A => B): Parts[B] = Local(values.map(f))
    def zip[B: ClassTag, C: ClassTag](that: Parts[B])(f: (A, B) => C): Parts[C] =
      Local(values.zip(that.asInstanceOf[Local[B]].values).map(f.tupled))
    def collect(): IndexedSeq[A] = values
    def reduce(f: (A, A) => A): A = values.reduceLeft(f)
    def withShared[B: ClassTag, R](v: B)(body: (() => B) => R): R = body(() => v)
    def persist(): Parts[A] = this
    def checkpoint(): Parts[A] = this
    def release(): Unit = ()
  }

  final case class Spread[A](rdd: RDD[A]) extends Parts[A] {
    def map[B: ClassTag](f: A => B): Parts[B] = Spread(rdd.map(f))
    def zip[B: ClassTag, C: ClassTag](that: Parts[B])(f: (A, B) => C): Parts[C] =
      Spread(rdd.zipPartitions(that.asInstanceOf[Spread[B]].rdd,
        preservesPartitioning = true)((as, bs) => Iterator(f(as.next(), bs.next()))))
    def collect(): IndexedSeq[A] = rdd.collect().toIndexedSeq
    /** `treeReduce` at its default depth 2: up to five partitions
      * merge on the driver in the job's one stage; wider inputs add a
      * level that exchanges the partials.
      */
    def reduce(f: (A, A) => A): A = rdd.treeReduce(f)
    def withShared[B: ClassTag, R](v: B)(body: (() => B) => R): R = {
      val bc = rdd.sparkContext.broadcast(v)
      try body(() => bc.value) finally bc.destroy()
    }
    def persist(): Parts[A] = { rdd.persist(StorageLevel.MEMORY_AND_DISK); this }
    def checkpoint(): Parts[A] = { rdd.localCheckpoint(); this }
    def release(): Unit = { rdd.unpersist(blocking = true); () }
  }
}
