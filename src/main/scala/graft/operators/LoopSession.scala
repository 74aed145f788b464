package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.GraftBridge

/** Loop-scoped SQLConf for fixed-shape iteration queries. Its one
  * caller is the logit GD loop ([[LogitTrain]]); the k-means loops run
  * as block kernels over a cached RDD ([[Kmeans]]) and plan no query
  * per step.
  *
  * Such a loop runs one aggregate per iteration whose reduce side is
  * CONSTANT-SIZED at any corpus scale — one (dim+2)-long buffer per map
  * task for logit's global form, k buffers of (dim+1) longs for a
  * groupBy(cid) — so there is nothing for AQE to adapt:
  * no skew possible (the key space is ≤ k integers), nothing to
  * coalesce that sizing the exchange to the key space doesn't already
  * do. What AQE DOES add is one extra job + a driver-side stage
  * barrier per iteration (each shuffle query stage materializes as its
  * own job), which at small/medium scale doubles the loop's scheduler
  * round-trips (measured: 10-iteration logit train = 21 jobs with AQE,
  * 11 without; identical results — the sums are exact longs/DECIMALs).
  *
  * The overrides live on a CHILD session (the resolver's conf-isolation
  * pattern, [[Dedup.resolveDuplicateClusters]]): same SparkContext,
  * same SharedState — persisted upstream frames keep hitting the
  * cache — and the caller's session conf is never mutated. Shuffle
  * partitions are capped at the key-space size but never raised above
  * the caller's default, so cluster-scale sessions keep their
  * parallelism ceiling: the map side (the expensive corpus scan) is
  * partitioned by the input, not by this setting.
  */
private[graft] object LoopSession {

  /** Loop child -> the shuffle-partition default of the session the
    * loop started from. Re-basing a frame that already lives on a loop
    * child (a keyed aggregate over a loop's running state) caps its
    * exchange at this value, not at the loop's own setting. Weak keys:
    * an entry goes with its child session.
    */
  private val callerParts = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[SparkSession, Integer]())

  /** A child session of `df`'s session with AQE off and shuffle
    * partitions = min(caller default, `keySpace`), and `df` re-bound
    * to it. `keySpace` = the number of distinct reduce keys the loop's
    * aggregate can produce (k for groupBy(cid), 1 for global
    * aggregates). The caller default is the one of the session the
    * first rebase started from, also when `df` already lives on a loop
    * child.
    */
  def rebase(df: DataFrame, keySpace: Int): DataFrame = {
    val parent = df.sparkSession
    val child = parent.newSession()
    parent.conf.getAll.foreach { case (k, v) =>
      if (child.conf.isModifiable(k)) child.conf.set(k, v)
    }
    val defaultP = Option(callerParts.get(parent)).map(_.intValue)
      .getOrElse(parent.conf.get("spark.sql.shuffle.partitions").toInt)
    child.conf.set("spark.sql.shuffle.partitions",
      math.max(1, math.min(defaultP, keySpace)))
    callerParts.put(child, defaultP)
    child.conf.set("spark.sql.adaptive.enabled", "false")
    GraftBridge.withSession(df, child)
  }
}
