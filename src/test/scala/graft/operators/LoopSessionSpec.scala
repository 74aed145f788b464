package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Exchange sizing of loop-scoped sessions: every rebase caps its
  * shuffle partitions at the CALLER's default, also when the frame
  * already lives on a loop child (the k-means|| weight count over the
  * single-partition φ-round state).
  */
class LoopSessionSpec extends SparkSpec {

  private def reduceTasks(df: org.apache.spark.sql.DataFrame): Int =
    df.groupBy("key").count().rdd.getNumPartitions

  test("a keyed aggregate re-based off a loop child gets its own key space") {
    val callerP = spark.conf.get("spark.sql.shuffle.partitions").toInt
    val df = spark.range(200).select((col("id") % 16).as("key"))
    val loop = LoopSession.rebase(df, 1)
    assert(reduceTasks(loop) == 1)
    assert(reduceTasks(LoopSession.rebase(loop, 16)) == math.min(callerP, 16))
    assert(reduceTasks(LoopSession.rebase(loop, 2)) == math.min(callerP, 2))
    // nested rebases keep the first caller's ceiling
    val nested = LoopSession.rebase(LoopSession.rebase(loop, 1), 1000)
    assert(reduceTasks(nested) == callerP)
    assert(nested.groupBy("key").count().collect().map(_.getLong(1)).sum == 200)
    // the caller's session is never mutated
    assert(spark.conf.get("spark.sql.shuffle.partitions").toInt == callerP)
  }
}
