package graft

/** Manual end-to-end smoke: runs the flagship entry query and prints the
  * result (mirrors the driver's rows>0 check).
  */
object Smoke {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.local(GraftSession.cores(8))
    val t0 = System.nanoTime()
    val df = SparkEntry.entry(spark)
    val n = df.count()
    println(f"[smoke] entry rows=$n in ${(System.nanoTime() - t0) / 1e9}%.2f s")
    df.orderBy("bmu_id").show(40, truncate = false)
    spark.stop()
  }
}
