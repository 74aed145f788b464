package graft

import org.apache.spark.sql.SparkSession

/** The one SparkSession factory: every main and the test harness build
  * their session here, so the suite's session config has one
  * definition.
  */
object GraftSession {

  /** Local core count: `SPARK_GRAFT_CPUS` when set, else `default`. */
  def cores(default: Int): Int =
    sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt).getOrElse(default)

  /** A suite session with one shuffle partition per core. */
  def local(cores: Int): SparkSession = local(cores, cores)

  /** A `local[cores]` session with the suite config: `shufflePartitions`
    * shuffle partitions, no UI, parquet INT64 nanos read as longs (the
    * testdata's `events.ts`, see `Queries.eventsNs`), UTC session time,
    * log level WARN.
    */
  def local(cores: Int, shufflePartitions: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft")
      .config("spark.sql.shuffle.partitions", shufflePartitions)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
