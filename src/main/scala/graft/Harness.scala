package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The one measurement harness: the session every main except `Smoke`
  * runs on, and the action every timed or warm-up run executes.
  *
  * `session()` runs at `local[n]` with `n` shuffle partitions, AQE on,
  * UTC and no UI. `n` is `SPARK_GRAFT_CPUS`, else the host's core count.
  * The heartbeat and network timeouts are stretched because a G1
  * full-collection stall on a big replica outlasted the 10 s default
  * heartbeat and lost the local executor (Spark exit 56) in a 100×
  * sweep: a measurement harness must survive the stall it measures.
  *
  * `drain(df)` writes every column of every row to the `noop` sink,
  * which is what the perfbench harness times. `count()` lets Catalyst
  * prune every column and most operators (windows, sorts, projections)
  * from the plan, so it times a different, smaller query.
  */
object Harness {
  val cpus: Int = sys.env.get("SPARK_GRAFT_CPUS")
    .flatMap(c => scala.util.Try(c.trim.toInt).toOption)
    .filter(_ > 0)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  def session(logLevel: String = "WARN"): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.executor.heartbeatInterval", "60s")
      .config("spark.network.timeout", "600s")
      .getOrCreate()
    spark.sparkContext.setLogLevel(logLevel)
    spark
  }

  def drain(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** Wall seconds to build `df` and [[drain]] it. */
  def time(df: => DataFrame): Double = {
    val t0 = System.nanoTime()
    drain(df)
    (System.nanoTime() - t0) / 1e9
  }
}
