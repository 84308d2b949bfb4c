package graft

import org.apache.spark.sql.SparkSession

/** Dev utility: steady-state timing for ONE declared query
  * (`runMain graft.TimeOne q_name [dir]`, dir default sf0.1) — the
  * per-query drill-down Bench's full-suite sweep is too coarse for.
  * Warms at sf0.001 so codegen and file-index caches are hot, then
  * times 3 reps on the target dir: rep1 is the COLD number for
  * memo-leaf queries (fresh JVM, dir-keyed memos empty), reps 2–3 the
  * warm reads — both sides of the standing leaf measurement semantics.
  * Replica dirs (/tmp/graft-sf1, /tmp/graft-sf10x) work as `dir`;
  * 100× runs want SPARK_DRIVER_MEM=24g like Headroom. Runs at
  * local[$SPARK_GRAFT_CPUS] (default 32), like Bench. */
object TimeOne {
  def main(args: Array[String]): Unit = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = Harness.withStallTolerances(
      SparkSession.builder().master(s"local[$cpus]")
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.sql.adaptive.coalescePartitions.initialPartitionNum", "512")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val fn = SparkEntry.queries(args(0))
    val dir = args.lift(1).getOrElse("/root/testdata/sf0.1")
    println(f"calib_pre ${Calibrate.run().seconds}%.3f s")
    println(f"calib_all_pre ${Calibrate.runParallel()}%.3f s")
    fn(spark, "/root/testdata/sf0.001").count()
    for (i <- 1 to 3) {
      val t0 = System.nanoTime()
      fn(spark, dir).count()
      println(f"rep$i ${(System.nanoTime() - t0) / 1e9}%.3f s")
    }
    println(f"calib_post ${Calibrate.run().seconds}%.3f s")
    println(f"calib_all_post ${Calibrate.runParallel()}%.3f s")
    spark.stop()
  }
}
