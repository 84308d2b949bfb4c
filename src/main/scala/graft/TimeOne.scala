package graft

/** Dev utility: steady-state timing for ONE declared query
  * (`runMain graft.TimeOne q_name [dir]`, dir default sf0.1) — the
  * per-query drill-down Bench's full-suite sweep is too coarse for.
  * Runs on [[Harness.session]], so it plans what Bench plans, and times
  * construction plus [[Harness.drain]] like Bench. Warms at sf0.001 so
  * codegen and file-index caches are hot, then times 3 reps on the
  * target dir: rep1 is the COLD number for memo-leaf queries (fresh JVM,
  * dir-keyed memos empty), reps 2–3 the warm reads. Replica dirs
  * (/tmp/graft-sf1, /tmp/graft-sf10x) work as `dir`; 100× runs want
  * SPARK_DRIVER_MEM=24g like Headroom. */
object TimeOne {
  def main(args: Array[String]): Unit = {
    val spark = Harness.session("ERROR")
    val fn = SparkEntry.queries(args(0))
    val dir = args.lift(1).getOrElse("/root/testdata/sf0.1")
    Harness.drain(fn(spark, "/root/testdata/sf0.001"))
    for (i <- 1 to 3)
      println(f"rep$i ${Harness.time(fn(spark, dir))}%.3f s")
    spark.stop()
  }
}
