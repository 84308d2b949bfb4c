package graft

/** Dev utility (round 15): dump `.explain("formatted")` for named
  * declared queries to files — the plan evidence the optimization
  * rounds commit under plans/rN/ (judge checks plan claims against
  * these instead of running Spark).
  *
  * `runMain graft.ExplainDump <outDir> <suffix> q_a,q_b[,...] [dataDir]`
  * writes `<outDir>/<query>_<suffix>.txt` per query. The session is
  * [[Harness.session]], the one Bench runs on, so the dumps show the
  * plans Bench times. */
object ExplainDump {
  def main(args: Array[String]): Unit = {
    val outDir = new java.io.File(args(0))
    val suffix = args(1)
    val names = args(2).split(",").map(_.trim).filter(_.nonEmpty)
    val dir = args.lift(3).getOrElse("/root/testdata/sf0.1")
    outDir.mkdirs()
    val spark = Harness.session("ERROR")
    // SPARK_GRAFT_EXPLAIN_FINAL=1 executes the query first so the dump
    // shows the POST-AQE final plan (isFinalPlan=true) — the evidence tier
    // for claims like "AQE converts this static SMJ to broadcast at
    // runtime", which the initial plan cannot show.
    val runFinal = sys.env.get("SPARK_GRAFT_EXPLAIN_FINAL").contains("1")
    names.foreach { n =>
      val fn = SparkEntry.queries.getOrElse(n,
        sys.error(s"unknown query: $n"))
      val df = fn(spark, dir)
      // collect(), not count(): count() builds a NEW QueryExecution (the
      // grouped count plan), leaving df's own AQE plan un-executed; only
      // an action routed through df.queryExecution mutates its
      // AdaptiveSparkPlanExec into the final plan. Declared-query results
      // are compare-sized, so collect() is safe here.
      if (runFinal) df.collect()
      val plan = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      val f = new java.io.File(outDir, s"${n}_$suffix.txt")
      val w = new java.io.PrintWriter(f, "UTF-8")
      try w.write(plan) finally w.close()
      println(s"wrote ${f.getPath} (${plan.length} chars)")
    }
    spark.stop()
  }
}
