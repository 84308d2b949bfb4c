package graft

/** Benchmark entrypoint (driver contract). Prints ONE JSON line:
  * {"metric":"total","value":N,"unit":"sec","queries":{...},"sf":...}
  *
  * Two hard-won constraints shape this main:
  *
  *  1. The driver captures only the LAST 2000 bytes of the run's output and
  *     parses the JSON line out of that tail. A full per-query map for 90+
  *     queries is >2.1 KB and has never fit (BENCH_r01/r02 both recorded
  *     parsed:null). So the line carries the total over ALL queries plus the
  *     slowest queries' times, greedily added while the line stays under a
  *     byte budget; the omitted entries are the fastest (sub-0.3 s) ones and
  *     their count/sum are reported. The complete map goes to stderr and to
  *     target/bench_full.json.
  *
  *  2. Machine contention is bimodal (loadavg swings 1→8; identical queries
  *     swing 2 s → 100+ s). Round 2 ran each query's reps back-to-back, so a
  *     single burst poisoned all 3 reps of one query (q_join_anti min=23.8 s
  *     for a 0.3 s plan). Reps are now interleaved ACROSS the suite — rep i
  *     of query q runs a full suite-length (~30 s) after rep i-1 — so a
  *     burst must outlast the whole suite to poison any query's min.
  *
  * Each rep starts with `Hints.evictAllMemos()`, so within a pass the
  * first consumer of a shared leaf (in sorted query order) pays its build
  * and later consumers read it.
  *
  * Runs on [[Harness.session]] and times construction plus
  * [[Harness.drain]], the full-row `noop` sink, for the warm-up and every
  * timed rep. Numbers taken with `count()` (every snapshot before
  * bench_full_r17) time pruned plans and do not compare with these.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val reps = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "3").toInt.max(1)
    val spark = Harness.session()
    val names = SparkEntry.queries.keys.toSeq.sorted
    // Warm-up pass at the smallest SF: compiles every query's generated
    // code and warms the JIT so the timed passes measure steady-state
    // execution rather than first-run compilations.
    val warmDir = "/root/testdata/sf0.001"
    if (new java.io.File(warmDir).isDirectory)
      names.foreach { n =>
        try Harness.drain(SparkEntry.queries(n)(spark, warmDir))
        catch { case _: Throwable => () }
      }
    // A query that throws records -1 (BASELINE.md contract), never its
    // time-to-exception: a fast failure must read as a failure in the
    // artifact, not as a healthy sub-0.1 s timing (BENCH_r04 masked a
    // 73-query breakage exactly this way). One successful rep clears the
    // marker; a query is "failed" only if ALL reps threw.
    val best = scala.collection.mutable.Map[String, Double]()
    val failed = scala.collection.mutable.Set[String]()
    for (rep <- 1 to reps) {
      operators.Hints.evictAllMemos()
      for (name <- names) {
        val t0 = System.nanoTime()
        val ok =
          try { Harness.drain(SparkEntry.queries(name)(spark, sfDir)); true }
          catch { case e: Throwable =>
            System.err.println(s"[bench] FAIL $name: ${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(200)}")
            false
          }
        val t = (System.nanoTime() - t0) / 1e9
        val prev = best.get(name).filter(_ >= 0).getOrElse(Double.MaxValue)
        if (ok) best(name) = math.min(prev, t)
        else if (!best.contains(name)) best(name) = -1.0
        System.err.println(f"[bench] rep=$rep $name%-24s $t%8.3f s  ok=$ok best=${best(name)}%8.3f")
      }
    }
    names.foreach(n => if (best.getOrElse(n, -1.0) < 0) failed += n)
    val load = try scala.io.Source.fromFile("/proc/loadavg").mkString.trim.split(" ").take(3).mkString(" ")
               catch { case _: Throwable => "" }
    def f3(d: Double): String = "%.3f".format(d)
    // Total is over SUCCESSFUL queries only; failures are carried as -1 in
    // the per-query map plus an explicit n_failed count so a broken suite
    // can never present as a healthy total.
    val total = best.values.filter(_ >= 0).sum
    val sorted = best.toSeq.sortBy { case (_, v) => if (v < 0) Double.NegativeInfinity else -v }
    // Greedy: include slowest queries while the final line stays ≤ budget.
    // Failed queries (-1) sort FIRST so they always make the line.
    val budget = 1600
    val fixedFmt = (shown: Seq[(String, Double)], omitted: Seq[(String, Double)]) =>
      s"""{"metric":"total","value":${f3(total)},"unit":"sec","queries":{""" +
        shown.map { case (k, v) => "\"" + k + "\":" + f3(v) }.mkString(",") +
        s"""},"sf":"$sfDir","reps":$reps,"n_queries":${best.size},"n_failed":${failed.size},""" +
        s""""omitted_fastest":${omitted.size},"omitted_sum":${f3(omitted.map(_._2).sum)},"cpus":${Harness.cpus},"loadavg":"$load"}"""
    var cut = sorted.size
    while (cut > 0 && fixedFmt(sorted.take(cut), sorted.drop(cut)).length > budget) cut -= 1
    val line = fixedFmt(sorted.take(cut), sorted.drop(cut))
    // Full map for diagnosis (driver ignores these channels).
    val full = sorted.map { case (k, v) => "\"" + k + "\":" + f3(v) }.mkString("{", ",", "}")
    System.err.println(s"[bench] full=$full")
    try {
      val w = new java.io.PrintWriter("target/bench_full.json")
      w.println(full); w.close()
    } catch { case _: Throwable => () }
    // Family-subtotal insurance line: the greedy per-query tail carries
    // only the slowest ~75 entries, so a regression confined to fast
    // queries of one family would be invisible in the graded artifact.
    // One compact second line with per-family sums (family = the token
    // after "q_") closes that blind spot; smallest families fold into
    // other_sum/other_n so the line stays inside its byte budget and the
    // combined two-line output still fits the driver's 2000-byte tail.
    val famTotals = best.toSeq.filter(_._2 >= 0)
      .groupBy { case (k, _) => k.split("_").lift(1).getOrElse("misc") }
      .map { case (f, xs) => f -> xs.map(_._2).sum }
      .toSeq.sortBy { case (_, v) => -v }
    val famFmt = (shown: Seq[(String, Double)], rest: Seq[(String, Double)]) =>
      s"""{"metric":"families","totals":{""" +
        shown.map { case (k, v) => "\"" + k + "\":" + f3(v) }.mkString(",") +
        s"""},"other_sum":${f3(rest.map(_._2).sum)},"other_n":${rest.size}}"""
    var fcut = famTotals.size
    while (fcut > 0 &&
        famFmt(famTotals.take(fcut), famTotals.drop(fcut)).length > 300)
      fcut -= 1
    val famLine = famFmt(famTotals.take(fcut), famTotals.drop(fcut))
    // Silence Spark before stop so shutdown logs can't land after the JSON
    // line and push it out of the driver's 2000-byte tail window.
    spark.sparkContext.setLogLevel("OFF")
    try spark.stop() catch { case _: Throwable => () }
    println(famLine)
    println(line)
  }
}
