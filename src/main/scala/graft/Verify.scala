package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. Runs on
  * [[Harness.session]], the session Bench times. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // Optional third arg: comma-separated query subset (dev iteration on
    // new queries without re-dumping the whole surface).
    val only: Option[Set[String]] =
      if (args.length > 2) Some(args(2).split(",").toSet) else None
    def keep(n: String) = only.forall(_.contains(n))
    val spark = Harness.session()
    new java.io.File(outDir).mkdirs()
    val failed = scala.collection.mutable.ArrayBuffer[String]()
    SparkEntry.queries.filter(kv => keep(kv._1)).foreach { case (name, fn) =>
      val t0 = System.nanoTime()
      try {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        // Per-query wall time: makes an environment-contention stall
        // visible in the driver log instead of a mystery bench outlier.
        System.err.println(f"[verify] $name%-22s ${(System.nanoTime() - t0) / 1e9}%8.3f s")
      } catch { case e: Throwable =>
        failed += name
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // One unmissable trailer: a per-query failure line can scroll out of a
    // long driver log, the round-4 fixture regeneration proved silent
    // partial output costs a whole round's correctness gate.
    if (failed.nonEmpty)
      System.err.println(
        s"[verify] n_failed=${failed.size}: ${failed.sorted.mkString(",")}")
    else System.err.println("[verify] n_failed=0")
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql.filter(kv => keep(kv._1))
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
