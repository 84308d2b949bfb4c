package perfbench

import java.io.{File, PrintWriter}
import java.lang.management.ManagementFactory

import scala.collection.mutable

import org.apache.spark.perfbench.SparkInternals
import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import graft.SparkEntry
import graft.operators.Hints
import graft.sources.{OsmPipeline, OsmXml}

/** One benchmark run of one workload in a fresh JVM: set up a session,
  * warm it on inputs other than the timed ones, then issue the workload's
  * operations back to back from this one thread, in whole rounds, until
  * both the time budget and the operation minimum are spent. Shared memo
  * leaves are dropped before each round, so every round starts from the
  * same state and queries of one round share what they build.
  *
  * Every operation is timed from its first call into the program to the
  * last row consumed by a sink that reads every column of every row: the
  * `noop` writer for queries, a collect for the OSM reports (a few rows,
  * which the check then compares), or the return of an entry point that
  * yields a value. After the timed pass, and outside every metric, it
  * writes the outputs that `check.py` compares.
  *
  * Arguments are `--key value` pairs; see `run.py`, which starts it.
  * Writes `result.json` (and `trace.jsonl` with `--trace 1`) to `--out`.
  */
object Main {
  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).map(p => p(0).stripPrefix("--") -> p(1)).toMap
    val out = new File(a("out")); out.mkdirs()
    val cores = math.min(4, Runtime.getRuntime.availableProcessors)
    val work = new File(a("work")).getAbsolutePath
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.default.parallelism", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      // Room for every class a round generates: with the default 100
      // entries each round recompiles (and re-JITs) all of them, and the
      // timed rounds never reach the warm state the warm-up is for. This
      // departs from the default the program otherwise runs with; the
      // compile cost it hides shows in the set-up codegen figures.
      .config("spark.sql.codegen.cache.maxEntries", "4096")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    // Read only now: the codegen cache takes its size from the session's
    // conf when the code generator is first touched.
    val cg0 = (SparkInternals.codegenCompileNanos, SparkInternals.codegenClasses)

    val wl: Workload = a("kind") match {
      case "query" => new QueryWorkload(spark, a("queries").split(",").toSeq,
        a("data"), a("warm-data"), out, cores)
      case "osm" => new OsmWorkload(spark, a("extracts").split(",").toSeq,
        a("warm-extract"), out)
    }

    // The first pass compiles the generated classes; later passes run them
    // again for the JIT.
    val warm = (1 to a("warm-passes").toInt).flatMap(_ => wl.warmUp())
    Hints.evictAllMemos()
    val setupS = (System.currentTimeMillis() - a("t0-ms").toLong) / 1e3
    val setupCodegen = Map(
      "compile_s" -> (SparkInternals.codegenCompileNanos - cg0._1) / 1e9,
      "classes" -> (SparkInternals.codegenClasses - cg0._2))

    val trace = if (a("trace") == "1") Some(new LayerTrace(spark, cores)) else None
    val seconds = a("seconds").toDouble
    val minOps = a("min-ops").toInt
    val cpu = ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    val rounds = mutable.ArrayBuffer[Map[String, Any]]()
    val ops = mutable.ArrayBuffer[Map[String, Any]]()
    val traces = mutable.ArrayBuffer[Map[String, Any]]()
    val passStart = System.nanoTime()
    def elapsed = (System.nanoTime() - passStart) / 1e9
    while (rounds.isEmpty || elapsed < seconds || ops.size < minOps) {
      val r = rounds.size
      Hints.evictAllMemos()
      val c0 = cpu.getProcessCpuTime
      val w0 = System.nanoTime()
      for (op <- wl.ops) {
        trace.foreach(_.begin())
        val t0 = System.nanoTime()
        val err =
          try { op.run(); None }
          catch { case e: Throwable => Some(s"${e.getClass.getSimpleName}: ${e.getMessage}".take(300)) }
        val t = (System.nanoTime() - t0) / 1e9
        err.foreach(m => System.err.println(s"[perfbench] ${op.name} failed: $m"))
        ops += Map("round" -> r, "name" -> op.name, "wall_s" -> t, "ok" -> err.isEmpty,
          "error" -> err.getOrElse(""))
        trace.foreach(tr => traces += tr.finish(op.name, r, t))
      }
      rounds += Map("wall_s" -> (System.nanoTime() - w0) / 1e9,
        "cpu_s" -> (cpu.getProcessCpuTime - c0) / 1e9)
    }
    val peakRssMb = vmHwmMb()

    val check = wl.check()
    val result = Map("setup_s" -> setupS, "setup_codegen" -> setupCodegen, "cores" -> cores, "peak_rss_mb" -> peakRssMb,
      "warm_ops" -> warm, "rounds" -> rounds.toSeq, "ops" -> ops.toSeq, "check" -> check)
    write(new File(out, "result.json"), Json(result))
    if (trace.isDefined) write(new File(out, "trace.jsonl"), traces.map(Json(_)).mkString("\n"))
    spark.stop()
  }

  private def vmHwmMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
    finally src.close()
  }

  private def write(f: File, s: String): Unit = {
    val w = new PrintWriter(f, "UTF-8")
    try w.println(s) finally w.close()
  }
}

final case class Op(name: String, run: () => Any)

trait Workload {
  def ops: Seq[Op]
  def warmOps: Seq[Op]
  /** Runs after the timed pass; returns what check.py needs. */
  def check(): Map[String, Any]

  /** Runs every warm-up operation, in order; returns their times. */
  def warmUp(): Seq[Map[String, Any]] = warmOps.map(timed)

  protected def timed(op: Op): Map[String, Any] = {
    val t0 = System.nanoTime()
    try op.run() catch { case _: Throwable => () }
    Map("name" -> op.name, "wall_s" -> (System.nanoTime() - t0) / 1e9)
  }
}

/** Runs independent tasks on `threads` threads; results in input order. */
private object Parallel {
  def map[A, B](xs: Seq[A], threads: Int)(f: A => B): Seq[B] = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(threads)
    try xs.map(x => pool.submit(() => f(x))).map(_.get())
    finally pool.shutdown()
  }
}

private object Sink {
  /** Consumes every column of every row, and nothing else. */
  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** Every column of every row, brought to the driver. */
  def rows(df: DataFrame): Seq[Seq[Any]] =
    df.collect().toSeq.map(_.toSeq.map {
      case s: scala.collection.Seq[_] => s.toSeq
      case v => v
    })
}

/** Declared queries over one table directory. */
final class QueryWorkload(spark: SparkSession, queries: Seq[String], data: String,
    warmData: String, out: File, threads: Int) extends Workload {
  private def op(q: String, dir: String) =
    Op(q, () => Sink.noop(SparkEntry.queries(q)(spark, dir)))
  val ops: Seq[Op] = queries.map(op(_, data))
  val warmOps: Seq[Op] = queries.map(op(_, warmData))

  /** Queries are independent, so warm-up and check run them concurrently,
    * one per core: both lie outside the timed pass. */
  override def warmUp(): Seq[Map[String, Any]] = Parallel.map(warmOps, threads)(timed)

  def check(): Map[String, Any] = {
    val dir = new File(out, "check")
    val failed = Parallel.map(queries, threads) { q =>
      try {
        SparkEntry.queries(q)(spark, data).coalesce(1).write.mode("overwrite")
          .parquet(new File(dir, q).getPath)
        None
      } catch { case _: Throwable => Some(q) }
    }.flatten
    val oracle = SparkEntry.oracleSql
    Map("dir" -> dir.getPath, "failed" -> failed,
      "oracle" -> queries.flatMap(q => oracle.get(q).map(q -> _)).toMap)
  }
}

/** The paper's pipeline on OSM XML extracts: audit, process_map, report. */
final class OsmWorkload(spark: SparkSession, extracts: Seq[String], warmExtract: String,
    out: File) extends Workload {
  private val Tables = Seq("nodes", "nodes_tags", "ways", "ways_tags", "ways_nodes")
  private val values = mutable.Map[String, Any]()
  private val stars = mutable.Map[String, Map[String, DataFrame]]()

  private def starDir(x: String) =
    new File(out, "star/" + new File(x).getName.stripSuffix(".osm")).getPath
  private def star(x: String): Map[String, DataFrame] =
    Tables.map(t => t -> spark.read.parquet(s"${starDir(x)}/$t")).toMap
  private def rawTags(x: String) =
    OsmXml.nodesTags(spark, x).unionByName(OsmXml.waysTags(spark, x))

  private def steps(x: String): Seq[Op] = {
    val tag = new File(x).getName.stripSuffix(".osm")
    def keep(k: String)(v: Any): Unit = values(s"$tag/$k") = v
    Seq(
      Op(s"auditStreetTypes/$tag", () =>
        keep("audit")(Sink.rows(OsmPipeline.auditStreetTypes(rawTags(x))))),
      Op(s"processMap/$tag", () => stars(tag) = OsmPipeline.processMap(spark, x, starDir(x))),
      Op(s"topContributors/$tag", () =>
        keep("topContributors")(Sink.rows(OsmPipeline.topContributors(stars(tag))))),
      Op(s"topAmenities/$tag", () =>
        keep("topAmenities")(Sink.rows(OsmPipeline.topAmenities(stars(tag))))),
      Op(s"contributorCount/$tag", () =>
        keep("contributorCount")(OsmPipeline.contributorCount(stars(tag)))),
      Op(s"tagCensus/$tag", () => keep("tagCensus")(OsmPipeline.tagCensus(spark, x))))
  }
  val ops: Seq[Op] = extracts.flatMap(steps)
  val warmOps: Seq[Op] = steps(warmExtract)

  /** The last round's outputs, plus the audit of the cleaned star as written. */
  def check(): Map[String, Any] =
    extracts.map { x =>
      val tag = new File(x).getName.stripSuffix(".osm")
      val cleanedAudit =
        try Sink.rows(OsmPipeline.auditStreetTypes(
          star(x)("nodes_tags").unionByName(star(x)("ways_tags"))))
        catch { case e: Throwable => s"error: ${e.getMessage}" }
      tag -> (Map("star" -> starDir(x), "audit_cleaned" -> cleanedAudit) ++
        Seq("audit", "topContributors", "topAmenities", "contributorCount", "tagCensus")
          .map(k => k -> values.getOrElse(s"$tag/$k", null)))
    }.toMap
}

/** Minimal JSON writer for the harness's own records. */
object Json {
  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => apply(f.toDouble)
    case n: java.lang.Number => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case r: Row => apply(r.toSeq)
    case x => quote(x.toString)
  }

  private def quote(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
