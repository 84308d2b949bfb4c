package perfbench

import scala.collection.mutable

import org.apache.spark.perfbench.SparkInternals
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{CommandResultExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.datasources.v2.V2TableWriteExec
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.util.QueryExecutionListener

/** Per-operation layer trace, measured from outside the program.
  *
  * A SparkListener sees jobs, stages, tasks and SQL executions; a
  * QueryExecutionListener sees each executed query's planning phases.
  * Events are kept in memory per operation; `finish` drains the listener
  * bus so every event of the operation is attributed to it.
  *
  * Layer rule: a job that carries a SQL execution id belongs to the
  * execution layer, any other job (XML schema inference, RDD actions the
  * program runs while it builds a plan) to construction. Construction wall
  * time is the operation's wall time outside every SQL execution span.
  */
final class LayerTrace(spark: SparkSession, cores: Int)
    extends SparkListener with QueryExecutionListener {

  private val sc = spark.sparkContext
  sc.addSparkListener(this)
  spark.listenerManager.register(this)

  private final class Acc {
    var constructJobs, execJobs, execStages, tasks = 0L
    var runMs, cpuNs, gcMs, shW, shR, spill, peakMem, inB, outB, rows = 0L
    val phases = mutable.Map[String, Long]().withDefaultValue(0L)
    val planSpans = mutable.ArrayBuffer[(String, Long, Long)]()
    val execOpen = mutable.Map[Long, Long]()
    val execSpans = mutable.ArrayBuffer[(Long, Long)]()
    val taskSpans = mutable.ArrayBuffer[(Long, Long)]()
  }
  private var acc = new Acc
  private val sqlStages = mutable.Set[Int]()
  private var cgNanos, cgClasses = 0L
  private var startMs = 0L

  private def isSql(p: java.util.Properties): Boolean =
    p != null && p.getProperty("spark.sql.execution.id") != null

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val sql = isSql(e.properties)
    if (sql) { acc.execJobs += 1; sqlStages ++= e.stageIds }
    else acc.constructJobs += 1
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    if (sqlStages.contains(e.stageInfo.stageId)) acc.execStages += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null && sqlStages.contains(e.stageId)) {
      acc.tasks += 1
      acc.runMs += m.executorRunTime
      acc.cpuNs += m.executorCpuTime
      acc.gcMs += m.jvmGCTime
      acc.shW += m.shuffleWriteMetrics.bytesWritten
      acc.shR += m.shuffleReadMetrics.totalBytesRead
      acc.spill += m.diskBytesSpilled
      acc.peakMem = math.max(acc.peakMem, m.peakExecutionMemory)
      acc.inB += m.inputMetrics.bytesRead
      acc.outB += m.outputMetrics.bytesWritten
      acc.rows += m.outputMetrics.recordsWritten
      acc.taskSpans += ((e.taskInfo.launchTime, e.taskInfo.finishTime))
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = synchronized {
    e match {
      case s: SparkListenerSQLExecutionStart => acc.execOpen(s.executionId) = s.time
      case s: SparkListenerSQLExecutionEnd =>
        acc.execOpen.remove(s.executionId).foreach(t => acc.execSpans += ((t, s.time)))
      case _ =>
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    synchronized {
      for ((name, p) <- qe.tracker.phases if name != "parsing") {
        acc.phases(name) += p.durationMs
        acc.planSpans += ((name, p.startTimeMs, p.endTimeMs))
      }
      acc.rows += v2RowsWritten(qe.executedPlan)
    }

  /** Rows a DataSource V2 sink (such as `noop`) committed; file sinks
    * report theirs in the tasks' output metrics instead. */
  private def v2RowsWritten(p: SparkPlan): Long = p match {
    case w: V2TableWriteExec => w.commitProgress.map(_.numOutputRows).getOrElse(0L)
    case c: CommandResultExec => v2RowsWritten(c.commandPhysicalPlan)
    case _ => p.children.map(v2RowsWritten).sum
  }

  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()

  def begin(): Unit = {
    SparkInternals.drainListeners(sc)
    synchronized { acc = new Acc; sqlStages.clear() }
    cgNanos = SparkInternals.codegenCompileNanos
    cgClasses = SparkInternals.codegenClasses
    startMs = System.currentTimeMillis()
  }

  /** The operation's record: layer metrics plus its spans. */
  def finish(op: String, round: Int, wallS: Double): Map[String, Any] = {
    val endMs = System.currentTimeMillis()
    SparkInternals.drainListeners(sc)
    val a = synchronized { acc }
    val execU = Intervals.union(a.execSpans.toSeq ++ a.execOpen.values.map(t => (t, endMs)))
    val execWall = Intervals.length(execU) / 1e3
    val busy = Intervals.length(Intervals.intersect(Intervals.union(a.taskSpans.toSeq), execU)) / 1e3
    val storage = sc.getRDDStorageInfo
    val mb = 1024.0 * 1024.0
    val spans =
      Seq(Map("name" -> "op", "start" -> startMs, "end" -> endMs, "parent" -> "")) ++
      Intervals.gaps((startMs, endMs), execU).map { case (s, e) =>
        Map("name" -> "construct", "start" -> s, "end" -> e, "parent" -> "op") } ++
      a.planSpans.map { case (n, s, e) =>
        Map("name" -> s"plans.$n", "start" -> s, "end" -> e, "parent" -> "op") } ++
      execU.map { case (s, e) => Map("name" -> "exec", "start" -> s, "end" -> e, "parent" -> "op") }
    Map(
      "op" -> op, "round" -> round, "wall_s" -> wallS, "spans" -> spans,
      "construct.wall_s" -> math.max(0.0, wallS - execWall),
      "construct.jobs" -> a.constructJobs,
      "plans.analysis_s" -> a.phases("analysis") / 1e3,
      "plans.optimization_s" -> a.phases("optimization") / 1e3,
      "plans.planning_s" -> a.phases("planning") / 1e3,
      "exec.wall_s" -> execWall,
      "exec.jobs" -> a.execJobs,
      "exec.stages" -> a.execStages,
      "exec.tasks" -> a.tasks,
      "exec.idle_s" -> math.max(0.0, execWall - busy),
      "exec.task_run_s" -> a.runMs / 1e3,
      "exec.task_cpu_s" -> a.cpuNs / 1e9,
      "exec.gc_s" -> a.gcMs / 1e3,
      "exec.shuffle_write_mb" -> a.shW / mb,
      "exec.shuffle_read_mb" -> a.shR / mb,
      "exec.spill_mb" -> a.spill / mb,
      "exec.peak_task_mem_mb" -> a.peakMem / mb,
      "exec.rows_out" -> a.rows,
      "exec.input_mb" -> a.inB / mb,
      "exec.output_mb" -> a.outB / mb,
      "exec.cores" -> cores,
      "functions.codegen_compile_s" -> (SparkInternals.codegenCompileNanos - cgNanos) / 1e9,
      "functions.codegen_classes" -> (SparkInternals.codegenClasses - cgClasses),
      "Hints.cached_mb" -> storage.map(r => r.memSize + r.diskSize).sum / mb,
      "Hints.leaves" -> storage.length)
  }
}

/** Half-open millisecond intervals. */
object Intervals {
  type I = (Long, Long)

  def union(xs: Seq[I]): Seq[I] =
    xs.filter(i => i._2 > i._1).sortBy(_._1).foldLeft(List.empty[I]) {
      case ((s, e) :: rest, (a, b)) if a <= e => (s, math.max(e, b)) :: rest
      case (acc, i) => i :: acc
    }.reverse

  def length(xs: Seq[I]): Long = xs.map(i => i._2 - i._1).sum

  /** Intersection of two unions. */
  def intersect(xs: Seq[I], ys: Seq[I]): Seq[I] =
    for { (a, b) <- xs; (c, d) <- ys if math.max(a, c) < math.min(b, d) }
      yield (math.max(a, c), math.min(b, d))

  /** The parts of `whole` that no interval of the union `xs` covers. */
  def gaps(whole: I, xs: Seq[I]): Seq[I] = {
    val clipped = intersect(Seq(whole), xs)
    val edges = whole._1 +: clipped.flatMap(i => Seq(i._1, i._2)) :+ whole._2
    edges.grouped(2).collect { case Seq(s, e) if e > s => (s, e) }.toSeq
  }
}
