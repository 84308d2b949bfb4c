package graft

import java.util.concurrent.{LinkedBlockingQueue, TimeUnit}

import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.util.QueryExecutionListener

/** The measurement harness times the whole plan: `Harness.drain` must
  * execute every operator of a declared query. `count()` lets Catalyst
  * prune the windows of these two queries (their outputs are not
  * needed to count rows), so a harness that timed `count()` would run
  * neither window. */
class HarnessSpec extends SparkSpec with AdaptiveSparkPlanHelper {

  /** The executed plans of what `Harness.drain(df)` runs, as final
    * adaptive plans with query stages unwrapped. */
  private def drainedPlans(name: String): Seq[SparkPlan] = {
    val plans = new LinkedBlockingQueue[SparkPlan]()
    val listener = new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        plans.put(qe.executedPlan)
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      Harness.drain(SparkEntry.queries(name)(spark, sf0001))
      val first = plans.poll(60, TimeUnit.SECONDS)
      assert(first != null, s"$name: no executed plan reached the listener")
      Iterator.iterate(first)(_ => plans.poll(1, TimeUnit.SECONDS))
        .takeWhile(_ != null).toSeq
    } finally spark.listenerManager.unregister(listener)
  }

  test("drain executes the window operators that count() prunes") {
    for (name <- Seq("q_win_range_frame", "q_join_asof")) {
      val plans = drainedPlans(name)
      assert(plans.exists(find(_)(_.isInstanceOf[WindowExec]).nonEmpty),
        s"$name: the drained plan runs no WindowExec:\n${plans.mkString("\n")}")
    }
  }
}
