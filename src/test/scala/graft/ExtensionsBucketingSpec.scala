package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.functions._

/** Deployment-grade wiring: SparkSessionExtensions function injection and
  * bucketed co-located joins (the shuffle-free fact-fact join path a
  * 100 TB deployment would use). The extension test builds a second
  * SparkSession over the shared SparkContext (never stopping it — other
  * suites share the JVM). */
class ExtensionsBucketingSpec extends SparkSpec {

  test("spark.sql.extensions injection installs every native function") {
    val shared = spark // materialize the shared session/context first
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try {
      // spark.sql.extensions (the config route) is read only at
      // SparkContext creation; on the shared test context we exercise the
      // same class through the programmatic builder hook.
      val s = SparkSession.builder()
        .withExtensions(new GraftExtensions())
        .getOrCreate() // new session instance on the existing context
      val got = s.sql("SELECT vec_dot(array(1.0D, 2.0D), array(3.0D, 4.0D)) AS d")
        .head().getDouble(0)
      assert(got == 11.0)
      val registry = s.sessionState.functionRegistry
      val names = functions.VectorExprs.functions.map(_._1)
      assert(names.size == 11)
      val missing = names.filterNot(n => registry.functionExists(FunctionIdentifier(n)))
      assert(missing.isEmpty, s"not injected: $missing")
      // register finds them all and installs nothing over them
      val builders = names.map(n => registry.lookupFunctionBuilder(FunctionIdentifier(n)).get)
      functions.VectorExprs.register(s)
      val after = names.map(n => registry.lookupFunctionBuilder(FunctionIdentifier(n)).get)
      assert(builders.zip(after).forall { case (a, b) => a eq b },
        "register replaced an injected function")
      assert(s.sql("SELECT size(minhash_sigs(array('a', 'b'), 4)) AS n")
        .head().getInt(0) == 4)
    } finally {
      SparkSession.setDefaultSession(shared)
      SparkSession.setActiveSession(shared)
    }
  }

  test("bucketed tables join without a shuffle exchange") {
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force SMJ
    try {
      val d = sf0001
      Tables.orders(spark, d).write.mode("overwrite")
        .bucketBy(4, "o_orderkey").sortBy("o_orderkey")
        .saveAsTable("orders_b")
      Tables.lineitem(spark, d).write.mode("overwrite")
        .bucketBy(4, "l_orderkey").sortBy("l_orderkey")
        .saveAsTable("lineitem_b")
      val j = spark.table("lineitem_b").join(spark.table("orders_b"),
        col("l_orderkey") === col("o_orderkey"))
        .groupBy("o_orderstatus").count()
      val plan = j.queryExecution.executedPlan.toString
      val joinIdx = plan.indexOf("SortMergeJoin")
      assert(joinIdx >= 0, s"expected SMJ:\n$plan")
      // co-located: the join subtree needs no hash Exchange on either side
      val joinSubtree = plan.substring(joinIdx)
      assert(!joinSubtree.contains("Exchange hashpartitioning(l_orderkey") &&
        !joinSubtree.contains("Exchange hashpartitioning(o_orderkey"),
        s"bucketed join still shuffles:\n$plan")
      val joined = j.agg(sum("count")).head().getLong(0)
      assert(joined == Tables.lineitem(spark, d).count())
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
      spark.sql("DROP TABLE IF EXISTS orders_b")
      spark.sql("DROP TABLE IF EXISTS lineitem_b")
    }
  }
}
