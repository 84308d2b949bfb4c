package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables

/** Advanced analytics aggregates: exact percentiles, statistical moments,
  * content-hash dedup, and ordered-array explosion (the ways_nodes shape).
  *
  * Percentile determinism: interpolated quantiles of 2-decimal-quantized
  * doubles land on half-cent midpoints (p50 of an even group is exactly
  * x.xx5) — rounded at 4, where the true values (≤3 decimals) have no
  * boundary. Moment aggregates (stddev/var/corr/covar) differ only in
  * final ulps between engines' merge orders; rounding absorbs that.
  */
object Analytics {

  /** Exact interpolated percentiles per order priority. */
  def percentiles(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .groupBy(col("o_orderpriority"))
      .agg(
        round(expr("percentile(o_totalprice, 0.5)"), 4).as("p50"),
        round(expr("percentile(o_totalprice, 0.9)"), 4).as("p90"),
        count(lit(1)).as("cnt"))
      .orderBy(col("o_orderpriority").asc)

  /** Moment-based statistics per returnflag. */
  def statsAgg(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .groupBy(col("l_returnflag"))
      .agg(
        round(stddev_samp(col("l_quantity")), 4).as("sd_qty"),
        round(var_samp(col("l_quantity")), 4).as("var_qty"),
        round(corr(col("l_quantity"), col("l_extendedprice")), 4).as("corr_qp"),
        round(covar_samp(col("l_quantity"), col("l_extendedprice")), 2).as("covar_qp"),
        count(lit(1)).as("cnt"))
      .orderBy(col("l_returnflag").asc)

  /** Content-addressable dedup key: sha256 of the document body — the
    * exact-dup path of a pretraining pipeline (hash once, group by
    * digest). */
  def dedupHash(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id"), sha2(col("text"), 256).as("digest"))
      .orderBy(col("doc_id").asc)

  /** Ordered-array explosion with positions — the reference's ways_nodes
    * table shape (array index materialized as `position`). */
  def posExplode(s: SparkSession, d: String): DataFrame =
    Tables.embeddings(s, d)
      .select(col("vec_id"), posexplode(slice(col("embedding"), 1, 3)))
      .select(col("vec_id"), col("pos").cast("long").as("pos"),
        col("col").cast("double").as("val"))
      .orderBy(col("vec_id").asc, col("pos").asc)

  /** Conditional/boolean aggregates per event_type. */
  def condAgg(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .groupBy(col("event_type"))
      .agg(
        expr("count_if(value > 100)").as("n_big"),
        expr("bool_and(value >= 0)").as("all_nonneg"),
        expr("bool_or(value > 199)").as("any_huge"),
        count(lit(1)).as("cnt"))
      .orderBy(col("event_type").asc)

  /** Null-safe equality (<=>): match customers to their order-count rows
    * where a missing count and a missing sentinel compare equal — the
    * null-join semantics SQL's = gets wrong. */
  def nullSafe(s: SparkSession, d: String): DataFrame = {
    val c = Tables.customer(s, d)
    val cnt = Tables.orders(s, d)
      .groupBy(col("o_custkey")).agg(count(lit(1)).as("cnt"))
    c.join(cnt, c("c_custkey") === cnt("o_custkey"), "left_outer")
      .withColumn("bucket", when(col("cnt") >= 10, col("cnt")))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_cust"),
        sum(when(col("bucket") <=> lit(null), 1L).otherwise(0L)).as("n_null_safe"))
      .orderBy(col("bucket").asc_nulls_first)
  }

  /** Revenue in integer MICRO-units: cents × (100 − discount basis
    * points). Both factors are exact small integers recovered from the
    * 2-decimal doubles, so every per-row product and every sum order is
    * bit-identical on both engines — the discipline that lets a revenue
    * ranking be hash-compared where sum(double·double) cannot be. */
  private val revMicros =
    expr("""CAST(round(l_extendedprice * 100) AS BIGINT)
           | * (100 - CAST(round(l_discount * 100) AS BIGINT))""".stripMargin)

  /** TPC-H Q3 shape (shipping priority): the 3-table fact⋈fact⋈dim
    * pipeline — customer filter broadcast into orders, orders⋈lineitem
    * shuffling on the order key, grouped revenue, top-10 by revenue.
    * The canonical join-ordering/broadcast benchmark query; at 100 TB
    * the o⋈l shuffle is the bucketed-table candidate (see Joins
    * scaladoc) and everything else rides broadcasts. */
  def tpchQ3(s: SparkSession, d: String): DataFrame = {
    val cut = "1996-03-15"
    val c = Tables.customer(s, d)
      .filter(col("c_mktsegment") === "BUILDING").select(col("c_custkey"))
    val o = Tables.orders(s, d).filter(col("o_orderdate") < cut)
    val l = Tables.lineitem(s, d).filter(col("l_shipdate") > cut)
    l.join(o, l("l_orderkey") === o("o_orderkey"))
      .join(Hints.bcOrHash(c, Tables.rowCount(s, d, "customer")),
        o("o_custkey") === c("c_custkey"))
      .withColumn("rev_micros", revMicros)
      .groupBy(col("l_orderkey"),
        date_format(col("o_orderdate"), "yyyy-MM-dd").as("o_date"),
        col("o_orderpriority"))
      .agg(sum(col("rev_micros")).as("revenue_micros"))
      .orderBy(col("revenue_micros").desc, col("l_orderkey").asc)
      .limit(10)
  }

  /** TPC-H Q5 shape (local supplier volume): 6-table join — the two
    * facts shuffle once on the order key; supplier, nation, region are
    * broadcast by hint (true dims), customer is left to the planner —
    * broadcast-sized here, a shuffle at real scale, and AQE makes that
    * call from runtime stats. The c_nationkey = s_nationkey residual
    * makes "local" volume. Grouped per nation in exact integer
    * micro-units. */
  def tpchQ5(s: SparkSession, d: String): DataFrame = {
    val r = Tables.region(s, d).filter(col("r_name") === "ASIA")
    val n = Tables.nation(s, d)
      .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
      .select(col("n_nationkey"), col("n_name"))
    val su = Tables.supplier(s, d)
      .join(broadcast(n), col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"), col("s_nationkey"), col("n_name"))
    val c = Tables.customer(s, d).select(col("c_custkey"), col("c_nationkey"))
    val o = Tables.orders(s, d)
      .filter(col("o_orderdate") >= "1996-01-01" &&
        col("o_orderdate") < "1998-01-01")
      .select(col("o_orderkey"), col("o_custkey"))
    val l = Tables.lineitem(s, d)
      .select(col("l_orderkey"), col("l_suppkey"), col("l_extendedprice"),
        col("l_discount"))
    l.join(o, l("l_orderkey") === o("o_orderkey"))
      .join(Hints.bcOrHash(su, Tables.rowCount(s, d, "supplier")),
        l("l_suppkey") === su("s_suppkey"))
      .join(c, o("o_custkey") === c("c_custkey"))
      .filter(col("c_nationkey") === col("s_nationkey"))
      .withColumn("rev_micros", revMicros)
      .groupBy(col("n_name"))
      .agg(sum(col("rev_micros")).as("revenue_micros"),
        count(lit(1)).as("n_lines"))
      .orderBy(col("revenue_micros").desc, col("n_name").asc)
  }

  /** TPC-H Q7 shape (volume shipping between two trading nations): the
    * double-dimension-path join — lineitem reaches nation once through
    * supplier and once through orders→customer, with the nation-pair
    * predicate applied on the joined pair in both directions. Both
    * nation legs broadcast (dim-sized), the two fact joins shuffle on
    * their own keys; revenue in exact integer micro-units per
    * (supp_nation, cust_nation, ship year). */
  def tpchQ7(s: SparkSession, d: String): DataFrame = {
    val n1 = Tables.nation(s, d)
      .select(col("n_nationkey").as("s_nk"), col("n_name").as("supp_nation"))
    val n2 = Tables.nation(s, d)
      .select(col("n_nationkey").as("c_nk"), col("n_name").as("cust_nation"))
    val l = Tables.lineitem(s, d)
      .filter(col("l_shipdate") >= "1996-01-01" &&
        col("l_shipdate") < "1998-01-01")
      .select(col("l_orderkey"), col("l_suppkey"), col("l_extendedprice"),
        col("l_discount"), col("l_shipdate"))
    val su = Tables.supplier(s, d).select(col("s_suppkey"), col("s_nationkey"))
    val c = Tables.customer(s, d).select(col("c_custkey"), col("c_nationkey"))
    val o = Tables.orders(s, d).select(col("o_orderkey"), col("o_custkey"))
    l.join(o, l("l_orderkey") === o("o_orderkey"))
      .join(c, o("o_custkey") === c("c_custkey"))
      .join(Hints.bcOrHash(su, Tables.rowCount(s, d, "supplier")),
        l("l_suppkey") === su("s_suppkey"))
      .join(broadcast(n1), col("s_nationkey") === col("s_nk"))
      .join(broadcast(n2), col("c_nationkey") === col("c_nk"))
      .filter((col("supp_nation") === "NATION_3" && col("cust_nation") === "NATION_7") ||
        (col("supp_nation") === "NATION_7" && col("cust_nation") === "NATION_3"))
      .withColumn("rev_micros", revMicros)
      .withColumn("l_year", year(col("l_shipdate")).cast("long"))
      .groupBy(col("supp_nation"), col("cust_nation"), col("l_year"))
      .agg(sum(col("rev_micros")).as("revenue_micros"),
        count(lit(1)).as("n_lines"))
      .orderBy(col("supp_nation").asc, col("cust_nation").asc,
        col("l_year").asc)
  }

  /** TPC-H Q6 shape (forecasting revenue change): the pure scan-and-sum
    * query — every predicate (date range, discount band, quantity cap)
    * pushes to the parquet scan, and the single global aggregate is one
    * partial+final pass with no shuffle beyond the 1-row final. Revenue
    * = price × discount in integer micro-units (cents × basis points).
    * The discount band is integer basis points, not a float BETWEEN —
    * 0.05 ≤ d ≤ 0.07 on binary doubles is exactly the float-equality
    * trap §7.4 bans. */
  def tpchQ6(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .withColumn("disc_bp", expr("CAST(round(l_discount * 100) AS BIGINT)"))
      .filter(col("l_shipdate") >= "1996-01-01" &&
        col("l_shipdate") < "1997-01-01" &&
        col("disc_bp").between(5L, 7L) && col("l_quantity") < 24)
      .withColumn("rev_micros",
        expr("CAST(round(l_extendedprice * 100) AS BIGINT) * disc_bp"))
      .agg(sum(col("rev_micros")).as("revenue_micros"),
        count(lit(1)).as("n_lines"))

  /** TPC-H Q10 shape (returned-item report): revenue lost to returns per
    * customer over one quarter — lineitem filtered to returnflag 'R',
    * orders date-gated (both filters push to the scans), the join
    * shuffles on the order key, customer/nation ride broadcasts, top-20
    * by integer micro-unit revenue. */
  def tpchQ10(s: SparkSession, d: String): DataFrame = {
    val l = Tables.lineitem(s, d).filter(col("l_returnflag") === "R")
      .select(col("l_orderkey"), col("l_extendedprice"), col("l_discount"))
    val o = Tables.orders(s, d)
      .filter(col("o_orderdate") >= "1996-01-01" &&
        col("o_orderdate") < "1996-04-01")
      .select(col("o_orderkey"), col("o_custkey"))
    val c = Tables.customer(s, d)
      .select(col("c_custkey"), col("c_name"), col("c_nationkey"),
        col("c_acctbal"))
    val n = Tables.nation(s, d).select(col("n_nationkey"), col("n_name"))
    // nation broadcasts by hint (provably dim-sized); customer is left to
    // the planner — auto-broadcast here, a shuffled join at a scale where
    // the customer dimension outgrows the threshold (same choice as Q5).
    l.join(o, l("l_orderkey") === o("o_orderkey"))
      .join(c, o("o_custkey") === c("c_custkey"))
      .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
      .withColumn("rev_micros", revMicros)
      .groupBy(col("c_custkey"), col("c_name"), col("n_name"))
      .agg(sum(col("rev_micros")).as("revenue_micros"),
        count(lit(1)).as("n_lines"))
      .orderBy(col("revenue_micros").desc, col("c_custkey").asc)
      .limit(20)
  }

  /** TPC-H Q18 shape (large-volume customers): the HAVING-over-fact-agg
    * gate pattern. The inner aggregate runs partial+final on the fact's
    * own key, its survivors (~0.1% of orders here) broadcast back as the
    * join filter, and only then does the customer join run — at 100 TB
    * the expensive join is gated by the cheap aggregate, never the other
    * way around. Quantities are integral doubles (1..50), so their sums
    * are exact and order-free below 2^53; totalprice reports in integer
    * cents. */
  def tpchQ18(s: SparkSession, d: String): DataFrame = {
    val big = Tables.lineitem(s, d)
      .groupBy(col("l_orderkey"))
      .agg(sum(col("l_quantity")).as("sum_qty"))
      .filter(col("sum_qty") > 300)
    val o = Tables.orders(s, d)
    val c = Tables.customer(s, d)
    // `big` is DATA-DEPENDENT (orders with >300 total quantity — a
    // highly selective aggregate, not a dimension), so no job-free
    // footer bound exists; the only honest static bound (|orders|)
    // would spuriously kill the broadcast at scale where the filtered
    // set is still tiny. Left as the classic Q18 broadcast; at true
    // corpus scale AQE's runtime size check is the right arbiter.
    o.join(broadcast(big), o("o_orderkey") === big("l_orderkey"))
      .join(c, o("o_custkey") === c("c_custkey"))
      .select(col("c_name"), col("c_custkey"), col("o_orderkey"),
        date_format(col("o_orderdate"), "yyyy-MM-dd").as("o_date"),
        expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("total_cents"),
        col("sum_qty"))
      .orderBy(col("total_cents").desc, col("o_orderkey").asc)
      .limit(100)
  }

  /** TPC-H Q14 shape (promotion effect): fact⋈dim with a conditional
    * aggregate over the joined rows — part broadcasts (true dim), the
    * fact never shuffles (partial aggregates feed one 12-row final), and
    * the promo share is reported as exact integer permille
    * (promo_micros·1000 div total_micros) instead of Q14's float
    * percentage, so the division is engine-neutral. */
  def tpchQ14(s: SparkSession, d: String): DataFrame = {
    val l = Tables.lineitem(s, d)
      .filter(col("l_shipdate") >= "1996-01-01" &&
        col("l_shipdate") < "1997-01-01")
      .select(col("l_partkey"), col("l_shipdate"), col("l_extendedprice"),
        col("l_discount"))
    val p = Tables.part(s, d).select(col("p_partkey"), col("p_type"))
    l.join(Hints.bcOrHash(p, Tables.rowCount(s, d, "part")),
        l("l_partkey") === p("p_partkey"))
      .withColumn("rev_micros", revMicros)
      .withColumn("month", date_format(col("l_shipdate"), "yyyy-MM"))
      .groupBy(col("month"))
      .agg(
        sum(when(col("p_type") === "PROMO", col("rev_micros"))
          .otherwise(0L)).as("promo_micros"),
        sum(col("rev_micros")).as("total_micros"),
        count(lit(1)).as("n_lines"))
      .withColumn("promo_pm",
        expr("promo_micros * 1000 div total_micros"))
      .orderBy(col("month").asc)
  }

  /** TPC-H Q19 shape (discounted revenue, disjunctive predicate): three
    * OR'd (brand, size-band, quantity-band) conjuncts across the
    * fact⋈dim join. The scan-side win: Catalyst extracts the common
    * l_quantity <= 36 bound and the per-side attribute constraints from
    * the disjunction, so both scans prune before the join instead of
    * filtering after it; part broadcasts. Reported per arm (the original
    * collapses to one row — the arm split keeps each conjunct's
    * contribution auditable). */
  def tpchQ19(s: SparkSession, d: String): DataFrame = {
    val l = Tables.lineitem(s, d)
      .select(col("l_partkey"), col("l_quantity"), col("l_extendedprice"),
        col("l_discount"))
    val p = Tables.part(s, d)
      .select(col("p_partkey"), col("p_brand"), col("p_size"))
    val arm1 = col("p_brand") === "Brand#3" &&
      col("p_size").between(1, 15) && col("l_quantity").between(1, 16)
    val arm2 = col("p_brand") === "Brand#12" &&
      col("p_size").between(16, 30) && col("l_quantity").between(8, 26)
    val arm3 = col("p_brand") === "Brand#24" &&
      col("p_size").between(31, 50) && col("l_quantity").between(18, 36)
    l.join(Hints.bcOrHash(p, Tables.rowCount(s, d, "part")),
        l("l_partkey") === p("p_partkey"))
      .filter(arm1 || arm2 || arm3)
      .withColumn("arm",
        when(arm1, 1L).when(arm2, 2L).otherwise(3L))
      .withColumn("rev_micros", revMicros)
      .groupBy(col("arm"))
      .agg(sum(col("rev_micros")).as("revenue_micros"),
        count(lit(1)).as("n_lines"))
      .orderBy(col("arm").asc)
  }

  /** Realized-price audit per brand — how far below list do sales land:
    * Σ realized cents vs Σ (quantity × retail cents), ratio in integer
    * permille. Quantities are integral doubles (1..50), so qty×cents is
    * an exact BIGINT product, and both sums are order-free longs — the
    * "discount depth" report with no float division anywhere. Part
    * rides a broadcast; one fact pass. */
  def partMargin(s: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(s, d)
      .select(col("l_partkey"), col("l_quantity"), col("l_extendedprice"))
    val p = Tables.part(s, d)
      .select(col("p_partkey"), col("p_brand"), col("p_retailprice"))
    li.join(Hints.bcOrHash(p, Tables.rowCount(s, d, "part")),
        li("l_partkey") === p("p_partkey"))
      .withColumn("real_cents",
        expr("CAST(round(l_extendedprice * 100) AS BIGINT)"))
      .withColumn("list_cents",
        expr("CAST(l_quantity AS BIGINT) * CAST(round(p_retailprice * 100) AS BIGINT)"))
      .groupBy(col("p_brand"))
      .agg(count(lit(1)).as("n_lines"),
        sum(col("real_cents")).as("realized_cents"),
        sum(col("list_cents")).as("list_cents"))
      .withColumn("realized_pm",
        expr("realized_cents * 1000 div list_cents"))
      .orderBy(col("p_brand").asc)
  }

  /** Seasonality profile — month-of-year order share across the whole
    * span: the "is December special" report. One grouped pass on the
    * derived month plus a 1-row broadcast total; shares in integer
    * permille so the 12-row profile is hash-exact. */
  def ordersSeasonality(s: SparkSession, d: String): DataFrame = {
    val o = Tables.orders(s, d)
      .withColumn("m", month(col("o_orderdate")).cast("long"))
      .withColumn("cents",
        expr("CAST(round(o_totalprice * 100) AS BIGINT)"))
    val tot = o.agg(count(lit(1)).as("n_total"))
    o.groupBy(col("m"))
      .agg(count(lit(1)).as("n_orders"),
        sum(col("cents")).as("sum_cents"))
      .crossJoin(broadcast(tot))
      .withColumn("share_pm", expr("n_orders * 1000 div n_total"))
      .select(col("m"), col("n_orders"), col("sum_cents"), col("share_pm"))
      .orderBy(col("m").asc)
  }

  /** Open-order backlog by month — interval accounting over derived
    * lifespans: an order is "open" from its order month until the month
    * its LAST lineitem ships (shuffle join orders↔max-ship on orderkey).
    * Boundary deltas (+1 start month, −1 month after close) roll into a
    * running level; output is every month the level changes, so the
    * final row provably returns to 0 (all orders eventually ship).
    *
    * Scale: the running sum is a DISTRIBUTED two-pass prefix sum, not a
    * single-task global window — within-year running sums (window
    * partitioned by year) plus broadcast year-prefix offsets (the year
    * table is tiny). Same result as `sum() OVER (ORDER BY mi)` — which
    * is exactly what the oracle runs — without the one-partition sort
    * that would cap a 100 TB history. */
  def ordersBacklog(s: SparkSession, d: String): DataFrame = {
    val o = Tables.orders(s, d).select(col("o_orderkey"),
      (year(col("o_orderdate")) * 12 + month(col("o_orderdate")) - 1)
        .cast("long").as("sm"))
    val e = Tables.lineitem(s, d).groupBy(col("l_orderkey"))
      .agg(max(col("l_shipdate")).as("last_ship"))
      .select(col("l_orderkey"),
        (year(col("last_ship")) * 12 + month(col("last_ship")) - 1)
          .cast("long").as("em"))
    // This corpus has lineitems shipping BEFORE their order date (the
    // q_dq_audit ship<order row counts them) — clamp the close month to
    // the open month so every interval is valid and levels stay ≥ 0.
    val iv = o.join(e, col("o_orderkey") === col("l_orderkey"))
      .withColumn("cm", greatest(col("sm"), col("em")))
    val deltas = iv.select(col("sm").as("mi"), lit(1L).as("delta"))
      .unionAll(iv.select((col("cm") + 1).as("mi"), lit(-1L).as("delta")))
      .groupBy(col("mi")).agg(sum(col("delta")).as("d"))
      .withColumn("yr", expr("mi div 12"))
    val wIn = Window.partitionBy(col("yr")).orderBy(col("mi").asc)
    val offsets = deltas.groupBy(col("yr")).agg(sum(col("d")).as("ytot"))
      .withColumn("off", coalesce(sum(col("ytot")).over(
        Window.orderBy(col("yr").asc)
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("yr"), col("off"))
    deltas.withColumn("run_in", sum(col("d")).over(wIn))
      .join(broadcast(offsets), "yr")
      .withColumn("n_open", col("run_in") + col("off"))
      .select(expr("mi div 12").as("y"), expr("mi % 12 + 1").as("m"),
        col("d").as("delta"), col("n_open"))
      .orderBy(col("y").asc, col("m").asc)
  }

  /** Supplier scorecard — the vendor-quality report: per supplier,
    * shipped lines, return rate in integer permille (l_returnflag 'R'),
    * and revenue at stake in micro-units; top-20 worst by (return rate,
    * volume). One fact pass with conditional aggregates on the supplier
    * key, nation riding a broadcast — no second scan for the rate. A
    * volume floor keeps one-line suppliers from topping the rate
    * ranking (the standard small-sample guard). */
  def supplierScorecard(s: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(s, d)
      .withColumn("rev_micros", revMicros)
      .groupBy(col("l_suppkey"))
      .agg(count(lit(1)).as("n_lines"),
        sum(when(col("l_returnflag") === "R", 1L).otherwise(0L))
          .as("n_returned"),
        sum(when(col("l_returnflag") === "R", col("rev_micros"))
          .otherwise(0L)).as("returned_micros"))
      .filter(col("n_lines") >= 20)
      .withColumn("return_pm", expr("n_returned * 1000 div n_lines"))
    val su = Tables.supplier(s, d)
      .select(col("s_suppkey"), col("s_name"), col("s_nationkey"))
    val n = Tables.nation(s, d).select(col("n_nationkey"), col("n_name"))
    li.join(Hints.bcOrHash(su, Tables.rowCount(s, d, "supplier")),
        col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(n), col("s_nationkey") === col("n_nationkey"))
      .select(col("s_name"), col("n_name"), col("n_lines"),
        col("n_returned"), col("return_pm"), col("returned_micros"))
      .orderBy(col("return_pm").desc, col("n_lines").desc,
        col("s_name").asc)
      .limit(20)
  }

  /** Each order's DISTINCT part set as one sorted array row — the shared
    * first stage of the basket family. ONE shuffle (groupBy order)
    * replaces the old distinct + self-join-on-order chain (two extra
    * exchanges of the same rows); pair generation then happens inside the
    * row, bounded by C(basket, 2) per order. collect_set order is
    * nondeterministic, so array_sort pins it before any generation. */
  private[operators] def orderParts(s: SparkSession, d: String): DataFrame = {
    // Runtime guard for the packed-pair-key domain (ADVICE r12): the
    // pk = a·2³¹ + b packing in [[orderPairs]] is lossless only for keys
    // in [0, 2³¹) — out-of-range keys must FAIL the construction, never
    // wrap into a different pair silently. The guard is a driver-side
    // parquet-footer max-stat read (job-free, memoized): the first cut
    // guarded per element in-plan (`x + ifnull(assert_true(...), 0)`)
    // and the round-13 solo A/B at 100× measured it on q_basket_lift
    // (35.6 s best rep with the in-plan guard → 26.7 s with the footer
    // guard — back at its r12 pre-guard 25.1 s level): orderParts feeds
    // lift through four consumers, so the per-element branch ran 4× over
    // the fact. Footer stats already know the answer; only a file with
    // missing stats pays the in-plan fallback.
    val range = Tables.longStatRange(s, d, "lineitem", "l_partkey")
    range.foreach { case (lo, hi) =>
      require(lo >= 0 && hi < (1L << 31),
        s"basket pair packing needs part keys in [0, 2^31); footer range = [$lo, $hi]")
    }
    val base = Tables.lineitem(s, d)
      .groupBy(col("l_orderkey"))
      .agg(array_sort(collect_set(col("l_partkey"))).as("ps"))
    if (range.isDefined) base
    else base.select(col("l_orderkey"), expr(
      "transform(ps, x -> x + ifnull(assert_true(" +
        "x >= 0 AND x < 2147483648, " +
        "'basket pair packing needs part keys in [0, 2^31)'), 0L))"
    ).as("ps"))
  }

  /** All a<b part pairs of each order, generated locally from the sorted
    * set (i<j positions of a sorted array ⇒ oriented pairs, each once) —
    * as ONE packed long per pair: pk = a·2³¹ + b. Part keys stay < 2³¹
    * (the driver fixture tops out near 2×10³; the 100× replica's key
    * stride near 2³⁰ — a wider key domain would take the struct pair
    * back), so the packing is lossless AND order-preserving: pk's
    * natural order is exactly the (a, b) lexicographic tiebreak. The
    * pair stream is the basket family's largest intermediate; packing
    * halves its shuffle row (one 8-byte word vs a two-field struct) and
    * gives the aggregate a single-long group key. Measured same-session
    * 100× A/B (TimeOne warm min, BASELINE.md round 12): q_basket_pairs
    * 40.8 → 21.8 s, q_basket_lift 58.5 → 25.1 s; sf0.1 unchanged. */
  private[operators] def orderPairs(s: SparkSession, d: String): DataFrame = {
    // Round 16 (VERDICT r15 item 7; noop-sink stage decomposition in
    // BASELINE.md round 16 "supportedPairs derivation" — the explode
    // stage was ~7.6 s of the ~24 s 100× derivation): the pair
    // generation is the codegen'd [[graft.functions.PackedPairs]] loop
    // instead of the nested-transform SQL, which re-entered the
    // interpreted higher-order evaluator and allocated a slice + result
    // array per outer index. Same packing, same element order, same
    // multiset — PackedPairsSpec pins equality against the SQL form.
    graft.functions.VectorExprs.register(s)
    orderParts(s, d).select(explode(expr("packed_pairs(ps)")).as("pk"))
  }

  private[operators] val unpackA = expr("pk div 2147483648L")
  private[operators] val unpackB = expr("pk % 2147483648L")

  /** The co-purchase pair-SUPPORT plan — `(pk, sup)`: packed pair key →
    * distinct-order support, ONE fact shuffle (the [[orderPairs]]
    * generator feeding this groupBy). A plan builder, deliberately NOT
    * materialized: the full support table is pair-stream-sized
    * (~100M rows at 100×), and the round-15 first-cut that memoized a
    * checkpoint of it was a measured scale failure — the serialized
    * cache write added ~45 s per build at 100× (q_basket_pairs rebuild
    * 21.8 → 65–74 s warm; cold consumers 157–267 s vs r14's ~38 s
    * solo; BASELINE.md round 15). [[basketPairs]] (top-20) and
    * Graph.graphDegree (distinct keys) stream it; only the SUPPORT-
    * FILTERED survivor set — dim²-bounded, exactly the artifact r14's
    * cc/kcore already eagerly checkpointed per query — is worth
    * materializing, and that is the [[supportedPairs]] memo leaf. */
  private[graft] def pairSupport(s: SparkSession, d: String): DataFrame =
    orderPairs(s, d).groupBy(col("pk")).agg(count(lit(1)).as("sup"))

  /** The session-scoped SUPPORT-≥2 co-purchase pair leaf —
    * the `(pk, sup)` survivor set that FOUR declared queries derive
    * identically and, until round 15, each re-derived from scratch
    * (the derivation — pair explode + support groupBy — is each one's
    * dominant stage at 100×, ~26 s, PERF.md finding 33): q_graph_cc,
    * q_graph_kcore (via [[Graph.copurchaseEdges]]' ≥2 filter) and
    * q_basket_lift (its ≥3 floor is a subset). The leaf is EAGERLY
    * checkpointed — it is dim²-bounded (support ≥ 2 collapses the pair
    * stream to the co-purchase survivor set), so the cache write is
    * noise where a full-support checkpoint was a measured 45 s/100×
    * tax (see [[pairSupport]]). Same discipline as the dedup label
    * leaf: a [[Hints.leaf]] fingerprinted on `lineitem`, stale siblings
    * evicted on insert, dropped wholesale by measurement harnesses via
    * Hints.evictAllMemos. Measured solo at 100× (TimeOne, BASELINE.md
    * round 15): warm consumers drop to their own round cost — kcore
    * 37.7 → ~5.6 s, cc rounds ~10 s — while cold cost is unchanged from
    * r14 (the eager survivor-set checkpoint existed there per query). */
  private[graft] def supportedPairs(s: SparkSession, d: String): DataFrame =
    Hints.leaf(s, d, "supported-pairs", "lineitem")(
      Hints.checkpoint(pairSupport(s, d).filter(col("sup") >= 2),
        eager = true))

  /** Market-basket co-occurrence — the association-rule support count:
    * part pairs appearing in the same order, top-20 by support. Pairs per
    * order grow C(lines, 2) — a natural bounded block (an order's line
    * count is single-digit here and bounded in any real basket schema) —
    * and are generated inside the order row ([[orderPairs]]), never by a
    * fact⋈fact join. Distinct parts within the order first: duplicate
    * lines of one part must not inflate support. */
  def basketPairs(s: SparkSession, d: String): DataFrame =
    pairSupport(s, d)
      .orderBy(col("sup").desc, col("pk").asc)
      .limit(20)
      .select(unpackA.as("a_part"), unpackB.as("b_part"),
        col("sup").as("support"))

  /** Association-rule LIFT over the basket pairs — support alone ranks
    * popular×popular pairs first; lift = P(ab)/(P(a)·P(b)) corrects for
    * item popularity. Integer-exact as in q_text_colloc: lift_ppm =
    * support·n_orders·10⁶ div (supp_a·supp_b) compares the exact
    * rational (lift is monotone in it). Pair supports, item supports and
    * the order count share their derivation: pair supports come from
    * the memoized [[supportedPairs]] leaf (round 15 — the lift floor
    * ≥ 3 is a subset of the leaf's ≥ 2, see the memo scaladoc); item
    * supports and the order count from one [[orderParts]] stage (one
    * fact shuffle); the order count rides a 1-row broadcast. Support floor
    * ≥ 3 applies the standard small-sample guard.
    *
    * The item-support table has one row per distinct ordered part —
    * bounded by the PART DIMENSION, which grows with the corpus (2k rows
    * at sf0.1, 2M at 100×). The round-10 full-surface 100× sweep caught
    * the old unconditional double `broadcast(itemSupp)` as the suite's
    * one super-linear row (16.2× cost for 10× more data — every task
    * deserializing a 2M-row relation twice); above the budget both supp
    * joins now degrade to SHUFFLE_HASH with the bounded supp table as
    * build side, the filtered pair stream probing sort-free. */
  def basketLift(s: SparkSession, d: String,
      maxBc: Long = Hints.MaxBroadcastRows): DataFrame = {
    val op = orderParts(s, d)
    val itemSupp = op.select(explode(col("ps")).as("l_partkey"))
      .groupBy(col("l_partkey")).agg(count(lit(1)).as("supp"))
    val nOrders = op.agg(count(lit(1)).as("n_orders"))
    // footer-metadata bound, job-free: itemSupp keys ⊆ part keys
    val supBound = Tables.rowCount(s, d, "part")
    def hintSupp(df: DataFrame): DataFrame =
      if (supBound >= 0 && supBound <= maxBc) broadcast(df)
      else df.hint("SHUFFLE_HASH")
    supportedPairs(s, d)
      .filter(col("sup") >= 3)
      .select(unpackA.as("a_part"), unpackB.as("b_part"),
        col("sup").as("support"))
      .join(hintSupp(itemSupp.select(col("l_partkey").as("a_part"),
        col("supp").as("supp_a"))), "a_part")
      .join(hintSupp(itemSupp.select(col("l_partkey").as("b_part"),
        col("supp").as("supp_b"))), "b_part")
      .crossJoin(broadcast(nOrders))
      .withColumn("lift_ppm",
        expr("support * n_orders * 1000000 div (supp_a * supp_b)"))
      .select(col("a_part"), col("b_part"), col("support"),
        col("supp_a"), col("supp_b"), col("lift_ppm"))
      .orderBy(col("lift_ppm").desc, col("a_part").asc, col("b_part").asc)
      .limit(20)
  }

  /** TPC-H Q8 shape (national market share): the conditional-share
    * report over the DOUBLE dimension path — the customer side restricts
    * the market (nation→region filter on the order's customer), the
    * supplier side labels each line with its seller's nation, and the
    * share is "target nation's revenue over everyone's" per order year.
    * Both nation legs and supplier broadcast; the two fact joins shuffle
    * once each on their own keys (Q7's topology plus a conditional
    * aggregate). Share in integer permille of exact micro-units — Q8's
    * float division is exactly the §7.4 trap. */
  def tpchQ8(s: SparkSession, d: String): DataFrame = {
    val r = Tables.region(s, d).filter(col("r_name") === "ASIA")
    val nc = Tables.nation(s, d)
      .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
      .select(col("n_nationkey").as("c_nk"))
    val c = Tables.customer(s, d)
      .join(broadcast(nc), col("c_nationkey") === col("c_nk"))
      .select(col("c_custkey"))
    val ns = Tables.nation(s, d)
      .select(col("n_nationkey").as("s_nk"), col("n_name").as("supp_nation"))
    val su = Tables.supplier(s, d)
      .join(broadcast(ns), col("s_nationkey") === col("s_nk"))
      .select(col("s_suppkey"), col("supp_nation"))
    val o = Tables.orders(s, d)
      .filter(col("o_orderdate") >= "1996-01-01" &&
        col("o_orderdate") < "1998-01-01")
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate"))
    val l = Tables.lineitem(s, d)
      .select(col("l_orderkey"), col("l_suppkey"), col("l_extendedprice"),
        col("l_discount"))
    l.join(o, l("l_orderkey") === o("o_orderkey"))
      .join(c, o("o_custkey") === c("c_custkey"))
      .join(Hints.bcOrHash(su, Tables.rowCount(s, d, "supplier")),
        l("l_suppkey") === su("s_suppkey"))
      .withColumn("rev_micros", revMicros)
      .withColumn("o_year", year(col("o_orderdate")).cast("long"))
      .groupBy(col("o_year"))
      .agg(
        sum(when(col("supp_nation") === "NATION_3", col("rev_micros"))
          .otherwise(0L)).as("nation_micros"),
        sum(col("rev_micros")).as("total_micros"),
        count(lit(1)).as("n_lines"))
      .withColumn("share_pm",
        expr("nation_micros * 1000 div total_micros"))
      .orderBy(col("o_year").asc)
  }

  /** TPC-H Q13 shape (customer distribution): the aggregate-over-
    * aggregate + outer-join pattern — orders pre-aggregate to per-customer
    * counts on their own key, the LEFT join keeps zero-order customers
    * (the rows an inner join silently drops and Q13 exists to count),
    * and the second aggregate is distribution-sized. At 100 TB the only
    * fact-sized shuffle is the first groupBy; the join's right side is
    * already customer-sized. Priority filter stands in for the original's
    * comment-pattern exclusion (no comment column in this schema). */
  def tpchQ13(s: SparkSession, d: String): DataFrame = {
    val perCust = Tables.orders(s, d)
      .filter(col("o_orderpriority") =!= "1-URGENT")
      .groupBy(col("o_custkey")).agg(count(lit(1)).as("c_count"))
    Tables.customer(s, d).select(col("c_custkey"))
      .join(perCust, col("c_custkey") === col("o_custkey"), "left")
      .withColumn("c_count", coalesce(col("c_count"), lit(0L)))
      .groupBy(col("c_count")).agg(count(lit(1)).as("custdist"))
      .orderBy(col("custdist").desc, col("c_count").desc)
  }

  /** MERGE INTO / upsert semantics — the incremental-pipeline core every
    * warehouse user runs (Delta/Iceberg MERGE), expressed engine-neutral
    * as ONE full-outer join of base against a keyed change set, per-row
    * action = delete/update/insert/keep. The change set derives
    * deterministically from the same tables (updates: customers with an
    * open 2000+ order, +$10.00; deletes: every 97th key, winning over
    * update; inserts: suppliers re-keyed past the customer id range), so
    * the apply is oracle-able end to end in integer cents. At scale this
    * is one equi-shuffle of each side on the merge key — the same plan a
    * table format's MERGE compiles to before file rewriting. */
  def sqlMerge(s: SparkSession, d: String): DataFrame = {
    val base = Tables.customer(s, d)
      .select(col("c_custkey"),
        expr("CAST(round(c_acctbal * 100) AS BIGINT)").as("bal_cents"))
    val del = base.filter(col("c_custkey") % 97 === 0)
      .select(col("c_custkey"), lit("D").as("op"), lit(0L).as("arg"))
    val upd = Tables.orders(s, d)
      .filter(col("o_orderstatus") === "O" && col("o_orderdate") >= "2000-01-01")
      .select(col("o_custkey").as("c_custkey")).distinct()
      .filter(col("c_custkey") % 97 =!= 0)
      .select(col("c_custkey"), lit("U").as("op"), lit(1000L).as("arg"))
    val ins = Tables.supplier(s, d)
      .select((col("s_suppkey") + 1000000L).as("c_custkey"), lit("I").as("op"),
        expr("CAST(round(s_acctbal * 100) AS BIGINT)").as("arg"))
    val changes = del.unionByName(upd).unionByName(ins)
    base.join(changes, Seq("c_custkey"), "full_outer")
      .withColumn("action",
        when(col("op") === "D", "delete")
          .when(col("op") === "U", "update")
          .when(col("op") === "I", "insert")
          .otherwise("keep"))
      .withColumn("final_cents",
        when(col("action") === "delete", lit(0L))
          .when(col("action") === "update", col("bal_cents") + col("arg"))
          .when(col("action") === "insert", col("arg"))
          .otherwise(col("bal_cents")))
      .groupBy(col("action"))
      .agg(count(lit(1)).as("n"), sum(col("final_cents")).as("bal_cents"))
      .orderBy(col("action").asc)
  }

  /** Exact distinct-set accounting over a SMALL domain via bitmaps:
    * event types get dense bit indices (a ranked 5-row dim), each user's
    * type set ORs into one BIGINT, bit_count reads the distinct count,
    * and the final distribution groups users by it. The scale point:
    * `bit_or` is a plain mergeable agg — partial bitmaps combine
    * map-side and across shuffles — so this replaces count(DISTINCT)'s
    * expand-or-reshuffle with one narrow pass, the standard trick for
    * distinct-over-small-domain at 100 TB (and the exact counterpart of
    * the HLL rollup, which covers the unbounded-domain case). */
  def aggBitmap(s: SparkSession, d: String): DataFrame = {
    val o = Tables.orders(s, d)
    // Dense bit index per priority: a ranked distinct over a 5-row domain
    // (single-partition window on the dim only, never the fact).
    val idx = o.select(col("o_orderpriority")).distinct()
      .withColumn("bit", row_number().over(
        org.apache.spark.sql.expressions.Window.orderBy(col("o_orderpriority"))) - 1)
    o.join(broadcast(idx), "o_orderpriority")
      .groupBy(col("o_custkey"))
      .agg(expr("bit_or(shiftleft(CAST(1 AS BIGINT), bit))").as("bmp"))
      .groupBy(expr("bit_count(bmp)").as("n_prios"))
      .agg(count(lit(1)).as("n_customers"), sum(col("bmp")).as("sum_bmp"))
      .orderBy(col("n_prios").asc)
  }

  /** Cross-table integrity fingerprint — the ingest/replication check a
    * 100 TB pipeline runs after every copy: per table, row count plus an
    * ORDER-INDEPENDENT content checksum (sum of md5-derived 32-bit key
    * digests — commutative, so partitioning and merge order cannot change
    * it) and the key span. One narrow scan per table, no shuffle beyond a
    * 1-row aggregate each; a single mismatched/dropped/duplicated row
    * flips the checksum. Keys pick each table's identity: surrogate keys
    * where unique, the full line identity for lineitem (whose
    * (orderkey, linenumber) is NOT unique — FIXTURES.md). */
  def dqFingerprint(s: SparkSession, d: String): DataFrame = {
    def fp(name: String, df: DataFrame, keySql: String): DataFrame =
      df.withColumn("h", md5(expr(keySql)))
        .agg(count(lit(1)).as("n_rows"),
          sum(expr(s"${DetHash.sparkHexInt("h")}")).as("checksum"))
        .select(lit(name).as("tbl"), col("n_rows"), col("checksum"))
    val parts = Seq(
      fp("customer", Tables.customer(s, d), "CAST(c_custkey AS STRING)"),
      fp("documents", Tables.documents(s, d), "CAST(doc_id AS STRING)"),
      fp("embeddings", Tables.embeddings(s, d), "CAST(vec_id AS STRING)"),
      fp("events", Tables.events(s, d), "CAST(event_id AS STRING)"),
      fp("lineitem", Tables.lineitem(s, d),
        "concat(l_orderkey, ':', l_linenumber, ':', l_partkey, ':', l_suppkey)"),
      fp("nation", Tables.nation(s, d), "CAST(n_nationkey AS STRING)"),
      fp("orders", Tables.orders(s, d), "CAST(o_orderkey AS STRING)"),
      fp("part", Tables.part(s, d), "CAST(p_partkey AS STRING)"),
      fp("region", Tables.region(s, d), "CAST(r_regionkey AS STRING)"),
      fp("supplier", Tables.supplier(s, d), "CAST(s_suppkey AS STRING)"))
    parts.reduce(_ union _).orderBy(col("tbl").asc)
  }

  /** The quasi-identifier view behind the privacy audits: segment ×
    * nation × account-balance band (integer cents, truncating div —
    * identical in Spark `div` and DuckDB `//`, including toward-zero on
    * the negative balances). */
  private def custQi(s: SparkSession, d: String): DataFrame =
    Tables.customer(s, d)
      .withColumn("band",
        expr("CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT) div 100000"))
      .select(col("c_custkey"), col("c_mktsegment"), col("c_nationkey"),
        col("band"))

  /** k-anonymity audit — the governance gate a PII-bearing table must
    * pass before release: group rows into quasi-identifier equivalence
    * classes (segment, nation, balance band) and histogram the class
    * sizes. Classes of size 1 are directly re-identifying; sizes below
    * the k threshold (the 2–4 bucket here) fail k=5 anonymity. One
    * glance tells you how much generalization (coarser bands, dropped
    * columns) the release needs. Pure two-level hash-aggregate algebra —
    * the audit costs one shuffle at any scale. */
  def dqKanon(s: SparkSession, d: String): DataFrame =
    custQi(s, d)
      .groupBy(col("c_mktsegment"), col("c_nationkey"), col("band"))
      .agg(count(lit(1)).as("cnt"))
      .withColumn("size_band",
        when(col("cnt") === 1, lit("1"))
          .when(col("cnt") < 5, lit("2-4"))
          .when(col("cnt") < 10, lit("5-9"))
          .otherwise(lit("10+")))
      .groupBy(col("size_band"))
      .agg(count(lit(1)).as("n_classes"), sum(col("cnt")).as("n_rows"))
      .orderBy(col("size_band").asc)

  /** l-diversity audit — k-anonymity's complement: a class can be large
    * yet still leak if everyone in it shares the SENSITIVE value
    * (homogeneity attack). Sensitive attribute: the customer's order
    * priorities (via the orders join); l = distinct sensitive values in
    * the class. Output: classes and customers per l — the l=1 row is the
    * homogeneous-class exposure. Join keyed on custkey, then the same
    * two-level aggregate shape as the k-audit. */
  def dqLdiv(s: SparkSession, d: String): DataFrame =
    custQi(s, d)
      .join(Tables.orders(s, d), col("c_custkey") === col("o_custkey"))
      .groupBy(col("c_mktsegment"), col("c_nationkey"), col("band"))
      .agg(countDistinct(col("c_custkey")).as("n_cust"),
        countDistinct(col("o_orderpriority")).as("l"))
      .groupBy(col("l"))
      .agg(count(lit(1)).as("n_classes"), sum(col("n_cust")).as("n_cust"))
      .orderBy(col("l").asc)

  /** Candidate physical sort keys, the columns whose run-lengths they
    * shape, and a value-derived BUCKET that is monotone in the leading
    * sort column — shared between the Spark plan and the generated
    * oracle so the two can never drift. Monotonicity is what makes the
    * bucketed two-pass legal: bucket order ⊆ global order, so global
    * runs = Σ per-bucket runs − seams where adjacent buckets meet on
    * the same value. */
  private val layoutSortKeys = Seq(
    // tiebreak chains run to (orderkey, linenumber, partkey, suppkey) —
    // the fixture's MINIMAL unique key ((orderkey, linenumber) alone has
    // 14k duplicate pairs, discovered when the bucketed rewrite's seam
    // math exposed the tie-order dependence the global form got lucky on)
    ("orderkey",
      Seq("l_orderkey", "l_linenumber", "l_partkey", "l_suppkey"),
      "l_orderkey div 1000"),
    ("partkey",
      Seq("l_partkey", "l_orderkey", "l_linenumber", "l_suppkey"),
      "l_partkey div 100"),
    ("shipdate",
      Seq("l_shipdate", "l_orderkey", "l_linenumber", "l_partkey", "l_suppkey"),
      "year(l_shipdate) * 12 + month(l_shipdate)"))
  private val layoutRunCols = Seq("l_linestatus", "l_partkey", "l_returnflag")

  /** Physical-layout advisor: RLE run counts per (candidate sort key,
    * column) — the number that decides a table's sort order at 100 TB,
    * because parquet's RLE/dictionary encodings compress as 1/runs and
    * min-max pruning sharpens as runs lengthen. Counted EXACTLY without
    * a global sort: per-bucket lag windows (buckets derived monotonically
    * from the leading sort column, so bucket order refines global order)
    * plus a bucket-count-sized seam correction — the ntile_exact2
    * two-pass trick applied to run counting; the ORACLE keeps the naive
    * global-lag form, so the gate proves the decomposition exact. Then a
    * stack() unpivot to tidy (sort_key, col, n_runs) rows. The verdict
    * is read directly off the output — on this fixture, sorting by
    * partkey collapses l_partkey from ~60k runs to its 2k distinct
    * values (30× fewer RLE runs) while the flag columns stay at their
    * order-independent ~n/2 noise floor in EVERY order (they are
    * i.i.d. here, unlike real TPC-H where returnflag tracks dates) —
    * which is the point: the advisor MEASURES the correlation a layout
    * choice can exploit instead of assuming it.
    *
    * Scale note: the measurement windows are global sorts of the
    * candidate orders — the audit costs what one re-sort costs, which
    * is exactly the operation being sized. At 100 TB measure on a
    * sampled partition or run per-range-partition counts and add back
    * the ≤(partitions−1) boundary seams, the ntile_exact2 two-pass
    * trick. */
  def layoutRuns(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val li = Tables.lineitem(s, d)
    val parts = layoutSortKeys.map { case (kname, kcols, bucketExpr) =>
      // pass 1: runs WITHIN each value-derived bucket — the lag window
      // partitions by bucket, so no task ever sees more than one
      // bucket's rows (the two-pass trick that keeps this exact AND
      // scale-safe: bucket order ⊆ global order by monotonicity)
      val wb = Window.partitionBy(col("bkt"))
        .orderBy(kcols.map(col(_).asc): _*)
      val sortStruct = struct(kcols.map(col): _*)
      val lagged = layoutRunCols.foldLeft(
        li.withColumn("bkt", expr(bucketExpr)))((df, c) =>
        df.withColumn(s"p_$c", lag(col(c), 1).over(wb)))
      val aggExprs =
        layoutRunCols.map(c =>
          sum(when(col(s"p_$c").isNull || col(s"p_$c") =!= col(c), 1L)
            .otherwise(0L)).as(s"r_$c")) ++
        layoutRunCols.map(c => min_by(col(c), sortStruct).as(s"f_$c")) ++
        layoutRunCols.map(c => max_by(col(c), sortStruct).as(s"l_$c"))
      val perBucket = lagged.groupBy(col("bkt"))
        .agg(aggExprs.head, aggExprs.tail: _*)
      // pass 2: seam correction over the BUCKET-COUNT-sized frame (the
      // "broadcast offsets" analog): where the previous bucket ends on
      // the value the next one starts with, two counted runs are one
      val wseam = Window.orderBy(col("bkt").asc)
      val seamed = layoutRunCols.foldLeft(perBucket)((df, c) =>
        df.withColumn(s"pl_$c", lag(col(s"l_$c"), 1).over(wseam)))
      val totals = layoutRunCols.map(c =>
        (sum(col(s"r_$c")) -
          sum(when(col(s"pl_$c") === col(s"f_$c"), 1L).otherwise(0L)))
          .as(s"n_$c"))
      seamed.agg(totals.head, totals.tail: _*)
        .select(expr(s"stack(${layoutRunCols.size}, " +
          layoutRunCols.map(c => s"'$c', n_$c").mkString(", ") +
          ") as (col, n_runs)"))
        .withColumn("sort_key", lit(kname))
    }
    parts.reduce(_ unionByName _)
      .select(col("sort_key"), col("col"), col("n_runs"))
      .orderBy(col("sort_key").asc, col("col").asc)
  }

  /** Snapshot diff / CDC derivation — given two table snapshots and a
    * key, classify every row as inserted / deleted / updated / unchanged
    * — the changed-data feed a lakehouse derives when the upstream only
    * ships full dumps. The "tomorrow" snapshot is synthesized in-query
    * with deterministic mutations (every 97th key deleted, every 89th
    * price bumped one cent, every 101st re-keyed into a fresh id range
    * as an insert), so the expected class counts are a pure function of
    * the fixture and fully oracled. Change detection hashes the FULL row
    * (md5 over a canonical column rendering) so any column drift
    * surfaces, and the classifier is one full-outer join on the key —
    * the only shape that scales: no row ever compares against anything
    * but its key partner. */
  def dqSnapdiff(s: SparkSession, d: String): DataFrame = {
    val cents = expr("CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)")
    def render(centsCol: Column): Column =
      md5(concat_ws("|", col("o_custkey"), col("o_orderstatus"),
        centsCol.cast("string"), col("o_orderpriority")))
    val base = Tables.orders(s, d)
      .select(col("o_orderkey").as("k"), render(cents).as("ha"))
    val snap = Tables.orders(s, d)
      .filter(col("o_orderkey") % 97 =!= 0)
      .withColumn("cents2",
        when(col("o_orderkey") % 89 === 0, cents + 1).otherwise(cents))
      .select(col("o_orderkey").as("k"), render(col("cents2")).as("hb"))
      .unionByName(Tables.orders(s, d)
        .filter(col("o_orderkey") % 101 === 0)
        .select((col("o_orderkey") + 10000000L).as("k"),
          render(cents).as("hb")))
    base.join(snap, Seq("k"), "full_outer")
      .withColumn("class",
        when(col("ha").isNull, lit("insert"))
          .when(col("hb").isNull, lit("delete"))
          .when(col("ha") =!= col("hb"), lit("update"))
          .otherwise(lit("unchanged")))
      .groupBy(col("class"))
      .agg(count(lit(1)).as("n_rows"))
      .orderBy(col("class").asc)
  }

  /** Two-sample Kolmogorov–Smirnov distance, per source vs the REST of
    * the corpus, on the document length distribution — the drift test a
    * corpus-monitoring pipeline runs per ingest source. Exact integer
    * arithmetic: D = max_x |F_src(x) − F_rest(x)| with both ECDFs
    * cross-multiplied onto the common denominator n_src·n_rest, so
    * ks_num/ks_den is the exact rational statistic and ks_micro its
    * truncated micro quotient — hash-exact across engines (a float ECDF
    * would not be). Scale shape: the evaluation grid is sources ×
    * distinct lengths (source-count × value-domain bounded, never
    * corpus-sized), the cumulative counts are per-source windows over
    * that grid, and the corpus-sized work is one (source, length) hash
    * count. */
  def statsKs(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
      .select(col("source"), col("n_chars").as("x"))
    val cnt = docs.groupBy(col("source"), col("x")).agg(count(lit(1)).as("c"))
    val xs = docs.select(col("x")).distinct()
    val perX = docs.groupBy(col("x")).agg(count(lit(1)).as("ct"))
    val srcs = docs.groupBy(col("source")).agg(count(lit(1)).as("n_src"))
    val nTot = docs.agg(count(lit(1)).as("n_tot"))
    val wSrc = Window.partitionBy(col("source")).orderBy(col("x").asc)
    srcs.crossJoin(xs)
      .join(cnt, Seq("source", "x"), "left")
      .join(perX, Seq("x"))
      .na.fill(0, Seq("c"))
      .withColumn("cum_src", sum(col("c")).over(wSrc))
      .withColumn("cum_all", sum(col("ct")).over(wSrc))
      .crossJoin(broadcast(nTot))
      .withColumn("n_rest", col("n_tot") - col("n_src"))
      .withColumn("dev", abs(col("cum_src") * col("n_rest") -
        (col("cum_all") - col("cum_src")) * col("n_src")))
      .groupBy(col("source"), col("n_src"), col("n_rest"))
      .agg(max(col("dev")).as("ks_num"))
      .withColumn("ks_den", col("n_src") * col("n_rest"))
      // greatest(…,1): a single-source corpus has n_rest = 0 → ks_den = 0,
      // where Spark div yields NULL but DuckDB // raises — guard BOTH
      // engines identically (ks_num is 0 too in that case, so the
      // statistic degrades to 0, not to a divergent schema).
      .withColumn("ks_micro", expr("ks_num * 1000000 div greatest(ks_den, 1)"))
      .select(col("source"), col("n_src"), col("n_rest"),
        col("ks_num"), col("ks_den"), col("ks_micro"))
      .orderBy(col("source").asc)
  }

  /** Population Stability Index per source vs the whole corpus — the
    * standard model-monitoring drift score, PSI = Σ_b (p_b − q_b)·
    * ln(p_b/q_b), over octave length bands (band = bit-length of
    * n_chars — the shared bin() idiom, value-domain bounded). Add-one
    * smoothing keeps empty bands finite. Everything is integer and
    * cross-engine exact: probabilities as floor-div PPM, the log ratio
    * as a difference of [[Text.withLgMicro]] shared-table micro-nat
    * logs, floored to milli-nats through a +30 000 000 shift (so the
    * floor is taken on a positive value — Spark `div` truncates toward
    * zero where DuckDB `//` floors, and they only agree on
    * non-negatives; the shift makes every division non-negative by
    * construction, including the final clamped sum). Work shape: one
    * corpus-sized (source, band) count, then a sources × bands grid of
    * pure arithmetic + four broadcast ln-table joins. */
  def dqPsi(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
      .select(col("source"), expr("length(bin(n_chars))").as("band"))
    val sb = docs.groupBy(col("source"), col("band")).agg(count(lit(1)).as("c_sb"))
    val cb = docs.groupBy(col("band")).agg(count(lit(1)).as("c_cb"))
    val srcs = docs.groupBy(col("source")).agg(count(lit(1)).as("n_s"))
    val tot = docs.agg(count(lit(1)).as("n_c"),
      countDistinct(col("band")).as("bc"))
    val grid = srcs.crossJoin(cb)
      .join(sb, Seq("source", "band"), "left")
      .na.fill(0, Seq("c_sb"))
      .crossJoin(broadcast(tot))
    val lg = Seq(("c_sb + 1", "lg_a"), ("n_s + bc", "lg_big_a"),
        ("c_cb + 1", "lg_e"), ("n_c + bc", "lg_big_e"))
      .foldLeft(grid) { case (df, (nSql, out)) => Text.withLgMicro(df, nSql, out) }
    lg
      .withColumn("p_ppm", expr("(c_sb + 1) * 1000000 div (n_s + bc)"))
      .withColumn("q_ppm", expr("(c_cb + 1) * 1000000 div (n_c + bc)"))
      .withColumn("l_milli", expr(
        "(lg_a - lg_big_a - lg_e + lg_big_e + 30000000) div 1000 - 30000"))
      .groupBy(col("source"), col("n_s").as("n_docs"), col("bc").as("n_bands"))
      .agg(sum(expr("(p_ppm - q_ppm) * l_milli")).as("raw"))
      .withColumn("psi_micro", expr("greatest(raw, 0) div 1000"))
      .select(col("source"), col("n_docs"), col("n_bands"), col("psi_micro"))
      .orderBy(col("source").asc)
  }

  /** Discrete power-law exponent per event type (Clauset, Shalizi &
    * Newman 2009's continuous-approximation MLE, public): user activity
    * counts x = events per (type, user), tail x ≥ xmin = 5,
    * α̂ = 1 + n / Σ ln(x_i / (xmin − ½)) — the heavy-tail audit run on
    * engagement data before believing an average. Integer-exact via the
    * shared ln table: ln(x/(xmin−½)) = lg(2x) − lg(9) in micro-nats
    * (both from the same table, lg(9) a verbatim constant 2 197 225 in
    * engine AND oracle), Σ > 0 whenever the tail is non-empty, final
    * α in micro units via one positive integer division. Work shape:
    * one corpus-sized (type, user) count, then type-bounded arithmetic. */
  def statsPowerlaw(s: SparkSession, d: String): DataFrame = {
    val x = Tables.events(s, d)
      .groupBy(col("event_type"), col("user_id"))
      .agg(count(lit(1)).as("x"))
      .filter(col("x") >= 5)
    Text.withLgMicro(x, "2 * x", "lg2x")
      .withColumn("term", col("lg2x") - lit(2197225L))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_users"), sum(col("term")).as("s_micro"))
      .withColumn("xmin", lit(5L))
      .withColumn("alpha_micro",
        expr("1000000 + n_users * 1000000000000 div s_micro"))
      .select(col("event_type"), col("xmin"), col("n_users"),
        col("s_micro"), col("alpha_micro"))
      .orderBy(col("event_type").asc)
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_stats_powerlaw" -> statsPowerlaw,
    "q_dq_psi"      -> dqPsi,
    "q_stats_ks"    -> statsKs,
    "q_dq_snapdiff"     -> dqSnapdiff,
    "q_layout_runs"     -> layoutRuns,
    "q_dq_kanon"        -> dqKanon,
    "q_dq_ldiv"         -> dqLdiv,
    "q_dq_fingerprint"  -> dqFingerprint,
    "q_agg_bitmap"      -> aggBitmap,
    "q_tpch_q3"         -> tpchQ3,
    "q_tpch_q5"         -> tpchQ5,
    "q_tpch_q7"         -> tpchQ7,
    "q_tpch_q10"        -> tpchQ10,
    "q_tpch_q6"         -> tpchQ6,
    "q_basket_pairs"    -> basketPairs,
    "q_basket_lift"     -> ((s, d) => basketLift(s, d)),
    "q_orders_backlog"  -> ordersBacklog,
    "q_supplier_score"  -> supplierScorecard,
    "q_orders_season"   -> ordersSeasonality,
    "q_part_margin"     -> partMargin,
    "q_tpch_q8"         -> tpchQ8,
    "q_tpch_q13"        -> tpchQ13,
    "q_tpch_q14"        -> tpchQ14,
    "q_tpch_q19"        -> tpchQ19,
    "q_tpch_q18"        -> tpchQ18,
    "q_sql_merge"       -> sqlMerge,
    "q_percentile"  -> percentiles,
    "q_stats_agg"   -> statsAgg,
    "q_dedup_hash"  -> dedupHash,
    "q_posexplode"  -> posExplode,
    "q_cond_agg"    -> condAgg,
    "q_null_safe"   -> nullSafe,
    "q_part_stats"  -> partStats,
    "q_dq_audit"    -> dqAudit,
    "q_dq_benford"  -> dqBenford,
    "q_dq_funcdep"  -> dqFuncdep,
    "q_stats_mad"   -> statsMad,
    "q_profile_cols" -> profileCols,
    "q_tpch_q17"    -> tpchQ17,
    "q_tpch_q22"    -> tpchQ22,
    "q_tpch_q15"    -> tpchQ15,
    "q_part_skyline" -> partSkyline
  )

  /** The nine Benford expected first-digit frequencies in ppm —
    * ln(1+1/d)/ln(10) computed ONCE from the shared [[Text.lnMicro]]
    * constants and inlined verbatim into both engines (the ln-table
    * discipline), so not a single transcendental runs per-engine. */
  private val benfordPpm: Seq[(Long, Long)] = (1 to 9).map { dd =>
    def ln(k: Int): Long = Text.lnMicro(k - 1)._2
    (dd.toLong, (ln(dd + 1) - ln(dd)) * 1000000L / 2302585L)
  }

  /** Benford first-digit audit (Benford 1938; the classic
    * fabricated-data screen auditors run on financial columns): observed
    * vs expected first-significant-digit distribution of
    * l_extendedprice, deviation in exact integer ppm. The digit comes
    * from `floor` + string head — floor(double) is IEEE-identical in
    * both engines where a double→BIGINT CAST is NOT (Spark truncates,
    * DuckDB rounds). One hash aggregate into nine rows, a 9-row
    * broadcast of the expected table, a 1-row total fold — the whole
    * audit is a single map-side-combined pass at any corpus size.
    * Synthetic uniform-ish prices do NOT follow Benford — the audit's
    * job is to REPORT dev_ppm, and the spec pins the expected side's
    * axioms instead (monotone decreasing, sums to ~10⁶). */
  /** Robust dispersion + outlier census per order priority: exact
    * lower-median and MAD (median absolute deviation — Hampel's robust
    * scale, the outlier screen that, unlike [[statsAgg]]'s stddev, a
    * single corrupted row cannot inflate), flagging rows beyond the
    * standard 3·MAD fence. Exact integer cents throughout: "median" is
    * the rank-⌈n/2⌉ element under a TOTAL order (cents, then orderkey —
    * interpolated even-n medians would reintroduce doubles), so both
    * engines pick the identical element and MAD arithmetic stays
    * hash-exact. Scale shape: two per-group rank windows (the same
    * grouped-sort cost class as q_win_median) + a |groups|-row
    * broadcast-back join; the deviation stream is re-derived per
    * reference (exchange reuse dedupes the scan) and never widens
    * beyond (group, key, cents). */
  def statsMad(s: SparkSession, d: String): DataFrame = {
    // Round-10 rewrite to the VALUE-DOMAIN histogram median (the drift
    // suite's grid discipline). The old form ranked per-priority ROWS
    // with row_number windows — 5 priority partitions ⇒ 5 single-task
    // sorts of the entire fact at any scale (the one window shape that
    // cannot parallelize) — and then re-scanned the fact for the
    // deviation stage. Both medians only ever USED the picked VALUE
    // (the ok tiebreak never changes it: the (n+1)/2-th smallest cents
    // is the smallest cents whose cumulative count reaches (n+1) div 2),
    // so they compute exactly over the (pri, cents)→count histogram —
    // bounded by the price DOMAIN, not the corpus — and the deviation
    // histogram derives from the price histogram by algebra, no second
    // fact scan. One fact pass, one partial-agg shuffle; the cumulative
    // windows sort distinct VALUES per priority. Measured at 100×
    // (same-session solo A/B): 23.2 → 2.8 s (ratio 22.2× → 2.05×).
    // sf0.1 TimeOne min 1.09 → 1.50 s — the honest price of the extra
    // histogram joins at a scale where prices are near-distinct (the
    // histogram ≈ the row set); kept because the fact-sort removal is
    // 8× at 100× and grows with scale. Results hash-identical
    // (oracle 1/1 at sf0.01).
    val counts = Tables.orders(s, d)
      .select(col("o_orderpriority").as("pri"),
        expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("cents"))
      .groupBy(col("pri"), col("cents")).agg(count(lit(1)).as("c"))
    val n = counts.groupBy(col("pri")).agg(sum(col("c")).as("n"))
    val med = counts
      .withColumn("cum", sum(col("c")).over(
        Window.partitionBy(col("pri")).orderBy(col("cents").asc)))
      .join(n, "pri")
      .filter(col("cum") >= expr("(n + 1) div 2"))
      .groupBy(col("pri")).agg(min(col("cents")).as("med_cents"))
    val devCounts = counts.join(med, "pri")
      .withColumn("dev", abs(col("cents") - col("med_cents")))
      .groupBy(col("pri"), col("med_cents"), col("dev"))
      .agg(sum(col("c")).as("c"))
    val mad = devCounts
      .withColumn("cum", sum(col("c")).over(
        Window.partitionBy(col("pri")).orderBy(col("dev").asc)))
      .join(n, "pri")
      .filter(col("cum") >= expr("(n + 1) div 2"))
      .groupBy(col("pri")).agg(min(col("dev")).as("mad_cents"))
    devCounts.join(mad, "pri").join(n, "pri")
      .groupBy(col("pri"), col("n"), col("med_cents"), col("mad_cents"))
      .agg(sum(when(col("dev") > lit(3L) * col("mad_cents"), col("c"))
        .otherwise(0L)).as("n_outliers"))
      .select(col("pri"), col("n"), col("med_cents"), col("mad_cents"),
        col("n_outliers"))
      .orderBy(col("pri").asc)
  }

  /** Functional-dependency audit over `orders`: for each declared
    * candidate FD lhs→rhs, the count of lhs groups carrying more than
    * one distinct rhs value — the schema-inference / data-contract
    * check a pipeline runs before trusting a column as a join key or a
    * derivable attribute (o_orderkey→o_custkey must hold at 0
    * violations; the two attribute pairs quantify how far they are
    * from functional). Scale shape: one two-phase aggregate per
    * candidate (distinct-count per lhs group with partial aggregation,
    * then a 1-row fold) — group count is bounded by lhs cardinality,
    * never a pair join; violation rate in non-negative per-mille
    * division. */
  def dqFuncdep(s: SparkSession, d: String): DataFrame = {
    val o = Tables.orders(s, d)
    def fd(lhs: String, rhs: String): DataFrame =
      o.groupBy(col(lhs))
        .agg(countDistinct(col(rhs)).as("nrhs"))
        .agg(count(lit(1)).as("n_lhs_groups"),
          sum(when(col("nrhs") > 1, 1L).otherwise(0L)).as("n_violating"))
        .select(lit(lhs).as("lhs_col"), lit(rhs).as("rhs_col"),
          col("n_lhs_groups"), col("n_violating"),
          expr("(1000 * n_violating) div n_lhs_groups").as("viol_pm"))
    fd("o_orderkey", "o_custkey")
      .union(fd("o_custkey", "o_orderpriority"))
      .union(fd("o_orderdate", "o_orderstatus"))
      .orderBy(col("lhs_col").asc)
  }

  def dqBenford(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val exp = benfordPpm.toDF("digit", "exp_ppm")
    val cnt = Tables.lineitem(s, d)
      .select(expr("CAST(substring(CAST(CAST(floor(l_extendedprice) " +
        "AS BIGINT) AS STRING), 1, 1) AS BIGINT)").as("digit"))
      .groupBy(col("digit")).agg(count(lit(1)).as("n"))
    val tot = cnt.agg(sum(col("n")).as("total"))
    exp.join(broadcast(cnt), Seq("digit"), "left")
      .na.fill(0L, Seq("n"))
      .crossJoin(broadcast(tot))
      .withColumn("obs_ppm", expr("n * 1000000 div total"))
      .select(col("digit"), col("n"), col("obs_ppm"), col("exp_ppm"),
        abs(col("obs_ppm") - col("exp_ppm")).as("dev_ppm"))
      .orderBy(col("digit").asc)
  }

  /** Part-dimension stats (covers p_size / p_retailprice). */
  def partStats(s: SparkSession, d: String): DataFrame =
    Tables.part(s, d)
      .groupBy(col("p_size"))
      .agg(count(lit(1)).as("cnt"),
        round(sum(col("p_retailprice")), 2).as("sum_price"),
        round(min(col("p_retailprice")), 2).as("min_price"),
        round(max(col("p_retailprice")), 2).as("max_price"))
      .orderBy(col("p_size").asc)

  /** Data-quality rule audit — the dbt-test / Deequ constraint-suite
    * shape every production pipeline runs before publishing a table:
    * referential integrity (anti-join counts), primary-key uniqueness
    * (surplus rows per key), domain membership, range/threshold warns,
    * and a cross-table row-level consistency rule. Each rule reports
    * (n_bad, n_checked, bad_pm); clean-data rules legitimately audit to
    * zero while their n_checked pins that the check actually ran.
    * Single-table rules for the same table share ONE scan via
    * conditional aggregation; at 100 TB each rule family stays one
    * pass + one small anti-join per FK — never a per-rule rescan of
    * the fact table. */
  def dqAudit(s: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(s, d)
    val o = Tables.orders(s, d)
    // lineitem range/threshold rules: one conditional-agg pass
    val liPass = li.agg(
      sum(when(col("l_quantity") > 45.0, 1L).otherwise(0L)).as("qty_hi"),
      sum(when(col("l_discount") > 0.08, 1L).otherwise(0L)).as("disc_hi"),
      count(lit(1)).as("n"))
    val liRules = liPass.select(explode(array(
      struct(lit("rng_qty_gt45").as("rule"), col("qty_hi").as("n_bad"), col("n").as("n_checked")),
      struct(lit("rng_disc_gt8pct").as("rule"), col("disc_hi").as("n_bad"), col("n").as("n_checked"))
    )).as("r")).select(col("r.*"))
    // orders domain rule: one pass
    val oRules = o.agg(
        sum(when(!col("o_orderstatus").isin("F", "O", "P"), 1L).otherwise(0L)).as("n_bad"),
        count(lit(1)).as("n_checked"))
      .select(lit("dom_orderstatus").as("rule"), col("n_bad"), col("n_checked"))
    // FK rules: anti-join surplus (broadcast the key-only dim when small;
    // at scale these are the standard left-anti shuffle on the key)
    val fkLiO = li.select(col("l_orderkey"))
      .join(o.select(col("o_orderkey")), col("l_orderkey") === col("o_orderkey"), "left_anti")
      .agg(count(lit(1)).as("n_bad"))
      .crossJoin(li.agg(count(lit(1)).as("n_checked")))
      .select(lit("fk_lineitem_order").as("rule"), col("n_bad"), col("n_checked"))
    val fkOC = o.select(col("o_custkey"))
      .join(Tables.customer(s, d).select(col("c_custkey")),
        col("o_custkey") === col("c_custkey"), "left_anti")
      .agg(count(lit(1)).as("n_bad"))
      .crossJoin(o.agg(count(lit(1)).as("n_checked")))
      .select(lit("fk_order_customer").as("rule"), col("n_bad"), col("n_checked"))
    // PK uniqueness: surplus rows beyond the first per composite key
    val pk = li.groupBy(col("l_orderkey"), col("l_linenumber"))
      .agg(count(lit(1)).as("c"))
      .agg(sum(col("c") - 1L).as("n_bad"), sum(col("c")).as("n_checked"))
      .select(lit("pk_lineitem_unique").as("rule"), col("n_bad"), col("n_checked"))
    // cross-table row-level rule: a lineitem may not ship before its order
    val shipBefore = li.select(col("l_orderkey"), col("l_shipdate"))
      .join(o.select(col("o_orderkey"), col("o_orderdate")),
        col("l_orderkey") === col("o_orderkey"))
      .agg(sum(when(col("l_shipdate") < col("o_orderdate"), 1L).otherwise(0L)).as("n_bad"),
        count(lit(1)).as("n_checked"))
      .select(lit("seq_ship_after_order").as("rule"), col("n_bad"), col("n_checked"))
    liRules.unionByName(oRules).unionByName(fkLiO).unionByName(fkOC)
      .unionByName(pk).unionByName(shipBefore)
      .withColumn("bad_pm", expr("n_bad * 1000 div n_checked"))
      .orderBy(col("rule").asc)
  }

  /** Column profiling — the stats pass a catalog/ingest service runs on
    * every new table: per column, row/null/distinct counts and typed
    * min/max (stringified AFTER the typed aggregate, so numeric min/max
    * are numeric, never lexicographic). ONE scan computes every
    * column's aggregates (the multi-distinct expands inside the single
    * hash-agg); the wide 1-row result unpivots driver-free via
    * explode(array(struct…)). Doubles are profiled as integer cents so
    * both engines print identical strings. */
  def profileCols(s: SparkSession, d: String): DataFrame = {
    val o = Tables.orders(s, d)
      .withColumn("cents", expr("CAST(round(o_totalprice * 100) AS BIGINT)"))
    def colStats(name: String, c: org.apache.spark.sql.Column) = Seq(
      countDistinct(c).as(s"${name}_nd"),
      sum(when(c.isNull, 1L).otherwise(0L)).as(s"${name}_nn"),
      min(c).cast("string").as(s"${name}_min"),
      max(c).cast("string").as(s"${name}_max"))
    val cols = Seq(
      "o_orderkey" -> col("o_orderkey"),
      "o_custkey" -> col("o_custkey"),
      "total_cents" -> col("cents"),
      "o_orderstatus" -> col("o_orderstatus"),
      "o_orderpriority" -> col("o_orderpriority"))
    val aggs = count(lit(1)).as("n_rows") +: cols.flatMap { case (n, c) => colStats(n, c) }
    val wide = o.agg(aggs.head, aggs.tail: _*)
    wide.select(col("n_rows"), explode(array(cols.map { case (n, _) =>
      struct(lit(n).as("col_name"), col(s"${n}_nd").as("n_distinct"),
        col(s"${n}_nn").as("n_null"), col(s"${n}_min").as("min_s"),
        col(s"${n}_max").as("max_s"))
    }: _*)).as("r"))
      .select(col("r.col_name"), col("n_rows"), col("r.n_distinct"),
        col("r.n_null"), col("r.min_s"), col("r.max_s"))
      .orderBy(col("col_name").asc)
  }

  /** TPC-H Q17 shape (small-quantity-order revenue): lineitems whose
    * quantity falls below 1/5 of their part's average quantity, summed
    * over one brand's parts. The per-part average joins back against
    * the same lineitem stream — the canonical correlated-aggregate
    * pattern — with the threshold compared in exact integers
    * (5·qty·cnt < sum_qty avoids the fractional average entirely).
    * The brand filter reduces parts to a broadcastable side BEFORE the
    * fact join; the per-part agg shuffles once on l_partkey. */
  def tpchQ17(s: SparkSession, d: String): DataFrame = {
    val p = Tables.part(s, d).filter(col("p_brand") === "Brand#3")
      .select(col("p_partkey"))
    val li = Tables.lineitem(s, d)
      .join(Hints.bcOrHash(p, Tables.rowCount(s, d, "part")),
        col("l_partkey") === col("p_partkey"))
      .select(col("l_partkey"),
        expr("CAST(round(l_quantity) AS BIGINT)").as("qty"),
        expr("CAST(round(l_extendedprice * 100) AS BIGINT)").as("cents"))
    val pa = li.groupBy(col("l_partkey").as("pk"))
      .agg(sum(col("qty")).as("sum_qty"), count(lit(1)).as("cnt"))
    li.join(pa, col("l_partkey") === col("pk"))
      .filter(col("qty") * 5L * col("cnt") < col("sum_qty"))
      .agg(count(lit(1)).as("n_lines"),
        countDistinct(col("l_partkey")).as("n_parts"),
        coalesce(sum(col("cents")), lit(0L)).as("rev_cents"))
  }

  /** TPC-H Q22 shape (global sales opportunity): customers with
    * above-average positive balance and no RECENT order (none since
    * 2001-01-01 — on this corpus every customer has ordered at some
    * point, so the recency window is what makes the prospect set real),
    * rolled up by a derived country code (nationkey mod 10 stands in
    * for the phone prefix). The global average arrives as a 1-row
    * broadcast cross-join and the comparison runs in exact integers
    * (bal·n > total avoids the fractional mean); "no recent order" is a
    * left-anti join on the customer key against the date-filtered
    * orders (the filter pushes to the scan BEFORE the anti-join). */
  def tpchQ22(s: SparkSession, d: String): DataFrame = {
    val c = Tables.customer(s, d)
      .withColumn("bal_cents", expr("CAST(round(c_acctbal * 100) AS BIGINT)"))
    val pos = c.filter(col("bal_cents") > 0L)
    val stats = pos.agg(sum(col("bal_cents")).as("tot"), count(lit(1)).as("n"))
    pos.crossJoin(broadcast(stats))
      .filter(col("bal_cents") * col("n") > col("tot"))
      .join(Tables.orders(s, d).filter(col("o_orderdate") >= "2001-01-01")
          .select(col("o_custkey")),
        col("c_custkey") === col("o_custkey"), "left_anti")
      .withColumn("cntrycode", col("c_nationkey").cast("long") % 10L)
      .groupBy(col("cntrycode"))
      .agg(count(lit(1)).as("n_cust"), sum(col("bal_cents")).as("sum_cents"))
      .orderBy(col("cntrycode").asc)
  }

  /** Skyline (Pareto-optimal set) over parts on (price ↓ better,
    * size ↑ better) — the classic multi-criteria operator relational
    * engines lack. Dominance: a beats b iff price ≤ AND size ≥ with one
    * strict. Two-stage, partition-invariant: each of the 32 salt
    * partitions computes a LOCAL skyline with a distributed window
    * (cheaper-strict running max via RANGE … 1 PRECEDING; same-price
    * peers via a price-partitioned max), then the final skyline runs the
    * same filter globally over local survivors only. Correct for ANY
    * partitioning because the global skyline is a subset of every
    * partition-local skyline union; the global window therefore sorts
    * candidates (output-sized), never the corpus — the candidates-then-
    * final shape that makes the operator viable at 100 TB. */
  def partSkyline(s: SparkSession, d: String): DataFrame = {
    val p = Tables.part(s, d)
      .select(col("p_partkey"),
        expr("CAST(round(p_retailprice * 100) AS BIGINT)").as("cents"),
        col("p_size").cast("long").as("size"))
    def skyline(df: DataFrame, part: Seq[org.apache.spark.sql.Column]): DataFrame = {
      val cheaper = Window.partitionBy(part: _*).orderBy(col("cents").asc)
        .rangeBetween(Window.unboundedPreceding, -1)
      val samePrice = Window.partitionBy(part :+ col("cents"): _*)
      df.withColumn("mx_cheaper", max(col("size")).over(cheaper))
        .withColumn("mx_same", max(col("size")).over(samePrice))
        .filter((col("mx_cheaper").isNull || col("mx_cheaper") < col("size")) &&
          col("mx_same") === col("size"))
        .drop("mx_cheaper", "mx_same")
    }
    val local = skyline(
      p.withColumn("salt", pmod(hash(col("p_partkey")), lit(32))), Seq(col("salt")))
    skyline(local.drop("salt"), Seq.empty)
      .orderBy(col("cents").asc, col("p_partkey").asc)
  }

  /** TPC-H Q15 shape (top supplier): per-supplier revenue over one
    * quarter in exact integer micro-units, then the supplier(s) whose
    * revenue equals the global max — the scalar-subquery-on-aggregate
    * pattern, planned as a 1-row broadcast against the pre-aggregated
    * (supplier-sized, not fact-sized) revenue table. Ties all surface,
    * deterministically ordered. With Q15 every TPC-H query expressible
    * on this 8-table subset (no partsupp, no commit/receipt dates or
    * shipmode) is implemented: 1(shape),3,5,6,7,8,10,13,14,15,17,18,
    * 19,22. */
  def tpchQ15(s: SparkSession, d: String): DataFrame = {
    val rev = Tables.lineitem(s, d)
      .filter(col("l_shipdate") >= "1996-01-01" && col("l_shipdate") < "1996-04-01")
      .withColumn("micros",
        expr("CAST(round(l_extendedprice * 100) AS BIGINT) * (100 - CAST(round(l_discount * 100) AS BIGINT))"))
      .groupBy(col("l_suppkey"))
      .agg(sum(col("micros")).as("total_rev_micros"))
    val mx = rev.agg(max(col("total_rev_micros")).as("mx"))
    rev.crossJoin(broadcast(mx))
      .filter(col("total_rev_micros") === col("mx"))
      .join(Tables.supplier(s, d), col("l_suppkey") === col("s_suppkey"))
      .select(col("s_suppkey"), col("s_name"), col("total_rev_micros"))
      .orderBy(col("s_suppkey").asc)
  }

  /** One fingerprint leg of the q_dq_fingerprint oracle. */
  private def fpLegSql(name: String, table: String, keySql: String): String =
    s"""SELECT '$name' AS tbl, count(*) AS n_rows,
       |       CAST(sum(${DetHash.duckHexInt("h")}) AS BIGINT) AS checksum
       |FROM (SELECT md5($keySql) AS h FROM $table)""".stripMargin

  val oracle: Map[String, String] = Map(
    // Same (type, user) tail counts, same shared-table micro-nat
    // lg(2x) − lg(9), same positive integer division for α.
    "q_stats_powerlaw" -> {
      val values = Text.lnMicro.map { case (k, lm) => s"($k, $lm)" }
        .mkString(", ")
      s"""WITH ln(k, lm) AS (SELECT * FROM (VALUES $values) t(k, lm)),
         |x AS (
         |  SELECT event_type, user_id, CAST(count(*) AS BIGINT) AS x
         |  FROM events GROUP BY 1, 2 HAVING count(*) >= 5),
         |terms AS (
         |  SELECT event_type,
         |         (${Text.lgMicroSql("2 * x", "l1")}) - 2197225 AS term
         |  FROM x),
         |agg AS (
         |  SELECT event_type, CAST(count(*) AS BIGINT) AS n_users,
         |         CAST(sum(term) AS BIGINT) AS s_micro
         |  FROM terms GROUP BY 1)
         |SELECT event_type, CAST(5 AS BIGINT) AS xmin, n_users, s_micro,
         |       CAST(1000000 + n_users * 1000000000000 // s_micro AS BIGINT)
         |         AS alpha_micro
         |FROM agg
         |ORDER BY event_type ASC""".stripMargin
    },
    // PSI replay: same octave bands, same add-one PPM probabilities,
    // same shared-ln-table micro-nat log ratio floored to milli-nats
    // through the +30e6 shift (floor == trunc on non-negatives only).
    "q_dq_psi" -> {
      val values = Text.lnMicro.map { case (k, lm) => s"($k, $lm)" }
        .mkString(", ")
      s"""WITH ln(k, lm) AS (SELECT * FROM (VALUES $values) t(k, lm)),
         |docs AS (SELECT source, length(bin(n_chars)) AS band FROM documents),
         |sb AS (SELECT source, band, count(*) AS c_sb FROM docs GROUP BY 1, 2),
         |cb AS (SELECT band, count(*) AS c_cb FROM docs GROUP BY 1),
         |srcs AS (SELECT source, count(*) AS n_s FROM docs GROUP BY 1),
         |tot AS (SELECT count(*) AS n_c, count(DISTINCT band) AS bc FROM docs),
         |grid AS (
         |  SELECT s.source, s.n_s, c.band, c.c_cb,
         |         coalesce(b.c_sb, 0) AS c_sb, t.n_c, t.bc
         |  FROM srcs s CROSS JOIN cb c
         |  LEFT JOIN sb b ON s.source = b.source AND c.band = b.band
         |  CROSS JOIN tot t),
         |term AS (
         |  SELECT source, n_s, bc,
         |         (c_sb + 1) * 1000000 // (n_s + bc) AS p_ppm,
         |         (c_cb + 1) * 1000000 // (n_c + bc) AS q_ppm,
         |         ((${Text.lgMicroSql("c_sb + 1", "l1")})
         |          - (${Text.lgMicroSql("n_s + bc", "l2")})
         |          - (${Text.lgMicroSql("c_cb + 1", "l3")})
         |          + (${Text.lgMicroSql("n_c + bc", "l4")})
         |          + 30000000) // 1000 - 30000 AS l_milli
         |  FROM grid)
         |SELECT source, CAST(n_s AS BIGINT) AS n_docs,
         |       CAST(bc AS BIGINT) AS n_bands,
         |       CAST(greatest(sum((p_ppm - q_ppm) * l_milli), 0) // 1000
         |            AS BIGINT) AS psi_micro
         |FROM term
         |GROUP BY source, n_s, bc
         |ORDER BY source ASC""".stripMargin
    },
    // Same grid construction: per-source and pooled counts per distinct
    // length, per-source cumulative windows, cross-multiplied ECDF
    // deviation, max per source. Integer `//` equals Spark's `div` on
    // the non-negative operands here.
    "q_stats_ks" ->
      """WITH docs AS (SELECT source, n_chars AS x FROM documents),
        |cnt AS (SELECT source, x, count(*) AS c FROM docs GROUP BY 1, 2),
        |xs AS (SELECT DISTINCT x FROM docs),
        |perx AS (SELECT x, count(*) AS ct FROM docs GROUP BY 1),
        |srcs AS (SELECT source, count(*) AS n_src FROM docs GROUP BY 1),
        |tot AS (SELECT count(*) AS n_tot FROM docs),
        |g AS (
        |  SELECT s.source, s.n_src, xs.x, coalesce(c.c, 0) AS c, p.ct
        |  FROM srcs s CROSS JOIN xs
        |  LEFT JOIN cnt c ON s.source = c.source AND xs.x = c.x
        |  JOIN perx p ON xs.x = p.x),
        |cum AS (
        |  SELECT source, n_src, x,
        |         sum(c) OVER (PARTITION BY source ORDER BY x) AS cum_src,
        |         sum(ct) OVER (PARTITION BY source ORDER BY x) AS cum_all
        |  FROM g),
        |dev AS (
        |  SELECT source, n_src, (SELECT n_tot FROM tot) - n_src AS n_rest,
        |         abs(cum_src * ((SELECT n_tot FROM tot) - n_src)
        |             - (cum_all - cum_src) * n_src) AS dev
        |  FROM cum)
        |SELECT source, CAST(n_src AS BIGINT) AS n_src,
        |       CAST(n_rest AS BIGINT) AS n_rest,
        |       CAST(max(dev) AS BIGINT) AS ks_num,
        |       CAST(n_src * n_rest AS BIGINT) AS ks_den,
        |       CAST(max(dev) * 1000000 // greatest(n_src * n_rest, 1) AS BIGINT) AS ks_micro
        |FROM dev
        |GROUP BY source, n_src, n_rest
        |ORDER BY source ASC""".stripMargin,
    "q_dq_fingerprint" -> (Seq(
      fpLegSql("customer", "customer", "CAST(c_custkey AS VARCHAR)"),
      fpLegSql("documents", "documents", "CAST(doc_id AS VARCHAR)"),
      fpLegSql("embeddings", "embeddings", "CAST(vec_id AS VARCHAR)"),
      fpLegSql("events", "events", "CAST(event_id AS VARCHAR)"),
      fpLegSql("lineitem", "lineitem",
        "l_orderkey || ':' || l_linenumber || ':' || l_partkey || ':' || l_suppkey"),
      fpLegSql("nation", "nation", "CAST(n_nationkey AS VARCHAR)"),
      fpLegSql("orders", "orders", "CAST(o_orderkey AS VARCHAR)"),
      fpLegSql("part", "part", "CAST(p_partkey AS VARCHAR)"),
      fpLegSql("region", "region", "CAST(r_regionkey AS VARCHAR)"),
      fpLegSql("supplier", "supplier", "CAST(s_suppkey AS VARCHAR)"))
      .mkString("", "\nUNION ALL\n", "\nORDER BY tbl ASC")),
    "q_tpch_q15" ->
      """WITH rev AS (
        |  SELECT l_suppkey,
        |         CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)
        |           * (100 - CAST(round(l_discount * 100) AS BIGINT))) AS BIGINT)
        |           AS total_rev_micros
        |  FROM lineitem
        |  WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        |    AND l_shipdate < TIMESTAMP '1996-04-01'
        |  GROUP BY l_suppkey)
        |SELECT s_suppkey, s_name, total_rev_micros
        |FROM rev JOIN supplier ON l_suppkey = s_suppkey
        |WHERE total_rev_micros = (SELECT max(total_rev_micros) FROM rev)
        |ORDER BY s_suppkey ASC""".stripMargin,
    "q_tpch_q22" ->
      """WITH c AS (
        |  SELECT c_custkey, c_nationkey,
        |         CAST(round(c_acctbal * 100) AS BIGINT) AS bal_cents
        |  FROM customer
        |  WHERE CAST(round(c_acctbal * 100) AS BIGINT) > 0),
        |st AS (SELECT CAST(sum(bal_cents) AS BIGINT) AS tot,
        |              count(*) AS n FROM c)
        |SELECT CAST(c_nationkey % 10 AS BIGINT) AS cntrycode,
        |       count(*) AS n_cust,
        |       CAST(sum(bal_cents) AS BIGINT) AS sum_cents
        |FROM c, st
        |WHERE bal_cents * n > tot
        |  AND c_custkey NOT IN (SELECT o_custkey FROM orders
        |                        WHERE o_orderdate >= TIMESTAMP '2001-01-01')
        |GROUP BY cntrycode
        |ORDER BY cntrycode ASC""".stripMargin,
    "q_part_skyline" ->
      """WITH p AS (
        |  SELECT p_partkey, CAST(round(p_retailprice * 100) AS BIGINT) AS cents,
        |         CAST(p_size AS BIGINT) AS size
        |  FROM part)
        |SELECT p_partkey, cents, size
        |FROM p a
        |WHERE NOT EXISTS (
        |  SELECT 1 FROM p b
        |  WHERE b.cents <= a.cents AND b.size >= a.size
        |    AND (b.cents < a.cents OR b.size > a.size))
        |ORDER BY cents ASC, p_partkey ASC""".stripMargin,
    "q_dq_snapdiff" ->
      """WITH base AS (
        |  SELECT o_orderkey AS k,
        |         md5(concat_ws('|', CAST(o_custkey AS VARCHAR),
        |           o_orderstatus,
        |           CAST(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
        |             AS BIGINT) AS VARCHAR),
        |           o_orderpriority)) AS ha
        |  FROM orders),
        |snap AS (
        |  SELECT o_orderkey AS k,
        |         md5(concat_ws('|', CAST(o_custkey AS VARCHAR),
        |           o_orderstatus,
        |           CAST(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
        |             AS BIGINT)
        |             + CASE WHEN o_orderkey % 89 = 0 THEN 1 ELSE 0 END
        |             AS VARCHAR),
        |           o_orderpriority)) AS hb
        |  FROM orders WHERE o_orderkey % 97 <> 0
        |  UNION ALL
        |  SELECT o_orderkey + 10000000 AS k,
        |         md5(concat_ws('|', CAST(o_custkey AS VARCHAR),
        |           o_orderstatus,
        |           CAST(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
        |             AS BIGINT) AS VARCHAR),
        |           o_orderpriority)) AS hb
        |  FROM orders WHERE o_orderkey % 101 = 0)
        |SELECT CASE WHEN b.ha IS NULL THEN 'insert'
        |            WHEN s.hb IS NULL THEN 'delete'
        |            WHEN b.ha <> s.hb THEN 'update'
        |            ELSE 'unchanged' END AS class,
        |       count(*) AS n_rows
        |FROM base b FULL OUTER JOIN snap s ON b.k = s.k
        |GROUP BY class
        |ORDER BY class ASC""".stripMargin,
    // generated from the same layoutSortKeys/layoutRunCols lists as the
    // Spark plan — one source of truth for keys, columns, and tiebreaks
    "q_layout_runs" -> (layoutSortKeys.flatMap { case (kname, kcols, _) =>
      layoutRunCols.map { c =>
        s"""SELECT '$kname' AS sort_key, '$c' AS col,
           |       CAST(sum(CASE WHEN p IS NULL OR p <> v THEN 1 ELSE 0 END)
           |         AS BIGINT) AS n_runs
           |FROM (SELECT $c AS v,
           |        lag($c) OVER (ORDER BY ${kcols.mkString(", ")}) AS p
           |      FROM lineitem)""".stripMargin
      }
    }.map(q => s"($q)").mkString("SELECT * FROM (\n", "\nUNION ALL\n",
      "\n) ORDER BY sort_key ASC, col ASC")),
    "q_dq_kanon" ->
      """WITH qi AS (
        |  SELECT c_mktsegment, c_nationkey,
        |         CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT)
        |           // 100000 AS band
        |  FROM customer),
        |cls AS (
        |  SELECT c_mktsegment, c_nationkey, band, count(*) AS cnt
        |  FROM qi GROUP BY 1, 2, 3)
        |SELECT CASE WHEN cnt = 1 THEN '1'
        |            WHEN cnt < 5 THEN '2-4'
        |            WHEN cnt < 10 THEN '5-9'
        |            ELSE '10+' END AS size_band,
        |       count(*) AS n_classes,
        |       CAST(sum(cnt) AS BIGINT) AS n_rows
        |FROM cls
        |GROUP BY size_band
        |ORDER BY size_band ASC""".stripMargin,
    "q_dq_ldiv" ->
      """WITH qi AS (
        |  SELECT c_custkey, c_mktsegment, c_nationkey,
        |         CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT)
        |           // 100000 AS band
        |  FROM customer),
        |cls AS (
        |  SELECT q.c_mktsegment, q.c_nationkey, q.band,
        |         count(DISTINCT q.c_custkey) AS n_cust,
        |         count(DISTINCT o.o_orderpriority) AS l
        |  FROM qi q JOIN orders o ON q.c_custkey = o.o_custkey
        |  GROUP BY 1, 2, 3)
        |SELECT l, count(*) AS n_classes,
        |       CAST(sum(n_cust) AS BIGINT) AS n_cust
        |FROM cls
        |GROUP BY l
        |ORDER BY l ASC""".stripMargin,
    "q_stats_mad" ->
      """WITH b AS (
        |  SELECT o_orderpriority AS pri, o_orderkey AS ok,
        |         CAST(round(o_totalprice * 100) AS BIGINT) AS cents
        |  FROM orders),
        |m AS (
        |  SELECT pri, cents AS med_cents, n FROM (
        |    SELECT pri, cents, ok,
        |           row_number() OVER (PARTITION BY pri
        |                              ORDER BY cents ASC, ok ASC) AS rn,
        |           CAST(count(*) OVER (PARTITION BY pri) AS BIGINT) AS n
        |    FROM b)
        |  WHERE rn = (n + 1) // 2),
        |d AS (
        |  SELECT b.pri, b.ok, abs(b.cents - m.med_cents) AS dev,
        |         m.med_cents, m.n
        |  FROM b JOIN m ON b.pri = m.pri),
        |md AS (
        |  SELECT pri, dev AS mad_cents FROM (
        |    SELECT pri, dev, n,
        |           row_number() OVER (PARTITION BY pri
        |                              ORDER BY dev ASC, ok ASC) AS rn
        |    FROM d)
        |  WHERE rn = (n + 1) // 2)
        |SELECT d.pri, d.n, d.med_cents, md.mad_cents,
        |       CAST(sum(CASE WHEN d.dev > 3 * md.mad_cents
        |                     THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
        |FROM d JOIN md ON d.pri = md.pri
        |GROUP BY 1, 2, 3, 4
        |ORDER BY d.pri ASC""".stripMargin,
    "q_dq_funcdep" -> {
      def fdSql(lhs: String, rhs: String): String =
        s"""SELECT '$lhs' AS lhs_col, '$rhs' AS rhs_col,
           |       CAST(count(*) AS BIGINT) AS n_lhs_groups,
           |       CAST(sum(CASE WHEN nrhs > 1 THEN 1 ELSE 0 END) AS BIGINT)
           |         AS n_violating,
           |       CAST((1000 * sum(CASE WHEN nrhs > 1 THEN 1 ELSE 0 END))
           |         // count(*) AS BIGINT) AS viol_pm
           |FROM (SELECT $lhs, count(DISTINCT $rhs) AS nrhs
           |      FROM orders GROUP BY $lhs)""".stripMargin
      s"""${fdSql("o_orderkey", "o_custkey")}
         |UNION ALL
         |${fdSql("o_custkey", "o_orderpriority")}
         |UNION ALL
         |${fdSql("o_orderdate", "o_orderstatus")}
         |ORDER BY lhs_col ASC""".stripMargin
    },
    "q_dq_benford" -> {
      val values = benfordPpm.map { case (dg, p) => s"($dg, $p)" }
        .mkString(", ")
      s"""WITH expb(digit, exp_ppm) AS (
         |  SELECT * FROM (VALUES $values) t(digit, exp_ppm)),
         |dg AS (
         |  SELECT CAST(substring(CAST(CAST(floor(l_extendedprice)
         |    AS BIGINT) AS VARCHAR), 1, 1) AS BIGINT) AS digit
         |  FROM lineitem),
         |cnt AS (
         |  SELECT digit, CAST(count(*) AS BIGINT) AS n
         |  FROM dg GROUP BY digit),
         |tot AS (SELECT CAST(sum(n) AS BIGINT) AS total FROM cnt)
         |SELECT CAST(e.digit AS BIGINT) AS digit,
         |       coalesce(c.n, 0) AS n,
         |       coalesce(c.n, 0) * 1000000 // t.total AS obs_ppm,
         |       CAST(e.exp_ppm AS BIGINT) AS exp_ppm,
         |       abs(coalesce(c.n, 0) * 1000000 // t.total - e.exp_ppm)
         |         AS dev_ppm
         |FROM expb e LEFT JOIN cnt c ON e.digit = c.digit
         |CROSS JOIN tot t
         |ORDER BY e.digit ASC""".stripMargin
    },
    "q_dq_audit" ->
      """WITH li AS (SELECT * FROM lineitem), o AS (SELECT * FROM orders)
        |SELECT rule, CAST(n_bad AS BIGINT) AS n_bad,
        |       CAST(n_checked AS BIGINT) AS n_checked,
        |       CAST(n_bad * 1000 // n_checked AS BIGINT) AS bad_pm
        |FROM (
        |  SELECT 'rng_qty_gt45' AS rule,
        |         sum(CASE WHEN l_quantity > 45.0 THEN 1 ELSE 0 END) AS n_bad,
        |         count(*) AS n_checked FROM li
        |  UNION ALL
        |  SELECT 'rng_disc_gt8pct',
        |         sum(CASE WHEN l_discount > 0.08 THEN 1 ELSE 0 END), count(*)
        |  FROM li
        |  UNION ALL
        |  SELECT 'dom_orderstatus',
        |         sum(CASE WHEN o_orderstatus NOT IN ('F','O','P') THEN 1 ELSE 0 END),
        |         count(*)
        |  FROM o
        |  UNION ALL
        |  SELECT 'fk_lineitem_order',
        |         (SELECT count(*) FROM li WHERE l_orderkey NOT IN
        |            (SELECT o_orderkey FROM o)),
        |         (SELECT count(*) FROM li)
        |  UNION ALL
        |  SELECT 'fk_order_customer',
        |         (SELECT count(*) FROM o WHERE o_custkey NOT IN
        |            (SELECT c_custkey FROM customer)),
        |         (SELECT count(*) FROM o)
        |  UNION ALL
        |  SELECT 'pk_lineitem_unique', sum(c - 1), sum(c) FROM
        |    (SELECT count(*) AS c FROM li GROUP BY l_orderkey, l_linenumber)
        |  UNION ALL
        |  SELECT 'seq_ship_after_order',
        |         sum(CASE WHEN l_shipdate < o_orderdate THEN 1 ELSE 0 END),
        |         count(*)
        |  FROM li JOIN o ON l_orderkey = o_orderkey
        |) t
        |ORDER BY rule ASC""".stripMargin,
    "q_profile_cols" ->
      """WITH o AS (SELECT *, CAST(round(o_totalprice * 100) AS BIGINT)
        |             AS cents FROM orders)
        |SELECT col_name, n_rows, n_distinct, CAST(n_null AS BIGINT) AS n_null,
        |       min_s, max_s FROM (
        |  SELECT 'o_orderkey' AS col_name, count(*) AS n_rows,
        |         count(DISTINCT o_orderkey) AS n_distinct,
        |         sum(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) AS n_null,
        |         CAST(min(o_orderkey) AS VARCHAR) AS min_s,
        |         CAST(max(o_orderkey) AS VARCHAR) AS max_s FROM o
        |  UNION ALL
        |  SELECT 'o_custkey', count(*), count(DISTINCT o_custkey),
        |         sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END),
        |         CAST(min(o_custkey) AS VARCHAR), CAST(max(o_custkey) AS VARCHAR)
        |  FROM o
        |  UNION ALL
        |  SELECT 'total_cents', count(*), count(DISTINCT cents),
        |         sum(CASE WHEN cents IS NULL THEN 1 ELSE 0 END),
        |         CAST(min(cents) AS VARCHAR), CAST(max(cents) AS VARCHAR)
        |  FROM o
        |  UNION ALL
        |  SELECT 'o_orderstatus', count(*), count(DISTINCT o_orderstatus),
        |         sum(CASE WHEN o_orderstatus IS NULL THEN 1 ELSE 0 END),
        |         min(o_orderstatus), max(o_orderstatus) FROM o
        |  UNION ALL
        |  SELECT 'o_orderpriority', count(*), count(DISTINCT o_orderpriority),
        |         sum(CASE WHEN o_orderpriority IS NULL THEN 1 ELSE 0 END),
        |         min(o_orderpriority), max(o_orderpriority) FROM o
        |) t
        |ORDER BY col_name ASC""".stripMargin,
    "q_tpch_q17" ->
      """WITH li AS (
        |  SELECT l_partkey,
        |         CAST(round(l_quantity) AS BIGINT) AS qty,
        |         CAST(round(l_extendedprice * 100) AS BIGINT) AS cents
        |  FROM lineitem JOIN part ON l_partkey = p_partkey
        |  WHERE p_brand = 'Brand#3'),
        |pa AS (
        |  SELECT l_partkey AS pk, sum(qty) AS sum_qty, count(*) AS cnt
        |  FROM li GROUP BY 1)
        |SELECT count(*) AS n_lines,
        |       count(DISTINCT l_partkey) AS n_parts,
        |       CAST(coalesce(sum(cents), 0) AS BIGINT) AS rev_cents
        |FROM li JOIN pa ON l_partkey = pk
        |WHERE qty * 5 * cnt < sum_qty""".stripMargin,
    "q_tpch_q18" ->
      """WITH big AS (
        |  SELECT l_orderkey, sum(l_quantity) AS sum_qty
        |  FROM lineitem GROUP BY l_orderkey
        |  HAVING sum(l_quantity) > 300)
        |SELECT c_name, c_custkey, o_orderkey,
        |       strftime(o_orderdate, '%Y-%m-%d') AS o_date,
        |       CAST(round(o_totalprice * 100) AS BIGINT) AS total_cents,
        |       sum_qty
        |FROM orders
        |JOIN big ON o_orderkey = big.l_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |ORDER BY total_cents DESC, o_orderkey ASC
        |LIMIT 100""".stripMargin,
    "q_sql_merge" ->
      """WITH base AS (
        |  SELECT c_custkey, CAST(round(c_acctbal * 100) AS BIGINT) AS bal_cents
        |  FROM customer),
        |del AS (
        |  SELECT c_custkey, 'D' AS op, CAST(0 AS BIGINT) AS arg
        |  FROM base WHERE c_custkey % 97 = 0),
        |upd AS (
        |  SELECT DISTINCT o_custkey AS c_custkey, 'U' AS op,
        |         CAST(1000 AS BIGINT) AS arg
        |  FROM orders
        |  WHERE o_orderstatus = 'O' AND o_orderdate >= TIMESTAMP '2000-01-01'
        |    AND o_custkey % 97 <> 0),
        |ins AS (
        |  SELECT s_suppkey + 1000000 AS c_custkey, 'I' AS op,
        |         CAST(round(s_acctbal * 100) AS BIGINT) AS arg
        |  FROM supplier),
        |changes AS (
        |  SELECT * FROM del UNION ALL SELECT * FROM upd
        |  UNION ALL SELECT * FROM ins),
        |m AS (
        |  SELECT CASE WHEN op = 'D' THEN 'delete'
        |              WHEN op = 'U' THEN 'update'
        |              WHEN op = 'I' THEN 'insert'
        |              ELSE 'keep' END AS action,
        |         CASE WHEN op = 'D' THEN 0
        |              WHEN op = 'U' THEN bal_cents + arg
        |              WHEN op = 'I' THEN arg
        |              ELSE bal_cents END AS final_cents
        |  FROM base FULL OUTER JOIN changes USING (c_custkey))
        |SELECT action, count(*) AS n,
        |       CAST(sum(final_cents) AS BIGINT) AS bal_cents
        |FROM m GROUP BY action
        |ORDER BY action ASC""".stripMargin,
    "q_agg_bitmap" ->
      """WITH idx AS (
        |  SELECT o_orderpriority,
        |         row_number() OVER (ORDER BY o_orderpriority ASC) - 1 AS bit
        |  FROM (SELECT DISTINCT o_orderpriority FROM orders)),
        |bm AS (
        |  SELECT o_custkey,
        |         bit_or(1::BIGINT << bit) AS bmp
        |  FROM orders JOIN idx USING (o_orderpriority)
        |  GROUP BY o_custkey)
        |SELECT CAST(bit_count(bmp) AS INT) AS n_prios,
        |       count(*) AS n_customers,
        |       CAST(sum(bmp) AS BIGINT) AS sum_bmp
        |FROM bm
        |GROUP BY n_prios
        |ORDER BY n_prios ASC""".stripMargin,
    "q_tpch_q3" ->
      """SELECT l_orderkey,
        |       strftime(o_orderdate, '%Y-%m-%d') AS o_date,
        |       o_orderpriority,
        |       CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)
        |         * (100 - CAST(round(l_discount * 100) AS BIGINT)))
        |         AS BIGINT) AS revenue_micros
        |FROM customer, orders, lineitem
        |WHERE c_mktsegment = 'BUILDING'
        |  AND c_custkey = o_custkey
        |  AND l_orderkey = o_orderkey
        |  AND o_orderdate < TIMESTAMP '1996-03-15'
        |  AND l_shipdate > TIMESTAMP '1996-03-15'
        |GROUP BY l_orderkey, o_date, o_orderpriority
        |ORDER BY revenue_micros DESC, l_orderkey ASC
        |LIMIT 10""".stripMargin,
    "q_tpch_q5" ->
      """SELECT n_name,
        |       CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)
        |         * (100 - CAST(round(l_discount * 100) AS BIGINT)))
        |         AS BIGINT) AS revenue_micros,
        |       count(*) AS n_lines
        |FROM customer, orders, lineitem, supplier, nation, region
        |WHERE c_custkey = o_custkey
        |  AND l_orderkey = o_orderkey
        |  AND l_suppkey = s_suppkey
        |  AND c_nationkey = s_nationkey
        |  AND s_nationkey = n_nationkey
        |  AND n_regionkey = r_regionkey
        |  AND r_name = 'ASIA'
        |  AND o_orderdate >= TIMESTAMP '1996-01-01'
        |  AND o_orderdate < TIMESTAMP '1998-01-01'
        |GROUP BY n_name
        |ORDER BY revenue_micros DESC, n_name ASC""".stripMargin,
    "q_tpch_q7" ->
      """SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
        |       CAST(year(l_shipdate) AS BIGINT) AS l_year,
        |       CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)
        |         * (100 - CAST(round(l_discount * 100) AS BIGINT)))
        |         AS BIGINT) AS revenue_micros,
        |       count(*) AS n_lines
        |FROM lineitem, orders, customer, supplier, nation n1, nation n2
        |WHERE l_orderkey = o_orderkey
        |  AND o_custkey = c_custkey
        |  AND l_suppkey = s_suppkey
        |  AND s_nationkey = n1.n_nationkey
        |  AND c_nationkey = n2.n_nationkey
        |  AND ((n1.n_name = 'NATION_3' AND n2.n_name = 'NATION_7')
        |    OR (n1.n_name = 'NATION_7' AND n2.n_name = 'NATION_3'))
        |  AND l_shipdate >= TIMESTAMP '1996-01-01'
        |  AND l_shipdate < TIMESTAMP '1998-01-01'
        |GROUP BY supp_nation, cust_nation, l_year
        |ORDER BY supp_nation ASC, cust_nation ASC, l_year ASC""".stripMargin,
    "q_tpch_q6" ->
      """SELECT CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)
        |         * CAST(round(l_discount * 100) AS BIGINT)) AS BIGINT)
        |         AS revenue_micros,
        |       count(*) AS n_lines
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        |  AND l_shipdate < TIMESTAMP '1997-01-01'
        |  AND CAST(round(l_discount * 100) AS BIGINT) BETWEEN 5 AND 7
        |  AND l_quantity < 24""".stripMargin,
    "q_part_margin" ->
      """SELECT p_brand,
        |       count(*) AS n_lines,
        |       CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT))
        |         AS BIGINT) AS realized_cents,
        |       CAST(sum(CAST(l_quantity AS BIGINT)
        |         * CAST(round(p_retailprice * 100) AS BIGINT))
        |         AS BIGINT) AS list_cents,
        |       CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) * 1000
        |         // sum(CAST(l_quantity AS BIGINT)
        |           * CAST(round(p_retailprice * 100) AS BIGINT))
        |         AS BIGINT) AS realized_pm
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |GROUP BY p_brand
        |ORDER BY p_brand ASC""".stripMargin,
    "q_orders_season" ->
      """WITH o AS (
        |  SELECT month(o_orderdate) AS m,
        |         CAST(round(o_totalprice * 100) AS BIGINT) AS cents
        |  FROM orders),
        |tot AS (SELECT count(*) AS n_total FROM o)
        |SELECT CAST(m AS BIGINT) AS m,
        |       count(*) AS n_orders,
        |       CAST(sum(cents) AS BIGINT) AS sum_cents,
        |       CAST(count(*) * 1000 // n_total AS BIGINT) AS share_pm
        |FROM o CROSS JOIN tot
        |GROUP BY m, n_total
        |ORDER BY m ASC""".stripMargin,
    "q_orders_backlog" ->
      """WITH ship AS (
        |  SELECT l_orderkey, max(l_shipdate) AS last_ship
        |  FROM lineitem GROUP BY 1),
        |iv AS (
        |  SELECT year(o.o_orderdate) * 12 + month(o.o_orderdate) - 1 AS sm,
        |         year(s.last_ship) * 12 + month(s.last_ship) - 1 AS em
        |  FROM orders o JOIN ship s ON o.o_orderkey = s.l_orderkey),
        |dl AS (
        |  SELECT sm AS mi, 1 AS delta FROM iv
        |  UNION ALL
        |  SELECT greatest(sm, em) + 1 AS mi, -1 AS delta FROM iv),
        |g AS (SELECT mi, CAST(sum(delta) AS BIGINT) AS d
        |      FROM dl GROUP BY mi),
        |r AS (SELECT mi, d,
        |        CAST(sum(d) OVER (ORDER BY mi ASC) AS BIGINT) AS n_open
        |      FROM g)
        |SELECT CAST(mi // 12 AS BIGINT) AS y,
        |       CAST(mi % 12 + 1 AS BIGINT) AS m,
        |       d AS delta, n_open
        |FROM r
        |ORDER BY y ASC, m ASC""".stripMargin,
    "q_supplier_score" ->
      """WITH agg AS (
        |  SELECT l_suppkey,
        |         count(*) AS n_lines,
        |         CAST(sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END)
        |           AS BIGINT) AS n_returned,
        |         CAST(sum(CASE WHEN l_returnflag = 'R'
        |           THEN CAST(round(l_extendedprice * 100) AS BIGINT)
        |             * (100 - CAST(round(l_discount * 100) AS BIGINT))
        |           ELSE 0 END) AS BIGINT) AS returned_micros
        |  FROM lineitem
        |  GROUP BY l_suppkey
        |  HAVING count(*) >= 20)
        |SELECT s_name, n_name, n_lines, n_returned,
        |       CAST(n_returned * 1000 // n_lines AS BIGINT) AS return_pm,
        |       returned_micros
        |FROM agg
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation ON s_nationkey = n_nationkey
        |ORDER BY return_pm DESC, n_lines DESC, s_name ASC
        |LIMIT 20""".stripMargin,
    "q_basket_lift" ->
      """WITH li AS (
        |  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        |supp AS (
        |  SELECT l_partkey, count(*) AS s FROM li GROUP BY l_partkey),
        |tot AS (
        |  SELECT count(DISTINCT l_orderkey) AS n_orders FROM li),
        |pairs AS (
        |  SELECT a.l_partkey AS a_part, b.l_partkey AS b_part,
        |         count(*) AS support
        |  FROM li a JOIN li b
        |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        |  GROUP BY a_part, b_part
        |  HAVING count(*) >= 3)
        |SELECT a_part, b_part, support,
        |       sa.s AS supp_a, sb.s AS supp_b,
        |       CAST(support * n_orders * 1000000 // (sa.s * sb.s) AS BIGINT)
        |         AS lift_ppm
        |FROM pairs
        |JOIN supp sa ON sa.l_partkey = a_part
        |JOIN supp sb ON sb.l_partkey = b_part
        |CROSS JOIN tot
        |ORDER BY lift_ppm DESC, a_part ASC, b_part ASC
        |LIMIT 20""".stripMargin,
    "q_basket_pairs" ->
      """WITH li AS (
        |  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem)
        |SELECT a.l_partkey AS a_part, b.l_partkey AS b_part,
        |       count(*) AS support
        |FROM li a JOIN li b
        |  ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        |GROUP BY a_part, b_part
        |ORDER BY support DESC, a_part ASC, b_part ASC
        |LIMIT 20""".stripMargin,
    "q_tpch_q8" ->
      """SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year,
        |       CAST(sum(CASE WHEN n2.n_name = 'NATION_3'
        |         THEN CAST(round(l_extendedprice * 100) AS BIGINT)
        |           * (100 - CAST(round(l_discount * 100) AS BIGINT))
        |         ELSE 0 END) AS BIGINT) AS nation_micros,
        |       CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)
        |         * (100 - CAST(round(l_discount * 100) AS BIGINT)))
        |         AS BIGINT) AS total_micros,
        |       count(*) AS n_lines,
        |       CAST(sum(CASE WHEN n2.n_name = 'NATION_3'
        |         THEN CAST(round(l_extendedprice * 100) AS BIGINT)
        |           * (100 - CAST(round(l_discount * 100) AS BIGINT))
        |         ELSE 0 END) * 1000
        |         // sum(CAST(round(l_extendedprice * 100) AS BIGINT)
        |           * (100 - CAST(round(l_discount * 100) AS BIGINT)))
        |         AS BIGINT) AS share_pm
        |FROM lineitem, orders, customer, supplier, nation n1, nation n2, region
        |WHERE l_orderkey = o_orderkey
        |  AND o_custkey = c_custkey
        |  AND c_nationkey = n1.n_nationkey
        |  AND n1.n_regionkey = r_regionkey
        |  AND r_name = 'ASIA'
        |  AND l_suppkey = s_suppkey
        |  AND s_nationkey = n2.n_nationkey
        |  AND o_orderdate >= TIMESTAMP '1996-01-01'
        |  AND o_orderdate < TIMESTAMP '1998-01-01'
        |GROUP BY o_year
        |ORDER BY o_year ASC""".stripMargin,
    "q_tpch_q13" ->
      """WITH per_cust AS (
        |  SELECT o_custkey, count(*) AS c_count
        |  FROM orders
        |  WHERE o_orderpriority <> '1-URGENT'
        |  GROUP BY o_custkey)
        |SELECT coalesce(c_count, 0) AS c_count,
        |       count(*) AS custdist
        |FROM customer LEFT JOIN per_cust ON c_custkey = o_custkey
        |GROUP BY coalesce(c_count, 0)
        |ORDER BY custdist DESC, c_count DESC""".stripMargin,
    "q_tpch_q14" ->
      """SELECT strftime(l_shipdate, '%Y-%m') AS month,
        |       CAST(sum(CASE WHEN p_type = 'PROMO'
        |         THEN CAST(round(l_extendedprice * 100) AS BIGINT)
        |           * (100 - CAST(round(l_discount * 100) AS BIGINT))
        |         ELSE 0 END) AS BIGINT) AS promo_micros,
        |       CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)
        |         * (100 - CAST(round(l_discount * 100) AS BIGINT)))
        |         AS BIGINT) AS total_micros,
        |       count(*) AS n_lines,
        |       CAST(sum(CASE WHEN p_type = 'PROMO'
        |         THEN CAST(round(l_extendedprice * 100) AS BIGINT)
        |           * (100 - CAST(round(l_discount * 100) AS BIGINT))
        |         ELSE 0 END) * 1000
        |         // sum(CAST(round(l_extendedprice * 100) AS BIGINT)
        |           * (100 - CAST(round(l_discount * 100) AS BIGINT)))
        |         AS BIGINT) AS promo_pm
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        |  AND l_shipdate < TIMESTAMP '1997-01-01'
        |GROUP BY month
        |ORDER BY month ASC""".stripMargin,
    "q_tpch_q19" ->
      """WITH m AS (
        |  SELECT CASE
        |           WHEN p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 15
        |             AND l_quantity BETWEEN 1 AND 16 THEN 1
        |           WHEN p_brand = 'Brand#12' AND p_size BETWEEN 16 AND 30
        |             AND l_quantity BETWEEN 8 AND 26 THEN 2
        |           ELSE 3 END AS arm,
        |         CAST(round(l_extendedprice * 100) AS BIGINT)
        |           * (100 - CAST(round(l_discount * 100) AS BIGINT))
        |           AS rev_micros
        |  FROM lineitem JOIN part ON l_partkey = p_partkey
        |  WHERE (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 15
        |           AND l_quantity BETWEEN 1 AND 16)
        |     OR (p_brand = 'Brand#12' AND p_size BETWEEN 16 AND 30
        |           AND l_quantity BETWEEN 8 AND 26)
        |     OR (p_brand = 'Brand#24' AND p_size BETWEEN 31 AND 50
        |           AND l_quantity BETWEEN 18 AND 36))
        |SELECT CAST(arm AS BIGINT) AS arm,
        |       CAST(sum(rev_micros) AS BIGINT) AS revenue_micros,
        |       count(*) AS n_lines
        |FROM m GROUP BY arm
        |ORDER BY arm ASC""".stripMargin,
    "q_tpch_q10" ->
      """SELECT c_custkey, c_name, n_name,
        |       CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)
        |         * (100 - CAST(round(l_discount * 100) AS BIGINT)))
        |         AS BIGINT) AS revenue_micros,
        |       count(*) AS n_lines
        |FROM lineitem, orders, customer, nation
        |WHERE l_orderkey = o_orderkey
        |  AND o_custkey = c_custkey
        |  AND c_nationkey = n_nationkey
        |  AND l_returnflag = 'R'
        |  AND o_orderdate >= TIMESTAMP '1996-01-01'
        |  AND o_orderdate < TIMESTAMP '1996-04-01'
        |GROUP BY c_custkey, c_name, n_name
        |ORDER BY revenue_micros DESC, c_custkey ASC
        |LIMIT 20""".stripMargin,
    "q_percentile" ->
      """SELECT o_orderpriority,
        |       round(quantile_cont(o_totalprice, 0.5), 4) AS p50,
        |       round(quantile_cont(o_totalprice, 0.9), 4) AS p90,
        |       count(*) AS cnt
        |FROM orders
        |GROUP BY o_orderpriority
        |ORDER BY o_orderpriority ASC""".stripMargin,
    "q_stats_agg" ->
      """SELECT l_returnflag,
        |       round(stddev_samp(l_quantity), 4) AS sd_qty,
        |       round(var_samp(l_quantity), 4) AS var_qty,
        |       round(corr(l_quantity, l_extendedprice), 4) AS corr_qp,
        |       round(covar_samp(l_quantity, l_extendedprice), 2) AS covar_qp,
        |       count(*) AS cnt
        |FROM lineitem
        |GROUP BY l_returnflag
        |ORDER BY l_returnflag ASC""".stripMargin,
    "q_dedup_hash" ->
      """SELECT doc_id, sha256(text) AS digest
        |FROM documents
        |ORDER BY doc_id ASC""".stripMargin,
    "q_posexplode" ->
      """SELECT vec_id, CAST(i - 1 AS BIGINT) AS pos,
        |       CAST(embedding[i] AS DOUBLE) AS val
        |FROM embeddings CROSS JOIN (VALUES (1), (2), (3)) t(i)
        |ORDER BY vec_id ASC, pos ASC""".stripMargin,
    "q_cond_agg" ->
      """SELECT event_type,
        |       CAST(count_if(value > 100) AS BIGINT) AS n_big,
        |       bool_and(value >= 0) AS all_nonneg,
        |       bool_or(value > 199) AS any_huge,
        |       count(*) AS cnt
        |FROM events
        |GROUP BY event_type
        |ORDER BY event_type ASC""".stripMargin,
    "q_null_safe" ->
      """SELECT bucket, count(*) AS n_cust,
        |       CAST(sum(CASE WHEN bucket IS NOT DISTINCT FROM NULL
        |                     THEN 1 ELSE 0 END) AS BIGINT) AS n_null_safe
        |FROM (
        |  SELECT CASE WHEN cnt >= 10 THEN cnt END AS bucket
        |  FROM customer
        |  LEFT JOIN (SELECT o_custkey, count(*) AS cnt
        |             FROM orders GROUP BY o_custkey) o
        |    ON c_custkey = o.o_custkey)
        |GROUP BY bucket
        |ORDER BY bucket ASC NULLS FIRST""".stripMargin,
    "q_part_stats" ->
      """SELECT p_size, count(*) AS cnt,
        |       round(sum(p_retailprice), 2) AS sum_price,
        |       round(min(p_retailprice), 2) AS min_price,
        |       round(max(p_retailprice), 2) AS max_price
        |FROM part
        |GROUP BY p_size
        |ORDER BY p_size ASC""".stripMargin
  )
}
