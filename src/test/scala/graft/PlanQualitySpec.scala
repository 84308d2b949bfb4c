package graft

/** Physical-plan regression guards: the properties that make these
  * operators scale (pushdown, pruning, broadcast, top-k, codegen) must be
  * visible in the executed plan — not assumed (SURVEY.md §4).
  */
class PlanQualitySpec extends SparkSpec {

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, sf0001).queryExecution.executedPlan.toString

  /** AQE finalizes (and annotates codegen stages in) the plan only after
    * execution — run the query, then read the final plan. */
  private def executedPlan(name: String): String = {
    val df = SparkEntry.queries(name)(spark, sf0001)
    df.collect()
    df.queryExecution.executedPlan.toString
  }

  test("scan projection prunes columns at the parquet reader") {
    val p = plan("q_scan_project")
    assert(p.contains("ReadSchema"))
    // only the 6 projected columns reach the scan — not all 11 lineitem cols
    assert(!p.contains("l_returnflag"), "unprojected column leaked into scan")
  }

  test("compound filter pushes predicates into the parquet scan") {
    val p = plan("q_filter_pred")
    assert(p.contains("PushedFilters") &&
      (p.contains("GreaterThan") || p.contains("LessThan") || p.contains("In(")),
      s"no pushed predicates in:\n$p")
  }

  test("star join broadcasts the dimension tables") {
    val p = plan("q_join_broadcast")
    assert(p.contains("BroadcastHashJoin"), s"expected broadcast join:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"))
  }

  test("theta join keeps the equi key (hash/SMJ + residual range, no cartesian)") {
    val p = plan("q_join_theta")
    assert(p.contains("BroadcastHashJoin") || p.contains("SortMergeJoin") ||
      p.contains("ShuffledHashJoin"), s"range join degenerated:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"))
  }

  test("order-by + limit plans as TakeOrderedAndProject (bounded heap)") {
    val p = plan("q_sort_limit")
    assert(p.contains("TakeOrderedAndProject"), s"global sort materialized:\n$p")
  }

  test("semi/anti joins never multiply rows") {
    assert(plan("q_join_semi").contains("LeftSemi"))
    assert(plan("q_join_anti").contains("LeftAnti"))
  }

  test("aggregations run partial+final (map-side combine before shuffle)") {
    val p = plan("q_agg_groupby")
    assert(p.contains("partial_sum") || p.contains("HashAggregate"),
      s"no partial aggregation:\n$p")
  }

  test("whole-stage codegen covers the hot paths, including vec_dot") {
    // "*(n)" prefixes mark whole-stage-codegen stages in the final plan
    assert(executedPlan("q_agg_groupby").contains("*("))
    val sim = executedPlan("q_sim_topk")
    assert(sim.contains("*("))
    assert(sim.contains("dotproduct"), "vec_dot not in the plan")
    // Spark pushed the per-group top-k below the shuffle
    assert(sim.contains("WindowGroupLimit"))
  }

  test("similarity join is blocked (broadcast of the query side, no cartesian)") {
    val p = plan("q_sim_topk")
    assert(p.contains("BroadcastHashJoin"), s"expected blocked broadcast join:\n$p")
    assert(!p.contains("CartesianProduct"))
  }

  test("embcos near-dup is bucket-blocked with a shuffle join, not a corpus broadcast") {
    val p = plan("q_dedup_embcos")
    assert(p.contains("ShuffledHashJoin") || p.contains("SortMergeJoin"),
      s"expected shuffle join on the LSH bucket key:\n$p")
    assert(!p.contains("CartesianProduct"))
    // the ONLY nested-loop allowed is the deliberate 1-row corpus-count
    // fold feeding the adaptive bucket width (crossJoin(broadcast(agg)),
    // same shape as q_tpch_q15) — the PAIR join itself must never BNL
    assert(p.sliding("BroadcastNestedLoopJoin".length)
      .count(_ == "BroadcastNestedLoopJoin") <= 2,
      s"unexpected nested-loop joins beyond the count folds:\n$p")
  }

  test("bucketed join plans with no Exchange on the join key (co-located)") {
    val p = executedPlan("q_join_bucketed")
    val joinIdx = p.indexOf("SortMergeJoin")
    assert(joinIdx >= 0, s"expected SMJ over bucketed inputs:\n$p")
    val sub = p.substring(joinIdx)
    assert(!sub.contains("Exchange hashpartitioning(o_custkey") &&
      !sub.contains("Exchange hashpartitioning(c_custkey"),
      s"bucketed join still shuffles its inputs:\n$p")
  }

  test("decontam joins the eval shingle set by broadcast (no corpus shuffle join)") {
    val p = plan("q_text_decontam")
    assert(p.contains("BroadcastHashJoin"), s"expected broadcast eval-set join:\n$p")
    assert(!p.contains("CartesianProduct"))
  }

  test("langid profile dimension broadcasts") {
    val p = plan("q_text_langid")
    assert(p.contains("BroadcastHashJoin"), s"expected broadcast profile join:\n$p")
  }

  test("embedding quantization stays narrow (no hash exchange)") {
    val p = plan("q_emb_quant")
    assert(!p.contains("Exchange hashpartitioning"),
      s"quantization is per-row; a hash shuffle crept in:\n$p")
  }

  test("sequence packing windows are sharded (no unpartitioned total order)") {
    val p = plan("q_text_pack")
    val widx = p.indexOf("Window")
    assert(widx >= 0, s"expected a window operator:\n$p")
    assert(p.substring(widx, math.min(p.length, widx + 400)).contains("shard"),
      s"pack window lost its shard partitioning:\n$p")
  }

  test("range join is bucketed (equi-join on the time bucket, no nested loop)") {
    val p = plan("q_join_range")
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin") ||
      p.contains("BroadcastHashJoin"), s"range join degenerated:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
      s"bucketed-interval rewrite lost its equi key:\n$p")
  }

  test("salient-terms top-3 pushes the rank limit below the shuffle") {
    val p = executedPlan("q_text_salient")
    assert(p.contains("WindowGroupLimit"),
      s"row_number filter not pushed into WindowGroupLimit:\n$p")
  }

  test("pagerank rounds are equi-joins with no cartesian") {
    val p = plan("q_graph_pagerank")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"))
    assert(p.contains("TakeOrderedAndProject"), s"top-20 materialized a full sort:\n$p")
  }

  test("cc adjacency round: explode over the static leaf, no cartesian, no SMJ re-sort") {
    // One ccAdjRound plan under the broadcast regime (the round-14 shape
    // q_graph_cc runs per round): the corpus-shaped work must be a
    // Generate (explode of the adjacency leaf's dst array) feeding a
    // partial-agged min — never an edge⋈edge join — and the node-sized
    // state joins must ride broadcast/hash, never a sort-merge re-sort
    // of the streamed side (the round-11 family rule).
    import spark.implicits._
    import org.apache.spark.sql.functions.{broadcast, col, collect_list}
    val e = Seq((2L, 1L), (3L, 2L), (4L, 3L), (6L, 5L)).toDF("a_pk", "b_pk")
    val adj = e.union(e.select(col("b_pk").as("a_pk"), col("a_pk").as("b_pk")))
      .groupBy(col("a_pk").as("node"))
      .agg(collect_list(col("b_pk")).as("dsts"))
    val lbl = adj.select(col("node"), col("node").as("lbl"))
    val round = operators.Graph.ccAdjRound(adj, lbl, lbl, df => broadcast(df))
    round.collect()
    val p = round.queryExecution.executedPlan.toString
    assert(p.contains("Generate"), s"neighbor-min leg lost its explode:\n$p")
    assert(p.contains("BroadcastHashJoin"), s"state joins not broadcast:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop") &&
      !p.contains("SortMergeJoin"), s"round degenerated:\n$p")
  }

  test("kcore final census is explode-shaped over the adjacency leaf (no edge-leaf joins)") {
    // The declared query's final plan embeds one full survivors() round
    // (the core-degree census) — pin the round-14 adjacency shape there.
    val p = plan("q_graph_kcore")
    assert(p.contains("Generate"), s"census lost its explode:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop") &&
      !p.contains("SortMergeJoin"), s"peel round degenerated:\n$p")
  }

  test("scrub rollup aggregates partially before the shuffle (narrow redaction map)") {
    val p = plan("q_text_scrub")
    assert(p.contains("HashAggregate"), s"no hash aggregation:\n$p")
    assert(!p.contains("Exchange hashpartitioning(doc_id"),
      s"per-doc shuffle crept into a per-source rollup:\n$p")
  }

  test("neardup candidate verification stays parallel (no single-partition collapse)") {
    val df = SparkEntry.queries("q_dedup_neardup")(spark, sf0001)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("REPARTITION_BY_NUM") || p.contains("REPARTITION_BY_COL"),
      s"pair-key repartition missing — verify stage can collapse to 1 task:\n$p")
  }

  test("tpch q3: dim broadcast + top-10 heap, no cartesian") {
    val p = plan("q_tpch_q3")
    assert(p.contains("BroadcastHashJoin"), s"customer filter not broadcast:\n$p")
    assert(p.contains("TakeOrderedAndProject"), s"top-10 materialized a full sort:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"))
  }

  test("tpch q5: six-table join rides broadcasts, facts join on the order key") {
    val p = plan("q_tpch_q5")
    assert(p.contains("BroadcastHashJoin"), s"dims not broadcast:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"))
  }

  test("tpch q18: the HAVING survivors broadcast back into the join, agg is partial+final") {
    val p = plan("q_tpch_q18")
    assert(p.contains("BroadcastHashJoin"), s"agg gate not broadcast:\n$p")
    assert(p.contains("partial_sum") || p.contains("partial"), s"no map-side combine:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"))
  }

  test("merge applies as one keyed outer join (no cartesian, no nested loop)") {
    val p = plan("q_sql_merge")
    assert(p.contains("FullOuter"), s"merge lost its outer-join core:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"))
  }

  test("kmeans centroids broadcast in both Lloyd passes; components shuffle on (cluster, idx)") {
    val p = plan("q_sim_kmeans")
    // 4-row centroid sides must never shuffle the corpus: both the assign
    // and the reassign crossJoin ride BroadcastNestedLoop on a bounded
    // broadcast (the intentional exception the embcos pin forbids for
    // unbounded sides).
    assert(p.contains("BroadcastNestedLoop"), s"centroid join not broadcast:\n$p")
    assert(!p.contains("CartesianProduct"))
    assert(p.contains("Generate"), s"component update lost its posexplode pass:\n$p")
  }

  test("lateral top-2 decorrelates (no per-row re-execution, no cartesian)") {
    val p = executedPlan("q_sql_lateral")
    assert(!p.contains("CartesianProduct"), s"lateral degenerated to cartesian:\n$p")
    assert(p.contains("WindowGroupLimit") || p.contains("Window"),
      s"correlated LIMIT did not become a ranked window:\n$p")
  }

  test("cross join is the bounded dim x dim BroadcastNestedLoop, by design") {
    val p = plan("q_join_cross")
    assert(p.contains("BroadcastNestedLoopJoin"),
      s"dim cross join should broadcast the 5-row side:\n$p")
  }

  test("gapfill grid stays calendar-sized (broadcasts, no unpartitioned window)") {
    val p = plan("q_ts_gapfill")
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastExchange"),
      s"grid join must broadcast the calendar/type side:\n$p")
    assert(!p.contains("CartesianProduct"))
  }

  test("ngram-dup is two hash aggs on the gram key — never a pair join") {
    val p = plan("q_text_ngram_dup")
    assert(p.contains("HashAggregate"), s"df count lost map-side combine:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"))
  }

  test("partitioned layout prunes directories at planning time") {
    val dir = java.nio.file.Files.createTempDirectory("graft-part").toString
    Tables.writePartitioned(
      Tables.documents(spark, sf0001), dir, "lang")
    val pruned = spark.read.parquet(dir)
      .filter(org.apache.spark.sql.functions.col("lang") === "en")
    val p = pruned.queryExecution.executedPlan.toString
    assert(p.contains("PartitionFilters") && p.contains("lang"),
      s"lang predicate did not become a partition filter:\n$p")
    // the pruned scan must read strictly fewer files than the full scan
    def files(df: org.apache.spark.sql.DataFrame): Long = {
      df.collect()
      df.queryExecution.executedPlan.collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec =>
          f.metrics("numFiles").value
      }.sum
    }
    val nAll = files(spark.read.parquet(dir))
    val nPruned = files(pruned)
    assert(nPruned > 0 && nPruned < nAll,
      s"pruned=$nPruned all=$nAll — no directory pruning happened")
    // correctness: pruning never changes the answer
    assert(pruned.count() ==
      Tables.documents(spark, sf0001)
        .filter(org.apache.spark.sql.functions.col("lang") === "en").count())
  }

  test("range-partitioned write yields non-overlapping per-file key ranges") {
    import org.apache.spark.sql.functions.{col, max => fmax, min => fmin}
    val dir = java.nio.file.Files.createTempDirectory("graft-range").toString
    Tables.writeRange(Tables.orders(spark, sf0001), dir, "o_totalprice", 4)
    // per-file [min, max] of the sort key must tile without overlap —
    // that is precisely what lets footer min/max stats prune a range
    // predicate down to one file out of N at scale.
    val files = new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.getPath)
    assert(files.length >= 3, s"expected >=3 range files, got ${files.length}")
    val ranges = files.map { f =>
      val r = spark.read.parquet(f)
        .agg(fmin(col("o_totalprice")), fmax(col("o_totalprice"))).head()
      (r.getDouble(0), r.getDouble(1))
    }.sortBy(_._1)
    for (Array(a, b) <- ranges.sliding(2).map(_.toArray))
      assert(a._2 <= b._1,
        s"file ranges overlap: ${a._2} > ${b._1} — range partitioning broken")
  }

  test("DISTRIBUTE BY / SORT BY through SQL text plan as hash exchange + local sort") {
    Tables.events(spark, sf0001).createOrReplaceTempView("events_dist")
    val df = spark.sql(
      """SELECT user_id, event_id FROM events_dist
        |DISTRIBUTE BY user_id SORT BY user_id, event_id""".stripMargin)
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("hashpartitioning(user_id"),
      s"DISTRIBUTE BY did not hash-partition:\n$p")
    // SORT BY is per-partition: a local sort, never a global range exchange
    assert(p.contains("Sort [user_id") && !p.contains("rangepartitioning"),
      s"SORT BY must stay partition-local:\n$p")
  }

  test("sparse docsim joins postings on the token key with a bounded heap") {
    val p = plan("q_text_docsim")
    assert(!p.contains("CartesianProduct"), s"posting join degenerated:\n$p")
    assert(p.contains("TakeOrderedAndProject"), s"top-20 materialized a full sort:\n$p")
  }

  test("zorder locality audit is one narrow pass + grouped agg (no window, no join)") {
    val p = plan("q_geo_zorder")
    assert(p.contains("HashAggregate"), s"block rollup lost hash agg:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("Window "),
      s"layout audit should not need a join or window:\n$p")
  }

  test("spatial join is a cell-key equi-join with haversine residual (no cartesian)") {
    val p = plan("q_join_spatial")
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin") ||
      p.contains("BroadcastHashJoin"), s"stencil join degenerated:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
      s"spatial join must never go all-pairs:\n$p")
    assert(p.contains("haversine_km"), s"native residual missing:\n$p")
  }

  test("hamming dedup computes signatures as a narrow codegen map (no vote shuffle)") {
    val p = plan("q_dedup_hamming")
    assert(p.contains("simhashsig"), s"codegen signature expression missing:\n$p")
    assert(!p.contains("CartesianProduct"), s"band join degenerated:\n$p")
    // the only explodes are the 4-band Generate on each self-join leg —
    // the shingle stream itself must NOT be exploded into a corpus-wide
    // vote aggregate (that would add a third Generate + a wide explode)
    assert("Generate ".r.findAllIn(p).size <= 2,
      s"signature stage leaked an explode:\n$p")
  }

  test("attribution is one window pass — never a purchases x clicks self-join") {
    val p = plan("q_evt_attribution")
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin") &&
      !p.contains("BroadcastHashJoin"), s"attribution re-joined the stream:\n$p")
    assert(p.contains("RunningWindowFunction") || p.contains("Window"),
      s"conditional running max lost its window:\n$p")
  }

  test("product quantization broadcasts the codebook; assignment has no corpus self-join") {
    val p = plan("q_emb_pq")
    assert(p.contains("BroadcastHashJoin"), s"codebook must broadcast:\n$p")
    assert(!p.contains("CartesianProduct"), s"PQ assignment degenerated:\n$p")
  }

  test("dau/wau rolling distinct is two hash aggregates, not a windowed set") {
    val p = plan("q_evt_dau")
    assert(p.contains("HashAggregate"), s"contribution rollup lost hash agg:\n$p")
    assert(!p.contains("collect_set"), s"rolling distinct fell back to a set window:\n$p")
  }

  test("tpch q14/q19 broadcast the part dim; q19's disjunction stays join-side residual") {
    val p14 = plan("q_tpch_q14")
    assert(p14.contains("BroadcastHashJoin"), s"q14 part dim not broadcast:\n$p14")
    assert(p14.contains("PushedFilters: [IsNotNull(l_shipdate)") ||
      p14.contains("GreaterThanOrEqual(l_shipdate"), s"q14 date gate not pushed:\n$p14")
    val p19 = plan("q_tpch_q19")
    assert(p19.contains("BroadcastHashJoin"), s"q19 part dim not broadcast:\n$p19")
    assert(!p19.contains("CartesianProduct"))
  }

  test("tpch q13's only fact-sized shuffle is the per-customer pre-aggregate") {
    val p = plan("q_tpch_q13")
    assert(p.contains("HashAggregate"))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"))
    // the outer join must not multiply: one left join, orders pre-aggregated below it
    assert("LeftOuter".r.findAllIn(p).length == 1, s"expected exactly one outer join:\n$p")
  }

  test("dupspans never forms a pair join: gram-key aggregates + one bounded window") {
    val p = plan("q_text_dupspans")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"))
    assert(p.contains("Window"), s"interval union lost its lead() window:\n$p")
  }

  test("naive abs-range join is rewritten by the optimizer rule in the declared path") {
    val df = SparkEntry.queries("q_join_range_auto")(spark, sf0001)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("BroadcastNestedLoop") && !p.contains("CartesianProduct"),
      s"rule did not fire — nested loop survived:\n$p")
    assert(p.contains("Generate"), s"bucket explode missing from rewrite:\n$p")
  }

  test("ts interp windows + generator run over the hourly aggregate, not the fact") {
    val p = plan("q_ts_interp")
    // the explode (generator) must sit ABOVE the hourly HashAggregate in
    // the plan tree: generating per-gap rows from raw events would be
    // fact-sized work
    val genAt = p.indexOf("Generate")
    val aggAt = p.lastIndexOf("HashAggregate")
    assert(genAt >= 0 && aggAt > genAt,
      s"generator not above the hourly aggregate:\n$p")
  }

  test("skyline sorts only salt partitions and candidates — never one global corpus sort") {
    val p = plan("q_part_skyline")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
      s"skyline degenerated to a pair join:\n$p")
    // stage 1's window partitions by salt (distributed); the only
    // single-partition windows run over stage-2 candidates + final order
    assert(p.contains("Window"), s"running-max windows missing:\n$p")
    assert(p.contains("salt"), s"salt partitioning missing — stage 1 is a global sort:\n$p")
  }

  test("q17/q22 broadcast their reduced dims; q22 anti-join filter pushes to the scan") {
    val p17 = plan("q_tpch_q17")
    assert(p17.contains("BroadcastHashJoin"), s"q17 brand-filtered parts not broadcast:\n$p17")
    val p22 = plan("q_tpch_q22")
    assert(p22.contains("LeftAnti"), s"q22 lost its anti join:\n$p22")
    assert(p22.contains("PushedFilters: [IsNotNull(o_orderdate), GreaterThanOrEqual(o_orderdate") ||
      p22.contains("GreaterThanOrEqual(o_orderdate"),
      s"q22 recency gate not pushed to the orders scan:\n$p22")
  }

  test("dq audit shares scans: same-table rules fold into single-pass conditional aggs") {
    val p = plan("q_dq_audit")
    assert(!p.contains("CartesianProduct"))
    // 7 rules plan as a BOUNDED number of column-pruned scans (threshold
    // rules share one conditional-agg pass; fk n_checked counts are
    // column-less footer scans) — the guard is that adding a rule to an
    // existing family must not add a data pass, so the count stays fixed
    // even as same-table rules accumulate
    val scans = "Scan parquet".r.findAllIn(p).length
    assert(scans <= 11, s"per-rule rescans detected ($scans scans):\n$p")
  }

  test("profile cols is one scan: multi-distinct expands inside a single aggregate") {
    val p = plan("q_profile_cols")
    val scans = "Scan parquet".r.findAllIn(p).length
    assert(scans == 1, s"profiler rescans the table ($scans scans):\n$p")
    assert(p.contains("Expand") || p.contains("HashAggregate"),
      s"multi-distinct did not plan as expand+agg:\n$p")
  }

  test("weighted sampling is a narrow map: no shuffle before the audit aggregate") {
    val p = plan("q_sample_weighted")
    // exactly the aggregation exchange + the output-order range exchange
    val exchanges = "Exchange".r.findAllIn(p).length
    assert(exchanges <= 3, s"PPS tagging introduced extra shuffles:\n$p")
    assert(!p.contains("Join"), s"sampler must not join:\n$p")
  }

  test("bloom audit broadcasts the word table; probe stream never cartesians") {
    val p = plan("q_join_bloom")
    assert(p.contains("BroadcastHashJoin"), s"word table not broadcast:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"))
  }

  test("pq search broadcasts centroids and the query LUT — codes never shuffle wide") {
    val p = plan("q_sim_pq_search")
    assert(p.contains("BroadcastHashJoin"), s"LUT not broadcast:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"))
  }

  test("knn graph joins label-blocked via shuffle hash — no unbounded broadcast side") {
    val p = plan("q_sim_knn_graph")
    assert(p.contains("ShuffledHashJoin"), s"label self-join lost its hint:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"))
  }

  test("lsh sweep counts candidates from bucket sizes: no self-join anywhere") {
    val p = plan("q_dedup_lsh_sweep")
    assert(!p.contains("Join"), s"sweep must not materialize pairs:\n$p")
  }

  test("incremental dedup joins delta buckets to corpus buckets — never a cartesian or corpus broadcast") {
    val p = plan("q_dedup_incr")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
      s"delta dedup must stay an equi-join on (band, bucket):\n$p")
  }

  test("bcOrHash broadcasts under the dim budget and shuffle-hash-joins above it") {
    import graft.operators.Hints
    // The round-10 dimension-broadcast guard: under DimMaxBroadcastRows
    // the dim broadcasts exactly as before; above it the join must
    // degrade to ShuffledHashJoin (dim as hash build — sort-free fact
    // probe), NEVER to a bare SortMergeJoin and never stay a broadcast.
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val prev = spark.conf.get(key)
    try {
      spark.conf.set(key, "-1")
      val fact = spark.range(1000).toDF("id")
      val dim = spark.range(100).toDF("id").localCheckpoint(true)
      val under = fact.join(Hints.bcOrHash(dim, rows = 100), "id")
      assert(under.queryExecution.sparkPlan.toString.contains("BroadcastHashJoin"),
        s"under-budget dim lost its broadcast:\n${under.queryExecution.sparkPlan}")
      val over = fact.join(Hints.bcOrHash(dim, rows = 100, maxRows = 99), "id")
      val p = over.queryExecution.sparkPlan.toString
      assert(!p.contains("BroadcastHashJoin") && !p.contains("BroadcastExchange"),
        s"over-budget dim must not broadcast:\n$p")
      assert(p.contains("ShuffledHashJoin"),
        s"over-budget dim should hash-build, not sort:\n$p")
      assert(under.collect().map(_.getLong(0)).sorted.toSeq ==
        over.collect().map(_.getLong(0)).sorted.toSeq)
    } finally spark.conf.set(key, prev)
  }

  test("link-prediction degree broadcasts are bound-guarded: hint drops above the budget, results unchanged") {
    // Round-9 verdict item 1: the three link-prediction queries hinted
    // their probe-slice degree tables broadcast UNCONDITIONALLY — the
    // round-7 PageRank OOM class (data-derived build side, no size
    // guard). They now ride Hints.bcOrHash with a footer-derived
    // bound; this pin drives the maxBc escape hatch to 0 and asserts
    // (a) the guarded plan broadcasts NOTHING once the budget is
    // exceeded — the exact degradation a 10⁹-customer corpus needs —
    // and (b) both variants return identical rows.
    import graft.operators.{Graph, Hints}
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val prev = spark.conf.get(key)
    try {
      spark.conf.set(key, "-1") // isolate the hint from stats-driven broadcast
      for ((label, q) <- Seq[(String, Long => org.apache.spark.sql.DataFrame)](
          ("common", bc => Graph.graphCommon(spark, sf0001, bc)),
          ("adamic", bc => Graph.graphAdamic(spark, sf0001, bc)),
          ("nbr_jaccard", bc => Graph.graphNbrJaccard(spark, sf0001, bc)))) {
        val hinted = q(Hints.MaxBroadcastRows)
        val ph = hinted.queryExecution.sparkPlan.toString
        assert(ph.contains("BroadcastHashJoin"),
          s"$label: under-budget degree table lost its broadcast:\n$ph")
        val guarded = q(0L)
        val pg = guarded.queryExecution.sparkPlan.toString
        // adamic's aa-weight table rides withLgMicro, whose CONSTANT
        // 128-row ln-table broadcast is bounded by construction and must
        // survive; only the degree/weight joins (keyed sk / a_ck / b_ck)
        // must degrade to shuffles above the budget.
        val degBc = "BroadcastHashJoin \\[(?:sk|a_ck|b_ck)#".r
        assert(degBc.findFirstIn(pg).isEmpty,
          s"$label: over-budget degree table must shuffle-join:\n$pg")
        // Round 11: above the budget the degrade is a shuffled-HASH
        // build on the degree side (Hints.bcOrHash), never a bare SMJ
        // that re-sorts the wedge-pair stream.
        assert(pg.contains("ShuffledHashJoin"),
          s"$label: over-budget degrade must be shuffled-hash, not SMJ:\n$pg")
        assert(hinted.collect().toSeq == guarded.collect().toSeq,
          s"$label: guarded variant diverged")
      }
    } finally spark.conf.set(key, prev)
  }

  test("basket-lift item-support broadcasts are bound-guarded: shuffle-hash above the budget, results unchanged") {
    // Round-10 full-surface 100× sweep finding: the one super-linear row
    // (16.2× cost for 10× more data) was basketLift's unconditional
    // DOUBLE broadcast of the item-support table — one row per distinct
    // ordered part, i.e. bounded by the part DIMENSION, which grows with
    // the corpus (2M rows at 100×). Same class as the link-prediction
    // guard above; this pin drives maxBc to 0 and asserts the supp joins
    // degrade to shuffled-hash (never a part-dimension broadcast) while
    // the 1-row n_orders fold keeps its nested-loop broadcast, with
    // identical rows both ways.
    import graft.operators.{Analytics, Hints}
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val prev = spark.conf.get(key)
    try {
      spark.conf.set(key, "-1")
      val hinted = Analytics.basketLift(spark, sf0001, Hints.MaxBroadcastRows)
      val ph = hinted.queryExecution.sparkPlan.toString
      assert(ph.contains("BroadcastHashJoin"),
        s"under-budget supp table lost its broadcast:\n$ph")
      val guarded = Analytics.basketLift(spark, sf0001, 0L)
      val pg = guarded.queryExecution.sparkPlan.toString
      assert(!pg.contains("BroadcastHashJoin"),
        s"over-budget supp table must not broadcast-hash-join:\n$pg")
      assert(pg.contains("ShuffledHashJoin"),
        s"over-budget supp join should hash-build, not sort, the bounded side:\n$pg")
      assert(hinted.collect().toSeq == guarded.collect().toSeq,
        "guarded basket-lift variant diverged")
    } finally spark.conf.set(key, prev)
  }

  test("clusterLabels shuffle variant (hint threshold 0) matches the broadcast variant") {
    import spark.implicits._
    // two clique-like clusters plus a diameter-3 chain (1-2-3-4) that
    // forces the convergence-extension rounds through the shuffled path too
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L),
      (20L, 21L), (21L, 22L)).toDF("a_id", "b_id")
    def run(maxBc: Long) =
      graft.operators.Dedup.clusterLabels(pairs, maxBroadcastRows = maxBc)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val bc = run(graft.operators.Hints.MaxBroadcastRows)
    val sh = run(0L)
    assert(bc == sh, "shuffled label propagation diverged from broadcast variant")
    assert(sh == Set((1L, 1L), (2L, 1L), (3L, 1L), (4L, 1L),
      (10L, 10L), (11L, 10L), (20L, 20L), (21L, 20L), (22L, 20L)))
  }

  test("integer HLL aggregates registers map-side; sketch broadcast, no cartesian blowup") {
    val p = executedPlan("q_approx_hll_int")
    // registers must combine BEFORE the shuffle (partial max per
    // (event_type, bucket)) — the property that keeps user ids from
    // crossing the wire at corpus scale
    assert(p.contains("partial_max"), "register max agg is not partial+final")
    assert(!p.contains("CartesianProduct"), "unexpected cartesian in HLL plan")
    // column pruning must reach the scan: the query touches only
    // (event_type, user_id), so the wide event columns stay unread
    assert(!p.contains("props") && !p.contains("value"),
      "scan reads columns the HLL never uses")
  }

  test("histogram quartiles window over bins, cutoffs broadcast, no row-level total order") {
    val p = executedPlan("q_win_ntile_hist")
    // The one Window in this plan runs over the bin HISTOGRAM (fed by a
    // hash aggregate), never the raw customer rows — the difference
    // between a bounded single partition and an unscalable total order.
    assert(p.contains("Window"), "expected a window over the bin histogram")
    assert(p.contains("partial_count") || p.contains("partial_sum"),
      "histogram agg is not partial+final")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      "quartile cutoffs should broadcast to the assignment stage")
    assert(!p.contains("CartesianProduct"), "unexpected cartesian in ntile-hist plan")
  }

  test("two-pass exact ntile: range exchange, pid-partitioned row window, no built-in ntile") {
    val p = executedPlan("q_win_ntile_exact2")
    // The raw-row stage must be a RANGE exchange (non-overlapping sorted
    // partitions) with rank computed per range partition — never the
    // single-task total order built-in ntile needs.
    assert(p.contains("rangepartitioning("),
      "expected repartitionByRange exchange feeding the rank stage")
    assert(p.matches("(?s).*row_number\\(\\) windowspecdefinition\\(pid.*"),
      "row_number must run inside a window PARTITIONED by the range-partition id")
    assert(!p.contains("ntile("),
      "built-in ntile implies the unpartitioned total-order window")
    // Offsets/total/first-row ride along as broadcasts to the assignment
    assert(p.contains("BroadcastExchange") || p.contains("BroadcastNestedLoopJoin"),
      "rank offsets should broadcast to the assignment stage")
  }

  test("TPC-H completion set: dims broadcast, correlations stay semi/anti, no stray cartesians") {
    // Q1: single-pass partial agg over lineitem, no join at all.
    val p1 = plan("q_tpch_q1")
    assert(p1.contains("HashAggregate") && !p1.contains("Join"), s"q1:\n$p1")
    // Q2: part/supplier dims broadcast; the per-part min is a window keyed
    // on the part key, never a global sort before the top-100.
    val p2 = plan("q_tpch_q2")
    assert(p2.contains("BroadcastHashJoin") && p2.contains("Window"))
    assert(!p2.contains("CartesianProduct") && !p2.contains("BroadcastNestedLoop"))
    // Q4: EXISTS compiles to one LeftSemi on the order key.
    val p4 = plan("q_tpch_q4")
    assert(p4.contains("LeftSemi") && !p4.contains("CartesianProduct"))
    // Q9/Q16/Q20: filtered part + supplier sides broadcast.
    Seq("q_tpch_q9", "q_tpch_q16", "q_tpch_q20").foreach { q =>
      val p = plan(q)
      assert(p.contains("BroadcastHashJoin"), s"$q lost its broadcasts:\n$p")
      assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
        s"$q grew a cartesian:\n$p")
    }
    // Q11: the only nested-loop is the deliberate 1-row total fold
    // (crossJoin(broadcast(agg)) — same shape as q_tpch_q15).
    val p11 = plan("q_tpch_q11")
    assert(p11.contains("LeftSemi") && !p11.contains("CartesianProduct"))
    // Q21: both correlations survive as LeftSemi + LeftAnti equi joins.
    val p21 = plan("q_tpch_q21")
    assert(p21.contains("LeftSemi") && p21.contains("LeftAnti"), s"q21:\n$p21")
    assert(!p21.contains("CartesianProduct") && !p21.contains("BroadcastNestedLoop"))
  }

  test("query construction is lazy outside the declared layout/iterative set") {
    // A construction-time action (collect/head/first inside fn before the
    // caller acts) is a hidden driver barrier that serializes plan
    // building at cluster scale; scalar plan parameters must ride along
    // as 1-row broadcasts instead (crossJoin(broadcast(agg)) — see
    // q_approx_cms / q_text_colloc). Two families are legitimately eager
    // and exempt:
    //  - storage-layout queries, which materialize the bucketed/
    //    partitioned/range layout they demonstrate at build time;
    //  - iterative fixed-point operators, whose driver loop (checkpointed
    //    rounds + data-dependent convergence checks) IS the operator —
    //    the bench times fn() itself, so their work is still attributed.
    val exempt = Set(
      // layout: materialize the storage layout they demonstrate
      "q_join_bucketed", "q_src_partitioned", "q_src_lattice",
      "q_src_zorder",
      // stored-state ingest: first touch of a corpus version writes the
      // persisted signature/index artifact (the one-time ingest job);
      // later constructions reuse it via the fingerprint check
      "q_dedup_incr_stored", "q_sim_ivf_stored", "q_sim_ann_ingest",
      // iterative fixed-point: checkpointed rounds + data-dependent
      // convergence checks run inside fn by construction
      "q_dedup_clusters", "q_dedup_repr", "q_dedup_split", "q_geo_dbscan",
      "q_graph_bfs", "q_graph_pagerank", "q_graph_kcore", "q_graph_cc",
      // power iteration: the unrolled rounds reference the checkpointed
      // Gram-matrix leaf twice per round, so the (lazy) checkpoint is
      // load-bearing — and AQE materializes its shuffle stage at
      // construction, same family as the loops above (q_emb_project
      // embeds the same power iteration to derive its loadings)
      "q_emb_pca_power", "q_emb_project",
      // shared supported-pairs memo leaf (round 15): on a memo miss the
      // construction eagerly checkpoints the support-≥2 survivor set
      // (q_basket_lift consumes it; cc/kcore are already exempt as
      // iterative). Budget pinned in the next test.
      "q_basket_lift",
      // round 15: the vocabulary-sized (lang, token) count-table leaf is
      // checkpointed once and its materializing count supplies the exact
      // row bound that gates the model join broadcast (the clusterLabels
      // memberBound pattern — the old shape re-derived the leaf 4× from
      // the corpus-scale token stream and fell to SMJ). Budget pinned in
      // the next test.
      "q_ml_naivebayes",
      // round 16 (VERDICT r15 item 1): the LM vocab count leaves are the
      // same pattern — their materializing counts ARE the broadcast
      // gate for the scored-stream joins (Text.lmVocabLeaves). Memoized,
      // so only the first construction per session/fixture pays; budget
      // pinned in the next test (ppl_bucket pinned at the memo-hit 0).
      "q_text_lm_ppl", "q_text_ppl_bucket")
    val sentinels = new java.util.concurrent.atomic.AtomicInteger(0)
    val others = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        if (js.properties != null &&
            "graft-lazy-sentinel" == js.properties.getProperty("spark.jobGroup.id"))
          sentinels.incrementAndGet()
        else others.incrementAndGet()
        ()
      }
    }
    val sc = spark.sparkContext
    // Pre-warm the per-path schema memo: the FIRST reference to a table
    // pays its one inference job by design; the laziness contract covers
    // every construction after that.
    Tables.all.foreach(t => Tables(spark, sf0001, t).schema)
    // Same first-touch rule for the jsonl/csv ingest surfaces: their
    // fingerprint-keyed layout copy writes at FIRST construction (one
    // job, idempotent marker after). Warm the markers here so this test
    // pins the steady state instead of inheriting whatever /tmp state
    // and suite order the run happened to get (a fresh /tmp with this
    // suite ordered before SrcFormatsSpec measured their one-time write
    // as a construction job — an order-dependent flake, round 12).
    Seq("q_src_jsonl", "q_src_csv").foreach(n => SparkEntry.queries(n)(spark, sf0001))
    sc.addSparkListener(listener)
    try {
      val offenders = scala.collection.mutable.LinkedHashMap[String, Int]()
      for ((n, fn) <- SparkEntry.queries.toSeq.sortBy(_._1) if !exempt(n)) {
        val before = others.get()
        fn(spark, sf0001)
        // Sentinel job in a marked group: the listener bus is FIFO, so
        // once the sentinel's start event is observed, every job the
        // construction posted before it has been observed too.
        val sBefore = sentinels.get()
        sc.setJobGroup("graft-lazy-sentinel", "flush")
        try sc.parallelize(Seq(1)).count() finally sc.clearJobGroup()
        val deadline = System.currentTimeMillis + 30000
        while (sentinels.get() <= sBefore && System.currentTimeMillis < deadline)
          Thread.sleep(10)
        val delta = others.get() - before
        if (delta > 0) offenders(n) = delta
      }
      assert(offenders.isEmpty,
        s"construction-time Spark jobs (query -> n_jobs): $offenders")
    } finally sc.removeSparkListener(listener)
  }

  test("iterative family: construction job budget pinned, repr reuses the label leaf") {
    // The iterative exemptions above are not a blank check: this pins the
    // construction-time job budget of each exempted iterative query so a
    // regression (an extra eager checkpoint, an unfolded bound count)
    // fails loudly. The lazy-checkpoint fold (materialize-on-first-count)
    // and the shared label memo are what these numbers certify:
    //  - q_dedup_repr constructed AFTER q_dedup_clusters must post ZERO
    //    jobs — it consumes the memoized checkpointed label leaf;
    //  - the others pay only their declared bound-count + checkpoint
    //    rounds (AQE splits one action into a few stage jobs, so the pin
    //    is an upper bound measured on the converged fixture).
    // An empty leaf registry first, so the first consumer of each shared
    // leaf pays its build here whatever other suites left behind.
    operators.Hints.evictAllMemos()
    val sc = spark.sparkContext
    Tables.all.foreach(t => Tables(spark, sf0001, t).schema)
    val counter = new java.util.concurrent.atomic.AtomicInteger(0)
    val sentinels = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        if (js.properties != null &&
            "graft-lazy-sentinel" == js.properties.getProperty("spark.jobGroup.id"))
          sentinels.incrementAndGet()
        else counter.incrementAndGet()
        ()
      }
    }
    def jobsDuring(thunk: => Unit): Int = {
      val before = counter.get()
      thunk
      val sBefore = sentinels.get()
      sc.setJobGroup("graft-lazy-sentinel", "flush")
      try sc.parallelize(Seq(1)).count() finally sc.clearJobGroup()
      val deadline = System.currentTimeMillis + 30000
      while (sentinels.get() <= sBefore && System.currentTimeMillis < deadline)
        Thread.sleep(10)
      counter.get() - before
    }
    sc.addSparkListener(listener)
    try {
      val budgets = Seq(
        // (query, construction job budget measured on the sf0.001 fixture
        // at local[4] after the lazy-checkpoint folds — AQE stage jobs
        // included, so these are the real scheduling-round counts)
        // round 9: large-star/small-star contraction spends a few more
        // toy-scale scheduling rounds than the old 2-round label
        // propagation (each contraction round is its own checkpoint
        // barrier + convergence probe) in exchange for O(log n) round
        // complexity at scale — measured 31 on the converged fixture.
        "q_dedup_clusters" -> 34,
        "q_dedup_repr"     -> 0,  // memo hit: zero pipeline re-run
        "q_graph_pagerank" -> 6,
        "q_graph_bfs"      -> 15,
        // round 14 adjacency ports: eager edge leaf + adj-count fold +
        // one materializing action per round (cc: changed-count agg;
        // kcore: alive count — sf0.001's support graph is its own
        // 2-core, so kcore converges on the free size(dsts) round)
        "q_graph_cc"       -> 36,
        "q_graph_kcore"    -> 13,
        // round 15 shared supported-pairs leaf: the first of cc/kcore/
        // lift builds it at construction (eager checkpoint of the
        // support-≥2 survivor set — cc/kcore budgets above carry +3
        // headroom vs r14 for that build); the others read it
        "q_basket_lift"    -> 6,
        // round 15: one lazily-checkpointed count-table leaf whose
        // materializing count doubles as the broadcast bound (AQE
        // splits the spread→explode→agg action into stage jobs;
        // measured 4 on the fixture)
        "q_ml_naivebayes"  -> 5,
        // round 16: two lazily-checkpointed LM vocab leaves, one
        // materializing bound count each (+ AQE stage jobs — the bi
        // leaf's build joins the uni leaf, so its count spans several
        // scheduling rounds; measured 11 on the fixture); memoized, so
        // ppl_bucket constructed after lm_ppl must post ZERO jobs —
        // the memo-hit pin is the regression alarm for the shared build
        "q_text_lm_ppl"    -> 12,
        "q_text_ppl_bucket" -> 0)
      val measured = budgets.map { case (n, budget) =>
        val jobs = jobsDuring { SparkEntry.queries(n)(spark, sf0001); () }
        (n, jobs, budget)
      }
      val over = measured.filter { case (_, jobs, budget) => jobs > budget }
      assert(over.isEmpty,
        "construction job budget exceeded (query, jobs, budget): " +
          over.mkString(", ") + s"; all measured: $measured")
    } finally sc.removeSparkListener(listener)
  }

  test("supported-pairs leaf is memo-shared by cc, kcore and lift") {
    import graft.operators.Analytics
    // memo hit: repeated derivations return the SAME checkpointed leaf
    val a = Analytics.supportedPairs(spark, sf0001)
    val b = Analytics.supportedPairs(spark, sf0001)
    assert(a eq b, "supportedPairs must be a memo hit on the second call")
    // the consumer's pair side reads the checkpointed leaf (lift's
    // item-supp leg still scans the fact table by design)
    val p = SparkEntry.queries("q_basket_lift")(spark, sf0001)
      .queryExecution.executedPlan.toString
    assert(p.contains("ExistingRDD"),
      s"q_basket_lift must read the checkpointed supported-pairs leaf:\n$p")
    // cc and kcore read the same leaf and leave it in place
    Seq("q_graph_cc", "q_graph_kcore").foreach { n =>
      SparkEntry.queries(n)(spark, sf0001).count()
      assert(Analytics.supportedPairs(spark, sf0001) eq a,
        s"$n must read the memoized leaf, not install another")
    }
  }
}
