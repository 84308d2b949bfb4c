package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Graph analytics as pure join/agg algebra: PageRank over the bipartite
  * customer↔supplier trade graph (edge = "customer ordered from this
  * supplier at least once", both directions).
  *
  * Determinism: ranks are INTEGER micro-units (1.0 ≡ 1,000,000), damping
  * 0.85 applied as `(850 * Σ) div 1000`, contributions as `rank div deg` —
  * every step is exact long arithmetic with order-independent sums, so the
  * result hash-matches a SQL oracle (a floating-point PageRank could not:
  * shuffle merge order perturbs double sums). The dropped remainders are
  * the same on both engines by construction.
  *
  * Scale shape: the edge list is derived once (fact⋈fact join, distinct)
  * and eagerly checkpointed ([[Hints.checkpoint]] — executor-local by
  * default, reliable against a configured dir for cluster fault
  * tolerance) — each of the 2 power-iteration rounds is
  * then one equi-join (edges ⋈ rank state on src, a shuffle partitioned by
  * node id) plus one grouped sum — the standard distributed PageRank
  * round. Rounds are FIXED (2) so the declared output is a deterministic
  * snapshot, not a convergence race; plan growth is linear in rounds
  * because the joined state is re-derived from the checkpointed leaf.
  */
object Graph {

  /** Symmetrized ADJACENCY leaf of the bipartite customer↔supplier
    * trade graph, built in ONE pass (round 14): the fact⋈fact join's
    * (c, s) rows emit both directed edges through a narrow 2-element
    * generator, and the groupBy's collect_set folds the old separate
    * DISTINCT into the same shuffle's set-dedup. The rounds-1–13 shape
    * (eager 120M-row distinct edge checkpoint `e0`, then
    * union-of-swap → groupBy collect_list) paid one extra corpus-scale
    * shuffle (the distinct) plus writing AND re-reading a 120M-row
    * serialized cache whose only consumer was the adjacency groupBy —
    * with the distinct folded in, the cache has no second reader and
    * both costs vanish. collect_set order is nondeterministic, but
    * every consumer is order-free (size(dsts), explode→sum). Measured
    * same-session solo A/B at 100× (BASELINE.md round 14): pagerank
    * 70.4 → 41.7 s, bfs 61.2 → 25.7 s warm best — both all-time
    * records for this host. LAZY: the caller's
    * node-bound count is the first action, so one job materializes the
    * leaf and measures it. */
  private def tradeAdjacency(s: SparkSession, d: String): DataFrame =
    Hints.checkpoint(
      Tables.lineitem(s, d).select(col("l_orderkey"), col("l_suppkey"))
        .join(Tables.orders(s, d).select(col("o_orderkey"), col("o_custkey")),
          col("l_orderkey") === col("o_orderkey"))
        .select(concat(lit("c"), col("o_custkey")).as("cn"),
          concat(lit("s"), col("l_suppkey")).as("sn"))
        .select(explode(expr(
          "array(struct(cn AS src, sn AS dst), struct(sn AS src, cn AS dst))"))
          .as("e"))
        .groupBy(col("e.src").as("node"))
        .agg(collect_set(col("e.dst")).as("dsts")),
      eager = false)

  /** Degree cap for one adjacency row (round 15, VERDICT r14 item 5 —
    * the hub guard). The collect_set/collect_list leaves emit ONE row
    * per node; on the driver fixtures degree is bounded (q_graph_degree
    * max_deg measures it), but at true 100-TB scale a power-law hub
    * makes a single unbounded row — a 100M-neighbor hub is an ~800 MB
    * aggregation-buffer state and shuffle row that no task memory
    * survives. 2²¹ entries ≈ 16 MB of longs (strings ~2-3×) keeps the
    * worst single row an order of magnitude under the 128 MB partition
    * budget while never firing on any driver fixture (100× max_deg is
    * ~10³). Above the cap the leaf is rebuilt DEGREE-CAPPED: each
    * node's dsts hash-split into ceil(maxDeg/[[HubSegWidth]]) segments
    * (one row per non-empty (node, segment)); every consumer's
    * contribution algebra is segment-associative (pagerank's sum — each
    * dst lives in exactly one segment of its src, so per-dst sums are
    * disjoint unions; bfs/cc's min; kcore's count), so rounds run
    * UNCHANGED over the segmented leaf and only total-degree reads
    * (deg column) come from the node-sized degree table instead of
    * size(dsts). HubGuardSpec pins force-segmented ≡ unsegmented
    * output equality for all four iterative queries (integer algebra —
    * exact, not approximate). */
  private[graft] val HubDegCap = 1 << 21
  /** Target entries per segment row after a hub split: 2¹⁶ ≈ 512 KB of
    * longs per row — small enough that post-split skew is task-grain,
    * large enough that a split leaf stays ~node-sized, not edge-sized. */
  private[graft] val HubSegWidth = 1 << 16

  /** Materializes a lazily-checkpointed `(node, dsts)` leaf with ONE
    * job that also measures (rowCount, maxDeg) — the max-degree probe
    * rides the same action that previously was a bare count, so the
    * guard is free in the un-hubbed case. Returns
    * `(adj(node, dsts, deg), nodes(node, deg), nodeBound)`; above the
    * cap, adj is the degree-capped segmented rebuild (built FROM the
    * materialized leaf — no second corpus shuffle) and `deg`/`nodes`
    * read the node-sized degree table. */
  private[graft] def hubGuard(raw: DataFrame, cap: Int = HubDegCap,
      width: Int = HubSegWidth,
      maxBc: Long = Hints.MaxBroadcastRows): (DataFrame, DataFrame, Long) = {
    val st = raw.agg(count(lit(1)).as("n"),
      max(size(col("dsts"))).as("md")).head()
    val rows = st.getLong(0)
    val maxDeg = if (st.isNullAt(1)) 0 else st.getInt(1)
    if (maxDeg <= cap) {
      val deg = size(col("dsts")).cast("long")
      (raw.withColumn("deg", deg), raw.select(col("node"), deg.as("deg")),
        rows)
    } else {
      val nSegs = (maxDeg.toLong + width - 1) / width
      val seg = Hints.checkpoint(
        raw.select(col("node"), explode(col("dsts")).as("dst"))
          .groupBy(col("node"),
            pmod(xxhash64(col("dst")), lit(nSegs)).as("sg"))
          .agg(collect_list(col("dst")).as("dsts")),
        eager = true)
      val nodes = Hints.checkpoint(
        seg.groupBy(col("node")).agg(sum(size(col("dsts"))).as("deg")),
        eager = false)
      val nodeBound = nodes.count()
      val adj = seg.join(Hints.bcOrHash(nodes, nodeBound, maxBc), "node")
        .select(col("node"), col("dsts"), col("deg"))
      (adj, nodes, nodeBound)
    }
  }

  /** (node, pr_micro, deg) after `rounds` iterations; node ids are
    * 'c<custkey>' / 's<suppkey>' strings so both halves share one rank
    * column. (ADVICE r14: doc block moved here from above
    * [[tradeAdjacency]], where the round-14 leaf extraction had left it
    * dangling on the wrong symbol.) */
  def pagerank(s: SparkSession, d: String, rounds: Int = 2,
      maxBc: Long = Hints.MaxBroadcastRows,
      hubCap: Int = HubDegCap): DataFrame = {
    // Round-10 locality A/B (all measured same-session on the 100×
    // replica, 24g): pre-partitioning the symmetrized EDGE LIST by src
    // and checkpointing THAT — so each round's join reuses the
    // LogicalRDD's recorded partitioning exchange-free — LOST both ways
    // (135.6 s with SMJ rounds, 136.8 s with shuffled-hash rounds, vs
    // 95.0 s baseline): the extra 120M-row construction shuffle plus
    // caching the DOUBLED list costs more than the per-round exchanges
    // it saves. Round 13 hit the same per-round-exchange target with
    // the ADJACENCY-LIST leaf — one node-sized row per src with its dst
    // array, deg = size(dsts) free, each round ONE node⋈node join (adj
    // partitioned by node from its construction shuffle — only the rank
    // state moves) + a narrow explode + the partial-agged contribution
    // shuffle; edge-shape best rep 136.1 s → 59.7 s (2.3×) at 100×,
    // bfs 102.0 → 45.2 s. Round 14 then removed the remaining
    // construction waste — see [[tradeAdjacency]].
    // Node state is node-count-sized and the checkpointed leaf carries no
    // size statistics; the measured node count (the job that also
    // finalizes adj — and, round 15, measures the hub guard's max
    // degree in the same action) decides broadcast-vs-shuffle for every
    // round's state join. Under the threshold this avoids the planner
    // shuffle-joining a 16k-row state table per round; above it each
    // round degrades to a SHUFFLE_HASH build on the node-sized rank
    // side (never SMJ — the round-10/11 family rule: an SMJ fallback
    // re-sorts the streamed side for no reason), algebra unchanged.
    val (adj, nodes, nodeBound) = hubGuard(tradeAdjacency(s, d), hubCap)
    def hint(df: DataFrame): DataFrame =
      if (nodeBound <= maxBc) broadcast(df) else df.hint("SHUFFLE_HASH")
    var rank = nodes.select(col("node"), lit(1000000L).as("pr"))
    for (_ <- 1 to rounds) {
      // `deg` is size(dsts) on the un-hubbed leaf and the node total on
      // a segmented one; each dst lives in exactly ONE segment of its
      // src, so the per-dst contribution sums are disjoint unions —
      // integer-identical either way.
      rank = adj.join(hint(rank), "node")
        .select(expr("pr div deg").as("contrib"),
          explode(col("dsts")).as("dst"))
        .groupBy(col("dst"))
        .agg(sum(col("contrib")).as("in_sum"))
        .select(col("dst").as("node"),
          (lit(150000L) + expr("(850 * in_sum) div 1000")).as("pr"))
    }
    rank.join(hint(nodes), "node")
      .select(col("node"), col("pr"), col("deg"))
  }

  /** Declared surface: top-20 nodes by rank (total order: pr desc, node
    * asc — ties resolve identically on both engines). */
  def graphPagerank(s: SparkSession, d: String): DataFrame =
    pagerank(s, d)
      .orderBy(col("pr").desc, col("node").asc)
      .limit(20)

  /** Triangle counting over the nation-level trade graph (nations are
    * adjacent when any order links a customer of one to a supplier of
    * the other). The motif join is the textbook oriented enumeration —
    * edges kept as u<v and chained u<v<w, so each triangle is generated
    * exactly once and the quadratic/3-way blowup the naive undirected
    * join suffers never appears. The fact-scale stage is only the edge
    * DERIVATION (fact⋈fact, distinct to dim²-bounded pairs); the
    * enumeration itself runs on the dim-sized edge list. Per-node
    * triangle membership + degree = the clustering-coefficient inputs. */
  def graphTriangles(s: SparkSession, d: String): DataFrame = {
    val pairs = Tables.lineitem(s, d)
      .select(col("l_orderkey"), col("l_suppkey"))
      .join(Tables.orders(s, d).select(col("o_orderkey"), col("o_custkey")),
        col("l_orderkey") === col("o_orderkey"))
      .join(Tables.supplier(s, d).select(col("s_suppkey"),
        col("s_nationkey").as("sn")), col("l_suppkey") === col("s_suppkey"))
      .join(Tables.customer(s, d).select(col("c_custkey"),
        col("c_nationkey").as("cn")), col("o_custkey") === col("c_custkey"))
      .select(least(col("cn"), col("sn")).as("u"),
        greatest(col("cn"), col("sn")).as("v"))
      .filter(col("u") < col("v"))
      .distinct()
    val e1 = pairs.select(col("u").as("a"), col("v").as("b"))
    val e2 = pairs.select(col("u").as("b2"), col("v").as("c"))
    val e3 = pairs.select(col("u").as("a3"), col("v").as("c3"))
    val tris = e1
      .join(e2, col("b") === col("b2"))
      .join(e3, col("a") === col("a3") && col("c") === col("c3"))
      .select(col("a"), col("b"), col("c"))
    val deg = pairs.select(col("u").as("n")).union(pairs.select(col("v")))
      .groupBy(col("n")).agg(count(lit(1)).as("deg"))
    val perNode = tris.select(col("a").as("n"))
      .union(tris.select(col("b")))
      .union(tris.select(col("c")))
      .groupBy(col("n")).agg(count(lit(1)).as("n_tris"))
    deg.join(perNode, Seq("n"), "left")
      .select(col("n").cast("long").as("nationkey"), col("deg"),
        coalesce(col("n_tris"), lit(0L)).as("n_tris"))
      .orderBy(col("nationkey").asc)
  }

  /** BFS reach from one node over the bipartite trade graph: hop-level
    * histogram (hop → node count) for 3 fixed levels. Each level is one
    * equi-join of the checkpointed ADJACENCY leaf against the frontier
    * plus an anti-join against the visited set — the standard
    * distributed BFS round. Frontier/visited are node-count-sized and broadcast only while
    * a measured node bound stays under [[Hints.MaxBroadcastRows]] (same
    * statistics cliff as pagerank's rank state); past it both joins
    * degrade to shuffles automatically, algebra unchanged. Levels are
    * FIXED so the declared output is a deterministic snapshot; the hop-3
    * frontier is whatever the third expansion reaches, converged or not
    * (the oracle unrolls the same 3 levels). */
  def graphBfs(s: SparkSession, d: String, maxHop: Int = 3,
      hubCap: Int = HubDegCap): DataFrame = {
    import s.implicits._
    // Round-13 adjacency layout (same rework as [[pagerank]] — see the
    // A/B discussion there): each level was an equi-join of the 120M-row
    // edge list against the frontier, and above the broadcast budget the
    // SHUFFLE_HASH fallback (round 11: 76.5 → 41.5 s at 100× vs the SMJ
    // re-sort) still re-SHUFFLED the full edge side at every level. The
    // node-sized adjacency leaf is partitioned by node from its
    // construction shuffle, so a level is now frontier-exchange + narrow
    // explode — the corpus-sized side never moves again. Round 14 folds
    // the edge distinct + eager 120M-row cache into the leaf's one
    // groupBy ([[tradeAdjacency]]). Frontier/visited joins keep the
    // round-11 hint discipline (broadcast under the budget, SHUFFLE_HASH
    // build above it, never bare SMJ).
    // The explode+distinct level is segment-agnostic, so bfs needs only
    // the guarded leaf (a hub node appearing as several rows expands to
    // the same frontier set — distinct folds it).
    val (adj, _, nodeBound) = hubGuard(tradeAdjacency(s, d), hubCap)
    def hint(df: DataFrame): DataFrame =
      Hints.bcOrHash(df, nodeBound, Hints.MaxBroadcastRows)
    // Per-level LAZY checkpoint of the (tiny, node-sized) frontier: each
    // level references the previous one twice (frontier join + visited
    // anti-join), so an UNcheckpointed plan would hold 2^maxHop copies
    // of the per-level subtrees and re-run every level's distinct
    // shuffle per copy (measured ~2× slower at sf0.1). Round 9 then
    // measured lazy vs EAGER truncation: lazy wins — the single final
    // action executes all levels as one stage DAG (shuffle outputs
    // reused across the two consumers inside the job, caches filling as
    // stages complete) instead of paying maxHop barrier jobs: parity at
    // sf0.1 (2.85 vs 2.96 s) and 95.0 s vs 111.8 s at 100× (ratio
    // 33.3× → 27.2×) — the same barrier-fusion economics as the
    // star-contraction loop.
    var visited = Seq("c1").toDF("node").withColumn("hop", lit(0L))
    var frontier = visited.select(col("node"))
    for (h <- 1 to maxHop) {
      val next = Hints.checkpoint(
        adj
          .join(hint(frontier.select(col("node").as("fn"))),
            adj("node") === col("fn"))
          .select(explode(col("dsts")).as("node")).distinct()
          .join(hint(visited.select(col("node").as("vn"))),
            col("node") === col("vn"), "left_anti")
          .withColumn("hop", lit(h.toLong)),
        eager = false)
      visited = visited.union(next)
      frontier = next.select(col("node"))
    }
    visited.groupBy(col("hop"))
      .agg(count(lit(1)).as("n_nodes"))
      .orderBy(col("hop").asc)
  }

  /** Footer-metadata upper bound on the mod-100 probe slice's degree
    * table for the three link-prediction queries (common / adamic /
    * nbr_jaccard): distinct probe customers ≤ ⌈|customer|/100⌉ because
    * custkeys are dense 0..N−1 (TestdataInvariantsSpec pins density), so
    * exactly every 100th key passes `% 100 = 0`. Round 7's PageRank OOM
    * and the round-9 verdict both flagged unconditional `broadcast()` of
    * data-derived tables as THE scale-killer class: the probe slice is
    * 1% of customers — bounded relative to the corpus but absolutely
    * unbounded (10⁹ customers → 10⁷-row broadcast build per join). The
    * bound is a pure driver-side footer read (no job at plan build), and
    * per [[Hints.bcOrHash]]'s contract an overshoot costs a shuffled-hash
    * join (round 11 — build on the degree side, never an SMJ re-sort of
    * the wedge-pair stream; the family rule from the BFS/k-core/PageRank
    * A/Bs), never an OOM. Through 100× the bound stays under the budget
    * (1.5M customers → 15k probe rows), so every measured number is
    * broadcast-regime and unchanged. */
  private def probeDegBound(s: SparkSession, d: String): Long =
    Tables.rowCount(s, d, "customer") / 100 + 1

  /** Common-neighbor link prediction on a DETERMINISTIC customer
    * subsample (custkey % 100 = 0): customer pairs ranked by shared
    * suppliers, with set sizes for a Jaccard-style score as exact
    * integers. The wedge join (per-supplier pair enumeration) is the
    * textbook shape but quadratic per hub node — on a full corpus the
    * subsample IS the method (link-prediction candidates are mined per
    * key-sampled block, then scored); the modulus makes the sample
    * oracle-reproducible where rand() sampling is not. Top-20 pairs by
    * (common desc, pair id). */
  def graphCommon(s: SparkSession, d: String,
      maxBc: Long = Hints.MaxBroadcastRows): DataFrame = {
    val degBound = probeDegBound(s, d)
    val e = Tables.lineitem(s, d).select(col("l_orderkey"), col("l_suppkey"))
      .join(Tables.orders(s, d).select(col("o_orderkey"), col("o_custkey")),
        col("l_orderkey") === col("o_orderkey"))
      .filter(col("o_custkey") % 100 === 0)
      .select(col("o_custkey").as("ck"), col("l_suppkey").as("sk"))
      .distinct()
    val deg = e.groupBy(col("ck")).agg(count(lit(1)).as("deg"))
    val a = e.select(col("ck").as("a_ck"), col("sk"))
    val b = e.select(col("ck").as("b_ck"), col("sk"))
    a.join(b, Seq("sk"))
      .filter(col("a_ck") < col("b_ck"))
      .groupBy(col("a_ck"), col("b_ck"))
      .agg(count(lit(1)).as("common"))
      .join(Hints.bcOrHash(
        deg.select(col("ck").as("a_ck"), col("deg").as("deg_a")), degBound, maxBc), "a_ck")
      .join(Hints.bcOrHash(
        deg.select(col("ck").as("b_ck"), col("deg").as("deg_b")), degBound, maxBc), "b_ck")
      .select(col("a_ck"), col("b_ck"), col("common"), col("deg_a"), col("deg_b"))
      .orderBy(col("common").desc, col("a_ck").asc, col("b_ck").asc)
      .limit(20)
  }

  /** Degree-distribution profile of the part co-purchase graph (edge =
    * two parts share an order), in octave bands — the graph-health
    * fingerprint read before running anything iterative on an implicit
    * similarity graph: a heavy top band means hub parts that will hot-key
    * any per-neighbor shuffle. Pair generation is per-order (order sizes
    * are bounded, so C(size,2) stays linear) and happens INSIDE the
    * order row — groupBy(order) → sorted distinct part set → i<j pairs
    * from array positions — the same in-row rewrite that bought the
    * basket family ~30%: one groupBy shuffle of the fact instead of a
    * fact⋈fact self-join pushing the rows through two exchange sides
    * plus a probe. Degree = distinct partners per part; bands are
    * ⌊log2⌋ octaves via the same shared CASE both engines compile.
    * All-integer. */
  def graphDegree(s: SparkSession, d: String): DataFrame = {
    // Round 14: the pair stream and its distinct ride the PACKED long
    // key (see [[copurchaseEdges]] — the distinct is this query's
    // largest shuffle and the 8-byte key halves its rows); endpoints
    // unpack after the dedup. Round 15 kept this STREAMING (not read
    // from the supportedPairs memo leaf): degree needs support-1 pairs
    // too, and materializing the full pair set was the measured 45 s/
    // 100× failure recorded at Analytics.pairSupport.
    val e0 = Analytics.orderPairs(s, d)
      .distinct()
      .select(Analytics.unpackA.as("pa"), Analytics.unpackB.as("pb"))
    // Both endpoints of each undirected edge in ONE pass over the pair
    // join (explode of a 2-element array) — a union of two projections
    // would plan the join+distinct subtree twice and lean on exchange
    // reuse to dedupe the work; the generator guarantees a single
    // execution regardless of reuse kicking in.
    val deg = e0.select(explode(array(col("pa"), col("pb"))).as("p"))
      .groupBy(col("p")).agg(count(lit(1)).as("deg"))
    // octave band k: deg in [2^k, 2^(k+1)) — one CASE string, valid in
    // both engines, generated from the same bounds
    val bandCase = "CASE " + (0 until 16).map(k =>
      s"WHEN deg >= ${1L << k} AND deg < ${1L << (k + 1)} THEN $k").mkString(" ") +
      " ELSE 16 END"
    deg.withColumn("band", expr(s"CAST($bandCase AS BIGINT)"))
      .groupBy(col("band"))
      .agg(count(lit(1)).as("n_parts"), min(col("deg")).as("min_deg"),
        max(col("deg")).as("max_deg"))
      .orderBy(col("band").asc)
  }

  /** Local clustering coefficient per node of the nation trade graph —
    * the closure measure (Watts & Strogatz 1998's C_i, integer-exact
    * form) read alongside [[graphTriangles]] when deciding whether a
    * similarity graph is community-structured enough for label
    * propagation to converge fast. Same oriented triangle enumeration
    * and dim-bounded edge list as q_graph_triangles (the fact-scale work
    * is only the edge DERIVATION); coeff_ppm = 2·10⁶·tri ÷ deg·(deg−1)
    * in non-negative integer division, deg < 2 pinned to 0 on both
    * engines (the denominator would be 0). */
  def graphClustco(s: SparkSession, d: String): DataFrame = {
    val pairs = Tables.lineitem(s, d)
      .select(col("l_orderkey"), col("l_suppkey"))
      .join(Tables.orders(s, d).select(col("o_orderkey"), col("o_custkey")),
        col("l_orderkey") === col("o_orderkey"))
      .join(Tables.supplier(s, d).select(col("s_suppkey"),
        col("s_nationkey").as("sn")), col("l_suppkey") === col("s_suppkey"))
      .join(Tables.customer(s, d).select(col("c_custkey"),
        col("c_nationkey").as("cn")), col("o_custkey") === col("c_custkey"))
      .select(least(col("cn"), col("sn")).as("u"),
        greatest(col("cn"), col("sn")).as("v"))
      .filter(col("u") < col("v"))
      .distinct()
    val e1 = pairs.select(col("u").as("a"), col("v").as("b"))
    val e2 = pairs.select(col("u").as("b2"), col("v").as("c"))
    val e3 = pairs.select(col("u").as("a3"), col("v").as("c3"))
    val tris = e1
      .join(e2, col("b") === col("b2"))
      .join(e3, col("a") === col("a3") && col("c") === col("c3"))
      .select(col("a"), col("b"), col("c"))
    val deg = pairs.select(col("u").as("n")).union(pairs.select(col("v")))
      .groupBy(col("n")).agg(count(lit(1)).as("deg"))
    val perNode = tris.select(col("a").as("n"))
      .union(tris.select(col("b")))
      .union(tris.select(col("c")))
      .groupBy(col("n")).agg(count(lit(1)).as("n_tris"))
    deg.join(perNode, Seq("n"), "left")
      .select(col("n").cast("long").as("nationkey"), col("deg"),
        coalesce(col("n_tris"), lit(0L)).as("n_tris"))
      .withColumn("coeff_ppm",
        when(col("deg") >= 2,
          expr("(2000000 * n_tris) div (deg * (deg - 1))"))
        .otherwise(lit(0L)))
      .orderBy(col("coeff_ppm").desc, col("nationkey").asc)
  }

  /** Degree assortativity of the nation trade graph (Newman 2002,
    * "Assortative mixing in networks" — public): the Pearson correlation
    * of endpoint degrees over all directed edges — one scalar that says
    * whether hubs attach to hubs (assortative, r > 0) or to leaves
    * (disassortative, r < 0), the structural prior for how badly a
    * hot-key join will skew. Same dim-bounded edge derivation as
    * [[graphClustco]]; sufficient statistics are EXACT long sums over
    * the symmetrized edge list ([[tsAutocorr]]'s discipline: integers
    * until the single final IEEE division, rounded at 6, with the exact
    * numerator also emitted hash-pinned). */
  def graphAssort(s: SparkSession, d: String): DataFrame = {
    val pairs = Tables.lineitem(s, d)
      .select(col("l_orderkey"), col("l_suppkey"))
      .join(Tables.orders(s, d).select(col("o_orderkey"), col("o_custkey")),
        col("l_orderkey") === col("o_orderkey"))
      .join(Tables.supplier(s, d).select(col("s_suppkey"),
        col("s_nationkey").as("sn")), col("l_suppkey") === col("s_suppkey"))
      .join(Tables.customer(s, d).select(col("c_custkey"),
        col("c_nationkey").as("cn")), col("o_custkey") === col("c_custkey"))
      .select(least(col("cn"), col("sn")).as("u"),
        greatest(col("cn"), col("sn")).as("v"))
      .filter(col("u") < col("v"))
      .distinct()
    val edges = pairs.select(col("u").as("a"), col("v").as("b"))
      .union(pairs.select(col("v").as("a"), col("u").as("b")))
    val deg = edges.groupBy(col("a").as("n")).agg(count(lit(1)).as("deg"))
    edges
      .join(broadcast(deg.select(col("n").as("a"), col("deg").as("x"))), "a")
      .join(broadcast(deg.select(col("n").as("b"), col("deg").as("y"))), "b")
      .agg(count(lit(1)).as("n_edges"),
        sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("x") * col("x")).as("sxx"),
        sum(col("y") * col("y")).as("syy"),
        sum(col("x") * col("y")).as("sxy"))
      .withColumn("num", expr("n_edges * sxy - sx * sy"))
      .withColumn("denx", expr("n_edges * sxx - sx * sx"))
      .withColumn("deny", expr("n_edges * syy - sy * sy"))
      .select(col("n_edges"), col("num"),
        when(col("denx") > 0 && col("deny") > 0,
          round(col("num").cast("double") /
            sqrt(col("denx").cast("double") * col("deny").cast("double")), 6))
          .otherwise(lit(0.0)).as("r"))
  }

  /** Neighborhood-Jaccard link prediction over the customer↔supplier
    * bipartite graph — the set-overlap complement of [[graphAdamic]]'s
    * rarity-weighted score (Liben-Nowell & Kleinberg 2003's classic
    * predictor family): for customer pairs sharing ≥1 supplier,
    * J = |N(a)∩N(b)| / |N(a)∪N(b)| with the union via
    * inclusion-exclusion from two degree lookups — the intersection is
    * the only pair-scale aggregate, degrees ride a broadcast. Integer
    * micro ratio (inter·1e6 div uni), so the top-20 cut is hash-exact.
    * Same probe slice as adamic (o_custkey % 100 = 0) so the pair space
    * stays sample-bounded by construction, never all-customers². */
  def graphNbrJaccard(s: SparkSession, d: String,
      maxBc: Long = Hints.MaxBroadcastRows): DataFrame = {
    val degBound = probeDegBound(s, d)
    val e = Tables.lineitem(s, d).select(col("l_orderkey"), col("l_suppkey"))
      .join(Tables.orders(s, d).select(col("o_orderkey"), col("o_custkey")),
        col("l_orderkey") === col("o_orderkey"))
      .filter(col("o_custkey") % 100 === 0)
      .select(col("o_custkey").as("ck"), col("l_suppkey").as("sk"))
      .distinct()
    val degC = e.groupBy(col("ck")).agg(count(lit(1)).as("deg"))
    val a = e.select(col("ck").as("a_ck"), col("sk"))
    val b = e.select(col("ck").as("b_ck"), col("sk"))
    a.join(b, Seq("sk"))
      .filter(col("a_ck") < col("b_ck"))
      .groupBy(col("a_ck"), col("b_ck"))
      .agg(count(lit(1)).as("inter"))
      .join(Hints.bcOrHash(
        degC.select(col("ck").as("a_ck"), col("deg").as("da")), degBound, maxBc), "a_ck")
      .join(Hints.bcOrHash(
        degC.select(col("ck").as("b_ck"), col("deg").as("db")), degBound, maxBc), "b_ck")
      .withColumn("uni", col("da") + col("db") - col("inter"))
      .withColumn("jacc_micro", expr("inter * 1000000 div uni"))
      .select(col("a_ck"), col("b_ck"), col("inter"), col("uni"),
        col("jacc_micro"))
      .orderBy(col("jacc_micro").desc, col("a_ck").asc, col("b_ck").asc)
      .limit(20)
  }

  /** Connected-component labels over an (a_pk, b_pk) edge list by
    * MIN-LABEL PROPAGATION WITH POINTER JUMPING over a static
    * adjacency-list leaf — the round-14 port of the round-13 layout
    * that cut pagerank/bfs 2.3× (see [[pagerank]]'s A/B scaladoc).
    *
    * Why not keep [[Dedup.clusterLabels]] here (what rounds 9–13
    * shipped): star contraction's STATE is the edge list itself, so
    * every round re-shuffles an edge-shaped table twice (large-star's
    * symmetric-view min + small-star's distinct) plus an edge-shaped
    * convergence probe against the original pairs — on the 100×
    * co-purchase graph that made q_graph_cc the #1 absolute row
    * everywhere (77 s solo warm, 6.95 s bench). This loop's state is
    * NODE-sized ((node, lbl) rows); the corpus-shaped adjacency leaf
    * never moves after its construction shuffle, and a round is: one
    * state join against the leaf (broadcast/hash per the measured
    * bound), a narrow explode, a partial-agged min whose exchange
    * carries node-sized partials, and two node-sized joins. The dedup
    * family KEEPS star contraction: its near-dup pair lists are tiny
    * clique-like edge sets that converge in one round, where the edge
    * shape costs nothing and the adjacency construction would be pure
    * overhead.
    *
    * POINTER JUMPING — the update is lbl' = min(lbl, min over
    * neighbors' lbl, lbl(lbl(v))) — keeps the round bound logarithmic
    * in component diameter (Shiloach & Vishkin 1982's shortcutting
    * step, the standard remedy for plain propagation's O(diameter)
    * worst case), so moving to node-sized rounds does not reopen the
    * long-chain hostage problem that motivated star contraction in
    * round 9.
    *
    * Convergence is read off the state, no separate probe: labels are
    * monotone non-increasing (every update is a min including the
    * current label) and only ever hold ids of nodes in the same
    * component (neighbors' labels and lbl(lbl(v)) both stay inside the
    * component). Under the frontier-delta rounds every label CHANGE is
    * pushed to the neighbors exactly once (min is idempotent, so the
    * already-pushed contributions of settled nodes persist in the
    * state), hence a zero-change round means lbl(v) ≤ lbl(u) across
    * every edge in both directions ⇒ labels constant per component;
    * at the component minimum m, lbl(m) ≥ m (component ids only) and
    * lbl(m) ≤ m (monotone from init m), so the constant is the
    * component minimum — exactly the label function the oracle's
    * recursive closure computes. The changed-count rides the round's
    * one materializing aggregation, so convergence costs no extra job
    * (star contraction needed the original-pair straddle probe because
    * its EDGE SET mutates; here the adjacency is static and the
    * fixpoint inequalities are read directly off the state). */
  private[graft] def ccAdjacency(s: SparkSession, edges: DataFrame,
      maxRounds: Int = 16,
      maxBc: Long = Hints.MaxBroadcastRows,
      hubCap: Int = HubDegCap,
      checkpointEdges: Boolean = true): DataFrame = {
    // EAGER e0: both union branches of the adjacency construction read
    // it inside ONE job — a lazy leaf would race its own
    // materialization and compute the edge derivation twice (the same
    // note as [[graphBfs]]'s e0). Callers whose edges ALREADY read from
    // an eagerly-materialized leaf (graphCc via the supportedPairs
    // memo, round 15) pass checkpointEdges = false: re-caching a
    // narrow projection of a checkpointed leaf is a pure copy tax, and
    // the race note does not apply to a materialized source.
    val e0 =
      if (checkpointEdges)
        Hints.checkpoint(edges.select(col("a_pk"), col("b_pk")),
          eager = true)
      else edges.select(col("a_pk"), col("b_pk"))
    val adjRaw = Hints.checkpoint(
      e0.union(e0.select(col("b_pk").as("a_pk"), col("a_pk").as("b_pk")))
        .groupBy(col("a_pk").as("node"))
        .agg(collect_list(col("b_pk")).as("dsts")),
      eager = false)
    // One job materializes the leaf AND measures the node bound that
    // decides broadcast-vs-SHUFFLE_HASH for every round's node-sized
    // join (the family hint discipline — never bare SMJ re-sorts) — and,
    // round 15, the hub guard's max degree in the same action. The
    // push leg ([[ccAdjRound]]) is min-aggregated, so a hub split into
    // segment rows contributes identically.
    val (adj, nodes, nodeBound) = hubGuard(adjRaw, hubCap)
    def hint(df: DataFrame): DataFrame = Hints.bcOrHash(df, nodeBound, maxBc)
    var lbl = nodes.select(col("node"), col("node").as("lbl"))
    // FRONTIER-DELTA rounds (round-14 A/B, measured at 100× same
    // session, 2 interleaved reps per variant per run): only nodes
    // whose label CHANGED last round re-explode their adjacency rows —
    // an unchanged node's neighbor-min contribution was already taken
    // (min is idempotent), so the label trajectory is IDENTICAL to
    // full re-propagation round for round (the promotion probe
    // cross-checked label-map equality before timing). Full variant
    // 46.9/46.2 s best-rep vs delta 36.4/40.8 s on q_graph_cc's
    // co-purchase edges — ~25% off the round share once the ~26 s
    // shared derivation is subtracted. Note the round-9 k-core
    // delta-peel REJECTION does not transfer here: the peel's frontier
    // was "nodes about to die" (most of the graph, every round), while
    // propagation's frontier is "labels still falling", which pointer
    // jumping collapses fast and which excludes every already-settled
    // small component. The jump leg stays full — node-sized, and it is
    // what keeps the round bound logarithmic.
    var frontier = lbl
    var n = nodeBound
    var r = 0
    while (n > 0) {
      r += 1
      if (r > maxRounds) throw new IllegalStateException(
        s"ccAdjacency: label propagation did not converge in $maxRounds rounds")
      // ONE action per round: the new state is LAZILY checkpointed and
      // the changed-count (which is also next round's frontier bound)
      // is its materializing job.
      val next = Hints.checkpoint(ccAdjRound(adj, lbl, frontier, hint),
        eager = false)
      n = next.filter(col("chg") === 1).count()
      frontier = next.filter(col("chg") === 1)
        .select(col("node"), col("lbl"))
      lbl = next.select(col("node"), col("lbl"))
    }
    lbl
  }

  /** One [[ccAdjacency]] round: (node, lbl, chg). Exposed for
    * PlanQualitySpec's round-shape pin. The push leg is the only
    * corpus-shaped work (explode over the static leaf, restricted to
    * the FRONTIER — the nodes whose labels changed last round; round 1
    * passes the full state); the joins that follow are node-sized, and
    * the push/jump legs are LEFT joins + coalesce because the delta
    * restriction makes them legitimately partial (a node whose
    * neighbors all settled receives no push; the jump fallback also
    * covers the defensive-totality case — a violated leaf invariant
    * becomes a self-label, never a silently dropped node). */
  private[graft] def ccAdjRound(adj: DataFrame, lbl: DataFrame,
      frontier: DataFrame, hint: DataFrame => DataFrame): DataFrame = {
    val push = adj
      .join(hint(frontier.select(col("node").as("fn"), col("lbl").as("flbl"))),
        adj("node") === col("fn"))
      .select(explode(col("dsts")).as("node"), col("flbl"))
      .groupBy(col("node")).agg(min(col("flbl")).as("nmin"))
    val jump = lbl
      .join(hint(lbl.select(col("node").as("jn"), col("lbl").as("jl"))),
        col("lbl") === col("jn"))
      .select(col("node"), col("jl").as("jmin"))
    lbl
      .join(hint(push), Seq("node"), "left")
      .join(hint(jump), Seq("node"), "left")
      .withColumn("nl", least(col("lbl"),
        coalesce(col("nmin"), col("lbl")),
        coalesce(col("jmin"), col("lbl"))))
      .select(col("node"), col("nl").as("lbl"),
        when(col("nl") < col("lbl"), 1L).otherwise(0L).as("chg"))
  }

  /** Connected-components census of the co-purchase graph: component
    * size histogram (csize → component count, node mass). Labels come
    * from [[ccAdjacency]] — adjacency-leaf min-label propagation with
    * pointer jumping (round 14; rounds 9–13 routed through
    * [[Dedup.clusterLabels]]'s edge-shaped star contraction — see the
    * ccAdjacency scaladoc for the A/B rationale). Oracle: recursive-CTE
    * min-label transitive closure over the same support-≥2 edges, then
    * the same double rollup — unchanged, both algorithms compute the
    * same min-label fixpoint. */
  def graphCc(s: SparkSession, d: String): DataFrame =
    ccAdjacency(s, copurchaseEdges(s, d), checkpointEdges = false)
      .groupBy(col("lbl")).agg(count(lit(1)).as("csize"))
      .groupBy(col("csize"))
      .agg(count(lit(1)).as("n_comps"))
      .select(col("csize"), col("n_comps"),
        (col("csize") * col("n_comps")).as("n_nodes"))
      .orderBy(col("csize").asc)

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_graph_nbr_jaccard" -> ((s, d) => graphNbrJaccard(s, d)),
    "q_graph_cc" -> graphCc,
    "q_graph_degree" -> graphDegree,
    "q_graph_clustco" -> graphClustco,
    "q_graph_assort" -> graphAssort,
    "q_graph_triangles" -> graphTriangles,
    "q_graph_pagerank" -> graphPagerank,
    "q_graph_bfs" -> ((s, d) => graphBfs(s, d)),
    "q_graph_common" -> ((s, d) => graphCommon(s, d)),
    "q_graph_adamic" -> ((s, d) => graphAdamic(s, d)),
    "q_graph_kcore"  -> ((s, d) => graphKcore(s, d))
  )

  /** Adamic–Adar link prediction (Liben-Nowell & Kleinberg 2003, "The
    * link prediction problem for social networks" — public method) on
    * [[graphCommon]]'s bipartite customer–supplier graph: score a
    * candidate customer pair by Σ_z 1/ln(deg z) over shared suppliers z
    * — common neighbors weighted so that promiscuous hubs count less.
    * Integer-exact: each supplier's weight is 10¹² div lg(deg) micro⁻¹
    * nats via Text's unbounded lg, computed once in the supplier-degree
    * table (vocab-sized, broadcast) — never on the pair stream. deg ≥ 2
    * is filtered BEFORE the division: a degree-1 supplier has ln = 0
    * (division by zero — null in Spark, an error in DuckDB) and can
    * never produce an a<b pair anyway, so the filter is
    * semantics-preserving on both engines. Same bounded pair discipline
    * as q_graph_common (custkey mod-100 probe set). */
  def graphAdamic(s: SparkSession, d: String,
      maxBc: Long = Hints.MaxBroadcastRows): DataFrame = {
    // aaW is supplier-degree-table-sized: ≤ |supplier| rows is a TRUE
    // bound (one row per distinct suppkey, no density assumption), read
    // from footer metadata like [[probeDegBound]]. Same guarded-hint
    // rationale — at corpus scale the supplier dimension can exceed the
    // 500k-row broadcast budget and the join must degrade to a shuffle.
    val supBound = Tables.rowCount(s, d, "supplier")
    val e = Tables.lineitem(s, d).select(col("l_orderkey"), col("l_suppkey"))
      .join(Tables.orders(s, d).select(col("o_orderkey"), col("o_custkey")),
        col("l_orderkey") === col("o_orderkey"))
      .filter(col("o_custkey") % 100 === 0)
      .select(col("o_custkey").as("ck"), col("l_suppkey").as("sk"))
      .distinct()
    val degS = e.groupBy(col("sk")).agg(count(lit(1)).as("deg"))
      .filter(col("deg") >= 2)
    val aaW = Text.withLgMicro(degS, "deg", "lgdeg")
      .select(col("sk"), expr("1000000000000 div lgdeg").as("aa_w"))
    val a = e.select(col("ck").as("a_ck"), col("sk"))
    val b = e.select(col("ck").as("b_ck"), col("sk"))
    a.join(b, Seq("sk"))
      .filter(col("a_ck") < col("b_ck"))
      .join(Hints.bcOrHash(aaW, supBound, maxBc), "sk")
      .groupBy(col("a_ck"), col("b_ck"))
      .agg(count(lit(1)).as("common"), sum(col("aa_w")).as("aa_micro"))
      .orderBy(col("aa_micro").desc, col("a_ck").asc, col("b_ck").asc)
      .limit(20)
  }

  /** k-core decomposition (Seidman 1983, "Network structure and minimum
    * degree" — the standard dense-subgraph peel; in an LLM-data pipeline
    * this is how a link graph gets its spam shell stripped before
    * PageRank-style quality scoring): iteratively delete nodes of
    * degree < k until the fixpoint. Graph: part co-purchase with edge
    * support ≥ 2 distinct orders (the basket-pairs support floor — the
    * unfiltered wedge graph is near-complete and the peel would be dead
    * code; measured cores at sf0.001/0.01/0.1: 200/1535/3 of
    * 200/1880/5922 nodes in 1/4/6 rounds).
    *
    * Iteration discipline (round-9 A/B, all three variants measured at
    * BOTH sf0.1 and the 100× replica): synchronous full re-aggregation
    * per round, with the round's count fused into the lazy checkpoint.
    * A DELTA-FRONTIER peel (materialized degree table, doomed nodes
    * decrement only their neighbors) was implemented, measured, and
    * REJECTED: 57.1 s at 100× vs 42.6 s for this loop — in THIS graph
    * nearly every node peels (core 3 of 5 922 at sf0.1), so the
    * "frontier" is most of the graph and the per-round anti-join
    * + decrement bookkeeping costs more than simply re-counting the
    * shrinking survivor set; delta peels win only when the core retains
    * most nodes. The round-8 self-join edge derivation was also
    * measured and replaced (44.8 s vs 42.6 s at 100×, 4.2 s vs 3.2 s at
    * sf0.1) by the generator derivation in [[copurchaseEdges]]. Round
    * 14 keeps the synchronous re-census but moves it onto the
    * adjacency-list leaf (see the in-body comment) and gets peel round
    * 1 for free as a size(dsts) filter. Per-round state is the
    * node-sized alive set, lazily checkpointed with the convergence
    * count as its materializing action (one barrier per round);
    * broadcast bound via the measured node count. maxRounds = 8
    * fail-fast: the peel's worst case is O(n) rounds (a path graph), so
    * an unconverged corpus must fail loudly, not run forever — the
    * DuckDB oracle unrolls exactly 8 peels and relies on fixpoint
    * idempotence for the tail (the fixpoint is unique, so the
    * round-by-round schedule is free to differ).
    * Output: (node, in_core, core_deg). */
  /** Support-≥2 part co-purchase edges (a_pk < b_pk), derived via the
    * per-order pair GENERATOR, not a fact⋈fact self-join: collect_set
    * dedups parts within an order, the sorted-array transform emits
    * each unordered pair exactly once per order, so a plain count per
    * pair IS the distinct-order support — one wide agg + one generator
    * + one hash agg, versus the old self-join + countDistinct expand
    * (measured ~1.5 s slower at sf0.1 and join-shaped at 100 TB where
    * the generator stays a narrow map over the grouped scan). Round 14:
    * the pair stream rides [[Analytics.orderPairs]]'s PACKED long key
    * (pk = a·2³¹ + b, footer-stat domain guard — the r12 rework that
    * cut q_basket_pairs 40.8 → 21.8 s at 100×): the support groupBy is
    * this family's largest shuffle, and the 100× A/B of the adjacency
    * ports showed the derivation, not the rounds, dominating cc/kcore
    * once the rounds went node-sized. Unpack happens AFTER the support
    * filter, on the dim²-bounded survivor set. Round 15: that survivor
    * set is the SHARED MEMOIZED leaf (Analytics.supportedPairs) —
    * cc/kcore/lift read one eagerly-checkpointed artifact instead of
    * re-running the ~26 s/100× explode+groupBy per query (PERF.md
    * finding 33; measured consumer warm cost at 100×: kcore
    * 37.7 → 5.6 s). Shared by [[graphKcore]] and [[graphCc]]. */
  private[graft] def copurchaseEdges(s: SparkSession, d: String): DataFrame =
    Analytics.supportedPairs(s, d)
      .select(Analytics.unpackA.as("a_pk"), Analytics.unpackB.as("b_pk"))

  def graphKcore(s: SparkSession, d: String, k: Int = 2,
      maxRounds: Int = 8, hubCap: Int = HubDegCap): DataFrame = {
    // Round-14 adjacency port (same layout as [[pagerank]]/[[graphBfs]]
    // — see the pagerank A/B scaladoc): the rounds-9–13 peel ran TWO
    // alive-joins against the DOUBLED edge leaf per round, and above
    // the broadcast budget the SHUFFLE_HASH fallback still exchanged
    // the edge-shaped stream three times per round (once per join key
    // plus the re-group). The node-sized adjacency leaf is partitioned
    // by node from its construction shuffle, so a peel round is now:
    // alive state moves to the leaf (broadcast/hash), one NARROW
    // explode, one alive filter on the exploded dst, and a groupBy
    // whose rows for a node are co-located (leaf partitioning survives
    // the explode) so the agg is partial-heavy — the corpus-sized side
    // never moves again.
    // e0 reads the eagerly-materialized supportedPairs leaf (round 15)
    // — no second checkpoint needed: the graphBfs race note is about a
    // LAZY leaf read by two branches in one job, and this source is
    // already materialized (the same reasoning as graphCc's
    // checkpointEdges = false).
    val e0 = copurchaseEdges(s, d)
    val adjRaw = Hints.checkpoint(
      e0.union(e0.select(col("b_pk").as("a_pk"), col("a_pk").as("b_pk")))
        .groupBy(col("a_pk").as("node"))
        .agg(collect_list(col("b_pk")).as("dsts")),
      eager = false)
    // One job materializes the leaf and measures the node bound for the
    // round-11 family hint discipline (broadcast under the budget,
    // SHUFFLE_HASH build above it, never bare SMJ) — plus, round 15,
    // the hub guard's max degree in the same action. The census
    // groupBy(node) merges a split hub's segment rows, so the peel is
    // segment-associative by construction.
    val (adj, nodes, nodeBound) = hubGuard(adjRaw, hubCap)
    def hint(df: DataFrame): DataFrame =
      Hints.bcOrHash(df, nodeBound, Hints.MaxBroadcastRows)
    // alive-restricted degree census — the peel's one corpus-shaped
    // step, now explode-shaped instead of join-join-shaped.
    def survivors(aliveSet: DataFrame): DataFrame = adj
      .join(hint(aliveSet.select(col("node").as("sn"))),
        adj("node") === col("sn"))
      .select(col("node"), explode(col("dsts")).as("dst"))
      .join(hint(aliveSet.select(col("node").as("dn"))),
        col("dst") === col("dn"))
      .groupBy(col("node")).agg(count(lit(1)).as("deg"))
    val allNodes = nodes.select(col("node"))
    // Peel round 1 is free on the adjacency layout: every node is
    // alive, so the alive-restricted degree IS the leaf degree — a
    // narrow filter over the cached leaf (node-sized degree table when
    // hub-segmented) replaces the full first-round census (the same
    // deg-for-free economics as pagerank's deg column).
    var alive = Hints.checkpoint(
      nodes.filter(col("deg") >= k).select(col("node")),
      eager = false)
    // ONE action per round: the count both materializes the lazily
    // checkpointed alive set and decides convergence (the alive count
    // strictly decreases while any node is peeled, exactly stable at
    // the fixpoint) — no separate emptiness probe, no second barrier.
    var nAlive = alive.count()
    var converged = nAlive == nodeBound
    var round = 1
    while (!converged) {
      round += 1
      if (round > maxRounds) throw new IllegalStateException(
        s"k-core peel did not converge in $maxRounds rounds")
      val next = Hints.checkpoint(
        survivors(alive).filter(col("deg") >= k).select(col("node")),
        eager = false)
      val nNext = next.count()
      converged = nNext == nAlive
      nAlive = nNext
      alive = next
    }
    val coreDeg = survivors(alive)
      .select(col("node"), col("deg").as("core_deg"))
    allNodes
      .join(hint(coreDeg), Seq("node"), "left")
      .select(col("node"),
        when(col("core_deg").isNull, 0L).otherwise(1L).as("in_core"),
        coalesce(col("core_deg"), lit(0L)).as("core_deg"))
      .orderBy(col("node").asc)
  }

  val oracle: Map[String, String] = Map(
    "q_graph_nbr_jaccard" ->
      """WITH e AS (
        |  SELECT DISTINCT o_custkey AS ck, l_suppkey AS sk
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |  WHERE o_custkey % 100 = 0),
        |degs AS (SELECT ck, CAST(count(*) AS BIGINT) AS deg FROM e GROUP BY ck),
        |p AS (
        |  SELECT a.ck AS a_ck, b.ck AS b_ck, CAST(count(*) AS BIGINT) AS inter
        |  FROM e a JOIN e b ON a.sk = b.sk AND a.ck < b.ck
        |  GROUP BY 1, 2)
        |SELECT p.a_ck, p.b_ck, p.inter,
        |       da.deg + db.deg - p.inter AS uni,
        |       CAST(p.inter * 1000000 // (da.deg + db.deg - p.inter) AS BIGINT)
        |         AS jacc_micro
        |FROM p JOIN degs da ON p.a_ck = da.ck
        |       JOIN degs db ON p.b_ck = db.ck
        |ORDER BY jacc_micro DESC, a_ck ASC, b_ck ASC
        |LIMIT 20""".stripMargin,
    // Min-label transitive closure over the same support-≥2 co-purchase
    // edge set (the sup CTE replays the generator derivation as the
    // equivalent self-join + distinct-order HAVING), then component
    // sizes → size histogram.
    "q_graph_cc" ->
      """WITH RECURSIVE sup AS MATERIALIZED (
        |  SELECT a.l_partkey AS a_pk, b.l_partkey AS b_pk
        |  FROM lineitem a JOIN lineitem b
        |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        |  GROUP BY 1, 2 HAVING count(DISTINCT a.l_orderkey) >= 2),
        |ed AS MATERIALIZED (
        |  SELECT a_pk, b_pk FROM sup
        |  UNION ALL SELECT b_pk, a_pk FROM sup),
        |reach(id, lbl) AS (
        |  SELECT DISTINCT a_pk, a_pk FROM ed
        |  UNION
        |  SELECT e.a_pk, r.lbl FROM ed e JOIN reach r ON e.b_pk = r.id),
        |cl AS (
        |  SELECT id, min(lbl) AS lbl FROM reach GROUP BY id),
        |cs AS (
        |  SELECT lbl, CAST(count(*) AS BIGINT) AS csize FROM cl GROUP BY lbl)
        |SELECT csize,
        |       CAST(count(*) AS BIGINT) AS n_comps,
        |       CAST(csize * count(*) AS BIGINT) AS n_nodes
        |FROM cs GROUP BY csize
        |ORDER BY csize ASC""".stripMargin,
    "q_graph_kcore" -> {
      // every a_i is referenced TWICE by a_{i+1} (both join endpoints):
      // default CTE inlining would expand the chain 2^8-fold, so each
      // round is MATERIALIZED (measured: the inlined form never finished
      // at sf0.01; materialized runs in seconds)
      val rounds = (1 to 8).map { i =>
        s"""a$i AS MATERIALIZED (
           |  SELECT node FROM (
           |    SELECT e.a_pk AS node, count(*) AS deg
           |    FROM ed e JOIN a${i - 1} s ON e.a_pk = s.node
           |              JOIN a${i - 1} t ON e.b_pk = t.node
           |    GROUP BY e.a_pk)
           |  WHERE deg >= 2)""".stripMargin
      }.mkString(",\n")
      s"""WITH sup AS MATERIALIZED (
         |  SELECT a.l_partkey AS a_pk, b.l_partkey AS b_pk
         |  FROM lineitem a JOIN lineitem b
         |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
         |  GROUP BY 1, 2 HAVING count(DISTINCT a.l_orderkey) >= 2),
         |ed AS MATERIALIZED (
         |  SELECT a_pk, b_pk FROM sup
         |  UNION ALL SELECT b_pk, a_pk FROM sup),
         |a0 AS MATERIALIZED (SELECT DISTINCT a_pk AS node FROM ed),
         |$rounds,
         |cd AS (
         |  SELECT e.a_pk AS node, CAST(count(*) AS BIGINT) AS core_deg
         |  FROM ed e JOIN a8 s ON e.a_pk = s.node
         |            JOIN a8 t ON e.b_pk = t.node
         |  GROUP BY e.a_pk)
         |SELECT n.node,
         |       CAST(CASE WHEN cd.node IS NULL THEN 0 ELSE 1 END AS BIGINT)
         |         AS in_core,
         |       coalesce(cd.core_deg, 0) AS core_deg
         |FROM a0 n LEFT JOIN cd ON n.node = cd.node
         |ORDER BY n.node ASC""".stripMargin
    },
    "q_graph_adamic" -> {
      val values = Text.lnMicro.map { case (k, lm) => s"($k, $lm)" }
        .mkString(", ")
      s"""WITH ln(k, lm) AS (SELECT * FROM (VALUES $values) t(k, lm)),
         |e AS (
         |  SELECT DISTINCT o_custkey AS ck, l_suppkey AS sk
         |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         |  WHERE o_custkey % 100 = 0),
         |degs AS (
         |  SELECT sk, CAST(count(*) AS BIGINT) AS deg
         |  FROM e GROUP BY sk),
         |aaw AS (
         |  SELECT sk, 1000000000000 // (${Text.lgMicroSql("deg", "l1")})
         |           AS aa_w
         |  FROM degs WHERE deg >= 2),
         |p AS (
         |  SELECT a.ck AS a_ck, b.ck AS b_ck, w.aa_w
         |  FROM e a JOIN e b ON a.sk = b.sk AND a.ck < b.ck
         |  JOIN aaw w ON a.sk = w.sk)
         |SELECT a_ck, b_ck, CAST(count(*) AS BIGINT) AS common,
         |       CAST(sum(aa_w) AS BIGINT) AS aa_micro
         |FROM p GROUP BY a_ck, b_ck
         |ORDER BY aa_micro DESC, a_ck ASC, b_ck ASC
         |LIMIT 20""".stripMargin
    },
    "q_graph_degree" ->
      ("""WITH e AS (
        |  SELECT DISTINCT a.l_partkey AS pa, b.l_partkey AS pb
        |  FROM lineitem a JOIN lineitem b
        |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
        |deg AS (
        |  SELECT p, count(*) AS deg FROM (
        |    SELECT pa AS p FROM e UNION ALL SELECT pb FROM e)
        |  GROUP BY p)
        |SELECT CAST(""" +
        ("CASE " + (0 until 16).map(k =>
          s"WHEN deg >= ${1L << k} AND deg < ${1L << (k + 1)} THEN $k")
          .mkString(" ") + " ELSE 16 END") + """ AS BIGINT) AS band,
        |       count(*) AS n_parts,
        |       CAST(min(deg) AS BIGINT) AS min_deg,
        |       CAST(max(deg) AS BIGINT) AS max_deg
        |FROM deg
        |GROUP BY band
        |ORDER BY band ASC""").stripMargin,
    "q_graph_common" ->
      """WITH e AS (
        |  SELECT DISTINCT o_custkey AS ck, l_suppkey AS sk
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |  WHERE o_custkey % 100 = 0),
        |deg AS (SELECT ck, count(*) AS deg FROM e GROUP BY ck)
        |SELECT a.ck AS a_ck, b.ck AS b_ck, count(*) AS common,
        |       min(da.deg) AS deg_a, min(db.deg) AS deg_b
        |FROM e a
        |JOIN e b ON a.sk = b.sk AND a.ck < b.ck
        |JOIN deg da ON da.ck = a.ck
        |JOIN deg db ON db.ck = b.ck
        |GROUP BY a.ck, b.ck
        |ORDER BY common DESC, a_ck ASC, b_ck ASC
        |LIMIT 20""".stripMargin,
    // 3 unrolled BFS levels over the same symmetrized edge list; empty
    // levels are filtered on both sides (the engine emits no row for an
    // empty frontier).
    "q_graph_bfs" ->
      """WITH e0 AS (
        |  SELECT DISTINCT 'c' || o_custkey AS src, 's' || l_suppkey AS dst
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
        |e AS (
        |  SELECT src, dst FROM e0
        |  UNION ALL
        |  SELECT dst AS src, src AS dst FROM e0),
        |l0 AS (SELECT 'c1' AS node),
        |l1 AS (
        |  SELECT DISTINCT e.dst AS node FROM e JOIN l0 ON e.src = l0.node
        |  WHERE e.dst NOT IN (SELECT node FROM l0)),
        |l2 AS (
        |  SELECT DISTINCT e.dst AS node FROM e JOIN l1 ON e.src = l1.node
        |  WHERE e.dst NOT IN (SELECT node FROM l0 UNION ALL
        |                      SELECT node FROM l1)),
        |l3 AS (
        |  SELECT DISTINCT e.dst AS node FROM e JOIN l2 ON e.src = l2.node
        |  WHERE e.dst NOT IN (SELECT node FROM l0 UNION ALL
        |                      SELECT node FROM l1 UNION ALL
        |                      SELECT node FROM l2))
        |SELECT CAST(hop AS BIGINT) AS hop, CAST(n_nodes AS BIGINT) AS n_nodes FROM (
        |  SELECT 0 AS hop, count(*) AS n_nodes FROM l0
        |  UNION ALL SELECT 1, count(*) FROM l1
        |  UNION ALL SELECT 2, count(*) FROM l2
        |  UNION ALL SELECT 3, count(*) FROM l3)
        |WHERE n_nodes > 0
        |ORDER BY hop ASC""".stripMargin,
    "q_graph_assort" ->
      """WITH pairs AS (
        |  SELECT DISTINCT least(c_nationkey, s_nationkey) AS u,
        |         greatest(c_nationkey, s_nationkey) AS v
        |  FROM lineitem
        |  JOIN orders   ON l_orderkey = o_orderkey
        |  JOIN supplier ON l_suppkey = s_suppkey
        |  JOIN customer ON o_custkey = c_custkey
        |  WHERE c_nationkey <> s_nationkey),
        |e AS (
        |  SELECT u AS a, v AS b FROM pairs
        |  UNION ALL SELECT v AS a, u AS b FROM pairs),
        |deg AS (
        |  SELECT a AS n, CAST(count(*) AS BIGINT) AS deg
        |  FROM e GROUP BY a),
        |s AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n_edges,
        |         CAST(sum(dx.deg) AS BIGINT) AS sx,
        |         CAST(sum(dy.deg) AS BIGINT) AS sy,
        |         CAST(sum(dx.deg * dx.deg) AS BIGINT) AS sxx,
        |         CAST(sum(dy.deg * dy.deg) AS BIGINT) AS syy,
        |         CAST(sum(dx.deg * dy.deg) AS BIGINT) AS sxy
        |  FROM e
        |  JOIN deg dx ON e.a = dx.n
        |  JOIN deg dy ON e.b = dy.n)
        |SELECT n_edges,
        |       CAST(n_edges * sxy - sx * sy AS BIGINT) AS num,
        |       CASE WHEN n_edges * sxx - sx * sx > 0
        |             AND n_edges * syy - sy * sy > 0
        |            THEN round(CAST(n_edges * sxy - sx * sy AS DOUBLE)
        |              / sqrt(CAST(n_edges * sxx - sx * sx AS DOUBLE)
        |                   * CAST(n_edges * syy - sy * sy AS DOUBLE)), 6)
        |            ELSE 0.0 END AS r
        |FROM s""".stripMargin,
    "q_graph_clustco" ->
      """WITH pairs AS (
        |  SELECT DISTINCT least(c_nationkey, s_nationkey) AS u,
        |         greatest(c_nationkey, s_nationkey) AS v
        |  FROM lineitem
        |  JOIN orders   ON l_orderkey = o_orderkey
        |  JOIN supplier ON l_suppkey = s_suppkey
        |  JOIN customer ON o_custkey = c_custkey
        |  WHERE c_nationkey <> s_nationkey),
        |tris AS (
        |  SELECT e1.u AS a, e1.v AS b, e2.v AS c
        |  FROM pairs e1
        |  JOIN pairs e2 ON e1.v = e2.u
        |  JOIN pairs e3 ON e3.u = e1.u AND e3.v = e2.v),
        |deg AS (
        |  SELECT n, CAST(count(*) AS BIGINT) AS deg FROM (
        |    SELECT u AS n FROM pairs UNION ALL SELECT v FROM pairs)
        |  GROUP BY n),
        |pn AS (
        |  SELECT n, CAST(count(*) AS BIGINT) AS n_tris FROM (
        |    SELECT a AS n FROM tris UNION ALL SELECT b FROM tris
        |    UNION ALL SELECT c FROM tris)
        |  GROUP BY n)
        |SELECT deg.n AS nationkey, deg.deg,
        |       COALESCE(pn.n_tris, 0) AS n_tris,
        |       CAST(CASE WHEN deg.deg >= 2
        |            THEN (2000000 * COALESCE(pn.n_tris, 0))
        |                   // (deg.deg * (deg.deg - 1))
        |            ELSE 0 END AS BIGINT) AS coeff_ppm
        |FROM deg LEFT JOIN pn ON deg.n = pn.n
        |ORDER BY coeff_ppm DESC, nationkey ASC""".stripMargin,
    "q_graph_triangles" ->
      """WITH pairs AS (
        |  SELECT DISTINCT least(c_nationkey, s_nationkey) AS u,
        |         greatest(c_nationkey, s_nationkey) AS v
        |  FROM lineitem
        |  JOIN orders   ON l_orderkey = o_orderkey
        |  JOIN supplier ON l_suppkey = s_suppkey
        |  JOIN customer ON o_custkey = c_custkey
        |  WHERE c_nationkey <> s_nationkey),
        |tris AS (
        |  SELECT e1.u AS a, e1.v AS b, e2.v AS c
        |  FROM pairs e1
        |  JOIN pairs e2 ON e1.v = e2.u
        |  JOIN pairs e3 ON e3.u = e1.u AND e3.v = e2.v),
        |deg AS (
        |  SELECT n, count(*) AS deg FROM (
        |    SELECT u AS n FROM pairs UNION ALL SELECT v FROM pairs)
        |  GROUP BY n),
        |pn AS (
        |  SELECT n, count(*) AS n_tris FROM (
        |    SELECT a AS n FROM tris UNION ALL SELECT b FROM tris
        |    UNION ALL SELECT c FROM tris)
        |  GROUP BY n)
        |SELECT deg.n AS nationkey, deg.deg,
        |       COALESCE(pn.n_tris, 0) AS n_tris
        |FROM deg LEFT JOIN pn ON deg.n = pn.n
        |ORDER BY nationkey ASC""".stripMargin,
    // 2 unrolled power-iteration rounds in the same integer micro-units.
    "q_graph_pagerank" ->
      """WITH e0 AS (
        |  SELECT DISTINCT 'c' || o_custkey AS src, 's' || l_suppkey AS dst
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
        |e AS (
        |  SELECT src, dst FROM e0
        |  UNION ALL
        |  SELECT dst AS src, src AS dst FROM e0),
        |deg AS (
        |  SELECT src AS node, count(*) AS deg FROM e GROUP BY src),
        |r0 AS (
        |  SELECT node, CAST(1000000 AS BIGINT) AS pr FROM deg),
        |r1 AS (
        |  SELECT e.dst AS node,
        |         150000 + (850 * sum(r0.pr // deg.deg)) // 1000 AS pr
        |  FROM e JOIN r0 ON e.src = r0.node JOIN deg ON e.src = deg.node
        |  GROUP BY e.dst),
        |r2 AS (
        |  SELECT e.dst AS node,
        |         150000 + (850 * sum(r1.pr // deg.deg)) // 1000 AS pr
        |  FROM e JOIN r1 ON e.src = r1.node JOIN deg ON e.src = deg.node
        |  GROUP BY e.dst)
        |SELECT r2.node, CAST(r2.pr AS BIGINT) AS pr, deg.deg
        |FROM r2 JOIN deg ON r2.node = deg.node
        |ORDER BY pr DESC, r2.node ASC
        |LIMIT 20""".stripMargin
  )
}
