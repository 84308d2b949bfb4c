package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scale-headroom measurement: build a 10× key-shifted replica of the
  * sf0.1 fixture ("sf1") and measure the slowest declared queries on
  * both, turning the "survives 100×" design arguments into at least one
  * measured 10× data point (recorded in BASELINE.md).
  *
  * The replica preserves the workload's STRUCTURE, not just its volume:
  *  - every key column shifts by a per-rep stride, so joins keep their
  *    fan-in and the trade graph becomes 10 disjoint copies (node and
  *    edge count ×10, degree distribution unchanged);
  *  - document text tokens get a per-rep suffix (tokenizer splits on
  *    single spaces), so within-rep Jaccard structure is EXACTLY the
  *    original while cross-rep shingle sets are disjoint — duplicate
  *    RATE stays constant instead of every doc gaining 9 trivial twins
  *    (which would grow near-dup pairs quadratically and measure an
  *    output explosion, not engine scaling);
  *  - embeddings get a tiny per-rep offset so vector sets are distinct
  *    without moving the distribution.
  *
  * Usage: runMain graft.Headroom [srcDir] [outDir] [reps]
  * Prints one JSON line per query: {"query":…,"src_s":…,"scaled_s":…,
  * "ratio":…} plus a trailer with the medians.
  *
  * SPARK_GRAFT_HEADROOM_ALL=1 sweeps the ENTIRE declared query surface
  * instead of the curated slow set, prints only the worst ratios plus
  * the distribution trailer, and writes the complete per-query map to
  * target/headroom_full.json — the full measured answer to "which plan
  * shapes grow faster than the data".
  *
  * Runs on [[Harness.session]] and times [[Harness.drain]], like Bench.
  * The trailer reports peak driver-heap occupancy (`peak_heap_gb`) so
  * the 24 GB contract carries a measured number.
  */
object Headroom {

  val SlowQueries: Seq[String] = Seq(
    "q_dedup_clusters", "q_dedup_repr", "q_graph_bfs", "q_graph_pagerank",
    "q_dedup_incr", "q_text_novelty", "q_dedup_neardup", "q_dedup_hamming",
    "q_dedup_lsh_sweep", "q_graph_degree", "q_dedup_est_err",
    "q_win_ntile", "q_win_ntile_exact2", "q_tpch_q3", "q_evt_session",
    // TPC-H completion set: the window-min (Q2), semi+anti double
    // correlation (Q21), and distinct-count (Q16) shapes
    "q_tpch_q2", "q_tpch_q21", "q_tpch_q16",
    // round-7 scale twins of the block-quadratic audits
    "q_dedup_jaccard_lsh", "q_dedup_contain_lsh", "q_sim_knn_graph_ann")

  def generate(spark: SparkSession, src: String, out: String, reps: Int): Unit = {
    val done = new java.io.File(s"$out/_DONE")
    if (done.exists()) return
    def tbl(n: String) = spark.read.parquet(s"$src/$n.parquet")
    def write(df: DataFrame, n: String): Unit =
      df.write.mode("overwrite").parquet(s"$out/$n.parquet")
    def replicate(n: String)(f: (DataFrame, Int) => DataFrame): Unit =
      write((0 until reps).map(r => f(tbl(n), r)).reduce(_ unionByName _), n)

    // shared dims: unchanged (both halves of every replica join them)
    Seq("region", "nation").foreach(n => write(tbl(n), n))
    val K = 10000000L   // dim-key stride
    val O = 1000000000L // fact-key stride
    replicate("customer")((d, r) => d.withColumn("c_custkey", col("c_custkey") + r * K))
    replicate("supplier")((d, r) => d.withColumn("s_suppkey", col("s_suppkey") + r * K))
    replicate("part")((d, r) => d.withColumn("p_partkey", col("p_partkey") + r * K))
    replicate("orders")((d, r) => d
      .withColumn("o_orderkey", col("o_orderkey") + r * O)
      .withColumn("o_custkey", col("o_custkey") + r * K))
    replicate("lineitem")((d, r) => d
      .withColumn("l_orderkey", col("l_orderkey") + r * O)
      .withColumn("l_partkey", col("l_partkey") + r * K)
      .withColumn("l_suppkey", col("l_suppkey") + r * K))
    replicate("events")((d, r) => d
      .withColumn("event_id", col("event_id") + r * O)
      .withColumn("user_id", col("user_id") + r * 1000000L))
    replicate("documents")((d, r) => {
      val t = if (r == 0) d else d.withColumn("text",
        expr(s"array_join(transform(split(text, ' '), t -> concat(t, '_x$r')), ' ')"))
      t.withColumn("doc_id", col("doc_id") + r * 1000000L)
        .withColumn("n_chars", length(col("text")).cast("long"))
    })
    replicate("embeddings")((d, r) => d
      .withColumn("vec_id", col("vec_id") + r * 1000000L)
      .withColumn("embedding",
        expr(s"transform(embedding, v -> CAST(v + $r * 0.0011 AS FLOAT))")))
    done.createNewFile()
    ()
  }

  def main(args: Array[String]): Unit = {
    val src = args.lift(0).getOrElse("/root/testdata/sf0.1")
    val out = args.lift(1).getOrElse("/tmp/graft-sf1")
    val reps = args.lift(2).map(_.toInt).getOrElse(10)
    val spark = Harness.session()
    // Size-driven partitioning for the big-replica runs, which only this
    // main makes: a fixed 32 shuffle partitions puts ~2M-row
    // hash-aggregate tasks on the 100× replica (execution-memory OOM on
    // the PageRank edge distinct); with a high initial partition count
    // AQE coalesces DOWN to the right size instead of being stuck too
    // coarse. Small-SF plans coalesce back to a handful of partitions.
    spark.conf.set("spark.sql.adaptive.coalescePartitions.initialPartitionNum", "512")
    // Config contract, measured in round 8: the 100× replica's iterative
    // graph queries (PageRank/BFS/k-core over a 60M-edge leaf) need
    // ~0.75 GB/core of unified memory — 24 GB heap at local[32]. The 8 GB
    // default (250 MB/core) OOMs mid-sweep after minutes of work. Fail
    // fast with the remedy instead of letting the rediscovery cost recur.
    if (reps >= 100) {
      val heapGb = Runtime.getRuntime.maxMemory / (1024.0 * 1024 * 1024)
      // 23.0, not 24.0: Runtime.maxMemory reports the usable heap after
      // JVM reservation slack (a -Xmx24g JVM reports ~23.x GB), so a
      // literal 24.0 would reject the exact remedy the message names.
      // Anything below that IS the regime this guard fails fast on —
      // a 20–23 GB heap must not silently pass into it.
      require(heapGb >= 23.0,
        f"100x headroom runs need a 24g driver heap (have $heapGb%.1fg): " +
          "rerun with SPARK_DRIVER_MEM=24g (see BASELINE.md round-8 notes)")
    }
    generate(spark, src, out, reps)

    val all = sys.env.get("SPARK_GRAFT_HEADROOM_ALL").contains("1")
    // 4 Hz occupancy sampler (daemon). Round 13 (VERDICT r12 item 2 —
    // "attribute the 23.7 GB peak"): the whole-heap sample alone cannot
    // attribute anything, because under G1 the used-heap high-water mark
    // includes GARBAGE not yet collected — a healthy allocation-heavy
    // query drives it toward -Xmx by design. So the sampler now also
    // reads the unified memory manager's execution/storage pools
    // (DeveloperApi SparkEnv; the accessors are private[spark] at the
    // Scala level but public in bytecode, so a measurement tool may read
    // them reflectively) — what Spark is actually HOLDING — and the
    // per-query reset lets headroom_full.json carry peak/exec/storage
    // per query.
    val peakHeap = new java.util.concurrent.atomic.AtomicLong(0L)
    val qPeakHeap = new java.util.concurrent.atomic.AtomicLong(0L)
    val qPeakExec = new java.util.concurrent.atomic.AtomicLong(0L)
    val qPeakStor = new java.util.concurrent.atomic.AtomicLong(0L)
    val memBean = java.lang.management.ManagementFactory.getMemoryMXBean
    // The pool accessors are private[spark] at the Scala level but public
    // in bytecode; the LOOKUP is guarded too (ADVICE r13): a Spark version
    // that renames these members degrades the sweep to -1 pool metrics
    // instead of crashing it at startup.
    val memMgr: () => (Long, Long) =
      try {
        val env = org.apache.spark.SparkEnv.get
        val mm = env.getClass.getMethod("memoryManager").invoke(env)
        val exec = mm.getClass.getMethod("executionMemoryUsed")
        val stor = mm.getClass.getMethod("storageMemoryUsed")
        () => (exec.invoke(mm).asInstanceOf[Long],
               stor.invoke(mm).asInstanceOf[Long])
      } catch { case _: Throwable => () => (-1L, -1L) }
    def sampleOnce(): Unit = {
      val used = memBean.getHeapMemoryUsage.getUsed
      peakHeap.getAndUpdate(p => math.max(p, used))
      qPeakHeap.getAndUpdate(p => math.max(p, used))
      try {
        val (e, st) = memMgr()
        if (e >= 0) qPeakExec.getAndUpdate(p => math.max(p, e))
        if (st >= 0) qPeakStor.getAndUpdate(p => math.max(p, st))
      } catch { case _: Throwable => () }
      ()
    }
    val sampler = new Thread(() => {
      while (true) { sampleOnce(); Thread.sleep(250) }
    })
    sampler.setDaemon(true); sampler.start()
    // SPARK_GRAFT_HEADROOM_ONLY=a,b,c measures just that subset (new-query
    // spot checks without the full-surface sweep's cost)
    val only = sys.env.get("SPARK_GRAFT_HEADROOM_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    // sorted order keeps memo producers before consumers (clusters < repr)
    val names = only match {
      case Some(sel) => SparkEntry.queries.keys.toSeq.sorted.filter(sel)
      case None      => if (all) SparkEntry.queries.keys.toSeq.sorted else SlowQueries
    }
    // warm-up: JIT + codegen on the small fixture
    names.foreach { n =>
      try Harness.drain(SparkEntry.queries(n)(spark, "/root/testdata/sf0.001"))
      catch { case _: Throwable => () }
    }
    operators.Hints.evictAllMemos()
    val results = scala.collection.mutable.ArrayBuffer.empty[(String, Double, Double)]
    // per-query memory attribution: (peak heap, peak exec pool, peak
    // storage pool) during the query's reps
    val memRows = scala.collection.mutable.Map.empty[String, (Double, Double, Double)]
    val failedQ = scala.collection.mutable.ArrayBuffer.empty[String]
    def gb(x: Long): Double = x / (1024.0 * 1024 * 1024)
    // Between-REP reclaim (VERDICT r13 item 3): a finished rep's
    // anonymous checkpoint leaves (BFS per-level frontiers, label
    // rounds) are unreachable the moment its DataFrame drops, but the
    // ContextCleaner only reclaims them after a GC enqueues the weak
    // refs — so 4 interleaved reps held 4 generations of leaves
    // (storage pool 6.9 GB full → spill + cleaner lag; bfs read
    // 126.9 s in-sweep vs 45.2 s solo at 100×, r13). A forced GC + a
    // short drain window between reps lets each rep start from the
    // one-generation state a solo run sees. Memoized leaves are NOT
    // touched (still strongly referenced), so warm-rep semantics for
    // the memo queries are unchanged; the GC runs OUTSIDE the timed
    // window.
    def reclaim(): Unit = { System.gc(); Thread.sleep(250) }
    names.foreach { n =>
      val q = SparkEntry.queries(n)
      qPeakHeap.set(0L); qPeakExec.set(0L); qPeakStor.set(0L)
      // one synchronous sample at reset (+ one after the reps below):
      // queries shorter than the 250 ms sampler period otherwise record
      // 0.00 peaks, and a tail sample from query N could land on N+1 —
      // per-query rows carry ≤250 ms attribution skew either way.
      sampleOnce()
      try {
        // min of 2 reps on each side, interleaved, small side first
        val s1 = Harness.time(q(spark, src)); reclaim()
        val b1 = Harness.time(q(spark, out)); reclaim()
        val s2 = Harness.time(q(spark, src)); reclaim()
        val b2 = Harness.time(q(spark, out))
        val (s, b) = (math.min(s1, s2), math.min(b1, b2))
        results += ((n, s, b))
        if (!all)
          println(f"""{"query":"$n","src_s":$s%.3f,"scaled_s":$b%.3f,"ratio":${b / s}%.2f}""")
      } catch { case _: Throwable => failedQ += n }
      sampleOnce()
      // Progress to stderr (stdout stays clean for the JSON contract):
      // before round 13 the ALL sweep was silent until the trailer, so a
      // mid-sweep crash left no cursor for WHERE it died.
      System.err.println(s"[headroom] done $n (${results.size} ok, ${failedQ.size} failed)")
      // Cold-cache isolation between queries (round 11): drop every
      // memoized leaf a query persisted so the NEXT query measures from
      // the state its solo run would see — closes the documented
      // in-sweep-vs-solo gap (see Hints.evictAllMemos) and stops
      // leaf-persisting neighbors from inflating each other's numbers
      // via executor memory pressure. Within-query reps stay warm:
      // that is the same min-of-2 protocol the solo A/Bs run.
      operators.Hints.evictAllMemos()
      memRows(n) = (gb(qPeakHeap.get), gb(qPeakExec.get), gb(qPeakStor.get))
    }
    if (all) {
      val lines = results.map { case (n, s, b) =>
        val (ph, pe, ps) = memRows.getOrElse(n, (-1.0, -1.0, -1.0))
        f"""  "$n": {"src_s":$s%.3f,"scaled_s":$b%.3f,"ratio":${b / s}%.2f,"peak_gb":$ph%.2f,"exec_gb":$pe%.2f,"stor_gb":$ps%.2f}""" }
      val fw = new java.io.FileWriter("target/headroom_full.json")
      fw.write(lines.mkString("{\n", ",\n", "\n}\n")); fw.close()
      results.sortBy { case (_, s, b) => -(b / s) }.take(15).foreach {
        case (n, s, b) =>
          println(f"""{"query":"$n","src_s":$s%.3f,"scaled_s":$b%.3f,"ratio":${b / s}%.2f}""")
      }
    }
    val sorted = results.map { case (_, s, b) => b / s }.sorted
    val median = sorted(sorted.size / 2)
    val p90 = sorted(((sorted.size - 1) * 9) / 10)
    // Measured driver-heap answer to the 24 GB contract (round 12): the
    // max the 4 Hz sampler observed. (First attempt summed per-pool
    // getPeakUsage — G1's Eden/Survivor/Old peaks are NOT simultaneous,
    // so that "peak" read 35.3 GB on a 24 GB heap; a sampled
    // whole-heap max cannot exceed the real occupancy.)
    val peakHeapGb = peakHeap.get() / (1024.0 * 1024 * 1024)
    // decomposed peaks across the sweep + the END live set (post full
    // GC with all memos evicted): peak_heap − live_end is garbage +
    // transient working set, the share a bigger heap only buffers;
    // exec/stor are what Spark itself held at the worst moment.
    val maxExec = if (memRows.isEmpty) -1.0 else memRows.values.map(_._2).max
    val maxStor = if (memRows.isEmpty) -1.0 else memRows.values.map(_._3).max
    System.gc(); Thread.sleep(300)
    val liveEnd = memBean.getHeapMemoryUsage.getUsed / (1024.0 * 1024 * 1024)
    println(f"""{"metric":"headroom","reps":$reps,"n_queries":${sorted.size},"n_failed":${failedQ.size},"median_ratio":$median%.2f,"p90_ratio":$p90%.2f,"max_ratio":${sorted.last}%.2f,"peak_heap_gb":$peakHeapGb%.1f,"max_exec_gb":$maxExec%.2f,"max_stor_gb":$maxStor%.2f,"live_end_gb":$liveEnd%.2f}""")
    if (failedQ.nonEmpty) println(s"""{"failed":${failedQ.mkString("[\"", "\",\"", "\"]")}}""")
    spark.stop()
  }
}
