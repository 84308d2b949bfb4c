package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Scans, filters, sorts, limits and set operations (SURVEY.md §2.1/2.2/2.6/2.7).
  *
  * These are the operators Catalyst optimizes hardest: projections and
  * predicates are pushed into the parquet scan (visible as PushedFilters /
  * ReadSchema in the formatted plan), ORDER BY + LIMIT becomes
  * TakeOrderedAndProject (no full sort materialization — each task keeps a
  * bounded heap, the driver merges k×partitions rows), and set ops plan as
  * hash aggregates/joins that scale out with shuffle partitioning.
  */
object Relational {

  /** Full scan with a 4-column projection: the scan should read only these
    * columns (column pruning reaches the parquet footer). */
  def scanProject(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .select(
        col("l_orderkey"), col("l_linenumber"), col("l_partkey"),
        col("l_suppkey"),
        date_format(col("l_shipdate"), "yyyy-MM-dd").as("ship_date"),
        col("l_extendedprice"))
      .orderBy(col("l_orderkey").asc, col("l_linenumber").asc,
        col("l_partkey").asc, col("l_suppkey").asc)
      .limit(100)

  /** Deterministic k-th-row systematic sample (reference: sample.py writes
    * every k-th element). `% k = 0` instead of df.sample() so both engines
    * select identical rows. */
  def sampleSystematic(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .filter(col("l_orderkey") % 50 === 0)
      .select(col("l_orderkey"), col("l_linenumber"), col("l_partkey"),
        col("l_suppkey"), col("l_quantity"))
      .orderBy(col("l_orderkey").asc, col("l_linenumber").asc,
        col("l_partkey").asc, col("l_suppkey").asc)

  /** STRATIFIED systematic sample: every k-th row per stratum in a
    * deterministic within-stratum order — the training-data shape
    * ("cap/balance per source") that `TABLESAMPLE`/`.sample()` can't do
    * deterministically. One shuffle on the stratum key; rank + modulus
    * keeps it exact and oracle-able, unlike rand()-based sampling. */
  def sampleStratified(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("lang"), col("source"))
      .orderBy(col("doc_id").asc)
    Tables.documents(s, d)
      .withColumn("rk", row_number().over(w))
      .filter((col("rk") - 1) % 3 === 0)
      .select(col("doc_id"), col("lang"), col("source"), col("rk").cast("long").as("rk"))
      .orderBy(col("doc_id").asc)
  }

  /** Class-BALANCED downsample — the oversampled-class cap every
    * classifier-training set applies: each label keeps exactly
    * min-class-size rows, chosen as the lowest md5-hash ranks (a
    * deterministic uniform without-replacement draw — hash order is a
    * random permutation per label, reproducible across engines, unlike
    * rand()). The cap rides a 1-row broadcast fold; selection happens
    * in a per-label window. The declared output pins the exact CHOSEN
    * SET, not just its size (sum of kept ids per label), so the gate
    * certifies which rows were drawn. At 100 TB swap the window for the
    * bounded TopK buffer exactly as the KMV family does — same
    * bottom-k-by-hash shape. */
  def sampleBalanced(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val e = Tables.embeddings(s, d).select(col("vec_id"), col("label"))
      .withColumn("hx", md5(concat(lit("b"), col("vec_id").cast("string"))))
    val cap = e.groupBy(col("label")).agg(count(lit(1)).as("c"))
      .agg(min(col("c")).as("cap"))
    val w = Window.partitionBy(col("label"))
      .orderBy(col("hx").asc, col("vec_id").asc)
    e.withColumn("rk", row_number().over(w))
      .crossJoin(broadcast(cap))
      .filter(col("rk") <= col("cap"))
      .groupBy(col("label"))
      .agg(count(lit(1)).as("n_kept"), min(col("vec_id")).as("first_id"),
        sum(col("vec_id")).as("sum_ids"))
      .join(e.groupBy(col("label")).agg(count(lit(1)).as("n_total")), "label")
      .select(col("label").cast("long").as("label"), col("n_total"),
        col("n_kept"), col("first_id"), col("sum_ids"))
      .orderBy(col("label").asc)
  }

  /** Compound predicate; everything here folds to parquet-pushable
    * conjuncts (no float equality — ranges only, per SURVEY §7.5). */
  def filterPred(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .filter(
        col("l_shipdate").between("1996-01-01", "1997-12-31") &&
        col("l_quantity") < 30 &&
        col("l_returnflag") =!= "N" &&
        col("l_discount").between(0.02, 0.07))
      .select(col("l_orderkey"), col("l_linenumber"), col("l_partkey"),
        col("l_suppkey"), col("l_quantity"), col("l_discount"),
        col("l_returnflag"))
      .orderBy(col("l_orderkey").asc, col("l_linenumber").asc,
        col("l_partkey").asc, col("l_suppkey").asc)
      .limit(500)

  /** CASE WHEN bucketing of order totals into bands. */
  def caseExpr(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .withColumn("band",
        when(col("o_totalprice") < 50000, "low")
          .when(col("o_totalprice") < 150000, "mid")
          .otherwise("high"))
      .groupBy("band")
      .agg(count(lit(1)).as("cnt"))
      .orderBy(col("band").asc)

  /** Global top-100 by price — plans as TakeOrderedAndProject. */
  def sortLimit(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .select(col("l_orderkey"), col("l_linenumber"), col("l_partkey"),
        col("l_suppkey"), col("l_extendedprice"))
      .orderBy(col("l_extendedprice").desc, col("l_orderkey").asc,
        col("l_linenumber").asc, col("l_partkey").asc, col("l_suppkey").asc)
      .limit(100)

  private def uids(s: SparkSession, d: String, typ: String): DataFrame =
    Tables.events(s, d).filter(col("event_type") === typ).select("user_id")

  /** UNION (distinct) of purchaser and error-reporter user ids. */
  def setUnion(s: SparkSession, d: String): DataFrame =
    uids(s, d, "purchase").union(uids(s, d, "error"))
      .distinct().orderBy(col("user_id").asc)

  def setIntersect(s: SparkSession, d: String): DataFrame =
    uids(s, d, "purchase").intersect(uids(s, d, "click"))
      .orderBy(col("user_id").asc)

  def setExcept(s: SparkSession, d: String): DataFrame =
    uids(s, d, "view").except(uids(s, d, "purchase"))
      .orderBy(col("user_id").asc)

  /** Multiset EXCEPT ALL: view events minus purchase events per user with
    * MULTIPLICITY — each view row survives unless cancelled 1:1 by a
    * purchase row of the same user. Aggregated to (user_id, n) so the
    * declared output is small and order-stable. */
  def setExceptAll(s: SparkSession, d: String): DataFrame =
    uids(s, d, "view").exceptAll(uids(s, d, "purchase"))
      .groupBy(col("user_id")).agg(count(lit(1)).as("n"))
      .orderBy(col("user_id").asc)

  /** Multiset INTERSECT ALL: per user, min(view count, click count)
    * surviving rows. */
  def setIntersectAll(s: SparkSession, d: String): DataFrame =
    uids(s, d, "view").intersectAll(uids(s, d, "click"))
      .groupBy(col("user_id")).agg(count(lit(1)).as("n"))
      .orderBy(col("user_id").asc)

  /** Deterministic train/val/test split — the assignment every training
    * pipeline needs to be STABLE across reruns, engines, and cluster
    * sizes, which rand()-based splits are not. Bucket = last hex digit of
    * md5(doc_id) (a uniform 0..15 draw that any engine reproduces
    * bit-identically), split 12/2/2. A narrow map with no shuffle until
    * the per-(split, lang) audit counts; at 100 TB the same expression
    * tags each row in place — no global coordination, no sampling state. */
  def sampleSplit(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .withColumn("bucket",
        (expr("instr('0123456789abcdef', substring(md5(CAST(doc_id AS STRING)), 32, 1))") - 1)
          .cast("long"))
      .withColumn("split",
        when(col("bucket") < 12, "train")
          .when(col("bucket") < 14, "val")
          .otherwise("test"))
      .groupBy(col("split"), col("lang"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"))
      .orderBy(col("split").asc, col("lang").asc)

  /** Deterministic WEIGHTED sampling — importance sampling for training
    * mixes, stable across reruns/engines/cluster sizes like
    * [[sampleSplit]]: row kept iff a uniform md5 draw u ∈ [0,256)
    * (two hex digits) clears the row's weight, compared in integers
    * (u·W < 256·w ⟺ u/256 < w/W). Weight ∝ order value capped at W
    * (= $500,000.00, the corpus price ceiling), so inclusion
    * probability is proportional-to-size —
    * the PPS sampler every data-mix pipeline wants, with zero sampling
    * state: a narrow map tags each row in place at any scale. The
    * audit output groups by status: kept/total counts and kept value. */
  def sampleWeighted(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .withColumn("cents", expr("CAST(round(o_totalprice * 100) AS BIGINT)"))
      .withColumn("w", least(col("cents"), lit(50000000L)))
      .withColumn("u",
        (expr("instr('0123456789abcdef', substring(md5(CAST(o_orderkey AS STRING)), 31, 1))") - 1).cast("long") * 16L +
        (expr("instr('0123456789abcdef', substring(md5(CAST(o_orderkey AS STRING)), 32, 1))") - 1).cast("long"))
      .withColumn("kept", when(col("u") * 50000000L < col("w") * 256L, 1L).otherwise(0L))
      .groupBy(col("o_orderstatus"))
      .agg(sum(col("kept")).as("n_kept"), count(lit(1)).as("n_total"),
        sum(col("kept") * col("cents")).as("kept_cents"))
      .withColumn("kept_pm", expr("n_kept * 1000 div n_total"))
      .orderBy(col("o_orderstatus").asc)

  /** Cumulative Poisson(1) CDF in micro units, k = 0..7 — computed once
    * here and embedded as the same literal CASE in both engines (the
    * shared-constant discipline of the langid profiles / Benford table).
    * P(X > 7) ≈ 1e-5 collapses into count 8. */
  private[graft] val poissonCumMicro: Seq[Long] = {
    val e1 = math.exp(-1.0)
    var fact = 1.0
    var cum = 0.0
    (0 to 7).map { k =>
      if (k > 0) fact *= k
      cum += e1 / fact
      math.round(cum * 1e6)
    }
  }

  /** CASE expression mapping a [0, 10⁶) uniform column to a Poisson(1)
    * draw via the inverse CDF — identical text for both engines. */
  private def poissonCase(uCol: String): String =
    "CASE " + poissonCumMicro.zipWithIndex.map { case (t, k) =>
      s"WHEN $uCol < $t THEN $k" }.mkString(" ") + " ELSE 8 END"

  /** Poisson bootstrap of the mean order value (Chamandy et al. 2012,
    * "Estimating uncertainty for massive data streams" — the public
    * Google method): the with-replacement resample that DOES distribute —
    * each row independently appears Poisson(1) times per replica, so the
    * whole B-replica bootstrap is one ×B generator fan-out plus one
    * map-side-combined aggregate, no per-replica corpus pass and no
    * global sampling state. Every "random" draw is the md5 fold of
    * (orderkey, replica) through the shared inverse-CDF constants
    * ([[poissonCumMicro]]) — deterministic, hash-exact, and independent
    * across replicas by key separation. Output: per-replica effective n
    * and mean cents (the bootstrap distribution a caller reads the CI
    * off), plus each replica's deviation from the point estimate. */
  def sampleBootstrap(s: SparkSession, d: String): DataFrame = {
    val reps = 16
    val base = Tables.orders(s, d)
      .select(col("o_orderkey"),
        expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("cents"))
    val point = base.agg(
      expr("sum(cents) div count(*)").as("point_mean_cents"))
    base
      .select(col("o_orderkey"), col("cents"),
        explode(expr(s"sequence(CAST(0 AS BIGINT), CAST(${reps - 1} AS BIGINT))"))
          .as("rep"))
      .withColumn("hx", expr("md5(concat(CAST(o_orderkey AS STRING), ':', CAST(rep AS STRING)))"))
      .withColumn("u", expr(s"${DetHash.sparkHexInt("hx")} % 1000000"))
      .withColumn("c", expr(s"CAST(${poissonCase("u")} AS BIGINT)"))
      .groupBy(col("rep"))
      .agg(sum(col("c")).as("n_eff"),
        sum(col("c") * col("cents")).as("s_cents"))
      .withColumn("mean_cents", expr("s_cents div n_eff"))
      .crossJoin(broadcast(point))
      .select(col("rep"), col("n_eff"), col("mean_cents"),
        (col("mean_cents") - col("point_mean_cents")).as("dev_cents"))
      .orderBy(col("rep").asc)
  }

  /** Declared query THROUGH the DataSource V2 connector
    * ([[graft.sources.LatticeSource]]): scan the synthetic point lattice
    * with an id-range predicate the connector consumes into its partition
    * planning (LatticeSourceSpec asserts the shrunken range in the plan),
    * then a per-tag rollup. The oracle regenerates identical rows from
    * DuckDB's range() — every derived value is the same IEEE expression
    * on both engines, and the only accumulated aggregate is the INTEGER
    * lattice numerator (double min/max are selections, never sums). */
  def srcLattice(s: SparkSession, d: String): DataFrame =
    s.read.format("lattice").option("n", "20000").load()
      .filter(col("id") >= 5000 && col("id") < 15000)
      .groupBy(col("tag"))
      .agg(count(lit(1)).as("n"),
        min(col("lat")).as("min_lat"),
        max(col("lat")).as("max_lat"),
        sum((col("id") * 37) % 12000).as("lat_units"))
      .orderBy(col("tag").asc)

  /** Metadata-answered aggregation surface: ungrouped COUNT/MIN(id)/
    * MAX(id) over a filter-narrowed lattice range push COMPLETELY into
    * the V2 connector (SupportsPushDownAggregates) — the scan emits one
    * closed-form row and zero data rows ever cross the source boundary,
    * the same way a parquet reader answers count(*) from footers. The
    * pushed plan shape is pinned in LatticeSourceSpec; here the VALUES
    * are oracled against DuckDB's range(). */
  def srcLatticeAgg(s: SparkSession, d: String): DataFrame =
    s.read.format("lattice").option("n", "20000").load()
      .filter(col("id") >= 5000 && col("id") < 15000)
      .agg(count(lit(1)).as("n_points"),
        min(col("id")).as("min_id"),
        max(col("id")).as("max_id"))

  /** Catalog-routed twin of [[srcLatticeAgg]]: the same aggregate
    * reaches the connector through PURE SQL over V2 catalog identifiers
    * (TableCatalog plugin registered on the session conf) — proving the
    * catalog tier end-to-end against the same oracle, complete
    * aggregate pushdown included (LatticeSourceSpec pins the plan). */
  def srcCatalog(s: SparkSession, d: String): DataFrame = {
    s.conf.set("spark.sql.catalog.graft", "graft.sources.LatticeCatalog")
    s.sql(
      """SELECT count(*) AS n_points, min(id) AS min_id, max(id) AS max_id
        |FROM graft.gen.lattice_20000
        |WHERE id >= 5000 AND id < 15000""".stripMargin)
  }

  /** Partition-pruned read surface — the storage-layout twin of
    * q_join_bucketed: orders written Hive-partitioned by o_orderstatus
    * (idempotent local copy, the analog of maintaining a partitioned
    * production table), then read with a status predicate that prunes at
    * PLANNING time — the scan lists only the matching directory
    * (PartitionFilters in the plan, asserted in PlanQualitySpec; zero
    * I/O for the other status values). At 100 TB this is the first
    * lever against any selective-predicate scan: the filter never
    * touches data at all. Revenue is summed in exact integer cents. */
  /** Layout-copy directory keyed by the SOURCE file's fingerprint as
    * well as the sf dir: the driver has regenerated /root/testdata
    * in place twice (TESTDATA.md), and a path-only key would keep
    * serving the STALE layout copy after a regeneration — an oracle
    * mismatch with no visible cause. A fingerprint change simply
    * derives a fresh dir and rebuilds (the stale copy is a few MB under
    * `java.io.tmpdir`, where every copy lives). The key is md5'd to a
    * fixed-length token: a DIRECTORY table's fingerprint concatenates
    * every part file's (name, mtime, len), and on the multi-part scale
    * replicas the raw string blew past the filesystem's 255-byte
    * filename limit (measured: Mkdirs failure on the 10× replica's
    * customer copy). */
  private[graft] def layoutDir(s: SparkSession, d: String, table: String,
      prefix: String): String = {
    val key = d + "/" + table + "@" +
      graft.Tables.pathFingerprint(s, s"$d/$table.parquet")
    val md = java.security.MessageDigest.getInstance("MD5")
    val token = md.digest(key.getBytes("UTF-8")).map(b => f"$b%02x").mkString
    java.nio.file.Paths.get(System.getProperty("java.io.tmpdir"),
      s"graft_${prefix}_$token").toString
  }

  def srcPartitioned(s: SparkSession, d: String): DataFrame = {
    val dir = layoutDir(s, d, "orders", "part_orders")
    val marker = new java.io.File(dir + "/_SUCCESS")
    if (!marker.isFile)
      graft.Tables.writePartitioned(Tables.orders(s, d), dir, "o_orderstatus")
    s.read.parquet(dir)
      .filter(col("o_orderstatus") === "F")
      .withColumn("cents", expr("CAST(round(o_totalprice * 100) AS BIGINT)"))
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_orders"), sum(col("cents")).as("sum_cents"))
      .orderBy(col("o_orderpriority").asc)
  }

  /** JSONL ingest surface — the wire format every web-scale text corpus
    * actually arrives in (Common Crawl WET derivatives, Dolma, RedPajama
    * all ship newline-delimited JSON): documents round-tripped through
    * `.write.json` once (idempotent fingerprint-keyed copy, like every
    * layout surface here) and read back with an EXPLICIT schema — at
    * 100 TB schema inference is a full extra pass over the corpus, so a
    * production reader never infers. The declared aggregate carries a
    * per-language md5-fold checksum of the text column: the oracle runs
    * on the ORIGINAL parquet, so a hash match proves the JSON encode →
    * decode round trip was byte-exact, not just row-count-preserving. */
  def srcJsonl(s: SparkSession, d: String): DataFrame = {
    val dir = layoutDir(s, d, "documents", "jsonl_docs")
    val src = Tables.documents(s, d)
    if (!new java.io.File(dir + "/_SUCCESS").isFile)
      src.write.mode("overwrite").json(dir)
    s.read.schema(src.schema).json(dir)
      .withColumn("hx", md5(col("text")))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(length(col("text"))).cast("long").as("sum_chars"),
        sum(expr(DetHash.sparkHexInt("hx"))).as("checksum"))
      .orderBy(col("lang").asc)
  }

  /** CSV ingest surface — the other ubiquitous text wire format:
    * customer round-tripped through `.write.csv` (header on, quoting
    * left to the writer) and read back with the EXPLICIT parquet schema
    * (same no-inference rule as [[srcJsonl]] — and doubly so for CSV,
    * where inference also guesses types). The checksum rides c_name and
    * the cents sum rides the round-tripped DOUBLE c_acctbal: Java's
    * shortest-round-trip double formatting guarantees parse-back
    * bit-equality, which the oracle (on the original parquet) then
    * hash-verifies. */
  def srcCsv(s: SparkSession, d: String): DataFrame = {
    val dir = layoutDir(s, d, "customer", "csv_cust")
    val src = Tables.customer(s, d)
    if (!new java.io.File(dir + "/_SUCCESS").isFile)
      src.write.mode("overwrite").option("header", "true").csv(dir)
    s.read.schema(src.schema).option("header", "true").csv(dir)
      .withColumn("hx", md5(col("c_name")))
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n_cust"),
        sum(expr("CAST(round(c_acctbal * 100) AS BIGINT)")).as("sum_cents"),
        sum(expr(DetHash.sparkHexInt("hx"))).as("checksum"))
      .orderBy(col("c_mktsegment").asc)
  }

  /** Morton/Z-value of two keys, each first normalized MONOTONICALLY
    * into [0, 2^bits) — bit interleave preserves locality only under a
    * monotone mapping (a hash would scatter it). Pure integer
    * shift/mask algebra: codegen-friendly, deterministic. */
  def zvalue(a: Column, b: Column, bits: Int): Column =
    (0 until bits).map { i =>
      shiftleft(shiftright(a, i).bitwiseAND(lit(1L)), 2 * i)
        .bitwiseOR(shiftleft(shiftright(b, i).bitwiseAND(lit(1L)), 2 * i + 1))
    }.reduce[Column](_ bitwiseOR _)

  /** Z-ORDER clustered read surface — the fourth storage-layout lever,
    * for MULTI-dimensional selective predicates where the other three
    * each cover one axis (partitionBy: equality on one low-cardinality
    * key; range: one range key; bucketBy: one join key). Lineitem is
    * written once range-partitioned + sorted on the Morton interleave of
    * (l_partkey, l_suppkey) — both normalized monotonically to 10 bits
    * via the footer-count domain bound (job-free at construction) — so
    * every file's (partkey × suppkey) bounding box is a small tile of
    * the 2-D domain instead of a full-width stripe. A conjunctive
    * 2-D range predicate then prunes most files/row-groups on BOTH
    * columns' min/max stats, where a 1-D sort prunes only its own axis
    * (LayoutZorderSpec measures exactly this: tile spans vs stripe
    * spans on the same data). At 100 TB this is the standard
    * data-clustering move (Delta/Iceberg OPTIMIZE ZORDER) and it's pure
    * layout: the declared result is oracle-identical to the plain scan. */
  def srcZorder(s: SparkSession, d: String): DataFrame = {
    val dir = layoutDir(s, d, "lineitem", "zorder_li")
    val marker = new java.io.File(dir + "/_SUCCESS")
    val pN = graft.Tables.rowCount(s, d, "part")
    val sN = graft.Tables.rowCount(s, d, "supplier")
    if (!marker.isFile) {
      val z = zvalue(
        expr(s"l_partkey * 1024L div ${pN + 1}L"),
        expr(s"l_suppkey * 1024L div ${sN + 1}L"), 10)
      Tables.lineitem(s, d)
        .withColumn("__z", z)
        .repartitionByRange(16, col("__z"))
        .sortWithinPartitions(col("__z"))
        .drop("__z")
        .write.mode("overwrite").parquet(dir)
    }
    s.read.parquet(dir)
      .filter(col("l_partkey") <= pN / 8 && col("l_suppkey") <= sN / 8)
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n_rows"),
        sum(col("l_quantity").cast("long")).as("sum_qty"))
      .orderBy(col("l_returnflag").asc)
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_src_partitioned" -> srcPartitioned,
    "q_src_zorder" -> srcZorder,
    "q_src_jsonl" -> srcJsonl,
    "q_src_csv" -> srcCsv,
    "q_src_lattice" -> srcLattice,
    "q_src_lattice_agg" -> srcLatticeAgg,
    "q_src_catalog" -> srcCatalog,
    "q_sample_split"      -> sampleSplit,
    "q_sample_weighted"   -> sampleWeighted,
    "q_sample_bootstrap"  -> sampleBootstrap,
    "q_set_except_all"    -> setExceptAll,
    "q_set_intersect_all" -> setIntersectAll,
    "q_scan_project"      -> scanProject,
    "q_sample_systematic" -> sampleSystematic,
    "q_sample_stratified" -> sampleStratified,
    "q_sample_balanced"   -> sampleBalanced,
    "q_filter_pred"       -> filterPred,
    "q_case_expr"         -> caseExpr,
    "q_sort_limit"        -> sortLimit,
    "q_set_union"         -> setUnion,
    "q_set_intersect"     -> setIntersect,
    "q_set_except"        -> setExcept
  )

  val oracle: Map[String, String] = Map(
    "q_src_jsonl" ->
      (s"""SELECT lang, count(*) AS n_docs,
         |       CAST(sum(length(text)) AS BIGINT) AS sum_chars,
         |       CAST(sum(${DetHash.duckHexInt("md5(text)")}) AS BIGINT)
         |         AS checksum
         |FROM documents
         |GROUP BY lang
         |ORDER BY lang ASC""").stripMargin,
    "q_src_csv" ->
      (s"""SELECT c_mktsegment, count(*) AS n_cust,
         |       CAST(sum(CAST(round(c_acctbal * 100) AS BIGINT)) AS BIGINT)
         |         AS sum_cents,
         |       CAST(sum(${DetHash.duckHexInt("md5(c_name)")}) AS BIGINT)
         |         AS checksum
         |FROM customer
         |GROUP BY c_mktsegment
         |ORDER BY c_mktsegment ASC""").stripMargin,
    "q_src_zorder" ->
      """SELECT l_returnflag, count(*) AS n_rows,
        |       CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty
        |FROM lineitem
        |WHERE l_partkey <= (SELECT count(*) FROM part) // 8
        |  AND l_suppkey <= (SELECT count(*) FROM supplier) // 8
        |GROUP BY l_returnflag
        |ORDER BY l_returnflag ASC""".stripMargin,
    "q_src_partitioned" ->
      """SELECT o_orderpriority, count(*) AS n_orders,
        |       CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
        |         AS sum_cents
        |FROM orders
        |WHERE o_orderstatus = 'F'
        |GROUP BY o_orderpriority
        |ORDER BY o_orderpriority ASC""".stripMargin,
    "q_src_lattice_agg" ->
      """SELECT count(*) AS n_points, min(i) AS min_id, max(i) AS max_id
        |FROM (SELECT unnest(range(5000, 15000)) AS i)""".stripMargin,
    "q_src_catalog" ->
      """SELECT count(*) AS n_points, min(i) AS min_id, max(i) AS max_id
        |FROM (SELECT unnest(range(5000, 15000)) AS i)""".stripMargin,
    "q_src_lattice" ->
      """SELECT CASE WHEN i % 2 = 0 THEN 'even' ELSE 'odd' END AS tag,
        |       count(*) AS n,
        |       min(CAST((i * 37) % 12000 AS DOUBLE) / 100.0 - 60 + 0.005) AS min_lat,
        |       max(CAST((i * 37) % 12000 AS DOUBLE) / 100.0 - 60 + 0.005) AS max_lat,
        |       CAST(sum((i * 37) % 12000) AS BIGINT) AS lat_units
        |FROM (SELECT unnest(range(5000, 15000)) AS i)
        |GROUP BY tag
        |ORDER BY tag ASC""".stripMargin,
    "q_sample_bootstrap" -> {
      val pcase = "CASE " + poissonCumMicro.zipWithIndex.map { case (t, k) =>
        s"WHEN u < $t THEN $k" }.mkString(" ") + " ELSE 8 END"
      s"""WITH b AS (
         |  SELECT o_orderkey,
         |         CAST(round(o_totalprice * 100) AS BIGINT) AS cents
         |  FROM orders),
         |pt AS (
         |  SELECT CAST(sum(cents) // count(*) AS BIGINT)
         |           AS point_mean_cents
         |  FROM b),
         |u AS (
         |  SELECT b.o_orderkey, b.cents, r.rep,
         |         ${DetHash.duckHexInt(
                     "md5(CAST(b.o_orderkey AS VARCHAR) || ':' || " +
                     "CAST(r.rep AS VARCHAR))")} % 1000000 AS u
         |  FROM b CROSS JOIN
         |       (SELECT CAST(unnest(range(0, 16)) AS BIGINT) AS rep) r),
         |c AS (
         |  SELECT rep, cents, CAST($pcase AS BIGINT) AS c FROM u),
         |m AS (
         |  SELECT rep, CAST(sum(c) AS BIGINT) AS n_eff,
         |         CAST(sum(c * cents) // sum(c) AS BIGINT) AS mean_cents
         |  FROM c GROUP BY rep)
         |SELECT m.rep, m.n_eff, m.mean_cents,
         |       CAST(m.mean_cents - pt.point_mean_cents AS BIGINT)
         |         AS dev_cents
         |FROM m, pt
         |ORDER BY m.rep ASC""".stripMargin
    },
    "q_sample_weighted" ->
      """WITH t AS (
        |  SELECT o_orderstatus,
        |         CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
        |         least(CAST(round(o_totalprice * 100) AS BIGINT), 50000000) AS w,
        |         CAST(strpos('0123456789abcdef',
        |           substr(md5(CAST(o_orderkey AS VARCHAR)), 31, 1)) - 1 AS BIGINT) * 16 +
        |         CAST(strpos('0123456789abcdef',
        |           substr(md5(CAST(o_orderkey AS VARCHAR)), 32, 1)) - 1 AS BIGINT) AS u
        |  FROM orders),
        |k AS (SELECT o_orderstatus, cents,
        |             CASE WHEN u * 50000000 < w * 256 THEN 1 ELSE 0 END AS kept
        |      FROM t)
        |SELECT o_orderstatus,
        |       CAST(sum(kept) AS BIGINT) AS n_kept,
        |       count(*) AS n_total,
        |       CAST(sum(kept * cents) AS BIGINT) AS kept_cents,
        |       CAST(sum(kept) * 1000 // count(*) AS BIGINT) AS kept_pm
        |FROM k
        |GROUP BY o_orderstatus
        |ORDER BY o_orderstatus ASC""".stripMargin,
    "q_sample_split" ->
      """SELECT CASE WHEN bucket < 12 THEN 'train'
        |            WHEN bucket < 14 THEN 'val'
        |            ELSE 'test' END AS split,
        |       lang, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS sum_chars
        |FROM (
        |  SELECT lang, n_chars,
        |         CAST(strpos('0123456789abcdef',
        |           substr(md5(CAST(doc_id AS VARCHAR)), 32, 1)) - 1 AS BIGINT)
        |           AS bucket
        |  FROM documents)
        |GROUP BY split, lang
        |ORDER BY split ASC, lang ASC""".stripMargin,
    "q_scan_project" ->
      """SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey,
        |       strftime(l_shipdate, '%Y-%m-%d') AS ship_date,
        |       l_extendedprice
        |FROM lineitem
        |ORDER BY l_orderkey ASC, l_linenumber ASC, l_partkey ASC, l_suppkey ASC
        |LIMIT 100""".stripMargin,
    "q_sample_balanced" ->
      """WITH e AS (
        |  SELECT vec_id, label,
        |         md5('b' || CAST(vec_id AS VARCHAR)) AS hx
        |  FROM embeddings),
        |cap AS (SELECT min(c) AS cap FROM
        |          (SELECT count(*) AS c FROM e GROUP BY label)),
        |r AS (SELECT vec_id, label,
        |        row_number() OVER (PARTITION BY label
        |          ORDER BY hx ASC, vec_id ASC) AS rk
        |      FROM e),
        |k AS (SELECT label, count(*) AS n_kept, min(vec_id) AS first_id,
        |             CAST(sum(vec_id) AS BIGINT) AS sum_ids
        |      FROM r, cap WHERE rk <= cap GROUP BY label),
        |t AS (SELECT label, count(*) AS n_total FROM e GROUP BY label)
        |SELECT CAST(t.label AS BIGINT) AS label,
        |       CAST(t.n_total AS BIGINT) AS n_total,
        |       CAST(k.n_kept AS BIGINT) AS n_kept,
        |       k.first_id, k.sum_ids
        |FROM t JOIN k ON t.label = k.label
        |ORDER BY label ASC""".stripMargin,
    "q_sample_stratified" ->
      """SELECT doc_id, lang, source, rk
        |FROM (
        |  SELECT doc_id, lang, source,
        |         CAST(row_number() OVER (PARTITION BY lang, source
        |                                 ORDER BY doc_id ASC) AS BIGINT) AS rk
        |  FROM documents)
        |WHERE (rk - 1) % 3 = 0
        |ORDER BY doc_id ASC""".stripMargin,
    "q_sample_systematic" ->
      """SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey, l_quantity
        |FROM lineitem
        |WHERE l_orderkey % 50 = 0
        |ORDER BY l_orderkey ASC, l_linenumber ASC, l_partkey ASC, l_suppkey ASC""".stripMargin,
    "q_filter_pred" ->
      """SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey, l_quantity,
        |       l_discount, l_returnflag
        |FROM lineitem
        |WHERE l_shipdate BETWEEN TIMESTAMP '1996-01-01' AND TIMESTAMP '1997-12-31'
        |  AND l_quantity < 30
        |  AND l_returnflag <> 'N'
        |  AND l_discount BETWEEN 0.02 AND 0.07
        |ORDER BY l_orderkey ASC, l_linenumber ASC, l_partkey ASC, l_suppkey ASC
        |LIMIT 500""".stripMargin,
    "q_case_expr" ->
      """SELECT CASE WHEN o_totalprice < 50000 THEN 'low'
        |            WHEN o_totalprice < 150000 THEN 'mid'
        |            ELSE 'high' END AS band,
        |       count(*) AS cnt
        |FROM orders
        |GROUP BY band
        |ORDER BY band ASC""".stripMargin,
    "q_sort_limit" ->
      """SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey, l_extendedprice
        |FROM lineitem
        |ORDER BY l_extendedprice DESC, l_orderkey ASC, l_linenumber ASC,
        |         l_partkey ASC, l_suppkey ASC
        |LIMIT 100""".stripMargin,
    "q_set_union" ->
      """SELECT user_id FROM events WHERE event_type = 'purchase'
        |UNION
        |SELECT user_id FROM events WHERE event_type = 'error'
        |ORDER BY user_id ASC""".stripMargin,
    "q_set_intersect" ->
      """SELECT user_id FROM events WHERE event_type = 'purchase'
        |INTERSECT
        |SELECT user_id FROM events WHERE event_type = 'click'
        |ORDER BY user_id ASC""".stripMargin,
    "q_set_except" ->
      """SELECT user_id FROM events WHERE event_type = 'view'
        |EXCEPT
        |SELECT user_id FROM events WHERE event_type = 'purchase'
        |ORDER BY user_id ASC""".stripMargin,
    "q_set_except_all" ->
      """SELECT user_id, count(*) AS n FROM (
        |  SELECT user_id FROM events WHERE event_type = 'view'
        |  EXCEPT ALL
        |  SELECT user_id FROM events WHERE event_type = 'purchase')
        |GROUP BY user_id
        |ORDER BY user_id ASC""".stripMargin,
    "q_set_intersect_all" ->
      """SELECT user_id, count(*) AS n FROM (
        |  SELECT user_id FROM events WHERE event_type = 'view'
        |  INTERSECT ALL
        |  SELECT user_id FROM events WHERE event_type = 'click')
        |GROUP BY user_id
        |ORDER BY user_id ASC""".stripMargin
  )
}
