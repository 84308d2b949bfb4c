package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables

/** Similarity search over the embedding column (driver-ordered extension).
  *
  * Brute-force cosine is always blocked (label / coarse-label equality)
  * so the pair count is bounded — an unblocked all-pairs join is banned
  * (SURVEY §7.5). The query side is broadcast, so the candidate scan never
  * shuffles: at cluster scale this is "broadcast the queries, map over the
  * corpus, per-partition top-k, merge" — exactly how a distributed
  * brute-force kNN should look. The LSH-bucketed variant (q_sim_ann in
  * Dedup.scala's hyperplane machinery) is the sublinear-candidate path.
  *
  * Dot products and norms are sequential left-folds over the same element
  * order on both engines (Spark `aggregate` HOF ≡ DuckDB `list_reduce`),
  * so cosines are bit-identical pre-round and ranking can safely use the
  * raw double.
  */
object Sim {

  private def vectors(s: SparkSession, d: String): DataFrame = {
    graft.functions.VectorExprs.register(s)
    Tables.embeddings(s, d)
      .withColumn("nrm", expr("sqrt(vec_dot(embedding, embedding))"))
  }

  private def pairs(s: SparkSession, d: String,
      qFilter: DataFrame => DataFrame,
      blockOn: org.apache.spark.sql.Column,
      pairPred: org.apache.spark.sql.Column): DataFrame = {
    val e = vectors(s, d)
    val q = qFilter(e).select(col("vec_id").as("q_id"), col("label").as("q_label"),
      col("embedding").as("q_arr"), col("nrm").as("q_nrm"))
    val c = e.select(col("vec_id").as("c_id"), col("label").as("c_label"),
      col("embedding").as("c_arr"), col("nrm").as("c_nrm"))
    broadcast(q).join(c, blockOn && pairPred)
      .withColumn("dot", expr("vec_dot(q_arr, c_arr)"))
      .withColumn("cos", col("dot") / (col("q_nrm") * col("c_nrm")))
  }

  /** Cosine top-5 neighbors for query vectors vec_id<10, label-blocked. */
  def simTopk(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("cos").desc, col("c_id").asc)
    pairs(s, d, _.filter(col("vec_id") < 10),
        col("q_label") === col("c_label"), col("q_id") =!= col("c_id"))
      .withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <= 5)
      .select(col("q_id"), col("c_id"), round(col("cos"), 4).as("cos_sim"),
        col("rn"))
      .orderBy(col("q_id").asc, col("rn").asc)
  }

  /** kNN classification: majority label among the top-5 neighbors in a
    * coarser block (label%5) so the vote is non-degenerate. */
  /** Hard-negative mining for contrastive training (the triplet-mining
    * step of Schroff et al. 2015, "FaceNet", arXiv:1503.03832 — public
    * method): for each anchor, the top-3 most-similar vectors of a
    * DIFFERENT fine label inside the same coarse block (label mod 5) —
    * negatives that are close in embedding space are the ones a
    * contrastive loss learns from. Same broadcast-anchors blocked scan
    * as [[simTopk]]: the coarse-block equality bounds the candidate
    * stream exactly like q_knn_label's, the label inequality selects
    * negatives, and the per-anchor window takes the 3 hardest. */
  def simHardneg(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("cos").desc, col("c_id").asc)
    pairs(s, d, _.filter(col("vec_id") < 10),
        col("q_label") % 5 === col("c_label") % 5,
        col("q_label") =!= col("c_label"))
      .withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <= 3)
      .select(col("q_id"), col("q_label").cast("long").as("q_label"),
        col("c_id"), col("c_label").cast("long").as("c_label"),
        round(col("cos"), 4).as("cos_sim"), col("rn"))
      .orderBy(col("q_id").asc, col("rn").asc)
  }

  def knnLabel(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("cos").desc, col("c_id").asc)
    val w2 = Window.partitionBy(col("q_id"))
      .orderBy(col("votes").desc, col("c_label").asc)
    pairs(s, d, _.filter(col("vec_id") < 10),
        col("q_label") % 5 === col("c_label") % 5, col("q_id") =!= col("c_id"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 5)
      .groupBy(col("q_id"), col("c_label"))
      .agg(count(lit(1)).as("votes"))
      .withColumn("vr", row_number().over(w2))
      .filter(col("vr") === 1)
      .select(col("q_id"), col("c_label").cast("long").as("pred_label"),
        col("votes"))
      .orderBy(col("q_id").asc)
  }

  /** Embedding-cosine near-duplicate detection: top-20 most-similar pairs
    * among hyperplane-LSH candidates (a<b dedup of the pair space).
    *
    * The candidate generator is [[Dedup.annBuckets]]: near-identical
    * vectors agree on every hyperplane sign bit, so blocking on the
    * 8-bit bucket finds them while cutting the pair space ~256×. The
    * shuffle_hash hint pins the scale-correct plan — a shuffle join
    * co-located on the bucket key — rather than letting local-mode size
    * estimates broadcast an unbounded corpus side (the round-1 shape:
    * broadcast(whole table) + label-blocked all-pairs, a driver OOM at
    * 100×). The oracle blocks on the same generated bucket SQL. */
  def dedupEmbcos(s: SparkSession, d: String): DataFrame = {
    val e = Dedup.annBuckets(vectors(s, d), Tables.rowCount(s, d, "embeddings"))
    val a = e.select(col("bucket"), col("vec_id").as("a_id"),
      col("embedding").as("ea"), col("nrm").as("na"))
    val b = e.select(col("bucket").as("bucket_b"), col("vec_id").as("b_id"),
      col("embedding").as("eb"), col("nrm").as("nb"))
    a.hint("shuffle_hash")
      .join(b, col("bucket") === col("bucket_b") && col("a_id") < col("b_id"))
      .withColumn("cos", expr("vec_dot(ea, eb)") / (col("na") * col("nb")))
      .select(col("a_id"), col("b_id"), round(col("cos"), 4).as("cos_sim"))
      .orderBy(col("cos_sim").desc, col("a_id").asc, col("b_id").asc)
      .limit(20)
  }

  // ------------------------------------------------------------ SemDeDup

  /** Shared ×64 int8 quantization (the q_emb_stats/q_sim_kmeans scale),
    * as a SQL fragment so it can sit inside larger expressions. */
  private val SemQvSql =
    "transform(embedding, x -> CAST(least(127, greatest(-128, " +
      "floor(CAST(x AS DOUBLE) * 64.0D + 0.5D))) AS BIGINT))"

  /** Adaptive cluster count for [[dedupSemdedup]]: one centroid per ~512
    * vectors so the within-cluster pair space stays LINEAR in n (expected
    * 512²/2 pairs per cluster × n/512 clusters ≈ 256·n), clamped to
    * [4, 4096]. The floor keeps every oracled fixture (≤ 2 000 vectors)
    * at k = 4 — results stable across SFs; the ceiling bounds the
    * broadcast codebook at ~4096 × 520 B ≈ 2 MB. Beyond the ceiling the
    * expected cluster grows again; the production hand-off at that point
    * is a two-level coarse quantizer (exactly the IVF assign the q_sim_ivf
    * family implements), not a bigger broadcast. The count arrives from
    * [[graft.Tables.rowCount]]'s parquet-footer metadata — zero Spark
    * jobs at plan construction (the laziness gate pins this). */
  def semK(n: Long): Long = math.max(4L, math.min(4096L, n / 512))

  /** Stage-1 assign shared by [[dedupSemdedup]] and [[embPruneProto]]:
    * quantize, fold the k deterministic seed centroids into one broadcast
    * codebook row, and compute each vector's argmin-L2 centroid with a
    * per-row higher-order fold — map-only, no shuffle, no k× row
    * amplification. Emits (vec_id, cid, dist2, qv, n2); consumers that
    * don't need a column let Catalyst prune it. */
  private def semAssign(s: SparkSession, d: String): DataFrame = {
    val k = semK(Tables.rowCount(s, d, "embeddings"))
    val q = Tables.embeddings(s, d)
      .select(col("vec_id"), expr(SemQvSql).as("qv"))
    // distinct() (not a bare filter): replicated corpora repeat vec_ids,
    // and the codebook must stay exactly k rows of k distinct seeds
    val cents = q.filter(col("vec_id") < k).distinct()
      .agg(expr("sort_array(collect_list(named_struct('cid', vec_id, 'cqv', qv)))")
        .as("ca"))
    q.crossJoin(broadcast(cents))
      .withColumn("best", expr(
        """aggregate(
          |  transform(ca, cc -> named_struct(
          |    'dist', aggregate(zip_with(qv, cc.cqv, (a, b) -> (a - b) * (a - b)),
          |              CAST(0 AS BIGINT), (acc, x) -> acc + x),
          |    'cid', cc.cid)),
          |  named_struct('dist', CAST(4611686018427387904 AS BIGINT),
          |               'cid', CAST(4611686018427387904 AS BIGINT)),
          |  (acc, x) -> IF(x.dist < acc.dist
          |                 OR (x.dist = acc.dist AND x.cid < acc.cid), x, acc))"""
          .stripMargin))
      .withColumn("n2", expr(
        "aggregate(transform(qv, v -> v * v), CAST(0 AS BIGINT), (a, x) -> a + x)"))
      .select(col("vec_id"), col("best.cid").as("cid"),
        col("best.dist").as("dist2"), col("qv"), col("n2"))
  }

  /** DuckDB twin of [[semAssign]] — the shared `WITH` prefix both
    * embedding-pruning oracles build on. Ends with `asg(vec_id, qv, cid,
    * dist2, n2)`. */
  private val SemAsgCte: String =
    """WITH q AS (
      |  SELECT vec_id,
      |         list_transform(embedding, x -> CAST(least(127, greatest(-128,
      |           floor(CAST(x AS DOUBLE) * 64.0 + 0.5))) AS BIGINT)) AS qv
      |  FROM embeddings),
      |c AS (
      |  SELECT DISTINCT vec_id AS cid, qv AS cqv
      |  FROM q WHERE vec_id <
      |    (SELECT greatest(4, least(4096, count(*) // 512)) FROM embeddings)),
      |carr AS (
      |  SELECT list(struct_pack(cid := cid, cqv := cqv) ORDER BY cid ASC)
      |           AS ca
      |  FROM c),
      |asg AS (
      |  SELECT vec_id, qv, best.cid AS cid, best.dist AS dist2,
      |         list_reduce(list_prepend(CAST(0 AS BIGINT),
      |           list_transform(qv, v -> v * v)), (a, x) -> a + x) AS n2
      |  FROM (
      |    SELECT vec_id, qv,
      |           list_reduce(
      |             list_prepend(
      |               struct_pack(dist := CAST(4611686018427387904 AS BIGINT),
      |                           cid := CAST(4611686018427387904 AS BIGINT)),
      |               list_transform(ca, cc -> struct_pack(
      |                 dist := list_reduce(list_prepend(CAST(0 AS BIGINT),
      |                   list_transform(list_zip(qv, cc.cqv),
      |                     z -> (z[1] - z[2]) * (z[1] - z[2]))),
      |                   (acc, x) -> acc + x),
      |                 cid := cc.cid))),
      |             (acc, x) -> CASE WHEN x.dist < acc.dist
      |                           OR (x.dist = acc.dist AND x.cid < acc.cid)
      |                         THEN x ELSE acc END) AS best
      |    FROM q CROSS JOIN carr))""".stripMargin

  /** SemDeDup — semantic near-duplicate pruning via k-means partition +
    * within-cluster cosine threshold (Abbas et al. 2023, "SemDeDup:
    * Data-efficient learning at web-scale through semantic
    * deduplication", arXiv:2303.09540 — public method, re-expressed
    * Spark-first). Pipeline position: after exact/MinHash dedup
    * (q_dedup_exact/q_dedup_neardup), this removes *semantically*
    * redundant documents whose token streams differ.
    *
    * Stage 1, assign — the "codebook-as-column" shape: the k seed
    * centroids (distinct vectors with vec_id < k; deterministic, like
    * every other seeded family here) are folded into ONE array-typed row
    * and broadcast, and each vector computes its argmin-L2 centroid with
    * a per-row higher-order fold — a map-only pass with NO shuffle, no
    * crossJoin row amplification (q_sim_kmeans's explicit k×n join +
    * window costs a k-times-amplified shuffle; fine for one audited
    * Lloyd round, wrong for an assign that feeds a join), and no
    * cardinality collapse on replicated corpora. This is how a
    * production assign scans 100 TB: broadcast codebook, one pass.
    * All distances are BIGINT on the shared ×64 int8 quantization
    * (max component² × dims = 256²·64 ≈ 4.2M — no overflow), ties break
    * to the lower cid, so assignment is hash-exact on both engines.
    *
    * Stage 2, prune: within each cluster, pairs at cosine ≥ 0.35 mark
    * the HIGHER vec_id dropped (min-id survivor, the repo-wide dedup
    * convention). The threshold test is integer-exact — dot > 0 AND
    * 400·dot² ≥ 49·‖a‖²·‖b‖² (0.35² = 49/400; |dot| ≤ 64·128² ≈ 1.05M,
    * so 400·dot² ≲ 4.4e14 fits BIGINT) — no float, no sqrt. τ = 0.35 is
    * fixture-tuned for non-degeneracy (the synthetic embeddings are
    * near-orthogonal: max pairwise cos ≈ 0.5, so the paper's 0.95 would
    * drop nothing; ~19 % of vectors drop at 0.35). The pair join keys on
    * the cluster id with a shuffle_hash pin — cluster sizes are bounded
    * ~512 by [[semK]], so in-cluster pair work is linear in corpus size
    * and the join never broadcasts an unbounded side.
    *
    * Output: (vec_id, cid, dropped) — the keep/drop mask a training-data
    * pipeline consumes downstream. */
  def dedupSemdedup(s: SparkSession, d: String): DataFrame = {
    val asg = semAssign(s, d)
    val a = asg.select(col("cid"), col("vec_id").as("a_id"),
      col("qv").as("qa"), col("n2").as("na"))
    val b = asg.select(col("cid").as("cid_b"), col("vec_id").as("b_id"),
      col("qv").as("qb"), col("n2").as("nb"))
    val drp = a.hint("shuffle_hash")
      .join(b, col("cid") === col("cid_b") && col("a_id") < col("b_id"))
      .withColumn("dot", expr(
        "aggregate(zip_with(qa, qb, (x, y) -> x * y), CAST(0 AS BIGINT), (acc, v) -> acc + v)"))
      .filter(col("dot") > 0 &&
        col("dot") * col("dot") * lit(400L) >= col("na") * col("nb") * lit(49L))
      .select(col("b_id")).distinct()
    asg.join(drp, col("vec_id") === col("b_id"), "left")
      .select(col("vec_id"), col("cid"),
        when(col("b_id").isNull, 0L).otherwise(1L).as("dropped"))
      .orderBy(col("vec_id").asc)
  }

  /** Prototype-distance data pruning (Sorscher et al. 2022, "Beyond
    * neural scaling laws: beating power law scaling via data pruning",
    * arXiv:2206.14486 — public method, re-expressed Spark-first): rank
    * every vector by its distance to its cluster prototype and keep the
    * HARDEST examples — the paper's abundant-data regime, where easy
    * (prototype-near) examples carry the least marginal signal. The
    * deterministic seed codebook (repo convention) stands in for trained
    * k-means prototypes; the contract under test is the pipeline shape:
    * [[semAssign]]'s broadcast-codebook map-only pass, then ONE
    * cid-keyed window (rank by dist2 desc, tie to lower vec_id) — a
    * single shuffle on the cluster key, cluster sizes bounded ~512 by
    * [[semK]], so the sort inside each partition is bounded too. Keep
    * fraction 60 % per cluster, ceil'd exactly as (3·csize + 4) div 5 —
    * integer on both engines, and a STRATIFIED cut (per-cluster, not
    * global), which is what keeps the pruned set covering all modes.
    * Output: (vec_id, cid, dist2, kept). */
  def embPruneProto(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("cid"))
    semAssign(s, d).select(col("vec_id"), col("cid"), col("dist2"))
      .withColumn("r", row_number()
        .over(w.orderBy(col("dist2").desc, col("vec_id").asc)))
      .withColumn("csize", count(lit(1)).over(w))
      .select(col("vec_id"), col("cid"), col("dist2"),
        when(col("r") <= expr("(3 * csize + 4) div 5"), 1L).otherwise(0L)
          .as("kept"))
      .orderBy(col("vec_id").asc)
  }

  /** IVF-style ANN, assignment stage: coarse-quantize every vector to its
    * nearest centroid by cosine. Deterministic training stub: the first 8
    * vectors serve as centroids (production would k-means; the
    * assign/search plumbing is what scales — probe-1 search is this
    * assignment composed with simTopk restricted to the assigned list).
    * The centroid join is a *bounded* broadcast (8 rows), not an
    * unbounded cartesian. */
  /** Assignment stage shared by the IVF queries: every vector labeled
    * with its nearest-centroid list id. */
  /** Top-k centroid assignment (k=1 is storage assignment; k>1 is the
    * query-side multi-probe). Adds `probe_rank` so callers can tell the
    * home list from overflow probes.
    *
    * TIER MAP (SURVEY §2.13): this seed-stub quantizer and its probe
    * sweep (q_sim_ivf / q_sim_ivf_search / q_sim_ivf_probe2 / _probe3)
    * are EVIDENCE queries — they document the 0.98 recall plateau that
    * motivated the k-means-refined index. The production tier is the
    * persisted refined index ([[simIvfStored]]); the recompute twin is
    * [[simIvfKmProbe2]]. */
  private[graft] def ivfAssignK(s: SparkSession, d: String, k: Int): DataFrame = {
    val e = vectors(s, d)
    val c = e.filter(col("vec_id") < 8)
      .select(col("vec_id").as("cid"), col("embedding").as("cemb"),
        col("nrm").as("cnrm"))
    val w = Window.partitionBy(col("vec_id"))
      .orderBy(col("score").desc, col("cid").asc)
    e.select(col("vec_id"), col("embedding"), col("nrm"))
      .crossJoin(broadcast(c))
      .withColumn("score",
        expr("vec_dot(embedding, cemb)") / (col("nrm") * col("cnrm")))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select(col("vec_id"), col("embedding"), col("nrm"),
        col("cid").as("list_id"), col("rn").as("probe_rank"))
  }

  private def ivfAssign(s: SparkSession, d: String): DataFrame =
    ivfAssignK(s, d, 1)
      .select(col("vec_id"), col("embedding"), col("nrm"), col("list_id"))

  def simIvf(s: SparkSession, d: String): DataFrame =
    ivfAssign(s, d)
      .groupBy(col("list_id"))
      .agg(count(lit(1)).as("n_vecs"))
      .orderBy(col("list_id").asc)

  /** IVF probe-1 SEARCH — the stage that actually answers queries:
    * restrict each query's candidate scan to its assigned inverted list,
    * exact cosine inside the list, top-5. Composes [[ivfAssign]] with the
    * broadcast-queries/blocked-candidates shape of [[simTopk]]; at scale
    * the list id is the partition key, so a probe touches 1/nlist of the
    * corpus. Fully oracled (assignment + search are deterministic
    * arithmetic). */
  def simIvfSearch(s: SparkSession, d: String): DataFrame = {
    val assigned = ivfAssign(s, d)
    val q = assigned.filter(col("vec_id") < 10)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_arr"),
        col("nrm").as("q_nrm"), col("list_id").as("q_list"))
    val cand = assigned.select(col("vec_id").as("c_id"),
      col("embedding").as("c_arr"), col("nrm").as("c_nrm"), col("list_id"))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("cos").desc, col("c_id").asc)
    broadcast(q).join(cand,
        col("q_list") === col("list_id") && col("q_id") =!= col("c_id"))
      .withColumn("cos",
        expr("vec_dot(q_arr, c_arr)") / (col("q_nrm") * col("c_nrm")))
      .withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <= 5)
      .select(col("q_id"), col("c_id"), round(col("cos"), 4).as("cos_sim"),
        col("rn"))
      .orderBy(col("q_id").asc, col("rn").asc)
  }

  /** Multi-probe IVF search (probe-2): each query searches its TWO
    * nearest centroids' inverted lists instead of one — the standard
    * recall lever every IVF deployment turns before touching index
    * geometry (q_sim_recall measures exactly the probe-1 recall this
    * improves). Candidates stay disjoint by construction — a corpus
    * vector lives in exactly one home list, and the two probed lists
    * differ — so no post-join dedup is needed; the probe fan-out
    * multiplies only the BROADCAST query side, never the corpus. */
  def simIvfProbe2(s: SparkSession, d: String): DataFrame =
    simIvfProbeK(s, d, 2)

  /** Probe-3 twin (round 12): the next notch of the same lever, added
    * because the honest formula-generated, non-replicated embedding
    * fixtures measured probe-2 recall@5 dipping to 0.98 at 100×
    * (BASELINE.md round 11, "Honest ANN recall on a NON-replicated
    * corpus") — one more probed list buys the remaining tail misses.
    * Extra cost is the sub-linear multi-probe shape: the fan-out
    * multiplies only the 10-row broadcast query side by k, so the
    * probed fraction of the corpus goes 2/nlist → 3/nlist while the
    * corpus-sided work (assignment) is unchanged and shared. */
  def simIvfProbe3(s: SparkSession, d: String): DataFrame =
    simIvfProbeK(s, d, 3)

  /** K-means-REFINED IVF (round 12): the honest quality fix the probe
    * sweep demanded. On the non-replicated embedding fixtures
    * (BASELINE.md round 12, "ANN recall hardening") the seed-stub
    * coarse quantizer (first 8 vectors as centroids) plateaus:
    * recall@5 stays 0.98 at 100× through probe-4 and only hits 1.0 at
    * probe-5 — 5 of 8 lists is 62% of the corpus, not ANN. More probes
    * cannot fix BAD LIST GEOMETRY; one Lloyd round can. This family runs
    * one integer-exact Lloyd refinement over the int8-quantized vectors
    * (the q_sim_kmeans algebra, argmax-cosine instead of argmin-L2
    * because search is cosine): assign to seed centroids, re-derive each
    * list's centroid as the per-component BIGINT sum vector — the mean's
    * count denominator CANCELS in cosine, so the refined centroid needs
    * no division and stays hash-exact (sums < 2⁵³ through ~10⁸ vectors
    * per list; beyond that production re-quantizes the mean). Scoring
    * doubles derive from identical integers on both engines (exact
    * int→double, correctly-rounded sqrt/div), so the whole index is
    * oracled, not just sampled. */
  private def quantized(s: SparkSession, d: String): DataFrame =
    vectors(s, d).withColumn("qv", expr(
      "transform(embedding, x -> CAST(least(127, greatest(-128, " +
        "floor(CAST(x AS DOUBLE) * 64.0D + 0.5D))) AS BIGINT))"))
      .withColumn("qq", expr(
        "aggregate(qv, CAST(0 AS BIGINT), (a, v) -> a + v * v)"))

  /** Seed pass: every vector cosine-assigned to the nearest of the 8
    * quantized seed vectors (cid0). */
  private def ivfKmSeedAssign(s: SparkSession, d: String): DataFrame = {
    val e = quantized(s, d)
    val seeds = e.filter(col("vec_id") < 8)
      .select(col("vec_id").as("cid"), col("qv").as("cqv"), col("qq").as("cc"))
    val w = Window.partitionBy(col("vec_id"))
      .orderBy(col("score").desc, col("cid").asc)
    e.crossJoin(broadcast(seeds))
      .withColumn("dotq", expr(
        "aggregate(zip_with(qv, cqv, (a, b) -> a * b), CAST(0 AS BIGINT), (acc, x) -> acc + x)"))
      .withColumn("score", col("dotq").cast("double") /
        (sqrt(col("qq").cast("double")) * sqrt(col("cc").cast("double"))))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("vec_id"), col("embedding"), col("nrm"), col("qv"),
        col("qq"), col("cid").as("cid0"))
  }

  /** Refined integer centroids: per seed-list per-component BIGINT sums
    * (the rational mean × n — n cancels in cosine). */
  private def ivfKmCents(s: SparkSession, d: String): DataFrame =
    ivfKmSeedAssign(s, d)
      .select(col("cid0"), posexplode(col("qv")).as(Seq("idx", "v")))
      .groupBy(col("cid0"), col("idx"))
      .agg(sum(col("v")).as("sv"))
      .groupBy(col("cid0"))
      .agg(expr("transform(sort_array(collect_list(struct(idx, sv))), p -> p.sv)")
        .as("sarr"))
      .select(col("cid0").as("cid"), col("sarr"),
        expr("aggregate(sarr, CAST(0 AS BIGINT), (a, v) -> a + v * v)").as("cc"))

  /** Top-k refined-centroid assignment; carries cid0 so the audit query
    * can count list moves. */
  private def ivfKmAssignK(s: SparkSession, d: String, k: Int): DataFrame = {
    val w = Window.partitionBy(col("vec_id"))
      .orderBy(col("score").desc, col("cid").asc)
    ivfKmSeedAssign(s, d).crossJoin(broadcast(ivfKmCents(s, d)))
      .withColumn("dotq", expr(
        "aggregate(zip_with(qv, sarr, (a, b) -> a * b), CAST(0 AS BIGINT), (acc, x) -> acc + x)"))
      .withColumn("score", col("dotq").cast("double") /
        (sqrt(col("qq").cast("double")) * sqrt(col("cc").cast("double"))))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select(col("vec_id"), col("embedding"), col("nrm"), col("cid0"),
        col("cid").as("list_id"), col("rn").as("probe_rank"))
  }

  /** Refined-index audit: occupancy per list plus how many vectors the
    * Lloyd round moved off their seed list — the rebalancing signal an
    * index build monitors. */
  def simIvfKmeans(s: SparkSession, d: String): DataFrame =
    ivfKmAssignK(s, d, 1)
      .groupBy(col("list_id"))
      .agg(count(lit(1)).as("n_vecs"),
        sum(when(col("cid0") =!= col("list_id"), 1L).otherwise(0L))
          .as("n_moved"))
      .orderBy(col("list_id").asc)

  /** Probe-2 search over the REFINED lists — measured on the
    * non-replicated embedding fixtures at base/10×/100×: recall@5
    * 1.000/1.000/1.000 (min 5/5 per query) vs the seed index's probe-2
    * 1.00/1.00/0.98 (BASELINE.md round-12 recall table), at the same
    * probed fraction (2/8 lists). */
  def simIvfKmProbe2(s: SparkSession, d: String): DataFrame = {
    val probes = ivfKmAssignK(s, d, 2).filter(col("vec_id") < 10)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_arr"),
        col("nrm").as("q_nrm"), col("list_id").as("q_list"))
    val cand = ivfKmAssignK(s, d, 1).select(col("vec_id").as("c_id"),
      col("embedding").as("c_arr"), col("nrm").as("c_nrm"), col("list_id"))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("cos").desc, col("c_id").asc)
    broadcast(probes).join(cand,
        col("q_list") === col("list_id") && col("q_id") =!= col("c_id"))
      .withColumn("cos",
        expr("vec_dot(q_arr, c_arr)") / (col("q_nrm") * col("c_nrm")))
      .withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <= 5)
      .select(col("q_id"), col("c_id"), round(col("cos"), 4).as("cos_sim"),
        col("rn"))
      .orderBy(col("q_id").asc, col("rn").asc)
  }

  // ===== Persisted ANN index artifact (round 13, VERDICT r12 item 4) =====

  /** ANN-state FORMAT version — same contract as Dedup.SigStateVersion:
    * bump on any schema or semantics change so stale cross-session state
    * is abandoned, never silently reused. */
  private[graft] val AnnStateVersion = 1
  /** Index geometry named once (state key + every build/assign job):
    * 8 seed lists, int8 ×64 quantization — the [[simIvfKmeans]] family's
    * parameters. A retune changes the key and therefore re-indexes. */
  private[graft] val AnnSeeds = 8
  /** Ingest near-dup verdict threshold (cosine ≥ ⇒ semantic duplicate).
    * 0.4, not the paper-typical 0.95: the synthetic fixture's vectors
    * are near-orthogonal (max pairwise cos ≈ 0.5 — same measurement the
    * semdedup scaladoc records), so a production threshold would make
    * the dup branch dead in every test; 0.4 splits the fixture's
    * best-match distribution (~15% dup at sf0.001, ~16% at sf0.01) so
    * both verdict outcomes stay exercised. */
  private[graft] val AnnDupCos = 0.4
  /** Max LIVE segments before [[appendAnnState]] folds the state
    * (write-time compaction, LSM-style read-amplification bound).
    * Measured on the 100× replica (BASELINE.md round 14, "ANN
    * multi-segment read path"): the step cost is CROSSING from 1 segment to
    * any multi-segment state (warm stored search 0.73 s compacted →
    * 1.26–1.52 s, ≈2×: the latest-wins self-join replaces the plain
    * clustered scan), while additional bounded deltas are nearly flat
    * (1k-row segments; the base segment dominates the merge). The
    * threshold therefore trades the fixed ~3 s compaction job against
    * restoring the 2× read short-circuit and bounding file-listing/
    * union growth for corpus-fraction-sized deltas (where per-segment
    * cost is NOT flat): 4 amortizes one compaction over 4 ingests while
    * the steady state spends most reads compacted. */
  private[graft] val AnnCompactSegs = 4
  /** Byte-ratio leg of the compaction gate (ADVICE r14): a pure count
    * trigger makes every (AnnCompactSegs+1)-th ingest pay a FULL-CORPUS
    * rewrite — O(corpus/delta) write amplification on a fixed cadence,
    * exactly what grows unboundedly at 100 TB where deltas are a
    * vanishing fraction of the base. Gating the rewrite on accumulated
    * delta bytes ≥ ratio × base bytes makes the cadence proportional to
    * corpus size (classic LSM bound: amortized rewrite cost per
    * ingested byte ≤ 1/ratio ≈ 10×, paid when the merge is worth it) —
    * justified by that round-14 table itself: read cost is ~FLAT in
    * segment count for bounded deltas, so deferring the fold costs only
    * the already-paid 2× multi-segment step, not further growth. */
  private[graft] val AnnCompactRatio = 0.10
  /** Hard count cap: bounds file-listing/union width regardless of
    * bytes, so byte-gated deferral can never unbound the read plan. */
  private[graft] val AnnCompactMaxSegs = 16

  /** Deterministic location of the stored IVF index for fixture `d`,
    * keyed exactly like [[Dedup.sigStatePath]]: fixture hash as a
    * reclaimable prefix, (params, format version, embeddings
    * fingerprint) folded into the version hash. An unchanged corpus
    * reuses the index across sessions; anything else gets fresh state
    * and the superseded sibling is deleted on publish. */
  def annStatePath(s: SparkSession, d: String): String = {
    def md5(x: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(x.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val ver = s"s${AnnSeeds}q64v$AnnStateVersion@" +
      Tables.pathFingerprint(s, s"$d/embeddings.parquet")
    s"${sys.props("java.io.tmpdir")}/graft-annstate-${md5(d)}-${md5(ver)}"
  }

  /** The one-time INDEX BUILD job: k-means-refined centroids
    * ([[ivfKmCents]] — integer component sums, hash-exact) plus the full
    * corpus assignment as the base segment, clustered by list_id (the
    * inverted-list layout a probe scans 1/nlist of). Staged + atomic
    * rename via the Dedup machinery, so readers never see partial state
    * and racing writers resolve to exactly one winner. At 100 TB this is
    * the catalog table an ANN service mounts; it is written once per
    * corpus version, extended by [[appendAnnState]], never per query. */
  def writeAnnState(s: SparkSession, d: String, path: String): Unit = {
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(s.sparkContext.hadoopConfiguration)
    val tmp = Dedup.newStagePath(path)
    ivfKmCents(s, d).write.mode("overwrite").parquet(s"$tmp/centroids")
    ivfKmAssignK(s, d, 1)
      .select(col("vec_id"), col("embedding"), col("nrm"), col("list_id"))
      .repartition(s.sessionState.conf.numShufflePartitions, col("list_id"))
      .write.mode("overwrite").parquet(s"$tmp/seg=00000")
    if (Dedup.publishDir(fs, tmp, root)) Dedup.evictStaleSigState(s, d, path)
  }

  /** Ensure the stored index exists (first touch of a corpus version
    * builds it) and return its root. */
  private[graft] def annEnsure(s: SparkSession, d: String): String = {
    val path = annStatePath(s, d)
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (Dedup.sigSegments(fs, root).isEmpty) writeAnnState(s, d, path)
    path
  }

  /** Stored refined centroids: (cid, sarr BIGINT[], cc). 8 rows —
    * always broadcast-sized by construction. */
  private[graft] def readAnnCentroids(s: SparkSession, d: String): DataFrame =
    s.read.parquet(s"${annEnsure(s, d)}/centroids")

  /** Live merged view of the stored assignments, latest-segment-wins
    * per vec_id (same read discipline as [[Dedup.readSigState]], minus
    * tombstones — ANN deltas are new/updated vectors). Single-segment
    * state (fresh or compacted — the steady state) short-circuits to a
    * plain clustered scan. */
  private[graft] def readAnnAssign(s: SparkSession, d: String): DataFrame = {
    val path = annEnsure(s, d)
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(s.sparkContext.hadoopConfiguration)
    val segs = Dedup.sigSegments(fs, root)
    require(segs.nonEmpty, s"ann-state build failed to publish under $path")
    val live = segs.drop(segs.lastIndexWhere { case (_, p) =>
      fs.exists(new org.apache.hadoop.fs.Path(p, "_COMPACT")) } max 0)
    val cols = Seq(col("vec_id"), col("embedding"), col("nrm"), col("list_id"))
    if (live.size == 1) s.read.parquet(live.head._2.toString).select(cols: _*)
    else {
      val all = live.map { case (n, p) =>
        s.read.parquet(p.toString).withColumn("seg", lit(n)) }
        .reduce(_ unionByName _)
      val latest = all.groupBy(col("vec_id").as("vid_l"))
        .agg(max(col("seg")).as("seg_l"))
      all.join(latest,
          col("vec_id") === col("vid_l") && col("seg") === col("seg_l"))
        .select(cols: _*)
    }
  }

  /** Assign arbitrary incoming vectors to the STORED centroids, top-k by
    * the index's exact integer-quantized cosine — the incremental-ingest
    * primitive: O(|vecs| × nlist) narrow work against an 8-row broadcast,
    * the corpus is never re-read. Identical arithmetic to
    * [[ivfKmAssignK]], so a delta assigned here lands exactly where a
    * full rebuild would put it (AnnStateSpec pins that parity). */
  private[graft] def annAssignTo(cents: DataFrame, vecs: DataFrame,
      k: Int): DataFrame = {
    val s = vecs.sparkSession
    graft.functions.VectorExprs.register(s)
    val q = vecs.select(col("vec_id"), col("embedding"))
      .withColumn("nrm", expr("sqrt(vec_dot(embedding, embedding))"))
      .withColumn("qv", expr(
        "transform(embedding, x -> CAST(least(127, greatest(-128, " +
          "floor(CAST(x AS DOUBLE) * 64.0D + 0.5D))) AS BIGINT))"))
      .withColumn("qq", expr(
        "aggregate(qv, CAST(0 AS BIGINT), (a, v) -> a + v * v)"))
    val w = Window.partitionBy(col("vec_id"))
      .orderBy(col("score").desc, col("cid").asc)
    q.crossJoin(broadcast(cents))
      .withColumn("dotq", expr(
        "aggregate(zip_with(qv, sarr, (a, b) -> a * b), CAST(0 AS BIGINT), (acc, x) -> acc + x)"))
      .withColumn("score", col("dotq").cast("double") /
        (sqrt(col("qq").cast("double")) * sqrt(col("cc").cast("double"))))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select(col("vec_id"), col("embedding"), col("nrm"),
        col("cid").as("list_id"), col("rn").as("probe_rank"))
  }

  /** Ingest one vector delta into the stored index as a new segment —
    * assignments against the STORED centroids (O(delta)), published by
    * atomic rename under the next free slot with the same lost-race
    * retry as [[Dedup.appendSigState]]. Centroids are intentionally NOT
    * recentered per delta (the standard IVF ingest contract: lists
    * drift, periodic rebuild re-trains — a retrain writes a new state
    * version via the params/fingerprint key). */
  def appendAnnState(s: SparkSession, d: String, deltaVecs: DataFrame): Unit = {
    val path = annEnsure(s, d)
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(s.sparkContext.hadoopConfiguration)
    val seg = annAssignTo(readAnnCentroids(s, d), deltaVecs, 1)
      .drop("probe_rank")
      .repartition(s.sessionState.conf.numShufflePartitions, col("list_id"))
    var attempts = 0
    var published = false
    while (!published && attempts < 5) {
      // Guarded head (ADVICE r13): a concurrent fingerprint-change
      // reclaim (evictStaleSigState from another session) can empty the
      // root between annEnsure and here; fail with a diagnosable
      // message instead of .last's NoSuchElementException.
      val segs = Dedup.sigSegments(fs, root)
      require(segs.nonEmpty,
        s"ann state under $path was reclaimed mid-append (corpus version " +
          "changed concurrently); re-run the ingest against the new state")
      val next = segs.last._1 + 1
      val tmp = Dedup.newStagePath(path)
      // The stage dir must not leak on a mid-write exception (ADVICE
      // r13): publishDir renames it away on success, so a surviving tmp
      // is only ever a failure residue — delete it on the way out.
      try {
        seg.write.mode("overwrite").parquet(tmp.toString)
        published = Dedup.publishDir(fs, tmp,
          new org.apache.hadoop.fs.Path(root, f"seg=$next%05d"))
      } finally if (fs.exists(tmp)) fs.delete(tmp, true)
      attempts += 1
    }
    require(published, s"appendAnnState lost $attempts publish races under $path")
    // Write-time compaction trigger (round 14, VERDICT r13 item 4; gate
    // reworked round 15 per ADVICE r14): the LSM-style bound is enforced
    // where the growth happens, at append — but the rewrite is gated on
    // MERGED BYTES, not a pure count, so a large corpus is not rewritten
    // on a fixed ingest cadence (see [[AnnCompactRatio]]). Callers on a
    // latency budget (the streaming ingest path) still see a periodic
    // spike when the gate opens — bounded to ~1/ratio of bytes ingested.
    if (annCompactDue(fs, root)) compactAnnState(s, d)
  }

  /** The compaction decision (ADVICE r14): fold when the live count
    * exceeds [[AnnCompactSegs]] AND accumulated delta bytes justify a
    * base rewrite ([[AnnCompactRatio]]) — or unconditionally above the
    * [[AnnCompactMaxSegs]] listing/union-width cap. The base is the
    * newest `_COMPACT` segment (or the initial build); everything after
    * it is delta. */
  private[graft] def annCompactDue(fs: org.apache.hadoop.fs.FileSystem,
      root: org.apache.hadoop.fs.Path,
      ratio: Double = AnnCompactRatio,
      maxSegs: Int = AnnCompactMaxSegs): Boolean = {
    val segs = Dedup.sigSegments(fs, root)
    val cut = segs.lastIndexWhere { case (_, p) =>
      fs.exists(new org.apache.hadoop.fs.Path(p, "_COMPACT")) } max 0
    val live = segs.drop(cut)
    if (live.size <= AnnCompactSegs) false
    else if (live.size > maxSegs) true
    else {
      def bytes(p: org.apache.hadoop.fs.Path): Long =
        fs.getContentSummary(p).getLength
      val base = bytes(live.head._2) max 1L
      live.tail.map(e => bytes(e._2)).sum >= (ratio * base).toLong
    }
  }

  /** Segments a read must merge: everything after the newest `_COMPACT`
    * marker (the same cut [[readAnnAssign]] applies). */
  private[graft] def liveAnnSegs(fs: org.apache.hadoop.fs.FileSystem,
      root: org.apache.hadoop.fs.Path): Int = {
    val segs = Dedup.sigSegments(fs, root)
    segs.size - (segs.lastIndexWhere { case (_, p) =>
      fs.exists(new org.apache.hadoop.fs.Path(p, "_COMPACT")) } max 0)
  }

  /** Fold live segments into one compacted segment (`_COMPACT` marker,
    * older segments deleted after publish) — [[Dedup.compactSigState]]'s
    * contract for the ANN artifact: reads after compaction are
    * plan-identical to fresh state. */
  def compactAnnState(s: SparkSession, d: String): Unit = {
    val path = annEnsure(s, d)
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(s.sparkContext.hadoopConfiguration)
    val segs = Dedup.sigSegments(fs, root)
    if (segs.size <= 1) return
    val next = segs.last._1 + 1
    val tmp = Dedup.newStagePath(path)
    // Stage-dir cleanup on ANY mid-compaction failure (ADVICE r14):
    // publishDir renames tmp away on success, so a surviving tmp is only
    // ever failure residue — same try/finally as appendAnnState's.
    try {
      readAnnAssign(s, d)
        .repartition(s.sessionState.conf.numShufflePartitions, col("list_id"))
        .write.mode("overwrite").parquet(tmp.toString)
      // Marker through the Hadoop FileSystem API, same FS as the data
      // (ADVICE r13): the previous java.nio call resolved tmp.toUri.getPath
      // against the LOCAL filesystem, which silently writes the marker to
      // the wrong store when the Hadoop FS is non-local — readAnnAssign
      // would then union pre-compaction segments (correct via latest-wins
      // but defeating the compaction short-circuit).
      fs.create(new org.apache.hadoop.fs.Path(tmp, "_COMPACT")).close()
      if (Dedup.publishDir(fs, tmp,
          new org.apache.hadoop.fs.Path(root, f"seg=$next%05d")))
        segs.foreach { case (_, p) => fs.delete(p, true) }
    } finally if (fs.exists(tmp)) fs.delete(tmp, true)
  }

  /** Probe-2 search over the STORED index — [[simIvfKmProbe2]]'s
    * production form (the r12 verdict's "recomputed per query" gap):
    * centroids and inverted lists are READ from the persisted artifact;
    * only the 10 query vectors are assigned fresh (queries arrive fresh
    * in production — that path IS [[annAssignTo]]). The index is
    * integer-exact, so stored ≡ rebuilt and the q_sim_ivf_km_probe2
    * oracle applies verbatim. Measured solo at 100× (TimeOne, round-13
    * re-baselined host): recompute 3.15 s warm → stored 0.88 s warm
    * (3.6×); the one-time 100× index build is 11.9 s, paid once per
    * corpus version and amortized across every later query and
    * session. */
  def simIvfStored(s: SparkSession, d: String): DataFrame = {
    val probes = annAssignTo(readAnnCentroids(s, d),
        Tables.embeddings(s, d).filter(col("vec_id") < 10), 2)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_arr"),
        col("nrm").as("q_nrm"), col("list_id").as("q_list"))
    val cand = readAnnAssign(s, d).select(col("vec_id").as("c_id"),
      col("embedding").as("c_arr"), col("nrm").as("c_nrm"), col("list_id"))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("cos").desc, col("c_id").asc)
    broadcast(probes).join(cand,
        col("q_list") === col("list_id") && col("q_id") =!= col("c_id"))
      .withColumn("cos",
        expr("vec_dot(q_arr, c_arr)") / (col("q_nrm") * col("c_nrm")))
      .withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <= 5)
      .select(col("q_id"), col("c_id"), round(col("cos"), 4).as("cos_sim"),
        col("rn"))
      .orderBy(col("q_id").asc, col("rn").asc)
  }

  /** Best stored-index match for one incoming vector batch, with the
    * semantic-dup verdict — the ANN twin of [[Dedup.incrVerdictsFor]]
    * and the per-trigger unit the streaming ingest path
    * ([[graft.streaming.StreamAnnIngest]]) runs: assign the batch to the
    * stored centroids (probe-2), scan only the probed inverted lists,
    * exact cosine, one best-match row per new vector, dup ⇔ cos ≥
    * [[AnnDupCos]]. `candFilter` lets the oracled batch query hold out
    * its delta slice from the candidate side. */
  def annIngestVerdicts(s: SparkSession, d: String, deltaVecs: DataFrame,
      candFilter: org.apache.spark.sql.Column = lit(true)): DataFrame = {
    val probes = annAssignTo(readAnnCentroids(s, d), deltaVecs, 2)
      .select(col("vec_id").as("new_id"), col("embedding").as("q_arr"),
        col("nrm").as("q_nrm"), col("list_id").as("q_list"))
    val cand = readAnnAssign(s, d).select(col("vec_id").as("c_id"),
      col("embedding").as("c_arr"), col("nrm").as("c_nrm"), col("list_id"))
      .filter(candFilter)
    val w = Window.partitionBy(col("new_id"))
      .orderBy(col("cos").desc, col("c_id").asc)
    broadcast(probes).join(cand,
        col("q_list") === col("list_id") && col("new_id") =!= col("c_id"))
      .withColumn("cos",
        expr("vec_dot(q_arr, c_arr)") / (col("q_nrm") * col("c_nrm")))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      // The dup threshold applies to the 4dp-ROUNDED cosine on both
      // engine and oracle (ADVICE r13): Spark and DuckDB sum the raw
      // double dot product in different orders, so a cosine within an
      // ulp of the threshold could otherwise flip the verdict between
      // engines; after rounding, both sides compare the same value.
      .select(col("new_id"), col("c_id").as("match_id"),
        round(col("cos"), 4).as("cos_sim"),
        when(round(col("cos"), 4) >= AnnDupCos, 1L).otherwise(0L).as("dup"))
      .orderBy(col("new_id").asc)
  }

  /** Semantic dedup at ingest, the oracled batch form: a BOUNDED batch
    * of the fixture's vec_id % 10 = 7 slice (vec_id < 1000 — an ingest
    * delta is a fixed-size batch, NOT a corpus fraction) plays the
    * incoming delta; candidates are the stored lists with the full
    * %10=7 slice held out (the delta must match against the CORPUS, not
    * itself). One verdict row per delta vector.
    *
    * The batch bound is load-bearing at scale, caught by this round's
    * own 100× sweep: with the delta as a 10% corpus slice, every delta
    * vector brute-force-scans its 2 probed lists (dense — 1/4 of the
    * corpus), which is Θ(|delta| · |corpus| / nlist) — ~10¹¹ cosine
    * pairs at 100×, a hang. Probe cost must scale with the BATCH; the
    * corpus-sized side stays in the index. (The dedup incr twins keep
    * the unbounded %10=7 delta safely because LSH bucket joins are
    * sparse — candidates per doc are banding collisions, not a fixed
    * corpus fraction.) */
  def simAnnIngest(s: SparkSession, d: String): DataFrame =
    annIngestVerdicts(s, d,
      Tables.embeddings(s, d)
        .filter(col("vec_id") % 10 === 7 && col("vec_id") < 1000),
      col("c_id") % 10 =!= 7)

  private def simIvfProbeK(s: SparkSession, d: String, k: Int): DataFrame = {
    val probes = ivfAssignK(s, d, k).filter(col("vec_id") < 10)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_arr"),
        col("nrm").as("q_nrm"), col("list_id").as("q_list"))
    val cand = ivfAssign(s, d).select(col("vec_id").as("c_id"),
      col("embedding").as("c_arr"), col("nrm").as("c_nrm"), col("list_id"))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("cos").desc, col("c_id").asc)
    broadcast(probes).join(cand,
        col("q_list") === col("list_id") && col("q_id") =!= col("c_id"))
      .withColumn("cos",
        expr("vec_dot(q_arr, c_arr)") / (col("q_nrm") * col("c_nrm")))
      .withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <= 5)
      .select(col("q_id"), col("c_id"), round(col("cos"), 4).as("cos_sim"),
        col("rn"))
      .orderBy(col("q_id").asc, col("rn").asc)
  }

  /** Embedding-space drift per label — the vector twin of
    * q_text_srcdrift: split each label's vectors into deterministic
    * halves (vec_id parity — "old batch vs new batch"), accumulate
    * quantized component sums per half (q_emb_stats' hash-exact
    * algebra), and report the L1 distance between the half-centroids as
    * an exact rational: numer = Σ_i |s0_i·n1 − s1_i·n0| over common
    * denominator n0·n1 (drift_m scales to milli-units of the original
    * embedding space via the ×64 quantization). The monitoring alarm
    * for "did the new embedding batch shift the space". */
  def embDrift(s: SparkSession, d: String): DataFrame = {
    val comps = Tables.embeddings(s, d)
      .withColumn("half", (col("vec_id") % 2).cast("long"))
      .withColumn("qv", expr(
        "transform(embedding, x -> CAST(least(127, greatest(-128, " +
          "floor(CAST(x AS DOUBLE) * 64.0D + 0.5D))) AS BIGINT))"))
      .select(col("label"), col("half"), posexplode(col("qv")))
      .groupBy(col("label"), col("half"), col("pos"))
      .agg(sum(col("col")).as("cs"), count(lit(1)).as("n"))
    val h0 = comps.filter(col("half") === 0)
      .select(col("label"), col("pos"), col("cs").as("s0"), col("n").as("n0"))
    val h1 = comps.filter(col("half") === 1)
      .select(col("label"), col("pos"), col("cs").as("s1"), col("n").as("n1"))
    h0.join(h1, Seq("label", "pos"))
      .groupBy(col("label"), col("n0"), col("n1"))
      .agg(sum(abs(col("s0") * col("n1") - col("s1") * col("n0")))
        .as("numer"))
      .withColumn("drift_m", expr("numer * 1000 div (n0 * n1 * 64)"))
      .select(col("label"), col("n0"), col("n1"), col("numer"),
        col("drift_m"))
      .orderBy(col("label").asc)
  }

  /** Symmetric int8 quantization per embedding — the 4× storage shrink
    * applied before similarity-searching 100 TB of vectors. Deterministic
    * rounding via floor(x·scale + 0.5) (explicit, engine-neutral — no
    * reliance on either engine's round() tie mode); the declared output
    * reports scale, saturation count, and max reconstruction error per
    * vector, all bit-exact across engines because every step is the same
    * double arithmetic elementwise. */
  def embQuant(s: SparkSession, d: String): DataFrame =
    Tables.embeddings(s, d)
      .withColumn("mx",
        expr("array_max(transform(embedding, x -> abs(CAST(x AS DOUBLE))))"))
      .withColumn("qscale", lit(127.0) / greatest(col("mx"), lit(1e-30)))
      .withColumn("q", expr(
        "transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * qscale + 0.5D) AS INT))"))
      .withColumn("n_sat",
        expr("CAST(size(filter(q, v -> abs(v) >= 127)) AS BIGINT)"))
      .withColumn("max_abs_err", expr(
        "array_max(zip_with(embedding, q, " +
          "(x, v) -> abs(CAST(x AS DOUBLE) - CAST(v AS DOUBLE) / qscale)))"))
      .select(col("vec_id"), col("qscale"), col("n_sat"), col("max_abs_err"))
      .orderBy(col("vec_id").asc)

  /** Per-label quantized-centroid accumulation — the trainable half of
    * IVF/k-means, made hash-exact: fixed-scale int8 quantization (×64,
    * saturated) turns each vector into integers whose per-label SUMS are
    * order-independent longs; the centroid magnitude derives by integer-fed
    * division. A float centroid (mean of floats) could never oracle —
    * shuffle merge order perturbs the sum — which is exactly why the
    * deterministic-training path quantizes FIRST at 100 TB too. */
  def embStats(s: SparkSession, d: String): DataFrame =
    Tables.embeddings(s, d)
      .withColumn("q", expr(
        "transform(embedding, x -> CAST(least(127, greatest(-128, " +
          "floor(CAST(x AS DOUBLE) * 64.0D + 0.5D))) AS BIGINT))"))
      .withColumn("row_sum", expr("aggregate(q, CAST(0 AS BIGINT), (a, v) -> a + v)"))
      .withColumn("row_l1", expr("aggregate(q, CAST(0 AS BIGINT), (a, v) -> a + abs(v))"))
      .groupBy(col("label"))
      .agg(count(lit(1)).as("n_vecs"),
        sum(col("row_sum")).as("sum_q"),
        sum(col("row_l1")).as("l1_q"),
        max(expr("array_max(q)")).as("max_q"),
        min(expr("array_min(q)")).as("min_q"))
      .withColumn("mean_component",
        col("sum_q").cast("double") / (col("n_vecs") * 64))
      .orderBy(col("label").asc)

  /** One full k-means (Lloyd) iteration over int8-quantized embeddings,
    * hash-exact end to end — the trainable loop IVF/q_emb_stats only
    * gestured at. Assign: L2 to 4 deterministic seed centroids (the
    * first 4 vectors), computed ENTIRELY in BIGINT on the quantized
    * components, so the argmin needs no float at all. Update: per-cluster
    * per-component integer sums via posexplode → groupBy — the standard
    * feature-major shuffle shape (key = (cluster, component), arbitrary
    * width, no wide-row state). Reassign: distance to the new rational
    * centroid s/n compared as the integer numerator Σ(v·n − s)² over the
    * shared n² denominator; the only float is one division of identical
    * integers (bit-equal on any engine). Cluster sizes stay bounded
    * (4 centroids broadcast, ~100 B each), so each extra Lloyd round at
    * 100 TB costs exactly one narrow crossJoin pass + one component
    * shuffle — this query IS that round, measured and oracled. Output per
    * cluster: size after reassignment, how many vectors moved, and the
    * integer inertia numerator. */
  def simKmeans(s: SparkSession, d: String): DataFrame = {
    val q = Tables.embeddings(s, d)
      .withColumn("qv", expr(
        "transform(embedding, x -> CAST(least(127, greatest(-128, " +
          "floor(CAST(x AS DOUBLE) * 64.0D + 0.5D))) AS BIGINT))"))
      .select(col("vec_id"), col("qv"))
    val c0 = q.filter(col("vec_id") < 4)
      .select(col("vec_id").as("cid"), col("qv").as("cqv"))
    val w0 = Window.partitionBy(col("vec_id"))
      .orderBy(col("dist0").asc, col("cid").asc)
    val a0 = q.crossJoin(broadcast(c0))
      .withColumn("dist0", expr(
        "aggregate(zip_with(qv, cqv, (a, b) -> (a - b) * (a - b)), " +
          "CAST(0 AS BIGINT), (acc, x) -> acc + x)"))
      .withColumn("rn", row_number().over(w0))
      .filter(col("rn") === 1)
      .select(col("vec_id"), col("qv"), col("cid").as("cid0"))
    val comp = a0.select(col("cid0"), posexplode(col("qv")).as(Seq("idx", "v")))
      .groupBy(col("cid0"), col("idx"))
      .agg(sum(col("v")).as("s2"))
      .groupBy(col("cid0"))
      .agg(expr("transform(sort_array(collect_list(struct(idx, s2))), p -> p.s2)")
        .as("sarr"))
    val cnt = a0.groupBy(col("cid0")).agg(count(lit(1)).as("n"))
    val c1 = comp.join(cnt, "cid0")
      .select(col("cid0").as("cid"), col("sarr"), col("n"))
    val w1 = Window.partitionBy(col("vec_id"))
      .orderBy(col("dist1").asc, col("cid").asc)
    a0.crossJoin(broadcast(c1))
      .withColumn("num", expr(
        "aggregate(zip_with(qv, sarr, (v, s2) -> (v * n - s2) * (v * n - s2)), " +
          "CAST(0 AS BIGINT), (acc, x) -> acc + x)"))
      .withColumn("dist1", col("num").cast("double") / (col("n") * col("n")))
      .withColumn("rn", row_number().over(w1))
      .filter(col("rn") === 1)
      .groupBy(col("cid"))
      .agg(count(lit(1)).as("n_vecs"),
        sum(when(col("cid") =!= col("cid0"), 1L).otherwise(0L)).as("n_moved"),
        sum(col("num")).as("inertia_num"))
      .orderBy(col("cid").asc)
  }

  /** Product quantization (the ANN-index compression step): split each
    * int8-quantized 64-dim vector into 8 contiguous 8-dim subvectors,
    * assign every subvector to the nearest of 4 per-subspace seed
    * centroids by exact BIGINT L2 (ties → smallest centroid id), emit the
    * per-(subspace, centroid) assignment counts and total squared
    * distortion — the codebook-quality audit. Seeds are the subvectors of
    * vec_id 0..3 (deterministic, like the k-means seeding). The codebook
    * is 32 rows and broadcasts; assignment is one narrow pass over the
    * corpus — the shape that PQ-encodes 100 TB of embeddings without a
    * shuffle beyond the final 32-group aggregate. */
  /** Quantized 8×8-dim subspace decomposition shared by the PQ queries:
    * one row per (vec_id, subspace m) with the 8-dim BIGINT sub-vector. */
  private def pqSubs(s: SparkSession, d: String): DataFrame =
    Tables.embeddings(s, d)
      .withColumn("qv", expr(
        "transform(embedding, x -> CAST(least(127, greatest(-128, " +
          "floor(CAST(x AS DOUBLE) * 64.0D + 0.5D))) AS BIGINT))"))
      .select(col("vec_id"), explode(expr(
        "transform(sequence(0, 7), m -> struct(m AS m, slice(qv, m * 8 + 1, 8) AS sub))"))
        .as("s"))
      .select(col("vec_id"), col("s.m").cast("long").as("m"), col("s.sub").as("sub"))

  /** The 4 deterministic seed centroids per subspace (first 4 vectors). */
  private def pqCents(s: SparkSession, d: String): DataFrame =
    pqSubs(s, d).filter(col("vec_id") < 4)
      .select(col("m").as("cm"), col("vec_id").as("c"), col("sub").as("cent"))

  private val pqL2 =
    "aggregate(zip_with(sub, cent, (a, b) -> (a - b) * (a - b)), " +
      "CAST(0 AS BIGINT), (acc, x) -> acc + x)"

  def embPq(s: SparkSession, d: String): DataFrame = {
    val subs = pqSubs(s, d)
    val cents = pqCents(s, d)
    val w = Window.partitionBy(col("vec_id"), col("m"))
      .orderBy(col("dist").asc, col("c").asc)
    subs.join(broadcast(cents), col("m") === col("cm"))
      .withColumn("dist", expr(
        "aggregate(zip_with(sub, cent, (a, b) -> (a - b) * (a - b)), " +
          "CAST(0 AS BIGINT), (acc, x) -> acc + x)"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .groupBy(col("m"), col("c"))
      .agg(count(lit(1)).as("n_assigned"), sum(col("dist")).as("sum_sqerr"))
      .orderBy(col("m").asc, col("c").asc)
  }

  /** PQ asymmetric-distance search (ADC) — the query path that makes
    * product quantization an INDEX rather than just compression: corpus
    * vectors are stored only as 8 one-byte centroid codes
    * ([[embPq]]'s assignment), and each query precomputes an 8×4
    * lookup table of exact BIGINT L2 distances from its sub-vectors to
    * every centroid; a candidate's approximate distance is then 8 LUT
    * additions — no touching the original vectors. Engine shape: codes
    * are corpus-sized and never shuffle wide (the LUT, 320 rows, is
    * broadcast onto the (m, code) join), the per-candidate sum is one
    * grouped aggregate keyed by (query, candidate). Top-5 per query,
    * ties broken by id. */
  def simPqSearch(s: SparkSession, d: String): DataFrame = {
    val subs = pqSubs(s, d)
    val cents = pqCents(s, d)
    val wAsn = Window.partitionBy(col("vec_id"), col("m"))
      .orderBy(col("dist").asc, col("c").asc)
    val codes = subs.join(broadcast(cents), col("m") === col("cm"))
      .withColumn("dist", expr(pqL2))
      .withColumn("rn", row_number().over(wAsn))
      .filter(col("rn") === 1)
      .select(col("vec_id"), col("m"), col("c").as("code"))
    val lut = subs.filter(col("vec_id") < 10)
      .select(col("vec_id").as("q_id"), col("m").as("qm"), col("sub"))
      .join(broadcast(cents), col("qm") === col("cm"))
      .withColumn("dq", expr(pqL2))
      .select(col("q_id"), col("qm"), col("c"), col("dq"))
    val wTop = Window.partitionBy(col("q_id"))
      .orderBy(col("adc_dist").asc, col("c_id").asc)
    codes.join(broadcast(lut),
        codes("m") === col("qm") && codes("code") === lut("c"))
      .filter(col("vec_id") =!= col("q_id"))
      .groupBy(col("q_id"), col("vec_id").as("c_id"))
      .agg(sum(col("dq")).as("adc_dist"))
      .withColumn("rn", row_number().over(wTop).cast("long"))
      .filter(col("rn") <= 5)
      .orderBy(col("q_id").asc, col("rn").asc)
  }

  /** kNN-graph construction + mutuality audit — the prep step for
    * graph-based clustering/dedup over embeddings: per label block,
    * every vector's 3 nearest cosine neighbors become directed edges,
    * and the per-label MUTUAL-edge rate (a→b and b→a) measures how
    * navigable the neighborhood structure is (low reciprocity = hub
    * domination, the known failure mode of kNN graphs). Block-bounded
    * all-pairs (same contract as dedupJaccard); shuffle_hash pins the
    * label-keyed shuffle join so no unbounded side broadcasts; the
    * mutuality check is one self-join of the edge list on the reversed
    * key. Integer outputs. */
  def simKnnGraph(s: SparkSession, d: String): DataFrame =
    simKnnGraphOn(Dedup.auditSample(vectors(s, d),
      Tables.rowCount(s, d, "embeddings"), "vec_id"))

  def simKnnGraphOn(e: DataFrame): DataFrame = {
    val a = e.select(col("label"), col("vec_id").as("q_id"),
      col("embedding").as("qa"), col("nrm").as("qn"))
    val b = e.select(col("label").as("label_b"), col("vec_id").as("c_id"),
      col("embedding").as("ca"), col("nrm").as("cn"))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("cos").desc, col("c_id").asc)
    val edges = a.hint("shuffle_hash")
      .join(b, col("label") === col("label_b") && col("q_id") =!= col("c_id"))
      .withColumn("cos", expr("vec_dot(qa, ca)") / (col("qn") * col("cn")))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 3)
      .select(col("label"), col("q_id"), col("c_id"))
    val rev = edges.select(col("q_id").as("rq"), col("c_id").as("rc"))
    edges.join(rev, col("q_id") === col("rc") && col("c_id") === col("rq"),
        "left_semi")
      .groupBy(col("label")).agg(count(lit(1)).as("n_mutual"))
      .join(edges.groupBy(col("label"))
        .agg(countDistinct(col("q_id")).as("n_nodes"),
          count(lit(1)).as("n_edges")), Seq("label"), "right")
      .withColumn("n_mutual", coalesce(col("n_mutual"), lit(0L)))
      .withColumn("recip_pm", expr("n_mutual * 1000 div n_edges"))
      .select(col("label").cast("long").as("label"), col("n_nodes"),
        col("n_edges"), col("n_mutual"), col("recip_pm"))
      .orderBy(col("label").asc)
  }

  private val KgBands = 8
  private val KgRows = 4 // planes per band
  private val KgMaxExtra = 16 // arithmetic cap on the shared widening bits

  /** Shared band-widening width: the band value space must GROW with the
    * corpus or per-bucket pair work turns quadratic — at a fixed 8 bands
    * × 4 bits × |labels| keys, a 100× replica measured an execution-OOM
    * candidate explosion (≈1.2k avg bucket occupancy → ~10^9 pairs).
    * Same bitlen derivation as [[Dedup.annWidth]], anchored so the width
    * is 0 at every oracled fixture scale (n ≤ 2048·8 ⇒ results
    * unchanged) and adds one shared bit per corpus doubling after that,
    * holding expected (label, band, value) occupancy roughly constant. */
  private def kgExtraWidth(n: Long): Int = {
    val m = (n + 7) / 8 - 1
    val bitlen = if (m <= 0) 1 else 64 - java.lang.Long.numberOfLeadingZeros(m)
    math.min(KgMaxExtra, math.max(0, bitlen.toInt - 8))
  }

  /** Per-vector banded hyperplane values: KgBands bands of KgRows sign
    * bits each (planes 0..31 of the shared deterministic
    * [[Dedup.planeWeight]] family, plane index = band·rows + row), each
    * widened by `extraW` SHARED sign bits from planes 32.. — shared so
    * every band keeps its independent KgRows-bit s-curve while the
    * common suffix partitions hot buckets as the corpus grows. Encoded
    * as bval = bandBits + 2^KgRows · extraBits, the exact value the
    * oracle reproduces via (extraFull % 2^w). */
  private def kgBandCols(extraW: Int): Seq[Column] = {
    def signBit(p: Int, bit: Int): Column = {
      val w = (0 until 64).map(jj => s"${Dedup.planeWeight(p, jj)}D").mkString(", ")
      when(expr(s"vec_dot(embedding, array($w))") > 0, lit(1L << bit))
        .otherwise(lit(0L))
    }
    val extra =
      if (extraW == 0) lit(0L)
      else (0 until extraW).map(j =>
        signBit(KgBands * KgRows + j, KgRows + j)).reduce[Column](_ + _)
    (0 until KgBands).map { k =>
      val bits = (0 until KgRows).map(j => signBit(KgRows * k + j, j))
        .reduce[Column](_ + _)
      struct(lit(k.toLong).as("band_id"), (bits + extra).as("bval"))
    }
  }

  /** Scale-path twin of [[simKnnGraph]]: the SAME 3-NN-edge + mutuality
    * audit, built over banded random-hyperplane candidates instead of
    * the per-label all-pairs join. The exact graph's contract cannot be
    * kept sublinearly on this corpus — its true top-3 edges sit at
    * cosine 0.10–0.30 (measured), i.e. in a diffuse cloud where NO LSH
    * geometry reaches recall 1 — so the scale path changes the
    * CONTRACT, not just the plan: it audits the approximate graph the
    * scalable pipeline actually builds. That is only honest because the
    * candidate generation is fully deterministic (shared planeWeight
    * family, 8 bands × 4 sign bits), so the ORACLE replays candidates
    * + scoring exactly in DuckDB and the gate stays a hard rows+hash
    * compare — approximation licensed by determinism, not hand-waving.
    * Engine shape: band values are a narrow map; the candidate join
    * shuffles on (label, band, value) — per-bucket work, never
    * all-pairs; dedup of the multi-band pair stream is the same
    * repartition-then-distinct discipline as [[Dedup.minhashCandidates]].
    * The mutuality rate measured here is the eval that tells you
    * whether the ANN graph is still navigable enough for graph-based
    * clustering — the question a 100 TB corpus has to answer BEFORE
    * spending the cluster time. */
  def simKnnGraphAnn(s: SparkSession, d: String): DataFrame = {
    // audit sample under the guard; widening width still derives from
    // the FULL corpus count (the oracle's scalar subquery does the same)
    val e = Dedup.auditSample(vectors(s, d),
      Tables.rowCount(s, d, "embeddings"), "vec_id")
    val extraW = kgExtraWidth(Tables.rowCount(s, d, "embeddings"))
    val banded = e.select(col("label"), col("vec_id"),
        explode(array(kgBandCols(extraW): _*)).as("bb"))
      .select(col("label"), col("vec_id"), col("bb.band_id"), col("bb.bval"))
    val cand = banded.alias("l").hint("shuffle_hash")
      .join(banded.alias("r"),
        col("l.label") === col("r.label") &&
        col("l.band_id") === col("r.band_id") &&
        col("l.bval") === col("r.bval") &&
        col("l.vec_id") =!= col("r.vec_id"))
      .select(col("l.label").as("label"), col("l.vec_id").as("q_id"),
        col("r.vec_id").as("c_id"))
      .repartition(s.sessionState.conf.numShufflePartitions,
        col("q_id"), col("c_id"))
      .distinct()
    val q = e.select(col("vec_id").as("q_id"), col("embedding").as("qa"),
      col("nrm").as("qn"))
    val c = e.select(col("vec_id").as("c_id"), col("embedding").as("ca"),
      col("nrm").as("cn"))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("cos").desc, col("c_id").asc)
    val edges = cand.join(q, "q_id").join(c, "c_id")
      .withColumn("cos", expr("vec_dot(qa, ca)") / (col("qn") * col("cn")))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 3)
      .select(col("label"), col("q_id"), col("c_id"))
    val rev = edges.select(col("q_id").as("rq"), col("c_id").as("rc"))
    edges.join(rev, col("q_id") === col("rc") && col("c_id") === col("rq"),
        "left_semi")
      .groupBy(col("label")).agg(count(lit(1)).as("n_mutual"))
      .join(edges.groupBy(col("label"))
        .agg(countDistinct(col("q_id")).as("n_nodes"),
          count(lit(1)).as("n_edges")), Seq("label"), "right")
      .withColumn("n_mutual", coalesce(col("n_mutual"), lit(0L)))
      .withColumn("recip_pm", expr("n_mutual * 1000 div n_edges"))
      .select(col("label").cast("long").as("label"), col("n_nodes"),
        col("n_edges"), col("n_mutual"), col("recip_pm"))
      .orderBy(col("label").asc)
  }

  /** ANN quality evaluation — recall@5 of the IVF probe-1 search against
    * the UNBLOCKED brute-force truth (the label-blocked q_sim_topk is a
    * bounded variant, not ground truth): per query, how many of the true
    * top-5 the index returned. The eval every ANN deployment runs before
    * trusting its index; exact-integer output (hit counts), and both
    * pipelines are deterministic so the whole evaluation is oracled.
    * Truth stays feasible because the query set is bounded (broadcast
    * queries × corpus is linear — the same contract as q_sim_topk). */
  def simRecall(s: SparkSession, d: String): DataFrame =
    recallAt5(s, d, simIvfSearch(s, d).select(col("q_id"), col("c_id")))

  /** Recall@5 of ANY approximate (q_id, c_id) result set against the
    * same brute-force truth — factored out of [[simRecall]] so other
    * index variants (probe-2, the specs) are evaluated against the
    * identical truth without duplicating it; the recall tables in
    * BASELINE.md rounds 11-12 were measured this way. `q_sim_recall`'s
    * plan is exactly this with the probe-1 search as the approx side. */
  def recallAt5(s: SparkSession, d: String, approx: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("cos").desc, col("c_id").asc)
    val truth = pairs(s, d, _.filter(col("vec_id") < 10),
        lit(true), col("q_id") =!= col("c_id"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 5)
      .select(col("q_id"), col("c_id"))
    val hits = truth.join(approx, Seq("q_id", "c_id"))
      .groupBy(col("q_id")).agg(count(lit(1)).as("hits"))
    truth.select(col("q_id")).distinct()
      .join(hits, Seq("q_id"), "left")
      .select(col("q_id"), coalesce(col("hits"), lit(0L)).as("recall_at_5"))
      .orderBy(col("q_id").asc)
  }

  /** Integer dot product over two quantized BIGINT array columns. */
  private def qdot(a: String, b: String): String =
    s"aggregate(zip_with($a, $b, (x, y) -> x * y), CAST(0 AS BIGINT), (acc, v) -> acc + v)"

  /** MMR — maximal marginal relevance diversified top-k (Carbonell &
    * Goldstein, SIGIR'98): greedily pick the candidate maximizing
    * λ·rel(q,d) − (1−λ)·max_{s∈selected} sim(d,s), the standard
    * redundancy-free retrieval step for RAG context packing and
    * training-example selection. Three greedy rounds at λ=0.7 as ONE
    * lazy declarative chain (the q_text_bpe_train pattern): each round's
    * winner is a 1-row broadcast fold, the max-sim-to-selected join is
    * candidates × (≤k picked rows), and nothing is collected.
    *
    * Exactness: vectors are int8-quantized FIRST (the fixed ×64 scheme
    * of q_emb_stats), so every rel/sim is an integer dot and the MMR
    * score is integer algebra ((7·rel − 3·maxsim) div 10) — bit-equal in
    * DuckDB, where the same three rounds unroll as chained CTEs. The
    * deterministic-at-scale lesson is the same as the centroid path:
    * quantize first, then every comparison is shuffle-order-free. */
  def simMmr(s: SparkSession, d: String): DataFrame = {
    val q = Tables.embeddings(s, d)
      .withColumn("qv", expr(
        "transform(embedding, x -> CAST(least(127, greatest(-128, " +
          "floor(CAST(x AS DOUBLE) * 64.0D + 0.5D))) AS BIGINT))"))
      .select(col("vec_id"), col("qv"))
    val qry = q.filter(col("vec_id") === 0).select(col("qv").as("query_v"))
    val rel = q.filter(col("vec_id") =!= 0)
      .crossJoin(broadcast(qry))
      .withColumn("rel", expr(qdot("qv", "query_v")))
      .select(col("vec_id"), col("qv"), col("rel"))
    var selected: DataFrame = null
    var candidates = rel
    for (r <- 1 to 3) {
      val scored =
        if (selected == null) candidates.withColumn("maxsim", lit(0L))
        else candidates
          .crossJoin(broadcast(selected.select(col("qv").as("sel_v"))))
          .withColumn("simv", expr(qdot("qv", "sel_v")))
          .groupBy(col("vec_id"))
          .agg(first(col("qv")).as("qv"), max(col("rel")).as("rel"),
            max(col("simv")).as("maxsim"))
      val pick = scored
        .withColumn("mmr", expr("(7 * rel - 3 * maxsim) div 10"))
        .orderBy(col("mmr").desc, col("vec_id").asc).limit(1)
        .withColumn("rank", lit(r.toLong))
      selected = if (selected == null) pick else selected.unionByName(pick)
      candidates = candidates
        .join(pick.select(col("vec_id")), Seq("vec_id"), "left_anti")
    }
    selected
      .select(col("rank"), col("vec_id"), col("rel"), col("maxsim"), col("mmr"))
      .orderBy(col("rank").asc)
  }

  /** Integer squared euclidean distance over quantized BIGINT arrays. */
  private def qdist2(a: String, b: String): String =
    s"aggregate(zip_with($a, $b, (x, y) -> (x - y) * (x - y)), CAST(0 AS BIGINT), (acc, v) -> acc + v)"

  /** Greedy k-center coreset (farthest-point traversal, the 2-approx of
    * Gonzalez '85): seed with vec 0, then repeatedly take the point
    * FARTHEST from the selected set (max of min-distance). Where MMR
    * selects for relevance-with-diversity, k-center selects for
    * COVERAGE — the standard shape for training-subset selection and
    * for seeding kmeans/IVF better than random. Three rounds as the
    * same lazy 1-row-broadcast chain as q_sim_mmr; distances are
    * integer squared euclidean over the ×64 int8 quantization, so every
    * min/argmax is exact integer algebra and the DuckDB chained-CTE
    * unroll matches bit for bit. mind2 at pick time IS the k-center
    * cover radius bound — the declared output doubles as the quality
    * certificate. */
  def simCoreset(s: SparkSession, d: String): DataFrame = {
    val q = Tables.embeddings(s, d)
      .withColumn("qv", expr(
        "transform(embedding, x -> CAST(least(127, greatest(-128, " +
          "floor(CAST(x AS DOUBLE) * 64.0D + 0.5D))) AS BIGINT))"))
      .select(col("vec_id"), col("qv"))
    var selected = q.filter(col("vec_id") === 0)
      .select(lit(1L).as("rank"), col("vec_id"), lit(0L).as("mind2"), col("qv"))
    var candidates = q.filter(col("vec_id") =!= 0)
    for (r <- 2 to 4) {
      val pick = candidates
        .crossJoin(broadcast(selected.select(col("qv").as("sel_v"))))
        .withColumn("d2", expr(qdist2("qv", "sel_v")))
        .groupBy(col("vec_id"))
        .agg(first(col("qv")).as("qv"), min(col("d2")).as("mind2"))
        .orderBy(col("mind2").desc, col("vec_id").asc).limit(1)
        .select(lit(r.toLong).as("rank"), col("vec_id"), col("mind2"), col("qv"))
      selected = selected.unionByName(pick)
      candidates = candidates
        .join(pick.select(col("vec_id")), Seq("vec_id"), "left_anti")
    }
    selected.select(col("rank"), col("vec_id"), col("mind2"))
      .orderBy(col("rank").asc)
  }

  /** Top principal direction of the embedding second-moment matrix by
    * distributed power iteration (3 fixed rounds) — the spectral health
    * probe run before PCA-whitening or dimension-dropping a 100 TB
    * vector corpus (a dominant direction ⇒ anisotropy the matryoshka /
    * PQ cuts must respect). Hash-exact where float linear algebra never
    * is: vectors quantize to integer milli-units (floor(x·10³+0.5), the
    * [[embQuant]] engine-neutral rounding), the only corpus-scale stage
    * is ONE map-side-combined agg of per-row xᵢ·xⱼ products into the
    * d²-bounded (4096-row) moment table, normalized by the parquet
    * FOOTER row count ([[graft.Tables.rowCount]] — the metadata channel,
    * no construction job) so entries stay intensive (corpus-size-
    * independent magnitude ⇒ the iteration can never overflow at scale).
    * Each round is a broadcast join of the d-row vector against the
    * d²-row matrix + a grouped sum + a 1-row max-fold renormalization
    * to ‖v‖∞ = 10⁶ via the two-stage integer division (u·10³)/(m/10³)
    * — every step exact integer, both engines identical, sign fixed by
    * the all-ones start vector. */
  def embPcaPower(s: SparkSession, d: String, rounds: Int = 3): DataFrame = {
    val n = Tables.rowCount(s, d, "embeddings")
    val q = Tables.embeddings(s, d).select(expr(
      "transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000 + 0.5D) AS BIGINT))")
      .as("qv"))
    val cells = q
      .select(posexplode(col("qv")).as(Seq("i", "xi")), col("qv"))
      .select(col("i"), posexplode(expr("transform(qv, x -> xi * x)"))
        .as(Seq("j", "p")))
    val aNorm = Hints.checkpoint(
      cells.groupBy(col("i"), col("j"))
        .agg(expr(s"sum(p) div $n").as("a")),
      eager = false)
    var v = aNorm.filter(col("j") === 0)
      .select(col("i").as("dim"), lit(1000000L).as("v"))
    for (_ <- 1 to rounds) {
      val u = aNorm
        .join(broadcast(v.select(col("dim").as("j"), col("v"))), "j")
        .groupBy(col("i"))
        .agg(sum(col("a") * col("v")).as("u"))
      val mx = u.agg(max(abs(col("u"))).as("mx"))
      v = u.crossJoin(broadcast(mx))
        .select(col("i").as("dim"),
          expr("(u * 1000) div greatest(mx div 1000, 1)").as("v"))
    }
    v.select(col("dim").cast("long").as("dim"), col("v").as("loading_micro"))
      .orderBy(col("dim").asc)
  }

  /** The PCA loadings leaf — dims-sized (64 rows), the "trained
    * artifact" the projection query applies. q_emb_pca_power (the
    * trainer) and q_emb_project (the scorer) share it, so the scorer
    * pays only its own corpus-scale projection — the apply step's real
    * marginal cost (in production the loadings are one materialized
    * model every scorer broadcasts, not a pipeline each scorer
    * re-trains). Keyed on the embeddings file fingerprint so a fixture
    * regeneration invalidates instead of serving stale loadings.
    * LAZY leaf: the caller's first action materializes it. The dedup
    * label leaf's lazy-leaf race note does not apply — every consumer
    * references the leaf exactly once (a broadcast model join), never
    * through a self-union. */
  private[graft] def pcaLoadings(s: SparkSession, d: String): DataFrame =
    Hints.leaf(s, d, "pca", "embeddings")(
      Hints.checkpoint(embPcaPower(s, d), eager = false))

  /** Apply the learned PCA transform at corpus scale: project every
    * embedding onto [[embPcaPower]]'s dominant component — the map-only
    * broadcast-model shape every "score the corpus with a trained
    * artifact" job has (the model is dims-sized, the corpus arbitrarily
    * large, no shuffle at all beyond the loadings' own derivation).
    * The projection is the raw integer dot product Σ qx·lv (milli-unit
    * vector × micro-unit loading = nano units) — division-free, so no
    * floor-vs-truncate hazard on its sign. Oracle shares the power-
    * iteration CTE verbatim. */
  def embProject(s: SparkSession, d: String): DataFrame = {
    // Round 15: the loadings come from the shared memo leaf (see
    // [[pcaLoadings]]); standalone runs build it once on the miss.
    val v = pcaLoadings(s, d)
      .select(col("dim").cast("int").as("j"), col("loading_micro").as("lv"))
    Tables.embeddings(s, d)
      .select(col("vec_id"), posexplode(expr(
        "transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000 + 0.5D) AS BIGINT))"))
        .as(Seq("j", "qx")))
      .join(broadcast(v), "j")
      .groupBy(col("vec_id"))
      .agg(sum(col("qx") * col("lv")).as("proj_nano"))
      .orderBy(col("vec_id").asc)
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_emb_pca_power" -> pcaLoadings,
    "q_emb_project" -> embProject,
    "q_sim_mmr"     -> simMmr,
    "q_emb_coreset" -> simCoreset,
    "q_sim_recall"     -> simRecall,
    "q_emb_pq"         -> embPq,
    "q_sim_kmeans"     -> simKmeans,
    "q_emb_stats"      -> embStats,
    "q_emb_quant"      -> embQuant,
    "q_sim_topk"       -> simTopk,
    "q_sim_hardneg"    -> simHardneg,
    "q_knn_label"      -> knnLabel,
    "q_sim_pq_search"  -> simPqSearch,
    "q_sim_knn_graph"  -> simKnnGraph,
    "q_sim_knn_graph_ann" -> simKnnGraphAnn,
    "q_emb_matryoshka" -> embMatryoshka,
    "q_emb_binquant"   -> embBinquant,
    "q_dedup_embcos"   -> dedupEmbcos,
    "q_dedup_semdedup" -> dedupSemdedup,
    "q_emb_prune_proto" -> embPruneProto,
    "q_sim_ivf"        -> simIvf,
    "q_sim_ivf_probe2" -> simIvfProbe2,
    "q_sim_ivf_probe3" -> simIvfProbe3,
    "q_sim_ivf_kmeans" -> simIvfKmeans,
    "q_sim_ivf_km_probe2" -> simIvfKmProbe2,
    "q_sim_ivf_stored" -> simIvfStored,
    "q_sim_ann_ingest" -> simAnnIngest,
    "q_emb_drift"      -> embDrift,
    "q_sim_ivf_search" -> simIvfSearch
  )

  /** Matryoshka-truncation audit — the dimension-reduction question a
    * 100 TB ANN deployment answers before storing short prefixes: how
    * much top-k quality survives keeping only the first 16 of 64 dims?
    * Per query vector (vec_id < 10): recall@10 of the truncated-cosine
    * top-10 against the full-cosine top-10, in permille. Both rankings
    * are computed in one broadcast-queries pass over the corpus (the
    * simTopk shape — no shuffle of the candidate side, two window
    * row_numbers over the same bounded pair stream); cosines are the
    * usual fold-order-identical doubles, ranking ties broken by c_id so
    * both engines pick identical top sets. */
  def embMatryoshka(s: SparkSession, d: String): DataFrame = {
    val e = vectors(s, d)
      .withColumn("t", expr("slice(embedding, 1, 16)"))
      .withColumn("tnrm", expr("sqrt(vec_dot(t, t))"))
    val q = e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("q_id"), col("embedding").as("qa"),
        col("nrm").as("qn"), col("t").as("qt"), col("tnrm").as("qtn"))
    val c = e.select(col("vec_id").as("c_id"), col("embedding").as("ca"),
      col("nrm").as("cn"), col("t").as("ct"), col("tnrm").as("ctn"))
    val wF = Window.partitionBy(col("q_id"))
      .orderBy(col("cos_full").desc, col("c_id").asc)
    val wT = Window.partitionBy(col("q_id"))
      .orderBy(col("cos_tr").desc, col("c_id").asc)
    broadcast(q).join(c, col("q_id") =!= col("c_id"))
      .withColumn("cos_full", expr("vec_dot(qa, ca)") / (col("qn") * col("cn")))
      .withColumn("cos_tr", expr("vec_dot(qt, ct)") / (col("qtn") * col("ctn")))
      .withColumn("rf", row_number().over(wF))
      .withColumn("rt", row_number().over(wT))
      .groupBy(col("q_id"))
      .agg(sum(when(col("rf") <= 10 && col("rt") <= 10, 1L).otherwise(0L))
        .as("n_overlap"))
      .withColumn("recall_pm", expr("n_overlap * 1000 div 10"))
      .orderBy(col("q_id").asc)
  }

  /** Binary (sign-bit) quantization ANN: each 64-dim float vector
    * compresses to TWO BIGINT words (32 sign bits each — split keeps bit
    * 63 out of play, so the packed words stay non-negative and the
    * arithmetic is engine-portable), and candidate distance is XOR +
    * popcount — a 256× storage cut and an integer-only scan, the memory
    * layout binary-quantized vector stores (FAISS binary indexes) run at
    * corpus scale. Top-5 per query by exact Hamming (tie: c_id), each
    * neighbor audited against the full-precision cosine top-10
    * (`in_cos10`) — the recall evidence a deployment needs before
    * trusting sign bits as the coarse stage. Broadcast-queries × corpus
    * scan, per-partition top-k: the distributed brute-force shape;
    * packing itself is a narrow codegen map. */
  def embBinquant(s: SparkSession, d: String): DataFrame = {
    def pack(off: Int) =
      s"aggregate(sequence(0, 31), 0L, (acc, i) -> acc + " +
        s"IF(element_at(embedding, i + $off) > 0, shiftleft(1L, i), 0L))"
    val e = vectors(s, d)
      .withColumn("h0", expr(pack(1)))
      .withColumn("h1", expr(pack(33)))
    val q = e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("q_id"), col("embedding").as("qa"),
        col("nrm").as("qn"), col("h0").as("q0"), col("h1").as("q1"))
    val c = e.select(col("vec_id").as("c_id"), col("embedding").as("ca"),
      col("nrm").as("cn"), col("h0").as("c0"), col("h1").as("c1"))
    val wH = Window.partitionBy(col("q_id"))
      .orderBy(col("ham").asc, col("c_id").asc)
    val wC = Window.partitionBy(col("q_id"))
      .orderBy(col("cos").desc, col("c_id").asc)
    broadcast(q).join(c, col("q_id") =!= col("c_id"))
      .withColumn("ham",
        expr("CAST(bit_count(q0 ^ c0) + bit_count(q1 ^ c1) AS BIGINT)"))
      .withColumn("cos", expr("vec_dot(qa, ca)") / (col("qn") * col("cn")))
      .withColumn("rc", row_number().over(wC))
      .withColumn("rn", row_number().over(wH).cast("long"))
      .filter(col("rn") <= 5)
      .select(col("q_id"), col("rn"), col("c_id"), col("ham"),
        when(col("rc") <= 10, 1L).otherwise(0L).as("in_cos10"))
      .orderBy(col("q_id").asc, col("rn").asc)
  }

  private def eCteWith(guard: String): String =
    s"""WITH e AS (
      |  SELECT vec_id, label, embedding,
      |         sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE),
      |           list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))),
      |           (a, x) -> a + x)) AS nrm
      |  FROM embeddings$guard)""".stripMargin

  private val eCte = eCteWith("")

  /** The knn-graph audits run over the deterministic audit sample once
    * the corpus exceeds Dedup.AuditCap (same guard, same md5 fold —
    * see Dedup's audit-guard scaladoc); widths still derive from the
    * FULL corpus count on both sides. */
  private val eCteAudit =
    eCteWith(" WHERE " + Dedup.auditSampleSql("embeddings", "vec_id"))

  private val dotSql =
    """list_reduce(list_prepend(CAST(0 AS DOUBLE),
      |           list_transform(list_zip(q.embedding, c.embedding),
      |             z -> CAST(z[1] AS DOUBLE) * CAST(z[2] AS DOUBLE))),
      |           (a, x) -> a + x) / (q.nrm * c.nrm)""".stripMargin

  /** Shared CTE block for the k-means-refined IVF index (q_sim_ivf_kmeans
    * / q_sim_ivf_km_probe2): quantize → cosine seed-assign → per-list
    * BIGINT component sums → cosine refined-assign. kmD1 carries every
    * (vector, refined centroid) rank; rn = 1 is the home list. */
  private val kmIdxSql =
    """kmQ AS (
      |  SELECT vec_id,
      |         list_transform(embedding, x -> CAST(least(127, greatest(-128,
      |           floor(CAST(x AS DOUBLE) * 64.0 + 0.5))) AS BIGINT)) AS qv
      |  FROM embeddings),
      |kmQQ AS (
      |  SELECT vec_id, qv,
      |         list_reduce(list_prepend(CAST(0 AS BIGINT),
      |           list_transform(qv, v -> v * v)), (a, x) -> a + x) AS qq
      |  FROM kmQ),
      |kmS AS (SELECT vec_id AS cid, qv AS cqv, qq AS cc FROM kmQQ WHERE vec_id < 8),
      |kmD0 AS (
      |  SELECT q.vec_id, q.qv, q.qq, s.cid,
      |         list_reduce(list_prepend(CAST(0 AS BIGINT),
      |           list_transform(list_zip(q.qv, s.cqv), z -> z[1] * z[2])),
      |           (a, x) -> a + x) AS dotq, s.cc
      |  FROM kmQQ q CROSS JOIN kmS s),
      |kmA0 AS (
      |  SELECT vec_id, qv, qq, cid AS cid0 FROM (
      |    SELECT vec_id, qv, qq, cid,
      |           row_number() OVER (PARTITION BY vec_id
      |             ORDER BY CAST(dotq AS DOUBLE) /
      |               (sqrt(CAST(qq AS DOUBLE)) * sqrt(CAST(cc AS DOUBLE))) DESC,
      |               cid ASC) AS rn
      |    FROM kmD0) WHERE rn = 1),
      |kmComp AS (
      |  -- dimension-agnostic (ADVICE r12): unnest+generate_subscripts
      |  -- derive the index range from each row's own vector length, so a
      |  -- fixture dimension change cannot desynchronize oracle vs engine
      |  SELECT cid0, idx, CAST(sum(v) AS BIGINT) AS sv
      |  FROM (SELECT cid0, generate_subscripts(qv, 1) AS idx,
      |               unnest(qv) AS v
      |        FROM kmA0)
      |  GROUP BY cid0, idx),
      |kmCC AS (
      |  SELECT cid0 AS cid, sarr,
      |         list_reduce(list_prepend(CAST(0 AS BIGINT),
      |           list_transform(sarr, v -> v * v)), (a, x) -> a + x) AS cc
      |  FROM (SELECT cid0, list(sv ORDER BY idx ASC) AS sarr
      |        FROM kmComp GROUP BY cid0)),
      |kmD1 AS (
      |  SELECT a.vec_id, a.cid0, c.cid,
      |         row_number() OVER (PARTITION BY a.vec_id
      |           ORDER BY CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
      |             list_transform(list_zip(a.qv, c.sarr), z -> z[1] * z[2])),
      |             (acc, x) -> acc + x) AS DOUBLE) /
      |             (sqrt(CAST(a.qq AS DOUBLE)) * sqrt(CAST(c.cc AS DOUBLE))) DESC,
      |             c.cid ASC) AS rn
      |  FROM kmA0 a CROSS JOIN kmCC c)""".stripMargin

  /** DuckDB sign-bit term for plane p at bit position `bit` (shared
    * planeWeight family). */
  private def kgPlaneSql(p: Int, bit: Int): String = {
    val lits = (0 until 64).map(jj => Dedup.planeWeight(p, jj).toString)
      .mkString(", ")
    s"""CASE WHEN list_reduce(list_prepend(CAST(0 AS DOUBLE),
       |  list_transform(list_zip(embedding, [$lits]),
       |    z -> CAST(z[1] AS DOUBLE) * z[2])),
       |  (a, x) -> a + x) > 0 THEN ${1L << bit} ELSE 0 END""".stripMargin
  }

  /** DuckDB twin of one [[kgBandCols]] band value (pre-widening). */
  private def kgBandSql(k: Int): String = {
    val bits = (0 until KgRows).map(j => kgPlaneSql(KgRows * k + j, j))
      .mkString("\n + ")
    s"CAST($bits AS BIGINT)"
  }

  /** DuckDB twin of the FULL shared widening word (all KgMaxExtra bits
    * at positions KgRows+j); the oracle masks it to the adaptive width
    * with % (1 << (KgRows + w)), which equals the Spark side's
    * compute-only-w-bits sum by construction. */
  private def kgExtraSql: String = {
    val bits = (0 until KgMaxExtra).map(j =>
      kgPlaneSql(KgBands * KgRows + j, KgRows + j)).mkString("\n + ")
    s"CAST($bits AS BIGINT)"
  }

  /** DuckDB twin of [[kgExtraWidth]] as a runtime expression. */
  private def kgWidthSql: String =
    s"least($KgMaxExtra, greatest(0, length(bin(" +
      s"((SELECT count(*) FROM embeddings) + 7) // 8 - 1)) - 8))"

  /** DuckDB twin of [[qdot]] for quantized BIGINT lists. */
  private def duckIdot(a: String, b: String): String =
    s"""list_reduce(list_prepend(CAST(0 AS BIGINT),
       |           list_transform(list_zip($a, $b), z -> z[1] * z[2])),
       |           (acc, x) -> acc + x)""".stripMargin

  /** DuckDB twin of [[qdist2]]. */
  private def duckIdist2(a: String, b: String): String =
    s"""list_reduce(list_prepend(CAST(0 AS BIGINT),
       |           list_transform(list_zip($a, $b),
       |             z -> (z[1] - z[2]) * (z[1] - z[2]))),
       |           (acc, x) -> acc + x)""".stripMargin

  /** Shared DuckDB CTE for the power-iteration family: quantized
    * vectors (WITH vec_id), the Gram matrix `a`, and three MATERIALIZED
    * unrolled rounds ending at the loading vector `v3` — used verbatim
    * by both q_emb_pca_power and q_emb_project so the two oracles can
    * never drift. */
  private def pcaPowerOracleCte: String = {
    def round(k: Int): String = {
      val prev = if (k == 1) "v0" else s"v${k - 1}"
      s"""u$k AS MATERIALIZED (
         |  SELECT a.i, CAST(sum(a.a * v.v) AS BIGINT) AS u
         |  FROM a JOIN $prev v ON a.j = v.dim GROUP BY a.i),
         |v$k AS MATERIALIZED (
         |  SELECT i AS dim,
         |         CAST((u * 1000) // greatest(
         |           (SELECT max(abs(u)) FROM u$k) // 1000, 1) AS BIGINT)
         |           AS v
         |  FROM u$k)""".stripMargin
    }
    s"""WITH q AS (
       |  SELECT vec_id, list_transform(embedding,
       |           x -> CAST(floor(CAST(x AS DOUBLE) * 1000 + 0.5)
       |                AS BIGINT)) AS qv
       |  FROM embeddings),
       |c1 AS (
       |  SELECT unnest(list_transform(range(1, len(qv) + 1),
       |           k -> struct_pack(i := k - 1, xi := qv[k]))) AS s, qv
       |  FROM q),
       |cells AS (
       |  SELECT s.i AS i,
       |         unnest(list_transform(range(1, len(qv) + 1),
       |           k -> struct_pack(j := k - 1, p := s.xi * qv[k]))) AS s2
       |  FROM c1),
       |a AS MATERIALIZED (
       |  SELECT i, s2.j AS j,
       |         CAST(sum(s2.p) // (SELECT count(*) FROM embeddings)
       |           AS BIGINT) AS a
       |  FROM cells GROUP BY 1, 2),
       |v0 AS (SELECT i AS dim, CAST(1000000 AS BIGINT) AS v
       |       FROM a WHERE j = 0),
       |${round(1)},
       |${round(2)},
       |${round(3)}""".stripMargin
  }

  val oracle: Map[String, String] = Map(
    // 3 unrolled power-iteration rounds; a and every u_k are referenced
    // more than once (max-fold + multiply) -> MATERIALIZED per the
    // k-core CTE-inlining lesson. Spark's 0-based posexplode index is
    // mirrored by k - 1.
    "q_emb_pca_power" ->
      s"""$pcaPowerOracleCte
         |SELECT CAST(dim AS BIGINT) AS dim, v AS loading_micro
         |FROM v3 ORDER BY dim ASC""".stripMargin,
    // Shared power-iteration CTE (identical loadings), then one grouped
    // dot product per vector against v3 — the projection is division-
    // free (raw Σ qx·lv nano units), so no floor-vs-trunc hazard.
    "q_emb_project" ->
      s"""$pcaPowerOracleCte,
         |qq AS (
         |  SELECT vec_id,
         |         unnest(list_transform(range(1, len(qv) + 1),
         |           k -> struct_pack(j := k - 1, qx := qv[k]))) AS s
         |  FROM q)
         |SELECT qq.vec_id, CAST(sum(qq.s.qx * v.v) AS BIGINT) AS proj_nano
         |FROM qq JOIN v3 v ON qq.s.j = v.dim
         |GROUP BY qq.vec_id
         |ORDER BY vec_id ASC""".stripMargin,
    // Farthest-point rounds unrolled exactly like the MMR chain: each
    // p_i is the max-of-min-distance argmax under (mind2 desc, id asc).
    "q_emb_coreset" ->
      s"""WITH q AS (
        |  SELECT vec_id,
        |         list_transform(embedding, x -> CAST(least(127, greatest(-128,
        |           floor(CAST(x AS DOUBLE) * 64.0 + 0.5))) AS BIGINT)) AS qv
        |  FROM embeddings),
        |p1 AS (SELECT CAST(1 AS BIGINT) AS rank, vec_id,
        |              CAST(0 AS BIGINT) AS mind2, qv
        |       FROM q WHERE vec_id = 0),
        |s2 AS (
        |  SELECT c.vec_id, c.qv, min(${duckIdist2("c.qv", "s.qv")}) AS mind2
        |  FROM q c CROSS JOIN (SELECT qv FROM p1) s
        |  WHERE c.vec_id <> 0
        |  GROUP BY c.vec_id, c.qv),
        |p2 AS (SELECT CAST(2 AS BIGINT) AS rank, vec_id, mind2, qv
        |       FROM s2 ORDER BY mind2 DESC, vec_id ASC LIMIT 1),
        |s3 AS (
        |  SELECT c.vec_id, c.qv, min(${duckIdist2("c.qv", "s.qv")}) AS mind2
        |  FROM q c CROSS JOIN
        |    (SELECT qv FROM p1 UNION ALL SELECT qv FROM p2) s
        |  WHERE c.vec_id <> 0
        |    AND c.vec_id NOT IN (SELECT vec_id FROM p2)
        |  GROUP BY c.vec_id, c.qv),
        |p3 AS (SELECT CAST(3 AS BIGINT) AS rank, vec_id, mind2, qv
        |       FROM s3 ORDER BY mind2 DESC, vec_id ASC LIMIT 1),
        |s4 AS (
        |  SELECT c.vec_id, c.qv, min(${duckIdist2("c.qv", "s.qv")}) AS mind2
        |  FROM q c CROSS JOIN
        |    (SELECT qv FROM p1 UNION ALL SELECT qv FROM p2
        |     UNION ALL SELECT qv FROM p3) s
        |  WHERE c.vec_id <> 0
        |    AND c.vec_id NOT IN
        |      (SELECT vec_id FROM p2 UNION ALL SELECT vec_id FROM p3)
        |  GROUP BY c.vec_id, c.qv),
        |p4 AS (SELECT CAST(4 AS BIGINT) AS rank, vec_id, mind2, qv
        |       FROM s4 ORDER BY mind2 DESC, vec_id ASC LIMIT 1)
        |SELECT rank, vec_id, mind2 FROM p1
        |UNION ALL SELECT rank, vec_id, mind2 FROM p2
        |UNION ALL SELECT rank, vec_id, mind2 FROM p3
        |UNION ALL SELECT rank, vec_id, mind2 FROM p4
        |ORDER BY rank ASC""".stripMargin,
    // Three greedy MMR rounds unrolled as chained CTEs over the same
    // quantized integer dots; each p_i is the argmax under the identical
    // (mmr desc, vec_id asc) total order.
    "q_sim_mmr" ->
      s"""WITH q AS (
        |  SELECT vec_id,
        |         list_transform(embedding, x -> CAST(least(127, greatest(-128,
        |           floor(CAST(x AS DOUBLE) * 64.0 + 0.5))) AS BIGINT)) AS qv
        |  FROM embeddings),
        |qr AS (SELECT qv FROM q WHERE vec_id = 0),
        |rl AS (
        |  SELECT c.vec_id, c.qv,
        |         ${duckIdot("c.qv", "r.qv")} AS rel
        |  FROM q c, qr r WHERE c.vec_id <> 0),
        |p1 AS (
        |  SELECT vec_id, qv, rel, CAST(0 AS BIGINT) AS maxsim,
        |         CAST((7 * rel) // 10 AS BIGINT) AS mmr
        |  FROM rl ORDER BY (7 * rel) // 10 DESC, vec_id ASC LIMIT 1),
        |s2 AS (
        |  SELECT c.vec_id, c.qv, c.rel,
        |         max(${duckIdot("c.qv", "s.qv")}) AS maxsim
        |  FROM rl c CROSS JOIN (SELECT qv FROM p1) s
        |  WHERE c.vec_id NOT IN (SELECT vec_id FROM p1)
        |  GROUP BY c.vec_id, c.qv, c.rel),
        |p2 AS (
        |  SELECT vec_id, qv, rel, maxsim,
        |         CAST((7 * rel - 3 * maxsim) // 10 AS BIGINT) AS mmr
        |  FROM s2 ORDER BY (7 * rel - 3 * maxsim) // 10 DESC, vec_id ASC
        |  LIMIT 1),
        |s3 AS (
        |  SELECT c.vec_id, c.qv, c.rel,
        |         max(${duckIdot("c.qv", "s.qv")}) AS maxsim
        |  FROM rl c CROSS JOIN
        |    (SELECT qv FROM p1 UNION ALL SELECT qv FROM p2) s
        |  WHERE c.vec_id NOT IN
        |    (SELECT vec_id FROM p1 UNION ALL SELECT vec_id FROM p2)
        |  GROUP BY c.vec_id, c.qv, c.rel),
        |p3 AS (
        |  SELECT vec_id, qv, rel, maxsim,
        |         CAST((7 * rel - 3 * maxsim) // 10 AS BIGINT) AS mmr
        |  FROM s3 ORDER BY (7 * rel - 3 * maxsim) // 10 DESC, vec_id ASC
        |  LIMIT 1)
        |SELECT CAST(1 AS BIGINT) AS rank, vec_id, rel, maxsim, mmr FROM p1
        |UNION ALL
        |SELECT CAST(2 AS BIGINT), vec_id, rel, maxsim, mmr FROM p2
        |UNION ALL
        |SELECT CAST(3 AS BIGINT), vec_id, rel, maxsim, mmr FROM p3
        |ORDER BY rank ASC""".stripMargin,
    // Sign-pack rebuilt with the same 32-bit split; Hamming via
    // xor+bit_count; cosine ranking reuses the fold-parity dot.
    "q_emb_binquant" ->
      """WITH e AS (
        |  SELECT vec_id, embedding,
        |         sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE),
        |           list_transform(embedding,
        |             x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))),
        |           (a, x) -> a + x)) AS nrm,
        |         CAST(list_sum(list_transform(range(0, 32), i ->
        |           CASE WHEN embedding[i + 1] > 0
        |                THEN (CAST(1 AS BIGINT) << i) ELSE 0 END))
        |           AS BIGINT) AS h0,
        |         CAST(list_sum(list_transform(range(0, 32), i ->
        |           CASE WHEN embedding[i + 33] > 0
        |                THEN (CAST(1 AS BIGINT) << i) ELSE 0 END))
        |           AS BIGINT) AS h1
        |  FROM embeddings),
        |p AS (
        |  SELECT q.vec_id AS q_id, c.vec_id AS c_id,
        |         CAST(bit_count(xor(q.h0, c.h0))
        |            + bit_count(xor(q.h1, c.h1)) AS BIGINT) AS ham,
        |         list_reduce(list_prepend(CAST(0 AS DOUBLE),
        |           list_transform(list_zip(q.embedding, c.embedding),
        |             z -> CAST(z[1] AS DOUBLE) * CAST(z[2] AS DOUBLE))),
        |           (a, x) -> a + x) / (q.nrm * c.nrm) AS cos
        |  FROM e q JOIN e c ON q.vec_id <> c.vec_id
        |  WHERE q.vec_id < 10),
        |r AS (
        |  SELECT q_id, c_id, ham,
        |         row_number() OVER (PARTITION BY q_id
        |                            ORDER BY ham ASC, c_id ASC) AS rn,
        |         row_number() OVER (PARTITION BY q_id
        |                            ORDER BY cos DESC, c_id ASC) AS rc
        |  FROM p)
        |SELECT q_id, CAST(rn AS BIGINT) AS rn, c_id, ham,
        |       CAST(CASE WHEN rc <= 10 THEN 1 ELSE 0 END AS BIGINT)
        |         AS in_cos10
        |FROM r WHERE rn <= 5
        |ORDER BY q_id ASC, rn ASC""".stripMargin,
    // Truncated side rebuilt with the same slice + fold; rankings joined
    // per query, overlap counted where both ranks clear 10.
    "q_emb_matryoshka" ->
      """WITH e AS (
        |  SELECT vec_id, embedding,
        |         sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE),
        |           list_transform(embedding,
        |             x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))),
        |           (a, x) -> a + x)) AS nrm,
        |         embedding[1:16] AS t,
        |         sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE),
        |           list_transform(embedding[1:16],
        |             x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))),
        |           (a, x) -> a + x)) AS tnrm
        |  FROM embeddings),
        |p AS (
        |  SELECT q.vec_id AS q_id, c.vec_id AS c_id,
        |         list_reduce(list_prepend(CAST(0 AS DOUBLE),
        |           list_transform(list_zip(q.embedding, c.embedding),
        |             z -> CAST(z[1] AS DOUBLE) * CAST(z[2] AS DOUBLE))),
        |           (a, x) -> a + x) / (q.nrm * c.nrm) AS cos_full,
        |         list_reduce(list_prepend(CAST(0 AS DOUBLE),
        |           list_transform(list_zip(q.t, c.t),
        |             z -> CAST(z[1] AS DOUBLE) * CAST(z[2] AS DOUBLE))),
        |           (a, x) -> a + x) / (q.tnrm * c.tnrm) AS cos_tr
        |  FROM e q JOIN e c ON q.vec_id <> c.vec_id
        |  WHERE q.vec_id < 10),
        |r AS (
        |  SELECT q_id, c_id,
        |         row_number() OVER (PARTITION BY q_id
        |                            ORDER BY cos_full DESC, c_id ASC) AS rf,
        |         row_number() OVER (PARTITION BY q_id
        |                            ORDER BY cos_tr DESC, c_id ASC) AS rt
        |  FROM p)
        |SELECT q_id,
        |       CAST(sum(CASE WHEN rf <= 10 AND rt <= 10
        |                     THEN 1 ELSE 0 END) AS BIGINT) AS n_overlap,
        |       CAST(sum(CASE WHEN rf <= 10 AND rt <= 10
        |                     THEN 1 ELSE 0 END) * 1000 // 10 AS BIGINT)
        |         AS recall_pm
        |FROM r
        |GROUP BY q_id
        |ORDER BY q_id ASC""".stripMargin,
    "q_sim_recall" ->
      (eCte + """,
        |cc AS (
        |  SELECT vec_id AS cid, embedding AS cemb, nrm AS cnrm
        |  FROM e WHERE vec_id < 8),
        |sc AS (
        |  SELECT e.vec_id, cc.cid,
        |         list_reduce(list_prepend(CAST(0 AS DOUBLE),
        |           list_transform(list_zip(e.embedding, cc.cemb),
        |             z -> CAST(z[1] AS DOUBLE) * CAST(z[2] AS DOUBLE))),
        |           (a, x) -> a + x) / (e.nrm * cc.cnrm) AS score
        |  FROM e, cc),
        |rk AS (
        |  SELECT vec_id, cid,
        |         row_number() OVER (PARTITION BY vec_id
        |                            ORDER BY score DESC, cid ASC) AS rn
        |  FROM sc),
        |asgn AS (SELECT vec_id, cid AS list_id FROM rk WHERE rn = 1),
        |ivf_p AS (
        |  SELECT q.vec_id AS q_id, c.vec_id AS c_id,
        |         """ + dotSql + """ AS cos
        |  FROM e q
        |  JOIN asgn qa ON q.vec_id = qa.vec_id
        |  JOIN asgn ca ON ca.list_id = qa.list_id
        |  JOIN e c ON c.vec_id = ca.vec_id AND c.vec_id <> q.vec_id
        |  WHERE q.vec_id < 10),
        |ivf AS (
        |  SELECT q_id, c_id FROM (
        |    SELECT q_id, c_id,
        |           row_number() OVER (PARTITION BY q_id
        |                              ORDER BY cos DESC, c_id ASC) AS rn
        |    FROM ivf_p) WHERE rn <= 5),
        |truth_p AS (
        |  SELECT q.vec_id AS q_id, c.vec_id AS c_id,
        |         """ + dotSql + """ AS cos
        |  FROM e q JOIN e c ON c.vec_id <> q.vec_id
        |  WHERE q.vec_id < 10),
        |truth AS (
        |  SELECT q_id, c_id FROM (
        |    SELECT q_id, c_id,
        |           row_number() OVER (PARTITION BY q_id
        |                              ORDER BY cos DESC, c_id ASC) AS rn
        |    FROM truth_p) WHERE rn <= 5)
        |SELECT t.q_id,
        |       CAST(coalesce(sum(CASE WHEN i.c_id IS NOT NULL
        |                              THEN 1 END), 0) AS BIGINT) AS recall_at_5
        |FROM truth t
        |LEFT JOIN ivf i ON t.q_id = i.q_id AND t.c_id = i.c_id
        |GROUP BY t.q_id
        |ORDER BY t.q_id ASC""").stripMargin,
    // Directed 3-NN edges per label block, mutual edges via reversed
    // self-join; fold-order-identical cosines, id tiebreaks.
    "q_sim_knn_graph" ->
      (eCteAudit + """,
        |p AS (
        |  SELECT q.label, q.vec_id AS q_id, c.vec_id AS c_id,
        |         """ + dotSql + """ AS cos
        |  FROM e q JOIN e c ON q.label = c.label AND q.vec_id <> c.vec_id),
        |r AS (
        |  SELECT label, q_id, c_id,
        |         row_number() OVER (PARTITION BY q_id
        |                            ORDER BY cos DESC, c_id ASC) AS rn
        |  FROM p),
        |ed AS (SELECT label, q_id, c_id FROM r WHERE rn <= 3),
        |mu AS (
        |  SELECT a.label, count(*) AS n_mutual
        |  FROM ed a JOIN ed b ON a.q_id = b.c_id AND a.c_id = b.q_id
        |  GROUP BY a.label),
        |st AS (
        |  SELECT label, count(DISTINCT q_id) AS n_nodes, count(*) AS n_edges
        |  FROM ed GROUP BY label)
        |SELECT CAST(st.label AS BIGINT) AS label, st.n_nodes, st.n_edges,
        |       COALESCE(mu.n_mutual, 0) AS n_mutual,
        |       CAST(COALESCE(mu.n_mutual, 0) * 1000 // st.n_edges AS BIGINT)
        |         AS recip_pm
        |FROM st LEFT JOIN mu ON st.label = mu.label
        |ORDER BY label ASC""").stripMargin,
    // Deterministic replay of the banded-hyperplane candidate graph:
    // same planes, same bands, same scoring — the gate stays a hard
    // hash compare even though the graph is approximate by design.
    "q_sim_knn_graph_ann" ->
      (eCteAudit + s""",
        |sig AS (
        |  SELECT vec_id, label,
        |         ${(0 until KgBands).map(k => s"${kgBandSql(k)} AS sb$k")
                    .mkString(",\n         ")},
        |         $kgExtraSql AS exf
        |  FROM e),
        |bnd AS (
        |  SELECT vec_id, label, CAST(band_id AS BIGINT) AS band_id,
        |         CAST(CASE band_id ${(0 until KgBands)
                    .map(k => s"WHEN $k THEN sb$k").mkString(" ")} END
        |              + (exf % (CAST(1 AS BIGINT) << ($KgRows + $kgWidthSql)))
        |              AS BIGINT) AS bval
        |  FROM sig CROSS JOIN (SELECT unnest(range(0, $KgBands)) AS band_id) t),
        |cand AS (
        |  SELECT DISTINCT a.label, a.vec_id AS q_id, b.vec_id AS c_id
        |  FROM bnd a JOIN bnd b
        |    ON a.label = b.label AND a.band_id = b.band_id
        |   AND a.bval = b.bval AND a.vec_id <> b.vec_id),
        |p AS (
        |  SELECT cand.label, cand.q_id, cand.c_id,
        |         """ + dotSql + """ AS cos
        |  FROM cand
        |  JOIN e q ON q.vec_id = cand.q_id
        |  JOIN e c ON c.vec_id = cand.c_id),
        |r AS (
        |  SELECT label, q_id, c_id,
        |         row_number() OVER (PARTITION BY q_id
        |                            ORDER BY cos DESC, c_id ASC) AS rn
        |  FROM p),
        |ed AS (SELECT label, q_id, c_id FROM r WHERE rn <= 3),
        |mu AS (
        |  SELECT a.label, count(*) AS n_mutual
        |  FROM ed a JOIN ed b ON a.q_id = b.c_id AND a.c_id = b.q_id
        |  GROUP BY a.label),
        |st AS (
        |  SELECT label, count(DISTINCT q_id) AS n_nodes, count(*) AS n_edges
        |  FROM ed GROUP BY label)
        |SELECT CAST(st.label AS BIGINT) AS label, st.n_nodes, st.n_edges,
        |       COALESCE(mu.n_mutual, 0) AS n_mutual,
        |       CAST(COALESCE(mu.n_mutual, 0) * 1000 // st.n_edges AS BIGINT)
        |         AS recip_pm
        |FROM st LEFT JOIN mu ON st.label = mu.label
        |ORDER BY label ASC""").stripMargin,
    // Same decomposition/centroids as q_emb_pq; codes and the per-query
    // LUT joined on (subspace, code), exact BIGINT sums throughout.
    "q_sim_pq_search" ->
      """WITH q AS (
        |  SELECT vec_id, list_transform(embedding,
        |           x -> CAST(least(127, greatest(-128,
        |             floor(CAST(x AS DOUBLE) * 64.0 + 0.5))) AS BIGINT)) AS qv
        |  FROM embeddings),
        |subs AS (
        |  SELECT vec_id, m, qv[m * 8 + 1 : m * 8 + 8] AS sub
        |  FROM q CROSS JOIN (SELECT unnest(range(0, 8)) AS m) ms),
        |cents AS (
        |  SELECT m AS cm, vec_id AS c, sub AS cent FROM subs WHERE vec_id < 4),
        |d AS (
        |  SELECT s.vec_id, s.m, c.c,
        |         list_reduce(list_prepend(CAST(0 AS BIGINT),
        |           list_transform(list_zip(s.sub, c.cent),
        |             z -> (z[1] - z[2]) * (z[1] - z[2]))),
        |           (acc, x) -> acc + x) AS dist
        |  FROM subs s JOIN cents c ON s.m = c.cm),
        |codes AS (
        |  SELECT vec_id, m, c AS code FROM (
        |    SELECT vec_id, m, c,
        |           row_number() OVER (PARTITION BY vec_id, m
        |                              ORDER BY dist ASC, c ASC) AS rn
        |    FROM d) WHERE rn = 1),
        |lut AS (
        |  SELECT vec_id AS q_id, m, c, dist AS dq FROM d WHERE vec_id < 10),
        |adc AS (
        |  SELECT l.q_id, co.vec_id AS c_id, CAST(sum(l.dq) AS BIGINT) AS adc_dist
        |  FROM codes co JOIN lut l ON co.m = l.m AND co.code = l.c
        |  WHERE co.vec_id <> l.q_id
        |  GROUP BY 1, 2)
        |SELECT q_id, c_id, adc_dist, rn FROM (
        |  SELECT q_id, c_id, adc_dist,
        |         row_number() OVER (PARTITION BY q_id
        |                            ORDER BY adc_dist ASC, c_id ASC) AS rn
        |  FROM adc)
        |WHERE rn <= 5
        |ORDER BY q_id ASC, rn ASC""".stripMargin,
    "q_emb_pq" ->
      """WITH q AS (
        |  SELECT vec_id, list_transform(embedding,
        |           x -> CAST(least(127, greatest(-128,
        |             floor(CAST(x AS DOUBLE) * 64.0 + 0.5))) AS BIGINT)) AS qv
        |  FROM embeddings),
        |subs AS (
        |  SELECT vec_id, m, qv[m * 8 + 1 : m * 8 + 8] AS sub
        |  FROM q CROSS JOIN (SELECT unnest(range(0, 8)) AS m) ms),
        |cents AS (
        |  SELECT m AS cm, vec_id AS c, sub AS cent FROM subs WHERE vec_id < 4),
        |d AS (
        |  SELECT s.vec_id, s.m, c.c,
        |         list_reduce(list_prepend(CAST(0 AS BIGINT),
        |           list_transform(list_zip(s.sub, c.cent),
        |             z -> (z[1] - z[2]) * (z[1] - z[2]))),
        |           (acc, x) -> acc + x) AS dist
        |  FROM subs s JOIN cents c ON s.m = c.cm),
        |a AS (
        |  SELECT vec_id, m, c, dist,
        |         row_number() OVER (PARTITION BY vec_id, m
        |                            ORDER BY dist ASC, c ASC) AS rn
        |  FROM d)
        |SELECT CAST(m AS BIGINT) AS m, CAST(c AS BIGINT) AS c,
        |       count(*) AS n_assigned,
        |       CAST(sum(dist) AS BIGINT) AS sum_sqerr
        |FROM a WHERE rn = 1
        |GROUP BY m, c
        |ORDER BY m ASC, c ASC""".stripMargin,
    "q_sim_kmeans" ->
      """WITH q AS (
        |  SELECT vec_id,
        |         list_transform(embedding, x -> CAST(least(127, greatest(-128,
        |           floor(CAST(x AS DOUBLE) * 64.0 + 0.5))) AS BIGINT)) AS qv
        |  FROM embeddings),
        |c0 AS (SELECT vec_id AS cid, qv AS cqv FROM q WHERE vec_id < 4),
        |d0 AS (
        |  SELECT q.vec_id, q.qv, c0.cid,
        |         list_reduce(list_prepend(CAST(0 AS BIGINT),
        |           list_transform(list_zip(q.qv, c0.cqv),
        |             z -> (z[1] - z[2]) * (z[1] - z[2]))),
        |           (acc, x) -> acc + x) AS dist0
        |  FROM q CROSS JOIN c0),
        |a0 AS (
        |  SELECT vec_id, qv, cid AS cid0 FROM (
        |    SELECT vec_id, qv, cid,
        |           row_number() OVER (PARTITION BY vec_id
        |                              ORDER BY dist0 ASC, cid ASC) AS rn
        |    FROM d0)
        |  WHERE rn = 1),
        |comp AS (
        |  SELECT cid0, idx, CAST(sum(qv[idx]) AS BIGINT) AS s2
        |  FROM a0, range(1, 65) r(idx)
        |  GROUP BY cid0, idx),
        |cent AS (
        |  SELECT cid0 AS cid, list(s2 ORDER BY idx ASC) AS sarr
        |  FROM comp GROUP BY cid0),
        |cnt AS (SELECT cid0 AS cid, count(*) AS n FROM a0 GROUP BY cid0),
        |d1 AS (
        |  SELECT a0.vec_id, a0.cid0, cent.cid, cnt.n,
        |         list_reduce(list_prepend(CAST(0 AS BIGINT),
        |           list_transform(list_zip(a0.qv, cent.sarr),
        |             z -> (z[1] * n - z[2]) * (z[1] * n - z[2]))),
        |           (acc, x) -> acc + x) AS num
        |  FROM a0 CROSS JOIN cent JOIN cnt ON cent.cid = cnt.cid),
        |a1 AS (
        |  SELECT vec_id, cid0, cid, num,
        |         row_number() OVER (PARTITION BY vec_id
        |           ORDER BY CAST(num AS DOUBLE) / (n * n) ASC, cid ASC) AS rn
        |  FROM d1)
        |SELECT cid, count(*) AS n_vecs,
        |       CAST(sum(CASE WHEN cid <> cid0 THEN 1 ELSE 0 END) AS BIGINT)
        |         AS n_moved,
        |       CAST(sum(num) AS BIGINT) AS inertia_num
        |FROM a1 WHERE rn = 1
        |GROUP BY cid ORDER BY cid ASC""".stripMargin,
    "q_emb_stats" ->
      """WITH q AS (
        |  SELECT label,
        |         list_transform(embedding, x -> CAST(least(127, greatest(-128,
        |           floor(CAST(x AS DOUBLE) * 64.0 + 0.5))) AS BIGINT)) AS qv
        |  FROM embeddings),
        |r AS (
        |  SELECT label,
        |         list_reduce(list_prepend(CAST(0 AS BIGINT), qv),
        |           (a, v) -> a + v) AS row_sum,
        |         list_reduce(list_prepend(CAST(0 AS BIGINT),
        |           list_transform(qv, v -> abs(v))), (a, v) -> a + v) AS row_l1,
        |         list_max(qv) AS rmax, list_min(qv) AS rmin
        |  FROM q)
        |SELECT label, count(*) AS n_vecs,
        |       CAST(sum(row_sum) AS BIGINT) AS sum_q,
        |       CAST(sum(row_l1) AS BIGINT) AS l1_q,
        |       CAST(max(rmax) AS BIGINT) AS max_q,
        |       CAST(min(rmin) AS BIGINT) AS min_q,
        |       CAST(sum(row_sum) AS BIGINT)::DOUBLE / (count(*) * 64)
        |         AS mean_component
        |FROM r GROUP BY label
        |ORDER BY label ASC""".stripMargin,
    "q_emb_quant" ->
      """WITH b AS (
        |  SELECT vec_id, embedding,
        |         127.0 / greatest(
        |           list_max(list_transform(embedding,
        |             x -> abs(CAST(x AS DOUBLE)))), 1e-30) AS qscale
        |  FROM embeddings),
        |q AS (
        |  SELECT vec_id, embedding, qscale,
        |         list_transform(embedding,
        |           x -> CAST(floor(CAST(x AS DOUBLE) * qscale + 0.5) AS INT)) AS qv
        |  FROM b)
        |SELECT vec_id, qscale,
        |       CAST(len(list_filter(qv, v -> abs(v) >= 127)) AS BIGINT) AS n_sat,
        |       list_max(list_transform(list_zip(embedding, qv),
        |         z -> abs(CAST(z[1] AS DOUBLE)
        |                  - CAST(z[2] AS DOUBLE) / qscale))) AS max_abs_err
        |FROM q
        |ORDER BY vec_id ASC""".stripMargin,
    "q_sim_topk" ->
      (eCte + """,
        |p AS (
        |  SELECT q.vec_id AS q_id, c.vec_id AS c_id,
        |         """ + dotSql + """ AS cos
        |  FROM e q JOIN e c ON q.label = c.label AND q.vec_id <> c.vec_id
        |  WHERE q.vec_id < 10),
        |r AS (
        |  SELECT q_id, c_id, cos,
        |         row_number() OVER (PARTITION BY q_id
        |                            ORDER BY cos DESC, c_id ASC) AS rn
        |  FROM p)
        |SELECT q_id, c_id, round(cos, 4) AS cos_sim, rn
        |FROM r WHERE rn <= 5
        |ORDER BY q_id ASC, rn ASC""").stripMargin,
    "q_sim_hardneg" ->
      (eCte + """,
        |p AS (
        |  SELECT q.vec_id AS q_id, q.label AS q_label,
        |         c.vec_id AS c_id, c.label AS c_label,
        |         """ + dotSql + """ AS cos
        |  FROM e q JOIN e c ON q.label % 5 = c.label % 5
        |                   AND q.label <> c.label
        |  WHERE q.vec_id < 10),
        |r AS (
        |  SELECT q_id, q_label, c_id, c_label, cos,
        |         row_number() OVER (PARTITION BY q_id
        |                            ORDER BY cos DESC, c_id ASC) AS rn
        |  FROM p)
        |SELECT q_id, CAST(q_label AS BIGINT) AS q_label, c_id,
        |       CAST(c_label AS BIGINT) AS c_label,
        |       round(cos, 4) AS cos_sim, rn
        |FROM r WHERE rn <= 3
        |ORDER BY q_id ASC, rn ASC""").stripMargin,
    "q_knn_label" ->
      (eCte + """,
        |p AS (
        |  SELECT q.vec_id AS q_id, c.vec_id AS c_id, c.label AS c_label,
        |         """ + dotSql + """ AS cos
        |  FROM e q JOIN e c ON q.label % 5 = c.label % 5 AND q.vec_id <> c.vec_id
        |  WHERE q.vec_id < 10),
        |r AS (
        |  SELECT q_id, c_id, c_label, cos,
        |         row_number() OVER (PARTITION BY q_id
        |                            ORDER BY cos DESC, c_id ASC) AS rn
        |  FROM p),
        |v AS (
        |  SELECT q_id, c_label, count(*) AS votes
        |  FROM r WHERE rn <= 5
        |  GROUP BY q_id, c_label),
        |t AS (
        |  SELECT q_id, c_label, votes,
        |         row_number() OVER (PARTITION BY q_id
        |                            ORDER BY votes DESC, c_label ASC) AS vr
        |  FROM v)
        |SELECT q_id, CAST(c_label AS BIGINT) AS pred_label, votes
        |FROM t WHERE vr = 1
        |ORDER BY q_id ASC""").stripMargin,
    "q_emb_prune_proto" ->
      (SemAsgCte + """,
        |pr AS (
        |  SELECT vec_id, cid, dist2,
        |         row_number() OVER (PARTITION BY cid
        |           ORDER BY dist2 DESC, vec_id ASC) AS r,
        |         count(*) OVER (PARTITION BY cid) AS csize
        |  FROM asg)
        |SELECT vec_id, CAST(cid AS BIGINT) AS cid, CAST(dist2 AS BIGINT)
        |         AS dist2,
        |       CAST(CASE WHEN r <= (3 * csize + 4) // 5 THEN 1 ELSE 0 END
        |         AS BIGINT) AS kept
        |FROM pr ORDER BY vec_id ASC""").stripMargin,
    "q_dedup_semdedup" ->
      (SemAsgCte + """,
        |pr AS (
        |  SELECT a.vec_id AS a_id, b.vec_id AS b_id,
        |         list_reduce(list_prepend(CAST(0 AS BIGINT),
        |           list_transform(list_zip(a.qv, b.qv), z -> z[1] * z[2])),
        |           (acc, x) -> acc + x) AS dot,
        |         a.n2 AS na, b.n2 AS nb
        |  FROM asg a JOIN asg b ON a.cid = b.cid AND a.vec_id < b.vec_id),
        |drp AS (
        |  SELECT DISTINCT b_id FROM pr
        |  WHERE dot > 0 AND dot * dot * 400 >= na * nb * 49)
        |SELECT g.vec_id, CAST(g.cid AS BIGINT) AS cid,
        |       CAST(CASE WHEN d.b_id IS NULL THEN 0 ELSE 1 END AS BIGINT)
        |         AS dropped
        |FROM asg g LEFT JOIN drp d ON g.vec_id = d.b_id
        |ORDER BY g.vec_id ASC""").stripMargin,
    "q_dedup_embcos" ->
      (eCte + """,
        |eb AS (
        |  SELECT vec_id, embedding, nrm,
        |         """ + Dedup.bucketSql + """ AS bucket
        |  FROM e)
        |SELECT q.vec_id AS a_id, c.vec_id AS b_id,
        |       round(""" + dotSql + """, 4) AS cos_sim
        |FROM eb q JOIN eb c ON q.bucket = c.bucket AND q.vec_id < c.vec_id
        |ORDER BY cos_sim DESC, a_id ASC, b_id ASC
        |LIMIT 20""").stripMargin,
    "q_emb_drift" ->
      """WITH q AS (
        |  SELECT label, vec_id % 2 AS half,
        |         unnest(range(1, len(embedding) + 1)) AS pos,
        |         unnest(list_transform(embedding,
        |           x -> CAST(least(127, greatest(-128,
        |             floor(CAST(x AS DOUBLE) * 64.0 + 0.5))) AS BIGINT)))
        |           AS v
        |  FROM embeddings),
        |c AS (
        |  SELECT label, half, pos, CAST(sum(v) AS BIGINT) AS s,
        |         count(*) AS n
        |  FROM q GROUP BY label, half, pos),
        |j AS (
        |  SELECT c0.label, c0.pos, c0.s AS s0, c0.n AS n0,
        |         c1.s AS s1, c1.n AS n1
        |  FROM c c0 JOIN c c1
        |    ON c0.label = c1.label AND c0.pos = c1.pos
        |   AND c0.half = 0 AND c1.half = 1)
        |SELECT label, n0, n1,
        |       CAST(sum(abs(s0 * n1 - s1 * n0)) AS BIGINT) AS numer,
        |       CAST(sum(abs(s0 * n1 - s1 * n0)) * 1000
        |         // (n0 * n1 * 64) AS BIGINT) AS drift_m
        |FROM j
        |GROUP BY label, n0, n1
        |ORDER BY label ASC""".stripMargin,
    "q_sim_ivf_probe2" ->
      (eCte + """,
        |cc AS (
        |  SELECT vec_id AS cid, embedding AS cemb, nrm AS cnrm
        |  FROM e WHERE vec_id < 8),
        |sc AS (
        |  SELECT e.vec_id, cc.cid,
        |         list_reduce(list_prepend(CAST(0 AS DOUBLE),
        |           list_transform(list_zip(e.embedding, cc.cemb),
        |             z -> CAST(z[1] AS DOUBLE) * CAST(z[2] AS DOUBLE))),
        |           (a, x) -> a + x) / (e.nrm * cc.cnrm) AS score
        |  FROM e, cc),
        |rk AS (
        |  SELECT vec_id, cid,
        |         row_number() OVER (PARTITION BY vec_id
        |                            ORDER BY score DESC, cid ASC) AS rn
        |  FROM sc),
        |asgn AS (SELECT vec_id, cid AS list_id FROM rk WHERE rn = 1),
        |probes AS (SELECT vec_id, cid AS list_id FROM rk WHERE rn <= 2),
        |p AS (
        |  SELECT q.vec_id AS q_id, c.vec_id AS c_id,
        |         """ + dotSql + """ AS cos
        |  FROM e q
        |  JOIN probes qa ON q.vec_id = qa.vec_id
        |  JOIN asgn ca ON ca.list_id = qa.list_id
        |  JOIN e c ON c.vec_id = ca.vec_id AND c.vec_id <> q.vec_id
        |  WHERE q.vec_id < 10),
        |rr AS (
        |  SELECT q_id, c_id, cos,
        |         row_number() OVER (PARTITION BY q_id
        |                            ORDER BY cos DESC, c_id ASC) AS rn
        |  FROM p)
        |SELECT q_id, c_id, round(cos, 4) AS cos_sim, rn
        |FROM rr WHERE rn <= 5
        |ORDER BY q_id ASC, rn ASC""").stripMargin,
    "q_sim_ivf_probe3" ->
      (eCte + """,
        |cc AS (
        |  SELECT vec_id AS cid, embedding AS cemb, nrm AS cnrm
        |  FROM e WHERE vec_id < 8),
        |sc AS (
        |  SELECT e.vec_id, cc.cid,
        |         list_reduce(list_prepend(CAST(0 AS DOUBLE),
        |           list_transform(list_zip(e.embedding, cc.cemb),
        |             z -> CAST(z[1] AS DOUBLE) * CAST(z[2] AS DOUBLE))),
        |           (a, x) -> a + x) / (e.nrm * cc.cnrm) AS score
        |  FROM e, cc),
        |rk AS (
        |  SELECT vec_id, cid,
        |         row_number() OVER (PARTITION BY vec_id
        |                            ORDER BY score DESC, cid ASC) AS rn
        |  FROM sc),
        |asgn AS (SELECT vec_id, cid AS list_id FROM rk WHERE rn = 1),
        |probes AS (SELECT vec_id, cid AS list_id FROM rk WHERE rn <= 3),
        |p AS (
        |  SELECT q.vec_id AS q_id, c.vec_id AS c_id,
        |         """ + dotSql + """ AS cos
        |  FROM e q
        |  JOIN probes qa ON q.vec_id = qa.vec_id
        |  JOIN asgn ca ON ca.list_id = qa.list_id
        |  JOIN e c ON c.vec_id = ca.vec_id AND c.vec_id <> q.vec_id
        |  WHERE q.vec_id < 10),
        |rr AS (
        |  SELECT q_id, c_id, cos,
        |         row_number() OVER (PARTITION BY q_id
        |                            ORDER BY cos DESC, c_id ASC) AS rn
        |  FROM p)
        |SELECT q_id, c_id, round(cos, 4) AS cos_sim, rn
        |FROM rr WHERE rn <= 5
        |ORDER BY q_id ASC, rn ASC""").stripMargin,
    "q_sim_ivf_kmeans" ->
      ("WITH " + kmIdxSql + """
        |SELECT cid AS list_id, count(*) AS n_vecs,
        |       CAST(sum(CASE WHEN cid0 <> cid THEN 1 ELSE 0 END) AS BIGINT)
        |         AS n_moved
        |FROM kmD1 WHERE rn = 1
        |GROUP BY cid ORDER BY list_id ASC""").stripMargin,
    "q_sim_ivf_km_probe2" ->
      (eCte + ",\n" + kmIdxSql + """,
        |asgn AS (SELECT vec_id, cid AS list_id FROM kmD1 WHERE rn = 1),
        |probes AS (SELECT vec_id, cid AS list_id FROM kmD1 WHERE rn <= 2),
        |p AS (
        |  SELECT q.vec_id AS q_id, c.vec_id AS c_id,
        |         """ + dotSql + """ AS cos
        |  FROM e q
        |  JOIN probes qa ON q.vec_id = qa.vec_id
        |  JOIN asgn ca ON ca.list_id = qa.list_id
        |  JOIN e c ON c.vec_id = ca.vec_id AND c.vec_id <> q.vec_id
        |  WHERE q.vec_id < 10),
        |rr AS (
        |  SELECT q_id, c_id, cos,
        |         row_number() OVER (PARTITION BY q_id
        |                            ORDER BY cos DESC, c_id ASC) AS rn
        |  FROM p)
        |SELECT q_id, c_id, round(cos, 4) AS cos_sim, rn
        |FROM rr WHERE rn <= 5
        |ORDER BY q_id ASC, rn ASC""").stripMargin,
    // stored ≡ rebuilt (the index is integer-exact), so the stored-index
    // search oracles against the same from-scratch SQL as km_probe2
    "q_sim_ivf_stored" ->
      (eCte + ",\n" + kmIdxSql + """,
        |asgn AS (SELECT vec_id, cid AS list_id FROM kmD1 WHERE rn = 1),
        |probes AS (SELECT vec_id, cid AS list_id FROM kmD1 WHERE rn <= 2),
        |p AS (
        |  SELECT q.vec_id AS q_id, c.vec_id AS c_id,
        |         """ + dotSql + """ AS cos
        |  FROM e q
        |  JOIN probes qa ON q.vec_id = qa.vec_id
        |  JOIN asgn ca ON ca.list_id = qa.list_id
        |  JOIN e c ON c.vec_id = ca.vec_id AND c.vec_id <> q.vec_id
        |  WHERE q.vec_id < 10),
        |rr AS (
        |  SELECT q_id, c_id, cos,
        |         row_number() OVER (PARTITION BY q_id
        |                            ORDER BY cos DESC, c_id ASC) AS rn
        |  FROM p)
        |SELECT q_id, c_id, round(cos, 4) AS cos_sim, rn
        |FROM rr WHERE rn <= 5
        |ORDER BY q_id ASC, rn ASC""").stripMargin,
    "q_sim_ann_ingest" ->
      (eCte + ",\n" + kmIdxSql + """,
        |asgn AS (SELECT vec_id, cid AS list_id FROM kmD1 WHERE rn = 1),
        |probes AS (SELECT vec_id, cid AS list_id FROM kmD1
        |           WHERE rn <= 2 AND vec_id % 10 = 7 AND vec_id < 1000),
        |p AS (
        |  SELECT q.vec_id AS new_id, c.vec_id AS match_id,
        |         """ + dotSql + """ AS cos
        |  FROM e q
        |  JOIN probes qa ON q.vec_id = qa.vec_id
        |  JOIN asgn ca ON ca.list_id = qa.list_id
        |  JOIN e c ON c.vec_id = ca.vec_id AND c.vec_id <> q.vec_id
        |               AND c.vec_id % 10 <> 7
        |  WHERE q.vec_id % 10 = 7 AND q.vec_id < 1000),
        |rr AS (
        |  SELECT new_id, match_id, cos,
        |         row_number() OVER (PARTITION BY new_id
        |                            ORDER BY cos DESC, match_id ASC) AS rn
        |  FROM p)
        |SELECT new_id, match_id, round(cos, 4) AS cos_sim,
        |       CAST(CASE WHEN round(cos, 4) >= 0.4 THEN 1 ELSE 0 END
        |            AS BIGINT) AS dup
        |FROM rr WHERE rn = 1
        |ORDER BY new_id ASC""").stripMargin,
    "q_sim_ivf_search" ->
      (eCte + """,
        |cc AS (
        |  SELECT vec_id AS cid, embedding AS cemb, nrm AS cnrm
        |  FROM e WHERE vec_id < 8),
        |sc AS (
        |  SELECT e.vec_id, cc.cid,
        |         list_reduce(list_prepend(CAST(0 AS DOUBLE),
        |           list_transform(list_zip(e.embedding, cc.cemb),
        |             z -> CAST(z[1] AS DOUBLE) * CAST(z[2] AS DOUBLE))),
        |           (a, x) -> a + x) / (e.nrm * cc.cnrm) AS score
        |  FROM e, cc),
        |rk AS (
        |  SELECT vec_id, cid,
        |         row_number() OVER (PARTITION BY vec_id
        |                            ORDER BY score DESC, cid ASC) AS rn
        |  FROM sc),
        |asgn AS (SELECT vec_id, cid AS list_id FROM rk WHERE rn = 1),
        |p AS (
        |  SELECT q.vec_id AS q_id, c.vec_id AS c_id,
        |         """ + dotSql + """ AS cos
        |  FROM e q
        |  JOIN asgn qa ON q.vec_id = qa.vec_id
        |  JOIN asgn ca ON ca.list_id = qa.list_id
        |  JOIN e c ON c.vec_id = ca.vec_id AND c.vec_id <> q.vec_id
        |  WHERE q.vec_id < 10),
        |rr AS (
        |  SELECT q_id, c_id, cos,
        |         row_number() OVER (PARTITION BY q_id
        |                            ORDER BY cos DESC, c_id ASC) AS rn
        |  FROM p)
        |SELECT q_id, c_id, round(cos, 4) AS cos_sim, rn
        |FROM rr WHERE rn <= 5
        |ORDER BY q_id ASC, rn ASC""").stripMargin,
    "q_sim_ivf" ->
      (eCte + """,
        |cc AS (
        |  SELECT vec_id AS cid, embedding AS cemb, nrm AS cnrm
        |  FROM e WHERE vec_id < 8),
        |sc AS (
        |  SELECT e.vec_id, cc.cid,
        |         list_reduce(list_prepend(CAST(0 AS DOUBLE),
        |           list_transform(list_zip(e.embedding, cc.cemb),
        |             z -> CAST(z[1] AS DOUBLE) * CAST(z[2] AS DOUBLE))),
        |           (a, x) -> a + x) / (e.nrm * cc.cnrm) AS score
        |  FROM e, cc),
        |r AS (
        |  SELECT vec_id, cid,
        |         row_number() OVER (PARTITION BY vec_id
        |                            ORDER BY score DESC, cid ASC) AS rn
        |  FROM sc)
        |SELECT cid AS list_id, count(*) AS n_vecs
        |FROM r WHERE rn = 1
        |GROUP BY list_id
        |ORDER BY list_id ASC""").stripMargin
  )
}
