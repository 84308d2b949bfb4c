package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Scale-path deduplication + LSH machinery (driver-ordered extensions):
  * n-gram/token Jaccard (blocked), MinHash+LSH band bucketing, SimHash,
  * and random-hyperplane LSH bucketing for ANN.
  *
  * Scale design: the all-pairs comparisons are always *blocked* — by
  * (lang, source) for Jaccard, by LSH band bucket for MinHash, by
  * hyperplane bucket for ANN — so candidate-pair counts stay near-linear
  * in corpus size. That blocking is exactly what makes these runnable at
  * 100 TB: the shuffle keys are the blocks, each task sees one bucket.
  *
  * Hash discipline: the INTERNAL candidate machinery (minhashBuckets →
  * nearDupPairs/dedupIncr) uses Spark's xxhash64 — fast, well-mixed, and
  * oracled END-TO-END because the declared outputs are the verified exact
  * pairs, not the hashes. Every declared row that EXPOSES hash-derived
  * values (signatures, bucket stats) computes them from deterministic
  * hashes both engines reproduce bit-identically (md5 hex fold for
  * MinHash, the seed-7 ×131 polynomial for SimHash), so all of them carry
  * hard DuckDB oracles.
  */
object Dedup {

  private def toks = array_distinct(split(col("text"), " "))

  /** The storage of every signature and shingle-set leaf built here:
    * serialized, spilling to disk under memory pressure. */
  private def persisted(df: DataFrame): DataFrame =
    df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)

  // ------------------------------------------------------ audit size guard

  /** The block-quadratic audits (q_dedup_jaccard/contain + their LSH
    * twins, q_dedup_est_err, q_sim_knn_graph(+_ann)) are licensed at
    * fixture scale by bounded blocks; their scaladoc has always
    * prescribed "run over a key-sampled block" at corpus scale. The
    * guard makes that prescription the DEFAULT rather than advice:
    * whenever the input exceeds [[AuditCap]] rows, the audit runs over
    * a deterministic ≈AuditCap-row subsample keyed by the cross-engine
    * md5 fold of the id ([[DetHash]]), with the divisor derived from
    * the corpus count — footer metadata on the Spark side
    * ([[graft.Tables.rowCount]], job-free at plan construction), a
    * scalar count subquery on the DuckDB side — so BOTH engines select
    * the exact same block and the gate stays a hard rows+hash compare
    * at any scale. Every fixture SF (≤ 50k docs) sits under the cap, so
    * oracled results are unchanged; a regenerated bigger fixture can no
    * longer quietly turn the bench quadratic (cost is capped at
    * C(AuditCap, 2) block-bounded pair work forever). AuditGuardSpec
    * pins that sampling commutes with the audits: the LSH twin over a
    * forced sample equals the all-pairs audit over the same sample.
    *
    * Cap sizing: every fixture SF holds ≤ 5,000 documents / 2,000
    * embeddings, so 8192 keeps all oracled results bit-identical while
    * engaging already at the 10× replica (50k docs → divisor 7 → ≈7k
    * sampled, re-measured q_dedup_contain 15.7× → ~2× there) — the
    * audit's statistical power (error histograms, top-pair screens)
    * saturates around 10^3–10^4 docs; beyond that the extra pairs buy
    * quadratic cost, not information. */
  val AuditCap = 8192L

  def auditDivisor(n: Long): Long = math.max(1L, (n + AuditCap - 1) / AuditCap)

  /** Keep rows of `df` whose md5-hex fold of `idCol` ≡ 0 (mod the
    * divisor for corpus size `n`); identity when `n` is under the cap. */
  def auditSample(df: DataFrame, n: Long, idCol: String): DataFrame = {
    val s = auditDivisor(n)
    if (s <= 1L) df
    else df.withColumn("_ah", expr(s"md5(cast($idCol as string))"))
      .filter(expr(s"${graft.operators.DetHash.sparkHexInt("_ah")} % ${s}L = 0"))
      .drop("_ah")
  }

  /** DuckDB twin of [[auditSample]] as a WHERE fragment over `table`.
    * The md5 call is inlined into the 8 fold terms (oracle-only SQL at
    * fixture row counts — DuckDB CSEs the digest; the perf note in
    * DetHash's scaladoc is about the engine-side hot path). */
  def auditSampleSql(table: String, idCol: String): String =
    s"((${graft.operators.DetHash.duckHexInt(s"md5(CAST($idCol AS VARCHAR))")})" +
      s" % (SELECT greatest(1, (count(*) + ${AuditCap - 1}) // $AuditCap)" +
      s" FROM $table)) = 0"

  // ---------------------------------------------------------------- jaccard

  /** Token-set Jaccard similarity between documents in the same
    * (lang, source) block; |∪| derived arithmetically as |A|+|B|-|∩| so
    * both engines count identically. Top-100 pairs.
    *
    * All-pairs WITHIN a block by design — valid only while blocks stay
    * bounded (TestdataInvariantsSpec guards the block structure; cost is
    * Σ C(block, 2)). For unbounded corpora the declared scale path is
    * q_dedup_neardup: LSH candidates → exact verify, never all-pairs. */
  def dedupJaccard(s: SparkSession, d: String): DataFrame =
    dedupJaccardOn(auditSample(Tables.documents(s, d),
      Tables.rowCount(s, d, "documents"), "doc_id"))

  def dedupJaccardOn(docsIn: DataFrame): DataFrame = {
    val docs = Tables.spread(docsIn).withColumn("tset", toks)
    val a = docs.select(col("lang"), col("source"), col("doc_id").as("a_id"),
      col("tset").as("ta"))
    val b = docs.select(col("lang").as("lang_b"), col("source").as("source_b"),
      col("doc_id").as("b_id"), col("tset").as("tb"))
    a.join(b, col("lang") === col("lang_b") && col("source") === col("source_b")
        && col("a_id") < col("b_id"))
      .withColumn("inter", size(array_intersect(col("ta"), col("tb"))).cast("long"))
      .withColumn("uni", (size(col("ta")) + size(col("tb"))).cast("long") - col("inter"))
      .withColumn("jac", col("inter").cast("double") / col("uni"))
      .select(col("a_id"), col("b_id"), col("inter"), col("uni"), col("jac"))
      .orderBy(col("jac").desc, col("a_id").asc, col("b_id").asc)
      .limit(100)
  }

  /** Asymmetric token-set CONTAINMENT |A∩B|·1000 div |A| — the dedup
    * screen Jaccard misses: a short doc fully quoted inside a long one
    * has tiny Jaccard (union is dominated by B) but containment 1000.
    * That doc-inside-doc case is the common training-data leak (boiler-
    * plate wrappers, quoted articles), so it gets its own declared
    * surface. Integer permille (div truncates identically in both
    * engines); pairs are DIRECTED (a≠b, both orientations scored) since
    * containment is not symmetric. Same bounded-(lang,source) blocking
    * contract as dedupJaccard; the unbounded-corpus path would reuse
    * q_dedup_neardup's LSH candidates with this scorer swapped in. */
  def dedupContain(s: SparkSession, d: String): DataFrame =
    dedupContainOn(auditSample(Tables.documents(s, d),
      Tables.rowCount(s, d, "documents"), "doc_id"))

  def dedupContainOn(docsIn: DataFrame): DataFrame = {
    val docs = Tables.spread(docsIn).withColumn("tset", toks)
    val a = docs.select(col("lang"), col("source"), col("doc_id").as("a_id"),
      col("tset").as("ta"))
    val b = docs.select(col("lang").as("lang_b"), col("source").as("source_b"),
      col("doc_id").as("b_id"), col("tset").as("tb"))
    a.join(b, col("lang") === col("lang_b") && col("source") === col("source_b")
        && col("a_id") =!= col("b_id"))
      .withColumn("inter", size(array_intersect(col("ta"), col("tb"))).cast("long"))
      .withColumn("na", size(col("ta")).cast("long"))
      .withColumn("cont_pm", expr("inter * 1000 div na"))
      .select(col("a_id"), col("b_id"), col("inter"), col("na"), col("cont_pm"))
      .orderBy(col("cont_pm").desc, col("a_id").asc, col("b_id").asc)
      .limit(100)
  }

  // ------------------------------------------- LSH-fed scale-safe twins

  /** Banded-MinHash candidate pairs with the BLOCK columns folded into
    * the bucket key — the candidate generator behind the scale-safe
    * twins of the block-quadratic audits ([[dedupJaccardLsh]],
    * [[dedupContainLsh]]). Identical streamed-self-join discipline as
    * [[minhashCandidates]] (bucket-keyed shuffle, spill-safe, no
    * collected id lists), but the bucket hash additionally digests the
    * block columns, so candidates never cross blocks: on a corpus with
    * a constant duplicate RATE the per-bucket collision count — and so
    * the candidate stream — grows linearly with the corpus, where the
    * all-pairs block join grows with Σ C(block, 2). Exact block
    * equality is ALSO enforced on the join (the 2^-64 xxhash64
    * cross-block collision would otherwise admit a pair the all-pairs
    * oracle excludes). estMin = 0 disables the signature prefilter —
    * required when downstream scores an asymmetric measure
    * (containment) whose true pairs can sit at low symmetric Jaccard. */
  def blockedLshCandidates(docs: DataFrame, blockCols: Seq[String],
      nGram: Int, numPerms: Int, bandRows: Int,
      estMin: Double): DataFrame =
    blockedLshCandidatesFromFrame(
      lshAuditFrame(docs, blockCols, nGram, numPerms),
      blockCols, numPerms, bandRows, estMin)

  /** The shared per-construction frame of the LSH audit twins (round 16,
    * VERDICT r15 item 4): (blockCols..., doc_id, tset, mh) — the n-gram
    * shingle set the scorer verifies plus the numPerms-wide minhash
    * array over it, from ONE pass over the documents. The round-16 final
    * plans showed every banded self-join leg recomputing the signature
    * map (the candidate join goes broadcast at fixture scale, so there
    * is no exchange for AQE stage-reuse to share), and the join keys'
    * inferred IsNotNull pushed a second full signature evaluation into
    * the scan filter. The declared twins persist this frame as a
    * [[Hints.leaf]] and feed BOTH candidate legs and both verify legs
    * from it; property tests keep the stateless plan. Bulk is bounded:
    * the audit guard caps the input at ≈[[AuditCap]] rows. */
  private[operators] def lshAuditFrame(docs: DataFrame, blockCols: Seq[String],
      nGram: Int, numPerms: Int): DataFrame = {
    graft.functions.VectorExprs.register(docs.sparkSession)
    withToks(Tables.spread(docs))
      .withColumn("tset", expr(shingles(nGram)))
      .withColumn("mh", expr(s"minhash_sigs(tset, $numPerms)"))
      .select((blockCols.map(col) ++
        Seq(col("doc_id"), col("tset"), col("mh"))): _*)
  }

  /** [[blockedLshCandidates]] over a prepared [[lshAuditFrame]] — same
    * banding, join and prefilter, with signatures read as `mh` items
    * (the values [[minhashSignatures]] produced as m0..m{n-1}: same
    * expression, same shingle set — docs with empty shingle sets are
    * filtered here exactly as minhashSignatures did). */
  private[operators] def blockedLshCandidatesFromFrame(frame: DataFrame,
      blockCols: Seq[String], numPerms: Int, bandRows: Int,
      estMin: Double): DataFrame = {
    val sigs = frame.filter(size(col("tset")) > 0)
    val bands = (0 until numPerms / bandRows).map { b =>
      val cols = (b * bandRows until (b + 1) * bandRows)
        .map(i => col("mh").getItem(i))
      struct(lit(b).cast("long").as("band_id"),
        xxhash64((blockCols.map(col) ++ cols): _*).as("bucket"))
    }
    // The full signature rides the banded stream ONLY when the prefilter
    // is on: with estMin = 0 the zip_with estimate is a dead filter, and
    // shipping numPerms longs per banded row through both join legs was
    // most of this operator's shuffle volume (measured 8.2 s → 2.6 s at
    // sf0.1 for the 64-perm containment-twin configuration).
    val carrySig = estMin > 0.0
    val baseCols = blockCols.map(col) :+ col("doc_id")
    val sigCol = if (carrySig) Seq(col("mh").as("sig")) else Nil
    val bkt = sigs.select((baseCols ++ sigCol :+
        explode(array(bands: _*)).as("bb")): _*)
      .select((baseCols ++ sigCol.map(_ => col("sig")) :+
        col("bb.band_id") :+ col("bb.bucket")): _*)
    val blockEq = blockCols.map(c => col(s"l.$c") === col(s"r.$c"))
      .reduceOption(_ && _).getOrElse(lit(true))
    val joined = bkt.alias("l").join(bkt.alias("r"),
        col("l.band_id") === col("r.band_id") &&
        col("l.bucket") === col("r.bucket") && blockEq &&
        col("l.doc_id") < col("r.doc_id"))
    val filtered =
      if (carrySig)
        joined.withColumn("est", expr(
          "aggregate(zip_with(l.sig, r.sig, (p, q) -> IF(p = q, 1, 0)), 0, (acc, v) -> acc + v)"))
          .filter(col("est").cast("double") >= lit(estMin) * numPerms)
      else joined
    filtered
      .select(col("l.doc_id").as("a_id"), col("r.doc_id").as("b_id"))
      .repartition(frame.sparkSession.sessionState.conf.numShufflePartitions,
        col("a_id"), col("b_id"))
      .distinct()
  }

  /** Scale-safe twin of [[dedupJaccard]]: the SAME top-100 token-set
    * Jaccard audit, fed by blocked 1-gram MinHash candidates instead of
    * the all-pairs block join — and gated by the SAME all-pairs oracle,
    * which is what licenses the swap. Recall argument: the fixture's
    * rank-100 cutoff sits at J = 0.9 (measured; ≥110 blocked pairs at
    * J ≥ 0.9), and at 32 perms × (16 bands of 2 rows) a J ≥ 0.9 pair
    * escapes banding with probability (1 − 0.81)^16 ≈ 6e-12 and the
    * est ≥ 0.5·perms prefilter with P[Binom(32, 0.9) < 16] ≈ 1e-10 —
    * so candidates ⊇ the true top-100 and the sorted prefix is
    * identical. 1-gram shingles because the SCORED measure is token-set
    * Jaccard: banding must hash the similarity space the scorer ranks
    * (the bigram banding of q_dedup_neardup measures J ≈ 0.01–0.06 on
    * exactly these token-top pairs — wrong space, recall ≈ 0). */
  def dedupJaccardLsh(s: SparkSession, d: String): DataFrame =
    dedupJaccardLshOn(auditSample(Tables.documents(s, d),
      Tables.rowCount(s, d, "documents"), "doc_id"),
      Some(Hints.leafKey(s, d, "jlsh-frame", "documents")))

  /** The 1-gram verify set IS the banded shingle set (shingles(1) =
    * array_distinct(toks)), so both verify legs read the same persisted
    * frame the candidate legs band over — one signature+shingle pass per
    * construction instead of four (two candidate legs, two verify legs). */
  def dedupJaccardLshOn(docs: DataFrame,
      frameLeafKey: Option[Hints.LeafKey] = None): DataFrame = {
    val frame0 = lshAuditFrame(docs, Seq("lang", "source"),
      nGram = 1, numPerms = 32)
    val frame = frameLeafKey.fold(frame0)(Hints.leaf(_)(persisted(frame0)))
    val cand = blockedLshCandidatesFromFrame(frame, Seq("lang", "source"),
      numPerms = 32, bandRows = 2, estMin = 0.5)
    val a = frame.select(col("doc_id").as("a_id"), col("tset").as("ta"))
    val b = frame.select(col("doc_id").as("b_id"), col("tset").as("tb"))
    cand.join(a, "a_id").join(b, "b_id")
      .withColumn("inter", size(array_intersect(col("ta"), col("tb"))).cast("long"))
      .withColumn("uni", (size(col("ta")) + size(col("tb"))).cast("long") - col("inter"))
      .withColumn("jac", col("inter").cast("double") / col("uni"))
      .select(col("a_id"), col("b_id"), col("inter"), col("uni"), col("jac"))
      .orderBy(col("jac").desc, col("a_id").asc, col("b_id").asc)
      .limit(100)
  }

  /** Scale-safe twin of [[dedupContain]]: the directed token-set
    * containment screen fed by blocked 1-gram MinHash candidates, gated
    * by the all-pairs oracle. Containment is asymmetric, so the banding
    * must reach DOWN to the lowest symmetric Jaccard a top-100 pair can
    * have: a full-containment pair A ⊆ B has J = |A|/|B| ≥ 6/31 ≈ 0.19
    * on this corpus (token-set sizes span [6, 31]), and the fixture's
    * top-100 bottoms out at J = 0.207 (measured). Banding is therefore
    * 64 perms × 64 single-row bands — P[miss | J] = (1 − J)^64, i.e.
    * ≈ 1e-6 at J = 0.19 (≈ 3e-4 expected misses over the fixture's 292
    * full-containment pairs) — and the est prefilter is OFF (estMin 0):
    * a signature-agreement estimate tracks symmetric J, and at J ≈ 0.2
    * any usable cutoff would reject true containment pairs with
    * percent-level probability. Candidates come back directed by
    * unioning both orientations of the undirected pair stream. */
  def dedupContainLsh(s: SparkSession, d: String): DataFrame =
    dedupContainLshOn(auditSample(Tables.documents(s, d),
      Tables.rowCount(s, d, "documents"), "doc_id"))

  /** The frame is not persisted: at sf0.1 on 4 cores a persisted frame
    * leaf made the cold run slower in 5 of 5 interleaved A/B pairs (by
    * 0.04-1.25 s) and won the warm runs in only 3 of 5, while the
    * 32-perm Jaccard twin's leaf won 4 of 5. */
  def dedupContainLshOn(docs: DataFrame): DataFrame = {
    val frame = lshAuditFrame(docs, Seq("lang", "source"),
      nGram = 1, numPerms = 64)
    val und = blockedLshCandidatesFromFrame(frame, Seq("lang", "source"),
      numPerms = 64, bandRows = 1, estMin = 0.0)
    // Both orientations from ONE traversal of the undirected pair set —
    // round 16: the old union(und, und.swapped) referenced `und` twice,
    // and the final plans showed the whole candidate join subtree
    // executing once per union branch (broadcast join legs — nothing for
    // AQE stage reuse to share). Same rows: und is distinct on (a<b)
    // pairs, so exploding each into both orientations is exactly the
    // union's multiset.
    val cand = und.select(explode(array(
        struct(col("a_id").as("a_id"), col("b_id").as("b_id")),
        struct(col("b_id").as("a_id"), col("a_id").as("b_id")))).as("p"))
      .select(col("p.a_id").as("a_id"), col("p.b_id").as("b_id"))
    val a = frame.select(col("doc_id").as("a_id"), col("tset").as("ta"))
    val b = frame.select(col("doc_id").as("b_id"), col("tset").as("tb"))
    cand.join(a, "a_id").join(b, "b_id")
      .withColumn("inter", size(array_intersect(col("ta"), col("tb"))).cast("long"))
      .withColumn("na", size(col("ta")).cast("long"))
      .withColumn("cont_pm", expr("inter * 1000 div na"))
      .select(col("a_id"), col("b_id"), col("inter"), col("na"), col("cont_pm"))
      .orderBy(col("cont_pm").desc, col("a_id").asc, col("b_id").asc)
      .limit(100)
  }

  // ---------------------------------------------------------------- minhash

  private val NumPerms = 16
  private val BandRows = 4
  private val NumBands = NumPerms / BandRows

  /** Shingle set over a PRE-SPLIT token-array column `toks` (n=1
    * degenerates to the token set). slice() is 1-based; docs shorter than
    * n yield an empty set.
    *
    * The token array must be materialized once per row (`withToks`) —
    * inlining `split(text, ' ')` here would re-evaluate the split per
    * shingle index, because Catalyst does not CSE across lambda
    * boundaries: O(tokens²) splitting plus a bulky expression tree whose
    * codegen/compile weight amplified this module's round-1 bench. */
  private def shingles(nGram: Int): String =
    if (nGram <= 1) "array_distinct(toks)"
    else s"array_distinct(CASE WHEN size(toks) >= $nGram THEN " +
      s"transform(sequence(1, size(toks) - ${nGram - 1}), " +
      s"i -> concat_ws(' ', slice(toks, i, $nGram))) " +
      s"ELSE slice(toks, 1, 0) END)"

  private def withToks(docs: DataFrame): DataFrame =
    docs.withColumn("toks", split(col("text"), " "))

  /** Per-doc MinHash signatures over n-gram shingles: one row per doc
    * with m0..m{numPerms-1} columns. Shingle→long via xxhash64, folded
    * into [0, 2^31) so the i-th affine permutation (a_i·h + b_i) mod p
    * stays overflow-free under ANSI mode (a_i, b_i, h < 2^31 ⇒
    * product < 2^62).
    *
    * Computed as a NARROW MAP through the codegen'd
    * [[graft.functions.MinHashSigs]] expression — not explode →
    * groupBy(min×numPerms): a signature is a per-document property, so
    * paying a corpus-wide shuffle plus a wide multi-min hash aggregate
    * for it was pure overhead (at 100 TB that shuffle moves the whole
    * exploded shingle stream), and the `transform`/`array_min`
    * higher-order formulation is interpreted per element. Documents with
    * no shingles are dropped (as the explode formulation did implicitly);
    * otherwise their sentinel signatures would LSH-collide every empty
    * doc into every band bucket. */
  def minhashSignatures(docs: DataFrame, nGram: Int = 2,
      numPerms: Int = NumPerms, keep: Seq[String] = Nil): DataFrame = {
    graft.functions.VectorExprs.register(docs.sparkSession)
    val withSh = withToks(Tables.spread(docs))
      .withColumn("sh", expr(shingles(nGram)))
      .filter(size(col("sh")) > 0)
      .withColumn("mh", expr(s"minhash_sigs(sh, $numPerms)"))
    val permCols = (0 until numPerms).map(i => col("mh").getItem(i).as(s"m$i"))
    withSh.select((keep.map(col) ++ (col("doc_id") +: permCols)): _*)
  }

  /** (doc_id, sig, band_id, bucket): LSH banding — docs sharing a bucket
    * in any band are candidate pairs. Band geometry tunes the s-curve:
    * fewer rows per band lowers the effective similarity threshold
    * (higher recall, more false candidates for the verify stage to
    * discard). The full signature rides along so downstream candidate
    * generation can estimate similarity without re-deriving signatures
    * (consumers that don't need it — the bucket-stats query — get it
    * pruned away by Catalyst). */
  def minhashBuckets(docs: DataFrame, nGram: Int = 2,
      numPerms: Int = NumPerms, bandRows: Int = BandRows): DataFrame =
    bucketsFromSigs(minhashSignatures(docs, nGram, numPerms),
      numPerms, bandRows)

  /** The banding half of [[minhashBuckets]] over an existing m0..m{n-1}
    * signature table — split out (round 16) so callers can persist the
    * per-doc SIGNATURE table (one row per doc) and derive the banded
    * stream per consumer leg: the banded rows carry the full sig array
    * on every row (bandCount copies per doc), so caching the pre-explode
    * table is bandCount× fewer bytes for the same saved signature
    * computation, and the explode re-run per leg is a cheap narrow map
    * over the cache. */
  private[operators] def bucketsFromSigs(sigs: DataFrame,
      numPerms: Int, bandRows: Int): DataFrame = {
    val bands = (0 until numPerms / bandRows).map { b =>
      val cols = (b * bandRows until (b + 1) * bandRows).map(i => col(s"m$i"))
      struct(lit(b).cast("long").as("band_id"), xxhash64(cols: _*).as("bucket"))
    }
    sigs.select(col("doc_id"),
        array((0 until numPerms).map(i => col(s"m$i")): _*).as("sig"),
        explode(array(bands: _*)).as("bb"))
      .select(col("doc_id"), col("sig"), col("bb.band_id"), col("bb.bucket"))
  }

  /** Candidate near-dup pairs from LSH bucketing (same band+bucket),
    * emitted by a streamed bucket self-join (see the inline note on why
    * not a per-bucket collect: hot-bucket memory).
    *
    * The explicit repartition by pair key before distinct is load-bearing:
    * candidate verification downstream is CPU-bound (set intersections),
    * not byte-bound, so AQE's size-based coalescing would otherwise fold
    * these few-MB shuffles into ONE partition and serialize the whole
    * verify stage onto a single core (measured 7.3 s of an 8.6 s query at
    * sf0.1). Spreading by (a_id, b_id) also seeds the exact partitioning
    * distinct needs, so no extra exchange is introduced.
    *
    * `estMin` > 0 adds a map-side signature-similarity prefilter: the
    * fraction of agreeing minhash components estimates Jaccard, so pairs
    * whose estimate falls below estMin are dropped BEFORE the pair
    * shuffle. With estMin well under the verify threshold the estimate
    * must stray implausibly far for a true pair to be lost (at 32 perms,
    * P[est < 0.25 | J = 0.7] ≈ 2e-8) while the bulk of false bucket
    * collisions (background J ≈ 0.01) is discarded at generation time —
    * on this corpus it cuts 276k candidates to ~2k. */
  def minhashCandidates(docs: DataFrame, nGram: Int = 2,
      numPerms: Int = NumPerms, bandRows: Int = BandRows,
      estMin: Double = 0.0): DataFrame = {
    // Pair generation is a STREAMED self-join on the bucket key, not a
    // collect-ids-then-expand aggregation: a mass-duplicate hot bucket
    // (boilerplate duplicated 10^6× — the core dedup scenario) makes a
    // collected id list an O(bucket) single row, and expanding its pair
    // array inside one expression O(bucket²) in ONE task's memory. The
    // join streams the same pairs with spill-safe per-key buffering —
    // quadratic only in OUTPUT, which emitting the pairs inherently is.
    // Cost: the signature stream shuffles twice (once per join leg)
    // instead of once; memory-boundedness at corpus scale wins. Two
    // additional properties the aggregation variants lack: no single
    // giant row can defeat executor memory, and the join parallelizes a
    // hot bucket's pair emission across its matching row groups.
    val bkt = bucketsFromSigs(minhashSignatures(docs, nGram, numPerms),
      numPerms, bandRows)
    // Alias self-join (not two renamed projections): keeping both legs
    // structurally identical lets the ordering predicate ride INSIDE the
    // join and measured ~25% faster at sf0.1 than the projection-renamed
    // variant of the same join.
    bkt.alias("l").join(bkt.alias("r"),
        col("l.band_id") === col("r.band_id") &&
        col("l.bucket") === col("r.bucket") &&
        col("l.doc_id") < col("r.doc_id"))
      .withColumn("est", expr(
        "aggregate(zip_with(l.sig, r.sig, (p, q) -> IF(p = q, 1, 0)), 0, (acc, v) -> acc + v)"))
      .filter(col("est").cast("double") >= lit(estMin) * numPerms)
      .select(col("l.doc_id").as("a_id"), col("r.doc_id").as("b_id"))
      // Explicit partition count: a column-only repartition is still
      // AQE-coalescible (REPARTITION_BY_COL), which re-serializes the
      // verify stage; pinning to the session's shuffle parallelism is not.
      .repartition(docs.sparkSession.sessionState.conf.numShufflePartitions,
        col("a_id"), col("b_id"))
      .distinct()
  }

  /** Corpus size below which the verify leaf is NOT worth its cache
    * write — footer-count-conditional, the adaptive-width discipline
    * (annWidth/kgExtraWidth). Three measured anchors, same session:
    * 5k docs (sf0.1) the leaf LOSES — persisting the shingle arrays
    * costs more than the second derivation leg (bench 1.08 → 2.31 s, a
    * measured gate trip, reverted); 50k docs (10×) a wash (7.40 leafed
    * vs 7.19 stateless solo); 500k docs (100×) the leaf WINS 35.5 →
    * 24.7 s (clusters 39.2 → 26.3 s). Boundary at the first decade
    * above the measured wash. */
  private[graft] val SetsLeafMinDocs = 100000L

  /** Registry key of the (doc_id, tset) verify leaf of gram width
    * `nGram`, or None below [[SetsLeafMinDocs]]. */
  private def setsKeyIfBig(s: SparkSession, d: String,
      nGram: Int): Option[Hints.LeafKey] =
    if (Tables.rowCount(s, d, "documents") >= SetsLeafMinDocs)
      Some(Hints.leafKey(s, d, s"ndp-sets#g$nGram", "documents"))
    else None

  /** The production near-dup pipeline at corpus scale: LSH candidate
    * generation (near-linear) followed by exact Jaccard verification on
    * the candidates only — never an all-pairs join. The (lang, source)
    * blocking in dedupJaccard is for bounded blocks; THIS is the 100 TB
    * path.
    *
    * Default banding is 32 perms × (16 bands of 2 rows): effective LSH
    * threshold ≈ (1/16)^(1/2) ≈ 0.25, so a pair at the verify threshold
    * 0.7 is missed with probability (1−0.49)^16 ≈ 2e-5 — recall is
    * effectively 1 and the verified output equals the exact answer
    * (NearDupRecallSpec pins that equality against a naive all-pairs).
    * On a natural (Zipfian, large-vocab) corpus wider bands (4 rows)
    * would cut false candidates; this synthetic corpus has high
    * background similarity, so recall gets the budget instead. */
  def nearDupPairs(docs: DataFrame, nGram: Int = 2, threshold: Double = 0.7,
      numPerms: Int = 32, bandRows: Int = 2,
      setsLeafKey: Option[Hints.LeafKey] = None): DataFrame = {
    // The verify stage references the (doc_id, tset) stream TWICE (a/b
    // legs below are different projections, so exchange reuse never
    // fires) — without a leaf the tokenize+shingle+distinct derivation
    // runs once per leg, corpus-linear each time. Fixture-backed callers
    // pass setsLeafKey (a Hints.leaf, swept by evictAllMemos); ad-hoc
    // callers (property tests on synthetic frames) omit it and keep the
    // stateless plan. Measured solo at 100×, each rep paying one
    // derivation + the cache write: q_dedup_neardup 35.5 → 24.7 s,
    // q_dedup_clusters 39.2 → 26.3 s, q_graph_cc unchanged (35.2 →
    // 34.2 s — its edges are co-purchase pairs, no shingle verify).
    val sets0 = withToks(Tables.spread(docs))
      .withColumn("tset", expr(shingles(nGram)))
    val withSets = setsLeafKey.fold(sets0)(Hints.leaf(_)(persisted(sets0)))
    val a = withSets.select(col("doc_id").as("a_id"), col("tset").as("ta"))
    val b = withSets.select(col("doc_id").as("b_id"), col("tset").as("tb"))
    // The prefilter must track the verify threshold, not assume the 0.7
    // default: a fixed estMin=0.25 silently drops true pairs once
    // threshold ≲ 0.5 (P[est < 0.25 | J = 0.4] ≈ 4%), breaking the
    // "verified output = exact answer" contract the oracle relies on.
    // threshold/2 keeps the miss probability negligible at every setting
    // (the estimate must fall below half the true similarity).
    minhashCandidates(docs, nGram, numPerms, bandRows,
        estMin = math.min(0.25, threshold / 2))
      .join(a, "a_id").join(b, "b_id")
      .withColumn("inter", size(array_intersect(col("ta"), col("tb"))).cast("long"))
      .withColumn("uni",
        (size(col("ta")) + size(col("tb"))).cast("long") - col("inter"))
      .withColumn("jac", col("inter").cast("double") / col("uni"))
      .filter(col("uni") > 0 && col("jac") >= threshold)
      .select(col("a_id"), col("b_id"), col("inter"), col("uni"), col("jac"))
  }

  /** Declared surface for [[nearDupPairs]] — THE production near-dup query.
    * Oracled by a naive all-pairs in DuckDB: legitimate because the
    * tuned banding's recall at the verify threshold is effectively 1
    * (see [[nearDupPairs]]; equality with the exact answer is also pinned
    * by NearDupRecallSpec on the driver's own sf0.01 data), and precision
    * is exact by construction (every candidate is re-verified).
    *
    * Shingle granularity is 2-gram: this corpus has a ~31-token
    * vocabulary, so 1-gram token SETS are degenerate (most doc pairs
    * share >70% of the vocabulary — the "similar" pair space itself is
    * quadratic). Bigrams are discriminative, so true near-dup pairs stay
    * near-linear in corpus size. */
  /** A signature leaf (persisting the per-doc minhash table the
    * candidate join's two legs read) is a MEASURED REJECTION for this
    * family at both scales (same-JVM interleaved A/Bs, BASELINE.md round
    * 16 "posting/feature/signature leaf candidates"): at 5k docs the
    * persist LOSES outright (warm-min 2.65 stateless vs 4.14 s leafed —
    * cache write + columnar read barrier vs one cheap minhash pass), and
    * at the 100× replica, ON TOP of the r15 verify-set leaf, it is a
    * wash-to-loss (5-rep 3-way: stateless 40.2 / sets-leaf 27.5 /
    * sets+sigs 28.2 s at min, medians 29.6 vs 32.4) — the candidate
    * join's signature legs
    * overlap the verify legs' work, so there is no second corpus pass
    * left to save. q_dedup_incr uses the same persist shape where it
    * DOES pay — its corpus side is referenced by both the bucket join
    * and nothing else recomputes it. */
  def dedupNeardup(s: SparkSession, d: String): DataFrame =
    nearDupPairs(Tables.documents(s, d),
        setsLeafKey = setsKeyIfBig(s, d, 2))
      .orderBy(col("a_id").asc, col("b_id").asc)

  /** Incremental (delta-ingest) near-dup — the query a production corpus
    * actually runs per batch: NEW documents (here the deterministic 10%
    * slice doc_id%10=7) are LSH-matched against the EXISTING corpus
    * only. The candidate join is new-side buckets × corpus-side buckets
    * on (band, bucket), so its cost is O(delta × collision rate), never
    * the corpus-quadratic full re-dedup: at 100 TB the corpus side's
    * signatures are computed once at ingest and sit partitioned by
    * bucket; each day's delta streams through this exact plan. Same
    * recall-licensed banding as [[nearDupPairs]] (est ≥ 0.25·perms
    * prefilter, 16×2 bands at threshold 0.7 ⇒ miss ≈ 2e-5), exact
    * Jaccard verify on candidates, then ONE row per duplicated new doc:
    * its best corpus match (max jac, min match_id tiebreak) — the
    * keep/drop verdict the ingest gate consumes. */
  def dedupIncr(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    // The delta/corpus split below filters this table two DIFFERENT
    // ways (doc_id%10 = vs ≠ 7) — distinct subtrees, so exchange reuse
    // never fires and the corpus-linear signature map ran once PER
    // SIDE. Same single-consumer leaf as [[dedupLshSweep]]. Measured at
    // 100× (same-session solo A/B):
    // 41.3 → 33.0 s (14.8× → 11.0×); sf0.1 TimeOne min 2.25 → 2.51 s
    // (+0.26 s cache write at the scale where one signature pass is
    // cheap — under the gate; kept for the 20 % at 100×, growing with
    // corpus size since the saved pass is corpus-linear).
    // Round 16: persist the per-doc SIGNATURE table, not the banded
    // stream — the banded rows each carry the full 32-perm sig array
    // (16 copies per doc), so the old bkt persist cached 16× the bytes
    // for the same saved signature computation; the banded explode
    // re-runs over the cache as a narrow map per consumer side.
    val sigs = Hints.leaf(s, d, "incr-sigs", "documents")(
      persisted(minhashSignatures(docs, 2, 32)))
    val bkt = bucketsFromSigs(sigs, 32, 2)
    val n = bkt.filter(col("doc_id") % 10 === 7)
      .select(col("doc_id").as("new_id"), col("sig").as("nsig"),
        col("band_id"), col("bucket"))
    val c = bkt.filter(col("doc_id") % 10 =!= 7)
      .select(col("doc_id").as("old_id"), col("sig").as("osig"),
        col("band_id").as("band_o"), col("bucket").as("bucket_o"))
    incrBestMatch(s, docs, n, c)
  }

  /** Shared tail of the two incremental-dedup forms ([[dedupIncr]]
    * recomputes the corpus side; [[dedupIncrStored]] reads it from the
    * stored signature state): delta-buckets × corpus-buckets candidate
    * join on (band, bucket), signature-estimate prefilter, exact-Jaccard
    * verify against the document texts, ONE best-match row per
    * duplicated new doc. Results are identical by construction — the
    * parity IncrStateSpec pins. */
  private def incrBestMatch(s: SparkSession, docs: DataFrame,
      n: DataFrame, c: DataFrame): DataFrame =
    incrBestMatchSides(s, docs, docs, n, c)

  /** [[incrBestMatch]] with the verify texts supplied PER SIDE — the
    * batch forms pass the fixture table twice (new/old ids partition it
    * by construction); the streaming delta path passes the micro-batch
    * as the new side and the corpus table as the old side. The
    * nearDupPairs sets-leaf treatment was A/B'd here and REJECTED with
    * numbers (solo at 100×, same session: q_dedup_incr 33.6 → 33.8 s,
    * q_dedup_incr_stored 14.0 → 14.5 s — a wash plus a cache write):
    * unlike neardup's bucket-quadratic verify, the incr verify is
    * delta-bounded, so the per-leg derivation is not the dominant cost
    * and caching it buys nothing. */
  private[graft] def incrBestMatchSides(s: SparkSession, newDocs: DataFrame,
      corpusDocs: DataFrame, n: DataFrame, c: DataFrame): DataFrame = {
    val cand = n.join(c,
        col("band_id") === col("band_o") && col("bucket") === col("bucket_o"))
      .withColumn("est", expr(
        "aggregate(zip_with(nsig, osig, (p, q) -> IF(p = q, 1, 0)), 0, (acc, v) -> acc + v)"))
      .filter(col("est") >= lit(0.25 * 32))
      .select(col("new_id"), col("old_id"))
      .repartition(s.sessionState.conf.numShufflePartitions,
        col("new_id"), col("old_id"))
      .distinct()
    def sets(docs: DataFrame): DataFrame =
      withToks(Tables.spread(docs)).withColumn("tset", expr(shingles(2)))
    val a = sets(newDocs).select(col("doc_id").as("new_id"), col("tset").as("ta"))
    val b = sets(corpusDocs).select(col("doc_id").as("old_id"), col("tset").as("tb"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("new_id"))
      .orderBy(col("jac").desc, col("old_id").asc)
    cand.join(a, "new_id").join(b, "old_id")
      .withColumn("inter", size(array_intersect(col("ta"), col("tb"))).cast("long"))
      .withColumn("uni",
        (size(col("ta")) + size(col("tb"))).cast("long") - col("inter"))
      .filter(col("uni") > 0)
      .withColumn("jac", col("inter").cast("double") / col("uni"))
      .filter(col("jac") >= 0.7)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("new_id"), col("old_id").as("match_id"),
        col("inter"), col("uni"), col("jac"))
      .orderBy(col("new_id").asc)
  }

  /** Signature-state FORMAT version: bump whenever the artifact schema
    * or the reading semantics change. The version rides in the state
    * key (below), so persisted cross-session state written by an older
    * build is abandoned instead of silently reused with mismatched
    * semantics — the failure mode a fingerprint-only key cannot catch,
    * because the fixture is unchanged when the CODE changes. */
  private[graft] val SigStateVersion = 2
  /** The ingest-time signing parameters, named ONCE so the state key and
    * every signing job (base write, delta append, streaming batch) read
    * the same values — a future retune of the banding geometry changes
    * the key and therefore re-signs, rather than bucket-joining fresh
    * delta signatures against incompatible stored ones. */
  private[graft] val SigGram = 2
  private[graft] val SigPerms = 32
  private[graft] val SigBands = 2

  /** The STORED corpus signature/bucket state of fixture `d`
    * ([[SegmentStore]] kind `sigstate`, keyed on the signing parameters,
    * [[SigStateVersion]] and the documents fingerprint). Its base build
    * is the INGEST-TIME signature job: the corpus side's minhash
    * signatures + LSH buckets, clustered by (band_id, bucket) so the
    * delta join scans co-located collision groups, written once per
    * corpus version — never per ingest batch. At 100 TB this is the
    * table a catalog serves (bucketBy into a warehouse table; parquet
    * here keeps the artifact engine-neutral). */
  private[graft] def sigStore(s: SparkSession, d: String): SegmentStore =
    new SegmentStore(s, "sigstate", d,
        s"g${SigGram}p${SigPerms}b${SigBands}v$SigStateVersion", "documents",
        "doc_id", Seq("band_id", "bucket"),
        Seq("doc_id", "sig", "band_id", "bucket")) {
      protected def build(stage: String, base: String): Unit =
        rows(minhashBuckets(Tables.documents(s, d).filter(col("doc_id") % 10 =!= 7),
            SigGram, SigPerms, SigBands))
          .write.mode("overwrite").parquet(base)
    }

  /** Ingest ONE corpus delta into the stored state as a new segment:
    * `deltaDocs` are signed (narrow, O(delta) — the corpus is NOT
    * re-read) and `tombstoneIds` land as tombstone rows, so a later read
    * sees latest-segment-wins per doc_id. */
  def appendSigState(s: SparkSession, d: String, deltaDocs: DataFrame,
      tombstoneIds: Seq[Long] = Nil): Unit =
    sigStore(s, d).append(minhashBuckets(deltaDocs, SigGram, SigPerms, SigBands),
      tombstoneIds)

  /** Incremental near-dup from STORED state — [[dedupIncr]]'s production
    * form (round-11, VERDICT r10 item 2): the corpus-side signatures are
    * READ from the persisted artifact instead of recomputed, so a run
    * against an already-signatured corpus does O(delta) signature work
    * plus the bucket join. First touch of a corpus version writes the
    * state (the one-time ingest job — an eager storage-layout
    * construction, exempt in PlanQualitySpec like q_join_bucketed);
    * every later run, across sessions, reuses it via the fingerprint
    * check. Delta signatures are computed fresh per batch (minhash is
    * per-doc, so filtering docs before signing ≡ signing then filtering
    * — the recompute parity IncrStateSpec pins). Same output contract
    * and oracle as q_dedup_incr. */
  def dedupIncrStored(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val n = minhashBuckets(docs.filter(col("doc_id") % 10 === 7),
        SigGram, SigPerms, SigBands)
      .select(col("doc_id").as("new_id"), col("sig").as("nsig"),
        col("band_id"), col("bucket"))
    incrBestMatchSides(s, docs, docs, n, storedCorpusBuckets(s, d))
  }

  /** The stored corpus signature/bucket table for fixture `d` (the live
    * merged view; first touch of a corpus version runs the base build),
    * renamed to the old-side join columns. */
  private[graft] def storedCorpusBuckets(s: SparkSession, d: String): DataFrame =
    sigStore(s, d).read()
      .select(col("doc_id").as("old_id"), col("sig").as("osig"),
        col("band_id").as("band_o"), col("bucket").as("bucket_o"))

  /** Keep/drop verdicts for ONE delta micro-batch of documents against
    * the STORED corpus signature state — the unit of work the streaming
    * ingest path ([[graft.streaming.IngestStream]]) runs per trigger
    * via foreachBatch: sign the batch (narrow, O(batch)), bucket-join it
    * against the persisted corpus buckets, exact-verify against the
    * corpus TEXT store, one best-match row per duplicated new doc. The
    * plan is [[dedupIncrStored]]'s delta tail verbatim — "each day's
    * delta streams through this exact plan" is now literal. */
  def incrVerdictsFor(s: SparkSession, d: String,
      deltaDocs: DataFrame): DataFrame = {
    val n = minhashBuckets(deltaDocs, SigGram, SigPerms, SigBands)
      .select(col("doc_id").as("new_id"), col("sig").as("nsig"),
        col("band_id"), col("bucket"))
    incrBestMatchSides(s, deltaDocs,
      Tables.documents(s, d).filter(col("doc_id") % 10 =!= 7),
      n, storedCorpusBuckets(s, d))
  }

  /** Duplicate-cluster resolution — the step that turns near-dup PAIRS
    * into per-document survivors: connected components over the verified
    * edge list (GraphX-free, pure joins — see [[clusterLabels]] for the
    * algorithm). Each doc in any pair reports its canonical id (= min
    * doc_id of its component) — survivors are the docs where
    * canon_id = doc_id. The edge list is tiny relative to the corpus
    * (pairs, not docs), so it persists across rounds; at 100 TB the same
    * loop runs with the edge list as a shuffle-joined table. */
  /** Connected components over an (a_id, b_id) pair list by ALTERNATING
    * LARGE-STAR / SMALL-STAR contraction (Kiveris et al., "Connected
    * Components in MapReduce and Beyond", SoCC 2014 — public); returns
    * one (id, lbl) row per pair member with lbl = min doc_id reachable.
    *
    * Why star contraction and not min-label propagation (what rounds 1–8
    * shipped): label propagation needs one round per unit of component
    * DIAMETER — a skewed corpus with one long near-dup chain holds every
    * other component hostage for O(diameter) shuffle barriers. Star
    * contraction rewires edges toward each neighborhood's minimum, so
    * components collapse in O(log n) rounds regardless of diameter
    * (clique-like near-dup clusters finish in ONE), and per-round state
    * is the edge list itself — never a node×neighborhood expansion.
    *
    * Round shape, on a canonical high→low edge list (u > v):
    *  - large-star: for every node n, all STRICTLY LARGER neighbors
    *    re-point at m = min(Γ(n) ∪ {n}) — long tails fold onto minima;
    *  - small-star: for every node u, its smaller neighbors (and u
    *    itself) re-point at m = min(Γ⁻(u) ∪ {u}) — local stars flatten.
    *
    * Convergence is judged on the OUTPUT, not the edge set: derive
    * labels (min out-neighbor, self for centers) and test that no
    * ORIGINAL pair straddles two labels. That check is sound AND
    * complete — edges never leave their component, so a label function
    * consistent across every original edge is constant per component and
    * pinned to the component minimum at the minimum itself. The common
    * clique case pays one tiny count job; only genuinely deep chains
    * loop, each extension round checkpointed (bounded plan) up to
    * maxRounds, then fail fast rather than emit a wrong fixed point.
    * Oracle: DuckDB recursive CTE computing min reachable label over the
    * same (all-pairs-verified) edge set — unchanged from the
    * label-propagation implementation it replaces. */
  def clusterLabels(pairs: DataFrame,
      maxRounds: Int = 12,
      maxBroadcastRows: Long = Hints.MaxBroadcastRows): DataFrame = {
    // LAZY checkpoint folded into the bound count below: the count is the
    // first action on `p`, so one job both materializes the truncated
    // leaf (LocalRDDCheckpointData computes missing partitions at
    // job end) and measures it — an eager checkpoint would pay a second
    // scheduling round for the same bytes. Safe precisely because the
    // count acts on `p` ITSELF: a lazy leaf first touched through a
    // self-union would race both branches into computing the expensive
    // candidate DAG before the cache fills.
    val p = Hints.checkpoint(pairs, eager = false)
    // Measured bound on node-sized state: every member appears in ≥1 pair,
    // so |members| ≤ 2·|pairs|. One cheap count over the checkpointed leaf
    // decides broadcast-vs-shuffle for every round's min-table join —
    // under the threshold the hint papers over the checkpoint's missing
    // size statistics; above it (round 11) the node-sized min table
    // degrades to a SHUFFLE_HASH build instead of falling bare, so the
    // star-contraction rounds stop re-sorting the edge side — the same
    // family fix as graphBfs/graphKcore/graphPagerank. Measured solo at
    // 100× (same session): every labeler consumer stays under the budget
    // there, so the A/B is a wash as expected (q_dedup_clusters 39.9 →
    // 39.2 s, q_graph_cc 36.6 → 35.2 s — broadcast regime both ways);
    // the behavior change binds only in the regime where the old plan
    // was the per-round SMJ re-sort.
    val memberBound = 2L * p.count()
    def hint(df: DataFrame): DataFrame =
      Hints.bcOrHash(df, memberBound, maxBroadcastRows)
    // large-star: neighborhood minimum over the SYMMETRIC view, larger
    // neighbors re-point at it. Output stays canonical (dst < src).
    def largeStar(e: DataFrame): DataFrame = {
      val sym = e.select(col("u"), col("v"))
        .union(e.select(col("v").as("u"), col("u").as("v")))
      val m = sym.groupBy(col("u").as("n")).agg(min(col("v")).as("mn"))
      sym.join(hint(m), col("u") === col("n"))
        .filter(col("v") > col("u"))
        .select(col("v").as("u"), least(col("mn"), col("n")).as("v"))
      // no distinct here: duplicate edges only feed small-star's min
      // aggregate (partial-agg absorbs them); its trailing distinct is
      // the one dedup shuffle per round
    }
    // small-star: per-node minimum over SMALLER neighbors only; they and
    // the node itself re-point at it (the node keeps its link so the
    // component never disconnects).
    def smallStar(e: DataFrame): DataFrame = {
      val m = e.groupBy(col("u").as("n")).agg(min(col("v")).as("mn"))
      val j = e.join(hint(m), col("u") === col("n"))
      j.filter(col("v") =!= col("mn"))
        .select(col("v").as("u"), col("mn").as("v"))
        .union(j.select(col("u"), col("mn").as("v")))
        .distinct()
    }
    val nodes = p.select(explode(array(col("a_id"), col("b_id"))).as("id"))
      .distinct()
    // Labels under the star-so-far: min out-neighbor, self for centers.
    def labelsFrom(e: DataFrame): DataFrame = {
      val m = e.groupBy(col("u").as("n")).agg(min(col("v")).as("mn"))
      nodes.join(hint(m), nodes("id") === col("n"), "left")
        .select(col("id"), coalesce(col("mn"), col("id")).as("lbl"))
    }
    def unconverged(l: DataFrame): Boolean = {
      val la = l.select(col("id").as("a_id"), col("lbl").as("la"))
      val lb = l.select(col("id").as("b_id"), col("lbl").as("lb"))
      p.join(hint(la), "a_id").join(hint(lb), "b_id")
        .filter(col("la") =!= col("lb")).limit(1).count() > 0
    }
    var edges = p.filter(col("a_id") =!= col("b_id"))
      .select(greatest(col("a_id"), col("b_id")).as("u"),
        least(col("a_id"), col("b_id")).as("v"))
      .distinct()
    var r = 0
    var dirty = true
    while (dirty && r < maxRounds) {
      // ONE action per round: the contraction is LAZILY checkpointed and
      // the convergence count is its materializing action (largeStar∘
      // smallStar references `edges` three times, so an uncheckpointed
      // loop would triple the plan per round). The check's two label
      // branches may race the not-yet-full cache and recompute parts of
      // ONE contraction round (bounded: the previous round's leaf and
      // the pair list are already cached) — measured, that bounded
      // recompute is far cheaper than the eager barrier it replaces:
      // sf0.1 5.3 s → 3.9 s (q_dedup_clusters), 100× 61.4 s → 42.7 s,
      // and q_graph_cc's giant-component census 108.6 s → 41.8 s at
      // 100× — barrier count dominates exactly when rounds repeat.
      edges = Hints.checkpoint(smallStar(largeStar(edges)), eager = false)
      r += 1
      dirty = unconverged(labelsFrom(edges))
    }
    if (dirty)
      throw new IllegalStateException(
        s"clusterLabels: star contraction did not converge in maxRounds=$maxRounds " +
          "rounds; raise maxRounds for this edge set")
    // Materialize the converged labels ONCE (node-sized, safe at any
    // scale): this is the shared label leaf served to
    // q_dedup_repr / q_dedup_split and the caller's final action.
    Hints.checkpoint(labelsFrom(edges), eager = true)
  }

  /** Registry key of the checkpointed cluster-label leaf, shared
    * between the AUDIT query (q_dedup_clusters) and the APPLY query
    * (q_dedup_repr): in production the labels are one materialized
    * artifact that every downstream consumer joins against, not a
    * pipeline each consumer re-runs. The key carries the documents
    * file's (mtime, length) fingerprint, so a fixture regeneration
    * invalidates the entry instead of serving stale labels; the registry
    * holds cached-leaf DataFrames, whose blocks the ContextCleaner
    * reclaims once unreferenced. Whichever of [[dedupClusters]],
    * [[dedupRepr]] and [[dedupSplit]] runs first builds the leaf; the
    * others pay just their own join or aggregate. */
  private def sharedLabels(s: SparkSession, d: String): DataFrame =
    Hints.leaf(s, d, "labels", "documents")(buildLabels(s, d))

  /** Round 15 (VERDICT r14 item 4): the labeling stage now runs
    * [[Graph.ccAdjacency]] — adjacency-leaf min-label propagation with
    * frontier-delta rounds — instead of [[clusterLabels]]' edge-shaped
    * star contraction. The ccAdjacency scaladoc ARGUED the dedup family
    * should keep the edge shape ("clique-like pair lists converge in
    * one round"); the measured A/B (BASELINE.md round 15
    * "q_dedup_clusters", 100× replica, same-JVM interleaved over one
    * eagerly-checkpointed pair set,
    * label maps cross-checked exactly equal — 47,700 members) refutes
    * it: star 5.64 s vs adjacency 3.39 s warm-min (1.66×), adjacency
    * faster on every rep. Both compute the same min-label fixpoint, so
    * the declared outputs are unchanged (oracle subset re-verified). */
  private def buildLabels(s: SparkSession, d: String): DataFrame =
    Graph.ccAdjacency(s,
        nearDupPairs(Tables.documents(s, d),
          setsLeafKey = setsKeyIfBig(s, d, 2))
        .select(col("a_id").as("a_pk"), col("b_id").as("b_pk")))
      .select(col("node").as("id"), col("lbl"))

  /** Leakage-aware train/val/test split — the assignment step every
    * pretraining corpus needs AFTER near-dup clustering: hashing each
    * DOC into a split leaks near-duplicates of training docs into eval
    * (the contamination that inflates benchmarks); hashing each
    * CLUSTER keeps every near-dup family on one side by construction.
    * Both schemes are computed here side by side from the SAME shared
    * checkpointed label leaf ([[sharedLabels]]), with singleton docs
    * falling back to their own id (coalesce — labels only exist for
    * docs with at least one near-dup edge). The output pins the
    * argument numerically: n_leaky_naive counts clusters the doc-hash
    * split straddles; n_leaky_grp is 0 by construction, and the gate
    * proves it. Split hash = md5 fold mod 10 (8/1/1), cross-engine
    * exact, stable under corpus growth — adding documents never moves
    * an existing cluster's assignment. */
  def dedupSplit(s: SparkSession, d: String): DataFrame = {
    val cl = sharedLabels(s, d)
      .select(col("id").as("doc_id"), col("lbl").as("canon_id"))
    val g = Tables.documents(s, d).select(col("doc_id"))
      .join(cl, Seq("doc_id"), "left")
      .withColumn("grp", coalesce(col("canon_id"), col("doc_id")))
      .withColumn("hxd", md5(concat(lit("s"), col("doc_id").cast("string"))))
      .withColumn("hxg", md5(concat(lit("s"), col("grp").cast("string"))))
      .withColumn("vd", expr(s"${DetHash.sparkHexInt("hxd", 4)} % 10"))
      .withColumn("vg", expr(s"${DetHash.sparkHexInt("hxg", 4)} % 10"))
      .withColumn("sn", when(col("vd") < 8, lit("train"))
        .when(col("vd") === 8, lit("val")).otherwise(lit("test")))
      .withColumn("sg", when(col("vg") < 8, lit("train"))
        .when(col("vg") === 8, lit("val")).otherwise(lit("test")))
    val totals = g.agg(
      count(lit(1)).as("n_docs"),
      countDistinct(col("grp")).as("n_groups"),
      sum(when(col("sn") === "train", 1L).otherwise(0L)).as("naive_train"),
      sum(when(col("sn") === "val", 1L).otherwise(0L)).as("naive_val"),
      sum(when(col("sn") === "test", 1L).otherwise(0L)).as("naive_test"),
      sum(when(col("sg") === "train", 1L).otherwise(0L)).as("grp_train"),
      sum(when(col("sg") === "val", 1L).otherwise(0L)).as("grp_val"),
      sum(when(col("sg") === "test", 1L).otherwise(0L)).as("grp_test"))
    val leak = g.groupBy(col("grp"))
      .agg(countDistinct(col("sn")).as("kd"), countDistinct(col("sg")).as("kg"))
      .agg(sum(when(col("kd") > 1, 1L).otherwise(0L)).as("n_leaky_naive"),
        sum(when(col("kg") > 1, 1L).otherwise(0L)).as("n_leaky_grp"))
    totals.crossJoin(broadcast(leak))
      .select(col("n_docs"), col("n_groups"),
        col("naive_train"), col("naive_val"), col("naive_test"),
        col("grp_train"), col("grp_val"), col("grp_test"),
        col("n_leaky_naive"), col("n_leaky_grp"))
  }

  def dedupClusters(s: SparkSession, d: String): DataFrame =
    sharedLabels(s, d)
      .select(col("id").as("doc_id"), col("lbl").as("canon_id"))
      .orderBy(col("doc_id").asc)

  /** Cluster-representative selection — the APPLY step of cluster-level
    * dedup, the keep/drop verdict an ingest gate consumes (the span-level
    * twin is q_text_spancut). Per near-dup cluster keep the "best" member
    * (longest text, doc_id tiebreak — any deterministic quality key slots
    * in); everyone else points at the kept representative. The window
    * partitions by CLUSTER id, so partitions are cluster-sized regardless
    * of corpus size, and the cluster labels are the SHARED checkpointed
    * leaf from [[sharedLabels]] — the same convergence-guarded propagation
    * q_dedup_clusters materializes, consumed here instead of re-run. */
  def dedupRepr(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d).select(col("doc_id"), col("n_chars"))
    val cl = sharedLabels(s, d)
      .select(col("id").as("doc_id"), col("lbl").as("canon_id"))
    val wFull = org.apache.spark.sql.expressions.Window
      .partitionBy(col("canon_id"))
      .orderBy(col("n_chars").desc, col("doc_id").asc)
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.unboundedFollowing)
    cl.join(docs, "doc_id")
      .withColumn("repr_id", first(col("doc_id")).over(wFull))
      .withColumn("keep",
        when(col("doc_id") === col("repr_id"), 1L).otherwise(0L))
      .select(col("doc_id"), col("canon_id"), col("repr_id"),
        col("n_chars"), col("keep"))
      .orderBy(col("doc_id").asc)
  }

  /** Query surface: per-band bucket statistics (always MdPerms/2 rows) at
    * the production 2-rows-per-band geometry, computed over the md5
    * signatures so every value is DuckDB-reproducible — this is the row
    * that monitors whether LSH bucket load stays near-uniform as the
    * corpus grows (a hot max_bucket is the first sign banding needs
    * re-tuning). The band key is the exact signature-pair string, not a
    * re-hash: a deterministic key both engines build identically, and at
    * scale the bucket string is the shuffle key either way. The xxhash64
    * banding ([[minhashBuckets]]) remains the internal candidate
    * machinery; its outputs are never declared directly. */
  def dedupMinhash(s: SparkSession, d: String): DataFrame = {
    val sigs = minhashMd5Sigs(Tables.documents(s, d))
    val bands = (0 until MdPerms / 2).map { b =>
      struct(lit(b.toLong).as("band_id"),
        concat_ws(":", col(s"s${2 * b}").cast("string"),
          col(s"s${2 * b + 1}").cast("string")).as("bucket"))
    }
    sigs.select(explode(array(bands: _*)).as("bb"))
      .select(col("bb.band_id"), col("bb.bucket"))
      .groupBy(col("band_id"), col("bucket"))
      .agg(count(lit(1)).as("sz"))
      .groupBy(col("band_id"))
      .agg(count(lit(1)).as("n_buckets"), sum(col("sz")).as("n_docs"),
        max(col("sz")).as("max_bucket"))
      .orderBy(col("band_id").asc)
  }

  // ------------------------------------------------------ md5 minhash (oracled)

  private val MdPerms = 8
  private val MdP = 2147483647L // 2^31 - 1
  // Shared splitmix64-derived family (graft.functions.MinHashParams):
  // the oracle CTEs below interpolate these VALUES as SQL literals, so
  // both engines move together by construction.
  private def mdA(i: Int): Long = graft.functions.MinHashParams.a(i)
  private def mdB(i: Int): Long = graft.functions.MinHashParams.b(i)

  /** Fully-ORACLED MinHash signatures: the xxhash64 family
    * ([[minhashSignatures]]) is the production path (fast, well-mixed)
    * but declared no-oracle because DuckDB cannot reproduce the hash;
    * this variant swaps the shingle hash for the md5 hex fold
    * ([[DetHash]]) both engines compute bit-identically, closing the
    * correctness gap: the SAME affine-permutation minimum algebra
    * (same a_i/b_i family as [[graft.functions.MinHashSigs]], mod the
    * Mersenne prime 2^31−1) now hash-matches DuckDB end-to-end.
    *
    * Shape: a narrow per-doc map — md5 per DISTINCT bigram shingle
    * (materialized by the inner transform exactly once: higher-order
    * lambdas are interpreted, so an inlined 8-digit fold over `md5(x)`
    * would digest 8× per shingle), folded to [0, p), then 8 array_min
    * passes. No shuffle, no explode. */
  /** Append s0..s{MdPerms-1} md5-minhash signature columns derived from
    * an existing shingle-array column (one scan — callers that also need
    * the shingle sets get both without a second documents scan + rejoin).
    * Computed through the fused [[graft.functions.Md5MinHashSigs]]
    * expression — one JVM loop per row; the equivalent nested-transform
    * SQL re-enters the interpreted lambda evaluator per element per perm
    * (measured ~3× slower on the calibration query). */
  private def withMd5Sigs(df: DataFrame, shCol: String): DataFrame = {
    graft.functions.VectorExprs.register(df.sparkSession)
    val withMh = df.withColumn("mh", expr(s"md5_minhash_sigs($shCol, $MdPerms)"))
    withMh.select((df.columns.map(col).toSeq ++
      (0 until MdPerms).map(i => col("mh").getItem(i).as(s"s$i"))): _*)
  }

  def minhashMd5Sigs(docs: DataFrame, nGram: Int = 2): DataFrame = {
    val base = withToks(Tables.spread(docs))
      .withColumn("sh", expr(shingles(nGram)))
      .filter(size(col("sh")) > 0)
    withMd5Sigs(base, "sh")
      .select((col("doc_id") +: (0 until MdPerms).map(i => col(s"s$i"))): _*)
  }

  def dedupMinhashMd5(s: SparkSession, d: String): DataFrame =
    minhashMd5Sigs(Tables.documents(s, d)).orderBy(col("doc_id").asc)

  /** MinHash calibration audit — the question every LSH deployment has
    * to answer before trusting its banding: how far does the
    * signature-agreement ESTIMATE stray from exact Jaccard? Joins the
    * 8-perm md5 signatures ([[minhashMd5Sigs]]) with the exact bigram
    * Jaccard over (lang, source)-blocked pairs and histograms the
    * signed error (est − exact, permille) into 125-permille bands (the
    * estimator's own quantum at 8 perms). All-integer; the blocked join
    * keeps pair counts bounded exactly as [[dedupJaccard]]. At corpus
    * scale the same audit runs over a key-sampled block — the point is
    * the measured error profile, not full coverage. */
  def dedupEstErr(s: SparkSession, d: String): DataFrame = {
    // tset and signatures from ONE scan (withMd5Sigs) — a separate
    // minhashMd5Sigs call would rescan documents and force a doc_id
    // re-join shuffle for columns this scan already has in hand.
    val guarded = auditSample(Tables.documents(s, d),
      Tables.rowCount(s, d, "documents"), "doc_id")
    // Round 16: `base` feeds BOTH self-join legs — the final plans showed
    // the md5-minhash map (md5 per shingle — this query's dominant
    // per-row cost) executing once per leg, with the join-key IsNotNull
    // pushdown re-deriving signatures in the scan filter on top. One
    // persisted audit-cap-bounded leaf serves both legs.
    val base = Hints.leaf(s, d, "esterr-base", "documents")(persisted(
      withMd5Sigs(
        withToks(Tables.spread(guarded))
          .withColumn("tset", expr(shingles(2)))
          .filter(size(col("tset")) > 0)
          .select(col("doc_id"), col("lang"), col("source"), col("tset")),
        "tset")))
    val aCols = col("doc_id").as("a_id") +: col("lang").as("lang") +:
      col("source").as("source") +: col("tset").as("ta") +:
      (0 until MdPerms).map(i => col(s"s$i").as(s"a$i"))
    val bCols = col("doc_id").as("b_id") +: col("lang").as("lang_b") +:
      col("source").as("source_b") +: col("tset").as("tb") +:
      (0 until MdPerms).map(i => col(s"s$i").as(s"b$i"))
    val a = base.select(aCols: _*)
    val b = base.select(bCols: _*)
    val agreeSql = (0 until MdPerms)
      .map(i => s"(CASE WHEN a$i = b$i THEN 1 ELSE 0 END)").mkString(" + ")
    a.join(b, col("lang") === col("lang_b") && col("source") === col("source_b")
        && col("a_id") < col("b_id"))
      .withColumn("est_pm", expr(s"($agreeSql) * 1000 div $MdPerms"))
      .withColumn("inter", size(array_intersect(col("ta"), col("tb"))).cast("long"))
      .withColumn("uni", (size(col("ta")) + size(col("tb"))).cast("long") - col("inter"))
      .filter(col("uni") > 0)
      .withColumn("jac_pm", expr("inter * 1000 div uni"))
      .withColumn("band", expr("(est_pm - jac_pm + 1000) div 125"))
      .groupBy(col("band"))
      .agg(count(lit(1)).as("n_pairs"),
        min(expr("est_pm - jac_pm")).as("min_diff"),
        max(expr("est_pm - jac_pm")).as("max_diff"))
      .orderBy(col("band").asc)
  }

  private val SweepRows = Seq(1, 2, 4)

  /** LSH banding-parameter sweep — the tuning table consulted BEFORE
    * committing a banding geometry at corpus scale: for each rows-per-band
    * choice over the same 8 md5-oracled permutations, the realized bucket
    * count, candidate-pair workload and hottest bucket. Candidate counts
    * come from Σ C(bucket, 2) over per-bucket SIZES — pairs are counted
    * arithmetically, never materialized, so the sweep itself stays
    * near-linear even for geometries that would generate quadratic
    * candidates (exactly the configurations it exists to warn about). */
  def dedupLshSweep(s: SparkSession, d: String): DataFrame = {
    // The three banding arms each rescan the signature table — without a
    // shared leaf the corpus-linear md5-minhash map stage (shingle +
    // 8-perm signature per doc, THE dominant cost at scale) runs once
    // PER ARM. Lazy persist keeps construction job-free (the laziness
    // pin); the first arm's action populates the cache and the other two
    // read it. Measured at 100× (same-session solo A/B): 34.7 → 22.6 s
    // (ratio 15.4× → 8.5×); sf0.1 TimeOne min 1.91 → 1.93 s — wash, as
    // the leaf rule predicts for a re-referenced stream whose base-scale
    // derivation is cheap.
    val sigs = Hints.leaf(s, d, "sweep-sigs", "documents")(
      persisted(minhashMd5Sigs(Tables.documents(s, d))))
    def cfg(r: Int): DataFrame = {
      val bands = (0 until MdPerms / r).map { b =>
        concat_ws(":", (lit(b.toString) +:
          (b * r until (b + 1) * r).map(i => col(s"s$i").cast("string"))): _*)
      }
      sigs.select(explode(array(bands: _*)).as("bucket"))
        .groupBy(col("bucket")).agg(count(lit(1)).as("n"))
        .agg(count(lit(1)).as("n_buckets"),
          sum(expr("n * (n - 1) div 2")).as("cand_pairs"),
          max(col("n")).as("max_bucket"))
        .select(lit(r.toLong).as("rows_per_band"),
          lit((MdPerms / r).toLong).as("n_bands"),
          col("n_buckets"), col("cand_pairs"), col("max_bucket"))
    }
    SweepRows.map(cfg).reduce(_ union _).orderBy(col("rows_per_band").asc)
  }

  // ---------------------------------------------------------------- simhash

  private val SimBits = 16

  /** 16-bit SimHash: per-bit weighted votes over token hashes, sign →
    * bit. Near-dups differ in few bits (hamming distance). */
  def simhash(docs: DataFrame): DataFrame = {
    val tokenHashes = docs
      .select(col("doc_id"), explode(array_distinct(split(col("text"), " "))).as("tok"))
      .withColumn("h", xxhash64(col("tok")))
    val votes = (0 until SimBits).map { b =>
      sum(when(shiftright(col("h"), b).bitwiseAND(1) === 1, 1L).otherwise(-1L))
        .as(s"v$b")
    }
    val sig = (0 until SimBits).map { b =>
      when(col(s"v$b") > 0, lit(1L << b)).otherwise(lit(0L))
    }.reduce[Column](_ + _)
    tokenHashes.groupBy(col("doc_id"))
      .agg(votes.head, votes.tail: _*)
      .withColumn("simhash", sig)
      .select(col("doc_id"), col("simhash"))
  }

  /** Declared signature surface: the 32-bit frequency-weighted bigram
    * SimHash ([[hammingSigs]] — polynomial char hash shared verbatim with
    * the oracle), NOT the xxhash64 16-bit [[simhash]] (which stays as the
    * internal fast path, unit-test-pinned). Same narrow-map plan either
    * way; determinism buys the hard oracle. */
  def dedupSimhash(s: SparkSession, d: String): DataFrame =
    hammingSigs(Tables.documents(s, d)).orderBy(col("doc_id").asc)

  // ------------------------------------- deterministic banded hamming dedup

  private val HamBits = 32
  private val HamBands = 4 // 8 bits each

  /** 32-bit frequency-weighted SimHash per doc over BIGRAM shingle
    * occurrences: per-bit ±1 votes per occurrence, sign → bit, computed
    * as a NARROW MAP through the codegen'd
    * [[graft.functions.SimHashSig]] expression — same design argument as
    * [[minhashSignatures]]: a signature is a per-document property, so
    * explode → 32-column vote aggregate would shuffle the whole shingle
    * stream for it (and measured ~2× slower at sf0.1). The shingle hash
    * is the polynomial char hash shared verbatim with the oracle (seed 7,
    * ×131, mod 2^31−1 — overflow-free under ANSI); xxhash64 would be
    * better-mixed but has no DuckDB twin, and determinism buys the
    * oracle.
    *
    * Bigrams for the same reason as [[nearDupPairs]] — on this corpus's
    * ~31-token vocabulary, unigram frequency profiles barely differ
    * (measured: 3% of ALL pairs land at hamming ≤ 3, and the top
    * signature byte takes 15 distinct values — hot buckets), while the
    * ~1k-bigram profile spreads signatures to near-uniform bands.
    * Docs with <2 tokens have no shingles and are dropped, as in
    * [[minhashSignatures]]. */
  def hammingSigs(docs: DataFrame): DataFrame = {
    graft.functions.VectorExprs.register(docs.sparkSession)
    withToks(Tables.spread(docs))
      .filter(size(col("toks")) >= 2)
      .withColumn("sh2", expr(
        "transform(sequence(1, size(toks) - 1), " +
          "i -> concat_ws(' ', slice(toks, i, 2)))"))
      .withColumn("sig", expr("simhash_sig(sh2)"))
      .select(col("doc_id"), col("sig"))
  }

  /** Banded hamming near-dup pairs — the SimHash counterpart of
    * [[nearDupPairs]], with a PROVABLE recall guarantee in place of
    * MinHash's probabilistic one: 4 disjoint 8-bit bands pigeonhole any
    * pair at hamming ≤ 3, since 3 differing bits cannot dirty all 4
    * bands — band equality misses nothing at the verify threshold, so
    * the all-pairs oracle compares against the exact answer by
    * construction, not by tuned probability. Candidates come from 4
    * equi-joins (the band value is the shuffle key, same streamed-join
    * discipline as [[minhashCandidates]]); verify is one
    * bit_count(xor) per candidate. */
  def dedupHamming(s: SparkSession, d: String): DataFrame = {
    // Round 16: one persisted (doc_id, sig) leaf — the
    // final plan showed the simhash map running once per join leg (the
    // band join goes broadcast at fixture scale, so no AQE stage reuse)
    // PLUS a third evaluation inside the scan filter (the join keys'
    // inferred IsNotNull pushed below the project). Two longs per doc
    // cached.
    val sigs = Hints.leaf(s, d, "ham-sigs", "documents")(
      persisted(hammingSigs(Tables.documents(s, d))))
    val bands = (0 until HamBands).map { k =>
      struct(lit(k.toLong).as("band_id"),
        shiftright(col("sig"), k * 8).bitwiseAND(255).as("bv"))
    }
    val banded = sigs.select(col("doc_id"), col("sig"),
        explode(array(bands: _*)).as("bb"))
      .select(col("doc_id"), col("sig"), col("bb.band_id"), col("bb.bv"))
    banded.alias("l").join(banded.alias("r"),
        col("l.band_id") === col("r.band_id") && col("l.bv") === col("r.bv") &&
        col("l.doc_id") < col("r.doc_id"))
      .select(col("l.doc_id").as("a_id"), col("r.doc_id").as("b_id"),
        bit_count(col("l.sig").bitwiseXOR(col("r.sig"))).cast("long").as("hamming"))
      .filter(col("hamming") <= 3)
      .distinct()
      .orderBy(col("a_id").asc, col("b_id").asc)
  }

  // ------------------------------------------------- hyperplane LSH (ANN)

  private val BasePlanes = 8
  private val MaxPlanes = 32
  private val Dim = 64

  /** Deterministic pseudo-random hyperplane weights (integer-derived, so
    * both engines build bit-identical planes). */
  def planeWeight(p: Int, j: Int): Double = ((p * 131 + j * 31) % 17 - 8).toDouble

  /** ADAPTIVE bucket width in bits, clamped to [BasePlanes, MaxPlanes]:
    * the smallest b with 2^b bucket slots ≥ n/8 vectors, i.e. expected
    * bucket size ≤ 8 — so in-bucket pair work stays LINEAR in n instead
    * of quadratic-at-fixed-bucket-count (the 10× replica measured ~7×
    * time growth under the old fixed 8-bit width; bucket count must
    * grow with the corpus). ceil(log2(m)) is computed as
    * length(bin(m−1)) — pure integer string length, identical in both
    * engines, immune to the last-ulp log2 boundary hazards a float
    * formula would have. Below n = 2048·8 the clamp keeps b = 8, so
    * every oracled scale factor's buckets (and results) are unchanged.
    *
    * The MaxPlanes ceiling is 32 — an ARITHMETIC bound (2^32 buckets ≈
    * 34 billion vectors at the ≤8 target bucket size), not a scaling
    * knob: the earlier 16-bit ceiling saturated at n ≈ 0.5M, i.e.
    * already inside a 1000× replica of the sf0.1 fixture. */
  private def widthSqlFrom(nExpr: String, idiv: String = "div"): String =
    s"least($MaxPlanes, greatest($BasePlanes, length(bin(($nExpr + 7) $idiv 8 - 1))))"

  /** Scala twin of [[widthSqlFrom]] for the driver-side count. The n=0
    * branch mirrors the SQL exactly: DuckDB's bin(-1) is 64 one-bits, so
    * an empty table clamps to MaxPlanes on BOTH sides (vacuously equal —
    * no rows exist to bucket — but the twins must not diverge even on
    * degenerate inputs, or a fixture regression shows up as a hash-gate
    * mystery instead of a width assertion). */
  def annWidth(n: Long): Int = {
    val m = (n + 7) / 8 - 1
    val bitlen =
      if (m < 0) 64 // bin(-1): 64 set bits, same clamp as the SQL twin
      else if (m == 0) 1
      else 64 - java.lang.Long.numberOfLeadingZeros(m)
    math.min(MaxPlanes, math.max(BasePlanes, bitlen.toInt))
  }

  /** Sign-bit bucket id for every vector: bit p = (w_p · e > 0) over the
    * first `width` planes. The width comes from the corpus row count `n`
    * — callers pass [[graft.Tables.rowCount]]'s footer-metadata number,
    * so plan CONSTRUCTION stays job-free (pinned by PlanQualitySpec's
    * laziness gate; the round-7 form ran a `count()` here, posting a
    * full scan job per build and computing the input twice). The plan
    * computes ONLY the needed plane dots per row (8 at every oracled
    * fixture, halving the old build-all-32-then-mask cost) while the
    * ORACLE keeps the equivalent mask form: summing the first b sign-bit
    * terms and masking a 32-term sum to b bits are the same value by
    * construction. At scale this bucket is the partition key that turns
    * ANN into a per-bucket local search. */
  def annBuckets(emb: DataFrame, n: Long): DataFrame = {
    graft.functions.VectorExprs.register(emb.sparkSession)
    val width = annWidth(n)
    val bits = (0 until width).map { p =>
      val w = (0 until Dim).map(j => s"${planeWeight(p, j)}D").mkString(", ")
      val dot = expr(s"vec_dot(embedding, array($w))")
      when(dot > 0, lit(1L << p)).otherwise(lit(0L))
    }.reduce[Column](_ + _)
    emb.withColumn("bucket", bits)
  }

  def simAnnBuckets(s: SparkSession, d: String): DataFrame =
    annBuckets(Tables.embeddings(s, d), Tables.rowCount(s, d, "embeddings"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_vecs"))
      .orderBy(col("bucket").asc)

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_dedup_minhash_md5" -> dedupMinhashMd5,
    "q_dedup_est_err"  -> dedupEstErr,
    "q_dedup_lsh_sweep" -> dedupLshSweep,
    "q_dedup_jaccard"  -> dedupJaccard,
    "q_dedup_contain"  -> dedupContain,
    "q_dedup_jaccard_lsh" -> dedupJaccardLsh,
    "q_dedup_contain_lsh" -> dedupContainLsh,
    "q_dedup_minhash"  -> dedupMinhash,
    "q_dedup_neardup"  -> dedupNeardup,
    "q_dedup_incr"     -> dedupIncr,
    "q_dedup_incr_stored" -> dedupIncrStored,
    "q_dedup_clusters" -> dedupClusters,
    "q_dedup_split"    -> dedupSplit,
    "q_dedup_repr"     -> dedupRepr,
    "q_dedup_simhash"  -> dedupSimhash,
    "q_dedup_hamming"  -> dedupHamming,
    "q_sim_ann"        -> simAnnBuckets
  )

  /** Full bucket-id expression in DuckDB SQL (sum of plane sign bits,
    * masked to the same adaptive width as the Spark plan — the corpus
    * count arrives as a scalar subquery) — shared by every oracle that
    * blocks on the hyperplane bucket. */
  def bucketSql: String = {
    val b = widthSqlFrom("(SELECT count(*) FROM embeddings)", "//")
    s"(CAST(${(0 until MaxPlanes).map(planeSql).mkString("\n + ")} AS BIGINT)" +
      s" & ((CAST(1 AS BIGINT) << $b) - 1))"
  }

  /** DuckDB side of the hyperplane dot for plane p — generated from the
    * same planeWeight constants as the Spark plan. */
  private def planeSql(p: Int): String = {
    val lits = (0 until Dim).map(j => planeWeight(p, j).toString).mkString(", ")
    s"""CASE WHEN list_reduce(list_prepend(CAST(0 AS DOUBLE),
       |  list_transform(list_zip(embedding, [$lits]),
       |    z -> CAST(z[1] AS DOUBLE) * z[2])),
       |  (a, x) -> a + x) > 0 THEN ${1L << p} ELSE 0 END""".stripMargin
  }

  /** DuckDB twin of [[minhashMd5Sigs]], generated from the same constants:
    * bigram shingles, md5 hex fold to [0, p), 8 affine-min signatures. */
  private def mdSigsCte(guarded: Boolean = false): String = {
    val sigLines = (0 until MdPerms).map { i =>
      s"CAST(list_min(list_transform(hp, v -> (${mdA(i)} * v + ${mdB(i)}) " +
        s"% $MdP)) AS BIGINT) AS s$i"
    }.mkString(",\n         ")
    // the audit guard applies only to the block-quadratic consumer
    // (est_err); the linear signature dumps stay full-corpus
    val guard = if (guarded) s" WHERE $docGuard" else ""
    s"""toks AS (
       |  SELECT doc_id, lang, source, string_split(text, ' ') AS tk
       |  FROM documents$guard),
       |t AS (
       |  SELECT doc_id, lang, source,
       |         list_distinct(list_transform(range(1, len(tk)),
       |           i -> tk[i] || ' ' || tk[i + 1])) AS sh
       |  FROM toks),
       |f AS (
       |  SELECT doc_id, lang, source, sh,
       |         list_transform(list_transform(sh, x -> md5(x)),
       |           h -> ${DetHash.duckHexInt("h")} % $MdP) AS hp
       |  FROM t WHERE len(sh) > 0),
       |sigs AS (
       |  SELECT doc_id, lang, source, sh,
       |         $sigLines
       |  FROM f)""".stripMargin
  }

  /** DuckDB twin of [[hammingSigs]] (CTE chain ending in
    * `sig(doc_id, sh)`): bigram shingle occurrences, seed-7 ×131 mod
    * 2^31−1 polynomial char hash, per-bit ±1 votes, sign → bit. Shared by
    * the q_dedup_hamming pair oracle and the q_dedup_simhash signature
    * oracle. */
  private def hamSigCte: String =
    """tk AS (
      |  SELECT doc_id, string_split(text, ' ') AS tk
      |  FROM documents),
      |tok AS (
      |  SELECT doc_id, unnest(list_transform(range(1, len(tk)),
      |           i -> tk[i] || ' ' || tk[i + 1])) AS tok
      |  FROM tk),
      |h AS (
      |  SELECT doc_id,
      |         list_reduce(list_prepend(CAST(7 AS BIGINT),
      |           list_transform(range(1, length(tok) + 1),
      |             i -> CAST(ord(substr(tok, CAST(i AS INTEGER), 1)) AS BIGINT))),
      |           (h, c) -> (h * 131 + c) % 2147483647) AS th
      |  FROM tok
      |  WHERE length(tok) > 0),
      |v AS (
      |  SELECT doc_id, b,
      |         sum(CASE WHEN ((th >> CAST(b AS INTEGER)) & 1) = 1
      |                  THEN 1 ELSE -1 END) AS vote
      |  FROM h CROSS JOIN (SELECT unnest(range(0, 32)) AS b) bits
      |  GROUP BY doc_id, b),
      |sig AS (
      |  SELECT doc_id,
      |         CAST(sum(CASE WHEN vote > 0
      |                       THEN (CAST(1 AS BIGINT) << CAST(b AS INTEGER))
      |                       ELSE 0 END) AS BIGINT) AS sh
      |  FROM v GROUP BY doc_id)""".stripMargin

  /** One banding-sweep leg: per-band bucket keys unioned, sized, rolled up. */
  private def sweepLegSql(r: Int): String = {
    val bandSelects = (0 until MdPerms / r).map { b =>
      val key = (s"'$b'" +: (b * r until (b + 1) * r).map(i =>
        s"CAST(s$i AS VARCHAR)")).mkString(" || ':' || ")
      s"SELECT $key AS bucket FROM sigs"
    }.mkString("\n  UNION ALL\n  ")
    s"""SELECT CAST($r AS BIGINT) AS rows_per_band,
       |       CAST(${MdPerms / r} AS BIGINT) AS n_bands,
       |       count(*) AS n_buckets,
       |       CAST(sum(n * (n - 1) // 2) AS BIGINT) AS cand_pairs,
       |       CAST(max(n) AS BIGINT) AS max_bucket
       |FROM (SELECT bucket, count(*) AS n FROM (
       |  $bandSelects) GROUP BY bucket)""".stripMargin
  }

  /** Shared WHERE fragment: the audit sample over documents. */
  private val docGuard = auditSampleSql("documents", "doc_id")

  private val oracleBase: Map[String, String] = Map(
    "q_dedup_lsh_sweep" ->
      (s"""WITH ${mdSigsCte()}
        |${SweepRows.map(sweepLegSql).mkString("", "\nUNION ALL\n", "")}
        |ORDER BY rows_per_band ASC""".stripMargin),
    "q_dedup_minhash_md5" ->
      (s"""WITH ${mdSigsCte()}
        |SELECT doc_id, ${(0 until MdPerms).map(i => s"s$i").mkString(", ")}
        |FROM sigs
        |ORDER BY doc_id ASC""".stripMargin),
    "q_dedup_est_err" ->
      (s"""WITH ${mdSigsCte(guarded = true)},
        |p AS (
        |  SELECT (${(0 until MdPerms).map(i =>
            s"(CASE WHEN a.s$i = b.s$i THEN 1 ELSE 0 END)").mkString(" + ")})
        |           * 1000 // $MdPerms AS est_pm,
        |         CAST(len(list_intersect(a.sh, b.sh)) AS BIGINT) AS inter,
        |         CAST(len(a.sh) + len(b.sh)
        |           - len(list_intersect(a.sh, b.sh)) AS BIGINT) AS uni
        |  FROM sigs a JOIN sigs b
        |    ON a.lang = b.lang AND a.source = b.source
        |   AND a.doc_id < b.doc_id),
        |q AS (
        |  SELECT CAST(est_pm AS BIGINT) AS est_pm,
        |         CAST(inter * 1000 // uni AS BIGINT) AS jac_pm
        |  FROM p WHERE uni > 0)
        |SELECT CAST((est_pm - jac_pm + 1000) // 125 AS BIGINT) AS band,
        |       CAST(count(*) AS BIGINT) AS n_pairs,
        |       CAST(min(est_pm - jac_pm) AS BIGINT) AS min_diff,
        |       CAST(max(est_pm - jac_pm) AS BIGINT) AS max_diff
        |FROM q
        |GROUP BY 1
        |ORDER BY band ASC""".stripMargin),
    // The LSH twins are oracled by the SAME all-pairs SQL as their
    // block-quadratic originals: the banding recall arguments (scaladoc
    // at dedupJaccardLsh/dedupContainLsh) make candidates ⊇ the true
    // top-100, and verification is exact, so outputs are identical.
    "q_dedup_jaccard_lsh" ->
      s"""WITH t AS (
        |  SELECT doc_id, lang, source,
        |         list_distinct(string_split(text, ' ')) AS tset
        |  FROM documents WHERE $docGuard),
        |p AS (
        |  SELECT a.doc_id AS a_id, b.doc_id AS b_id,
        |         len(list_intersect(a.tset, b.tset)) AS inter,
        |         len(a.tset) + len(b.tset)
        |           - len(list_intersect(a.tset, b.tset)) AS uni
        |  FROM t a JOIN t b
        |    ON a.lang = b.lang AND a.source = b.source AND a.doc_id < b.doc_id)
        |SELECT a_id, b_id, inter, uni,
        |       CAST(inter AS DOUBLE) / uni AS jac
        |FROM p
        |ORDER BY jac DESC, a_id ASC, b_id ASC
        |LIMIT 100""".stripMargin,
    "q_dedup_contain_lsh" ->
      s"""WITH t AS (
        |  SELECT doc_id, lang, source,
        |         list_distinct(string_split(text, ' ')) AS tset
        |  FROM documents WHERE $docGuard),
        |p AS (
        |  SELECT a.doc_id AS a_id, b.doc_id AS b_id,
        |         CAST(len(list_intersect(a.tset, b.tset)) AS BIGINT) AS inter,
        |         CAST(len(a.tset) AS BIGINT) AS na
        |  FROM t a JOIN t b
        |    ON a.lang = b.lang AND a.source = b.source
        |   AND a.doc_id <> b.doc_id)
        |SELECT a_id, b_id, inter, na,
        |       CAST(inter * 1000 // na AS BIGINT) AS cont_pm
        |FROM p
        |ORDER BY cont_pm DESC, a_id ASC, b_id ASC
        |LIMIT 100""".stripMargin,
    "q_dedup_jaccard" ->
      s"""WITH t AS (
        |  SELECT doc_id, lang, source,
        |         list_distinct(string_split(text, ' ')) AS tset
        |  FROM documents WHERE $docGuard),
        |p AS (
        |  SELECT a.doc_id AS a_id, b.doc_id AS b_id,
        |         len(list_intersect(a.tset, b.tset)) AS inter,
        |         len(a.tset) + len(b.tset)
        |           - len(list_intersect(a.tset, b.tset)) AS uni
        |  FROM t a JOIN t b
        |    ON a.lang = b.lang AND a.source = b.source AND a.doc_id < b.doc_id)
        |SELECT a_id, b_id, inter, uni,
        |       CAST(inter AS DOUBLE) / uni AS jac
        |FROM p
        |ORDER BY jac DESC, a_id ASC, b_id ASC
        |LIMIT 100""".stripMargin,
    "q_dedup_contain" ->
      s"""WITH t AS (
        |  SELECT doc_id, lang, source,
        |         list_distinct(string_split(text, ' ')) AS tset
        |  FROM documents WHERE $docGuard),
        |p AS (
        |  SELECT a.doc_id AS a_id, b.doc_id AS b_id,
        |         CAST(len(list_intersect(a.tset, b.tset)) AS BIGINT) AS inter,
        |         CAST(len(a.tset) AS BIGINT) AS na
        |  FROM t a JOIN t b
        |    ON a.lang = b.lang AND a.source = b.source
        |   AND a.doc_id <> b.doc_id)
        |SELECT a_id, b_id, inter, na,
        |       CAST(inter * 1000 // na AS BIGINT) AS cont_pm
        |FROM p
        |ORDER BY cont_pm DESC, a_id ASC, b_id ASC
        |LIMIT 100""".stripMargin,
    // Naive all-pairs is the ORACLE only — the engine side is the exact
    // prefix-filter join, whose 100% recall is what licenses this compare.
    // Bigram construction: range(1, len) is end-exclusive, so a 1-token
    // doc yields an empty shingle list — same as Spark's CASE guard.
    "q_dedup_neardup" ->
      """WITH toks AS (
        |  SELECT doc_id, string_split(text, ' ') AS tk
        |  FROM documents),
        |t AS (
        |  SELECT doc_id,
        |         list_distinct(list_transform(range(1, len(tk)),
        |           i -> tk[i] || ' ' || tk[i + 1])) AS tset
        |  FROM toks),
        |p AS (
        |  SELECT a.doc_id AS a_id, b.doc_id AS b_id,
        |         CAST(len(list_intersect(a.tset, b.tset)) AS BIGINT) AS inter,
        |         CAST(len(a.tset) + len(b.tset)
        |           - len(list_intersect(a.tset, b.tset)) AS BIGINT) AS uni
        |  FROM t a JOIN t b ON a.doc_id < b.doc_id)
        |SELECT a_id, b_id, inter, uni,
        |       CAST(inter AS DOUBLE) / uni AS jac
        |FROM p
        |WHERE uni > 0 AND CAST(inter AS DOUBLE) / uni >= 0.7
        |ORDER BY a_id ASC, b_id ASC""".stripMargin,
    // Delta-vs-corpus all-pairs is the ORACLE only — the engine is the
    // LSH candidate join; recall ≈ 1 banding licenses the compare as in
    // q_dedup_neardup. Best match per new doc: max jac (a ratio of the
    // same integers both engines divide), match_id tiebreak. The
    // stored-state form shares this oracle verbatim (entry below the
    // map) — identical results are its contract.
    "q_dedup_incr" ->
      """WITH toks AS (
        |  SELECT doc_id, string_split(text, ' ') AS tk
        |  FROM documents),
        |t AS (
        |  SELECT doc_id,
        |         list_distinct(list_transform(range(1, len(tk)),
        |           i -> tk[i] || ' ' || tk[i + 1])) AS tset
        |  FROM toks),
        |p AS (
        |  SELECT a.doc_id AS new_id, b.doc_id AS match_id,
        |         CAST(len(list_intersect(a.tset, b.tset)) AS BIGINT) AS inter,
        |         CAST(len(a.tset) + len(b.tset)
        |           - len(list_intersect(a.tset, b.tset)) AS BIGINT) AS uni
        |  FROM t a JOIN t b
        |    ON a.doc_id % 10 = 7 AND b.doc_id % 10 <> 7),
        |j AS (
        |  SELECT new_id, match_id, inter, uni,
        |         CAST(inter AS DOUBLE) / uni AS jac
        |  FROM p WHERE uni > 0 AND CAST(inter AS DOUBLE) / uni >= 0.7),
        |r AS (
        |  SELECT *, row_number() OVER (PARTITION BY new_id
        |                               ORDER BY jac DESC, match_id ASC) AS rn
        |  FROM j)
        |SELECT new_id, match_id, inter, uni, jac
        |FROM r WHERE rn = 1
        |ORDER BY new_id ASC""".stripMargin,
    // Recursive CTE = transitive closure over the same (all-pairs-
    // verified) edge set; min reachable label per member ≡ the engine's
    // min-label propagation fixed point.
    "q_dedup_clusters" ->
      """WITH RECURSIVE toks AS (
        |  SELECT doc_id, string_split(text, ' ') AS tk
        |  FROM documents),
        |t AS (
        |  SELECT doc_id,
        |         list_distinct(list_transform(range(1, len(tk)),
        |           i -> tk[i] || ' ' || tk[i + 1])) AS tset
        |  FROM toks),
        |e AS (
        |  SELECT a.doc_id AS src, b.doc_id AS dst
        |  FROM t a JOIN t b ON a.doc_id <> b.doc_id
        |  WHERE len(a.tset) + len(b.tset) - len(list_intersect(a.tset, b.tset)) > 0
        |    AND CAST(len(list_intersect(a.tset, b.tset)) AS DOUBLE)
        |        / (len(a.tset) + len(b.tset)
        |           - len(list_intersect(a.tset, b.tset))) >= 0.7),
        |reach(id, lbl) AS (
        |  SELECT DISTINCT src, src FROM e
        |  UNION
        |  SELECT e.src, r.lbl FROM e JOIN reach r ON e.dst = r.id)
        |SELECT id AS doc_id, CAST(min(lbl) AS BIGINT) AS canon_id
        |FROM reach
        |GROUP BY id
        |ORDER BY doc_id ASC""".stripMargin,
    // Same transitive-closure base as q_dedup_clusters, then both split
    // schemes (doc-hash vs cluster-hash) re-derived from the labels with
    // the cross-engine md5 fold; singletons coalesce to their own id.
    "q_dedup_split" ->
      (s"""WITH RECURSIVE toks AS (
        |  SELECT doc_id, string_split(text, ' ') AS tk
        |  FROM documents),
        |t AS (
        |  SELECT doc_id,
        |         list_distinct(list_transform(range(1, len(tk)),
        |           i -> tk[i] || ' ' || tk[i + 1])) AS tset
        |  FROM toks),
        |e AS (
        |  SELECT a.doc_id AS src, b.doc_id AS dst
        |  FROM t a JOIN t b ON a.doc_id <> b.doc_id
        |  WHERE len(a.tset) + len(b.tset) - len(list_intersect(a.tset, b.tset)) > 0
        |    AND CAST(len(list_intersect(a.tset, b.tset)) AS DOUBLE)
        |        / (len(a.tset) + len(b.tset)
        |           - len(list_intersect(a.tset, b.tset))) >= 0.7),
        |reach(id, lbl) AS (
        |  SELECT DISTINCT src, src FROM e
        |  UNION
        |  SELECT e.src, r.lbl FROM e JOIN reach r ON e.dst = r.id),
        |cl AS (
        |  SELECT id AS doc_id, CAST(min(lbl) AS BIGINT) AS canon_id
        |  FROM reach GROUP BY id),
        |g AS (
        |  SELECT d.doc_id, coalesce(cl.canon_id, d.doc_id) AS grp
        |  FROM documents d LEFT JOIN cl ON d.doc_id = cl.doc_id),
        |h AS (
        |  SELECT doc_id, grp,
        |         md5('s' || CAST(doc_id AS VARCHAR)) AS hxd,
        |         md5('s' || CAST(grp AS VARCHAR)) AS hxg
        |  FROM g),
        |sp AS (
        |  SELECT doc_id, grp,
        |         CASE WHEN ${DetHash.duckHexInt("hxd", 4)} % 10 < 8 THEN 'train'
        |              WHEN ${DetHash.duckHexInt("hxd", 4)} % 10 = 8 THEN 'val'
        |              ELSE 'test' END AS sn,
        |         CASE WHEN ${DetHash.duckHexInt("hxg", 4)} % 10 < 8 THEN 'train'
        |              WHEN ${DetHash.duckHexInt("hxg", 4)} % 10 = 8 THEN 'val'
        |              ELSE 'test' END AS sg
        |  FROM h),
        |leak AS (
        |  SELECT grp, count(DISTINCT sn) AS kd, count(DISTINCT sg) AS kg
        |  FROM sp GROUP BY grp)
        |SELECT CAST((SELECT count(*) FROM sp) AS BIGINT) AS n_docs,
        |       CAST((SELECT count(DISTINCT grp) FROM sp) AS BIGINT) AS n_groups,
        |       CAST((SELECT sum(CASE WHEN sn = 'train' THEN 1 ELSE 0 END) FROM sp) AS BIGINT) AS naive_train,
        |       CAST((SELECT sum(CASE WHEN sn = 'val' THEN 1 ELSE 0 END) FROM sp) AS BIGINT) AS naive_val,
        |       CAST((SELECT sum(CASE WHEN sn = 'test' THEN 1 ELSE 0 END) FROM sp) AS BIGINT) AS naive_test,
        |       CAST((SELECT sum(CASE WHEN sg = 'train' THEN 1 ELSE 0 END) FROM sp) AS BIGINT) AS grp_train,
        |       CAST((SELECT sum(CASE WHEN sg = 'val' THEN 1 ELSE 0 END) FROM sp) AS BIGINT) AS grp_val,
        |       CAST((SELECT sum(CASE WHEN sg = 'test' THEN 1 ELSE 0 END) FROM sp) AS BIGINT) AS grp_test,
        |       CAST((SELECT sum(CASE WHEN kd > 1 THEN 1 ELSE 0 END) FROM leak) AS BIGINT) AS n_leaky_naive,
        |       CAST((SELECT sum(CASE WHEN kg > 1 THEN 1 ELSE 0 END) FROM leak) AS BIGINT) AS n_leaky_grp""").stripMargin,
    // Same transitive-closure base as q_dedup_clusters, extended with the
    // representative window: per cluster keep the longest doc (doc_id
    // tiebreak), everyone else points at it.
    "q_dedup_repr" ->
      """WITH RECURSIVE toks AS (
        |  SELECT doc_id, string_split(text, ' ') AS tk
        |  FROM documents),
        |t AS (
        |  SELECT doc_id,
        |         list_distinct(list_transform(range(1, len(tk)),
        |           i -> tk[i] || ' ' || tk[i + 1])) AS tset
        |  FROM toks),
        |e AS (
        |  SELECT a.doc_id AS src, b.doc_id AS dst
        |  FROM t a JOIN t b ON a.doc_id <> b.doc_id
        |  WHERE len(a.tset) + len(b.tset) - len(list_intersect(a.tset, b.tset)) > 0
        |    AND CAST(len(list_intersect(a.tset, b.tset)) AS DOUBLE)
        |        / (len(a.tset) + len(b.tset)
        |           - len(list_intersect(a.tset, b.tset))) >= 0.7),
        |reach(id, lbl) AS (
        |  SELECT DISTINCT src, src FROM e
        |  UNION
        |  SELECT e.src, r.lbl FROM e JOIN reach r ON e.dst = r.id),
        |cl AS (
        |  SELECT id AS doc_id, CAST(min(lbl) AS BIGINT) AS canon_id
        |  FROM reach GROUP BY id),
        |m AS (
        |  SELECT cl.doc_id, cl.canon_id, d.n_chars,
        |         first_value(cl.doc_id) OVER (
        |           PARTITION BY cl.canon_id
        |           ORDER BY d.n_chars DESC, cl.doc_id ASC
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
        |           AS repr_id
        |  FROM cl JOIN documents d ON cl.doc_id = d.doc_id)
        |SELECT doc_id, canon_id, repr_id, n_chars,
        |       CAST(CASE WHEN doc_id = repr_id THEN 1 ELSE 0 END AS BIGINT) AS keep
        |FROM m
        |ORDER BY doc_id ASC""".stripMargin,
    // All-pairs oracle is EXACT here (not probabilistic): 4-band
    // pigeonholing has recall 1 at hamming ≤ 3 by construction.
    "q_dedup_hamming" ->
      (s"""WITH $hamSigCte
        |SELECT a.doc_id AS a_id, b.doc_id AS b_id,
        |       CAST(bit_count(xor(a.sh, b.sh)) AS BIGINT) AS hamming
        |FROM sig a JOIN sig b ON a.doc_id < b.doc_id
        |WHERE bit_count(xor(a.sh, b.sh)) <= 3
        |ORDER BY a_id ASC, b_id ASC""").stripMargin,
    // Same sig CTE as q_dedup_hamming — the declared SimHash signature
    // surface IS the hamming family's signature, bit-identical.
    "q_dedup_simhash" ->
      (s"""WITH $hamSigCte
        |SELECT doc_id, sh AS sig FROM sig
        |ORDER BY doc_id ASC""").stripMargin,
    "q_dedup_minhash" ->
      (s"""WITH ${mdSigsCte()},
        |b AS (
        |  ${(0 until MdPerms / 2).map(b =>
             s"SELECT CAST($b AS BIGINT) AS band_id, CAST(s${2 * b} AS VARCHAR) " +
               s"|| ':' || CAST(s${2 * b + 1} AS VARCHAR) AS bucket FROM sigs")
             .mkString("\n  UNION ALL\n  ")}),
        |z AS (SELECT band_id, bucket, count(*) AS sz FROM b GROUP BY 1, 2)
        |SELECT band_id, count(*) AS n_buckets,
        |       CAST(sum(sz) AS BIGINT) AS n_docs,
        |       CAST(max(sz) AS BIGINT) AS max_bucket
        |FROM z
        |GROUP BY band_id
        |ORDER BY band_id ASC""").stripMargin,
    "q_sim_ann" ->
      (s"""SELECT $bucketSql AS bucket, count(*) AS n_vecs
        |FROM embeddings
        |GROUP BY bucket
        |ORDER BY bucket ASC""").stripMargin
  )

  // The stored-state incremental form's contract IS q_dedup_incr's
  // result — the only difference is WHERE the corpus signatures come
  // from (persisted artifact vs recompute), which the all-pairs oracle
  // is blind to by design — so it shares that oracle verbatim.
  val oracle: Map[String, String] =
    oracleBase + ("q_dedup_incr_stored" -> oracleBase("q_dedup_incr"))
}
