package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Text analysis + exact/normalized dedup over `documents`
  * (SURVEY.md §2.9 and the driver-ordered LLM-pipeline operators).
  *
  * All token work happens with built-in generators/HOFs (explode, filter,
  * transform, aggregate) so it stays codegen'd and distributes: tokenize →
  * explode is the Spark UDTF surface; per-doc scores are narrow maps; the
  * only shuffles are the final group-bys. Ratio columns divide identical
  * integers on both engines — bit-exact without rounding.
  */
object Text {

  private def toks = split(col("text"), " ")

  /** One row per n-gram WINDOW position of every document — (doc_id,
    * n_toks, p, g) with p the 1-based window start and g the
    * space-joined gram. The 5-gram stream feeds the exact-substring-
    * dedup family (q_text_ngram_dup / q_text_dupspans / q_text_spancut)
    * and the bigram stream the novelty curve — each previously re-paid
    * its own scan + split + slice-transform + posexplode of the same
    * corpus; at 100 TB the gram derivation IS those queries' dominant
    * cost, so derive-once is the same economics as [[tokenLeaf]].
    * Same discipline too: lazy persist (MEMORY_AND_DISK_SER) so
    * construction stays job-free, one [[Hints.leaf]] per gram width n
    * with stale-entry eviction. Built from the
    * document scan directly (the token ARRAY is needed per row — the
    * exploded [[tokenLeaf]] would have to re-group to rebuild windows,
    * a shuffle the split() scan doesn't pay). */
  private[graft] def gramLeaf(s: SparkSession, d: String, n: Int): DataFrame =
    Hints.leaf(s, d, s"grams#$n", "documents") {
      Tables.spread(Tables.documents(s, d))
        .withColumn("toks", toks)
        .filter(size(col("toks")) >= n)
        .select(col("doc_id"), size(col("toks")).cast("long").as("n_toks"),
          posexplode(expr(
            s"transform(sequence(1, size(toks) - ${n - 1}), " +
              s"i -> concat_ws(' ', slice(toks, i, $n)))")))
        .select(col("doc_id"), col("n_toks"), (col("pos") + 1).as("p"),
          col("col").as("g"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)
    }

  /** One row per whitespace token of every document — (doc_id, lang,
    * source, pos, tok), lazily cached and shared across every text query
    * whose first step is "explode the tokens". Before this leaf, ~15
    * queries each paid their own scan + split + explode of the same
    * corpus; tokenize-once is the difference between reading a 100 TB
    * corpus once and reading it 15 times. persist (MEMORY_AND_DISK_SER),
    * NOT checkpoint: persist is lazy, so query CONSTRUCTION stays
    * job-free (the PlanQualitySpec laziness pin) and the first consumer's
    * action populates the cache. Serialized blocks evict to disk under
    * pressure, so the leaf never pins unified memory the consumers'
    * hash aggregates need. Keyed by the documents file's (mtime, length)
    * fingerprint, so a fixture regeneration invalidates the entry
    * instead of serving stale tokens ([[Hints.leaf]] evicts and
    * unpersists the superseded entry so regenerations don't leak cached
    * blocks across a long-lived session). */
  private[graft] def tokenLeaf(s: SparkSession, d: String): DataFrame =
    Hints.leaf(s, d, "tokens", "documents") {
      Tables.spread(Tables.documents(s, d))
        .select(col("doc_id"), col("lang"), col("source"),
          posexplode(toks).as(Seq("pos", "tok")))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)
    }

  /** The (doc_id, tok, tf) POSTING-COUNT subplan — the shared first
    * aggregate of the posting-shaped family (round 16, VERDICT r15
    * item 6). Six declared queries' first corpus-scale step is the same
    * groupBy(doc_id, tok) count over [[tokenLeaf]] (q_text_bm25 /
    * salient / invindex / rarity / entropy_native / vocab_prune — bm25
    * additionally re-aggregated the RAW token stream twice more for its
    * per-doc lengths and document frequencies). Derivations downstream
    * are value-identical by construction: per-doc length = Σ tf,
    * document frequency = posting-row count per token, collection
    * frequency = Σ tf per token — each replaces a separate
    * corpus-stream pass with a pass over the (already smaller) posting
    * table.
    *
    * NOT persisted — a measured rejection, both driver instruments
    * (same-JVM interleaved A/Bs, BASELINE.md round 16 "posting/feature/
    * signature leaf candidates"): at fixture
    * scale the serialize + columnar-read barrier beats the saved 5k-doc
    * aggregate (bm25 warm-min 2.17 stateless vs 2.31 s leafed), and at
    * the 100× replica the solo construction pays the corpus-sized cache
    * write without a second consumer to amortize it (bm25 7.9 stateless
    * vs 10.5 s leafed) — the bench (cold JVM, per-query min) and the
    * headroom sweep (evictAllMemos between queries) both measure
    * exactly that solo regime. The shared SUBPLAN is still the win:
    * every consumer references this one aggregate 2–3×, and AQE
    * stage-reuse shares its exchange within a query, so the token
    * stream is aggregated once per construction where the r15 shapes
    * paid up to three independent corpus aggregates (bm25). */
  private[graft] def postingCounts(s: SparkSession, d: String): DataFrame =
    tokenLeaf(s, d)
      .select(col("doc_id"), col("tok"))
      .groupBy(col("doc_id"), col("tok"))
      .agg(count(lit(1)).as("tf"))

  /** Tokenize + explode + top-20 word frequencies (generator surface).
    * Deliberately NOT on [[tokenLeaf]]: this is the family's cheapest
    * query (one fused parquet-scan→split→explode→agg, 0.20 s at sf0.1)
    * and reading the cached 5-column leaf instead was a measured
    * regression (0.54 s — the leaf amortizes tokenize-once across
    * multi-scan consumers; a single tiny scan only pays the cache-read
    * overhead). */
  def textTokens(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(explode(toks).as("word"))
      .groupBy(col("word"))
      .agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("word").asc)
      .limit(20)

  /** Per-language corpus stats; avg doc length via integer-fed division. */
  def textStats(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .groupBy(col("lang"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("sum_chars"),
        sum(when(col("n_chars") === length(col("text")), 1L).otherwise(0L))
          .as("n_consistent"))
      .withColumn("avg_chars",
        col("sum_chars").cast("double") / col("n_docs"))
      .orderBy(col("lang").asc)

  /** Exact dedup on (lang, source): survivor = min(doc_id) — deterministic
    * survivor choice, unlike raw dropDuplicates (SURVEY §7.4.6). */
  def dedupExact(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .groupBy(col("lang"), col("source"))
      .agg(min(col("doc_id")).as("keeper"), count(lit(1)).as("cnt"))
      .orderBy(col("lang").asc, col("source").asc)

  /** Near-dup by normalized token-set signature: distinct-sorted tokens
    * re-joined. Top signature groups by size. */
  def dedupNorm(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .withColumn("sig", concat_ws(" ", array_sort(array_distinct(toks))))
      .groupBy(col("sig"))
      .agg(count(lit(1)).as("cnt"), min(col("doc_id")).as("keeper"))
      .orderBy(col("cnt").desc, col("sig").asc)
      .limit(100)

  /** Quality scoring: token counts, stopword ratio, avg token length,
    * banded score — the heuristics a pretraining filter would run. */
  def textQuality(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .withColumn("n_tokens", size(toks).cast("long"))
      .withColumn("n_uniq", size(array_distinct(toks)).cast("long"))
      .withColumn("stop_cnt",
        expr("cast(size(filter(split(text, ' '), t -> t IN ('the', 'a'))) AS bigint)"))
      .withColumn("stop_ratio", col("stop_cnt").cast("double") / col("n_tokens"))
      .withColumn("avg_tok_len",
        (col("n_chars") - (col("n_tokens") - 1)).cast("double") / col("n_tokens"))
      .withColumn("quality",
        when(col("stop_ratio") > 0.2, "low")
          .when(col("n_tokens") >= 40, "long")
          .otherwise("ok"))
      .select(col("doc_id"), col("n_tokens"), col("n_uniq"), col("stop_cnt"),
        col("stop_ratio"), col("avg_tok_len"), col("quality"))
      .orderBy(col("doc_id").asc)

  /** Weighted character-trigram profiles per language — the classic
    * n-gram language-ID scheme (Cavnar & Trenkle '94 shape) with
    * hand-authored illustrative profiles (a production system would train
    * them; this synthetic corpus draws text from one shared vocabulary,
    * so the MECHANISM, not accuracy, is the demonstrated surface). Shared
    * constants generate both the Spark broadcast table and the oracle's
    * VALUES list. */
  val langProfiles: Seq[(String, String, Long)] = Seq(
    ("en", "the", 3L), ("en", "and", 2L), ("en", "ing", 2L), ("en", "he ", 1L),
    ("de", "sch", 3L), ("de", "der", 2L), ("de", "ein", 2L), ("de", "ich", 1L),
    ("fr", "les", 3L), ("fr", "ent", 2L), ("fr", "que", 2L), ("fr", "eau", 1L),
    ("es", "los", 3L), ("es", "del", 2L), ("es", "ado", 2L), ("es", "nte", 1L),
    ("zh", "zh ", 3L), ("zh", "ng ", 1L), ("zh", "sh ", 1L), ("zh", "xi ", 1L))

  /** Language-ID via trigram profile scoring: slide a 3-char window over
    * every doc, broadcast-join the (tiny) profile table, sum weights per
    * (doc, lang), argmax. The 100 TB shape: per-doc featurize (narrow
    * generator, no shuffle) ⋈ broadcast dimension → one grouped agg —
    * no driver-side model state, fully codegen'd, integer-exact oracle. */
  def textLangid(s: SparkSession, d: String): DataFrame =
    langidPerDoc(s, d).orderBy(col("doc_id").asc)

  /** Unsorted per-doc langid core shared by the declared query and the
    * confusion-matrix eval (the eval re-aggregates, so forcing the
    * per-doc sort there would only add a dead exchange). */
  /** Per-(doc, lang) summed trigram profile scores — the corpus-sized
    * stage BOTH langid consumers walk (the declared query and the
    * confusion-matrix eval re-derive everything after it from this
    * docs×≤5-row table). Shared-leaf treatment (multi-consumer ⇒
    * [[Hints.leaf]], the tokenLeaf/gramLeaf family) — retained after the
    * round-12 expression rewrite cut the cold build itself from 27.9 to
    * 4.1 s solo at 100× (see the builder note below): the leaf still
    * saves the second consumer's corpus scan, it just no longer
    * dominates. Sweep min-of-2 rows for this pair report the warm read
    * (the standing [[Hints.leaf]] measurement semantics — same as every
    * tokenLeaf/gramLeaf consumer); BASELINE.md round 12 states both
    * numbers. */
  private def langidScoreLeaf(s: SparkSession, d: String): DataFrame =
    Hints.leaf(s, d, "lid-scores", "documents") {
      // Round 12 (VERDICT r11 item 5): the corpus-sized stage is now the
      // codegen'd one-pass expression (functions.LangTrigramScores) —
      // the len−2-per-doc trigram explode, the 20-row broadcast join
      // and the corpus-wide partial aggregate all collapse into a
      // narrow per-doc map emitting ≤5 (lang, score) rows directly.
      // Row-identical to the declarative formulation by construction
      // (LidNativeSpec pins it, including non-ASCII inputs); the
      // DuckDB oracle still replays the windowed-join form. Measured
      // same-session stash A/B at 100× (TimeOne rep1 = cold leaf
      // build): langid 27.9 → 4.1 s, lid_eval cold 5.5 s, warm reads
      // 1.2–1.5 s unchanged — the memo is now insurance for the
      // two-consumer pair, no longer the main lever (pair cold+warm
      // ≈ 5.3 s vs the round-11 33 s).
      graft.functions.VectorExprs.register(s)
      val docs = Tables.documents(s, d)
      Tables.spread(docs)
        .select(col("doc_id"),
          explode(expr("lang_trigram_scores(text)")).as("ls"))
        .select(col("doc_id"), col("ls.lang").as("lang_p"),
          col("ls.score").as("score"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)
    }

  private def langidPerDoc(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.documents(s, d)
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("score").desc, col("lang_p").asc)
    val best = langidScoreLeaf(s, d)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
    docs.select(col("doc_id"), col("lang"))
      .join(best, Seq("doc_id"), "left")
      .withColumn("guess", coalesce(col("lang_p"), lit("und")))
      .withColumn("score", coalesce(col("score"), lit(0L)))
      .select(col("doc_id"), col("lang"), col("guess"), col("score"))
  }

  /** Classifier-eval confusion matrix over the langid output: per
    * (declared lang, predicted lang) doc counts plus the row's share of
    * its declared language in integer permille — the quality report every
    * deployed classifier ships with. The matrix is classes², so the
    * per-lang share rides a window over a dimension-sized result — the
    * corpus-sized work is all in the shared langid core. */
  def textLidEval(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("lang"))
    langidPerDoc(s, d)
      .groupBy(col("lang"), col("guess"))
      .agg(count(lit(1)).as("n_docs"))
      .withColumn("lang_total", sum(col("n_docs")).over(w))
      .withColumn("share_pm", expr("n_docs * 1000 div lang_total"))
      .withColumn("hit", when(col("lang") === col("guess"), 1L).otherwise(0L))
      .select(col("lang"), col("guess"), col("n_docs"), col("lang_total"),
        col("share_pm"), col("hit"))
      .orderBy(col("lang").asc, col("guess").asc)
  }

  /** Document fingerprint: polynomial rolling hash over per-token keys —
    * pure integer arithmetic, identical fold order on both engines. */
  def textFingerprint(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .withColumn("fp", expr(
        "aggregate(" +
          "transform(split(text, ' '), t -> cast(length(t) * 31 + ascii(substr(t, 1, 1)) AS bigint)), " +
          "cast(0 AS bigint), (h, x) -> (h * 131 + x) % 1000000007)"))
      .select(col("doc_id"), col("fp"))
      .orderBy(col("doc_id").asc)

  /** Token counting two ways: whitespace split vs a BPE-ish regex
    * tokenizer (word / digit-run / single-symbol pieces) — the
    * pretraining-cost estimator shape. Ratio is integer-fed division. */
  def textBpe(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .withColumn("n_ws", size(toks).cast("long"))
      .withColumn("n_bpe",
        size(expr("regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]', 0)"))
          .cast("long"))
      .withColumn("pieces_per_word",
        col("n_bpe").cast("double") / col("n_ws"))
      .select(col("doc_id"), col("n_ws"), col("n_bpe"), col("pieces_per_word"))
      .orderBy(col("doc_id").asc)

  /** BPE merge TRAINING (the learn step q_text_bpe's tokenizer audit
    * presumes): R greedy merge rounds over the corpus, each round =
    * count adjacent token pairs → pick the most frequent (count desc,
    * pair asc tiebreak) → apply it corpus-wide. Three design points:
    *
    *  - The whole R-round loop is ONE LAZY PLAN: each round's winning
    *    pair is a 1-row broadcast fold (crossJoin(broadcast(limit(1))))
    *    feeding the next round's rewrite — no driver-side iteration, no
    *    construction-time action, unlike the checkpoint-per-round
    *    iterative family (pagerank/BFS), because R is a small fixed
    *    hyperparameter and the per-round plan growth is linear.
    *  - The merge apply is a BOUNDARY-SAFE sequential replace: the text
    *    is space-doubled so every token is flanked by its own space
    *    pair, making ' a  b ' matches non-overlapping and greedy
    *    left-to-right in BOTH engines' replace() — "x x x" merges to
    *    "x+x x", the standard BPE scan order — then collapsed back.
    *  - '+' joins merged tokens (fixture text is lowercase words, no
    *    '+'), so later rounds can learn merges OF merges.
    *
    * Output: (round, pair, merged_cnt) — the learned merge table. */
  def textBpeTrain(s: SparkSession, d: String): DataFrame = {
    val Rounds = 4
    var docs = Tables.spread(Tables.documents(s, d))
      .select(col("doc_id"), col("text"))
    val merges = scala.collection.mutable.Buffer.empty[DataFrame]
    for (r <- 1 to Rounds) {
      val pairs = docs
        .withColumn("tk", split(col("text"), " "))
        .select(explode(expr(
          """CASE WHEN size(tk) >= 2 THEN
            |  transform(sequence(1, size(tk) - 1),
            |    i -> element_at(tk, i) || ' ' || element_at(tk, i + 1))
            |ELSE slice(tk, 1, 0) END""".stripMargin)).as("pair"))
        .groupBy(col("pair")).agg(count(lit(1)).as("cnt"))
      val best = pairs.orderBy(col("cnt").desc, col("pair").asc).limit(1)
        .select(col("pair").as(s"bp$r"), col("cnt").as(s"bc$r"))
      merges += best.select(lit(r.toLong).as("round"),
        col(s"bp$r").as("pair"), col(s"bc$r").as("merged_cnt"))
      docs = docs.crossJoin(broadcast(best))
        .withColumn("text", expr(
          s"""btrim(replace(
             |  replace(' ' || replace(text, ' ', '  ') || ' ',
             |    ' ' || replace(bp$r, ' ', '  ') || ' ',
             |    ' ' || replace(bp$r, ' ', '+') || ' '),
             |  '  ', ' '))""".stripMargin))
        .select(col("doc_id"), col("text"))
    }
    merges.reduce(_ unionByName _).orderBy(col("round").asc)
  }

  /** DuckDB twin of [[textBpeTrain]]: the same R rounds as chained CTEs
    * (t0 → p1/b1 → t1 → …), byte-identical replace semantics. */
  private def bpeTrainSql(rounds: Int): String = {
    def pCte(r: Int) =
      s"""p$r AS (
         |  SELECT pr AS pair, count(*) AS cnt FROM (
         |    SELECT unnest(list_transform(range(1, len(tk)),
         |      i -> tk[i] || ' ' || tk[i + 1])) AS pr
         |    FROM (SELECT string_split(text, ' ') AS tk FROM t${r - 1}))
         |  GROUP BY pr),
         |b$r AS (SELECT pair, cnt FROM p$r
         |        ORDER BY cnt DESC, pair ASC LIMIT 1)""".stripMargin
    def tCte(r: Int) =
      s"""t$r AS (
         |  SELECT doc_id, trim(replace(
         |    replace(' ' || replace(text, ' ', '  ') || ' ',
         |      ' ' || replace(b$r.pair, ' ', '  ') || ' ',
         |      ' ' || replace(b$r.pair, ' ', '+') || ' '),
         |    '  ', ' ')) AS text
         |  FROM t${r - 1} CROSS JOIN b$r)""".stripMargin
    val ctes = Seq("t0 AS (SELECT doc_id, text FROM documents)") ++
      (1 to rounds).flatMap(r =>
        Seq(pCte(r)) ++ (if (r < rounds) Seq(tCte(r)) else Nil))
    val sel = (1 to rounds)
      .map(r => s"SELECT CAST($r AS BIGINT) AS round, pair, cnt AS merged_cnt FROM b$r")
      .mkString("\nUNION ALL\n")
    s"WITH ${ctes.mkString(",\n")}\n$sel\nORDER BY round ASC"
  }

  private val shingle3 =
    """array_distinct(CASE WHEN size(toks) >= 3 THEN
      |  transform(sequence(1, size(toks) - 2),
      |    i -> concat_ws(' ', slice(toks, i, 3)))
      |ELSE slice(toks, 1, 0) END)""".stripMargin

  /** Eval-set decontamination: flag training docs sharing ≥2 distinct
    * 3-gram shingles with any eval doc (eval = deterministic doc_id
    * split standing in for a benchmark suite). The eval side's distinct
    * shingle set is SMALL by nature (benchmarks, not corpora), so it
    * broadcasts and the train side streams through a map-side hash join —
    * the shape that decontaminates 100 TB without shuffling it. */
  def textDecontam(s: SparkSession, d: String): DataFrame = {
    val sh = Tables.spread(Tables.documents(s, d))
      .withColumn("toks", toks)
      .select(col("doc_id"), explode(expr(shingle3)).as("tg"))
    val ev = sh.filter(col("doc_id") % 97 === 0).select(col("tg")).distinct()
    sh.filter(col("doc_id") % 97 =!= 0)
      .join(broadcast(ev), "tg")
      .groupBy(col("doc_id"))
      .agg(countDistinct(col("tg")).as("shared_shingles"))
      .filter(col("shared_shingles") >= 2)
      .orderBy(col("doc_id").asc)
  }

  /** Training-window chunking: overlapping token windows (size 8,
    * stride 6) per document — the tokenize-and-pack shape that feeds
    * sequence construction. Chunk count is pure integer arithmetic
    * (1 + ⌈max(n−8,0)/6⌉) so both engines enumerate identical windows;
    * a narrow generator (posexplode), no shuffle before the output sort. */
  def textChunk(s: SparkSession, d: String): DataFrame =
    Tables.spread(Tables.documents(s, d))
      .withColumn("toks", toks)
      .withColumn("nc",
        expr("CAST(1 + (greatest(size(toks) - 8, 0) + 5) div 6 AS INT)"))
      .select(col("doc_id"),
        posexplode(expr(
          "transform(sequence(0, nc - 1), k -> concat_ws(' ', slice(toks, k * 6 + 1, 8)))")))
      .select(col("doc_id"), col("pos").cast("long").as("chunk_id"),
        col("col").as("chunk"),
        size(split(col("col"), " ")).cast("long").as("chunk_tokens"))
      .orderBy(col("doc_id").asc, col("chunk_id").asc)

  /** Corpus mixture resampling: hit per-language target weights by
    * deterministic replication — integer copies plus a doc_id-modulus
    * coin for the fractional part (rand() would be un-oracle-able and
    * non-reproducible across retries; modulus gives EXACTLY the target
    * rate per 100 docs). The explode is the actual resample (each copy
    * is a training row); the declared output aggregates it per language
    * so the oracle can verify the mixture arithmetic without 1.2×
    * corpus-size dumps. */
  def textMix(s: SparkSession, d: String): DataFrame = {
    val w100 = "CASE lang WHEN 'en' THEN 200 WHEN 'de' THEN 150 " +
      "WHEN 'fr' THEN 100 ELSE 50 END"
    val base = Tables.documents(s, d)
      .withColumn("n_copies",
        expr(s"$w100 div 100 + IF(doc_id % 100 < $w100 % 100, 1, 0)"))
    // The resample itself: one exploded row per training copy.
    val resampled = base
      .select(col("lang"), col("doc_id"), explode(expr(
        "CASE WHEN n_copies >= 1 THEN sequence(1, n_copies) " +
          "ELSE slice(sequence(1, 1), 1, 0) END")).as("copy_id"))
    // n_docs counts the FULL corpus per language — docs down-sampled to
    // zero copies stay in the denominator, so `rate` IS the mixture
    // weight (0.5 for the down-weighted languages), not the misleading
    // copies-per-surviving-doc (1.0) the resampled rows alone would give.
    base.groupBy(col("lang")).agg(count(lit(1)).as("n_docs"))
      .join(resampled.groupBy(col("lang"))
          .agg(count(lit(1)).as("n_resampled")),
        Seq("lang"), "left")
      .withColumn("n_resampled", coalesce(col("n_resampled"), lit(0L)))
      .withColumn("rate",
        col("n_resampled").cast("double") / col("n_docs"))
      .orderBy(col("lang").asc)
  }

  /** Sequence packing: assign chunks to fixed-token-budget training
    * sequences by running sum within a deterministic shard
    * (doc_id div 100) — the pack-into-2048-token-rows step after
    * chunking. Sharding keeps the cumulative window parallel (an
    * unsharded global pack would be a single-task total order); packing
    * quality loses only at shard boundaries. Budget 64 tokens here so
    * the fixture produces multi-chunk sequences. */
  def textPack(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("shard"))
      .orderBy(col("doc_id").asc, col("chunk_id").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    textChunk(s, d)
      .withColumn("shard", expr("doc_id div 100"))
      .withColumn("cum", sum(col("chunk_tokens")).over(w))
      .withColumn("seq_id", expr("(cum - chunk_tokens) div 64"))
      .groupBy(col("shard"), col("seq_id"))
      .agg(count(lit(1)).as("n_chunks"),
        sum(col("chunk_tokens")).as("seq_tokens"))
      .orderBy(col("shard").asc, col("seq_id").asc)
  }

  /** TF-IDF-flavored salient terms: top-3 tokens per doc ranked by
    * (tf desc, df asc, token asc). Real TF-IDF multiplies tf by ln(N/df);
    * ln's last-ulp behavior differs across engines while the RANKING it
    * induces (high tf, rare token first) is exactly this integer sort —
    * so the declared query keeps the semantics and stays hash-exact.
    * df re-joins via a plain equi-join: corpus-scale vocabularies are
    * Zipfian-huge (every typo is a term), so no broadcast is assumed —
    * AQE promotes one when the vocabulary actually fits. */
  def textSalient(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tf = postingCounts(s, d)
    val df = tf.groupBy(col("tok")).agg(count(lit(1)).as("df"))
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("tf").desc, col("df").asc, col("tok").asc)
    tf.join(df, "tok")
      .withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <= 3)
      .select(col("doc_id"), col("tok"), col("tf"), col("df"), col("rn"))
      .orderBy(col("doc_id").asc, col("rn").asc)
  }

  /** Gopher-style repetition signals: duplicate-token fraction and
    * top-bigram coverage per doc — the redundancy heuristics a
    * pretraining quality filter runs ahead of dedup. Ratios are
    * integer-fed divisions; the top bigram tie-breaks (count desc,
    * bigram asc) so both engines agree. Docs with <2 tokens have no
    * bigram and drop out (same rule both sides). */
  def textRepetition(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val base = Tables.spread(Tables.documents(s, d))
      .withColumn("toks", toks)
      .withColumn("n_tokens", size(col("toks")).cast("long"))
      .withColumn("n_uniq", size(array_distinct(col("toks"))).cast("long"))
    val big = base.select(col("doc_id"), col("n_tokens"), col("n_uniq"),
        explode(expr(
          """CASE WHEN size(toks) >= 2 THEN
            |  transform(sequence(1, size(toks) - 1),
            |    i -> concat_ws(' ', slice(toks, i, 2)))
            |ELSE slice(toks, 1, 0) END""".stripMargin)).as("bg"))
      .groupBy(col("doc_id"), col("n_tokens"), col("n_uniq"), col("bg"))
      .agg(count(lit(1)).as("c"))
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("c").desc, col("bg").asc)
    big.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("doc_id"), col("n_tokens"), col("n_uniq"),
        (lit(1.0) - col("n_uniq").cast("double") / col("n_tokens"))
          .as("dup_ratio"),
        col("bg").as("top_bigram"), col("c").as("top_bigram_cnt"),
        (col("c").cast("double") / (col("n_tokens") - 1))
          .as("top_bigram_frac"))
      .orderBy(col("doc_id").asc)
  }

  /** Shared scrub pattern — generates BOTH the Spark rewrite and the
    * oracle's regex so they can never drift. Denylist tokens plus any
    * digit run ≥ 4 (id/phone shape). */
  val scrubPattern: String = "\\b(key|merge|part)\\b|[0-9]{4,}"

  /** PII-style redaction: global regex rewrite to `[REDACTED]` with
    * occurrence accounting, rolled up per source. The corpus is a
    * synthetic word soup, so a vocabulary denylist stands in for real
    * PII patterns (emails, phones, SSNs) — the MECHANISM is the
    * demonstrated surface: one narrow codegen'd map per doc (match count
    * + rewrite + length delta), no shuffle until the final small rollup.
    * len_delta re-derives the rewrite byte-exactly, so the oracle
    * verifies the replacement text, not just the counts. */
  def textScrub(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .withColumn("n_hits",
        size(regexp_extract_all(col("text"), lit(scrubPattern), lit(0)))
          .cast("long"))
      .withColumn("scrubbed", regexp_replace(col("text"), scrubPattern, "[REDACTED]"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_hits")).as("n_redactions"),
        sum(when(col("n_hits") > 0, 1L).otherwise(0L)).as("n_docs_affected"),
        sum((length(col("scrubbed")) - length(col("text"))).cast("long"))
          .as("len_delta"))
      .orderBy(col("source").asc)

  /** Inverted-index vocabulary summary: per token, document frequency,
    * collection frequency, and posting-list boundaries — the build step
    * of a search/retrieval index as one grouped pass over the exploded
    * token stream (token = shuffle key; posting lists partition by term
    * at any scale). */
  def textInvindex(s: SparkSession, d: String): DataFrame =
    postingCounts(s, d)
      .groupBy(col("tok"))
      .agg(count(lit(1)).as("df"), sum(col("tf")).as("cf"),
        min(col("doc_id")).as("first_doc"), max(col("doc_id")).as("last_doc"))
      .orderBy(col("tok").asc)

  /** The pretraining-prep pipeline END-TO-END as ONE declared plan:
    * scrub (PII-style rewrite) → quality gate (stopword ratio + minimum
    * length over the scrubbed text) → normalized-signature dedup
    * (deterministic min-doc_id survivor) → per-language funnel summary.
    * Every stage is the already-verified operator; composing them in one
    * query proves the stages fuse into a single Catalyst plan (narrow
    * maps + one dedup aggregate + one rollup — no materialization
    * between stages, which is how the real 100 TB pipeline should run). */
  def textPipeline(s: SparkSession, d: String): DataFrame = {
    val base = Tables.documents(s, d)
      .withColumn("scrubbed", regexp_replace(col("text"), scrubPattern, "[REDACTED]"))
      .withColumn("stoks", split(col("scrubbed"), " "))
      .withColumn("n_tokens", size(col("stoks")).cast("long"))
      .withColumn("stop_cnt", expr(
        "cast(size(filter(stoks, t -> t IN ('the', 'a'))) AS bigint)"))
      .withColumn("ok",
        col("stop_cnt").cast("double") / col("n_tokens") <= 0.2 &&
          col("n_tokens") >= 5)
    val surviving = base.filter(col("ok"))
      .withColumn("sig", concat_ws(" ", array_sort(array_distinct(col("stoks")))))
    val dedup = surviving
      .groupBy(col("lang"), col("sig"))
      .agg(min(col("doc_id")).as("keeper"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_unique"))
    base.groupBy(col("lang"))
      .agg(count(lit(1)).as("n_raw"),
        sum(when(col("ok"), 1L).otherwise(0L)).as("n_quality"))
      .join(dedup, Seq("lang"), "left")
      .withColumn("n_unique", coalesce(col("n_unique"), lit(0L)))
      .orderBy(col("lang").asc)
  }

  /** Cross-document n-gram duplication (the exact-substring-dedup signal
    * at 5-gram granularity): for each doc, the fraction of its DISTINCT
    * 5-grams that also occur in at least one other doc. Two grouped
    * passes, both keyed on the shingle — df is a hash agg on the gram,
    * the per-doc rollup a hash agg on doc_id; no pair join ever forms,
    * so unlike all-pairs overlap this stays linear in corpus size. The
    * permille is integer-derived (no float division). Docs shorter than
    * 5 tokens have no 5-grams and drop out on both engines. */
  def textNgramDup(s: SparkSession, d: String): DataFrame = {
    // Shared-leaf form (round-10 A/B): df = DISTINCT docs per gram and
    // the per-doc rollup = distinct-gram counts, both straight off the
    // positional leaf — no materialized per-doc-distinct intermediate
    // (a pre-`distinct()` variant re-paid its shuffle for each of the
    // two consumers and measured slower than the original at 100×).
    val grams = gramLeaf(s, d, 5)
    val dfs = grams.groupBy(col("g"))
      .agg(countDistinct(col("doc_id")).as("df"))
    grams.join(dfs, "g")
      .groupBy(col("doc_id"))
      .agg(countDistinct(col("g")).as("n_grams"),
        countDistinct(when(col("df") >= 2, col("g"))).as("n_dup"))
      .withColumn("dup_permille",
        expr("n_dup * 1000 div n_grams"))
      .filter(col("n_dup") > 0)
      .orderBy(col("doc_id").asc)
  }

  /** Sparse document similarity via the inverted index: top-20 doc pairs
    * by raw term-frequency dot product over a posting-list self-join —
    * the SPARSE complement to the dense embedding cosine (q_sim_topk).
    * The scale knob is the df cap: hot tokens are dropped BEFORE the
    * self-join, because a posting list of length df contributes df²
    * pair terms — the classic hot-posting skew. The cap is
    * least(N/4, 500): the RELATIVE arm drops corpus-wide stopwords,
    * but relative-only fails on sharded/multi-source corpora where
    * token popularity is per-shard (every shard-hot token slips under
    * a global N/4 as N grows — measured on the 10× replica: Σdf² grew
    * 71,756× and the query took 479× its base time), so the ABSOLUTE
    * arm bounds every posting at 500 and total pair work at |vocab|·L²
    * regardless of corpus shape — with the cap, replica pair work is
    * exactly 10× base. What survives joins on the token (equi key),
    * aggregates per pair, and top-20s through a bounded heap. Integer
    * tf products, so the ranking is hash-exact. */
  def textDocsim(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.spread(Tables.documents(s, d))
    val tf = docs
      .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
      .groupBy(col("doc_id"), col("tok"))
      .agg(count(lit(1)).as("tf"))
    val dfTab = tf.groupBy(col("tok")).agg(count(lit(1)).as("df"))
    val nDocs = docs.agg(count(lit(1)).as("n"))
    val keep = dfTab.crossJoin(broadcast(nDocs))
      .filter(col("df") <= expr("least(n div 4, 500)"))
      .select(col("tok"))
    val v = tf.join(broadcast(keep), "tok")
    val a = v.select(col("tok"), col("doc_id").as("a_id"), col("tf").as("a_tf"))
    val b = v.select(col("tok"), col("doc_id").as("b_id"), col("tf").as("b_tf"))
    a.join(b, Seq("tok"))
      .filter(col("a_id") < col("b_id"))
      .groupBy(col("a_id"), col("b_id"))
      .agg(sum(col("a_tf") * col("b_tf")).as("dot"))
      .orderBy(col("dot").desc, col("a_id").asc, col("b_id").asc)
      .limit(20)
  }

  /** Content-defined chunking (the dedup-stable splitter): a chunk
    * boundary opens where a rolling fingerprint of the last 3 tokens
    * hits `≡ 0 (mod 8)`, so inserting or deleting a token re-chunks only
    * its neighborhood — unlike fixed windows (q_text_chunk) where one
    * edit shifts every downstream chunk and defeats chunk-level dedup.
    * The fingerprint is engine-neutral integer algebra over per-token
    * values (first/last char codes + length — no library hash), the
    * rolling window is a lag pair per exploded token, and everything
    * partitions by doc_id: one narrow window pass per doc, no
    * cross-document anything. Expected chunk length is the modulus (8
    * tokens), the CDC parameter a caller would tune. */
  def textCdc(s: SparkSession, d: String): DataFrame =
    cdcChunks(Tables.spread(Tables.documents(s, d)))

  /** CDC core over any (doc_id, text) frame — split out so the stability
    * property (an edit re-chunks only its 3-token neighborhood) is
    * testable on crafted docs, not just the fixture corpus. */
  def cdcChunks(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byDoc = Window.partitionBy(col("doc_id")).orderBy(col("pos").asc)
    docs
      .select(col("doc_id"), posexplode(toks))
      .select(col("doc_id"), col("pos").cast("long").as("pos"),
        (ascii(col("col")) * 961 +
          ascii(substring(col("col"), -1, 1)) * 31 +
          length(col("col"))).cast("long").as("v"))
      .withColumn("w",
        ((lag(col("v"), 2).over(byDoc) * 31 + lag(col("v"), 1).over(byDoc)) * 31
          + col("v")) % 1048576)
      .withColumn("brk",
        when(col("pos") === 0, 1L)
          .when(col("pos") >= 2 && col("w") % 8 === 0, 1L)
          .otherwise(0L))
      .withColumn("chunk_id",
        sum(col("brk")).over(
          byDoc.rowsBetween(Window.unboundedPreceding, Window.currentRow)) - 1)
      .groupBy(col("doc_id"), col("chunk_id"))
      .agg(count(lit(1)).as("n_toks"), min(col("pos")).as("start_pos"),
        sum(col("v")).as("sum_v"))
      .orderBy(col("doc_id").asc, col("chunk_id").asc)
  }

  /** Quality pruning at an exact per-language quartile — "drop the worst
    * 25% of each language" — with the threshold computed in RATIONAL
    * integer arithmetic: the interpolated p25 over sorted integer scores
    * s_1..s_n sits at rank h = (n−1)/4, i.e. thresh×4 = s_lo·(4−r) +
    * s_{lo+1}·r with lo = (n−1) div 4 + 1, r = (n−1) mod 4 — so the
    * keep/drop comparison (score×4 ≥ thresh×4) is BIGINT on both engines,
    * where a float quantile_cont threshold could flip a boundary doc by
    * one ulp (Spark interpolates (1−g)a+gb, DuckDB a+(b−a)g — not the
    * same rounding). Exact order statistics need a per-language sort; at
    * 100 TB the same pipeline swaps in approx quartiles
    * (q_win_ntile_approx) — exactness here is what licenses the oracle.
    * Score = n_uniq·1000 + n_tokens: lexicographic (vocab richness,
    * length) in one integer. */
  def textQfilter(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byLang = Window.partitionBy(col("lang"))
    val scored = Tables.documents(s, d)
      .withColumn("score",
        size(array_distinct(toks)).cast("long") * 1000 +
          size(toks).cast("long"))
    val ranked = scored
      .withColumn("rn", row_number().over(
        byLang.orderBy(col("score").asc, col("doc_id").asc)))
      .withColumn("n", count(lit(1)).over(byLang))
    val thresh = ranked
      .withColumn("lo", expr("(n - 1) div 4 + 1"))
      .withColumn("r", (col("n") - 1) % 4)
      .filter(col("rn") === col("lo") || col("rn") === col("lo") + 1)
      .groupBy(col("lang"))
      .agg(sum(
        when(col("rn") === col("lo"), col("score") * (lit(4) - col("r")))
          .otherwise(col("score") * col("r"))).as("thresh_x4"))
    scored.join(broadcast(thresh), "lang")
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        max(col("thresh_x4")).as("thresh_x4"),
        sum((col("score") * 4 >= col("thresh_x4")).cast("long")).as("n_kept"),
        min(when(col("score") * 4 >= col("thresh_x4"), col("score")))
          .as("min_kept_score"),
        max(when(col("score") * 4 < col("thresh_x4"), col("score")))
          .as("max_dropped_score"))
      .orderBy(col("lang").asc)
  }

  /** Rare-token density score — the integer analog of perplexity-based
    * quality filtering (CCNet-style): rare tokens carry the information,
    * so each token occurrence scores 1e6 div df(token) and a document's
    * rarity is the exact integer sum. Two grouped passes over the posting
    * shape (explode → df, then occurrence⋈df on the token key — the same
    * join discipline as the inverted index; the df side is
    * vocabulary-sized, so AQE broadcasts it here and shuffles it when a
    * 100 TB vocabulary won't fit), no floats anywhere, so the score — and
    * any threshold cut on it — hash-compares across engines. */
  def textRarity(s: SparkSession, d: String): DataFrame = {
    // Posting-leaf form (round 16): df = posting-row count per token
    // (≡ the old occ.distinct count — the leaf is already distinct on
    // (doc_id, tok)), and the per-doc fold weights each posting by tf —
    // Σ_occurrences (10⁶ div df) ≡ Σ_postings tf·(10⁶ div df), the
    // integer div taken BEFORE the multiply exactly as the occurrence
    // form did. Values unchanged; the corpus-stream pass and the
    // distinct shuffle are gone.
    val tf = postingCounts(s, d)
    val dfs = tf.groupBy(col("tok")).agg(count(lit(1)).as("df"))
    tf.join(dfs, "tok")
      .groupBy(col("doc_id"))
      .agg(sum(col("tf")).as("n_toks"),
        sum(expr("tf * (1000000 div df)")).as("rarity"))
      .withColumn("rarity_per_tok", expr("rarity div n_toks"))
      .orderBy(col("doc_id").asc)
  }

  /** Integer ln lookup (micro-nats), k = 1..128: the constants are
    * computed ONCE here and embedded verbatim in both the Spark plan
    * (broadcast table) and the generated oracle SQL (VALUES list), so the
    * transcendental never runs per-engine — the same shared-constant
    * discipline as the langid trigram profiles. 128 covers any count in
    * a ≤100-token document with headroom. */
  private[operators] val lnMicro: Seq[(Long, Long)] =
    (1 to 128).map(k => (k.toLong, math.round(math.log(k.toDouble) * 1e6)))

  /** Shannon token entropy per doc in EXACT integer micro-nats:
    * n·H = Σ_t c_t·(ln n − ln c_t) over the shared integer ln table —
    * the quality-filtering signal (low entropy = repetitive/degenerate
    * text) made hash-exact where float entropy never is. h_micro is the
    * integer-div per-token entropy. Two hash aggregates plus a broadcast
    * lookup join — no shuffle beyond the (doc, token) count. */
  def textEntropy(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val ln = lnMicro.toDF("k", "lm")
    val counts = Tables.spread(Tables.documents(s, d))
      .select(col("doc_id"), explode(toks).as("tok"))
      .groupBy(col("doc_id"), col("tok"))
      .agg(count(lit(1)).as("c"))
    val totals = counts.groupBy(col("doc_id")).agg(sum(col("c")).as("n"))
    counts
      .join(broadcast(ln.select(col("k").as("c"), col("lm").as("lc"))), "c")
      .join(totals, "doc_id")
      .join(broadcast(ln.select(col("k").as("n"), col("lm").as("ln_n"))), "n")
      .groupBy(col("doc_id"), col("n").as("n_toks"))
      .agg(sum(col("c") * (col("ln_n") - col("lc"))).as("ent_micro"))
      .withColumn("h_micro", expr("ent_micro div n_toks"))
      .select(col("doc_id"), col("n_toks"), col("ent_micro"), col("h_micro"))
      .orderBy(col("doc_id").asc)
  }

  /** Native-Expression twin of [[textEntropy]]: the same exact integer
    * micro-nat entropy, but both logs come from the codegen'd
    * `lg_micro` ([[graft.functions.LgMicro]]) instead of two broadcast
    * joins against the 128-row table — the count and total columns ride
    * the per-(doc, token) ROW STREAM here, which is precisely where a
    * join-per-log hurts at 100 TB and an inline array load doesn't.
    * lg_micro is table-exact on the whole join domain (n ≤ 128), so the
    * twin shares q_text_entropy's oracle verbatim; LgNativeSpec pins
    * bit-parity row-for-row between the two plans. */
  def textEntropyNative(s: SparkSession, d: String): DataFrame = {
    graft.functions.VectorExprs.register(s)
    val counts = postingCounts(s, d)
      .select(col("doc_id"), col("tok"), col("tf").as("c"))
    val totals = counts.groupBy(col("doc_id")).agg(sum(col("c")).as("n"))
    counts.join(totals, "doc_id")
      .withColumn("contrib",
        col("c") * (expr("lg_micro(n)") - expr("lg_micro(c)")))
      .groupBy(col("doc_id"), col("n").as("n_toks"))
      .agg(sum(col("contrib")).as("ent_micro"))
      .withColumn("h_micro", expr("ent_micro div n_toks"))
      .select(col("doc_id"), col("n_toks"), col("ent_micro"), col("h_micro"))
      .orderBy(col("doc_id").asc)
  }

  /** Entropy oracle, shared verbatim by q_text_entropy and its native
    * lg_micro twin (value-identical by the table-exactness argument on
    * [[textEntropyNative]]). */
  private lazy val entropyOracleSql: String = {
    val values = lnMicro.map { case (k, lm) => s"($k, $lm)" }.mkString(", ")
    s"""WITH ln(k, lm) AS (SELECT * FROM (VALUES $values) t(k, lm)),
       |tok AS (
       |  SELECT doc_id, unnest(string_split(text, ' ')) AS tok
       |  FROM documents),
       |c AS (
       |  SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS c
       |  FROM tok GROUP BY doc_id, tok),
       |n AS (
       |  SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_toks
       |  FROM c GROUP BY doc_id)
       |SELECT c.doc_id, n.n_toks,
       |       CAST(sum(c.c * (l2.lm - l1.lm)) AS BIGINT) AS ent_micro,
       |       CAST(sum(c.c * (l2.lm - l1.lm)) // n.n_toks AS BIGINT) AS h_micro
       |FROM c
       |JOIN ln l1 ON c.c = l1.k
       |JOIN n  ON c.doc_id = n.doc_id
       |JOIN ln l2 ON n.n_toks = l2.k
       |GROUP BY c.doc_id, n.n_toks
       |ORDER BY c.doc_id ASC""".stripMargin
  }

  /** Number of hash buckets for [[textDsir]]'s bag-of-hashed-ngrams
    * models (the paper uses 10⁴; 64 keeps the fixture's 31-token
    * vocabulary colliding realistically). Also the add-B smoothing
    * denominator offset. */
  private[operators] val DsirB = 64L

  /** Integer micro-nat ln for UNBOUNDED counts — the extension of
    * [[lnMicro]] past 128 that q_text_surprise's scaladoc said would
    * need an unbounded table: decompose n = m·2^e with e = max(0,
    * bitlen(n) − 7) (bitlen via `bin()` string length — the same
    * bin-length idiom as q_sim_ann's ceil-log2, available identically in
    * both engines), so m lands in [64, 127] (or n itself when n ≤ 127)
    * and ln(n) ≈ lnTable(m) + e·ln2. The truncation error is ≤ ln(65/64)
    * ≈ 1.5 % of a nat, DETERMINISTIC, and computed from shared integer
    * constants — so scores hash-match across engines, which exact float
    * ln never does. Emits `outCol` (micro-nats) via one broadcast join
    * against the 128-row table; `nSql` must be a positive-BIGINT SQL
    * fragment. */
  private[operators] def withLgMicro(df: DataFrame, nSql: String, outCol: String)
      : DataFrame = {
    val s = df.sparkSession
    import s.implicits._
    val ln = lnMicro.toDF("k", "lm")
    val e = s"greatest(0, length(bin($nSql)) - 7)"
    df.withColumn(s"_m_$outCol",
        expr(s"($nSql) div shiftleft(CAST(1 AS BIGINT), CAST($e AS INT))"))
      .withColumn(s"_e_$outCol", expr(s"CAST($e AS BIGINT)"))
      .join(broadcast(ln.select(col("k").as(s"_m_$outCol"),
        col("lm").as(s"_lm_$outCol"))), s"_m_$outCol")
      .withColumn(outCol,
        col(s"_lm_$outCol") + col(s"_e_$outCol") * lit(693147L))
      .drop(s"_m_$outCol", s"_e_$outCol", s"_lm_$outCol")
  }

  /** DuckDB twin of [[withLgMicro]], inlined as a scalar fragment
    * against the `ln(k, lm)` VALUES CTE alias `lnA`. */
  private[operators] def lgMicroSql(nSql: String, lnAlias: String): String = {
    val e = s"greatest(0, length(bin($nSql)) - 7)"
    s"((SELECT lm FROM ln $lnAlias WHERE $lnAlias.k = " +
      s"($nSql) // (CAST(1 AS BIGINT) << ($e))) + ($e) * 693147)"
  }

  /** DSIR — Data Selection via Importance Resampling (Xie et al. 2023,
    * "Data Selection for Language Models via Importance Resampling",
    * arXiv:2302.03169 — public method, re-expressed Spark-first):
    * score every candidate document by its log importance weight
    * ln(p_target(x)/p_raw(x)) under bag-of-hashed-ngrams unigram
    * models, then keep the per-language top quarter. Here target =
    * the 'en' stratum (the quality-proxy corpus), candidate pool =
    * everything else.
    *
    * Features are unigrams + adjacent bigrams md5-hashed into
    * [[DsirB]] buckets (DetHash fold — cross-engine exact). With
    * add-one smoothing the weight factorizes to
    *   Σ_f c_f·(lg(ct_f+1) − lg(cr_f+1)) − n_feats·(lg(Nt+B) − lg(Nr+B))
    * — two corpus-wide B-row histograms (map-side-combined hash aggs,
    * broadcast back), one 1-row totals fold, and per-doc grouped sums.
    * All logs are [[withLgMicro]] integer micro-nats, so the score and
    * every cut on it hash-compare across engines. Selection is the
    * deterministic analog of the paper's Gumbel-top-k: rank by (score
    * desc, doc_id asc) INSIDE each language stratum (bounded window
    * width — the repo's quartile discipline; an unstratified global
    * top-k would be a driver TakeOrdered instead) and keep
    * rn ≤ ceil(n/4). Output: (doc_id, lang, n_feats, score_micro, sel). */
  def textDsir(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.spread(Tables.documents(s, d))
      .select(col("doc_id"), col("lang"), toks.as("tk"))
    val feats = docs
      .withColumn("f", explode(concat(col("tk"), expr(
        """zip_with(slice(tk, 1, greatest(0, size(tk) - 1)),
          |         slice(tk, 2, greatest(0, size(tk) - 1)),
          |         (a, b) -> concat(a, ' ', b))""".stripMargin))))
      .withColumn("hx", md5(col("f")))
      .select(col("doc_id"), col("lang"),
        expr(s"${DetHash.sparkHexInt("hx", 4)} % $DsirB").as("b"))
    // Round 16, measured and KEPT AS-IS: routing the two corpus
    // histograms through the per-doc (doc_id, lang, b) aggregate — so
    // the md5 feature map runs once and AQE stage reuse shares its
    // exchange — LOSES at the 100× replica (BASELINE.md round 16
    // "posting/feature/signature leaf candidates", 5-rep interleaved:
    // 18.78 s this shape vs 19.28 s restructured at min, medians 21.3 vs
    // 24.7): the shared aggregate's ~(docs×buckets)-group reduce side
    // re-runs per consumer, which costs more than
    // re-evaluating the md5 map under the histograms' map-side partial
    // aggregation (64-bucket partials — near-free shuffles).
    val tgt = feats.filter(col("lang") === "en")
      .groupBy(col("b")).agg(count(lit(1)).as("ct"))
    val raw = feats.filter(col("lang") =!= "en")
      .groupBy(col("b")).agg(count(lit(1)).as("cr"))
    // left join: pool docs only ever probe buckets cnt_r itself saw
    val stats0 = raw.join(tgt, Seq("b"), "left")
      .select(col("b"), col("cr"), coalesce(col("ct"), lit(0L)).as("ct"))
    val stats = withLgMicro(withLgMicro(stats0, "ct + 1", "lgt"),
        "cr + 1", "lgr")
      .select(col("b"), (col("lgt") - col("lgr")).as("wgt"))
    val totals0 = stats0.agg(
      (sum(col("ct")) + DsirB).as("nt"), (sum(col("cr")) + DsirB).as("nr"))
    val totals = withLgMicro(withLgMicro(totals0, "nt", "lgnt"),
        "nr", "lgnr")
      .select((col("lgnt") - col("lgnr")).as("base"))
    val byLang = Window.partitionBy(col("lang"))
    feats.filter(col("lang") =!= "en")
      .groupBy(col("doc_id"), col("lang"), col("b"))
      .agg(count(lit(1)).as("c"))
      .join(broadcast(stats), "b")
      .groupBy(col("doc_id"), col("lang"))
      .agg(sum(col("c")).as("n_feats"), sum(col("c") * col("wgt")).as("s1"))
      .crossJoin(broadcast(totals))
      .withColumn("score_micro", col("s1") - col("n_feats") * col("base"))
      .withColumn("rn", row_number().over(
        byLang.orderBy(col("score_micro").desc, col("doc_id").asc)))
      .withColumn("n", count(lit(1)).over(byLang))
      .select(col("doc_id"), col("lang"), col("n_feats"), col("score_micro"),
        when(col("rn") <= expr("(n + 3) div 4"), 1L).otherwise(0L).as("sel"))
      .orderBy(col("doc_id").asc)
  }

  /** Bigram LM perplexity scoring with stupid backoff (Brants et al.
    * 2007, "Large Language Models in Machine Translation" — the
    * web-scale backoff that needs no discounting pass; the quality
    * signal CCNet computes with a trained LM). q_text_surprise's octave
    * bands were the coarse stand-in; [[withLgMicro]]'s unbounded integer
    * lg makes real log-probabilities tractable now. Train/score split on
    * doc_id parity (a same-corpus LM would make the backoff path dead
    * code — an unseen bigram could never occur): even docs train the
    * counts, odd docs get scored.
    *
    * Per scored bigram: ln p(w2|w1) = lg(c12) − lg(c1) when the bigram
    * was seen in training; else the backoff ln 0.4 + ln p_add1(w2) =
    * lg(c2+1) − lg(N+V) − 916291 (OOV w2 hits the +1 floor via the left
    * join's coalesce-to-0). Log arithmetic lives in the VOCAB-sized
    * count tables (lg joins against 128 rows there, not on the token
    * stream); the stream then takes two vocab-keyed left joins + a 1-row
    * scalar fold and one grouped sum. Round 15 measured the old "AQE
    * broadcasts the vocab side at fixture scale" claim FALSE for 2 of 6
    * vocab joins (plans/r15/q_text_lm_ppl_final_before.txt: the scored
    * corpus-scale stream kept an SMJ Exchange+Sort), so the count
    * tables are now memoized checkpointed leaves ([[lmVocabLeaves]])
    * whose materializing count() gates an explicit broadcast, degrading
    * to SHUFFLE_HASH when a 100 TB vocabulary exceeds the row bound
    * (the q_ml_naivebayes pattern). All values are
    * negated into positive nll before the integer div, so Spark `div`
    * (truncate) and DuckDB `//` (floor) agree. Output: (doc_id, n_bi,
    * nll_micro, nll_per_bi) for the scored half. */

  /** Exact row counts of the LM vocab leaves, keyed like the leaves.
    * Tiny scalars only (never DataFrames), populated inside the same
    * leaf build that checkpoints the leaf, so a leaf hit always finds
    * its count. Entries orphaned by evictAllMemos are harmless: the key
    * embeds the fixture fingerprint, so a rebuilt leaf of the same key
    * has the same count by construction. */
  private val lmLeafRows =
    new java.util.concurrent.ConcurrentHashMap[Hints.LeafKey, Long]()

  /** The two vocabulary-sized LM count tables as lazily-checkpointed
    * shared leaves plus their exact row counts: [[textLmPpl]] and
    * [[textPplBucket]] (which re-invokes it) share ONE build of both
    * instead of each construction re-checkpointing them and leaking the
    * superseded blocks for the session lifetime. Round-15 measured the old
    * "AQE broadcasts the vocab side at fixture scale" claim FALSE for 2
    * of 6 vocab joins (plans/r15/q_text_lm_ppl_final_before.txt: the
    * scored corpus-scale bigram stream paid an Exchange + double Sort
    * for a SortMergeJoin against the 128-row unigram table, and the
    * bigram⋈unigram build joined as SMJ too); the counts gate an
    * explicit broadcast that degrades to SHUFFLE_HASH when a 100 TB
    * vocabulary exceeds the row bound (the q_ml_naivebayes pattern —
    * build = vocab side, stream sort-free, never a bare SMJ re-sort).
    * Round-16 (ADVICE r15): checkpoints are eager = false so the ONE
    * bound count materializes each leaf (no separate checkpoint job),
    * and both leaves ride the fingerprint-keyed registry. The counts are
    * construction-time actions by design — q_text_lm_ppl /
    * q_text_ppl_bucket are exempted and budget-pinned in
    * PlanQualitySpec, the naivebayes treatment. */
  private def lmVocabLeaves(
      s: SparkSession, d: String): (DataFrame, Long, DataFrame, Long) = {
    val uniKey = Hints.leafKey(s, d, "lm-uni", "documents")
    val biKey = Hints.leafKey(s, d, "lm-bi", "documents")
    val uni = Hints.leaf(uniKey) {
      val dk = Tables.spread(Tables.documents(s, d)).withColumn("tk", toks)
      val utrain = dk.filter(col("doc_id") % 2 === 0)
        .select(col("doc_id"), explode(col("tk")).as("w"))
        .groupBy(col("w")).agg(count(lit(1)).as("c1"))
      val df = Hints.checkpoint(
        withLgMicro(withLgMicro(utrain, "c1", "lgc1"), "c1 + 1", "lgc1p"),
        eager = false)
      lmLeafRows.put(uniKey, df.count())
      df
    }
    val nVocab = lmLeafRows.get(uniKey)
    val bi = Hints.leaf(biKey) {
      val dk = Tables.spread(Tables.documents(s, d)).withColumn("tk", toks)
      val btrain = dk.filter(size(col("tk")) >= 2 && col("doc_id") % 2 === 0)
        .select(explode(expr(
          """zip_with(slice(tk, 1, size(tk) - 1), slice(tk, 2, size(tk) - 1),
            |         (a, b) -> named_struct('w1', a, 'w2', b))""".stripMargin))
          .as("bg"))
        .select(col("bg.w1").as("w1"), col("bg.w2").as("w2"))
        .groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c12"))
      val df = Hints.checkpoint(
        withLgMicro(btrain, "c12", "lg12")
          .join(Hints.bcOrHash(uni.select(col("w").as("w1"), col("lgc1")),
            nVocab, Hints.MaxBroadcastRows), "w1")
          .select(col("w1"), col("w2"),
            (col("lg12") - col("lgc1")).as("sc_bi")),
        eager = false)
      lmLeafRows.put(biKey, df.count())
      df
    }
    (uni, nVocab, bi, lmLeafRows.get(biKey))
  }

  def textLmPpl(s: SparkSession, d: String): DataFrame = {
    val dk = Tables.spread(Tables.documents(s, d)).withColumn("tk", toks)
    val occ = dk.filter(size(col("tk")) >= 2)
      .select(col("doc_id"), explode(expr(
        """zip_with(slice(tk, 1, size(tk) - 1), slice(tk, 2, size(tk) - 1),
          |         (a, b) -> named_struct('w1', a, 'w2', b))""".stripMargin))
        .as("bg"))
      .select(col("doc_id"), col("bg.w1").as("w1"), col("bg.w2").as("w2"))
    val (uniLg, nVocab, biSc, nBi) = lmVocabLeaves(s, d)
    val totals = withLgMicro(
        uniLg.agg(sum(col("c1")).as("nn"), count(lit(1)).as("vv")),
        "nn + vv", "lgnv")
      .select((col("lgnv") + 916291L).as("base"))
    occ.filter(col("doc_id") % 2 === 1)
      .join(Hints.bcOrHash(biSc, nBi, Hints.MaxBroadcastRows),
        Seq("w1", "w2"), "left")
      .join(Hints.bcOrHash(uniLg.select(col("w").as("w2"), col("lgc1p")),
        nVocab, Hints.MaxBroadcastRows), Seq("w2"), "left")
      .crossJoin(broadcast(totals))
      .withColumn("sc", coalesce(col("sc_bi"),
        coalesce(col("lgc1p"), lit(0L)) - col("base")))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bi"), (-sum(col("sc"))).as("nll_micro"))
      .withColumn("nll_per_bi", expr("nll_micro div n_bi"))
      .orderBy(col("doc_id").asc)
  }

  /** CCNet-style perplexity bucketing (Wenzek et al. 2020, CCNet —
    * public method): split the LM-scored half of the corpus into
    * head/middle/tail TERCILES per language by bigram NLL (lower =
    * closer to the reference model = "head"), reporting per bucket the
    * doc count, token mass, and NLL range — the standard
    * quality-stratification step before mixing pretraining data.
    * Deterministic: rank by (nll_per_bi asc, doc_id asc) inside each
    * language stratum (bounded window width — the DSIR quartile
    * discipline), bucket = (3·(rn−1)) div n, all positive integer
    * division so both engines agree. Reuses [[textLmPpl]]'s scores as a
    * subplan; the composed plan shares the memoized [[lmVocabLeaves]]
    * (one build per session/fixture), so only the corpus-scale scoring
    * stream is recomputed here. */
  def textPplBucket(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val sc = textLmPpl(s, d).select(col("doc_id"), col("nll_per_bi"))
    val docs = Tables.documents(s, d)
      .select(col("doc_id"), col("lang"),
        size(split(col("text"), " ")).cast("long").as("toks"))
    val w = Window.partitionBy(col("lang"))
      .orderBy(col("nll_per_bi").asc, col("doc_id").asc)
    val wn = Window.partitionBy(col("lang"))
    sc.join(docs, "doc_id")
      .withColumn("rn", row_number().over(w))
      .withColumn("n", count(lit(1)).over(wn))
      .withColumn("bucket", expr(
        "CASE (3 * (rn - 1)) div n WHEN 0 THEN 'head' WHEN 1 THEN 'middle' ELSE 'tail' END"))
      .groupBy(col("lang"), col("bucket"))
      .agg(count(lit(1)).as("n_docs"), sum(col("toks")).as("n_toks"),
        min(col("nll_per_bi")).as("nll_lo"), max(col("nll_per_bi")).as("nll_hi"))
      .orderBy(col("lang").asc, col("bucket").asc)
  }

  /** BM25 ranked retrieval (Robertson & Walker 1994, Okapi BM25 — the
    * lexical-retrieval baseline every RAG/decontamination pipeline
    * keeps next to its ANN index), integer-exact: for the 10 rarest
    * index terms (df asc, tok asc — a deterministic stand-in for a user
    * query set), the top-5 documents by
    * idf·(k1+1)·tf / (tf + k1·(1−b+b·dl/avgdl)), k1 = 6/5, b = 3/4.
    * Robertson idf = ln((N−df+½)/(df+½)) becomes lg(2N−2df+1) −
    * lg(2df+1) in micro-nats; the length normalization becomes
    * nlen_ppm = dl·10¹² div avgdl_micro (deterministic ppm quantization,
    * mirrored in the oracle), and the whole score multiplies out to
    *   idf_micro·44·10⁶·tf div (20·10⁶·tf + 6·10⁶ + 18·nlen_ppm)
    * — BIGINT-safe to ~10¹⁰ docs (beyond that, the same expression in
    * DECIMAL(38,0)). Shape: postings tf agg + per-doc dl agg + 1-row
    * corpus fold + a 10-row broadcast of the query terms with their lg
    * idf — the scored stream is postings ⋈ broadcast(queries), then one
    * per-term top-5 window. */
  def textBm25(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // Round 16, measured and KEPT AS-IS (VERDICT r15 item 6 A/B'd at the
    // 100× replica, BASELINE.md round 16 "posting/feature/signature leaf
    // candidates"): deriving dl/df from the posting
    // aggregate — one corpus shuffle instead of three — LOSES at 100×
    // (7.66 s r15 shape vs 9.54 s derived, 5-rep interleaved mins;
    // medians 8.3 vs 10.2): AQE stage reuse shares only the tf
    // exchange's MAP side, the ~(docs×vocab)-group reduce re-runs per
    // reference, and that giant hash aggregate ×3 costs more than three
    // cheap passes over the cached token stream (dl and dfs partial-agg
    // down to doc-/vocab-sized partials map-side). The persisted-leaf
    // variant lost too (10.5 s — the cache write has no second consumer
    // under the bench/sweep's solo accounting).
    val occ = tokenLeaf(s, d).select(col("doc_id"), col("tok"))
    val tf = occ.groupBy(col("doc_id"), col("tok"))
      .agg(count(lit(1)).as("tf"))
    val dl = occ.groupBy(col("doc_id")).agg(count(lit(1)).as("dl"))
    val tot = dl.agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("ndl"))
      .withColumn("avgdl_micro", expr("ndl * 1000000 div n_docs"))
    val dfs = occ.select(col("doc_id"), col("tok")).distinct()
      .groupBy(col("tok")).agg(count(lit(1)).as("df"))
    val qry = withLgMicro(withLgMicro(
        dfs.orderBy(col("df").asc, col("tok").asc).limit(10)
          .crossJoin(broadcast(tot.select(col("n_docs")))),
        "2 * n_docs - 2 * df + 1", "lgn"), "2 * df + 1", "lgd")
      .select(col("tok"), col("df"), (col("lgn") - col("lgd")).as("idf_micro"))
    tf.join(dl, "doc_id")
      .crossJoin(broadcast(tot.select(col("avgdl_micro"))))
      .withColumn("nlen_ppm", expr("dl * 1000000000000 div avgdl_micro"))
      .join(broadcast(qry), "tok")
      .withColumn("score_micro", expr(
        "idf_micro * 44000000 * tf div (20000000 * tf + 6000000 + 18 * nlen_ppm)"))
      .withColumn("rn", row_number().over(Window.partitionBy(col("tok"))
        .orderBy(col("score_micro").desc, col("doc_id").asc)).cast("long"))
      .filter(col("rn") <= 5)
      .select(col("tok"), col("doc_id"), col("tf"), col("score_micro"),
        col("rn"))
      .orderBy(col("tok").asc, col("rn").asc)
  }

  /** Collocation extraction: top-20 adjacent-bigram collocations by
    * LIFT = P(ab) / (P(a)·P(b)), the PMI ranking made hash-exact by
    * integer scaling — lift_ppm = (n_ab · N_uni² · 10⁶) div (n_a · n_b ·
    * N_bi) compares the exact rational (PMI is monotone in it, so the
    * ranking is the PMI ranking without a single transcendental).
    * Support floor n_ab ≥ 5 keeps one-off pairs from dominating, the
    * standard collocation guard. Two hash aggregates (unigram + bigram
    * counts) and two broadcast lookups against the unigram table — the
    * 31-token vocabulary is dimension-sized by construction, and at
    * corpus scale a unigram count table is always small relative to the
    * corpus. */
  def textColloc(s: SparkSession, d: String): DataFrame = {
    // Measured and REVERTED from the shared-leaf rewire (round-10 A/B):
    // colloc needs only COUNTS, and the original one-scan in-row
    // generation with map-side partial aggregation beats streaming two
    // materialized leaves through the cache — 5.75 s vs 11.96 s at 100×
    // (same session, warm leaves). The leaf pays off when consumers
    // re-reference the gram STREAM (novelty, dupspans); a pure count
    // rollup is cheaper straight off the scan.
    val tk = Tables.spread(Tables.documents(s, d)).withColumn("toks", toks)
    val uni = tk.select(explode(col("toks")).as("t"))
      .groupBy(col("t")).agg(count(lit(1)).as("n"))
    val biAll = tk.filter(size(col("toks")) >= 2)
      .select(explode(expr(
        "transform(sequence(1, size(toks) - 1), " +
          "i -> struct(element_at(toks, i) AS a, element_at(toks, i + 1) AS b))"))
        .as("p"))
      .groupBy(col("p.a").as("a"), col("p.b").as("b"))
      .agg(count(lit(1)).as("n_ab"))
    // The two totals are plain token/window counts — one narrow scan-agg
    // job folded in as a 1-row broadcast (crossJoin), never a driver-side
    // .first(): query construction stays lazy (no Spark job until the
    // caller acts — PlanQualitySpec asserts this), and at cluster scale
    // the totals travel with the plan instead of a collect barrier.
    val totals = tk.agg(
      sum(size(col("toks")).cast("long")).as("nu"),
      sum(expr("CASE WHEN size(toks) >= 2 THEN size(toks) - 1 ELSE 0 END")
        .cast("long")).as("nb"))
    val bi = biAll.filter(col("n_ab") >= 5)
    // Staged integer divisions, not one big rational: n_ab·N²·10⁶ would
    // overflow BIGINT at corpus scale; each stage stays ≤ N² because
    // n_ab ≤ min(n_a, n_b). The floor rounding is shared verbatim with
    // the oracle, so the ranking is still hash-exact.
    bi.join(broadcast(uni.select(col("t").as("a"), col("n").as("n_a"))), "a")
      .join(broadcast(uni.select(col("t").as("b"), col("n").as("n_b"))), "b")
      .crossJoin(broadcast(totals))
      .withColumn("lift_ppm", expr(
        "((((n_ab * nu) div n_a) * nu) div n_b) * 1000000 div nb"))
      .select(col("a"), col("b"), col("n_ab"), col("n_a"), col("n_b"),
        col("lift_ppm"))
      .orderBy(col("lift_ppm").desc, col("a").asc, col("b").asc)
      .limit(20)
  }

  /** Character 4-gram frequency profile through the CUSTOM GENERATOR
    * surface ([[graft.functions.CharNgrams]] — the UDTF tier): grams
    * stream row-by-row out of each document with no per-row gram-array
    * materialization, then a plain two-level count/top-20. The langid
    * trigram machinery is the consumer shape; this is the profile-builder
    * shape that would TRAIN those profiles at corpus scale. */
  def textChargrams(s: SparkSession, d: String): DataFrame = {
    graft.functions.VectorExprs.register(s)
    Tables.spread(Tables.documents(s, d))
      .select(expr("char_ngrams(text, 4)").as("gram"))
      .groupBy(col("gram"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("gram").asc)
      .limit(20)
  }

  /** Winnowing fingerprint selection (the MOSS scheme): hash every char
    * 5-gram, slide a window of 4 consecutive hashes, keep each window's
    * minimum — guaranteeing any sufficiently long match between two
    * documents shares a fingerprint, at ~2/(w+1) selection density. The
    * paper's rightmost-min tie rule is encoded ARITHMETICALLY: the
    * comparison key is hash·1024 + (1023 − pos), so the plain integer
    * min picks the smallest hash and, on ties, the rightmost position —
    * no struct comparators, the whole selection is three nested
    * higher-order transforms shared verbatim with the oracle. Per-doc
    * audit row: windows, distinct fingerprints, density permille. */
  def textWinnow(s: SparkSession, d: String): DataFrame =
    Tables.spread(Tables.documents(s, d))
      .filter(length(col("text")) >= 8)
      .withColumn("keys", expr(
        "transform(sequence(1, length(text) - 4), i -> " +
          "aggregate(transform(sequence(0, 4), " +
          "k -> CAST(ascii(substr(text, i + k, 1)) AS BIGINT)), " +
          "CAST(7 AS BIGINT), (a, c) -> (a * 131 + c) % 2147483647) " +
          "* 1024 + (1023 - i))"))
      .withColumn("fps", expr(
        "array_distinct(transform(sequence(1, size(keys) - 3), " +
          "i -> array_min(slice(keys, i, 4))))"))
      .select(col("doc_id"),
        expr("CAST(size(keys) - 3 AS BIGINT)").as("n_windows"),
        expr("CAST(size(fps) AS BIGINT)").as("n_fps"),
        expr("CAST(size(fps) * 1000 div (size(keys) - 3) AS BIGINT)")
          .as("density_pm"))
      .orderBy(col("doc_id").asc)

  /** Span-level duplicated-text coverage — the positional audit behind
    * exact-substring dedup (dedup the repeated SPANS, not whole docs):
    * for each doc, the fraction of token positions covered by some
    * 5-gram that also occurs in another document. textNgramDup counts
    * duplicated grams; this measures how much of the document they BLANKET
    * once their [p, p+4] intervals are unioned — the quantity a span-cut
    * pass would actually remove. Interval union without an island
    * subquery: each dup position contributes min(5, next_p − p) tokens
    * (5 for the last), a single lead() over the per-doc dup positions.
    * Scale shape: two shuffles on the gram key (df + join-back), then a
    * per-doc window over dup positions only — never a pair join, linear
    * in corpus size like the dedup path it audits. */
  def textDupspans(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("doc_id")).orderBy(col("p").asc)
    dupGramPositions(s, d)
      .withColumn("cov",
        least(coalesce(lead(col("p"), 1).over(w) - col("p"), lit(5L)), lit(5L)))
      .groupBy(col("doc_id"), col("n_toks"))
      .agg(count(lit(1)).as("n_dup_grams"), sum(col("cov")).as("covered"))
      .withColumn("cover_pm", expr("covered * 1000 div n_toks"))
      .select(col("doc_id"), col("n_toks"), col("n_dup_grams"),
        col("covered"), col("cover_pm"))
      .orderBy(col("doc_id").asc)
  }

  /** Shared by the dup-span audit and the span-cut apply: (doc_id,
    * n_toks, p) for every 5-gram position whose gram occurs in ≥2
    * DISTINCT docs — a phrase repeated only within one doc is repetition
    * (q_text_repetition's signal), not cross-document duplication. */
  private def dupGramPositions(s: SparkSession, d: String): DataFrame = {
    // The positional 5-gram stream IS the shared leaf's shape — both
    // audit (dupspans) and apply (spancut) now pay the gram derivation
    // once per session instead of once per consumer per reference.
    val grams = gramLeaf(s, d, 5)
    val dfs = grams.groupBy(col("g"))
      .agg(countDistinct(col("doc_id")).as("n_docs_g"))
      .filter(col("n_docs_g") >= 2)
    grams.join(dfs, "g")
      .select(col("doc_id"), col("n_toks"), col("p"))
  }

  /** The exact-substring-dedup APPLY step — q_text_dupspans measures the
    * duplicated-span blanket, this CUTS it: every token position covered
    * by a cross-doc duplicated 5-gram is removed, the survivors
    * re-assemble in order, and each doc reports kept/removed counts plus
    * the md5 of its cleaned text (so the rewrite itself is oracled, not
    * just the arithmetic). Docs whose every token is covered emit the
    * empty string. Shape: the dup-position core, one bounded explode
    * (≤5 rows per dup gram) into a distinct covered-position set, an
    * anti-join against the posexploded tokens, and a per-doc ordered
    * re-aggregation — all keyed shuffles, never a pair join. */
  def textSpancut(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.spread(Tables.documents(s, d))
      .withColumn("toks", toks)
      .filter(size(col("toks")) >= 5)
      .select(col("doc_id"), size(col("toks")).cast("long").as("n_toks"),
        col("toks"))
    val toksPos = docs
      .select(col("doc_id"), col("n_toks"), posexplode(col("toks")))
      .select(col("doc_id"), col("n_toks"), (col("pos") + 1).as("tp"),
        col("col").as("tok"))
    val covered = dupGramPositions(s, d)
      .select(col("doc_id"), explode(expr("sequence(p, p + 4)")).as("tp"))
      .distinct()
    val keptAgg = toksPos.join(covered, Seq("doc_id", "tp"), "left_anti")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_kept"),
        concat_ws(" ", expr(
          "transform(array_sort(collect_list(struct(tp, tok))), x -> x.tok)"))
          .as("cleaned"))
    docs.select(col("doc_id"), col("n_toks"))
      .join(keptAgg, Seq("doc_id"), "left")
      .withColumn("n_kept", coalesce(col("n_kept"), lit(0L)))
      .withColumn("n_removed", col("n_toks") - col("n_kept"))
      .withColumn("cleaned_md5", md5(coalesce(col("cleaned"), lit(""))))
      .select(col("doc_id"), col("n_toks"), col("n_kept"), col("n_removed"),
        col("cleaned_md5"))
      .orderBy(col("doc_id").asc)
  }

  /** Per-source type-token ratio — the lexical-diversity screen (a
    * boilerplate-heavy source shows low TTR; a natural one, high): total
    * token occurrences vs distinct types per source, ratio in integer
    * permille. One explode feeding two aggregates on the (source, token)
    * key — count-distinct's expand handles the type count, no set is
    * ever collected. */
  def textTtr(s: SparkSession, d: String): DataFrame =
    tokenLeaf(s, d)
      .select(col("source"), col("tok"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_tokens"),
        countDistinct(col("tok")).as("n_types"))
      .withColumn("ttr_pm", expr("n_types * 1000 div n_tokens"))
      .orderBy(col("source").asc)

  /** Distribution drift per source — total-variation distance between
    * each source's token distribution and the corpus's, in EXACT integer
    * ppm: TV = ½·Σ_t |c_st/n_s − C_t/N| = Σ_t |c_st·N − C_t·n_s| ·10⁶
    * div (2·n_s·N). TV is chosen over KL precisely because it is a sum
    * of integer absolute differences over one common denominator — KL's
    * logarithms would need an unbounded ln table (cf. q_text_entropy's
    * bounded one). Absent tokens contribute |0 − C_t·n_s| via the
    * vocab×source grid left join; the grid is vocabulary-sized, the
    * corpus-sized work is one (source, token) count. The monitoring
    * metric behind "did source X drift from the mixture this week". */
  def textSrcdrift(s: SparkSession, d: String): DataFrame = {
    val tokCounts = Tables.spread(Tables.documents(s, d))
      .select(col("source"), explode(toks).as("tok"))
      .groupBy(col("source"), col("tok"))
      .agg(count(lit(1)).as("c"))
    val srcTotals = tokCounts.groupBy(col("source")).agg(sum(col("c")).as("n_s"))
    val corpus = tokCounts.groupBy(col("tok")).agg(sum(col("c")).as("c_t"))
    val total = corpus.agg(sum(col("c_t")).as("n_total"))
    srcTotals.crossJoin(broadcast(corpus))
      .join(tokCounts, Seq("source", "tok"), "left")
      .withColumn("c", coalesce(col("c"), lit(0L)))
      .crossJoin(broadcast(total))
      .groupBy(col("source"), col("n_s"), col("n_total"))
      .agg(sum(abs(col("c") * col("n_total") - col("c_t") * col("n_s")))
        .as("numer"))
      .withColumn("tv_ppm",
        expr("numer * 1000000 div (2 * n_s * n_total)"))
      .select(col("source"), col("n_s"), col("numer"), col("tv_ppm"))
      .orderBy(col("source").asc)
  }

  /** Windowed co-occurrence counts (±2 token skip-gram pairs) — the
    * word2vec/GloVe preprocessing staple, distinct from q_text_colloc's
    * adjacent-bigram lift. Pairs generate PER ROW from the token array
    * (zip toks with its k-shifted self for k = 1, 2) — a narrow
    * generator, never a position self-join; pair order is canonicalized
    * (lexicographic) so (a,b) and (b,a) pool, top-20 by (count desc,
    * pair asc). Linear in corpus token count like every gram pass. */
  def textCooc(s: SparkSession, d: String): DataFrame =
    Tables.spread(Tables.documents(s, d))
      .withColumn("toks", toks)
      .select(explode(expr(
        """flatten(transform(array(1, 2), k ->
          |  CASE WHEN size(toks) > k THEN
          |    transform(sequence(1, size(toks) - k), i ->
          |      IF(toks[i - 1] < toks[i + k - 1],
          |         struct(toks[i - 1] AS w1, toks[i + k - 1] AS w2),
          |         struct(toks[i + k - 1] AS w1, toks[i - 1] AS w2)))
          |  ELSE array() END))""".stripMargin)).as("p"))
      .select(col("p.w1"), col("p.w2"))
      .groupBy(col("w1"), col("w2"))
      .agg(count(lit(1)).as("n_cooc"))
      .orderBy(col("n_cooc").desc, col("w1").asc, col("w2").asc)
      .limit(20)

  /** Vocabulary pruning by document frequency — the index/embedding
    * vocab prep: drop hapax tokens (df = 1, noise) and stop-like tokens
    * (df > half the corpus), keep the informative middle band. Reports
    * the per-band vocab sizes and token-occurrence mass so the cut is
    * auditable; corpus doc count rides a 1-row broadcast. One (token,
    * doc) distinct aggregate feeds everything — posting-list-sized,
    * like q_text_invindex. */
  def textVocabPrune(s: SparkSession, d: String): DataFrame = {
    // Posting-leaf form (round 16): df = posting rows per token (the
    // leaf is distinct on (doc_id, tok) — replaces the countDistinct
    // expand), cf = Σ tf. Values unchanged.
    val stats = postingCounts(s, d).groupBy(col("tok"))
      .agg(count(lit(1)).as("df"),
        sum(col("tf")).as("cf"))
    val nDocs = Tables.documents(s, d).agg(count(lit(1)).as("n_docs"))
    stats.crossJoin(broadcast(nDocs))
      .withColumn("band",
        when(col("df") === 1, "hapax")
          .when(col("df") * 2 > col("n_docs"), "stoplike")
          .otherwise("kept"))
      .groupBy(col("band"))
      .agg(count(lit(1)).as("n_types"),
        sum(col("cf")).as("occurrences"),
        min(col("df")).as("min_df"),
        max(col("df")).as("max_df"))
      .orderBy(col("band").asc)
  }

  /** Feature hashing (the hashing trick) — the fixed-width vectorizer
    * prep for linear/embedding models: every token occurrence maps to
    * bucket = md5-derived uniform mod 64, no vocabulary state, any
    * engine reproduces the assignment bit-identically (rehash-free
    * scale-out — the reason the trick exists). Per-bucket occurrence
    * mass and distinct-token fan-in audit the collision profile. One
    * explode + one hash agg; the md5 stays a narrow codegen'd map. */
  def textHashtrick(s: SparkSession, d: String): DataFrame =
    tokenLeaf(s, d)
      .select(col("tok"))
      .withColumn("bucket",
        ((expr("instr('0123456789abcdef', substring(md5(tok), 31, 1))") - 1).cast("long") * 16L +
         (expr("instr('0123456789abcdef', substring(md5(tok), 32, 1))") - 1).cast("long")) % 64L)
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_occ"), countDistinct(col("tok")).as("n_toks"))
      .orderBy(col("bucket").asc)

  /** Octave band CASE for Zipf ranks — band k covers rank ∈ [2^k, 2^(k+1)).
    * One generated string, valid verbatim in BOTH Spark SQL and DuckDB, so
    * the band boundaries cannot drift between engine and oracle (and no
    * float log2 whose rounding at exact powers of two is libm-dependent). */
  private def zipfBandCase: String =
    (0 until 21).map(k => s"WHEN rank < ${1L << (k + 1)} THEN $k")
      .mkString("CASE ", " ", " ELSE 21 END")

  /** Zipf rank-frequency profile — the corpus-health fingerprint: token
    * frequencies ranked (freq desc, token asc — unique total order), then
    * rolled into octave rank bands. A natural corpus shows total_occ
    * decaying roughly geometrically across bands; boilerplate floods or
    * template spam bend the curve, which makes this the one-glance screen
    * before vocabulary/BPE work. Integer-only (counts, ranks, CASE bands).
    *
    * Scale note: the rank is a window over the VOCABULARY (types, not
    * occurrences) — orders of magnitude smaller than the corpus, but still
    * a global sort; at 100 TB prune freq=1 hapax tokens first (they are
    * band-filler only) or rank within frequency ceilings, the same
    * two-pass trick as q_win_ntile_approx. */
  def textZipf(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    tokenLeaf(s, d)
      .select(col("tok"))
      .groupBy(col("tok")).agg(count(lit(1)).as("freq"))
      .withColumn("rank", row_number().over(
        Window.orderBy(col("freq").desc, col("tok").asc)).cast("long"))
      .withColumn("band", expr(zipfBandCase).cast("long"))
      .groupBy(col("band"))
      .agg(count(lit(1)).as("n_toks"), sum(col("freq")).as("total_occ"),
        min(col("rank")).as("min_rank"), max(col("freq")).as("max_freq"))
      .orderBy(col("band").asc)
  }

  /** Prefix-key dedup blocking — the cheap candidate blocking used on
    * boilerplate-heavy corpora (templated pages share their opening):
    * group docs by their first-6-token prefix, report blocks with ≥2
    * members (candidate sets a verifier would refine) plus the
    * deterministic survivor (min doc id). One narrow map to the prefix
    * key, one hash agg — the cheapest of the blocking family
    * (cf. MinHash/SimHash for content-wide similarity). */
  def textPrefixBlock(s: SparkSession, d: String): DataFrame =
    Tables.spread(Tables.documents(s, d))
      .withColumn("toks", toks)
      .filter(size(col("toks")) >= 6)
      .withColumn("prefix", expr("concat_ws(' ', slice(toks, 1, 6))"))
      .groupBy(col("prefix"))
      .agg(count(lit(1)).as("n_docs"),
        min(col("doc_id")).as("survivor_id"))
      .filter(col("n_docs") >= 2)
      .orderBy(col("prefix").asc)

  /** Corpus novelty-decay curve — the dataset-growth question: how much
    * NEW content does each successive slice of the corpus contribute?
    * A bigram is novel in the doc where it first appears (min doc_id);
    * per doc-id decile we report docs, shingle mass, novel mass, and
    * novelty permille. A flattening curve means additional data is
    * mostly duplication of earlier content — the aggregate-level signal
    * that complements pairwise dedup. Shape: one explode → per-shingle
    * min → rejoin (both shuffles keyed by shingle, the natural key);
    * the decile bound is a 1-row broadcast. */
  def textNovelty(s: SparkSession, d: String): DataFrame = {
    // Distinct per-doc bigrams from the shared positional leaf (n = 2);
    // `sh` feeds both the per-shingle min and the rejoin, so the leaf
    // turns two scan+transform passes into cache reads.
    val sh = gramLeaf(s, d, 2).select(col("doc_id"), col("g")).distinct()
    val first = sh.groupBy(col("g")).agg(min(col("doc_id")).as("fs"))
    val perDoc = sh.join(first, "g")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_sh"),
        sum(when(col("fs") === col("doc_id"), 1L).otherwise(0L)).as("n_novel"))
    val mx = Tables.documents(s, d).agg(max(col("doc_id")).as("mx"))
    perDoc.crossJoin(broadcast(mx))
      .withColumn("decile", least(expr("doc_id * 10 div (mx + 1)"), lit(9L)))
      .groupBy(col("decile"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_sh")).as("n_shingles"),
        sum(col("n_novel")).as("n_novel"))
      .withColumn("novelty_pm", expr("n_novel * 1000 div n_shingles"))
      .orderBy(col("decile").asc)
  }

  /** Model-based quality scoring — the hashed-linear-classifier filter
    * stage (the fasttext-style gate public pretraining pipelines run
    * after heuristic filters): tokens hash into a 64-slot weight table,
    * a document's score is the sum of its slots' weights, and the keep
    * decision is a sign threshold. The weight table here is itself
    * derived from the cross-engine md5 fold (weight(b) = fold4(md5('w'b))
    * % 1001 − 500 ∈ [−500, 500]) so the entire inference pass — features,
    * table lookup, scores, keep counts — is integer-exact and fully
    * oracled; swapping in trained weights changes one literal expression
    * and nothing about the plan.
    *
    * Scale shape: inference is a narrow map over token occurrences (the
    * weight "lookup" is a pure expression, nothing is joined or
    * broadcast), then two hash aggregates (doc, then source). This is
    * the shape that matters at 100 TB: model scoring costs one scan,
    * shuffles only doc-sized partials, and stays inside whole-stage
    * codegen — no UDF, no vector runtime. */
  /** Per-doc hashed-linear scores — the shared inference stage behind
    * [[textClf]] (keep/drop counting) and [[textBudget]] (selection
    * under a token budget): (doc_id, source, score, n_toks). */
  private def clfDocScores(s: SparkSession, d: String): DataFrame =
    tokenLeaf(s, d)
      .select(col("doc_id"), col("source"), col("tok"))
      .withColumn("hx", md5(col("tok")))
      .withColumn("bucket",
        ((expr("instr('0123456789abcdef', substring(hx, 31, 1))") - 1).cast("long") * 16L +
         (expr("instr('0123456789abcdef', substring(hx, 32, 1))") - 1).cast("long")) % 64L)
      .withColumn("wx", md5(concat(lit("w"), col("bucket").cast("string"))))
      .withColumn("w", expr(s"(${DetHash.sparkHexInt("wx", 4)} % 1001) - 500"))
      .groupBy(col("doc_id"), col("source"))
      .agg(sum(col("w")).as("score"), count(lit(1)).as("n_toks"))

  def textClf(s: SparkSession, d: String): DataFrame =
    clfDocScores(s, d)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        count(when(col("score") > 0, 1)).as("n_keep"),
        sum(col("score")).as("score_sum"))
      .orderBy(col("source").asc)

  /** Data selection under a token budget — the knapsack step after
    * quality scoring: rank positive-scoring documents by integer value
    * DENSITY (score per kilotoken) and take the greedy prefix whose
    * cumulative token count fits the budget. Greedy-by-density is the
    * canonical knapsack relaxation; the integer permille density and the
    * unique (density desc, doc_id) total order make the cut
    * deterministic in both engines. Declared output is the per-source
    * composition of the selected set — the number a mixture planner
    * actually consumes.
    *
    * Scale note: the running-token cumsum is a GLOBAL ordered window
    * over the positive-scoring survivors (already a small fraction of
    * the corpus). At 100 TB the same two-pass trick as
    * q_win_ntile_exact2 applies: repartitionByRange on (density, id),
    * per-partition partial token sums, broadcast the per-partition
    * offsets, cut locally. */
  def textBudget(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.orderBy(col("density").desc, col("doc_id").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    clfDocScores(s, d)
      .filter(col("score") > 0)
      .withColumn("density", expr("score * 1000 div n_toks"))
      .withColumn("cum", sum(col("n_toks")).over(w))
      .filter(col("cum") <= 5000)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_sel"), sum(col("n_toks")).as("toks_sel"),
        sum(col("score")).as("score_sel"))
      .orderBy(col("source").asc)
  }

  /** Octave band of a raw frequency — floor(log2 f) as a generated CASE,
    * valid verbatim in BOTH engines (the zipfBandCase trick applied to
    * frequencies instead of ranks: no libm log2, no rounding drift at
    * exact powers of two). */
  private def freqBandCase: String =
    (0 until 21).map(k => s"WHEN freq < ${1L << (k + 1)} THEN $k")
      .mkString("CASE ", " ", " ELSE 21 END")

  /** N-gram surprisal scoring — the integer-exact stand-in for the
    * perplexity filter every pretraining pipeline runs: "train" a bigram
    * LM on the corpus itself (bigram occurrence counts), score each
    * document by the mean SURPRISAL of its bigrams, where surprisal =
    * (corpus max octave band − the bigram's band) ≈ −log2 relative
    * frequency in whole bits. Gibberish and rare-template docs score
    * high, boilerplate scores near zero — the same separation the float
    * perplexity gives, but in integer milli-bits that hash-match DuckDB
    * exactly (CASE bands, integer div, no libm anywhere).
    *
    * Scale shape: one bigram explode, one frequency hash-agg (the model
    * "training"), a bigram-keyed rejoin to score (shuffle on the natural
    * key), a 1-row broadcast for the corpus max band, then doc- and
    * source-level hash aggs. No window, no pairs, nothing collected. */
  def textSurprise(s: SparkSession, d: String): DataFrame = {
    // Round-10 rewire onto the shared bigram leaf: the old form derived
    // its own (doc_id, source, g) stream and referenced it twice (freq
    // agg + scoring join) with NO exchange reuse — the corpus-sized
    // bigram derivation ran twice per execution. [[gramLeaf]](n=2) is
    // the same window stream (already novelty's leaf — a true
    // multi-consumer), cached once; `source` rides a slim doc-keyed
    // join AFTER the per-doc rollup instead of a per-occurrence column
    // (source is functionally dependent on doc_id, so the regrouping is
    // identity). Measured at 100× (same-session solo A/B): 27.0 →
    // 6.0 s (17.4× → 4.8×); sf0.1 TimeOne min 1.42 → 1.43 s, a wash.
    val big = gramLeaf(s, d, 2).select(col("doc_id"), col("g"))
    val freq = big.groupBy(col("g")).agg(count(lit(1)).as("freq"))
      .withColumn("fband", expr(freqBandCase).cast("long"))
    val mx = freq.agg(max(col("fband")).as("mxb"))
    big.join(freq, "g")
      .crossJoin(broadcast(mx))
      .withColumn("surp", col("mxb") - col("fband"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bi"), sum(col("surp")).as("ssum"))
      .withColumn("milli", expr("ssum * 1000 div n_bi"))
      .join(Tables.spread(Tables.documents(s, d))
        .select(col("doc_id"), col("source")), "doc_id")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("milli")).as("sum_milli"),
        min(col("milli")).as("min_milli"), max(col("milli")).as("max_milli"))
      .orderBy(col("source").asc)
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_text_clf"      -> textClf,
    "q_text_budget"   -> textBudget,
    "q_text_surprise" -> textSurprise,
    "q_text_novelty" -> textNovelty,
    "q_text_prefix_block" -> textPrefixBlock,
    "q_text_hashtrick" -> textHashtrick,
    "q_text_zipf" -> textZipf,
    "q_text_vocab_prune" -> textVocabPrune,
    "q_text_cooc"     -> textCooc,
    "q_text_srcdrift" -> textSrcdrift,
    "q_text_ttr"      -> textTtr,
    "q_text_spancut"  -> textSpancut,
    "q_text_dupspans" -> textDupspans,
    "q_text_lid_eval" -> textLidEval,
    "q_text_winnow"  -> textWinnow,
    "q_text_chargrams" -> textChargrams,
    "q_text_colloc"  -> textColloc,
    "q_text_entropy" -> textEntropy,
    "q_text_dsir"    -> textDsir,
    "q_text_lm_ppl"  -> textLmPpl,
    "q_text_ppl_bucket" -> textPplBucket,
    "q_text_entropy_native" -> textEntropyNative,
    "q_text_bm25"    -> textBm25,
    "q_text_rarity"      -> textRarity,
    "q_text_qfilter"     -> textQfilter,
    "q_text_cdc"         -> textCdc,
    "q_text_docsim"      -> textDocsim,
    "q_text_ngram_dup"   -> textNgramDup,
    "q_text_pipeline"    -> textPipeline,
    "q_text_invindex"    -> textInvindex,
    "q_text_salient"     -> textSalient,
    "q_text_repetition"  -> textRepetition,
    "q_text_scrub"       -> textScrub,
    "q_text_mix"         -> textMix,
    "q_text_pack"        -> textPack,
    "q_text_decontam"    -> textDecontam,
    "q_text_chunk"       -> textChunk,
    "q_text_bpe"         -> textBpe,
    "q_text_bpe_train"   -> textBpeTrain,
    "q_text_tokens"      -> textTokens,
    "q_text_stats"       -> textStats,
    "q_dedup_exact"      -> dedupExact,
    "q_dedup_norm"       -> dedupNorm,
    "q_text_quality"     -> textQuality,
    "q_text_langid"      -> textLangid,
    "q_text_fingerprint" -> textFingerprint,
    "q_text_readability" -> textReadability,
    "q_text_rake"        -> textRake
  )

  /** RAKE keyphrase extraction (Rose et al. 2010, "Automatic keyword
    * extraction from individual documents" — public method): candidate
    * phrases are maximal stopword-free token runs; a word scores
    * deg/freq (phrase-length mass over occurrence count, hub words
    * damped) and a phrase scores the sum of its member words — the
    * corpus-level keyphrase census a curation pipeline reads beside
    * [[textSalient]]'s per-source TF-IDF. Stoplist = the fixture
    * vocabulary's two determiners; phrase segmentation is POSITION
    * arithmetic (running stopword count per doc — a per-doc window over
    * token positions), not regex splitting, so both engines segment
    * identically even around adjacent stopwords. Scores are exact
    * integer micro-units: s(w) = 10⁶·deg ÷ freq (both non-negative),
    * phrase score = Σ member s(w). Scale shape: word stats are one
    * map-side-combined vocab-sized agg joined back onto the token
    * stream by word key (AQE picks broadcast vs shuffle); phrase
    * reassembly groups by (doc, phrase-run) — doc-bounded, and the
    * only corpus-wide sort is the final top-20. */
  def textRake(s: SparkSession, d: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("p"))
    val tok = tokenLeaf(s, d)
      .select(col("doc_id"), col("pos").as("p"), col("tok"))
      .withColumn("stop", when(col("tok").isin("the", "a"), 1L).otherwise(0L))
      .withColumn("pid", sum(col("stop")).over(w))
      .filter(col("stop") === 0)
      .select(col("doc_id"), col("pid"), col("p"), col("tok"))
    val phLen = tok.groupBy(col("doc_id"), col("pid"))
      .agg(count(lit(1)).as("plen"))
    val wordScore = tok.join(phLen, Seq("doc_id", "pid"))
      .groupBy(col("tok"))
      .agg(count(lit(1)).as("freq"), sum(col("plen")).as("deg"))
      .select(col("tok"), expr("(1000000 * deg) div freq").as("ws"))
    tok.join(wordScore, "tok")
      .groupBy(col("doc_id"), col("pid"))
      .agg(
        concat_ws(" ", expr("transform(array_sort(" +
          "collect_list(struct(p, tok))), x -> x.tok)")).as("phrase"),
        sum(col("ws")).as("score_micro"))
      .groupBy(col("phrase"))
      .agg(count(lit(1)).as("n_occur"), min(col("score_micro")).as("score_micro"))
      .orderBy(col("score_micro").desc, col("phrase").asc)
      .limit(20)
      .select(col("phrase"), col("n_occur"), col("score_micro"))
  }

  /** Flesch reading-ease scoring (Flesch 1948's public formula,
    * 206.835 − 1.015·words/sentence − 84.6·syllables/word) in exact
    * integer milli-units — the document-quality feature a corpus
    * curation pipeline bins on beside [[textQuality]]'s ratio scores.
    * Syllables are the standard cheap proxy (maximal vowel runs, one
    * regexp count — the same heuristic every large-corpus readability
    * pass uses, exact syllabification needs a dictionary); sentence
    * count is terminal-punctuation runs clamped to ≥1 (the synthetic
    * fixture has none — every doc reads as one sentence, which the
    * clamp makes well-defined rather than a division by zero). Pure
    * per-row narrow projection — codegen'd, no shuffle until the
    * ordered output; every division has non-negative operands. */
  def textReadability(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id"),
        expr("CAST(size(split(text, ' ')) AS BIGINT)").as("n_words"),
        expr("CAST(greatest(1, regexp_count(text, '[.!?]')) AS BIGINT)")
          .as("n_sent"),
        expr("CAST(regexp_count(text, '[aeiou]+') AS BIGINT)").as("n_syl"))
      .withColumn("wps_milli", expr("(1000 * n_words) div n_sent"))
      .withColumn("spw_milli", expr("(1000 * n_syl) div n_words"))
      .withColumn("flesch_milli",
        expr("206835 - (1015 * wps_milli) div 1000" +
          " - (84600 * spw_milli) div 1000"))
      .select(col("doc_id"), col("n_words"), col("n_syl"),
        col("wps_milli"), col("spw_milli"), col("flesch_milli"))
      .orderBy(col("doc_id").asc)

  val oracle: Map[String, String] = Map(
    "q_text_novelty" ->
      """WITH toks AS (
        |  SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
        |sh AS (
        |  SELECT doc_id, unnest(list_distinct(list_transform(range(1, len(tk)),
        |           i -> tk[i] || ' ' || tk[i + 1]))) AS g
        |  FROM toks WHERE len(tk) >= 2),
        |first AS (
        |  SELECT g, min(doc_id) AS fs FROM sh GROUP BY g),
        |per_doc AS (
        |  SELECT sh.doc_id, count(*) AS n_sh,
        |         sum(CASE WHEN first.fs = sh.doc_id THEN 1 ELSE 0 END) AS n_novel
        |  FROM sh JOIN first ON sh.g = first.g
        |  GROUP BY sh.doc_id),
        |mx AS (SELECT max(doc_id) AS mx FROM documents)
        |SELECT least(doc_id * 10 // (mx + 1), 9) AS decile,
        |       count(*) AS n_docs,
        |       CAST(sum(n_sh) AS BIGINT) AS n_shingles,
        |       CAST(sum(n_novel) AS BIGINT) AS n_novel,
        |       CAST(sum(n_novel) * 1000 // sum(n_sh) AS BIGINT) AS novelty_pm
        |FROM per_doc CROSS JOIN mx
        |GROUP BY 1
        |ORDER BY decile ASC""".stripMargin,
    "q_text_zipf" ->
      s"""WITH t AS (
        |  SELECT unnest(string_split(text, ' ')) AS tok FROM documents),
        |f AS (SELECT tok, count(*) AS freq FROM t GROUP BY tok),
        |r AS (SELECT tok, freq,
        |        row_number() OVER (ORDER BY freq DESC, tok ASC) AS rank
        |      FROM f),
        |b AS (SELECT CAST($zipfBandCase AS BIGINT) AS band, freq, rank
        |      FROM r)
        |SELECT band, count(*) AS n_toks,
        |       CAST(sum(freq) AS BIGINT) AS total_occ,
        |       CAST(min(rank) AS BIGINT) AS min_rank,
        |       CAST(max(freq) AS BIGINT) AS max_freq
        |FROM b
        |GROUP BY band
        |ORDER BY band ASC""".stripMargin,
    "q_text_surprise" ->
      s"""WITH b AS (
        |  SELECT doc_id, source,
        |         unnest(list_transform(range(1, len(string_split(text, ' '))),
        |           i -> string_split(text, ' ')[i] || ' ' ||
        |                string_split(text, ' ')[i + 1])) AS g
        |  FROM documents
        |  WHERE len(string_split(text, ' ')) >= 2),
        |f AS (SELECT g, count(*) AS freq FROM b GROUP BY g),
        |fb AS (SELECT g, CAST($freqBandCase AS BIGINT) AS fband FROM f),
        |sc AS (
        |  SELECT b.doc_id, b.source, count(*) AS n_bi,
        |         CAST(sum((SELECT max(fband) FROM fb) - fb.fband)
        |           AS BIGINT) AS ssum
        |  FROM b JOIN fb ON b.g = fb.g
        |  GROUP BY b.doc_id, b.source),
        |m AS (SELECT doc_id, source, (ssum * 1000) // n_bi AS milli FROM sc)
        |SELECT source, count(*) AS n_docs,
        |       CAST(sum(milli) AS BIGINT) AS sum_milli,
        |       CAST(min(milli) AS BIGINT) AS min_milli,
        |       CAST(max(milli) AS BIGINT) AS max_milli
        |FROM m GROUP BY source ORDER BY source ASC""".stripMargin,
    "q_text_budget" ->
      s"""WITH t AS (
        |  SELECT doc_id, source, unnest(string_split(text, ' ')) AS tok
        |  FROM documents),
        |h AS (SELECT doc_id, source, md5(tok) AS hx FROM t),
        |b AS (SELECT doc_id, source,
        |        (CAST(strpos('0123456789abcdef', substr(hx, 31, 1)) - 1
        |           AS BIGINT) * 16 +
        |         CAST(strpos('0123456789abcdef', substr(hx, 32, 1)) - 1
        |           AS BIGINT)) % 64 AS bucket
        |      FROM h),
        |w AS (SELECT doc_id, source,
        |        md5('w' || CAST(bucket AS VARCHAR)) AS wx
        |      FROM b),
        |sc AS (SELECT doc_id, source, count(*) AS n_toks,
        |         CAST(sum((${DetHash.duckHexInt("wx", 4)} % 1001) - 500)
        |           AS BIGINT) AS score
        |       FROM w GROUP BY doc_id, source),
        |d AS (SELECT doc_id, source, n_toks, score,
        |        (score * 1000) // n_toks AS density
        |      FROM sc WHERE score > 0),
        |c AS (SELECT doc_id, source, n_toks, score,
        |        sum(n_toks) OVER (ORDER BY density DESC, doc_id ASC
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |      FROM d)
        |SELECT source, count(*) AS n_sel,
        |       CAST(sum(n_toks) AS BIGINT) AS toks_sel,
        |       CAST(sum(score) AS BIGINT) AS score_sel
        |FROM c WHERE cum <= 5000
        |GROUP BY source ORDER BY source ASC""".stripMargin,
    "q_text_clf" ->
      s"""WITH t AS (
        |  SELECT doc_id, source, unnest(string_split(text, ' ')) AS tok
        |  FROM documents),
        |h AS (SELECT doc_id, source, md5(tok) AS hx FROM t),
        |b AS (SELECT doc_id, source,
        |        (CAST(strpos('0123456789abcdef', substr(hx, 31, 1)) - 1
        |           AS BIGINT) * 16 +
        |         CAST(strpos('0123456789abcdef', substr(hx, 32, 1)) - 1
        |           AS BIGINT)) % 64 AS bucket
        |      FROM h),
        |w AS (SELECT doc_id, source,
        |        md5('w' || CAST(bucket AS VARCHAR)) AS wx
        |      FROM b),
        |sc AS (SELECT doc_id, source,
        |         CAST(sum((${DetHash.duckHexInt("wx", 4)} % 1001) - 500)
        |           AS BIGINT) AS score
        |       FROM w GROUP BY doc_id, source)
        |SELECT source, count(*) AS n_docs,
        |       count(CASE WHEN score > 0 THEN 1 END) AS n_keep,
        |       CAST(sum(score) AS BIGINT) AS score_sum
        |FROM sc GROUP BY source ORDER BY source ASC""".stripMargin,
    "q_text_hashtrick" ->
      """WITH t AS (
        |  SELECT unnest(string_split(text, ' ')) AS tok FROM documents),
        |b AS (
        |  SELECT tok,
        |         (CAST(strpos('0123456789abcdef', substr(md5(tok), 31, 1)) - 1
        |            AS BIGINT) * 16 +
        |          CAST(strpos('0123456789abcdef', substr(md5(tok), 32, 1)) - 1
        |            AS BIGINT)) % 64 AS bucket
        |  FROM t)
        |SELECT bucket, count(*) AS n_occ,
        |       count(DISTINCT tok) AS n_toks
        |FROM b
        |GROUP BY bucket
        |ORDER BY bucket ASC""".stripMargin,
    "q_text_prefix_block" ->
      """WITH d AS (
        |  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
        |  WHERE len(string_split(text, ' ')) >= 6)
        |SELECT array_to_string(toks[1:6], ' ') AS prefix,
        |       count(*) AS n_docs,
        |       min(doc_id) AS survivor_id
        |FROM d
        |GROUP BY prefix
        |HAVING count(*) >= 2
        |ORDER BY prefix ASC""".stripMargin,
    "q_text_vocab_prune" ->
      """WITH t AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS tok
        |  FROM documents),
        |stats AS (
        |  SELECT tok, count(DISTINCT doc_id) AS df, count(*) AS cf
        |  FROM t GROUP BY tok),
        |nd AS (SELECT count(*) AS n_docs FROM documents)
        |SELECT CASE WHEN df = 1 THEN 'hapax'
        |            WHEN df * 2 > n_docs THEN 'stoplike'
        |            ELSE 'kept' END AS band,
        |       count(*) AS n_types,
        |       CAST(sum(cf) AS BIGINT) AS occurrences,
        |       min(df) AS min_df,
        |       max(df) AS max_df
        |FROM stats CROSS JOIN nd
        |GROUP BY band
        |ORDER BY band ASC""".stripMargin,
    "q_text_cooc" ->
      """WITH t AS (
        |  SELECT string_split(text, ' ') AS toks FROM documents),
        |p AS (
        |  SELECT unnest(flatten(list_transform([1, 2], k ->
        |           CASE WHEN len(toks) > k THEN
        |             list_transform(range(1, len(toks) - k + 1), i ->
        |               CASE WHEN toks[CAST(i AS INTEGER)]
        |                        < toks[CAST(i + k AS INTEGER)]
        |                    THEN struct_pack(
        |                      w1 := toks[CAST(i AS INTEGER)],
        |                      w2 := toks[CAST(i + k AS INTEGER)])
        |                    ELSE struct_pack(
        |                      w1 := toks[CAST(i + k AS INTEGER)],
        |                      w2 := toks[CAST(i AS INTEGER)]) END)
        |           ELSE [] END))) AS e
        |  FROM t)
        |SELECT e.w1 AS w1, e.w2 AS w2, count(*) AS n_cooc
        |FROM p
        |GROUP BY w1, w2
        |ORDER BY n_cooc DESC, w1 ASC, w2 ASC
        |LIMIT 20""".stripMargin,
    "q_text_srcdrift" ->
      """WITH tc AS (
        |  SELECT source, unnest(string_split(text, ' ')) AS tok
        |  FROM documents),
        |cnt AS (
        |  SELECT source, tok, count(*) AS c FROM tc GROUP BY source, tok),
        |st AS (
        |  SELECT source, CAST(sum(c) AS BIGINT) AS n_s FROM cnt GROUP BY source),
        |corpus AS (
        |  SELECT tok, CAST(sum(c) AS BIGINT) AS c_t FROM cnt GROUP BY tok),
        |tot AS (
        |  SELECT CAST(sum(c_t) AS BIGINT) AS n_total FROM corpus),
        |grid AS (
        |  SELECT st.source, st.n_s, corpus.tok, corpus.c_t, tot.n_total,
        |         CAST(coalesce(cnt.c, 0) AS BIGINT) AS c
        |  FROM st CROSS JOIN corpus CROSS JOIN tot
        |  LEFT JOIN cnt ON cnt.source = st.source AND cnt.tok = corpus.tok)
        |SELECT source, n_s,
        |       CAST(sum(abs(c * n_total - c_t * n_s)) AS BIGINT) AS numer,
        |       CAST(sum(abs(c * n_total - c_t * n_s)) * 1000000
        |         // (2 * n_s * max(n_total)) AS BIGINT) AS tv_ppm
        |FROM grid
        |GROUP BY source, n_s
        |ORDER BY source ASC""".stripMargin,
    "q_text_ttr" ->
      """WITH t AS (
        |  SELECT source, unnest(string_split(text, ' ')) AS tok
        |  FROM documents)
        |SELECT source,
        |       count(*) AS n_tokens,
        |       count(DISTINCT tok) AS n_types,
        |       CAST(count(DISTINCT tok) * 1000 // count(*) AS BIGINT)
        |         AS ttr_pm
        |FROM t
        |GROUP BY source
        |ORDER BY source ASC""".stripMargin,
    "q_text_spancut" ->
      """WITH base AS (
        |  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
        |  WHERE len(string_split(text, ' ')) >= 5),
        |pg AS (
        |  SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_toks,
        |         unnest(list_transform(range(1, len(toks) - 3),
        |           i -> struct_pack(p := i,
        |             g := array_to_string(
        |               toks[CAST(i AS INTEGER):CAST(i AS INTEGER) + 4], ' '))))
        |           AS e
        |  FROM base),
        |g2 AS (
        |  SELECT doc_id, n_toks, e.p AS p, e.g AS g FROM pg),
        |dfs AS (
        |  SELECT g FROM g2 GROUP BY g HAVING count(DISTINCT doc_id) >= 2),
        |cov AS (
        |  SELECT DISTINCT doc_id, unnest(range(p, p + 5)) AS tp
        |  FROM g2 JOIN dfs USING (g)),
        |tok AS (
        |  SELECT doc_id, unnest(range(1, len(toks) + 1)) AS tp,
        |         unnest(toks) AS tok
        |  FROM base),
        |kept AS (
        |  SELECT t.doc_id, count(*) AS n_kept,
        |         string_agg(t.tok, ' ' ORDER BY t.tp) AS cleaned
        |  FROM tok t LEFT JOIN cov c ON t.doc_id = c.doc_id AND t.tp = c.tp
        |  WHERE c.tp IS NULL
        |  GROUP BY t.doc_id)
        |SELECT b.doc_id, CAST(len(b.toks) AS BIGINT) AS n_toks,
        |       CAST(coalesce(k.n_kept, 0) AS BIGINT) AS n_kept,
        |       CAST(len(b.toks) - coalesce(k.n_kept, 0) AS BIGINT)
        |         AS n_removed,
        |       md5(coalesce(k.cleaned, '')) AS cleaned_md5
        |FROM base b LEFT JOIN kept k USING (doc_id)
        |ORDER BY b.doc_id ASC""".stripMargin,
    "q_text_dupspans" ->
      """WITH base AS (
        |  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
        |  WHERE len(string_split(text, ' ')) >= 5),
        |pg AS (
        |  SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_toks,
        |         unnest(list_transform(range(1, len(toks) - 3),
        |           i -> struct_pack(p := i,
        |             g := array_to_string(
        |               toks[CAST(i AS INTEGER):CAST(i AS INTEGER) + 4], ' '))))
        |           AS e
        |  FROM base),
        |g2 AS (
        |  SELECT doc_id, n_toks, e.p AS p, e.g AS g FROM pg),
        |dfs AS (
        |  SELECT g FROM g2 GROUP BY g HAVING count(DISTINCT doc_id) >= 2),
        |dup AS (
        |  SELECT doc_id, n_toks, p,
        |         least(coalesce(lead(p) OVER
        |           (PARTITION BY doc_id ORDER BY p ASC) - p, 5), 5) AS cov
        |  FROM g2 JOIN dfs USING (g))
        |SELECT doc_id, n_toks,
        |       count(*) AS n_dup_grams,
        |       CAST(sum(cov) AS BIGINT) AS covered,
        |       CAST(sum(cov) * 1000 // n_toks AS BIGINT) AS cover_pm
        |FROM dup
        |GROUP BY doc_id, n_toks
        |ORDER BY doc_id ASC""".stripMargin,
    "q_text_winnow" ->
      """WITH d AS (
        |  SELECT doc_id, text FROM documents WHERE length(text) >= 8),
        |h AS (
        |  SELECT doc_id,
        |         list_transform(range(1, length(text) - 3), i ->
        |           list_reduce(list_prepend(CAST(7 AS BIGINT),
        |             list_transform(range(CAST(i AS INTEGER), CAST(i AS INTEGER) + 5),
        |               k -> CAST(ord(substr(text, CAST(k AS INTEGER), 1)) AS BIGINT))),
        |             (a, c) -> (a * 131 + c) % 2147483647)
        |           * 1024 + (1023 - i)) AS keys
        |  FROM d),
        |w AS (
        |  SELECT doc_id, keys,
        |         list_distinct(list_transform(range(1, len(keys) - 2),
        |           i -> list_min(keys[CAST(i AS INTEGER) : CAST(i AS INTEGER) + 3])))
        |           AS fps
        |  FROM h)
        |SELECT doc_id,
        |       CAST(len(keys) - 3 AS BIGINT) AS n_windows,
        |       CAST(len(fps) AS BIGINT) AS n_fps,
        |       CAST(len(fps) * 1000 // (len(keys) - 3) AS BIGINT) AS density_pm
        |FROM w
        |ORDER BY doc_id ASC""".stripMargin,
    "q_text_chargrams" ->
      """WITH g AS (
        |  SELECT unnest(list_transform(range(1, length(text) - 2),
        |           i -> substr(text, CAST(i AS INTEGER), 4))) AS gram
        |  FROM documents
        |  WHERE length(text) >= 4)
        |SELECT gram, count(*) AS n
        |FROM g
        |GROUP BY gram
        |ORDER BY n DESC, gram ASC
        |LIMIT 20""".stripMargin,
    "q_text_bm25" -> {
      val values = lnMicro.map { case (k, lm) => s"($k, $lm)" }.mkString(", ")
      s"""WITH ln(k, lm) AS (SELECT * FROM (VALUES $values) t(k, lm)),
         |occ AS (
         |  SELECT doc_id, unnest(string_split(text, ' ')) AS tok
         |  FROM documents),
         |tf AS (
         |  SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS tf
         |  FROM occ GROUP BY doc_id, tok),
         |dl AS (
         |  SELECT doc_id, CAST(count(*) AS BIGINT) AS dl
         |  FROM occ GROUP BY doc_id),
         |tot AS (
         |  SELECT CAST(count(*) AS BIGINT) AS n_docs,
         |         CAST(sum(dl) AS BIGINT) AS ndl,
         |         CAST(sum(dl) AS BIGINT) * 1000000
         |           // CAST(count(*) AS BIGINT) AS avgdl_micro
         |  FROM dl),
         |dfs AS (
         |  SELECT tok, CAST(count(*) AS BIGINT) AS df FROM (
         |    SELECT DISTINCT doc_id, tok FROM occ)
         |  GROUP BY tok),
         |qry AS (
         |  SELECT tok, df,
         |         ${lgMicroSql("2 * t.n_docs - 2 * df + 1", "l1")}
         |           - ${lgMicroSql("2 * df + 1", "l2")} AS idf_micro
         |  FROM (SELECT * FROM dfs ORDER BY df ASC, tok ASC LIMIT 10)
         |  CROSS JOIN tot t),
         |sc AS (
         |  SELECT q.tok, tf.doc_id, tf.tf,
         |         q.idf_micro * 44000000 * tf.tf
         |           // (20000000 * tf.tf + 6000000
         |               + 18 * (dl.dl * 1000000000000 // t.avgdl_micro))
         |           AS score_micro
         |  FROM tf
         |  JOIN dl ON tf.doc_id = dl.doc_id
         |  CROSS JOIN tot t
         |  JOIN qry q ON tf.tok = q.tok),
         |rk AS (
         |  SELECT tok, doc_id, tf, score_micro,
         |         row_number() OVER (PARTITION BY tok
         |           ORDER BY score_micro DESC, doc_id ASC) AS rn
         |  FROM sc)
         |SELECT tok, doc_id, tf, score_micro, CAST(rn AS BIGINT) AS rn
         |FROM rk WHERE rn <= 5
         |ORDER BY tok ASC, rn ASC""".stripMargin
    },
    "q_text_lm_ppl" -> {
      val values = lnMicro.map { case (k, lm) => s"($k, $lm)" }.mkString(", ")
      s"""WITH ln(k, lm) AS (SELECT * FROM (VALUES $values) t(k, lm)),
         |tkt AS (
         |  SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
         |toku AS (SELECT doc_id, unnest(tk) AS w FROM tkt),
         |occ AS (
         |  SELECT doc_id, bg.w1 AS w1, bg.w2 AS w2 FROM (
         |    SELECT doc_id, unnest(list_transform(range(1, len(tk)),
         |      i -> struct_pack(w1 := tk[i], w2 := tk[i + 1]))) AS bg
         |    FROM tkt WHERE len(tk) >= 2)),
         |utrain AS (
         |  SELECT w, CAST(count(*) AS BIGINT) AS c1
         |  FROM toku WHERE doc_id % 2 = 0 GROUP BY w),
         |uniL AS (
         |  SELECT w, c1, ${lgMicroSql("c1", "l1")} AS lgc1,
         |         ${lgMicroSql("c1 + 1", "l2")} AS lgc1p
         |  FROM utrain),
         |btrain AS (
         |  SELECT w1, w2, CAST(count(*) AS BIGINT) AS c12
         |  FROM occ WHERE doc_id % 2 = 0 GROUP BY w1, w2),
         |biSc AS (
         |  SELECT b.w1, b.w2, ${lgMicroSql("c12", "l3")} - u.lgc1 AS sc_bi
         |  FROM btrain b JOIN uniL u ON b.w1 = u.w),
         |totals AS (
         |  SELECT ${lgMicroSql("nn + vv", "l4")} + 916291 AS base FROM (
         |    SELECT sum(c1) AS nn, count(*) AS vv FROM utrain)),
         |osc AS (
         |  SELECT o.doc_id,
         |         coalesce(b.sc_bi, coalesce(u.lgc1p, 0) - t.base) AS sc
         |  FROM (SELECT * FROM occ WHERE doc_id % 2 = 1) o
         |  LEFT JOIN biSc b ON o.w1 = b.w1 AND o.w2 = b.w2
         |  LEFT JOIN uniL u ON o.w2 = u.w
         |  CROSS JOIN totals t)
         |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bi,
         |       CAST(-sum(sc) AS BIGINT) AS nll_micro,
         |       CAST((-sum(sc)) // count(*) AS BIGINT) AS nll_per_bi
         |FROM osc GROUP BY doc_id ORDER BY doc_id ASC""".stripMargin
    },
    // Same bigram-LM CTE chain as q_text_lm_ppl (generated from the
    // same lnMicro/lgMicroSql constants), then the CCNet tercile
    // windows per language and the bucket rollup.
    "q_text_ppl_bucket" -> {
      val values = lnMicro.map { case (k, lm) => s"($k, $lm)" }.mkString(", ")
      s"""WITH ln(k, lm) AS (SELECT * FROM (VALUES $values) t(k, lm)),
         |tkt AS (
         |  SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
         |toku AS (SELECT doc_id, unnest(tk) AS w FROM tkt),
         |occ AS (
         |  SELECT doc_id, bg.w1 AS w1, bg.w2 AS w2 FROM (
         |    SELECT doc_id, unnest(list_transform(range(1, len(tk)),
         |      i -> struct_pack(w1 := tk[i], w2 := tk[i + 1]))) AS bg
         |    FROM tkt WHERE len(tk) >= 2)),
         |utrain AS (
         |  SELECT w, CAST(count(*) AS BIGINT) AS c1
         |  FROM toku WHERE doc_id % 2 = 0 GROUP BY w),
         |uniL AS (
         |  SELECT w, c1, ${lgMicroSql("c1", "l1")} AS lgc1,
         |         ${lgMicroSql("c1 + 1", "l2")} AS lgc1p
         |  FROM utrain),
         |btrain AS (
         |  SELECT w1, w2, CAST(count(*) AS BIGINT) AS c12
         |  FROM occ WHERE doc_id % 2 = 0 GROUP BY w1, w2),
         |biSc AS (
         |  SELECT b.w1, b.w2, ${lgMicroSql("c12", "l3")} - u.lgc1 AS sc_bi
         |  FROM btrain b JOIN uniL u ON b.w1 = u.w),
         |totals AS (
         |  SELECT ${lgMicroSql("nn + vv", "l4")} + 916291 AS base FROM (
         |    SELECT sum(c1) AS nn, count(*) AS vv FROM utrain)),
         |osc AS (
         |  SELECT o.doc_id,
         |         coalesce(b.sc_bi, coalesce(u.lgc1p, 0) - t.base) AS sc
         |  FROM (SELECT * FROM occ WHERE doc_id % 2 = 1) o
         |  LEFT JOIN biSc b ON o.w1 = b.w1 AND o.w2 = b.w2
         |  LEFT JOIN uniL u ON o.w2 = u.w
         |  CROSS JOIN totals t),
         |ppl AS (
         |  SELECT doc_id, CAST((-sum(sc)) // count(*) AS BIGINT) AS nll_per_bi
         |  FROM osc GROUP BY doc_id),
         |j AS (
         |  SELECT p.doc_id, d.lang,
         |         CAST(len(string_split(d.text, ' ')) AS BIGINT) AS toks,
         |         p.nll_per_bi
         |  FROM ppl p JOIN documents d ON p.doc_id = d.doc_id),
         |r AS (
         |  SELECT lang, toks, nll_per_bi,
         |         row_number() OVER (PARTITION BY lang
         |           ORDER BY nll_per_bi ASC, doc_id ASC) AS rn,
         |         count(*) OVER (PARTITION BY lang) AS n
         |  FROM j)
         |SELECT lang,
         |       CASE (3 * (rn - 1)) // n WHEN 0 THEN 'head'
         |            WHEN 1 THEN 'middle' ELSE 'tail' END AS bucket,
         |       CAST(count(*) AS BIGINT) AS n_docs,
         |       CAST(sum(toks) AS BIGINT) AS n_toks,
         |       CAST(min(nll_per_bi) AS BIGINT) AS nll_lo,
         |       CAST(max(nll_per_bi) AS BIGINT) AS nll_hi
         |FROM r
         |GROUP BY 1, 2
         |ORDER BY lang ASC, bucket ASC""".stripMargin
    },
    "q_text_dsir" -> {
      val values = lnMicro.map { case (k, lm) => s"($k, $lm)" }.mkString(", ")
      s"""WITH ln(k, lm) AS (SELECT * FROM (VALUES $values) t(k, lm)),
         |tk AS (
         |  SELECT doc_id, lang, string_split(text, ' ') AS tk
         |  FROM documents),
         |feats AS (
         |  SELECT doc_id, lang,
         |         (${DetHash.duckHexInt("md5(f)", 4)}) % $DsirB AS b
         |  FROM (
         |    SELECT doc_id, lang,
         |           unnest(list_concat(tk,
         |             list_transform(range(1, len(tk)),
         |               i -> tk[i] || ' ' || tk[i + 1]))) AS f
         |    FROM tk)),
         |tgt AS (
         |  SELECT b, CAST(count(*) AS BIGINT) AS ct
         |  FROM feats WHERE lang = 'en' GROUP BY b),
         |rawc AS (
         |  SELECT b, CAST(count(*) AS BIGINT) AS cr
         |  FROM feats WHERE lang <> 'en' GROUP BY b),
         |stats0 AS (
         |  SELECT r.b, r.cr, coalesce(t.ct, 0) AS ct
         |  FROM rawc r LEFT JOIN tgt t ON r.b = t.b),
         |stats AS (
         |  SELECT b, ${lgMicroSql("ct + 1", "l1")}
         |           - ${lgMicroSql("cr + 1", "l2")} AS wgt
         |  FROM stats0),
         |totals AS (
         |  SELECT ${lgMicroSql("nt", "l3")}
         |           - ${lgMicroSql("nr", "l4")} AS base
         |  FROM (
         |    SELECT sum(ct) + $DsirB AS nt, sum(cr) + $DsirB AS nr
         |    FROM stats0)),
         |dc AS (
         |  SELECT doc_id, lang, b, CAST(count(*) AS BIGINT) AS c
         |  FROM feats WHERE lang <> 'en' GROUP BY doc_id, lang, b),
         |sc AS (
         |  SELECT doc_id, lang, sum(c) AS n_feats, sum(c * wgt) AS s1
         |  FROM dc JOIN stats USING (b) GROUP BY doc_id, lang),
         |fin AS (
         |  SELECT doc_id, lang, n_feats, s1 - n_feats * base AS score_micro
         |  FROM sc CROSS JOIN totals),
         |rk AS (
         |  SELECT *, row_number() OVER (PARTITION BY lang
         |              ORDER BY score_micro DESC, doc_id ASC) AS rn,
         |         count(*) OVER (PARTITION BY lang) AS n
         |  FROM fin)
         |SELECT doc_id, lang, CAST(n_feats AS BIGINT) AS n_feats,
         |       CAST(score_micro AS BIGINT) AS score_micro,
         |       CAST(CASE WHEN rn <= (n + 3) // 4 THEN 1 ELSE 0 END
         |         AS BIGINT) AS sel
         |FROM rk ORDER BY doc_id ASC""".stripMargin
    },
    "q_text_colloc" ->
      """WITH tk AS (
        |  SELECT string_split(text, ' ') AS tk FROM documents),
        |uni AS (
        |  SELECT t, CAST(count(*) AS BIGINT) AS n
        |  FROM (SELECT unnest(tk) AS t FROM tk) GROUP BY t),
        |bi_all AS (
        |  SELECT p[1] AS a, p[2] AS b, CAST(count(*) AS BIGINT) AS n_ab
        |  FROM (
        |    SELECT unnest(list_transform(range(1, len(tk)),
        |             i -> [tk[i], tk[i + 1]])) AS p
        |    FROM tk WHERE len(tk) >= 2)
        |  GROUP BY a, b),
        |tot AS (
        |  SELECT CAST(sum(len(tk)) AS BIGINT) AS nu,
        |         CAST(sum(CASE WHEN len(tk) >= 2 THEN len(tk) - 1
        |                       ELSE 0 END) AS BIGINT) AS nb
        |  FROM tk)
        |SELECT bi.a, bi.b, bi.n_ab, ua.n AS n_a, ub.n AS n_b,
        |       CAST(((((bi.n_ab * tot.nu) // ua.n) * tot.nu) // ub.n)
        |         * 1000000 // tot.nb AS BIGINT) AS lift_ppm
        |FROM bi_all bi
        |JOIN uni ua ON bi.a = ua.t
        |JOIN uni ub ON bi.b = ub.t
        |CROSS JOIN tot
        |WHERE bi.n_ab >= 5
        |ORDER BY lift_ppm DESC, bi.a ASC, bi.b ASC
        |LIMIT 20""".stripMargin,
    "q_text_entropy" -> entropyOracleSql,
    // the native twin is value-identical by construction (lg_micro is
    // table-exact on n <= 128) and shares the oracle verbatim
    "q_text_entropy_native" -> entropyOracleSql,
    "q_text_rarity" ->
      """WITH occ AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS tok
        |  FROM documents),
        |dfs AS (
        |  SELECT tok, count(*) AS df FROM (
        |    SELECT DISTINCT doc_id, tok FROM occ)
        |  GROUP BY tok)
        |SELECT doc_id, count(*) AS n_toks,
        |       CAST(sum(1000000 // df) AS BIGINT) AS rarity,
        |       CAST(sum(1000000 // df) // count(*) AS BIGINT)
        |         AS rarity_per_tok
        |FROM occ JOIN dfs USING (tok)
        |GROUP BY doc_id
        |ORDER BY doc_id ASC""".stripMargin,
    "q_text_qfilter" ->
      """WITH scored AS (
        |  SELECT doc_id, lang,
        |         CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT)
        |           * 1000
        |         + len(string_split(text, ' ')) AS score
        |  FROM documents),
        |ranked AS (
        |  SELECT *, row_number() OVER (PARTITION BY lang
        |            ORDER BY score ASC, doc_id ASC) AS rn,
        |         count(*) OVER (PARTITION BY lang) AS n
        |  FROM scored),
        |th AS (
        |  SELECT lang,
        |         CAST(sum(CASE WHEN rn = (n - 1) // 4 + 1
        |                  THEN score * (4 - (n - 1) % 4)
        |                  ELSE score * ((n - 1) % 4) END) AS BIGINT) AS thresh_x4
        |  FROM ranked
        |  WHERE rn = (n - 1) // 4 + 1 OR rn = (n - 1) // 4 + 2
        |  GROUP BY lang)
        |SELECT scored.lang,
        |       count(*) AS n_docs,
        |       max(thresh_x4) AS thresh_x4,
        |       CAST(sum(CASE WHEN score * 4 >= thresh_x4 THEN 1 ELSE 0 END)
        |         AS BIGINT) AS n_kept,
        |       min(CASE WHEN score * 4 >= thresh_x4 THEN score END)
        |         AS min_kept_score,
        |       max(CASE WHEN score * 4 < thresh_x4 THEN score END)
        |         AS max_dropped_score
        |FROM scored JOIN th ON scored.lang = th.lang
        |GROUP BY scored.lang
        |ORDER BY scored.lang ASC""".stripMargin,
    "q_text_cdc" ->
      """WITH tk AS (
        |  SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |p AS (
        |  SELECT doc_id, unnest(range(0, len(t))) AS pos, t FROM tk),
        |v AS (
        |  SELECT doc_id, pos,
        |         CAST(ascii(t[pos + 1]) * 961
        |            + ascii(t[pos + 1][-1:]) * 31
        |            + len(t[pos + 1]) AS BIGINT) AS v
        |  FROM p),
        |w AS (
        |  SELECT *, (lag(v, 2) OVER win * 31 + lag(v, 1) OVER win) * 31 + v
        |         AS raw
        |  FROM v WINDOW win AS (PARTITION BY doc_id ORDER BY pos ASC)),
        |b AS (
        |  SELECT doc_id, pos, v,
        |         CASE WHEN pos = 0 THEN 1
        |              WHEN pos >= 2 AND (raw % 1048576) % 8 = 0 THEN 1
        |              ELSE 0 END AS brk
        |  FROM w),
        |c AS (
        |  SELECT *, sum(brk) OVER (PARTITION BY doc_id ORDER BY pos ASC
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - 1
        |         AS chunk_id
        |  FROM b)
        |SELECT doc_id, CAST(chunk_id AS BIGINT) AS chunk_id,
        |       count(*) AS n_toks,
        |       CAST(min(pos) AS BIGINT) AS start_pos,
        |       CAST(sum(v) AS BIGINT) AS sum_v
        |FROM c
        |GROUP BY doc_id, chunk_id
        |ORDER BY doc_id ASC, chunk_id ASC""".stripMargin,
    "q_text_docsim" ->
      """WITH toks AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS tok
        |  FROM documents),
        |tf AS (
        |  SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS tf
        |  FROM toks GROUP BY doc_id, tok),
        |dft AS (SELECT tok, count(*) AS df FROM tf GROUP BY tok),
        |keep AS (
        |  SELECT tok FROM dft
        |  WHERE df <= least((SELECT count(*) FROM documents) // 4, 500)),
        |v AS (SELECT tf.doc_id, tf.tok, tf.tf FROM tf JOIN keep USING (tok))
        |SELECT a.doc_id AS a_id, b.doc_id AS b_id,
        |       CAST(sum(a.tf * b.tf) AS BIGINT) AS dot
        |FROM v a JOIN v b ON a.tok = b.tok AND a.doc_id < b.doc_id
        |GROUP BY a_id, b_id
        |ORDER BY dot DESC, a_id ASC, b_id ASC
        |LIMIT 20""".stripMargin,
    "q_text_ngram_dup" ->
      """WITH toks AS (
        |  SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
        |grams AS (
        |  SELECT doc_id,
        |         unnest(list_distinct(list_transform(range(1, len(tk) - 3),
        |           i -> tk[i] || ' ' || tk[i + 1] || ' ' || tk[i + 2]
        |                || ' ' || tk[i + 3] || ' ' || tk[i + 4]))) AS g
        |  FROM toks),
        |dfs AS (SELECT g, count(*) AS df FROM grams GROUP BY g)
        |SELECT doc_id, count(*) AS n_grams,
        |       CAST(sum(CASE WHEN df >= 2 THEN 1 ELSE 0 END) AS BIGINT)
        |         AS n_dup,
        |       CAST(sum(CASE WHEN df >= 2 THEN 1 ELSE 0 END) AS BIGINT)
        |         * 1000 // count(*) AS dup_permille
        |FROM grams JOIN dfs USING (g)
        |GROUP BY doc_id
        |HAVING n_dup > 0
        |ORDER BY doc_id ASC""".stripMargin,
    "q_text_pipeline" ->
      (s"""WITH base AS (
        |  SELECT doc_id, lang,
        |         string_split(regexp_replace(text, '$scrubPattern',
        |           '[REDACTED]', 'g'), ' ') AS stoks
        |  FROM documents),
        |flags AS (
        |  SELECT doc_id, lang, stoks,
        |         len(stoks) AS n_tokens,
        |         len(list_filter(stoks, t -> t IN ('the', 'a'))) AS stop_cnt
        |  FROM base),
        |ok AS (
        |  SELECT *,
        |         CAST(stop_cnt AS DOUBLE) / n_tokens <= 0.2
        |           AND n_tokens >= 5 AS ok
        |  FROM flags),
        |ded AS (
        |  SELECT lang, count(*) AS n_unique FROM (
        |    SELECT lang, array_to_string(list_sort(list_distinct(stoks)), ' ') AS sig,
        |           min(doc_id)
        |    FROM ok WHERE ok GROUP BY lang, sig)
        |  GROUP BY lang)
        |SELECT f.lang, count(*) AS n_raw,
        |       CAST(sum(CASE WHEN ok THEN 1 ELSE 0 END) AS BIGINT) AS n_quality,
        |       coalesce(any_value(ded.n_unique), 0) AS n_unique
        |FROM ok f LEFT JOIN ded ON f.lang = ded.lang
        |GROUP BY f.lang
        |ORDER BY f.lang ASC""").stripMargin,
    "q_text_invindex" ->
      """WITH x AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS tok
        |  FROM documents),
        |tf AS (
        |  SELECT tok, doc_id, count(*) AS tf FROM x GROUP BY tok, doc_id)
        |SELECT tok, count(*) AS df, CAST(sum(tf) AS BIGINT) AS cf,
        |       min(doc_id) AS first_doc, max(doc_id) AS last_doc
        |FROM tf GROUP BY tok
        |ORDER BY tok ASC""".stripMargin,
    "q_text_salient" ->
      """WITH x AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS tok
        |  FROM documents),
        |tf AS (
        |  SELECT doc_id, tok, count(*) AS tf FROM x GROUP BY doc_id, tok),
        |dfx AS (
        |  SELECT tok, count(*) AS df FROM tf GROUP BY tok)
        |SELECT doc_id, tok, tf, df, rn FROM (
        |  SELECT tf.doc_id, tf.tok, tf.tf, dfx.df,
        |         CAST(row_number() OVER (PARTITION BY tf.doc_id
        |              ORDER BY tf.tf DESC, dfx.df ASC, tf.tok ASC)
        |           AS BIGINT) AS rn
        |  FROM tf JOIN dfx ON tf.tok = dfx.tok)
        |WHERE rn <= 3
        |ORDER BY doc_id ASC, rn ASC""".stripMargin,
    "q_text_repetition" ->
      """WITH t AS (
        |  SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
        |b AS (
        |  SELECT doc_id, len(tk) AS n_tokens,
        |         len(list_distinct(tk)) AS n_uniq,
        |         unnest(list_transform(range(1, len(tk)),
        |           i -> tk[i] || ' ' || tk[i + 1])) AS bg
        |  FROM t),
        |g AS (
        |  SELECT doc_id, n_tokens, n_uniq, bg, count(*) AS c
        |  FROM b GROUP BY doc_id, n_tokens, n_uniq, bg),
        |r AS (
        |  SELECT *, row_number() OVER (PARTITION BY doc_id
        |            ORDER BY c DESC, bg ASC) AS rn
        |  FROM g)
        |SELECT doc_id,
        |       CAST(n_tokens AS BIGINT) AS n_tokens,
        |       CAST(n_uniq AS BIGINT) AS n_uniq,
        |       1.0 - CAST(n_uniq AS DOUBLE) / n_tokens AS dup_ratio,
        |       bg AS top_bigram, c AS top_bigram_cnt,
        |       CAST(c AS DOUBLE) / (n_tokens - 1) AS top_bigram_frac
        |FROM r WHERE rn = 1
        |ORDER BY doc_id ASC""".stripMargin,
    "q_text_scrub" ->
      (s"""WITH t AS (
        |  SELECT source,
        |         len(regexp_extract_all(text, '$scrubPattern')) AS n_hits,
        |         len(regexp_replace(text, '$scrubPattern', '[REDACTED]', 'g'))
        |           - len(text) AS delta
        |  FROM documents)
        |SELECT source, count(*) AS n_docs,
        |       CAST(sum(n_hits) AS BIGINT) AS n_redactions,
        |       CAST(sum(CASE WHEN n_hits > 0 THEN 1 ELSE 0 END) AS BIGINT)
        |         AS n_docs_affected,
        |       CAST(sum(delta) AS BIGINT) AS len_delta
        |FROM t GROUP BY source ORDER BY source ASC""").stripMargin,
    // No explode needed oracle-side: the mixture arithmetic aggregates.
    "q_text_mix" ->
      """WITH c AS (
        |  SELECT lang, doc_id,
        |         (CASE lang WHEN 'en' THEN 200 WHEN 'de' THEN 150
        |               WHEN 'fr' THEN 100 ELSE 50 END) // 100
        |         + CASE WHEN doc_id % 100 <
        |             (CASE lang WHEN 'en' THEN 200 WHEN 'de' THEN 150
        |                   WHEN 'fr' THEN 100 ELSE 50 END) % 100
        |           THEN 1 ELSE 0 END AS n_copies
        |  FROM documents)
        |SELECT lang,
        |       CAST(count(*) AS BIGINT) AS n_docs,
        |       CAST(sum(n_copies) AS BIGINT) AS n_resampled,
        |       CAST(sum(n_copies) AS BIGINT)::DOUBLE
        |         / count(*) AS rate
        |FROM c
        |GROUP BY lang
        |ORDER BY lang ASC""".stripMargin,
    "q_text_pack" ->
      """WITH toks AS (
        |  SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
        |nc AS (
        |  SELECT doc_id, tk,
        |         1 + (greatest(len(tk) - 8, 0) + 5) // 6 AS n
        |  FROM toks),
        |ch AS (
        |  SELECT doc_id, unnest(range(0, n)) AS chunk_id, tk
        |  FROM nc),
        |cht AS (
        |  SELECT doc_id, chunk_id,
        |         len(tk[chunk_id * 6 + 1 : chunk_id * 6 + 8]) AS chunk_tokens
        |  FROM ch),
        |wk AS (
        |  SELECT doc_id // 100 AS shard, chunk_tokens,
        |         sum(chunk_tokens) OVER (PARTITION BY doc_id // 100
        |             ORDER BY doc_id ASC, chunk_id ASC
        |             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |  FROM cht)
        |SELECT CAST(shard AS BIGINT) AS shard,
        |       CAST((cum - chunk_tokens) // 64 AS BIGINT) AS seq_id,
        |       CAST(count(*) AS BIGINT) AS n_chunks,
        |       CAST(sum(chunk_tokens) AS BIGINT) AS seq_tokens
        |FROM wk
        |GROUP BY shard, seq_id
        |ORDER BY shard ASC, seq_id ASC""".stripMargin,
    "q_text_decontam" ->
      """WITH toks AS (
        |  SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
        |sh AS (
        |  SELECT doc_id,
        |         unnest(list_distinct(list_transform(range(1, len(tk) - 1),
        |           i -> tk[i] || ' ' || tk[i + 1] || ' ' || tk[i + 2]))) AS tg
        |  FROM toks),
        |ev AS (SELECT DISTINCT tg FROM sh WHERE doc_id % 97 = 0)
        |SELECT doc_id,
        |       CAST(count(DISTINCT tg) AS BIGINT) AS shared_shingles
        |FROM sh JOIN ev USING (tg)
        |WHERE doc_id % 97 <> 0
        |GROUP BY doc_id
        |HAVING count(DISTINCT tg) >= 2
        |ORDER BY doc_id ASC""".stripMargin,
    "q_text_chunk" ->
      """WITH toks AS (
        |  SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
        |nc AS (
        |  SELECT doc_id, tk,
        |         1 + (greatest(len(tk) - 8, 0) + 5) // 6 AS n
        |  FROM toks),
        |ch AS (
        |  SELECT doc_id, unnest(range(0, n)) AS chunk_id, tk
        |  FROM nc)
        |SELECT doc_id, CAST(chunk_id AS BIGINT) AS chunk_id,
        |       array_to_string(tk[chunk_id * 6 + 1 : chunk_id * 6 + 8], ' ')
        |         AS chunk,
        |       CAST(len(tk[chunk_id * 6 + 1 : chunk_id * 6 + 8]) AS BIGINT)
        |         AS chunk_tokens
        |FROM ch
        |ORDER BY doc_id ASC, chunk_id ASC""".stripMargin,
    "q_text_bpe_train" -> bpeTrainSql(4),
    "q_text_bpe" ->
      """SELECT doc_id,
        |       len(string_split(text, ' ')) AS n_ws,
        |       len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS n_bpe,
        |       CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS DOUBLE)
        |         / len(string_split(text, ' ')) AS pieces_per_word
        |FROM documents
        |ORDER BY doc_id ASC""".stripMargin,
    "q_text_tokens" ->
      """SELECT word, count(*) AS cnt
        |FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
        |GROUP BY word
        |ORDER BY cnt DESC, word ASC
        |LIMIT 20""".stripMargin,
    "q_text_rake" ->
      """WITH tk0 AS (
        |  SELECT doc_id, unnest(list_transform(range(1, len(tk) + 1),
        |           i -> struct_pack(p := i, tok := tk[i]))) AS s
        |  FROM (SELECT doc_id, string_split(text, ' ') AS tk FROM documents)),
        |tok0 AS (
        |  SELECT doc_id, s.p AS p, s.tok AS tok,
        |         CASE WHEN s.tok IN ('the', 'a') THEN 1 ELSE 0 END AS stop
        |  FROM tk0),
        |tokw AS (
        |  SELECT doc_id, p, tok, stop,
        |         sum(stop) OVER (PARTITION BY doc_id ORDER BY p) AS pid
        |  FROM tok0),
        |tok AS (SELECT doc_id, p, tok, pid FROM tokw WHERE stop = 0),
        |ph AS (
        |  SELECT doc_id, pid, CAST(count(*) AS BIGINT) AS plen
        |  FROM tok GROUP BY 1, 2),
        |wsc AS (
        |  SELECT t.tok,
        |         CAST((1000000 * sum(ph.plen)) // count(*) AS BIGINT) AS ws
        |  FROM tok t JOIN ph ON t.doc_id = ph.doc_id AND t.pid = ph.pid
        |  GROUP BY t.tok),
        |phr AS (
        |  SELECT t.doc_id, t.pid,
        |         string_agg(t.tok, ' ' ORDER BY t.p) AS phrase,
        |         CAST(sum(w.ws) AS BIGINT) AS score_micro
        |  FROM tok t JOIN wsc w ON t.tok = w.tok
        |  GROUP BY t.doc_id, t.pid)
        |SELECT phrase, CAST(count(*) AS BIGINT) AS n_occur,
        |       CAST(min(score_micro) AS BIGINT) AS score_micro
        |FROM phr GROUP BY phrase
        |ORDER BY score_micro DESC, phrase ASC
        |LIMIT 20""".stripMargin,
    "q_text_readability" ->
      """SELECT doc_id,
        |       CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words,
        |       CAST(len(regexp_extract_all(text, '[aeiou]+')) AS BIGINT)
        |         AS n_syl,
        |       CAST((1000 * len(string_split(text, ' ')))
        |         // greatest(1, len(regexp_extract_all(text, '[.!?]')))
        |         AS BIGINT) AS wps_milli,
        |       CAST((1000 * len(regexp_extract_all(text, '[aeiou]+')))
        |         // len(string_split(text, ' ')) AS BIGINT) AS spw_milli,
        |       CAST(206835
        |         - (1015 * ((1000 * len(string_split(text, ' ')))
        |             // greatest(1, len(regexp_extract_all(text, '[.!?]')))))
        |             // 1000
        |         - (84600 * ((1000 * len(regexp_extract_all(text, '[aeiou]+')))
        |             // len(string_split(text, ' ')))) // 1000
        |         AS BIGINT) AS flesch_milli
        |FROM documents
        |ORDER BY doc_id ASC""".stripMargin,
    "q_text_stats" ->
      """SELECT lang, count(*) AS n_docs,
        |       CAST(sum(n_chars) AS BIGINT) AS sum_chars,
        |       CAST(sum(CASE WHEN n_chars = length(text) THEN 1 ELSE 0 END) AS BIGINT) AS n_consistent,
        |       CAST(sum(n_chars) AS DOUBLE) / count(*) AS avg_chars
        |FROM documents
        |GROUP BY lang
        |ORDER BY lang ASC""".stripMargin,
    "q_dedup_exact" ->
      """SELECT lang, source, min(doc_id) AS keeper, count(*) AS cnt
        |FROM documents
        |GROUP BY lang, source
        |ORDER BY lang ASC, source ASC""".stripMargin,
    "q_dedup_norm" ->
      """SELECT array_to_string(list_sort(list_distinct(string_split(text, ' '))), ' ') AS sig,
        |       count(*) AS cnt, min(doc_id) AS keeper
        |FROM documents
        |GROUP BY sig
        |ORDER BY cnt DESC, sig ASC
        |LIMIT 100""".stripMargin,
    "q_text_quality" ->
      """SELECT doc_id,
        |       len(string_split(text, ' ')) AS n_tokens,
        |       len(list_distinct(string_split(text, ' '))) AS n_uniq,
        |       len(list_filter(string_split(text, ' '),
        |           t -> list_contains(['the', 'a'], t))) AS stop_cnt,
        |       CAST(len(list_filter(string_split(text, ' '),
        |           t -> list_contains(['the', 'a'], t))) AS DOUBLE)
        |         / len(string_split(text, ' ')) AS stop_ratio,
        |       CAST(n_chars - (len(string_split(text, ' ')) - 1) AS DOUBLE)
        |         / len(string_split(text, ' ')) AS avg_tok_len,
        |       CASE WHEN CAST(len(list_filter(string_split(text, ' '),
        |                t -> list_contains(['the', 'a'], t))) AS DOUBLE)
        |              / len(string_split(text, ' ')) > 0.2 THEN 'low'
        |            WHEN len(string_split(text, ' ')) >= 40 THEN 'long'
        |            ELSE 'ok' END AS quality
        |FROM documents
        |ORDER BY doc_id ASC""".stripMargin,
    "q_text_lid_eval" ->
      (s"""WITH prof(lang_p, tg, w) AS (VALUES
        |  ${langProfiles.map { case (l, t, w) => s"('$l', '$t', $w)" }
             .mkString(",\n  ")}),
        |tg AS (
        |  SELECT doc_id, unnest(list_transform(range(1, length(text) - 1),
        |         i -> substr(text, CAST(i AS INT), 3))) AS tg
        |  FROM documents),
        |sc AS (
        |  SELECT doc_id, lang_p, CAST(sum(w) AS BIGINT) AS score
        |  FROM tg JOIN prof USING (tg)
        |  GROUP BY doc_id, lang_p),
        |best AS (
        |  SELECT doc_id, lang_p, score,
        |         row_number() OVER (PARTITION BY doc_id
        |                            ORDER BY score DESC, lang_p ASC) AS rn
        |  FROM sc),
        |per_doc AS (
        |  SELECT d.doc_id, d.lang, coalesce(b.lang_p, 'und') AS guess
        |  FROM documents d
        |  LEFT JOIN (SELECT * FROM best WHERE rn = 1) b USING (doc_id)),
        |cm AS (
        |  SELECT lang, guess, count(*) AS n_docs
        |  FROM per_doc GROUP BY lang, guess)
        |SELECT lang, guess, n_docs,
        |       CAST(sum(n_docs) OVER (PARTITION BY lang) AS BIGINT)
        |         AS lang_total,
        |       CAST(n_docs * 1000 // sum(n_docs) OVER (PARTITION BY lang)
        |         AS BIGINT) AS share_pm,
        |       CASE WHEN lang = guess THEN CAST(1 AS BIGINT)
        |            ELSE CAST(0 AS BIGINT) END AS hit
        |FROM cm
        |ORDER BY lang ASC, guess ASC""").stripMargin,
    "q_text_langid" ->
      (s"""WITH prof(lang_p, tg, w) AS (VALUES
        |  ${langProfiles.map { case (l, t, w) => s"('$l', '$t', $w)" }
             .mkString(",\n  ")}),
        |tg AS (
        |  SELECT doc_id, unnest(list_transform(range(1, length(text) - 1),
        |         i -> substr(text, CAST(i AS INT), 3))) AS tg
        |  FROM documents),
        |sc AS (
        |  SELECT doc_id, lang_p, CAST(sum(w) AS BIGINT) AS score
        |  FROM tg JOIN prof USING (tg)
        |  GROUP BY doc_id, lang_p),
        |best AS (
        |  SELECT doc_id, lang_p, score,
        |         row_number() OVER (PARTITION BY doc_id
        |                            ORDER BY score DESC, lang_p ASC) AS rn
        |  FROM sc)
        |SELECT d.doc_id, d.lang,
        |       coalesce(b.lang_p, 'und') AS guess,
        |       CAST(coalesce(b.score, 0) AS BIGINT) AS score
        |FROM documents d
        |LEFT JOIN (SELECT * FROM best WHERE rn = 1) b USING (doc_id)
        |ORDER BY doc_id ASC""").stripMargin,
    "q_text_fingerprint" ->
      """SELECT doc_id,
        |       list_reduce(
        |         list_prepend(CAST(0 AS BIGINT),
        |           list_transform(string_split(text, ' '),
        |             t -> CAST(length(t) * 31 + ascii(substr(t, 1, 1)) AS BIGINT))),
        |         (h, x) -> (h * 131 + x) % 1000000007) AS fp
        |FROM documents
        |ORDER BY doc_id ASC""".stripMargin
  )
}
