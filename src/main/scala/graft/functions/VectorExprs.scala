package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{DataType, DoubleType, FloatType, ArrayType, LongType, StringType, StructField, StructType}

/** Native Catalyst expression for the similarity family's hot loop: the
  * dot product of two numeric arrays, accumulated as a sequential
  * left-fold of per-element double products.
  *
  * Why a custom Expression (SURVEY §2.12 / builder-prompt preference
  * order): the `aggregate(zip_with(...))` higher-order formulation is
  * interpreted per element — fine for correctness, but the pair loop of a
  * blocked all-pairs similarity join evaluates it O(pairs·dim) times.
  * `doGenCode` emits a tight Java loop inside whole-stage codegen instead.
  *
  * Determinism contract: identical fold order and per-element
  * cast-to-double as both the HOF formulation and the DuckDB oracle
  * (`list_reduce(list_prepend(0.0, list_transform(list_zip(a, b), ...)))`),
  * so results are bit-identical to the interpreted path.
  *
  * Elements are assumed non-null (enforced by the embeddings data
  * contract; FIXTURES.md measures no NULLs).
  */
case class DotProduct(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    def ok(dt: DataType) = dt match {
      case ArrayType(FloatType | DoubleType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType))
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"vec_dot expects array<float|double> inputs, got " +
          s"${left.dataType.simpleString}, ${right.dataType.simpleString}")
  }

  private def elemIsFloat(e: Expression): Boolean = e.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    // Contract: mismatched lengths truncate to the shorter input (zip
    // semantics), mirroring the DuckDB list_zip oracle formulation where
    // the trailing unmatched elements contribute nothing. Callers that
    // need strict dimensionality should validate upstream — a raise here
    // would poison whole-stage codegen paths with per-row branching.
    val n = math.min(x.numElements(), y.numElements())
    val lf = elemIsFloat(left); val rf = elemIsFloat(right)
    var s = 0.0
    var i = 0
    while (i < n) {
      val xv = if (lf) x.getFloat(i).toDouble else x.getDouble(i)
      val yv = if (rf) y.getFloat(i).toDouble else y.getDouble(i)
      s += xv * yv
      i += 1
    }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (x, y) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val acc = ctx.freshName("acc")
      val xv = if (elemIsFloat(left)) s"(double) $x.getFloat($i)" else s"$x.getDouble($i)"
      val yv = if (elemIsFloat(right)) s"(double) $y.getFloat($i)" else s"$y.getDouble($i)"
      s"""
         |int $n = java.lang.Math.min($x.numElements(), $y.numElements());
         |double $acc = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $acc += $xv * $yv;
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Native Catalyst expression for the dedup family's hot loop: all
  * MinHash permutation minima of a shingle array in one codegen'd pass.
  *
  * Equivalent declarative forms both lose: explode → groupBy(min×k)
  * shuffles the entire exploded shingle stream (the corpus, multiplied,
  * over the network at 100 TB), and the narrow `transform`/`array_min`
  * higher-order formulation is interpreted per element with an array
  * allocation per permutation (measured ~3× slower than the shuffle it
  * avoided). This expression keeps the narrow no-shuffle shape AND the
  * tight loop: hash each shingle once (the same XXH64(seed=42) the SQL
  * `xxhash64` uses — MinhashParitySpec pins equality with the SQL-function
  * formulation), fold into [0, p), update k running minima in registers.
  *
  * Empty input arrays yield the sentinel signature (all p): callers drop
  * shingle-less docs upstream, where the row still carries WHY (size = 0),
  * rather than downstream where a sentinel collides all of them into the
  * same LSH buckets. */
/** Affine-permutation parameters shared by BOTH MinHash families (the
  * xxhash64 fast path and the md5 oracled path) and by the oracle-SQL
  * generators that paste these values as literals.
  *
  * a_i/b_i are derived per index through splitmix64 finalization (the
  * public Steele–Lea–Flood mixing constants), NOT the earlier linear
  * ladder a_i = A·(i+1), b_i = B·(i+1). That ladder is degenerate:
  * a_i·h + b_i = (i+1)·(A·h + B) mod p, i.e. every "permutation" is a
  * scalar multiple of ONE value, so for small multipliers the token
  * with the globally smallest A·h+B stays the argmin of EVERY
  * permutation and the whole signature collapses to roughly one
  * effective bit — membership of that single token. Measured on the
  * fixture corpus: token-set pairs at true J = 0.9 agreed on 1 of 32
  * components (expected ≈ 29), which silently destroyed banding
  * recall. Independent mixed parameters restore P[m_i(A)=m_i(B)] ≈ J
  * per component and the (1−J^r)^b banding arithmetic the LSH
  * machinery's recall arguments rest on. */
object MinHashParams {
  val P = 2147483647L // 2^31 - 1 (Mersenne prime)

  private def mix(x: Long): Long = {
    var z = x * 0x9e3779b97f4a7c15L + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  /** Multiplier in [1, p−1] (never 0 mod p) — keeps a_i·h + b_i < 2^62,
    * overflow-free under ANSI arithmetic on both engines. */
  def a(i: Int): Long = java.lang.Math.floorMod(mix(2L * i), P - 1) + 1

  /** Offset in [0, p). */
  def b(i: Int): Long = java.lang.Math.floorMod(mix(2L * i + 1), P)
}

case class MinHashSigs(child: Expression, numPerms: Int)
    extends UnaryExpression {

  private val P = MinHashParams.P
  // lazy vals, not defs: deterministic in numPerms, and the interpreted
  // nullSafeEval path would otherwise re-tabulate both permutation arrays
  // on every row (lazy rather than strict so (de)serialized copies on
  // executors rebuild on first use instead of shipping state).
  @transient private lazy val aArr: Array[Long] =
    Array.tabulate(numPerms)(MinHashParams.a)
  @transient private lazy val bArr: Array[Long] =
    Array.tabulate(numPerms)(MinHashParams.b)

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(StringType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case dt =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"minhash_sigs expects array<string>, got ${dt.simpleString}")
    }

  override protected def nullSafeEval(v: Any): Any = {
    val arr = v.asInstanceOf[ArrayData]
    val a = aArr; val b = bArr
    val mins = Array.fill(numPerms)(P)
    var j = 0
    while (j < arr.numElements()) {
      val h0 = org.apache.spark.sql.catalyst.expressions.XXH64
        .hashUTF8String(arr.getUTF8String(j), 42L)
      var h = h0 % P; if (h < 0) h += P // pmod, as the SQL formulation
      var i = 0
      while (i < numPerms) {
        val x = (h * a(i) + b(i)) % P
        if (x < mins(i)) mins(i) = x
        i += 1
      }
      j += 1
    }
    new GenericArrayData(mins)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val aRef = ctx.addReferenceObj("minhashA", aArr, "long[]")
    val bRef = ctx.addReferenceObj("minhashB", bArr, "long[]")
    nullSafeCodeGen(ctx, ev, x => {
      val j = ctx.freshName("j")
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val h = ctx.freshName("h")
      val v = ctx.freshName("v")
      val mins = ctx.freshName("mins")
      s"""
         |int $n = $x.numElements();
         |long[] $mins = new long[$numPerms];
         |java.util.Arrays.fill($mins, ${P}L);
         |for (int $j = 0; $j < $n; $j++) {
         |  long $h = org.apache.spark.sql.catalyst.expressions.XXH64
         |    .hashUTF8String($x.getUTF8String($j), 42L) % ${P}L;
         |  if ($h < 0) $h += ${P}L;
         |  for (int $i = 0; $i < $numPerms; $i++) {
         |    long $v = ($h * $aRef[$i] + $bRef[$i]) % ${P}L;
         |    if ($v < $mins[$i]) $mins[$i] = $v;
         |  }
         |}
         |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($mins);
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** The md5-hashed sibling of [[MinHashSigs]] for the ORACLED MinHash
  * family: hash = the first 4 digest bytes of MD5(shingle) read
  * big-endian — exactly the value DuckDB computes by folding the first 8
  * hex chars of `md5(x)` (graft.operators.DetHash), so signatures stay
  * cross-engine exact while the per-row work is one fused JVM loop
  * instead of numPerms interpreted higher-order lambda passes (measured
  * ~3× on q_dedup_est_err). Same affine permutation family and sentinel
  * semantics as [[MinHashSigs]]. */
case class Md5MinHashSigs(child: Expression, numPerms: Int)
    extends UnaryExpression {

  private val P = MinHashParams.P
  @transient private lazy val aArr: Array[Long] =
    Array.tabulate(numPerms)(MinHashParams.a)
  @transient private lazy val bArr: Array[Long] =
    Array.tabulate(numPerms)(MinHashParams.b)

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(StringType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case dt =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"md5_minhash_sigs expects array<string>, got ${dt.simpleString}")
    }

  override protected def nullSafeEval(v: Any): Any =
    Md5MinHashSigs.compute(v.asInstanceOf[ArrayData], aArr, bArr)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val aRef = ctx.addReferenceObj("md5mhA", aArr, "long[]")
    val bRef = ctx.addReferenceObj("md5mhB", bArr, "long[]")
    nullSafeCodeGen(ctx, ev, x =>
      s"${ev.value} = graft.functions.Md5MinHashSigs.compute($x, $aRef, $bRef);")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object Md5MinHashSigs {
  private val P = 2147483647L
  private val md = ThreadLocal.withInitial(
    new java.util.function.Supplier[java.security.MessageDigest] {
      def get(): java.security.MessageDigest =
        java.security.MessageDigest.getInstance("MD5")
    })

  /** Static entry shared by the interpreted and generated paths. */
  def compute(arr: ArrayData, a: Array[Long], b: Array[Long]): GenericArrayData = {
    val digest = md.get()
    val k = a.length
    val mins = Array.fill(k)(P)
    var j = 0
    while (j < arr.numElements()) {
      val dg = digest.digest(arr.getUTF8String(j).getBytes)
      // first 4 digest bytes big-endian ≡ the first-8-hex-chars fold
      val h = (((dg(0) & 0xffL) << 24) | ((dg(1) & 0xffL) << 16) |
        ((dg(2) & 0xffL) << 8) | (dg(3) & 0xffL)) % P
      var i = 0
      while (i < k) {
        val x = (h * a(i) + b(i)) % P
        if (x < mins(i)) mins(i) = x
        i += 1
      }
      j += 1
    }
    new GenericArrayData(mins)
  }
}

/** Native Catalyst expression for the SimHash dedup hot loop: the 32-bit
  * frequency-weighted SimHash of a shingle array in one codegen'd pass —
  * hash each shingle once, accumulate 32 per-bit ±1 votes in registers,
  * emit the sign bits. Same rationale as [[MinHashSigs]]: a signature is
  * a per-document property, so explode → 32-column vote aggregate pays a
  * corpus-wide shuffle for a narrow map's worth of work.
  *
  * The shingle hash is the oracle-shared polynomial char hash (seed 7,
  * ×131, mod 2^31−1), evaluated over the string's BYTES — identical to
  * the oracle's per-character ord() fold on this corpus's ASCII text
  * (the documents data contract; non-ASCII would need codepoint
  * iteration on both sides). Empty arrays yield sig 0 — callers drop
  * shingle-less docs upstream, as with MinHashSigs sentinels. */
case class SimHashSig(child: Expression) extends UnaryExpression {

  private val P = 2147483647L // 2^31 - 1

  override def dataType: DataType = LongType

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(StringType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case dt =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"simhash_sig expects array<string>, got ${dt.simpleString}")
    }

  override protected def nullSafeEval(v: Any): Any = {
    val arr = v.asInstanceOf[ArrayData]
    val votes = new Array[Int](32)
    var j = 0
    while (j < arr.numElements()) {
      val s = arr.getUTF8String(j)
      var h = 7L
      var k = 0
      val nb = s.numBytes()
      while (k < nb) { h = (h * 131 + (s.getByte(k) & 0xff)) % P; k += 1 }
      var b = 0
      while (b < 32) {
        if (((h >> b) & 1L) == 1L) votes(b) += 1 else votes(b) -= 1
        b += 1
      }
      j += 1
    }
    var sig = 0L
    var b = 0
    while (b < 32) { if (votes(b) > 0) sig |= (1L << b); b += 1 }
    sig
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, x => {
      val j = ctx.freshName("j")
      val k = ctx.freshName("k")
      val b = ctx.freshName("b")
      val n = ctx.freshName("n")
      val nb = ctx.freshName("nb")
      val h = ctx.freshName("h")
      val s = ctx.freshName("s")
      val votes = ctx.freshName("votes")
      val sig = ctx.freshName("sig")
      s"""
         |int $n = $x.numElements();
         |int[] $votes = new int[32];
         |for (int $j = 0; $j < $n; $j++) {
         |  org.apache.spark.unsafe.types.UTF8String $s = $x.getUTF8String($j);
         |  long $h = 7L;
         |  int $nb = $s.numBytes();
         |  for (int $k = 0; $k < $nb; $k++) {
         |    $h = ($h * 131L + ($s.getByte($k) & 0xff)) % ${P}L;
         |  }
         |  for (int $b = 0; $b < 32; $b++) {
         |    $votes[$b] += ((($h >> $b) & 1L) == 1L) ? 1 : -1;
         |  }
         |}
         |long $sig = 0L;
         |for (int $b = 0; $b < 32; $b++) {
         |  if ($votes[$b] > 0) $sig |= (1L << $b);
         |}
         |${ev.value} = $sig;
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Native Catalyst expression for the language-ID hot loop: ALL per-
  * language summed trigram profile scores of a document in ONE pass over
  * the string — `[(lang, score), ...]` for exactly the languages with at
  * least one profile hit (absent-not-zero, matching the explode+join+agg
  * formulation it replaces row-for-row).
  *
  * Why a custom Expression: the declarative formulation explodes every
  * 3-char window of the corpus (len−2 rows per doc — the corpus
  * multiplied ~1000×), broadcast-joins a 20-row profile table and pays a
  * corpus-wide partial aggregate, all to produce a ≤5-rows-per-doc
  * result. Scoring is a per-document property — same argument as
  * [[MinHashSigs]] — so this slides the window in a tight byte loop,
  * binary-searches the (tiny, sorted) profile key table and accumulates
  * per-language sums in registers: no gram explosion, no join, no
  * aggregate. The downstream shuffle moves docs×≤5 rows instead.
  *
  * Byte windows, char-exact: the oracle-shared formulation windows by
  * CHARACTER (`substring(text, i, 3)`). Profile trigrams are pure ASCII
  * (< 0x80), and every byte of a multi-byte UTF-8 character is ≥ 0x80,
  * so a byte window equals a char window wherever a profile can match
  * and can never fabricate a match across a multi-byte character —
  * scores are identical on ANY input (LidNativeSpec pins row parity
  * against the explode+join path). Strings shorter than 3 bytes yield
  * an empty array (explode drops the doc, as the CASE arm did). */
case class LangTrigramScores(child: Expression,
    profiles: Seq[(String, String, Long)]) extends UnaryExpression {

  @transient private lazy val lut = LangTrigramScores.Lut(profiles)

  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("lang", StringType, nullable = false),
    StructField("score", LongType, nullable = false))), containsNull = false)

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case StringType =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case dt =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"lang_trigram_scores expects string, got ${dt.simpleString}")
    }

  override protected def nullSafeEval(v: Any): Any =
    LangTrigramScores.compute(
      v.asInstanceOf[org.apache.spark.unsafe.types.UTF8String], lut)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val lutRef = ctx.addReferenceObj("lidLut", lut,
      classOf[LangTrigramScores.Lut].getName)
    nullSafeCodeGen(ctx, ev, x =>
      s"${ev.value} = graft.functions.LangTrigramScores.compute($x, $lutRef);")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object LangTrigramScores {
  /** Precompiled profile lookup: trigrams as sorted 24-bit byte keys with
    * aligned (language index, weight) columns; duplicate keys (one
    * trigram in several language profiles) sit adjacent and are walked
    * at match time. Built once per plan, shipped as a codegen reference
    * object. */
  case class Lut(profiles: Seq[(String, String, Long)]) {
    val langs: Array[org.apache.spark.unsafe.types.UTF8String] =
      profiles.map(_._1).distinct.sorted
        .map(org.apache.spark.unsafe.types.UTF8String.fromString).toArray
    private val langIdx = langs.zipWithIndex.map { case (l, i) => l.toString -> i }.toMap
    private val sortedEntries = profiles.map { case (l, tg, w) =>
      val b = tg.getBytes("UTF-8")
      require(b.length == 3 && b.forall(x => (x & 0xff) < 0x80),
        s"profile trigram must be 3 ASCII bytes, got '$tg'")
      ((((b(0) & 0xff) << 16) | ((b(1) & 0xff) << 8) | (b(2) & 0xff),
        langIdx(l), w))
    }.sortBy(e => (e._1, e._2))
    val keys: Array[Int] = sortedEntries.map(_._1).toArray
    val keyLang: Array[Int] = sortedEntries.map(_._2).toArray
    val keyW: Array[Long] = sortedEntries.map(_._3).toArray
  }

  /** Static entry shared by the interpreted and generated paths. */
  def compute(s: org.apache.spark.unsafe.types.UTF8String,
      lut: Lut): ArrayData = {
    val nb = s.numBytes()
    val nLang = lut.langs.length
    val scores = new Array[Long](nLang)
    var any = false
    var i = 0
    while (i <= nb - 3) {
      val key = ((s.getByte(i) & 0xff) << 16) |
        ((s.getByte(i + 1) & 0xff) << 8) | (s.getByte(i + 2) & 0xff)
      var lo = java.util.Arrays.binarySearch(lut.keys, key)
      if (lo >= 0) {
        while (lo > 0 && lut.keys(lo - 1) == key) lo -= 1
        while (lo < lut.keys.length && lut.keys(lo) == key) {
          scores(lut.keyLang(lo)) += lut.keyW(lo)
          any = true
          lo += 1
        }
      }
      i += 1
    }
    if (!any) new GenericArrayData(Array.empty[Any])
    else {
      val out = new scala.collection.mutable.ArrayBuffer[Any](nLang)
      var l = 0
      while (l < nLang) {
        if (scores(l) > 0L)
          out += org.apache.spark.sql.catalyst.InternalRow(lut.langs(l), scores(l))
        l += 1
      }
      new GenericArrayData(out.toArray)
    }
  }
}

/** Custom Generator (the UDTF extension tier, SURVEY §2.12): emit every
  * character n-gram of a string as its own row WITHOUT materializing the
  * gram array per row first — `explode(transform(sequence(...)))` builds
  * the whole array in memory before the Generate node consumes it, which
  * for per-document n-grams means a transient row value proportional to
  * the document. This generator streams grams straight out of the input
  * string. Interpreted (CodegenFallback) like Spark's own JsonTuple —
  * GenerateExec drives it row-by-row either way; the win is the dropped
  * allocation, not codegen. Strings shorter than n yield no rows (same
  * contract as the array-building shingle helpers). */
case class CharNgrams(child: Expression, n: Int)
    extends UnaryExpression
    with org.apache.spark.sql.catalyst.expressions.Generator
    with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {

  require(n >= 1, s"char_ngrams: n must be >= 1, got $n")

  override def elementSchema: StructType =
    StructType(Seq(StructField("gram", StringType, nullable = false)))

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case StringType =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case dt =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"char_ngrams expects string, got ${dt.simpleString}")
    }

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): IterableOnce[org.apache.spark.sql.catalyst.InternalRow] = {
    val v = child.eval(input)
    if (v == null) Iterator.empty
    else {
      val s = v.asInstanceOf[org.apache.spark.unsafe.types.UTF8String].toString
      if (s.length < n) Iterator.empty
      else (0 to s.length - n).iterator.map { i =>
        org.apache.spark.sql.catalyst.InternalRow(
          org.apache.spark.unsafe.types.UTF8String.fromString(s.substring(i, i + n)))
      }
    }
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Native codegen twin of Text.withLgMicro's integer micro-nat log:
  * lg_micro(n) = lnTable(m) + e·ln2_micro for n = m·2^e, e = max(0,
  * bitlen(n) − 7) — the same shared 128-entry table, embedded once as a
  * codegen reference object instead of a 128-row broadcast JOIN per
  * call site. Why a custom Expression: the join formulation costs a
  * build-side + probe per log taken; this emits three integer ops and
  * an array load inside whole-stage codegen — the shape a 100 TB scan
  * wants when a log rides the ROW STREAM rather than a vocab-sized
  * side table. Identity with the join path holds exactly on the join
  * path's whole domain (n ≤ 128: table-exact by construction, incl.
  * n = 128 where round(ln64)+round(ln2) = round(ln128)); LgNativeSpec
  * pins bit-parity against the table join and the spec-side replica.
  * Total function: n < 1 returns 0 (branchless contract — callers
  * guarantee positive counts; a throw would poison codegen). */
case class LgMicro(child: Expression) extends UnaryExpression {

  override def dataType: DataType = LongType

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case LongType => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case dt => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"lg_micro expects a BIGINT input, got ${dt.simpleString}")
    }

  override protected def nullSafeEval(input: Any): Any = {
    val n = input.asInstanceOf[Long]
    if (n < 1L) 0L
    else {
      val e = math.max(0, (64 - java.lang.Long.numberOfLeadingZeros(n)) - 7)
      LgMicro.table((n >> e).toInt - 1) + e.toLong * 693147L
    }
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val tbl = ctx.addReferenceObj("lgMicroTable", LgMicro.table, "long[]")
    nullSafeCodeGen(ctx, ev, n => {
      val e = ctx.freshName("e")
      s"""
         |if ($n < 1L) {
         |  ${ev.value} = 0L;
         |} else {
         |  int $e = java.lang.Math.max(0,
         |    (64 - java.lang.Long.numberOfLeadingZeros($n)) - 7);
         |  ${ev.value} = $tbl[(int) ($n >> $e) - 1] + $e * 693147L;
         |}
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression): LgMicro =
    copy(child = newChild)
}

object LgMicro {
  /** The shared 128-entry micro-nat ln table — the SAME constants
    * Text.lnMicro inlines into every DuckDB oracle. */
  private[graft] val table: Array[Long] =
    (1 to 128).map(k => math.round(math.log(k.toDouble) * 1e6)).toArray
}

/** All a<b packed co-occurrence pairs of a SORTED long-array: position
  * pairs i<j emit ps[i]·2³¹ + ps[j] — exactly the value (and multiset)
  * of Analytics.orderPairs' nested-transform SQL formulation, fused
  * into one JVM loop. Why a custom Expression (the Md5MinHashSigs
  * precedent): `flatten(transform(ps, (x, i) -> transform(slice(ps,
  * i+2, size(ps)), y -> ...)))` re-enters the interpreted higher-order
  * evaluator per element and allocates a slice + result array per outer
  * index; the co-purchase pair explode runs it over every order of the
  * fact table (the explode stage measured ~7.6 s of the 100× derivation;
  * BASELINE.md round 16, "supportedPairs derivation"). Packing is
  * lossless for keys in [0, 2³¹) — the same domain contract orderParts
  * enforces via the footer-stat guard. Output element order matches the SQL form (outer index ascending,
  * inner ascending), so even order-sensitive consumers are identical. */
case class PackedPairs(child: Expression) extends UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(LongType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case dt =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"packed_pairs expects array<bigint>, got ${dt.simpleString}")
    }

  override protected def nullSafeEval(v: Any): Any = {
    val arr = v.asInstanceOf[ArrayData]
    val n = arr.numElements()
    val out = new Array[Long](n * (n - 1) / 2)
    var k = 0
    var i = 0
    while (i < n) {
      val a = arr.getLong(i) * 2147483648L
      var j = i + 1
      while (j < n) {
        out(k) = a + arr.getLong(j)
        k += 1
        j += 1
      }
      i += 1
    }
    new GenericArrayData(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, x => {
      val n = ctx.freshName("n")
      val out = ctx.freshName("out")
      val i = ctx.freshName("i")
      val j = ctx.freshName("j")
      val k = ctx.freshName("k")
      val a = ctx.freshName("a")
      s"""
         |int $n = $x.numElements();
         |long[] $out = new long[$n * ($n - 1) / 2];
         |int $k = 0;
         |for (int $i = 0; $i < $n; $i++) {
         |  long $a = $x.getLong($i) * 2147483648L;
         |  for (int $j = $i + 1; $j < $n; $j++) {
         |    $out[$k++] = $a + $x.getLong($j);
         |  }
         |}
         |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($out);
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object VectorExprs {
  /** Register `vec_dot`, `minhash_sigs` and `haversine_km` in the
    * session's function registry so query code can use them via
    * expr(...). Idempotent. */
  def register(spark: SparkSession): Unit = {
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "vec_dot", exprs => DotProduct(exprs(0), exprs(1)), "built-in")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "lg_micro", exprs => LgMicro(exprs(0)), "built-in")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "haversine_km",
      exprs => HaversineKm(exprs(0), exprs(1), exprs(2), exprs(3)), "built-in")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "simhash_sig", exprs => SimHashSig(exprs(0)), "built-in")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "packed_pairs", exprs => PackedPairs(exprs(0)), "built-in")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "lang_trigram_scores", exprs =>
        LangTrigramScores(exprs(0), graft.operators.Text.langProfiles),
      "built-in")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "char_ngrams", { exprs =>
        val n = exprs(1) match {
          case e if e.foldable => e.eval() match {
            case i: Int => i
            case other => throw new IllegalArgumentException(
              s"char_ngrams: n must be an INT literal, got $other")
          }
          case e => throw new IllegalArgumentException(
            s"char_ngrams: n must be a foldable INT literal, got ${e.sql}")
        }
        CharNgrams(exprs(0), n)
      }, "built-in")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "minhash_sigs", { exprs =>
        // Checked foldable-literal extraction: a non-integer perm count
        // (e.g. written as 32L or a column) must fail analysis with a
        // real message, not a ClassCastException from a blind cast.
        val n = exprs(1) match {
          case e if e.foldable => e.eval() match {
            case i: Int => i
            case other => throw new IllegalArgumentException(
              "minhash_sigs: numPerms must be an INT literal, got " +
                s"$other (${e.dataType.simpleString})")
          }
          case e => throw new IllegalArgumentException(
            "minhash_sigs: numPerms must be a foldable INT literal, got " +
              e.sql)
        }
        MinHashSigs(exprs(0), n)
      }, "built-in")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "md5_minhash_sigs", { exprs =>
        val n = exprs(1) match {
          case e if e.foldable => e.eval() match {
            case i: Int => i
            case other => throw new IllegalArgumentException(
              "md5_minhash_sigs: numPerms must be an INT literal, got " +
                s"$other (${e.dataType.simpleString})")
          }
          case e => throw new IllegalArgumentException(
            "md5_minhash_sigs: numPerms must be a foldable INT literal, got " +
              e.sql)
        }
        Md5MinHashSigs(exprs(0), n)
      }, "built-in")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "wavg_cents", exprs =>
        WeightedAvgCents(exprs(0), exprs(1)).toAggregateExpression(),
      "built-in")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "wmedian_cents", exprs =>
        WeightedMedianCents(exprs(0), exprs(1)).toAggregateExpression(),
      "built-in")
  }
}
