package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Dot product over two float-vector columns, as a native Catalyst expression
  * with codegen — the hot inner loop of every similarity/near-dup operator.
  *
  * Why not a UDF or `aggregate(zip_with(...))`: a Scala UDF boxes both arrays
  * per row and breaks whole-stage codegen; the higher-order-function form stays
  * in codegen but allocates a lambda frame per element. This expression
  * compiles to a tight primitive loop over the ArrayData buffers (no
  * allocation, no boxing) and keeps the surrounding plan in one codegen stage.
  *
  * Numerics: accumulates float products in double, left-to-right — identical
  * to DuckDB's list_dot_product over DOUBLE[] (verified), so oracle SQL built
  * on list_dot_product hash-matches after rounding.
  */
case class VecDot(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def prettyName: String = "vec_dot"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var s = 0.0
    var i = 0
    while (i < n) {
      s += x.getFloat(i).toDouble * y.getFloat(i).toDouble
      i += 1
    }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      // fresh names: several vec_dot calls can land in ONE generated method
      // (e.g. a cosine ratio pushed into a join's bound condition) — fixed
      // local names would collide ("Redefinition of local variable")
      val n = ctx.freshName("vdN")
      val acc = ctx.freshName("vdAcc")
      val i = ctx.freshName("vdI")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $acc = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $acc += ((double) $a.getFloat($i)) * ((double) $b.getFloat($i));
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** 64-bit polynomial rolling hash over a string's UTF-8 bytes
  * (h ← h·31 + b, wrapping Long arithmetic) — the classic content
  * fingerprint for near-duplicate pre-screening. Codegen'd tight loop, no
  * allocation. Oracled cross-engine: wrapping overflow is arithmetic mod
  * 2^64, which the DuckDB twin emulates in HUGEINT (see
  * SparkEntry.docFingerprintRollingOracleSql); also pinned by a suite test. */
case class RollingHash(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def prettyName: String = "rolling_hash"

  override def nullSafeEval(v: Any): Any = {
    val bytes = v.asInstanceOf[org.apache.spark.unsafe.types.UTF8String].getBytes
    var h = 1125899906842597L
    var i = 0
    while (i < bytes.length) { h = h * 31L + bytes(i); i += 1 }
    h
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.RollingHash.hash($c)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object RollingHash {
  // called from generated code
  def hash(s: org.apache.spark.unsafe.types.UTF8String): Long = {
    val bytes = s.getBytes
    var h = 1125899906842597L
    var i = 0
    while (i < bytes.length) { h = h * 31L + bytes(i); i += 1 }
    h
  }
}

/** Scalar md5-60: `md5h60(s)` ≡ `conv(substring(md5(s), 1, 15), 16, 10)
  * ::BIGINT` — the engine's cross-engine base hash (Graft.md5Hash60) as ONE
  * native expression. The composed form pays three allocations per value
  * even under codegen (digest → 32-char hex UTF8String → substring slice →
  * conv's radix parse); this computes the digest and takes its 60 bits
  * directly. `half` 1 is `md5h60b` (Graft.md5Hash60b, the hi-half base hash
  * of the 120-bit SimHash): hex chars 16-30 of the same digest.
  * Bit-identical to the composed forms and to the DuckDB
  * ('0x' || substring(md5(s), 1 + 15·half, 15))::BIGINT twins — every
  * md5-oracled operator keeps its hash matches (pinned by Round11Spec + the
  * full gate). */
case class Md5Hash60Expr(child: Expression, half: Int = 0) extends UnaryExpression {
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType == StringType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a STRING input, got ${child.dataType.catalogString}")
  override def dataType: DataType = LongType
  override def prettyName: String = if (half == 0) "md5h60" else "md5h60b"
  override def nullSafeEval(v: Any): Any =
    Md5Hash60Expr.hash(v.asInstanceOf[org.apache.spark.unsafe.types.UTF8String], half)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.Md5Hash60Expr.hash($c, $half)")
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object Md5Hash60Expr {
  private val digests = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }
  // called from generated code. With the digest's bytes 0-7 and 8-15 read
  // big-endian as `hi` and `lo`: half 0 is hex chars 1-15 (bits 127..68,
  // hi >>> 4), half 1 is hex chars 16-30 (bits 67..8: the low nibble of
  // byte 7, then bytes 8..14)
  def hash(s: org.apache.spark.unsafe.types.UTF8String, half: Int): Long = {
    val md = digests.get()
    md.reset()
    val d = java.nio.ByteBuffer.wrap(md.digest(s.getBytes))
    val hi = d.getLong(0)
    if (half == 0) hi >>> 4 else ((hi & 0x0fL) << 56) | (d.getLong(8) >>> 8)
  }
}

/** Per-element md5-60 over a string array: `md5h60_array(arr)` ≡
  * `transform(arr, g -> conv(substring(md5(g), 1, 15), 16, 10))` but as ONE
  * native call — higher-order-function lambda bodies evaluate INTERPRETED
  * per element (an expression-tree walk per gram), which is the dominant
  * tax of the row-local minhash signature (the stateless streaming rows).
  * This loops the array in compiled code: thread-local MessageDigest, top
  * 60 bits of the digest taken as (first-8-bytes big-endian) >>> 4 —
  * bit-identical to Graft.md5Hash60 / the DuckDB
  * ('0x' || substring(md5(g), 1, 15))::BIGINT twin (15 hex chars = the
  * first 15 nibbles = bits 127..68). */
/** Shared contract of the per-element string-array hash expressions:
  * analysis-time input validation (ARRAY<STRING>, mirroring the scalar
  * expressions' checkInputDataTypes) and null-element transparency — a
  * null element hashes to a null element, exactly like the `transform`
  * lambda forms these natives replace, instead of an NPE at runtime. */
trait StringArrayHashExpr extends UnaryExpression {
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(StringType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"$prettyName requires ARRAY<STRING>, got ${other.catalogString}")
    }
  override def dataType: DataType = ArrayType(LongType,
    containsNull = child.dataType match {
      case ArrayType(_, cn) => cn
      case _ => true
    })
}

object StringArrayHashExpr {
  /** Null-transparent driver for the hash loops: the all-non-null fast
    * path stays a primitive long array; a null element switches to the
    * boxed path with nulls preserved positionally. */
  def mapHash(arr: ArrayData, hash1: org.apache.spark.unsafe.types.UTF8String => Long): ArrayData = {
    val n = arr.numElements()
    var hasNull = false
    var i = 0
    while (i < n && !hasNull) { if (arr.isNullAt(i)) hasNull = true; i += 1 }
    if (!hasNull) {
      val out = new Array[Long](n)
      var k = 0
      while (k < n) { out(k) = hash1(arr.getUTF8String(k)); k += 1 }
      ArrayData.toArrayData(out)
    } else {
      val out = new Array[Any](n)
      var k = 0
      while (k < n) {
        out(k) = if (arr.isNullAt(k)) null
                 else java.lang.Long.valueOf(hash1(arr.getUTF8String(k)))
        k += 1
      }
      new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
    }
  }
}

case class Md5Hash60Array(child: Expression) extends UnaryExpression
    with StringArrayHashExpr {
  override def prettyName: String = "md5h60_array"
  override def nullSafeEval(v: Any): Any =
    Md5Hash60Array.hashAll(v.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.Md5Hash60Array.hashAll($c)")
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object Md5Hash60Array {
  // called from generated code
  def hashAll(arr: ArrayData): ArrayData =
    StringArrayHashExpr.mapHash(arr, Md5Hash60Expr.hash(_, 0))
}

/** Positional n-gram fingerprints over a token-hash array:
  * `ngram_fps(hashes, n)` returns, for each window start i, the wrapping
  * 64-bit polynomial Σ h[i+j]·31^(n-1-j) — one Long per n-gram, computed
  * with a TRUE rolling update (h' = (h − out·31^(n-1))·31 + in, all
  * wrapping), so the loop is O(tokens) per document, not O(n·grams), and
  * no n-gram string is ever materialized. The SQL-arithmetic form would
  * throw under ANSI mode on overflow; wrapping Long arithmetic is mod
  * 2^64, which the DuckDB twin emulates with a HUGEINT fold + the signed
  * remap (the rolling_hash convention — SparkEntry ngram_drift oracle).
  * Arrays shorter than n yield an empty array. Second argument must be a
  * foldable positive INT. */
case class NgramFps(left: Expression, right: Expression)
    extends BinaryExpression {
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(LongType, _), IntegerType) if right.foldable =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case (l, r) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"ngram_fps requires (ARRAY<BIGINT>, foldable INT), got " +
            s"(${l.catalogString}, ${r.catalogString})")
    }
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "ngram_fps"
  override def nullSafeEval(arr: Any, n: Any): Any =
    NgramFps.fps(arr.asInstanceOf[ArrayData], n.asInstanceOf[Int])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, n) => s"graft.functions.NgramFps.fps($a, $n)")
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object NgramFps {
  // called from generated code
  def fps(arr: ArrayData, n: Int): ArrayData = {
    val m = arr.numElements()
    if (m < n) return ArrayData.toArrayData(Array.emptyLongArray)
    // 31^(n-1) wrapping — the factor the outgoing token carries
    var pow = 1L
    var j = 1
    while (j < n) { pow *= 31L; j += 1 }
    val out = new Array[Long](m - n + 1)
    var h = 0L
    var i = 0
    while (i < n) { h = h * 31L + arr.getLong(i); i += 1 }
    out(0) = h
    var s = 1
    while (s <= m - n) {
      h = (h - arr.getLong(s - 1) * pow) * 31L + arr.getLong(s + n - 1)
      out(s) = h
      s += 1
    }
    ArrayData.toArrayData(out)
  }
}

/** All-`n` MinHash permutation minima over a base-hash array in ONE
  * compiled pass: `minhash_sigs(hs, n)` is value-identical to
  * `array_min(transform(hs, h -> (aᵢ·(h % P) + bᵢ) % P))` stacked for
  * i < n with the engine's frozen permutation family aᵢ = 2i²+3i+1,
  * bᵢ = 7i²+5i+3, P = 2³¹−1 (the constants Graft.minhashSignatureRowLocal
  * and every minhash oracle bake). The lambda form costs n+1 interpreted
  * array traversals per document (the mod-P reduce plus one array_min per
  * permutation — 33 HOF passes at n=32), which dominated the streaming
  * ingest rows' per-batch signature cost; this is one O(n·grams) compiled
  * loop producing the BYTE-IDENTICAL signature, so no consumer's oracle
  * moves. Base hashes reduce by floorMod — plain % for the nonneg
  * md5h60/xx63 families, pmod semantics for any signed fingerprint
  * family. Null elements are skipped (array_min's convention); an empty
  * or all-null input yields an EMPTY array — unreachable through the
  * callers, which filter empty gram sets first (the lambda form would
  * give [null,…]; returning empty keeps codegen on the default
  * null-handling path and still joins/bands to nothing).
  * aᵢ·h' < 2142·2³¹ ≈ 2⁴², so the Long arithmetic never wraps. */
case class MinhashSigs(left: Expression, right: Expression)
    extends BinaryExpression {
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(LongType, _), IntegerType) if right.foldable =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case (l, r) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"minhash_sigs requires (ARRAY<BIGINT>, foldable INT), got " +
            s"(${l.catalogString}, ${r.catalogString})")
    }
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "minhash_sigs"
  override def nullSafeEval(arr: Any, n: Any): Any =
    MinhashSigs.sigs(arr.asInstanceOf[ArrayData], n.asInstanceOf[Int])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, n) => s"graft.functions.MinhashSigs.sigs($a, $n)")
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object MinhashSigs {
  /** The permutation family every MinHash path uses:
    * hᵢ(x) = (aᵢ·x + bᵢ) mod P, P = 2³¹−1. */
  val P = 2147483647L
  def a(i: Int): Long = 2L * i * i + 3L * i + 1L
  def b(i: Int): Long = 7L * i * i + 5L * i + 3L
  // called from generated code
  def sigs(arr: ArrayData, n: Int): ArrayData = {
    val as = new Array[Long](n); val bs = new Array[Long](n)
    var i = 0
    while (i < n) {
      as(i) = a(i)
      bs(i) = b(i)
      i += 1
    }
    val out = new Array[Long](n)
    java.util.Arrays.fill(out, Long.MaxValue)
    val m = arr.numElements()
    var any = false
    var k = 0
    while (k < m) {
      if (!arr.isNullAt(k)) {
        any = true
        val hp = java.lang.Math.floorMod(arr.getLong(k), P)
        var j = 0
        while (j < n) {
          val v = (as(j) * hp + bs(j)) % P
          if (v < out(j)) out(j) = v
          j += 1
        }
      }
      k += 1
    }
    if (!any) ArrayData.toArrayData(Array.emptyLongArray)
    else ArrayData.toArrayData(out)
  }
}

/** Most-frequent-token COUNT over a string array in ONE compiled pass:
  * `top_token_count(toks)` is value-identical to
  * `CAST(array_max(transform(array_distinct(toks), t ->
  *    size(filter(toks, x -> x = t)))) AS BIGINT)`
  * — the O(distinct·n) interpreted-lambda pyramid the C4/Gopher repetition
  * gate (Graft.repetitionMetrics top_token_frac) paid per document,
  * replaced by one O(n) hash-count loop. Exact parity (suite-pinned):
  * NULL array → NULL; EMPTY array → NULL (array_max over no elements);
  * null ELEMENTS are zero-candidates (the lambda's `x = t` predicate drops
  * them from every token's filter, and the distinct null contributes a
  * size-0 entry), so an all-null array yields 0. */
case class TopTokenCount(child: Expression) extends UnaryExpression {
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(StringType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case t =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"top_token_count requires ARRAY<STRING>, got ${t.catalogString}")
    }
  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  override def prettyName: String = "top_token_count"
  override def nullSafeEval(arr: Any): Any = {
    val a = arr.asInstanceOf[ArrayData]
    if (a.numElements() == 0) null else TopTokenCount.top(a)
  }
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => s"""
       |if ($c.numElements() == 0) {
       |  ${ev.isNull} = true;
       |} else {
       |  ${ev.value} = graft.functions.TopTokenCount.top($c);
       |}
     """.stripMargin)
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object TopTokenCount {
  // called from generated code; caller guarantees numElements > 0
  def top(arr: ArrayData): Long = {
    val n = arr.numElements()
    val counts = new java.util.HashMap[org.apache.spark.unsafe.types.UTF8String, Array[Int]]()
    var max = 0 // a null element's filter-count is 0 — the floor candidate
    var i = 0
    while (i < n) {
      if (!arr.isNullAt(i)) {
        val t = arr.getUTF8String(i)
        var c = counts.get(t)
        if (c == null) { c = new Array[Int](1); counts.put(t, c) }
        c(0) += 1
        if (c(0) > max) max = c(0)
      }
      i += 1
    }
    max.toLong
  }
}

/** The Gopher quality gate's four token-array signals in ONE compiled
  * pass: `gopher_stats(toks, stopwords)` returns
  * STRUCT<n_words BIGINT, sum_len BIGINT, n_alpha BIGINT, n_stop BIGINT>
  * over the length>0 tokens of `toks`, value-identical (suite-pinned) to
  * the four higher-order-function expressions Graft.gopherRules stacked —
  *   __ts      = filter(toks, t -> length(t) > 0)
  *   n_words   = size(__ts)
  *   sum_len   = aggregate(__ts, 0L, (acc, t) -> acc + length(t))
  *   n_alpha   = size(filter(__ts, t -> t RLIKE '[a-z]'))
  *   n_stop    = size(filter(stopwords, s -> array_contains(__ts, s)))
  * — which cost four interpreted array traversals per document (plus a
  * regex find per token). Parity notes: length() counts CODE POINTS
  * (UTF8String.numChars); RLIKE '[a-z]' is an unanchored find of one
  * ASCII lowercase letter, and in UTF-8 the bytes 0x61–0x7a only ever
  * encode those letters, so the byte scan is exact; null tokens drop
  * exactly like the lambda filter (length(null) > 0 → null → dropped);
  * stopword membership tests the same filtered token set (each stopword
  * counted once). `stopwords` must be a foldable ARRAY<STRING>; null
  * stopword elements never match (array_contains' null semantics fold to
  * dropped-from-count here because a null never equals a token). */
case class GopherStats(left: Expression, right: Expression)
    extends BinaryExpression {
  /** VALUE-deterministic (pure function of its inputs — task retries are
    * safe), but declared non-deterministic as the documented optimizer
    * fence (guide §4.4, the asNondeterministic trick): predicate pushdown
    * substitutes projection aliases into filter conditions, and a consumer
    * filtering on `passes` inlined this struct once PER FIELD REFERENCE
    * (~12 copies); FilterExec does no subexpression elimination, so each
    * row paid ~6 evaluations after short-circuiting (measured: the gate
    * count read SLOWER than the lambda form it replaced). With the flag,
    * the struct is computed once in its own Project and every consumer
    * reads attributes. The cost: other predicates can't push past the
    * gate's projection — the gate is a terminal row-local screen in every
    * consumer, so nothing real is lost. */
  override lazy val deterministic: Boolean = false
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(StringType, _), ArrayType(StringType, _)) if right.foldable =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      // distinct branch (ADVICE r16): when the TYPES match but the stopword
      // list is computed per row, say so — "got (array<string>,
      // array<string>)" alone reads as a type mismatch and hides the
      // actual requirement
      case (ArrayType(StringType, _), ArrayType(StringType, _)) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          "gopher_stats: second argument (stopwords) must be a LITERAL/" +
            "foldable ARRAY<STRING> — it received a non-foldable " +
            "(per-row computed) array expression")
      case (l, r) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"gopher_stats requires (ARRAY<STRING>, foldable ARRAY<STRING>), " +
            s"got (${l.catalogString}, ${r.catalogString})")
    }
  override def dataType: DataType = GopherStats.schema
  override def prettyName: String = "gopher_stats"
  override def nullSafeEval(toks: Any, stops: Any): Any =
    GopherStats.stats(toks.asInstanceOf[ArrayData], stops.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      (t, s) => s"graft.functions.GopherStats.stats($t, $s)")
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object GopherStats {
  val schema: StructType = StructType(Seq(
    StructField("n_words", LongType, nullable = false),
    StructField("sum_len", LongType, nullable = false),
    StructField("n_alpha", LongType, nullable = false),
    StructField("n_stop", LongType, nullable = false)))
  // called from generated code
  def stats(toks: ArrayData, stops: ArrayData): org.apache.spark.sql.catalyst.InternalRow = {
    val n = toks.numElements()
    var nWords = 0L; var sumLen = 0L; var nAlpha = 0L
    var i = 0
    while (i < n) {
      if (!toks.isNullAt(i)) {
        val t = toks.getUTF8String(i)
        val chars = t.numChars()
        if (chars > 0) {
          nWords += 1
          sumLen += chars
          val nb = t.numBytes()
          var j = 0
          var alpha = false
          while (j < nb && !alpha) {
            val b = t.getByte(j)
            if (b >= 'a'.toByte && b <= 'z'.toByte) alpha = true
            j += 1
          }
          if (alpha) nAlpha += 1
        }
      }
      i += 1
    }
    var nStop = 0L
    val m = stops.numElements()
    var s = 0
    while (s < m) {
      if (!stops.isNullAt(s)) {
        val sw = stops.getUTF8String(s)
        if (sw.numChars() > 0) {
          var k = 0
          var found = false
          while (k < n && !found) {
            if (!toks.isNullAt(k) && toks.getUTF8String(k).equals(sw)) found = true
            k += 1
          }
          if (found) nStop += 1
        }
      }
      s += 1
    }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](nWords, sumLen, nAlpha, nStop))
  }
}

/** Per-element abs(xxhash64) over a string array — the production-default
  * twin of md5h60_array (`xx63_array(arr)` ≡ `transform(arr, g ->
  * abs(xxhash64(g)))`, Graft.xxHash63's value). Same rationale: one native
  * call instead of an interpreted per-element lambda. Uses Spark's own
  * XXH64 with the engine's default seed 42, abs'd into [0, 2^63). */
case class XxHash63Array(child: Expression) extends UnaryExpression
    with StringArrayHashExpr {
  override def prettyName: String = "xx63_array"
  override def nullSafeEval(v: Any): Any =
    XxHash63Array.hashAll(v.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.XxHash63Array.hashAll($c)")
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object XxHash63Array {
  // called from generated code
  def hashAll(arr: ArrayData): ArrayData =
    StringArrayHashExpr.mapHash(arr, s => math.abs(
      org.apache.spark.sql.catalyst.expressions.XxHash64Function.hash(
        s, org.apache.spark.sql.types.StringType, 42L)))
}

/** Per-element RAW xxhash64 over a string array (`xx64_array(arr)` ≡
  * `transform(arr, g -> xxhash64(g))`, full 64-bit range) — the native
  * twin for the winnowing family's production-default gram hash, where
  * the sign carries signal and no abs is applied. */
case class XxHash64Array(child: Expression) extends UnaryExpression
    with StringArrayHashExpr {
  override def prettyName: String = "xx64_array"
  override def nullSafeEval(v: Any): Any =
    XxHash64Array.hashAll(v.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.XxHash64Array.hashAll($c)")
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object XxHash64Array {
  // called from generated code
  def hashAll(arr: ArrayData): ArrayData =
    StringArrayHashExpr.mapHash(arr,
      s => org.apache.spark.sql.catalyst.expressions.XxHash64Function.hash(
        s, org.apache.spark.sql.types.StringType, 42L))
}

/** TRUE Damerau–Levenshtein distance (adjacent-transposition edits with the
  * last-occurrence table, NOT the restricted OSA variant: dl("CA","ABC") = 2)
  * as a native expression — the similarity kernel for blocked entity
  * resolution. Spark ships only `levenshtein`; a Scala UDF here would box two
  * strings per candidate pair in the hottest loop of the match phase. Byte-
  * based (ASCII-exact, matching DuckDB's damerau_levenshtein on ASCII keys —
  * pinned by the entity_resolution oracle and by fixed-vector suite cases).
  * Cost is O(|a|·|b|) per pair: callers MUST bound pair generation by
  * blocking (see Graft.entityResolution) — the expression is the inner
  * kernel, never the candidate generator. */
/** Unicode NFC normalization as a native codegen'd expression — Spark has
  * no built-in normalizer, and a Scala UDF would break whole-stage codegen
  * in the text-cleaning hot path. Delegates to java.text.Normalizer (ICU
  * normative NFC); the DuckDB oracle twin is its utf8proc-backed
  * `nfc_normalize` — both implement the same Unicode normal form, so
  * composed output matches byte-for-byte. */
case class NfcNormalize(child: Expression) extends UnaryExpression {
  override def dataType: DataType = StringType
  override def prettyName: String = "nfc_normalize"

  override def nullSafeEval(s: Any): Any =
    NfcNormalize.norm(s.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.NfcNormalize.norm($c)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object NfcNormalize {
  /** Called from generated code. */
  def norm(u: org.apache.spark.unsafe.types.UTF8String): org.apache.spark.unsafe.types.UTF8String =
    org.apache.spark.unsafe.types.UTF8String.fromString(
      java.text.Normalizer.normalize(u.toString, java.text.Normalizer.Form.NFC))
}

case class DamerauLevenshtein(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = IntegerType
  override def prettyName: String = "damerau_levenshtein"

  override def nullSafeEval(a: Any, b: Any): Any =
    DamerauLevenshtein.dist(
      a.asInstanceOf[org.apache.spark.unsafe.types.UTF8String],
      b.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      (a, b) => s"graft.functions.DamerauLevenshtein.dist($a, $b)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object DamerauLevenshtein {
  /** Lowrance–Wagner DP with the 256-slot last-occurrence table; called
    * from generated code. */
  def dist(ua: org.apache.spark.unsafe.types.UTF8String,
      ub: org.apache.spark.unsafe.types.UTF8String): Int = {
    val a = ua.getBytes
    val b = ub.getBytes
    val n = a.length
    val m = b.length
    if (n == 0) return m
    if (m == 0) return n
    val inf = n + m
    val d = Array.ofDim[Int](n + 2, m + 2)
    d(0)(0) = inf
    var i = 0
    while (i <= n) { d(i + 1)(0) = inf; d(i + 1)(1) = i; i += 1 }
    var j = 0
    while (j <= m) { d(0)(j + 1) = inf; d(1)(j + 1) = j; j += 1 }
    val da = new Array[Int](256)
    i = 1
    while (i <= n) {
      var db = 0
      j = 1
      while (j <= m) {
        val k = da(b(j - 1) & 0xFF)
        val l = db
        var cost = 1
        if (a(i - 1) == b(j - 1)) { cost = 0; db = j }
        val sub = d(i)(j) + cost
        val ins = d(i + 1)(j) + 1
        val del = d(i)(j + 1) + 1
        val tra = d(k)(l) + (i - k - 1) + 1 + (j - l - 1)
        var mn = if (sub < ins) sub else ins
        if (del < mn) mn = del
        if (tra < mn) mn = tra
        d(i + 1)(j + 1) = mn
        j += 1
      }
      da(a(i - 1) & 0xFF) = i
      i += 1
    }
    d(n + 1)(m + 1)
  }
}

object VectorFunctions {
  /** ONE builder table feeding BOTH registration paths (`register` and
    * `GraftExtensions`): the two paths drifted in r11 — `xx64_array` was
    * registered but never injected, so a deployment loading the engine via
    * `spark.sql.extensions` got "undefined function" on the winnowing
    * family's production-default hash (VERDICT r11 finding 2). A single
    * source of truth makes silent drift impossible; ExtensionSpec
    * additionally pins that both paths expose this exact name set.
    *
    * Entries: (name, implementing class for ExpressionInfo, builder).
    * The bloom pair surfaces Spark's OWN runtime-filter machinery
    * (InjectRuntimeFilter builds exactly bloom_filter_agg(xxhash64(k)) +
    * might_contain on the probe side) as SQL functions so operators can
    * build an explicit semi-join prescreen: the Bloom side is a bounded
    * binary sketch that travels as a scalar subquery, the probe filter
    * stays codegen'd. No behavior is re-implemented — the builders just
    * name the existing catalyst expressions (the analyzer wraps the raw
    * AggregateFunction the same way it wraps built-in aggregates). */
  val builders: Seq[(String, Class[_], Seq[Expression] => Expression)] = Seq(
    ("vec_dot", classOf[VecDot],
      (exprs: Seq[Expression]) => VecDot(exprs(0), exprs(1))),
    ("rolling_hash", classOf[RollingHash],
      (exprs: Seq[Expression]) => RollingHash(exprs.head)),
    ("md5h60", classOf[Md5Hash60Expr],
      (exprs: Seq[Expression]) => Md5Hash60Expr(exprs.head)),
    ("md5h60b", classOf[Md5Hash60Expr],
      (exprs: Seq[Expression]) => Md5Hash60Expr(exprs.head, 1)),
    ("md5h60_array", classOf[Md5Hash60Array],
      (exprs: Seq[Expression]) => Md5Hash60Array(exprs.head)),
    ("ngram_fps", classOf[NgramFps],
      (exprs: Seq[Expression]) => NgramFps(exprs(0), exprs(1))),
    ("minhash_sigs", classOf[MinhashSigs],
      (exprs: Seq[Expression]) => MinhashSigs(exprs(0), exprs(1))),
    ("top_token_count", classOf[TopTokenCount],
      (exprs: Seq[Expression]) => TopTokenCount(exprs.head)),
    // NOTE (ADVICE r16): gopher_stats is hard-marked deterministic=false
    // (the documented optimizer fence) — SQL placing it where Spark
    // disallows nondeterministic expressions (join conditions, Sort keys,
    // aggregate filters) throws AnalysisException, and filters never push
    // past it. Use it as a terminal row-local screen, the gopherRules shape.
    ("gopher_stats", classOf[GopherStats],
      (exprs: Seq[Expression]) => GopherStats(exprs(0), exprs(1))),
    ("xx63_array", classOf[XxHash63Array],
      (exprs: Seq[Expression]) => XxHash63Array(exprs.head)),
    ("xx64_array", classOf[XxHash64Array],
      (exprs: Seq[Expression]) => XxHash64Array(exprs.head)),
    ("damerau_levenshtein", classOf[DamerauLevenshtein],
      (exprs: Seq[Expression]) => DamerauLevenshtein(exprs(0), exprs(1))),
    ("nfc_normalize", classOf[NfcNormalize],
      (exprs: Seq[Expression]) => NfcNormalize(exprs.head)),
    ("bloom_agg",
      classOf[org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate],
      (exprs: Seq[Expression]) => new org.apache.spark.sql.catalyst.expressions
        .aggregate.BloomFilterAggregate(exprs(0), exprs(1), exprs(2))),
    ("might_contain",
      classOf[org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain],
      (exprs: Seq[Expression]) => org.apache.spark.sql.catalyst.expressions
        .BloomFilterMightContain(exprs(0), exprs(1))))

  /** Idempotently registers the native functions in the session's function
    * registry so queries can use them via `expr(...)` / SQL. A name already
    * bound to its builder here is left alone (a replacement logs a WARN, and
    * the operators call this on every build); a foreign function under one
    * of these names is replaced. */
  def register(spark: SparkSession): Unit =
    builders.foreach { case (name, _, builder) => bind(spark, name, builder) }

  /** Binds `name` to `builder` in the session's function registry unless it
    * is already bound to that very builder. */
  private[functions] def bind(spark: SparkSession, name: String,
      builder: Seq[Expression] => Expression): Unit = {
    val registry = spark.sessionState.functionRegistry
    if (!registry.lookupFunctionBuilder(
        org.apache.spark.sql.catalyst.FunctionIdentifier(name)).exists(_ eq builder))
      registry.createOrReplaceTempFunction(name, builder, "scala_udf")
  }
}

/** SparkSessionExtensions entry point: lets a deployment load the engine's
  * native functions at session build time —
  * `SparkSession.builder().withExtensions(new GraftExtensions)` or
  * `spark.sql.extensions=graft.functions.GraftExtensions` — instead of the
  * per-session `VectorFunctions.register` call the registry queries use.
  * Injects exactly `VectorFunctions.builders` — the same table `register`
  * consumes, so the two paths cannot drift. */
class GraftExtensions extends (org.apache.spark.sql.SparkSessionExtensions => Unit) {
  override def apply(ext: org.apache.spark.sql.SparkSessionExtensions): Unit = {
    import org.apache.spark.sql.catalyst.FunctionIdentifier
    import org.apache.spark.sql.catalyst.expressions.ExpressionInfo
    VectorFunctions.builders.foreach { case (name, cls, builder) =>
      ext.injectFunction((
        FunctionIdentifier(name), new ExpressionInfo(cls.getName, name), builder))
    }
  }
}
