package org.apache.spark.sql.graftnative

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.types.{AbstractDataType, ArrayType, DataType, IntegerType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native word k-shingling — the corpus-side hot path of every minhash /
  * jaccard / decontamination operator. Output is IDENTICAL to the
  * higher-order-function formulation
  * `when(size(toks) >= k, transform(sequence(1, size(toks)-k+1),
  *   i => concat_ws(" ", slice(toks, i, k)))).otherwise(array())`
  * with `toks = split(text, " ")` (equivalence pinned in ScaleOpsSpec),
  * but the HOF chain is `CodegenFallback`: Spark evaluates the lambda,
  * `split`, `slice` and `concat_ws` through interpreted `eval` trees per
  * row — allocation-heavy, megamorphic, and the dominant cost of the
  * signature stage (observed via thread dumps pinning tasks inside
  * `StringSplit.nullSafeEval`).
  *
  * This expression exploits that joining k consecutive space-split
  * tokens with " " reconstructs the ORIGINAL BYTES: every shingle is a
  * substring of the input between two token boundaries. One byte scan
  * finds the boundaries (0x20 never occurs inside a UTF-8 multibyte
  * sequence), and each shingle is a zero-copy slice of the row's byte
  * array — O(len + shingles), no regex, no per-token strings, fully
  * inside whole-stage codegen.
  *
  * Null/short-input semantics mirror the HOF form: a NULL text or a text
  * with fewer than k tokens yields an EMPTY array (the `when` guard's
  * `otherwise` branch — a null condition also falls through to it), so
  * the expression itself is never NULL.
  */
case class WordShingles(child: Expression, k: Int)
    extends UnaryExpression with ExpectsInputTypes {
  require(k >= 1, "shingle size must be >= 1")

  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullable: Boolean = false

  override def eval(input: InternalRow): Any = {
    val v = child.eval(input)
    if (v == null) WordShingles.emptyArray()
    else WordShingles.compute(v.asInstanceOf[UTF8String], k)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val childGen = child.genCode(ctx)
    val code =
      code"""
        |${childGen.code}
        |org.apache.spark.sql.catalyst.util.ArrayData ${ev.value} = ${childGen.isNull}
        |  ? org.apache.spark.sql.graftnative.WordShingles.emptyArray()
        |  : org.apache.spark.sql.graftnative.WordShingles.compute(${childGen.value}, $k);
       """.stripMargin
    ev.copy(code = code, isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object WordShingles {
  private val EMPTY: ArrayData = new GenericArrayData(new Array[AnyRef](0))

  /** Shared immutable empty result (also referenced from generated code). */
  def emptyArray(): ArrayData = EMPTY

  /** One-pass shingling over the string's bytes; see class doc. Called
    * per row from both generated and interpreted paths.
    */
  def compute(text: UTF8String, k: Int): ArrayData = {
    val b = text.getBytes
    val len = b.length
    var spaces = 0
    var i = 0
    while (i < len) { if (b(i) == 0x20) spaces += 1; i += 1 }
    val nTok = spaces + 1
    if (nTok < k) return EMPTY
    // token j spans [starts(j), ends(j)); separators are single bytes
    val starts = new Array[Int](nTok)
    val ends = new Array[Int](nTok)
    var ti = 0
    var st = 0
    i = 0
    while (i < len) {
      if (b(i) == 0x20) { starts(ti) = st; ends(ti) = i; ti += 1; st = i + 1 }
      i += 1
    }
    starts(ti) = st
    ends(ti) = len
    val out = new Array[AnyRef](nTok - k + 1)
    var j = 0
    while (j <= nTok - k) {
      out(j) = UTF8String.fromBytes(b, starts(j), ends(j + k - 1) - starts(j))
      j += 1
    }
    new GenericArrayData(out)
  }
}

/** Native polynomial rolling hash — the document-fingerprint hot path.
  * Output is IDENTICAL to the higher-order-function formulation
  * `aggregate(transform(split(text, ""), c => ascii(c)), 7L,
  *   (acc, c) => (acc*31 + c) % 2147483647)` (equivalence pinned in
  * ScaleOpsSpec), but the HOF chain materializes a per-CHARACTER string
  * array and folds it through interpreted lambda eval; this expression
  * is one codegen'd code-point walk. `split(text, "")` yields [''] for
  * the empty string (ascii 0 → one fold step), mirrored here; a NULL
  * text is NULL like any null-intolerant expression.
  */
case class PolyRollingHash(child: Expression)
    extends UnaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def dataType: DataType = org.apache.spark.sql.types.LongType

  override def nullSafeEval(v: Any): Any =
    PolyRollingHash.compute(v.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"org.apache.spark.sql.graftnative.PolyRollingHash.compute($c)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object PolyRollingHash {
  private final val Mod = 2147483647L

  def compute(text: UTF8String): Long = {
    val s = text.toString
    if (s.isEmpty) return (7L * 31L) % Mod // split('','') = [''], ascii('') = 0
    var h = 7L
    var i = 0
    while (i < s.length) {
      val cp = s.codePointAt(i)
      h = (h * 31L + cp) % Mod
      i += Character.charCount(cp)
    }
    h
  }
}

/** Native within-document n-gram repetition coverages — the Gopher-rule
  * repetition signals (Rae et al. 2021 §A1.1: "fraction of characters in
  * the most frequent word n-gram" / "... in duplicated word n-grams")
  * as one codegen'd pass per document. Returns
  * `struct(top2_cover, top3_cover, dup5_cover)` — INTEGER character
  * coverages (count × character-length of the gram), left as exact longs
  * so the caller performs the single fraction division (one double op on
  * two exact ints is bit-identical in any engine; see the Queries.scala
  * determinism recipe):
  *
  *  - `top{n}_cover` = max over distinct word-n-grams of
  *    count(g) · charlen(g) — the "most covering" n-gram. The max of
  *    products needs no tie-break (ties agree on the value).
  *  - `dup{n}_cover` = Σ over distinct n-grams with count ≥ 2 of
  *    count(g) · charlen(g).
  *
  * Tokenization is the single-space split shared by every text operator
  * (WordShingles semantics); a doc with fewer than n tokens contributes
  * coverage 0. NULL text yields the zero struct. The equivalent
  * explode+groupBy formulation is pinned as the executable spec in
  * ScaleOpsSpec; this expression exists because the per-row alternative
  * is a CodegenFallback HOF chain and the aggregate alternative shuffles
  * every n-gram of the corpus for a per-document statistic.
  */
case class NgramRepetitionStats(child: Expression, nTopA: Int, nTopB: Int,
    nDup: Int) extends UnaryExpression with ExpectsInputTypes {
  require(nTopA >= 1 && nTopB >= 1 && nDup >= 1, "n-gram sizes must be >= 1")

  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def dataType: DataType = NgramRepetitionStats.schema
  override def nullable: Boolean = false

  override def eval(input: InternalRow): Any = {
    val v = child.eval(input)
    if (v == null) NgramRepetitionStats.zero
    else NgramRepetitionStats.compute(v.asInstanceOf[UTF8String], nTopA, nTopB, nDup)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val childGen = child.genCode(ctx)
    val cls = "org.apache.spark.sql.graftnative.NgramRepetitionStats"
    val code =
      code"""
        |${childGen.code}
        |org.apache.spark.sql.catalyst.InternalRow ${ev.value} = ${childGen.isNull}
        |  ? $cls.zero()
        |  : $cls.compute(${childGen.value}, $nTopA, $nTopB, $nDup);
       """.stripMargin
    ev.copy(code = code, isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object NgramRepetitionStats {
  import org.apache.spark.sql.types.{LongType, StructField, StructType}
  import org.apache.spark.sql.catalyst.expressions.GenericInternalRow

  val schema: StructType = StructType(Seq(
    StructField("top_a_cover", LongType, nullable = false),
    StructField("top_b_cover", LongType, nullable = false),
    StructField("dup_cover", LongType, nullable = false)))

  private val ZERO: InternalRow =
    new GenericInternalRow(Array[Any](0L, 0L, 0L))

  def zero(): InternalRow = ZERO

  /** Max-coverage of any single n-gram (`dup = false`) or total coverage
    * of duplicated n-grams (`dup = true`), as count·charlen longs.
    */
  private def coverage(grams: ArrayData, dup: Boolean): Long = {
    val n = grams.numElements()
    if (n == 0) return 0L
    val counts = new java.util.HashMap[UTF8String, Array[Long]](n * 2)
    var i = 0
    while (i < n) {
      val g = grams.getUTF8String(i)
      val slot = counts.get(g)
      if (slot == null) counts.put(g, Array(1L, g.numChars().toLong))
      else slot(0) += 1L
      i += 1
    }
    var acc = 0L
    val it = counts.values().iterator()
    while (it.hasNext) {
      val s = it.next()
      val cover = s(0) * s(1)
      if (dup) { if (s(0) >= 2L) acc += cover }
      else if (cover > acc) acc = cover
    }
    acc
  }

  def compute(text: UTF8String, nTopA: Int, nTopB: Int, nDup: Int): InternalRow =
    new GenericInternalRow(Array[Any](
      coverage(WordShingles.compute(text, nTopA), dup = false),
      coverage(WordShingles.compute(text, nTopB), dup = false),
      coverage(WordShingles.compute(text, nDup), dup = true)))
}

/** Native per-document character-entropy — the zero-shuffle scale path
  * of the `char_entropy` quality signal. Output is IDENTICAL to the
  * explode(split(text, ""))+groupBy formulation (equivalence pinned in
  * ScaleOpsSpec): counts are per Unicode CODE POINT (Java `split("")`
  * does not split surrogate pairs), p = c/n is one IEEE division, each
  * −p·ln(p) term is dyadically quantized (`floor(x·2^20)/2^20`) before
  * the sum, so term order cannot matter and the result is bit-equal to
  * the oracle-able form. The explode form shuffles one row PER CHARACTER
  * of the corpus for a per-document statistic; this is one string pass.
  *
  * NULL or empty text yields the zero struct (the explode form instead
  * drops the document — consumers filter empty docs first; the
  * `char_entropy` query pins `length(text) > 0` on both engines).
  */
case class CharEntropyStats(child: Expression)
    extends UnaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def dataType: DataType = CharEntropyStats.schema
  override def nullable: Boolean = false

  override def eval(input: InternalRow): Any = {
    val v = child.eval(input)
    if (v == null) CharEntropyStats.zero()
    else CharEntropyStats.compute(v.asInstanceOf[UTF8String])
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val childGen = child.genCode(ctx)
    val cls = "org.apache.spark.sql.graftnative.CharEntropyStats"
    val code =
      code"""
        |${childGen.code}
        |org.apache.spark.sql.catalyst.InternalRow ${ev.value} = ${childGen.isNull}
        |  ? $cls.zero()
        |  : $cls.compute(${childGen.value});
       """.stripMargin
    ev.copy(code = code, isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object CharEntropyStats {
  import org.apache.spark.sql.types.{DoubleType, LongType, StructField, StructType}
  import org.apache.spark.sql.catalyst.expressions.GenericInternalRow

  val schema: StructType = StructType(Seq(
    StructField("n_distinct_chars", LongType, nullable = false),
    StructField("entropy_nats", DoubleType, nullable = false)))

  private val ZERO: InternalRow = new GenericInternalRow(Array[Any](0L, 0.0))

  def zero(): InternalRow = ZERO

  def compute(text: UTF8String): InternalRow = {
    val s = text.toString
    if (s.isEmpty) return ZERO
    val counts = new java.util.HashMap[Integer, Array[Long]](64)
    var i = 0
    var n = 0L
    while (i < s.length) {
      val cp = s.codePointAt(i)
      val slot = counts.get(cp)
      if (slot == null) counts.put(cp, Array(1L)) else slot(0) += 1L
      n += 1L
      i += Character.charCount(cp)
    }
    val nd = n.toDouble
    var entropy = 0.0
    val it = counts.values().iterator()
    while (it.hasNext) {
      val p = it.next()(0).toDouble / nd
      // identical expression tree to the SQL mirror:
      // floor(((-p) * ln(p)) * 2^20) / 2^20 — dyadic terms sum exactly
      entropy += Math.floor((-p) * Math.log(p) * 1048576.0) / 1048576.0
    }
    new GenericInternalRow(Array[Any](counts.size().toLong, entropy))
  }
}

/** Native content-defined chunking cut positions (the rsync/LBFS/FastCDC
  * family): a boundary falls after code point `p` (1-based) iff the
  * rolling polynomial hash of the trailing `window` code points,
  * `h_p = Σ_{t=0}^{w−1} cp_{p−t}·A^t  mod 2^31`, satisfies
  * `h_p mod (mask+1) == 0`, for `p ∈ [w, L−1]` (never at the string end —
  * the final chunk always closes at L). Cuts are CONTEXT-FREE — each
  * depends only on the trailing window, never on previous cuts — which is
  * the property that makes CDC robust to insertions (an edit only moves
  * boundaries inside its own window) AND makes the rule mirrorable in
  * SQL: the `cdc_chunk` oracle recomputes each position's hash as an
  * explicit w-term polynomial and takes the identical mod. One O(len)
  * pass per row with an O(w) ring buffer, fully inside codegen, zero
  * shuffle. Deliberately NO min/max clamp: clamps make boundary
  * eligibility depend on the previous cut (sequential state that no
  * per-position SQL can restate); the mask alone gives expected chunk
  * length mask+1 with geometric spread, which is what the dedup/sync use
  * cases need.
  *
  * Semantics are per Unicode CODE POINT, not byte — `substring`/`length`
  * count code points in both Spark and DuckDB, so cut indices line up
  * with the string functions that consume them (multibyte pinned in
  * ScaleOpsSpec). NULL text yields an empty cut list.
  */
case class CdcCuts(child: Expression, window: Int, mask: Int)
    extends UnaryExpression with ExpectsInputTypes {
  require(window >= 2, "window must be >= 2")
  require(mask >= 1 && (mask & (mask + 1)) == 0,
    s"mask must be 2^k - 1, got $mask")

  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def nullable: Boolean = false

  override def eval(input: InternalRow): Any = {
    val v = child.eval(input)
    if (v == null) WordShingles.emptyArray()
    else CdcCuts.compute(v.asInstanceOf[UTF8String], window, mask)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val childGen = child.genCode(ctx)
    val code =
      code"""
        |${childGen.code}
        |org.apache.spark.sql.catalyst.util.ArrayData ${ev.value} = ${childGen.isNull}
        |  ? org.apache.spark.sql.graftnative.WordShingles.emptyArray()
        |  : org.apache.spark.sql.graftnative.CdcCuts.compute(${childGen.value}, $window, $mask);
       """.stripMargin
    ev.copy(code = code, isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object CdcCuts {
  /** Gear multiplier: odd, so ·A is a bijection mod 2^31 and low bits mix. */
  val A = 31L
  private val M = 0x7FFFFFFFL // mod 2^31 via two's-complement masking

  /** `A^t mod 2^31` for `t = 0..w-1` — the polynomial coefficients the
    * SQL oracle inlines as literals.
    */
  def coefficients(window: Int): Array[Long] = {
    val out = new Array[Long](window)
    var c = 1L
    var t = 0
    while (t < window) { out(t) = c; c = (c * A) & M; t += 1 }
    out
  }

  /** One rolling pass; see class doc. Called from generated and
    * interpreted paths.
    */
  def compute(text: UTF8String, window: Int, mask: Int): ArrayData = {
    val s = text.toString
    val aw = { // A^window mod 2^31: coefficient of the expiring code point
      var c = 1L; var t = 0
      while (t < window) { c = (c * A) & M; t += 1 }
      c
    }
    // ring buffer of the last `window` code points
    val ring = new Array[Long](window)
    var h = 0L
    var p = 0 // 1-based count of code points consumed
    var i = 0 // UTF-16 index
    var cuts: java.util.ArrayList[Integer] = null
    // total code points, needed to suppress a cut at the final position
    val len = s.codePointCount(0, s.length)
    while (i < s.length) {
      val cp = s.codePointAt(i)
      i += Character.charCount(cp)
      p += 1
      // h_p = (A·h_{p−1} + cp_p − cp_{p−w}·A^w) mod 2^31; masking with
      // 0x7FFFFFFF realizes the mod for any two's-complement intermediate
      h = ((h * A) & M) + cp
      if (p > window) h -= (ring(p % window) * aw) & M
      h &= M
      ring(p % window) = cp
      if (p >= window && p < len && (h & mask) == 0L) {
        if (cuts == null) cuts = new java.util.ArrayList[Integer](8)
        cuts.add(p)
      }
    }
    if (cuts == null) WordShingles.emptyArray()
    else {
      val out = new Array[Any](cuts.size())
      var j = 0
      while (j < out.length) { out(j) = cuts.get(j).intValue(); j += 1 }
      new GenericArrayData(out)
    }
  }
}

object TextExpressions {
  /** Column-level API: native word k-shingles of a text column (see
    * [[WordShingles]]). Output is identical to
    * `graft.operators.ScaleOps.shingles(tokens(text), k)`, the executable
    * spec (equivalence pinned in ScaleOpsSpec); every hot path uses this
    * form because the HOF chain evaluates interpreted (CodegenFallback).
    */
  def word_shingles(text: Column, k: Int = 3): Column =
    ExpressionUtils.column(WordShingles(ExpressionUtils.expression(text), k))

  /** Column-level API: native content-defined-chunking cut positions (see
    * [[CdcCuts]]): 1-based code-point positions after which a chunk boundary
    * falls.
    */
  def cdc_cuts(text: Column, window: Int = 16, mask: Int = 63): Column =
    ExpressionUtils.column(CdcCuts(ExpressionUtils.expression(text), window, mask))

  /** Column-level API: native per-document character entropy (see
    * [[CharEntropyStats]]).
    */
  def char_entropy(text: Column): Column =
    ExpressionUtils.column(CharEntropyStats(ExpressionUtils.expression(text)))

  /** Column-level API: native polynomial rolling hash (see
    * [[PolyRollingHash]]), the twin of `graft.operators.ScaleOps.rollingHash`
    * (equivalence pinned in ScaleOpsSpec): one codegen'd code-point walk
    * instead of a per-character array folded through interpreted lambdas.
    */
  def rolling_hash(text: Column): Column =
    ExpressionUtils.column(PolyRollingHash(ExpressionUtils.expression(text)))

  /** Column-level API: native n-gram repetition coverages (see
    * [[NgramRepetitionStats]]).
    */
  def ngram_repetition(text: Column, nTopA: Int = 2, nTopB: Int = 3,
      nDup: Int = 5): Column =
    ExpressionUtils.column(
      NgramRepetitionStats(ExpressionUtils.expression(text), nTopA, nTopB, nDup))
}
