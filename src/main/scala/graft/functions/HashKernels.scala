package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal, TernaryExpression, UnaryExpression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.graft.Shims
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Tight-loop hash kernels for the dedup hot path, exposed as codegen'd
  * Catalyst expressions.
  *
  * The first implementation of SimHash/MinHash composed SQL lambda
  * expressions (`transform`/`aggregate`): semantically right, but the
  * interpreter walks an expression tree per token per hash family —
  * 64 passes per row. These kernels do one pass per row in a static Java
  * method invoked from generated code (no boxing, no virtual dispatch),
  * which cut the sf0.1 simhash/minhash bench times by ~10×.
  */
object HashKernels {
  final val GOLDEN = 0x9e3779b97f4a7c15L

  def fmix64(x0: Long): Long = {
    var x = x0
    x ^= x >>> 33; x *= 0xff51afd7ed558ccdL
    x ^= x >>> 33; x *= 0xc4ceb9fe1a85ec53L
    x ^= x >>> 33
    x
  }

  /** 64-bit SimHash over space-delimited tokens of `bytes` (one pass):
    * per-token polynomial hash + fmix64, ±1 bit votes, majority sign. */
  def simhash(bytes: Array[Byte]): Long = {
    val votes = new Array[Int](64)
    var h = 0L
    var inTok = false
    var i = 0
    def vote(th: Long): Unit = {
      var b = 0
      while (b < 64) { if (((th >>> b) & 1L) == 1L) votes(b) += 1 else votes(b) -= 1; b += 1 }
    }
    while (i < bytes.length) {
      val c = bytes(i)
      if (c == ' ') {
        if (inTok) { vote(fmix64(h)); h = 0L; inTok = false }
      } else {
        h = h * RollingHashes.B + (c & 0xff).toLong
        inTok = true
      }
      i += 1
    }
    if (inTok) vote(fmix64(h))
    var out = 0L
    var b = 0
    while (b < 64) { if (votes(b) > 0) out |= (1L << b); b += 1 }
    out
  }

  /** 64-bit perceptual hash (dHash analog) for opaque BINARY payloads: the
    * payload is divided into 65 length-proportional segments, and bit i is
    * set when segment i's byte sum exceeds segment i+1's — the byte-stream
    * counterpart of comparing adjacent pixel-block luminances. Robust to
    * byte-VALUE noise (re-encoding, small corruptions); like image dHash it
    * is not robust to insertions that shift all segment boundaries. */
  def phash(bytes: Array[Byte]): Long = {
    val n = bytes.length
    if (n == 0) return 0L
    val sums = new Array[Long](65)
    var i = 0
    while (i < n) { sums(((i.toLong * 65L) / n).toInt) += (bytes(i) & 0xff).toLong; i += 1 }
    var out = 0L
    var b = 0
    while (b < 64) { if (sums(b) > sums(b + 1)) out |= (1L << b); b += 1 }
    out
  }

  /** 128-bit perceptual hash — [[phash]] with 129 segments instead of 65, so
    * twice the adjacent-segment comparisons vote bits. The point is BANDING
    * HEADROOM at corpus scale, not extra precision per byte: a fixed 64-bit
    * hash past ~10⁶ rows affords only 2×32 banding, whose measured recall is
    * 51% at radius 2 and single-digit percent past radius 4 (the r18 recall
    * curve); 128 bits afford 4×32 bands at the SAME per-band selectivity
    * (2^32 buckets, candidates ~linear in n to ~4B rows) with pigeonhole
    * containment to radius 3 and the 4-band probabilistic tail above —
    * the recall profile the 64-bit hash only offers below 65k rows.
    *
    * Two measured properties (planted-edit probe, PLANS.md "Verdict #5: the
    * 128-bit perceptual hash"):
    * SCATTERED byte-value edits flip about as many bits here as on the
    * 64-bit hash (each edit perturbs ~1 segment at either granularity —
    * median d128 == d64 at 1..16 planted edits), so genuine near-dups stay
    * within the same radii; while STRUCTURAL collisions between unrelated
    * docs of similar byte statistics, which the coarse hash parks at
    * hamming 4-8, land at ~50-70 bits here — the fine granularity
    * separates near-duplicate signal from distribution-level correlation.
    * Word layout: result(0) = bits 0..63, result(1) = bits 64..127. */
  def phash128(bytes: Array[Byte]): Array[Long] = {
    val out = new Array[Long](2)
    val n = bytes.length
    if (n == 0) return out
    val sums = new Array[Long](129)
    var i = 0
    while (i < n) { sums(((i.toLong * 129L) / n).toInt) += (bytes(i) & 0xff).toLong; i += 1 }
    var b = 0
    while (b < 128) {
      if (sums(b) > sums(b + 1)) out(b >> 6) |= (1L << (b & 63))
      b += 1
    }
    out
  }

  /** MinHash signature: for every char k-gram rolling hash, track the min of
    * fmix64(h ^ seed_j) per hash family j — one pass over the text. */
  def minhash(bytes: Array[Byte], k: Int, n: Int): Array[Long] = {
    val sig = new Array[Long](n)
    java.util.Arrays.fill(sig, Long.MaxValue)
    var bk = 1L
    var i = 1
    while (i < k) { bk *= RollingHashes.B; i += 1 }
    var h = 0L
    i = 0
    while (i < bytes.length) {
      if (i >= k) h -= bk * (bytes(i - k) & 0xff).toLong
      h = h * RollingHashes.B + (bytes(i) & 0xff).toLong
      if (i >= k - 1) {
        var j = 0
        while (j < n) {
          val v = fmix64(h ^ (GOLDEN * (j + 1)))
          if (v < sig(j)) sig(j) = v
          j += 1
        }
      }
      i += 1
    }
    sig
  }
}

/** dot(a, b) over ARRAY<FLOAT>/ARRAY<DOUBLE> in double precision, strictly
  * sequential accumulation — bit-identical to the SQL
  * `aggregate(zip_with(a,b,(x,y)->double(x)*double(y)),0d,(s,v)->s+v)` fold it
  * replaces (DuckDB oracle parity), ~50× faster than the interpreted lambda. */
object VecKernels {
  def dotF(a: org.apache.spark.sql.catalyst.util.ArrayData,
           b: org.apache.spark.sql.catalyst.util.ArrayData): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var acc = 0.0
    var i = 0
    while (i < n) { acc += a.getFloat(i).toDouble * b.getFloat(i).toDouble; i += 1 }
    acc
  }

  def dotD(a: org.apache.spark.sql.catalyst.util.ArrayData,
           b: org.apache.spark.sql.catalyst.util.ArrayData): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var acc = 0.0
    var i = 0
    while (i < n) { acc += a.getDouble(i) * b.getDouble(i); i += 1 }
    acc
  }

  /** Symmetric int8 quantization in one pass (r19): (scale_raw, codes) with
    * scale_raw = max|x|/127 and codes_i = floor(x_i/scale_raw + 0.5) as
    * long — value-for-value the interpreted
    * `array_max(transform(v, abs)) / 127` + `transform(v, floor(x/s+0.5)
    * cast bigint)` lambda pipeline it replaces (two interpreted per-element
    * passes per vector), including its corners: null elements are skipped
    * by the max and map to null codes; an all-null/empty vector yields a
    * null scale and all-null codes; scale 0 yields all-ZERO codes (the
    * lambda's `when(scale === 0, 0L)` maps null elements to 0 there too);
    * NaN is greatest for the max (Spark's array_max ordering). The caller
    * rounds scale_raw for display exactly as before. */
  def quantizeI8(v: org.apache.spark.sql.catalyst.util.ArrayData):
      org.apache.spark.sql.catalyst.InternalRow = {
    val n = v.numElements()
    var maxAbs = 0.0
    var has = false
    var hasNaN = false
    var i = 0
    while (i < n) {
      if (!v.isNullAt(i)) {
        val x = math.abs(v.getDouble(i))
        if (java.lang.Double.isNaN(x)) hasNaN = true // NaN counts as seen
        else if (!has || x > maxAbs) { maxAbs = x; has = true }
      }
      i += 1
    }
    val seen = has || hasNaN
    val codes = new Array[Any](n)
    var scaleRaw: java.lang.Double = null
    if (!seen) {
      // no non-null elements: scale null, every code null (x/null -> null)
      i = 0
      while (i < n) { codes(i) = null; i += 1 }
    } else {
      val s = (if (hasNaN) Double.NaN else maxAbs) / 127.0
      scaleRaw = s
      if (s == 0.0) {
        i = 0
        while (i < n) { codes(i) = 0L; i += 1 } // incl. null positions — lambda parity
      } else {
        i = 0
        while (i < n) {
          codes(i) =
            if (v.isNullAt(i)) null
            else java.lang.Long.valueOf(math.floor(v.getDouble(i) / s + 0.5).toLong)
          i += 1
        }
      }
    }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](scaleRaw,
        new org.apache.spark.sql.catalyst.util.GenericArrayData(codes)))
  }

  /** argmax over C candidate centroids of dot(v, cents(c)) / norms(c) —
    * ONE expression whatever C is, so the IVF assignment stays a constant-
    * size codegen'd projection at C=1024 where C inlined dot-product
    * candidates under a `greatest` would blow up janino (and its compile
    * time grows with C). Score parity with the previous struct-`greatest`
    * shape is exact: the same sequential fold as [[dotD]], then one
    * division (NOT pre-normalized centroids — dot(v, c/n) can differ from
    * dot(v, c)/n in ULPs and flip near-ties). Selection semantics replicate
    * Spark's struct ordering with the (score, -centroid_id) tie-break:
    * `Double.compare` treats NaN as greater than everything and equal to
    * itself, and candidates arrive sorted by ascending centroid id with
    * strictly-greater-wins, so ties (including all-NaN vectors) keep the
    * LOWEST centroid id. A zero-norm centroid scores -Infinity (never
    * chosen unless every centroid is degenerate — then lowest id).
    * A vector/centroid dimension mismatch is a data bug that would quietly
    * corrupt bucket quality if assigned on a truncated dot product, so it
    * fails fast with the offending dimensions. */
  private def checkDim(vDim: Int, cDim: Int): Unit =
    if (vDim != cDim) throw new IllegalArgumentException(
      s"IVF assignment dimension mismatch: vector has $vDim elements but " +
        s"centroids have $cDim — refusing to assign on a truncated dot product")

  def argmaxDotD(v: org.apache.spark.sql.catalyst.util.ArrayData,
      cents: Array[Array[Double]], norms: Array[Double], ids: Array[Int]): Int = {
    var bestIdx = 0
    var bestScore = 0.0
    var c = 0
    while (c < cents.length) {
      var s = Double.NegativeInfinity
      if (norms(c) != 0.0) {
        val ct = cents(c)
        checkDim(v.numElements(), ct.length)
        val n = ct.length
        var acc = 0.0
        var j = 0
        while (j < n) { acc += v.getDouble(j) * ct(j); j += 1 }
        s = acc / norms(c)
      }
      if (c == 0 || java.lang.Double.compare(s, bestScore) > 0) {
        bestScore = s; bestIdx = c
      }
      c += 1
    }
    ids(bestIdx)
  }

  /** [[argmaxDotD]] over ARRAY<FLOAT> input — each element widened to
    * double before the multiply, so scores are bit-identical to casting
    * the array to ARRAY<DOUBLE> first (same arithmetic, no materialized
    * copy of the vector). */
  def argmaxDotF(v: org.apache.spark.sql.catalyst.util.ArrayData,
      cents: Array[Array[Double]], norms: Array[Double], ids: Array[Int]): Int = {
    var bestIdx = 0
    var bestScore = 0.0
    var c = 0
    while (c < cents.length) {
      var s = Double.NegativeInfinity
      if (norms(c) != 0.0) {
        val ct = cents(c)
        checkDim(v.numElements(), ct.length)
        val n = ct.length
        var acc = 0.0
        var j = 0
        while (j < n) { acc += v.getFloat(j).toDouble * ct(j); j += 1 }
        s = acc / norms(c)
      }
      if (c == 0 || java.lang.Double.compare(s, bestScore) > 0) {
        bestScore = s; bestIdx = c
      }
      c += 1
    }
    ids(bestIdx)
  }
}

case class VecDot(left: Expression, right: Expression)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {
  override def dataType: DataType = DoubleType
  override def prettyName: String = "vec_dot"
  private def kernel: String = left.dataType match {
    case ArrayType(FloatType, _) => "dotF"
    case _ => "dotD"
  }
  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
    val y = b.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
    if (kernel == "dotF") VecKernels.dotF(x, y) else VecKernels.dotD(x, y)
  }
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.VecKernels.$kernel($a, $b)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** `vec_argmax_dot(v)` over ARRAY<DOUBLE> against a driver-side centroid
  * matrix — see [[VecKernels.argmaxDotD]]. The matrix/norms/ids ride along
  * as expression parameters (embedded via `addReferenceObj`, like Spark's
  * own literal arrays), NOT as child expressions: C never widens the
  * generated code. */
case class VecArgmaxDot(child: Expression, cents: Array[Array[Double]],
    norms: Array[Double], ids: Array[Int]) extends UnaryExpression {
  require(cents.length == norms.length && cents.length == ids.length && cents.nonEmpty,
    "vec_argmax_dot needs aligned, non-empty centroid arrays")
  override def dataType: DataType = IntegerType
  override def prettyName: String = "vec_argmax_dot"
  // per-element-type kernel like VecDot — a float array read through
  // getDouble would silently mis-decode
  private def kernel: String = child.dataType match {
    case ArrayType(FloatType, _) => "argmaxDotF"
    case _ => "argmaxDotD"
  }
  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = child.dataType match {
    case ArrayType(FloatType | DoubleType, _) =>
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    case other =>
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"vec_argmax_dot needs ARRAY<FLOAT|DOUBLE> input, got ${other.simpleString}")
  }
  override def nullSafeEval(v: Any): Any = {
    val a = v.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
    if (kernel == "argmaxDotF") VecKernels.argmaxDotF(a, cents, norms, ids)
    else VecKernels.argmaxDotD(a, cents, norms, ids)
  }
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val centsRef = ctx.addReferenceObj("cents", cents, "double[][]")
    val normsRef = ctx.addReferenceObj("norms", norms, "double[]")
    val idsRef = ctx.addReferenceObj("ids", ids, "int[]")
    defineCodeGen(ctx, ev, v =>
      s"graft.functions.VecKernels.$kernel($v, $centsRef, $normsRef, $idsRef)")
  }
  // value equality over the array params (case-class equals would compare
  // array references) so semanticEquals / subexpression elimination / plan
  // reuse see two instances with equal matrices as the same expression
  override def equals(o: Any): Boolean = o match {
    case that: VecArgmaxDot =>
      child == that.child &&
        java.util.Arrays.deepEquals(
          cents.asInstanceOf[Array[AnyRef]], that.cents.asInstanceOf[Array[AnyRef]]) &&
        java.util.Arrays.equals(norms, that.norms) &&
        java.util.Arrays.equals(ids, that.ids)
    case _ => false
  }
  override def hashCode(): Int =
    java.util.Objects.hash(child,
      Integer.valueOf(java.util.Arrays.deepHashCode(cents.asInstanceOf[Array[AnyRef]])),
      Integer.valueOf(java.util.Arrays.hashCode(norms)),
      Integer.valueOf(java.util.Arrays.hashCode(ids)))
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

case class SimHash64(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def prettyName: String = "simhash64"
  override def nullSafeEval(s: Any): Any =
    HashKernels.simhash(s.asInstanceOf[UTF8String].getBytes)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.HashKernels.simhash($c.getBytes())")
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** `phash64(payload)` over BINARY — see [[HashKernels.phash]]. */
case class PHash64(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def prettyName: String = "phash64"
  override def nullSafeEval(b: Any): Any =
    HashKernels.phash(b.asInstanceOf[Array[Byte]])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.HashKernels.phash($c)")
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** `phash128(payload)` over BINARY → ARRAY<BIGINT>[2] — see
  * [[HashKernels.phash128]] (word 0 = bits 0..63, word 1 = bits 64..127). */
case class PHash128(child: Expression) extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "phash128"
  override def nullSafeEval(b: Any): Any =
    UnsafeArrayData.fromPrimitiveArray(
      HashKernels.phash128(b.asInstanceOf[Array[Byte]]))
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = org.apache.spark.sql.catalyst.expressions.UnsafeArrayData" +
        s".fromPrimitiveArray(graft.functions.HashKernels.phash128($c));")
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

case class MinHashSig(str: Expression, k: Expression, n: Expression) extends TernaryExpression {
  override def first: Expression = str
  override def second: Expression = k
  override def third: Expression = n
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "minhash_sig"
  // MinHash.signature dispatches to the SIMD kernel (value-identical,
  // probe-verified at load) and falls back to HashKernels.minhash — the
  // canonical scalar definition pinned by PipelineSpec.
  override def nullSafeEval(s: Any, kk: Any, nn: Any): Any =
    UnsafeArrayData.fromPrimitiveArray(MinHash.signature(
      s.asInstanceOf[UTF8String].getBytes, kk.asInstanceOf[Int], nn.asInstanceOf[Int]))
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (s, kk, nn) => {
      s"${ev.value} = org.apache.spark.sql.catalyst.expressions.UnsafeArrayData.fromPrimitiveArray(" +
        s"graft.functions.MinHash.signature($s.getBytes(), $kk, $nn));"
    })
  override protected def withNewChildrenInternal(
      a: Expression, b: Expression, c: Expression): Expression = copy(a, b, c)
}

/** `quantize_i8(v)` over ARRAY<DOUBLE> — see [[VecKernels.quantizeI8]].
  * Struct-typed so one pass yields both fields; deterministic, so codegen
  * subexpression elimination evaluates it once per row. */
case class QuantizeI8(child: Expression) extends UnaryExpression {
  override def dataType: DataType = StructType(Seq(
    StructField("scale", DoubleType, nullable = true),
    StructField("codes", ArrayType(LongType, containsNull = true), nullable = false)))
  override def prettyName: String = "quantize_i8"
  override def nullSafeEval(v: Any): Any =
    VecKernels.quantizeI8(v.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.VecKernels.quantizeI8($c)")
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

object HashExprs {
  def simhash64(c: Column): Column = Shims.column(SimHash64(Shims.expression(c)))
  def phash64(c: Column): Column = Shims.column(PHash64(Shims.expression(c)))
  def phash128(c: Column): Column = Shims.column(PHash128(Shims.expression(c)))
  def minhash_sig(c: Column, k: Int, n: Int): Column =
    Shims.column(MinHashSig(Shims.expression(c), Literal(k), Literal(n)))
  def vec_dot(a: Column, b: Column): Column =
    Shims.column(VecDot(Shims.expression(a), Shims.expression(b)))
  def vec_argmax_dot(v: Column, cents: Array[Array[Double]],
      norms: Array[Double], ids: Array[Int]): Column =
    Shims.column(VecArgmaxDot(Shims.expression(v), cents, norms, ids))
  def quantize_i8(v: Column): Column =
    Shims.column(QuantizeI8(Shims.expression(v)))
}
