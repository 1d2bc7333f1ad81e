package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, TernaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, ByteType, DataType, DoubleType, FloatType, IntegerType}

/** Native Catalyst expression for the embedding dot product (north-star
  * similarity ops). Spark's generic route — `aggregate(zip_with(a, b, …))` —
  * evaluates interpreted (higher-order functions never enter codegen) and
  * allocates a zipped array per row; this expression runs a tight
  * primitive loop ([[DotOps]]) inside whole-stage codegen.
  *
  * Semantics match the HOF form exactly, including the degenerate cases:
  * each element is widened to double BEFORE multiply, accumulation runs in
  * array order, mismatched lengths yield NULL (zip_with pads the short side
  * with nulls, so the aggregate sum nulls out), and a null element on either
  * side yields NULL. Results are bit-identical to the `zip_with`/`aggregate`
  * formulation and to the DuckDB oracle's `list_dot_product` on DOUBLE[]
  * casts. Accepts float or double arrays on either side (IVF centroids are
  * double, raw embeddings float).
  *
  * Registered as `graft_dot(a, b)` by [[graft.GraftExtensions]] or at
  * runtime by [[GraftFunctions.ensure]].
  */
case class DotProduct(left: Expression, right: Expression)
    extends BinaryExpression {

  private def elemType(e: Expression): Option[DataType] = e.dataType match {
    case ArrayType(FloatType, _) => Some(FloatType)
    case ArrayType(DoubleType, _) => Some(DoubleType)
    // tinyint codes (embed_quantize / the int8 ANN scan) promote exactly
    // into the double accumulator — keeps the quantized approx stage on
    // this codegen'd kernel instead of interpreted aggregate/zip_with
    // lambdas (measured 4-5x slower at 10M vectors)
    case ArrayType(ByteType, _) => Some(ByteType)
    case _ => None
  }

  // AbstractDataType (ExpectsInputTypes) is private[sql]; check types directly
  override def checkInputDataTypes(): TypeCheckResult =
    (elemType(left), elemType(right)) match {
      case (Some(_), Some(_)) => TypeCheckResult.TypeCheckSuccess
      case _ => TypeCheckResult.TypeCheckFailure(
        s"graft_dot requires array<float|double|tinyint> args, got (${left.dataType}, ${right.dataType})")
    }
  override def dataType: DataType = DoubleType
  // NULL also on length mismatch / null element, not only on null inputs
  override def nullable: Boolean = true
  override def prettyName: String = "graft_dot"

  private def mayHaveNullElems: Boolean = (left.dataType, right.dataType) match {
    case (ArrayType(_, ln), ArrayType(_, rn)) => ln || rn
    case _ => true
  }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val xs = a.asInstanceOf[ArrayData]
    val ys = b.asInstanceOf[ArrayData]
    if (xs.numElements() != ys.numElements() || DotOps.anyNull(xs) || DotOps.anyNull(ys))
      null
    else evalDot(xs, ys)
  }

  @transient private lazy val evalDot =
    DotOps.fn(elemType(left).get, elemType(right).get)

  // the generated code calls the precompiled loop in [[DotOps]]: it stays
  // JIT-compiled across generated classes, whereas a loop inlined here runs
  // interpreted in every freshly compiled class — and a long-lived session
  // recompiles stage classes whenever Spark's codegen cache (100 entries by
  // default) evicts them
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      // element null scans only generated when the schema admits nulls —
      // parquet embeddings are containsNull=false
      val nulls =
        if (mayHaveNullElems)
          s" || graft.functions.DotOps.anyNull($a) || graft.functions.DotOps.anyNull($b)"
        else ""
      val kernel = DotOps.kernel(elemType(left).get, elemType(right).get)
      s"""
         |if ($a.numElements() != $b.numElements()$nulls) {
         |  ${ev.isNull} = true;
         |} else {
         |  ${ev.value} = graft.functions.DotOps.$kernel($a, $b);
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DotProduct =
    copy(left = newLeft, right = newRight)
}

/** [[DotProduct]]'s loops over equal-length, null-free arrays, one per
  * (float|double|tinyint)² element-type pair: each element widened to
  * double before the multiply, summed in array order. Generated code calls
  * the kernel by name ([[kernel]]); interpreted evaluation through
  * [[fn]].
  */
object DotOps {
  private def code(t: DataType): String = t match {
    case FloatType => "F"
    case ByteType => "B"
    case _ => "D"
  }
  def kernel(l: DataType, r: DataType): String = s"dot${code(l)}${code(r)}"

  def anyNull(a: ArrayData): Boolean = {
    var i = 0; val n = a.numElements()
    while (i < n) { if (a.isNullAt(i)) return true; i += 1 }
    false
  }

  def fn(l: DataType, r: DataType): (ArrayData, ArrayData) => Double =
    kernel(l, r) match {
      case "dotFF" => dotFF; case "dotFD" => dotFD; case "dotFB" => dotFB
      case "dotDF" => dotDF; case "dotDD" => dotDD; case "dotDB" => dotDB
      case "dotBF" => dotBF; case "dotBD" => dotBD; case _ => dotBB
    }

  def dotFF(a: ArrayData, b: ArrayData): Double = {
    var s = 0.0; var i = 0; val n = a.numElements()
    while (i < n) { s += a.getFloat(i).toDouble * b.getFloat(i).toDouble; i += 1 }
    s
  }
  def dotFD(a: ArrayData, b: ArrayData): Double = {
    var s = 0.0; var i = 0; val n = a.numElements()
    while (i < n) { s += a.getFloat(i).toDouble * b.getDouble(i); i += 1 }
    s
  }
  def dotFB(a: ArrayData, b: ArrayData): Double = {
    var s = 0.0; var i = 0; val n = a.numElements()
    while (i < n) { s += a.getFloat(i).toDouble * b.getByte(i).toDouble; i += 1 }
    s
  }
  def dotDF(a: ArrayData, b: ArrayData): Double = {
    var s = 0.0; var i = 0; val n = a.numElements()
    while (i < n) { s += a.getDouble(i) * b.getFloat(i).toDouble; i += 1 }
    s
  }
  def dotDD(a: ArrayData, b: ArrayData): Double = {
    var s = 0.0; var i = 0; val n = a.numElements()
    while (i < n) { s += a.getDouble(i) * b.getDouble(i); i += 1 }
    s
  }
  def dotDB(a: ArrayData, b: ArrayData): Double = {
    var s = 0.0; var i = 0; val n = a.numElements()
    while (i < n) { s += a.getDouble(i) * b.getByte(i).toDouble; i += 1 }
    s
  }
  def dotBF(a: ArrayData, b: ArrayData): Double = {
    var s = 0.0; var i = 0; val n = a.numElements()
    while (i < n) { s += a.getByte(i).toDouble * b.getFloat(i).toDouble; i += 1 }
    s
  }
  def dotBD(a: ArrayData, b: ArrayData): Double = {
    var s = 0.0; var i = 0; val n = a.numElements()
    while (i < n) { s += a.getByte(i).toDouble * b.getDouble(i); i += 1 }
    s
  }
  def dotBB(a: ArrayData, b: ArrayData): Double = {
    var s = 0.0; var i = 0; val n = a.numElements()
    while (i < n) { s += a.getByte(i).toDouble * b.getByte(i).toDouble; i += 1 }
    s
  }
}

/** Static runtime for the hash expressions' generated code: the single
  * home of the md5-prefix convention (TextOps borrows [[digest]] and
  * [[prefixOf]] so gram/band hashes can never desync from
  * graft_hash_array).
  */
object HashOps {
  /** Per-thread MD5 instance — MessageDigest is stateful and not
    * thread-safe; reset() per use.
    */
  val digest = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }
  private val HEX = "0123456789abcdef".toCharArray

  /** First `nibbles` hex digits of a digest as an unsigned int64
    * (nibbles ≤ 15 keeps it positive) — the integer value of
    * `conv(substr(hex(digest), 1, nibbles), 16, 10)`.
    */
  def prefixOf(digest: Array[Byte], nibbles: Int): Long = {
    var acc = 0L
    var i = 0
    while (i < nibbles) {
      val b = digest(i / 2) & 0xff
      acc = (acc << 4) | (if (i % 2 == 0) b >>> 4 else b & 0xf)
      i += 1
    }
    acc
  }

  /** First `nibbles` hex chars of md5(s ++ suffix), parsed as an unsigned
    * long — byte-for-byte the value of
    * `conv(substr(md5(concat(s, suffix)), 1, nibbles), 16, 10)`.
    */
  def md5Prefix(s: org.apache.spark.unsafe.types.UTF8String,
                suffix: org.apache.spark.unsafe.types.UTF8String,
                nibbles: Int): Long = {
    val d = digest.get()
    d.reset()
    d.update(s.getBytes)
    if (suffix.numBytes() > 0) d.update(suffix.getBytes)
    prefixOf(d.digest(), nibbles)
  }
  // HEX retained for debugging parity checks
  def hex(digest: Array[Byte], n: Int): String =
    digest.take((n + 1) / 2).flatMap(b => Array(HEX((b & 0xff) >>> 4), HEX(b & 0xf)))
      .mkString.take(n)
}

/** Hashes every element of a string array in one codegen'd loop:
  * `graft_hash_array(arr, suffix, nibbles)` returns
  * `array<bigint>` where out(i) = first-`nibbles`-hex-chars of
  * md5(arr(i) ++ suffix) as an integer — exactly
  * `transform(arr, s -> conv(substr(md5(concat(s, suffix)), 1, nibbles), 16, 10))`
  * but evaluated natively: HOF lambdas interpret their body per element,
  * which dominates the LSH/simhash pipelines (per-element md5 through an
  * interpreted expression tree). Null elements hash to null, matching the
  * `transform` formulation (concat propagates the null).
  *
  * suffix and nibbles must be foldable (they parameterize the generated
  * code); both are validated at type-check time — suffix non-null and
  * 1 ≤ nibbles ≤ 15 (which keeps results positive in int64).
  */
case class HashArray(child: Expression, suffixExpr: Expression, nibblesExpr: Expression)
    extends org.apache.spark.sql.catalyst.expressions.TernaryExpression {
  import org.apache.spark.sql.types.{ArrayType, LongType, StringType, IntegerType}
  import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
  import org.apache.spark.unsafe.types.UTF8String

  override def first: Expression = child
  override def second: Expression = suffixExpr
  override def third: Expression = nibblesExpr
  private def childContainsNull: Boolean = child.dataType match {
    case ArrayType(_, n) => n
    case _ => true
  }
  override def dataType: DataType =
    ArrayType(LongType, containsNull = childContainsNull)
  override def prettyName: String = "graft_hash_array"

  override def checkInputDataTypes(): TypeCheckResult =
    (child.dataType, suffixExpr.dataType, nibblesExpr.dataType) match {
      case (ArrayType(StringType, _), StringType, IntegerType)
        if suffixExpr.foldable && nibblesExpr.foldable =>
        // both args are foldable constants — validate their values here so
        // misuse fails at analysis, not as garbage hashes or an AIOOBE at
        // execution (nibbles > 32 would index past the md5 digest; 16–32
        // would silently overflow into negative space)
        val nib = nibblesExpr.eval()
        if (nib == null || nib.asInstanceOf[Int] < 1 || nib.asInstanceOf[Int] > 15)
          TypeCheckResult.TypeCheckFailure(
            s"graft_hash_array nibbles must be in [1, 15], got $nib")
        else if (suffixExpr.eval() == null)
          TypeCheckResult.TypeCheckFailure("graft_hash_array suffix must be non-null")
        else TypeCheckResult.TypeCheckSuccess
      case _ => TypeCheckResult.TypeCheckFailure(
        "graft_hash_array requires (array<string>, foldable string, foldable int)")
    }

  override def nullSafeEval(arr: Any, suffix: Any, nibbles: Any): Any = {
    val xs = arr.asInstanceOf[ArrayData]
    val suf = suffix.asInstanceOf[UTF8String]
    val n = nibbles.asInstanceOf[Int]
    if (!childContainsNull) {
      val out = new Array[Long](xs.numElements())
      var i = 0
      while (i < out.length) {
        out(i) = HashOps.md5Prefix(xs.getUTF8String(i), suf, n)
        i += 1
      }
      new GenericArrayData(out)
    } else {
      val out = new Array[Any](xs.numElements())
      var i = 0
      while (i < out.length) {
        out(i) = if (xs.isNullAt(i)) null else HashOps.md5Prefix(xs.getUTF8String(i), suf, n)
        i += 1
      }
      new GenericArrayData(out)
    }
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (arr, suf, nib) => {
      val i = ctx.freshName("i")
      val out = ctx.freshName("out")
      if (!childContainsNull)
        // containsNull=false input: primitive long[] fast path
        s"""
           |long[] $out = new long[$arr.numElements()];
           |for (int $i = 0; $i < $out.length; $i++) {
           |  $out[$i] = graft.functions.HashOps.md5Prefix($arr.getUTF8String($i), $suf, $nib);
           |}
           |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($out);
         """.stripMargin
      else
        s"""
           |Object[] $out = new Object[$arr.numElements()];
           |for (int $i = 0; $i < $out.length; $i++) {
           |  $out[$i] = $arr.isNullAt($i) ? null
           |    : (Object) graft.functions.HashOps.md5Prefix($arr.getUTF8String($i), $suf, $nib);
           |}
           |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($out);
         """.stripMargin
    })

  override protected def withNewChildrenInternal(
      f: Expression, s: Expression, t: Expression): HashArray =
    copy(child = f, suffixExpr = s, nibblesExpr = t)
}

/** Static runtime for [[LshSig]]'s generated code, and the single canonical
  * home of the hyperplane-LSH constants (graft.ext.LlmOps delegates here —
  * the Spark HOF reference form, the DuckDB oracle literal, and this native
  * evaluation all derive from the same masks).
  */
object LshOps {
  val PlaneCount = 32
  val Dim = 64

  /** Deterministic ±1 hyperplane weights from md5("p:i") parity, packed as
    * one 64-bit mask per plane (bit i set ⇔ w[p][i] = +1). See
    * graft.ext.LlmOps.lshPlaneMatrix for the construction rationale
    * (reference: content-similarity validation,
    * lab/exercises/06-validation-monitoring.md:90-179).
    */
  val planeMasks: Array[Long] = Array.tabulate(PlaneCount) { p =>
    val d = java.security.MessageDigest.getInstance("MD5")
    (0 until Dim).foldLeft(0L) { (acc, i) =>
      d.reset()
      val h = d.digest(s"$p:$i".getBytes("UTF-8"))
      if ((h(0) & 1) == 0) acc | (1L << i) else acc
    }
  }

  /** The 32-plane signature of one embedding — semantics BIT-IDENTICAL to
    * the HOF reference form (graft.ext.LlmOps.withLshSigHof), including its
    * degenerate-input behavior, which falls out of SQL null propagation:
    *
    *  - a null ELEMENT nulls the code total (`aggregate` over a null),
    *    which nulls every plane's `>= 0` test, and `if(null, …)` takes the
    *    else branch → signature 0;
    *  - fewer than 64 dims: `zip_with(codes, sequence(0,63), …)` pads codes
    *    with nulls, so any plane with a weight bit at a missing dim nulls
    *    its partial sum → that plane's bit is 0 (empty input → 0 overall);
    *  - more than 64 dims: the sequence side pads with null indexes, whose
    *    `if` condition is null → contributes 0, so dims ≥ 64 are ignored by
    *    the planes while the code total still sums ALL dims;
    *  - NaN/±Inf flow through the same double arithmetic and double→int
    *    cast in both engines.
    */
  def sigOf(xs: org.apache.spark.sql.catalyst.util.ArrayData,
            isFloat: Boolean): Long = {
    val n = xs.numElements()
    // pass 1: nulls + the quantization scale (array_max of abs values;
    // Math.max propagates NaN exactly like Spark's NaN-greatest ordering)
    var maxAbs = Double.NegativeInfinity
    var i = 0
    while (i < n) {
      if (xs.isNullAt(i)) return 0L
      val v = if (isFloat) xs.getFloat(i).toDouble else xs.getDouble(i)
      maxAbs = Math.max(maxAbs, Math.abs(v))
      i += 1
    }
    val scale = if (n == 0) 1e-30 else Math.max(maxAbs / 127.0, 1e-30)
    // pass 2: int8 codes (embed_quantize's construction) + their total
    val codes = new Array[Int](n)
    var ctot = 0L
    i = 0
    while (i < n) {
      val v = if (isFloat) xs.getFloat(i).toDouble else xs.getDouble(i)
      codes(i) = Math.floor(v / scale + 0.5d).toInt
      ctot += codes(i)
      i += 1
    }
    // pass 3: sign of each plane's ±1 dot = 2·(sum over +1 dims) − total
    var sig = 0L
    val lim = Math.min(n, Dim)
    var p = 0
    while (p < PlaneCount) {
      val mask = planeMasks(p)
      // a weight bit at a missing dim hits zip_with's null padding → plane bit 0
      if (!(n < Dim && (mask >>> n) != 0L)) {
        var sp = 0L
        var j = 0
        while (j < lim) {
          if (((mask >> j) & 1L) != 0L) sp += codes(j)
          j += 1
        }
        if (2 * sp - ctot >= 0) sig |= (1L << p)
      }
      p += 1
    }
    sig
  }

  /** ±1 weight bits for dims [64·w, 64·w+64) of plane `p` — the SAME
    * md5("p:i") parity construction as [[planeMasks]] extended to any
    * global dim index, so word 0 IS planeMasks(p). Computed lazily and
    * cached: one md5 per (plane, dim) ever, never per row.
    */
  private val maskWords = new java.util.concurrent.ConcurrentHashMap[Long, Long]()
  def maskWord(p: Int, w: Int): Long =
    if (w == 0) planeMasks(p)
    else maskWords.computeIfAbsent((p.toLong << 32) | w, { key =>
      val plane = (key >> 32).toInt
      val word = (key & 0xffffffffL).toInt
      val d = java.security.MessageDigest.getInstance("MD5")
      (0 until 64).foldLeft(0L) { (acc, b) =>
        d.reset()
        val h = d.digest(s"$plane:${(word << 6) + b}".getBytes("UTF-8"))
        if ((h(0) & 1) == 0) acc | (1L << b) else acc
      }
    })

  /** As [[sigOf]] but the planes span EXACTLY the input's dimensions —
    * no 64-dim pin, so a 32-dim (or 1536-dim) embedding gets real sign
    * bits instead of degenerating to 0. The quantization and sign rule are
    * identical; at n = 64 this is bit-identical to [[sigOf]]
    * (spec-pinned). Not oracle-mirrored: this form backs the pairwise
    * cell SPLIT (graft.ext.LlmOps.withPairCells), where the only contract
    * is determinism + identical vectors sharing every bit; sim_search_lsh
    * keeps [[sigOf]], whose 64-dim HOF/DuckDB twin is bit-pinned.
    */
  def sigOfAny(xs: org.apache.spark.sql.catalyst.util.ArrayData,
               isFloat: Boolean): Long = {
    val n = xs.numElements()
    var maxAbs = Double.NegativeInfinity
    var i = 0
    while (i < n) {
      if (xs.isNullAt(i)) return 0L
      val v = if (isFloat) xs.getFloat(i).toDouble else xs.getDouble(i)
      maxAbs = Math.max(maxAbs, Math.abs(v))
      i += 1
    }
    val scale = if (n == 0) 1e-30 else Math.max(maxAbs / 127.0, 1e-30)
    val codes = new Array[Int](n)
    var ctot = 0L
    i = 0
    while (i < n) {
      val v = if (isFloat) xs.getFloat(i).toDouble else xs.getDouble(i)
      codes(i) = Math.floor(v / scale + 0.5d).toInt
      ctot += codes(i)
      i += 1
    }
    var sig = 0L
    var p = 0
    while (p < PlaneCount) {
      var sp = 0L
      var j = 0
      var mask = maskWord(p, 0)
      while (j < n) {
        if ((j & 63) == 0 && j != 0) mask = maskWord(p, j >> 6)
        if (((mask >> (j & 63)) & 1L) != 0L) sp += codes(j)
        j += 1
      }
      if (2 * sp - ctot >= 0) sig |= (1L << p)
      p += 1
    }
    sig
  }
}

/** `graft_lsh_sig(embedding)` → bigint: the 32-plane hyperplane-LSH
  * signature (int8-quantize, ±1 sign projections, sign-bit pack) in one
  * native pass. The HOF reference form interprets three nested
  * zip_with/aggregate chains per row (~400 µs/row measured at 64 dims —
  * it dominated sim_search_lsh end to end); this expression is a pair of
  * tight primitive loops inside whole-stage codegen. Bit-identical to the
  * reference form by [[LshOps.sigOf]]'s contract, pinned in
  * VectorExpressionsSpec.
  */
case class LshSig(child: Expression) extends
    org.apache.spark.sql.catalyst.expressions.UnaryExpression {
  import org.apache.spark.sql.types.LongType

  private def isFloat: Boolean = child.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) | ArrayType(DoubleType, _) =>
      TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"graft_lsh_sig requires array<float|double>, got $t")
  }
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_lsh_sig"

  override def nullSafeEval(a: Any): Any =
    LshOps.sigOf(a.asInstanceOf[ArrayData], isFloat)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a =>
      s"${ev.value} = graft.functions.LshOps.sigOf($a, $isFloat);")

  override protected def withNewChildInternal(newChild: Expression): LshSig =
    copy(child = newChild)
}

/** `graft_dhash(grid)` → bigint: the difference hash (dHash) of a pixel
  * grid, the standard public perceptual image fingerprint (resize the image
  * to a small grayscale grid, then bit i = grid[i] > grid[i+1] for each
  * adjacent pair). On a 64-value grid (the 8×8 thumbnail
  * `multimodal_resize`-style pooling produces) this yields 63 bits —
  * bit 63 is structurally zero, so the hash is always non-negative and
  * pigeonhole block arithmetic stays in the positive `div` domain.
  *
  * Near-identical images (a re-encode, a small crop, one edited region)
  * perturb few adjacent-pair comparisons, so they land within a small
  * hamming radius — the same bucketed pairing dedup_simhash_hamming64 uses
  * then finds them without any all-pairs work.
  *
  * Cross-engine parity: comparisons run on double-widened values — exact
  * for float inputs in both engines. A null ELEMENT contributes a 0 bit
  * (mirrors the DuckDB oracle's `CASE WHEN NULL > x … ELSE 0`); inputs with
  * more than 64 values hash their first 64 (63 comparisons). NaN elements
  * compare false here but high in DuckDB — the decode contract upstream
  * never emits NaN pixels.
  */
case class DHash(child: Expression) extends
    org.apache.spark.sql.catalyst.expressions.UnaryExpression {
  import org.apache.spark.sql.types.LongType

  private def isFloat: Boolean = child.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) | ArrayType(DoubleType, _) =>
      TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"graft_dhash requires array<float|double>, got $t")
  }
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_dhash"

  override def nullSafeEval(a: Any): Any =
    DHashOps.dhashOf(a.asInstanceOf[ArrayData], isFloat)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a =>
      s"${ev.value} = graft.functions.DHashOps.dhashOf($a, $isFloat);")

  override protected def withNewChildInternal(newChild: Expression): DHash =
    copy(child = newChild)
}

/** Static runtime for [[DHash]]'s generated code. */
object DHashOps {
  /** Pack up to 63 adjacent-pair comparisons into one int64:
    * bit i set ⇔ grid[i] > grid[i+1] (double compare; null-safe → 0 bit).
    */
  def dhashOf(xs: org.apache.spark.sql.catalyst.util.ArrayData,
              isFloat: Boolean): Long = {
    val n = Math.min(xs.numElements(), 64)
    var acc = 0L
    var i = 0
    while (i < n - 1) {
      if (!xs.isNullAt(i) && !xs.isNullAt(i + 1)) {
        val p = if (isFloat) xs.getFloat(i).toDouble else xs.getDouble(i)
        val q = if (isFloat) xs.getFloat(i + 1).toDouble else xs.getDouble(i + 1)
        if (p > q) acc |= (1L << i)
      }
      i += 1
    }
    acc
  }
}

/** `graft_lsh_sig_any(embedding)` → bigint: [[LshSig]] with the planes
  * spanning exactly the input's dimensions ([[LshOps.sigOfAny]]) — the
  * splitting form for [[graft.ext.LlmOps.withPairCells]], valid at any
  * embedding width. Bit-identical to graft_lsh_sig at 64 dims.
  */
case class LshSigAny(child: Expression) extends
    org.apache.spark.sql.catalyst.expressions.UnaryExpression {
  import org.apache.spark.sql.types.LongType

  private def isFloat: Boolean = child.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) | ArrayType(DoubleType, _) =>
      TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"graft_lsh_sig_any requires array<float|double>, got $t")
  }
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_lsh_sig_any"

  override def nullSafeEval(a: Any): Any =
    LshOps.sigOfAny(a.asInstanceOf[ArrayData], isFloat)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a =>
      s"${ev.value} = graft.functions.LshOps.sigOfAny($a, $isFloat);")

  override protected def withNewChildInternal(newChild: Expression): LshSigAny =
    copy(child = newChild)
}

/** Native ADC (asymmetric-distance) kernel for the PQ search scan:
  * `graft_pq_adc(codes, lut, ks)` = Σ_s lut[s·ks + codes[s]] — the
  * per-vector lookup-table sum product quantization ranks by (Jégou et
  * al., TPAMI 2011). The HOF formulation (aggregate over sequence with a
  * nested filter) evaluates interpreted and re-scans the LUT entries per
  * subspace; this expression is a branch-light primitive loop inside
  * whole-stage codegen — the same reason the int8 scan rides
  * [[DotProduct]]. Accumulation order is s ascending, identical to the
  * HOF form and the DuckDB mirror's fixed-order sum.
  *
  * `lut` is the DENSE per-query table (slot s·ks + code; codes that died
  * during training leave 0-filled holes no vector can reference — codes
  * never renumber). NULL on null inputs, null elements, or an
  * out-of-range code (a codes/ks mismatch — fail loud, not wrong).
  */
case class PqAdc(codes: Expression, lut: Expression, ksExpr: Expression)
    extends TernaryExpression {

  override def first: Expression = codes
  override def second: Expression = lut
  override def third: Expression = ksExpr

  override def checkInputDataTypes(): TypeCheckResult =
    (codes.dataType, lut.dataType, ksExpr.dataType) match {
      case (ArrayType(IntegerType, _), ArrayType(DoubleType, _), IntegerType)
          if ksExpr.foldable =>
        val ks = ksExpr.eval()
        if (ks == null || ks.asInstanceOf[Int] < 1)
          TypeCheckResult.TypeCheckFailure(s"graft_pq_adc ks must be >= 1, got $ks")
        else TypeCheckResult.TypeCheckSuccess
      case _ => TypeCheckResult.TypeCheckFailure(
        s"graft_pq_adc requires (array<int>, array<double>, foldable int), got " +
          s"(${codes.dataType}, ${lut.dataType}, ${ksExpr.dataType})")
    }
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "graft_pq_adc"

  private def mayHaveNullElems: Boolean = (codes.dataType, lut.dataType) match {
    case (ArrayType(_, cn), ArrayType(_, ln)) => cn || ln
    case _ => true
  }

  override def nullSafeEval(c: Any, l: Any, k: Any): Any = {
    val cs = c.asInstanceOf[ArrayData]
    val lt = l.asInstanceOf[ArrayData]
    val ks = k.asInstanceOf[Int]
    val m = cs.numElements()
    val n = lt.numElements()
    var acc = 0.0
    var s = 0
    while (s < m) {
      if (cs.isNullAt(s)) return null
      val code = cs.getInt(s)
      val slot = s * ks + code
      if (code < 0 || code >= ks || slot >= n) return null
      if (lt.isNullAt(slot)) return null
      acc += lt.getDouble(slot)
      s += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (c, l, k) => {
      val s = ctx.freshName("s")
      val m = ctx.freshName("m")
      val n = ctx.freshName("n")
      val code = ctx.freshName("code")
      val slot = ctx.freshName("slot")
      val acc = ctx.freshName("acc")
      val nullCheck =
        if (mayHaveNullElems)
          s"if ($c.isNullAt($s) || $l.isNullAt($slot)) { ${ev.isNull} = true; break; }"
        else ""
      // the code-range check is unconditional: an out-of-range code is a
      // codes/ks contract violation and must surface as NULL, not as a
      // read of another subspace's slot
      s"""
         |int $m = $c.numElements();
         |int $n = $l.numElements();
         |double $acc = 0.0;
         |for (int $s = 0; $s < $m; $s++) {
         |  int $code = $c.getInt($s);
         |  int $slot = $s * $k + $code;
         |  if ($code < 0 || $code >= $k || $slot >= $n) { ${ev.isNull} = true; break; }
         |  $nullCheck
         |  $acc += $l.getDouble($slot);
         |}
         |if (!${ev.isNull}) ${ev.value} = $acc;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression,
      newThird: Expression): PqAdc =
    copy(codes = newFirst, lut = newSecond, ksExpr = newThird)
}

/** Static runtime for [[ArgmaxCellKey]]'s generated code: the per-row
  * argmax-over-centroids loop, kept out of the generated source so codegen
  * emits one call instead of a centroid-table-sized method body.
  */
object ArgmaxOps {
  /** The encoded argmax key over all centroids for one embedding row —
    * bit-identical to the crossJoin + `max(akey)` group it replaces
    * (LlmOps.argmaxCell):
    *
    *   - per centroid i: ccos = graft_dot(emb, cvec_i) / (nrm · cnrm_i)
    *     with graft_dot's exact semantics (element widened to double
    *     before multiply, accumulation in array order, NULL on length
    *     mismatch or a null element — here: that candidate contributes a
    *     NULL akey, and since every centroid shares one dim, ALL
    *     candidates are null together → boxed null, exactly the
    *     all-null-group `max` the join shape produced);
    *   - NaN ccos throws (the r12 ADVICE loud-NaN guard — the bigint
    *     encoding would otherwise map NaN to a clean-looking ccos=0);
    *   - akey = m·2³² + (2³¹−1 − cid) with m = (long) (floor(|ccos·10⁶| +
    *     0.5) · signum(ccos·10⁶)) — the identical double ops and the
    *     identical non-ANSI long overflow wrap;
    *   - the max over centroids = the group max over the candidate rows.
    */
  def akey(emb: ArrayData, isFloat: Boolean, mayNullElem: Boolean, nrm: Double,
           cids: Array[Int], cnrms: Array[Double],
           mat: Array[Double]): java.lang.Long = {
    val k = cids.length
    val dim = if (k == 0) 0 else mat.length / k
    val n = emb.numElements()
    if (n != dim) return null // every candidate dot is NULL together
    if (mayNullElem) {
      var j = 0
      while (j < n) { if (emb.isNullAt(j)) return null; j += 1 }
    }
    var best = Long.MinValue
    var i = 0
    while (i < k) {
      var dot = 0.0
      var j = 0
      val off = i * dim
      if (isFloat) {
        while (j < n) { dot += emb.getFloat(j).toDouble * mat(off + j); j += 1 }
      } else {
        while (j < n) { dot += emb.getDouble(j) * mat(off + j); j += 1 }
      }
      val ccos = dot / (nrm * cnrms(i))
      if (java.lang.Double.isNaN(ccos))
        throw new RuntimeException(
          "argmaxCell: NaN assignment cosine — NaN-poisoned vector or " +
            "centroid; run embeddingHealth and purge")
      val y = ccos * 1e6
      val m = (math.floor(math.abs(y) + 0.5) * math.signum(y)).toLong
      val akey = m * 4294967296L + (2147483647L - cids(i).toLong)
      if (akey > best) best = akey
      i += 1
    }
    java.lang.Long.valueOf(best)
  }
}

/** Join-free k-means cell assignment key:
  * `graft_argmax_cell(embedding, nrm, cids, cnrms, mat)` returns the SAME
  * encoded bigint the argmaxCell crossJoin+groupBy pipeline maxes —
  * m·2³² + (2³¹−1 − cid) for the winning centroid — computed per row
  * against a FOLDABLE centroid table (cids: array<int>, cnrms:
  * array<double>, mat: row-major flattened array<double>), so a flat
  * assignment against a driver-local centroid table is ONE codegen'd
  * projection: no crossJoin, no exchange, no groupBy, no payload rejoin
  * (guide §2.4 "remove shuffles outright"). The centroid literals are
  * evaluated once and installed as codegen reference objects, never
  * inlined in generated source. NULL exactly when the join shape's group
  * max was NULL (null/mismatched/null-element embedding); the NaN guard
  * throws the same loud error.
  */
case class ArgmaxCellKey(emb: Expression, nrm: Expression,
                         cidsE: Expression, cnrmsE: Expression,
                         matE: Expression)
    extends Expression {

  override def children: Seq[Expression] = Seq(emb, nrm, cidsE, cnrmsE, matE)

  private def isFloat: Boolean = emb.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }
  private def mayNullElem: Boolean = emb.dataType match {
    case ArrayType(_, cn) => cn
    case _ => true
  }

  override def checkInputDataTypes(): TypeCheckResult =
    (emb.dataType, nrm.dataType, cidsE.dataType, cnrmsE.dataType, matE.dataType) match {
      case (ArrayType(FloatType, _) | ArrayType(DoubleType, _), DoubleType,
            ArrayType(IntegerType, _), ArrayType(DoubleType, _),
            ArrayType(DoubleType, _))
          if cidsE.foldable && cnrmsE.foldable && matE.foldable =>
        TypeCheckResult.TypeCheckSuccess
      case _ => TypeCheckResult.TypeCheckFailure(
        "graft_argmax_cell requires (array<float|double> emb, double nrm, " +
          "foldable array<int> cids, foldable array<double> cnrms, " +
          "foldable array<double> mat), got " +
          s"(${emb.dataType}, ${nrm.dataType}, ${cidsE.dataType}, " +
          s"${cnrmsE.dataType}, ${matE.dataType})")
    }

  override def dataType: DataType = org.apache.spark.sql.types.LongType
  override def nullable: Boolean = true
  override def prettyName: String = "graft_argmax_cell"

  @transient private lazy val cids: Array[Int] =
    cidsE.eval().asInstanceOf[ArrayData].toIntArray()
  @transient private lazy val cnrms: Array[Double] =
    cnrmsE.eval().asInstanceOf[ArrayData].toDoubleArray()
  @transient private lazy val mat: Array[Double] =
    matE.eval().asInstanceOf[ArrayData].toDoubleArray()

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val e = emb.eval(input)
    val n = nrm.eval(input)
    if (e == null || n == null) return null
    ArgmaxOps.akey(e.asInstanceOf[ArrayData], isFloat, mayNullElem,
      n.asInstanceOf[Double], cids, cnrms, mat)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val embGen = emb.genCode(ctx)
    val nrmGen = nrm.genCode(ctx)
    val cidsRef = ctx.addReferenceObj("argmaxCids", cids, "int[]")
    val cnrmsRef = ctx.addReferenceObj("argmaxCnrms", cnrms, "double[]")
    val matRef = ctx.addReferenceObj("argmaxMat", mat, "double[]")
    val boxed = ctx.freshName("akeyBoxed")
    val code =
      code"""
        |${embGen.code}
        |${nrmGen.code}
        |boolean ${ev.isNull} = true;
        |long ${ev.value} = -1L;
        |if (!${embGen.isNull} && !${nrmGen.isNull}) {
        |  java.lang.Long $boxed = graft.functions.ArgmaxOps.akey(
        |    ${embGen.value}, $isFloat, $mayNullElem, ${nrmGen.value},
        |    $cidsRef, $cnrmsRef, $matRef);
        |  if ($boxed != null) { ${ev.isNull} = false; ${ev.value} = $boxed.longValue(); }
        |}
      """.stripMargin
    ev.copy(code = code)
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): ArgmaxCellKey =
    copy(emb = newChildren(0), nrm = newChildren(1), cidsE = newChildren(2),
      cnrmsE = newChildren(3), matE = newChildren(4))
}
