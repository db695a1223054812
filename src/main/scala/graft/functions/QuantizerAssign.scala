package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** Native quantizer expressions — the map-only argmax/argmin and lookup
  * table kernels of the ANN tier (guide §2.4 + §4 applied together):
  * the quantizer geometry (centroids / PQ codebooks) is CONSTRUCTOR
  * state handed to the generated code as reference arrays — never
  * inlined as literals, so the generated method size is independent of
  * the geometry size — and each row's work runs as one tight generated
  * loop: zero exchange, zero per-candidate struct allocation, zero
  * interpreted lambda.
  *
  * Why not built-ins: a `greatest`/`least` chain over per-candidate
  * (score, id) structs is whole-stage-codegen'd but allocates k structs
  * per row and pays a comparator call per candidate (measured 2-2.7× on
  * the PQ paths); a higher-order-function fold is worse still — HOF
  * lambdas are CodegenFallback, dropping the hot dot kernel to
  * interpreted eval. The expressions here are the [[MinHashSig]] /
  * [[BpeEncode]] tier: plan-time state, generated loops.
  *
  * Exactness contract (the engine-wide scaled-integer discipline): every
  * dot is `Σ_i floor(double(x_i) · double(c_i) · 1e15)` accumulated in
  * longs — bit-identical to [[DotScaled]] / the HOF chain on any engine
  * (float inputs widen exactly to double; the stored centroid doubles
  * ARE the widened floats). Ties break to the smaller centroid id by
  * iterating candidates in ascending-id order with a strict comparison.
  * Null semantics, shared by every kernel through [[QuantizerKernel]]:
  * null input array → null; null element or a length mismatch against
  * the geometry → null.
  */
private[graft] object QuantizerAssign {
  /** Exact scaled self-dot of one centroid, the driver-side twin of
    * `dot_scaled(c, c)` — same per-element IEEE chain, associative long
    * sum. */
  def selfDot(v: Seq[Double]): Long =
    v.map(x => math.floor(x * x * 1e15).toLong).sum

  private[functions] def elemOk(t: DataType): Boolean = t match {
    case ArrayType(FloatType, _) | ArrayType(DoubleType, _) => true
    case _ => false
  }

  private[functions] def isDouble(t: DataType): Boolean = t match {
    case ArrayType(DoubleType, _) => true
    case _ => false
  }

  /** The input prologue, interpreted: the `n` elements widened to
    * double, or null when the length differs or an element is null. */
  private[functions] def widen(a: ArrayData, n: Int, dbl: Boolean): Array[Double] = {
    if (a.numElements() != n) return null
    val x = new Array[Double](n)
    var i = 0
    while (i < n) {
      if (a.isNullAt(i)) return null
      x(i) = if (dbl) a.getDouble(i) else a.getFloat(i).toDouble
      i += 1
    }
    x
  }

  /** The input prologue, generated: the same length and null checks set
    * `ev.isNull`, and `body` runs over the widened `double[]` (named by
    * its argument) only when the input is well formed. */
  private[functions] def widenCode(ctx: CodegenContext, ev: ExprCode, a: String,
      n: Int, dbl: Boolean)(body: String => String): String = {
    val i = ctx.freshName("i"); val x = ctx.freshName("x")
    val getX = if (dbl) s"$a.getDouble($i)" else s"((double) $a.getFloat($i))"
    s"""
       |if ($a.numElements() != $n) { ${ev.isNull} = true; } else {
       |  final double[] $x = new double[$n];
       |  for (int $i = 0; $i < $n; $i++) {
       |    if ($a.isNullAt($i)) { ${ev.isNull} = true; break; }
       |    $x[$i] = $getX;
       |  }
       |  if (!${ev.isNull}) {
       |    ${body(x)}
       |  }
       |}
     """.stripMargin
  }

  /** Index of the centroid with the maximum exact scaled dot against
    * `x`, ties to the lower index. */
  private[functions] def argmaxDot(x: Array[Double], cents: Array[Array[Double]]): Int = {
    var bestDot = Long.MinValue
    var best = -1
    var k = 0
    while (k < cents.length) {
      val c = cents(k)
      var acc = 0L
      var j = 0
      while (j < x.length) {
        acc += math.floor(x(j) * c(j) * 1e15).toLong
        j += 1
      }
      if (best < 0 || acc > bestDot) { bestDot = acc; best = k }
      k += 1
    }
    best
  }

  /** [[argmaxDot]] generated: declares `int <best>` (returned name) over
    * the `double[][]` reference `centsRef`. */
  private[functions] def argmaxDotCode(ctx: CodegenContext, x: String,
      centsRef: String, nCents: Int, dim: Int): (String, String) = {
    val j = ctx.freshName("j"); val k = ctx.freshName("k")
    val c = ctx.freshName("c"); val acc = ctx.freshName("acc")
    val bestDot = ctx.freshName("bestDot"); val best = ctx.freshName("best")
    (s"""
        |long $bestDot = Long.MIN_VALUE; int $best = -1;
        |for (int $k = 0; $k < $nCents; $k++) {
        |  final double[] $c = $centsRef[$k];
        |  long $acc = 0L;
        |  for (int $j = 0; $j < $dim; $j++) {
        |    $acc += (long) Math.floor($x[$j] * $c[$j] * 1.0E15D);
        |  }
        |  if ($best < 0 || $acc > $bestDot) { $bestDot = $acc; $best = $k; }
        |}
      """.stripMargin, best)
  }
}

/** A quantizer kernel over one float/double vector of `inputLen`
  * elements: the shared type check, null contract and input prologue
  * ([[QuantizerAssign.widen]] / [[QuantizerAssign.widenCode]]); each
  * kernel supplies only its loop over the widened vector. */
private[functions] trait QuantizerKernel extends UnaryExpression {
  protected def fnName: String
  protected def inputLen: Int
  /** The result for a well-formed, widened input. */
  protected def evalVec(x: Array[Double]): Any
  /** Generated twin of [[evalVec]]: code assigning `ev.value` from the
    * `double[]` named `x`. */
  protected def genVec(ctx: CodegenContext, ev: ExprCode, x: String): String

  // malformed input (a null element, a length mismatch) yields null,
  // so the result is nullable even when the input array is not
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult =
    if (QuantizerAssign.elemOk(child.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$fnName expects a float/double array, got ${child.dataType.simpleString}")

  override def nullSafeEval(av: Any): Any = {
    val x = QuantizerAssign.widen(av.asInstanceOf[ArrayData], inputLen,
      QuantizerAssign.isDouble(child.dataType))
    if (x == null) null else evalVec(x)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => QuantizerAssign.widenCode(ctx, ev, a,
      inputLen, QuantizerAssign.isDouble(child.dataType))(genVec(ctx, ev, _)))
}

/** `NearestCentroidDot(vec)` — the cid (ascending-sorted constructor
  * order, dense or not) of the centroid with the maximum exact scaled
  * dot against the input vector, ties to the smaller cid: the map-only
  * form of IVF coarse assignment (`max_by(cid, struct(dot, -cid))` over
  * a broadcast centroid table, without the table, the row expansion or
  * the aggregation exchange). */
case class NearestCentroidDot(child: Expression,
    cids: Seq[Int], cents: Seq[Seq[Double]])
    extends QuantizerKernel {

  require(cids.nonEmpty && cids.size == cents.size,
    "nearest_centroid needs one id per centroid")
  require(cids.zip(cids.tail).forall(p => p._1 < p._2),
    "centroid ids must be strictly ascending (tie-break contract)")

  override def dataType: DataType = IntegerType
  protected def fnName: String = "nearest_centroid"

  private val cidArr: Array[Int] = cids.toArray
  private val centArr: Array[Array[Double]] = cents.map(_.toArray).toArray
  protected val inputLen: Int = centArr(0).length

  protected def evalVec(x: Array[Double]): Any =
    cidArr(QuantizerAssign.argmaxDot(x, centArr))

  protected def genVec(ctx: CodegenContext, ev: ExprCode, x: String): String = {
    val cidsRef = ctx.addReferenceObj("cids", cidArr, "int[]")
    val centsRef = ctx.addReferenceObj("cents", centArr, "double[][]")
    val (argmax, best) =
      QuantizerAssign.argmaxDotCode(ctx, x, centsRef, centArr.length, inputLen)
    s"""
       |$argmax
       |${ev.value} = $cidsRef[$best];
     """.stripMargin
  }

  override protected def withNewChildInternal(newChild: Expression): NearestCentroidDot =
    copy(child = newChild)
}

/** `NearestCentroidResidual(vec)` — struct(cid, res): the
  * [[NearestCentroidDot]] winner plus the vector's double-exact
  * residual against it (`double(x_i) − double(c_i)` — the difference of
  * two widened floats, bit-identical to the `zip_with` cast chain),
  * computed in the same pass so the IVF-PQ residual stage never pays a
  * second argmax or a corpus re-join. */
case class NearestCentroidResidual(child: Expression,
    cids: Seq[Int], cents: Seq[Seq[Double]])
    extends QuantizerKernel {

  require(cids.nonEmpty && cids.size == cents.size,
    "nearest_centroid_residual needs one id per centroid")
  require(cids.zip(cids.tail).forall(p => p._1 < p._2),
    "centroid ids must be strictly ascending (tie-break contract)")

  override def dataType: DataType = StructType(Seq(
    StructField("cid", IntegerType, nullable = false),
    StructField("res", ArrayType(DoubleType, containsNull = false),
      nullable = false)))
  protected def fnName: String = "nearest_centroid_residual"

  private val cidArr: Array[Int] = cids.toArray
  private val centArr: Array[Array[Double]] = cents.map(_.toArray).toArray
  protected val inputLen: Int = centArr(0).length

  protected def evalVec(x: Array[Double]): Any = {
    val best = QuantizerAssign.argmaxDot(x, centArr)
    val bc = centArr(best)
    val res = new Array[Any](inputLen)
    var t = 0
    while (t < inputLen) { res(t) = x(t) - bc(t); t += 1 }
    InternalRow(cidArr(best), new GenericArrayData(res))
  }

  protected def genVec(ctx: CodegenContext, ev: ExprCode, x: String): String = {
    val cidsRef = ctx.addReferenceObj("cids", cidArr, "int[]")
    val centsRef = ctx.addReferenceObj("cents", centArr, "double[][]")
    val (argmax, best) =
      QuantizerAssign.argmaxDotCode(ctx, x, centsRef, centArr.length, inputLen)
    val bc = ctx.freshName("bc"); val res = ctx.freshName("res")
    val t = ctx.freshName("t"); val row = ctx.freshName("row")
    s"""
       |$argmax
       |final double[] $bc = $centsRef[$best];
       |final Object[] $res = new Object[$inputLen];
       |for (int $t = 0; $t < $inputLen; $t++) {
       |  $res[$t] = (Object) Double.valueOf($x[$t] - $bc[$t]);
       |}
       |final Object[] $row = new Object[2];
       |$row[0] = (Object) Integer.valueOf($cidsRef[$best]);
       |$row[1] = new org.apache.spark.sql.catalyst.util.GenericArrayData($res);
       |${ev.value} = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow($row);
     """.stripMargin
  }

  override protected def withNewChildInternal(newChild: Expression): NearestCentroidResidual =
    copy(child = newChild)
}

/** `PqAssignCodes(vec)` — all `m` product-quantization codes of one
  * vector in subspace order: for subspace `s`, the code (ascending
  * constructor order per subspace, ties to the smaller code) minimizing
  * the exact integer sub-distance of the vector's s-th contiguous
  * `subDim` slice against that subspace's codebook. The comparison
  * drops the slice's self-dot — constant within a subspace, so the
  * `(d2, code)` order is unchanged — and each entry's self-dot is
  * precomputed at construction via the same `floor(x·y·1e15)` chain, so
  * per candidate the loop pays exactly one dot. Map-only form of the
  * subvector-explode → broadcast-join → `min_by` → re-assembly chain
  * (four plan operators and two exchanges, now zero of either). */
case class PqAssignCodes(child: Expression, subDim: Int,
    subCodes: Seq[Seq[Int]], subVecs: Seq[Seq[Seq[Double]]])
    extends QuantizerKernel {

  require(subCodes.nonEmpty && subCodes.size == subVecs.size,
    "pq_assign needs one codebook per subspace")
  require(subCodes.zip(subVecs).forall(p => p._1.size == p._2.size),
    "pq_assign needs one code id per codebook entry")
  require(subCodes.forall(cs => cs.zip(cs.tail).forall(p => p._1 < p._2)),
    "codebook codes must be strictly ascending per subspace (tie-break contract)")

  private val m: Int = subCodes.size

  override def dataType: DataType =
    ArrayType(IntegerType, containsNull = false)
  protected def fnName: String = "pq_assign"
  protected val inputLen: Int = m * subDim

  private val codeArr: Array[Array[Int]] = subCodes.map(_.toArray).toArray
  private val vecArr: Array[Array[Array[Double]]] =
    subVecs.map(_.map(_.toArray).toArray).toArray
  private val rn2Arr: Array[Array[Long]] =
    subVecs.map(_.map(QuantizerAssign.selfDot).toArray).toArray

  protected def evalVec(x: Array[Double]): Any = {
    val out = new Array[Any](m)
    var s = 0
    while (s < m) {
      val vs = vecArr(s); val r2 = rn2Arr(s)
      val off = s * subDim
      var bestScore = Long.MaxValue
      var best = -1
      var k = 0
      while (k < vs.length) {
        val c = vs(k)
        var acc = 0L
        var j = 0
        while (j < subDim) {
          acc += math.floor(x(off + j) * c(j) * 1e15).toLong
          j += 1
        }
        val score = r2(k) - 2L * acc
        if (best < 0 || score < bestScore) { bestScore = score; best = k }
        k += 1
      }
      out(s) = codeArr(s)(best)
      s += 1
    }
    new GenericArrayData(out)
  }

  protected def genVec(ctx: CodegenContext, ev: ExprCode, x: String): String = {
    val codesRef = ctx.addReferenceObj("codes", codeArr, "int[][]")
    val vecsRef = ctx.addReferenceObj("vecs", vecArr, "double[][][]")
    val rn2Ref = ctx.addReferenceObj("rn2", rn2Arr, "long[][]")
    val j = ctx.freshName("j"); val k = ctx.freshName("k")
    val s = ctx.freshName("s"); val c = ctx.freshName("c")
    val vs = ctx.freshName("vs"); val r2 = ctx.freshName("r2")
    val off = ctx.freshName("off"); val acc = ctx.freshName("acc")
    val score = ctx.freshName("score")
    val bestScore = ctx.freshName("bestScore"); val best = ctx.freshName("best")
    val out = ctx.freshName("out")
    s"""
       |final Object[] $out = new Object[$m];
       |for (int $s = 0; $s < $m; $s++) {
       |  final double[][] $vs = $vecsRef[$s];
       |  final long[] $r2 = $rn2Ref[$s];
       |  final int $off = $s * $subDim;
       |  long $bestScore = Long.MAX_VALUE; int $best = -1;
       |  for (int $k = 0; $k < $vs.length; $k++) {
       |    final double[] $c = $vs[$k];
       |    long $acc = 0L;
       |    for (int $j = 0; $j < $subDim; $j++) {
       |      $acc += (long) Math.floor($x[$off + $j] * $c[$j] * 1.0E15D);
       |    }
       |    final long $score = $r2[$k] - 2L * $acc;
       |    if ($best < 0 || $score < $bestScore) { $bestScore = $score; $best = $k; }
       |  }
       |  $out[$s] = (Object) Integer.valueOf($codesRef[$s][$best]);
       |}
       |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($out);
     """.stripMargin
  }

  override protected def withNewChildInternal(newChild: Expression): PqAssignCodes =
    copy(child = newChild)
}

/** `PqLut(vec)` — the per-query ADC lookup table of a dense codebook
  * (`subVecs(s)(j)` is code `j` of subspace `s`, uniform k): element
  * `s·k + j` is the exact scaled dot `Σ floor(x·c·1e15)` of the query's
  * s-th contiguous `subDim` slice with entry j — bit-identical to
  * `dot_scaled(slice(vec, s·subDim + 1, subDim), c)`, computed in one
  * generated loop over reference state, so the table costs the same
  * generated code at m·k = 128 as at a corpus-sized m·k. */
case class PqLut(child: Expression, subDim: Int, subVecs: Seq[Seq[Seq[Double]]])
    extends QuantizerKernel {

  require(subVecs.nonEmpty && subVecs.forall(_.size == subVecs.head.size),
    "pq_lut needs a uniform number of codes per subspace")
  require(subVecs.forall(_.forall(_.size == subDim)),
    "pq_lut needs every codebook entry to have subDim elements")

  private val m: Int = subVecs.size
  private val k: Int = subVecs.head.size

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  protected def fnName: String = "pq_lut"
  protected val inputLen: Int = m * subDim

  private val vecArr: Array[Array[Array[Double]]] =
    subVecs.map(_.map(_.toArray).toArray).toArray

  protected def evalVec(x: Array[Double]): Any = {
    val out = new Array[Long](m * k)
    var s = 0
    while (s < m) {
      val off = s * subDim
      var j = 0
      while (j < k) {
        val c = vecArr(s)(j)
        var acc = 0L
        var i = 0
        while (i < subDim) {
          acc += math.floor(x(off + i) * c(i) * 1e15).toLong
          i += 1
        }
        out(s * k + j) = acc
        j += 1
      }
      s += 1
    }
    UnsafeArrayData.fromPrimitiveArray(out)
  }

  protected def genVec(ctx: CodegenContext, ev: ExprCode, x: String): String = {
    val vecsRef = ctx.addReferenceObj("vecs", vecArr, "double[][][]")
    val s = ctx.freshName("s"); val j = ctx.freshName("j")
    val i = ctx.freshName("i"); val c = ctx.freshName("c")
    val off = ctx.freshName("off"); val acc = ctx.freshName("acc")
    val out = ctx.freshName("out")
    s"""
       |final long[] $out = new long[${m * k}];
       |for (int $s = 0; $s < $m; $s++) {
       |  final int $off = $s * $subDim;
       |  for (int $j = 0; $j < $k; $j++) {
       |    final double[] $c = $vecsRef[$s][$j];
       |    long $acc = 0L;
       |    for (int $i = 0; $i < $subDim; $i++) {
       |      $acc += (long) Math.floor($x[$off + $i] * $c[$i] * 1.0E15D);
       |    }
       |    $out[$s * $k + $j] = $acc;
       |  }
       |}
       |${ev.value} = org.apache.spark.sql.catalyst.expressions.UnsafeArrayData.fromPrimitiveArray($out);
     """.stripMargin
  }

  override protected def withNewChildInternal(newChild: Expression): PqLut =
    copy(child = newChild)
}
