package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** Native quantizer-assignment expressions — the map-only argmax/argmin
  * kernels of the ANN tier (guide §2.4 + §4 applied together): the
  * quantizer geometry (centroids / PQ codebooks, bounded by contract)
  * is CONSTRUCTOR state baked into the generated code as reference
  * arrays, and each row's nearest-centroid decision runs as one tight
  * generated loop — zero exchange, zero per-candidate struct
  * allocation, zero interpreted lambda.
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
  * Null semantics: null input array → null; null element or a
  * dimension mismatch against the geometry → null (the legacy join
  * chain's null-propagating dots could never produce a winner either).
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
}

/** `NearestCentroidDot(vec)` — the cid (ascending-sorted constructor
  * order, dense or not) of the centroid with the maximum exact scaled
  * dot against the input vector, ties to the smaller cid: the map-only
  * form of IVF coarse assignment (`max_by(cid, struct(dot, -cid))` over
  * a broadcast centroid table, without the table, the row expansion or
  * the aggregation exchange). */
case class NearestCentroidDot(child: Expression,
    cids: Seq[Int], cents: Seq[Seq[Double]])
    extends UnaryExpression {

  require(cids.nonEmpty && cids.size == cents.size,
    "nearest_centroid needs one id per centroid")
  require(cids.zip(cids.tail).forall(p => p._1 < p._2),
    "centroid ids must be strictly ascending (tie-break contract)")

  // malformed input (a null element, a length mismatch) yields null,
  // so the result is nullable even when the input array is not
  override def nullable: Boolean = true

  override def dataType: DataType = IntegerType

  override def checkInputDataTypes(): TypeCheckResult =
    if (QuantizerAssign.elemOk(child.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"nearest_centroid expects a float/double array, got ${child.dataType.simpleString}")

  private val cidArr: Array[Int] = cids.toArray
  private val centArr: Array[Array[Double]] = cents.map(_.toArray).toArray
  private val dim: Int = centArr(0).length

  override def nullSafeEval(av: Any): Any = {
    val a = av.asInstanceOf[ArrayData]
    if (a.numElements() != dim) return null
    val aD = QuantizerAssign.isDouble(child.dataType)
    val x = new Array[Double](dim)
    var i = 0
    while (i < dim) {
      if (a.isNullAt(i)) return null
      x(i) = if (aD) a.getDouble(i) else a.getFloat(i).toDouble
      i += 1
    }
    var bestDot = Long.MinValue
    var best = -1
    var k = 0
    while (k < centArr.length) {
      val c = centArr(k)
      var acc = 0L
      var j = 0
      while (j < dim) {
        acc += math.floor(x(j) * c(j) * 1e15).toLong
        j += 1
      }
      if (best < 0 || acc > bestDot) { bestDot = acc; best = k }
      k += 1
    }
    cidArr(best)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val cidsRef = ctx.addReferenceObj("cids", cidArr, "int[]")
      val centsRef = ctx.addReferenceObj("cents", centArr, "double[][]")
      val getX = if (QuantizerAssign.isDouble(child.dataType))
        s"$a.getDouble(%s)" else s"((double) $a.getFloat(%s))"
      val i = ctx.freshName("i"); val j = ctx.freshName("j")
      val k = ctx.freshName("k"); val x = ctx.freshName("x")
      val c = ctx.freshName("c"); val acc = ctx.freshName("acc")
      val bestDot = ctx.freshName("bestDot"); val best = ctx.freshName("best")
      s"""
         |if ($a.numElements() != $dim) { ${ev.isNull} = true; } else {
         |  final double[] $x = new double[$dim];
         |  for (int $i = 0; $i < $dim; $i++) {
         |    if ($a.isNullAt($i)) { ${ev.isNull} = true; break; }
         |    $x[$i] = ${getX.format(i)};
         |  }
         |  if (!${ev.isNull}) {
         |    long $bestDot = Long.MIN_VALUE; int $best = -1;
         |    for (int $k = 0; $k < ${centArr.length}; $k++) {
         |      final double[] $c = $centsRef[$k];
         |      long $acc = 0L;
         |      for (int $j = 0; $j < $dim; $j++) {
         |        $acc += (long) Math.floor($x[$j] * $c[$j] * 1.0E15D);
         |      }
         |      if ($best < 0 || $acc > $bestDot) { $bestDot = $acc; $best = $k; }
         |    }
         |    ${ev.value} = $cidsRef[$best];
         |  }
         |}
       """.stripMargin
    })

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
    extends UnaryExpression {

  require(cids.nonEmpty && cids.size == cents.size,
    "nearest_centroid_residual needs one id per centroid")
  require(cids.zip(cids.tail).forall(p => p._1 < p._2),
    "centroid ids must be strictly ascending (tie-break contract)")

  // malformed input (a null element, a length mismatch) yields null,
  // so the result is nullable even when the input array is not
  override def nullable: Boolean = true

  override def dataType: DataType = StructType(Seq(
    StructField("cid", IntegerType, nullable = false),
    StructField("res", ArrayType(DoubleType, containsNull = false),
      nullable = false)))

  override def checkInputDataTypes(): TypeCheckResult =
    if (QuantizerAssign.elemOk(child.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"nearest_centroid_residual expects a float/double array, got ${child.dataType.simpleString}")

  private val cidArr: Array[Int] = cids.toArray
  private val centArr: Array[Array[Double]] = cents.map(_.toArray).toArray
  private val dim: Int = centArr(0).length

  override def nullSafeEval(av: Any): Any = {
    val a = av.asInstanceOf[ArrayData]
    if (a.numElements() != dim) return null
    val aD = QuantizerAssign.isDouble(child.dataType)
    val x = new Array[Double](dim)
    var i = 0
    while (i < dim) {
      if (a.isNullAt(i)) return null
      x(i) = if (aD) a.getDouble(i) else a.getFloat(i).toDouble
      i += 1
    }
    var bestDot = Long.MinValue
    var best = -1
    var k = 0
    while (k < centArr.length) {
      val c = centArr(k)
      var acc = 0L
      var j = 0
      while (j < dim) {
        acc += math.floor(x(j) * c(j) * 1e15).toLong
        j += 1
      }
      if (best < 0 || acc > bestDot) { bestDot = acc; best = k }
      k += 1
    }
    val bc = centArr(best)
    val res = new Array[Any](dim)
    var t = 0
    while (t < dim) { res(t) = x(t) - bc(t); t += 1 }
    InternalRow(cidArr(best), new GenericArrayData(res))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val cidsRef = ctx.addReferenceObj("cids", cidArr, "int[]")
      val centsRef = ctx.addReferenceObj("cents", centArr, "double[][]")
      val getX = if (QuantizerAssign.isDouble(child.dataType))
        s"$a.getDouble(%s)" else s"((double) $a.getFloat(%s))"
      val i = ctx.freshName("i"); val j = ctx.freshName("j")
      val k = ctx.freshName("k"); val x = ctx.freshName("x")
      val c = ctx.freshName("c"); val acc = ctx.freshName("acc")
      val bestDot = ctx.freshName("bestDot"); val best = ctx.freshName("best")
      val bc = ctx.freshName("bc"); val res = ctx.freshName("res")
      val t = ctx.freshName("t"); val row = ctx.freshName("row")
      s"""
         |if ($a.numElements() != $dim) { ${ev.isNull} = true; } else {
         |  final double[] $x = new double[$dim];
         |  for (int $i = 0; $i < $dim; $i++) {
         |    if ($a.isNullAt($i)) { ${ev.isNull} = true; break; }
         |    $x[$i] = ${getX.format(i)};
         |  }
         |  if (!${ev.isNull}) {
         |    long $bestDot = Long.MIN_VALUE; int $best = -1;
         |    for (int $k = 0; $k < ${centArr.length}; $k++) {
         |      final double[] $c = $centsRef[$k];
         |      long $acc = 0L;
         |      for (int $j = 0; $j < $dim; $j++) {
         |        $acc += (long) Math.floor($x[$j] * $c[$j] * 1.0E15D);
         |      }
         |      if ($best < 0 || $acc > $bestDot) { $bestDot = $acc; $best = $k; }
         |    }
         |    final double[] $bc = $centsRef[$best];
         |    final Object[] $res = new Object[$dim];
         |    for (int $t = 0; $t < $dim; $t++) {
         |      $res[$t] = (Object) Double.valueOf($x[$t] - $bc[$t]);
         |    }
         |    final Object[] $row = new Object[2];
         |    $row[0] = (Object) Integer.valueOf($cidsRef[$best]);
         |    $row[1] = new org.apache.spark.sql.catalyst.util.GenericArrayData($res);
         |    ${ev.value} = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow($row);
         |  }
         |}
       """.stripMargin
    })

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
    extends UnaryExpression {

  require(subCodes.nonEmpty && subCodes.size == subVecs.size,
    "pq_assign needs one codebook per subspace")
  require(subCodes.zip(subVecs).forall(p => p._1.size == p._2.size),
    "pq_assign needs one code id per codebook entry")
  require(subCodes.forall(cs => cs.zip(cs.tail).forall(p => p._1 < p._2)),
    "codebook codes must be strictly ascending per subspace (tie-break contract)")

  private val m: Int = subCodes.size

  // malformed input (a null element, a length mismatch) yields null,
  // so the result is nullable even when the input array is not
  override def nullable: Boolean = true

  override def dataType: DataType =
    ArrayType(IntegerType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult =
    if (QuantizerAssign.elemOk(child.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"pq_assign expects a float/double array, got ${child.dataType.simpleString}")

  private val codeArr: Array[Array[Int]] = subCodes.map(_.toArray).toArray
  private val vecArr: Array[Array[Array[Double]]] =
    subVecs.map(_.map(_.toArray).toArray).toArray
  private val rn2Arr: Array[Array[Long]] =
    subVecs.map(_.map(QuantizerAssign.selfDot).toArray).toArray

  override def nullSafeEval(av: Any): Any = {
    val a = av.asInstanceOf[ArrayData]
    if (a.numElements() != m * subDim) return null
    val aD = QuantizerAssign.isDouble(child.dataType)
    val x = new Array[Double](m * subDim)
    var i = 0
    while (i < x.length) {
      if (a.isNullAt(i)) return null
      x(i) = if (aD) a.getDouble(i) else a.getFloat(i).toDouble
      i += 1
    }
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

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val codesRef = ctx.addReferenceObj("codes", codeArr, "int[][]")
      val vecsRef = ctx.addReferenceObj("vecs", vecArr, "double[][][]")
      val rn2Ref = ctx.addReferenceObj("rn2", rn2Arr, "long[][]")
      val getX = if (QuantizerAssign.isDouble(child.dataType))
        s"$a.getDouble(%s)" else s"((double) $a.getFloat(%s))"
      val i = ctx.freshName("i"); val j = ctx.freshName("j")
      val k = ctx.freshName("k"); val s = ctx.freshName("s")
      val x = ctx.freshName("x"); val c = ctx.freshName("c")
      val vs = ctx.freshName("vs"); val r2 = ctx.freshName("r2")
      val off = ctx.freshName("off"); val acc = ctx.freshName("acc")
      val score = ctx.freshName("score")
      val bestScore = ctx.freshName("bestScore"); val best = ctx.freshName("best")
      val out = ctx.freshName("out")
      s"""
         |if ($a.numElements() != ${m * subDim}) { ${ev.isNull} = true; } else {
         |  final double[] $x = new double[${m * subDim}];
         |  for (int $i = 0; $i < ${m * subDim}; $i++) {
         |    if ($a.isNullAt($i)) { ${ev.isNull} = true; break; }
         |    $x[$i] = ${getX.format(i)};
         |  }
         |  if (!${ev.isNull}) {
         |    final Object[] $out = new Object[$m];
         |    for (int $s = 0; $s < $m; $s++) {
         |      final double[][] $vs = $vecsRef[$s];
         |      final long[] $r2 = $rn2Ref[$s];
         |      final int $off = $s * $subDim;
         |      long $bestScore = Long.MAX_VALUE; int $best = -1;
         |      for (int $k = 0; $k < $vs.length; $k++) {
         |        final double[] $c = $vs[$k];
         |        long $acc = 0L;
         |        for (int $j = 0; $j < $subDim; $j++) {
         |          $acc += (long) Math.floor($x[$off + $j] * $c[$j] * 1.0E15D);
         |        }
         |        final long $score = $r2[$k] - 2L * $acc;
         |        if ($best < 0 || $score < $bestScore) { $bestScore = $score; $best = $k; }
         |      }
         |      $out[$s] = (Object) Integer.valueOf($codesRef[$s][$best]);
         |    }
         |    ${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($out);
         |  }
         |}
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): PqAssignCodes =
    copy(child = newChild)
}
