package graft.functions

import org.apache.spark.sql.{Column, GraftBridge}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{ArrayData, SQLOrderingUtil}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType, IntegerType}

/** The ANN encode as two compiled kernels: [[NearestCentroid]] (the
  * coarse quantizer's cosine argmax) and [[PqArgmin]] (the per-subspace
  * PQ code). Each expression's `eval` and its generated code call one
  * static helper here, over tables built once with the column, which the
  * generated class holds as reference objects: no literal arrays in the
  * plan, no lambda fold per row (`ArrayAggregate` is `CodegenFallback`,
  * so the fold ran interpreted), and the encode stays inside whole-stage
  * codegen.
  *
  * Each helper keeps the arithmetic of the Column fold it replaced
  * (`AnnEncodeSpec` holds that fold as the reference): dot products are
  * [[FloatVectorDot]]'s sequential double accumulation over the common
  * length; `>` and `<` follow `SQLOrderingUtil` (NaN largest, -0.0 =
  * 0.0), so a NaN cosine wins and a NaN distance never does; the first
  * index wins a tie; a zero cosine divisor raises DIVIDE_BY_ZERO under
  * ANSI and skips the centroid otherwise, as `Divide` does. */
object AnnEncode {

  /** A nearest-centroid cell column: the cid (of type `cidType`, `cids`
    * as Catalyst values) of `centroids`' best cosine to `emb`. */
  def nearestCentroid(emb: Column, cids: Array[Any], cidType: DataType,
      centroids: Array[Array[Float]]): Column =
    GraftBridge.column(NearestCentroid(GraftBridge.expression(emb), cids, cidType,
      centroids, centroids.map(c => math.sqrt(selfDot(c)))))

  /** A PQ codes column, `array<int>`: per subspace of `codebook`
    * (`codebook(subspace)(code)(dim)`), the nearest code. */
  def pqArgmin(emb: Column, codebook: Array[Array[Array[Float]]]): Column =
    GraftBridge.column(PqArgmin(GraftBridge.expression(emb), codebook,
      codebook.map(_.map(selfDot))))

  private[functions] def checkVector(e: Expression, name: String): TypeCheckResult =
    e.dataType match {
      case ArrayType(FloatType, _) | ArrayType(DoubleType, _) => TypeCheckResult.TypeCheckSuccess
      case dt => TypeCheckResult.TypeCheckFailure(
        s"$name requires array<float>/array<double>, got ${dt.catalogString}")
    }

  private[functions] def isFloat(e: Expression): Boolean =
    e.dataType.asInstanceOf[ArrayType].elementType == FloatType

  /** `v · v` in [[FloatVectorDot]]'s order. */
  def selfDot(v: Array[Float]): Double = {
    var acc = 0.0
    v.foreach(f => acc += f.toDouble * f.toDouble)
    acc
  }

  /** The components widened to double (exact for floats). */
  private def widen(a: ArrayData, isFloat: Boolean): Array[Double] = {
    val n = a.numElements()
    val x = new Array[Double](n)
    var i = 0
    if (isFloat) while (i < n) { x(i) = a.getFloat(i).toDouble; i += 1 }
    else while (i < n) { x(i) = a.getDouble(i); i += 1 }
    x
  }

  /** `x[from, from + n) · x[from, from + n)`, left to right. */
  private def sumSq(x: Array[Double], from: Int, n: Int): Double = {
    var acc = 0.0
    var i = from
    while (i < from + n) { acc += x(i) * x(i); i += 1 }
    acc
  }

  /** `x[from, from + n) · c[0, n)`, left to right. */
  private def dot(x: Array[Double], from: Int, n: Int, c: Array[Float]): Double = {
    var acc = 0.0
    var i = 0
    while (i < n) { acc += x(from + i) * c(i).toDouble; i += 1 }
    acc
  }

  /** Index of the centroid with the highest cosine to `emb` (the first on
    * a tie), -1 when none scores above -Infinity. `norms(c)` is
    * `sqrt(selfDot(centroids(c)))`. */
  def nearest(emb: ArrayData, isFloat: Boolean, centroids: Array[Array[Float]],
      norms: Array[Double], failOnError: Boolean): Int = {
    val x = widen(emb, isFloat)
    val nrm = math.sqrt(sumSq(x, 0, x.length))
    var best = -1
    var bestCos = Double.NegativeInfinity
    var c = 0
    while (c < centroids.length) {
      val div = nrm * norms(c)
      if (div == 0.0) {
        if (failOnError) throw GraftBridge.divideByZero()
      } else {
        val ct = centroids(c)
        val cos = dot(x, 0, math.min(x.length, ct.length), ct) / div
        if (SQLOrderingUtil.compareDoubles(cos, bestCos) > 0) { best = c; bestCos = cos }
      }
      c += 1
    }
    best
  }

  /** Per subspace `mi`, the code whose codeword is nearest by squared L2
    * to `emb`'s slice `[mi·sub, mi·sub + sub)` (cut at its end), as
    * `(s·s − 2·s·c) + c·c` with `n2(mi)(code) = selfDot(codeword)`; the
    * first code on a tie, -1 where no distance is below +Infinity and
    * everywhere for a NULL `emb`. */
  def pqCodes(emb: ArrayData, isFloat: Boolean, codebook: Array[Array[Array[Float]]],
      n2: Array[Array[Double]], sub: Int): ArrayData = {
    val codes = Array.fill(codebook.length)(-1)
    if (emb != null) {
      val x = widen(emb, isFloat)
      var mi = 0
      while (mi < codebook.length) {
        val from = mi * sub
        val len = if (from >= x.length) 0 else math.min(sub, x.length - from)
        val ss = sumSq(x, from, len)
        var bestD = Double.PositiveInfinity
        var c = 0
        while (c < codebook(mi).length) {
          val cv = codebook(mi)(c)
          val d = (ss - 2.0 * dot(x, from, math.min(len, cv.length), cv)) + n2(mi)(c)
          if (SQLOrderingUtil.compareDoubles(d, bestD) < 0) { codes(mi) = c; bestD = d }
          c += 1
        }
        mi += 1
      }
    }
    UnsafeArrayData.fromPrimitiveArray(codes)
  }
}

/** [[AnnEncode.nearest]] as a Catalyst expression: the cid of the nearest
  * centroid, NULL for a NULL embedding or when no centroid scores.
  * `failOnError` is the session's ANSI mode when the column is built, as
  * for `Divide`. */
case class NearestCentroid(
    child: Expression, cids: Array[Any], cidType: DataType,
    centroids: Array[Array[Float]], norms: Array[Double],
    failOnError: Boolean = SQLConf.get.ansiEnabled) extends UnaryExpression {

  override def dataType: DataType = cidType
  override def nullable: Boolean = true
  override def prettyName: String = "nearest_centroid"
  override def checkInputDataTypes(): TypeCheckResult = AnnEncode.checkVector(child, prettyName)
  override protected def stringArgs: Iterator[Any] = Iterator(child, s"${centroids.length} centroids")

  override def eval(input: InternalRow): Any = {
    val emb = child.eval(input)
    if (emb == null) null
    else {
      val i = AnnEncode.nearest(emb.asInstanceOf[ArrayData], AnnEncode.isFloat(child),
        centroids, norms, failOnError)
      if (i < 0) null else cids(i)
    }
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val e = child.genCode(ctx)
    val cidArr = ctx.addReferenceObj("cids", cids, "Object[]")
    val ct = ctx.addReferenceObj("centroids", centroids, "float[][]")
    val nrm = ctx.addReferenceObj("centroidNorms", norms, "double[]")
    val i = ctx.freshName("cell")
    ev.copy(code = code"""
      ${e.code}
      boolean ${ev.isNull} = true;
      ${CodeGenerator.javaType(dataType)} ${ev.value} = ${CodeGenerator.defaultValue(dataType)};
      if (!${e.isNull}) {
        int $i = graft.functions.AnnEncode.nearest(${e.value}, ${AnnEncode.isFloat(child)},
          $ct, $nrm, $failOnError);
        if ($i >= 0 && $cidArr[$i] != null) {
          ${ev.isNull} = false;
          ${ev.value} = (${CodeGenerator.boxedType(dataType)}) $cidArr[$i];
        }
      }""")
  }

  override protected def withNewChildInternal(newChild: Expression): NearestCentroid =
    copy(child = newChild)
}

/** [[AnnEncode.pqCodes]] as a Catalyst expression: the `array<int>` of
  * per-subspace codes, never NULL (a NULL embedding codes -1 throughout);
  * its elements are typed nullable, as the fold's were. */
case class PqArgmin(
    child: Expression, codebook: Array[Array[Array[Float]]], n2: Array[Array[Double]])
    extends UnaryExpression {

  private def sub = codebook(0)(0).length
  override def dataType: DataType = ArrayType(IntegerType, containsNull = true)
  override def nullable: Boolean = false
  override def prettyName: String = "pq_argmin"
  override def checkInputDataTypes(): TypeCheckResult = AnnEncode.checkVector(child, prettyName)
  override protected def stringArgs: Iterator[Any] =
    Iterator(child, s"${codebook.length}x${codebook(0).length} codebook")

  override def eval(input: InternalRow): Any =
    AnnEncode.pqCodes(child.eval(input).asInstanceOf[ArrayData], AnnEncode.isFloat(child),
      codebook, n2, sub)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val e = child.genCode(ctx)
    val cb = ctx.addReferenceObj("codebook", codebook, "float[][][]")
    val nrm = ctx.addReferenceObj("codeNorms", n2, "double[][]")
    ev.copy(isNull = FalseLiteral, code = code"""
      ${e.code}
      final ArrayData ${ev.value} = graft.functions.AnnEncode.pqCodes(
        ${e.isNull} ? null : ${e.value}, ${AnnEncode.isFloat(child)}, $cb, $nrm, $sub);""")
  }

  override protected def withNewChildInternal(newChild: Expression): PqArgmin =
    copy(child = newChild)
}
