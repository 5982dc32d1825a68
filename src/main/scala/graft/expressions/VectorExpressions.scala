package graft.expressions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, MathUtils}
import org.apache.spark.sql.graftshim.ColumnShim
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType, LongType}

/** Native Catalyst expressions for dense float-vector math.
  *
  * The higher-order-function formulations (`zip_with` + `aggregate`)
  * are CodegenFallback: each element evaluation is an interpreted
  * virtual call, and cosine needs three of them (dot, |a|, |b|) — nine
  * interpreted passes worth of lambda dispatch per row. These
  * expressions instead emit a single fused Java loop via `doGenCode`,
  * participating in whole-stage codegen like any built-in, with an
  * interpreted `nullSafeEval` fallback that matches bit-for-bit
  * (parity-tested against the HOF forms, the specs'
  * `graft.functions.VectorOracles`).
  *
  * This is the preference order SURVEY.md §7.2 prescribes: compose
  * built-ins first (the HOF forms), drop to a custom Expression only
  * where the bench demands it (q29/q37 similarity scans).
  */
object VectorExpressions {

  /** Σ aᵢ·bᵢ over float arrays, accumulated in double. */
  def vecDot(a: Column, b: Column): Column =
    ColumnShim.column(FloatVecDot(ColumnShim.expression(a), ColumnShim.expression(b)))

  /** Cosine similarity in one fused pass (dot + both norms); 0.0 when
    * either norm is zero.
    */
  def vecCosine(a: Column, b: Column): Column =
    ColumnShim.column(FloatVecCosine(ColumnShim.expression(a), ColumnShim.expression(b)))

  /** Exact fixed-point dot product: Σ q(aᵢ)·q(bᵢ) with
    * q(x) = round(double(x)·scale) half-away-from-zero — an exact int64
    * (the q92 centroid idiom applied to the dot product). Because every
    * term is an integer, the sum is shuffle/order-proof and reproducible
    * verbatim in any engine — the property that lets similarity RANKINGS
    * be hash-pinned cross-engine (q29) instead of float-ordered.
    * `vecDotFp(a, a)` is the fixed-point squared norm.
    */
  def vecDotFp(a: Column, b: Column, scale: Long): Column =
    ColumnShim.column(FloatVecDotFp(ColumnShim.expression(a), ColumnShim.expression(b), scale))

  /** Exact Σ aᵢ·bᵢ over two PRE-QUANTIZED `array<long>` columns — the
    * codegen'd inner loop of every operator that materializes fixed-point
    * vectors once and reuses them across stages (k-means assignment's
    * n·cells dots, the PCA scatter projections, intra-cell dedup pairs).
    * Overflow throws through Spark's ANSI arithmetic, identical to the
    * HOF `aggregate(zip_with(a,b,_*_))` it replaces — callers own the
    * no-overflow argument exactly as before, loud-failure-guarded
    * exactly as before.
    */
  def vecDotLong(a: Column, b: Column): Column =
    ColumnShim.column(LongVecDot(ColumnShim.expression(a), ColumnShim.expression(b)))

  /** sign(a·b·k1 − c·d·k2) as int, exact over 192-bit products — the
    * cross-multiplied cosine-threshold comparator ([[Int128.cmpProd3]]).
    */
  def prodCmp3(a: Column, b: Column, k1: Long, c: Column, d: Column, k2: Long): Column =
    ColumnShim.column(ProdCmp3(
      ColumnShim.expression(a), ColumnShim.expression(b),
      ColumnShim.expression(c), ColumnShim.expression(d), k1, k2))

  /** (dot²·10⁴) div n as long — the exact integer ranking key
    * ([[Int128.rankFp]]).
    */
  def rankFp(dot: Column, n: Column): Column =
    ColumnShim.column(RankFp(ColumnShim.expression(dot), ColumnShim.expression(n)))

  /** (dot²·10⁴) div (na·nb) as long — exact basis-point squared cosine
    * ([[Int128.cos2Bp]]).
    */
  def cos2Bp(dot: Column, na: Column, nb: Column): Column =
    ColumnShim.column(Cos2Bp(
      ColumnShim.expression(dot), ColumnShim.expression(na), ColumnShim.expression(nb)))

  /** The whole vector quantized: array<float> → array<long> with
    * q(x) = round(double(x)·scale) half-away-from-zero per element —
    * the codegen'd head pass of every fixed-point pipeline
    * (`transform(v, …)` is CodegenFallback: N·dim interpreted lambda
    * dispatches before any real work starts; at replica scale the
    * quantize pass alone was minutes of interpretation).
    */
  def vecQuantizeFp(v: Column, scale: Long): Column =
    ColumnShim.column(FloatVecQuantizeFp(ColumnShim.expression(v), scale))

  /** Element-wise a − b over two `array<long>` columns (exact, throws
    * on overflow and on length mismatch) — the codegen'd centering
    * pass of the fixed-point PCA scatter.
    */
  def vecSubLong(a: Column, b: Column): Column =
    ColumnShim.column(LongVecSub(ColumnShim.expression(a), ColumnShim.expression(b)))

  /** Exact-isqrt L2 normalization of one quantized vector in one
    * codegen'd pass: r = isqrt(Σx²), each x → sign·((|x|·scale) div r),
    * zero vectors pass through. Replaces an explode→join→groupBy→
    * collect_list pipeline (two shuffles of N·dim rows) with per-row
    * arithmetic — the shape difference IS the 100 TB story.
    */
  def vecL2NormFp(v: Column, scale: Long): Column =
    ColumnShim.column(LongVecL2NormFp(ColumnShim.expression(v), scale))

  /** Shared loud-failure gate for array-building vector expressions:
    * the fixed-point pipelines never produce null ELEMENTS, so one is
    * always upstream corruption — throw rather than propagate a hole.
    */
  def checkNoNullElement(isNull: Boolean, name: String, i: Int): Unit =
    if (isNull)
      throw new IllegalArgumentException(
        s"$name: null element at index $i — fixed-point vectors must be dense")

  private[expressions] def checkVecTypes(left: Expression, right: Expression, name: String): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(FloatType, _), ArrayType(FloatType, _)) => TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"$name expects (array<float>, array<float>), got ($l, $r)")
    }

  private[expressions] def checkLongVecTypes(left: Expression, right: Expression, name: String): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(LongType, _), ArrayType(LongType, _)) => TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"$name expects (array<bigint>, array<bigint>), got ($l, $r)")
    }

  private[expressions] def checkAllLong(es: Seq[Expression], name: String): TypeCheckResult =
    es.find(_.dataType != LongType) match {
      case None => TypeCheckResult.TypeCheckSuccess
      case Some(e) => TypeCheckResult.TypeCheckFailure(
        s"$name expects bigint inputs, got ${e.dataType}")
    }
}

case class FloatVecDot(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    VectorExpressions.checkVecTypes(left, right, prettyName)
  override def dataType: DataType = DoubleType
  override def prettyName: String = "vec_dot"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var s = 0.0
    var i = 0
    while (i < n) {
      if (!x.isNullAt(i) && !y.isNullAt(i)) s += x.getFloat(i).toDouble * y.getFloat(i).toDouble
      i += 1
    }
    s
  }

  // Locals come from ctx.freshName: when both children are
  // non-nullable, nullSafeCodeGen splices this snippet without an
  // enclosing block, so two vec_dot instances in one projection would
  // otherwise declare duplicate Java locals and break janino
  // compilation (silent interpreted fallback).
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val s = ctx.freshName("s")
      val i = ctx.freshName("i")
      s"""
         |int $n = Math.min($a.numElements(), $b.numElements());
         |double $s = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  if (!$a.isNullAt($i) && !$b.isNullAt($i)) {
         |    $s += (double) $a.getFloat($i) * (double) $b.getFloat($i);
         |  }
         |}
         |${ev.value} = $s;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Fixed-point dot product over float arrays (exact int64).
  *
  * Quantization is round-half-away-from-zero on the BINARY double value
  * of `element·scale` — the semantics of C `round()`/DuckDB `round()`,
  * implemented as `floor(|p|) + (frac ≥ 0.5)` (the frac subtraction is
  * exact for any double, so this is bit-equal to libm round without a
  * libm call). The multiply `double(float)·double(long)` is one
  * correctly-rounded IEEE op — identical in every engine — so the whole
  * expression is integer-exact and cross-engine reproducible.
  */
case class FloatVecDotFp(left: Expression, right: Expression, scale: Long)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    VectorExpressions.checkVecTypes(left, right, prettyName)
  override def dataType: DataType = LongType
  override def prettyName: String = "vec_dot_fp"

  @inline private def q(x: Float): Long = {
    val p = x.toDouble * scale.toDouble
    val ap = math.abs(p)
    val f = math.floor(ap)
    val m = f.toLong + (if (ap - f >= 0.5d) 1L else 0L)
    if (p < 0) -m else m
  }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var s = 0L
    var i = 0
    while (i < n) {
      if (!x.isNullAt(i) && !y.isNullAt(i)) s += q(x.getFloat(i)) * q(y.getFloat(i))
      i += 1
    }
    s
  }

  // freshName'd locals — see FloatVecDot.doGenCode for why.
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val s = ctx.freshName("s")
      val i = ctx.freshName("i")
      val px = ctx.freshName("px")
      val py = ctx.freshName("py")
      val ap = ctx.freshName("ap")
      val f = ctx.freshName("f")
      val qx = ctx.freshName("qx")
      val qy = ctx.freshName("qy")
      s"""
         |int $n = Math.min($a.numElements(), $b.numElements());
         |long $s = 0L;
         |for (int $i = 0; $i < $n; $i++) {
         |  if (!$a.isNullAt($i) && !$b.isNullAt($i)) {
         |    double $px = (double) $a.getFloat($i) * ${scale}.0D;
         |    double $ap = Math.abs($px); double $f = Math.floor($ap);
         |    long $qx = (long) $f + (($ap - $f >= 0.5D) ? 1L : 0L);
         |    if ($px < 0) $qx = -$qx;
         |    double $py = (double) $b.getFloat($i) * ${scale}.0D;
         |    $ap = Math.abs($py); $f = Math.floor($ap);
         |    long $qy = (long) $f + (($ap - $f >= 0.5D) ? 1L : 0L);
         |    if ($py < 0) $qy = -$qy;
         |    $s += $qx * $qy;
         |  }
         |}
         |${ev.value} = $s;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Exact int64 dot over two `array<long>` columns (one fused codegen'd
  * loop). Mismatched lengths THROW (the fixed-point pipelines quantize
  * both sides from same-dimension embeddings, so a length mismatch is
  * always caller corruption — a silent min-length truncation would
  * return a wrong partial sum where the HOF's `zip_with` returned
  * nulls that poisoned the aggregate; loud beats either). Null
  * elements are skipped (contribute 0) — the same convention as
  * [[FloatVecDot]]; the quantized arrays never carry null elements,
  * where this is indistinguishable from the HOF form, and the skip-
  * vs-HOF-NULL divergence on synthetic null elements is pinned
  * explicitly in spec. Overflow THROWS through Spark's own ANSI
  * arithmetic (`MathUtils.multiplyExact/addExact` — the exact code
  * path the HOF's `x * y` takes), never wraps silently: the callers'
  * no-overflow bounds stay loud-failure-guarded exactly as they were
  * under the HOF form.
  */
case class LongVecDot(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    VectorExpressions.checkLongVecTypes(left, right, prettyName)
  override def dataType: DataType = LongType
  override def prettyName: String = "vec_dot_long"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = LongVecDot.checkedLength(x.numElements(), y.numElements())
    var s = 0L
    var i = 0
    while (i < n) {
      if (!x.isNullAt(i) && !y.isNullAt(i))
        s = MathUtils.addExact(s, MathUtils.multiplyExact(x.getLong(i), y.getLong(i)))
      i += 1
    }
    s
  }

  // freshName'd locals — see FloatVecDot.doGenCode for why.
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      // the object's static forwarders — the same call Spark's ANSI
      // Multiply/Add codegen emits
      val mu = MathUtils.getClass.getName.stripSuffix("$")
      val lvd = LongVecDot.getClass.getName.stripSuffix("$")
      val n = ctx.freshName("n")
      val s = ctx.freshName("s")
      val i = ctx.freshName("i")
      s"""
         |int $n = $lvd.checkedLength($a.numElements(), $b.numElements());
         |long $s = 0L;
         |for (int $i = 0; $i < $n; $i++) {
         |  if (!$a.isNullAt($i) && !$b.isNullAt($i)) {
         |    $s = $mu.addExact($s, $mu.multiplyExact($a.getLong($i), $b.getLong($i)));
         |  }
         |}
         |${ev.value} = $s;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object LongVecDot {
  /** Loud length gate, shared by eval and generated code (the codegen
    * calls the static forwarder). Returns the common length.
    */
  def checkedLength(nx: Int, ny: Int): Int = {
    if (nx != ny)
      throw new IllegalArgumentException(
        s"vec_dot_long: array length mismatch ($nx vs $ny) — quantized vectors must share a dimension")
    nx
  }
}

case class FloatVecCosine(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    VectorExpressions.checkVecTypes(left, right, prettyName)
  override def dataType: DataType = DoubleType
  override def prettyName: String = "vec_cosine"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      if (!x.isNullAt(i) && !y.isNullAt(i)) {
        val xv = x.getFloat(i).toDouble
        val yv = y.getFloat(i).toDouble
        dot += xv * yv; na += xv * xv; nb += yv * yv
      }
      i += 1
    }
    val denom = math.sqrt(na) * math.sqrt(nb)
    if (denom > 0.0) dot / denom else 0.0
  }

  // freshName'd locals — see FloatVecDot.doGenCode for why.
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val dot = ctx.freshName("dot")
      val na = ctx.freshName("na")
      val nb = ctx.freshName("nb")
      val i = ctx.freshName("i")
      val xv = ctx.freshName("xv")
      val yv = ctx.freshName("yv")
      val denom = ctx.freshName("denom")
      s"""
         |int $n = Math.min($a.numElements(), $b.numElements());
         |double $dot = 0.0, $na = 0.0, $nb = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  if (!$a.isNullAt($i) && !$b.isNullAt($i)) {
         |    double $xv = (double) $a.getFloat($i);
         |    double $yv = (double) $b.getFloat($i);
         |    $dot += $xv * $yv; $na += $xv * $xv; $nb += $yv * $yv;
         |  }
         |}
         |double $denom = Math.sqrt($na) * Math.sqrt($nb);
         |${ev.value} = $denom > 0.0 ? $dot / $denom : 0.0;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** array<float> → array<long>: the per-element round-half-away-from-
  * zero quantizer (bit-identical to [[FloatVecDotFp]]'s `q` and to
  * DuckDB `CAST(round(CAST(x AS DOUBLE)·scale) AS BIGINT)`), fused
  * into one codegen'd loop building an UnsafeArrayData. Null ELEMENTS
  * throw (dense-vector contract — see
  * `VectorExpressions.checkNoNullElement`); a null ARRAY is null.
  */
case class FloatVecQuantizeFp(child: Expression, scale: Long)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(s"$prettyName expects array<float>, got $t")
  }
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "vec_quantize_fp"

  override def nullSafeEval(a: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val n = x.numElements()
    val out = new Array[Long](n)
    var i = 0
    while (i < n) {
      VectorExpressions.checkNoNullElement(x.isNullAt(i), prettyName, i)
      val p = x.getFloat(i).toDouble * scale.toDouble
      val ap = math.abs(p)
      val f = math.floor(ap)
      val m = f.toLong + (if (ap - f >= 0.5d) 1L else 0L)
      out(i) = if (p < 0) -m else m
      i += 1
    }
    org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(out)
  }

  // freshName'd locals — see FloatVecDot.doGenCode for why.
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val ve = VectorExpressions.getClass.getName.stripSuffix("$")
      val n = ctx.freshName("n")
      val out = ctx.freshName("out")
      val i = ctx.freshName("i")
      val p = ctx.freshName("p")
      val ap = ctx.freshName("ap")
      val f = ctx.freshName("f")
      val m = ctx.freshName("m")
      s"""
         |int $n = $a.numElements();
         |long[] $out = new long[$n];
         |for (int $i = 0; $i < $n; $i++) {
         |  $ve.checkNoNullElement($a.isNullAt($i), "$prettyName", $i);
         |  double $p = (double) $a.getFloat($i) * ${scale}.0D;
         |  double $ap = Math.abs($p); double $f = Math.floor($ap);
         |  long $m = (long) $f + (($ap - $f >= 0.5D) ? 1L : 0L);
         |  $out[$i] = ($p < 0) ? -$m : $m;
         |}
         |${ev.value} = org.apache.spark.sql.catalyst.expressions.UnsafeArrayData.fromPrimitiveArray($out);
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Element-wise exact subtraction over two `array<long>` columns —
  * the centering pass q − m of the fixed-point scatter, codegen'd.
  * Lengths must match (throws via [[LongVecDot.checkedLength]]);
  * overflow throws through ANSI arithmetic; null elements throw.
  */
case class LongVecSub(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    VectorExpressions.checkLongVecTypes(left, right, prettyName)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "vec_sub_long"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = LongVecDot.checkedLength(x.numElements(), y.numElements())
    val out = new Array[Long](n)
    var i = 0
    while (i < n) {
      VectorExpressions.checkNoNullElement(x.isNullAt(i) || y.isNullAt(i), prettyName, i)
      out(i) = MathUtils.subtractExact(x.getLong(i), y.getLong(i))
      i += 1
    }
    org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(out)
  }

  // freshName'd locals — see FloatVecDot.doGenCode for why.
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val ve = VectorExpressions.getClass.getName.stripSuffix("$")
      val lvd = LongVecDot.getClass.getName.stripSuffix("$")
      val mu = MathUtils.getClass.getName.stripSuffix("$")
      val n = ctx.freshName("n")
      val out = ctx.freshName("out")
      val i = ctx.freshName("i")
      s"""
         |int $n = $lvd.checkedLength($a.numElements(), $b.numElements());
         |long[] $out = new long[$n];
         |for (int $i = 0; $i < $n; $i++) {
         |  $ve.checkNoNullElement($a.isNullAt($i) || $b.isNullAt($i), "$prettyName", $i);
         |  $out[$i] = $mu.subtractExact($a.getLong($i), $b.getLong($i));
         |}
         |${ev.value} = org.apache.spark.sql.catalyst.expressions.UnsafeArrayData.fromPrimitiveArray($out);
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Exact-isqrt L2 normalization of one quantized vector, fused:
  * r = isqrt(Σx²) with the one-step float-sqrt correction (bit-equal
  * to `Exact.isqrt`/the DuckDB CASE), each component
  * sign·((|x|·scale) div r) — truncating division via the sign split,
  * zero vectors (r = 0) pass through unchanged. Σx² must stay below
  * 2⁵³ (the isqrt domain — callers' Q29Scale bound gives 64·10¹⁴);
  * out-of-domain throws. Null elements throw.
  */
case class LongVecL2NormFp(child: Expression, scale: Long)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(s"$prettyName expects array<bigint>, got $t")
  }
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "vec_l2norm_fp"

  override def nullSafeEval(a: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val n = x.numElements()
    var n2 = 0L
    var i = 0
    while (i < n) {
      VectorExpressions.checkNoNullElement(x.isNullAt(i), prettyName, i)
      n2 = MathUtils.addExact(n2, MathUtils.multiplyExact(x.getLong(i), x.getLong(i)))
      i += 1
    }
    val r = LongVecL2NormFp.isqrt53(n2)
    val out = new Array[Long](n)
    i = 0
    while (i < n) {
      val v = x.getLong(i)
      out(i) =
        if (r == 0L) v
        else if (v < 0) -(MathUtils.multiplyExact(-v, scale) / r)
        else MathUtils.multiplyExact(v, scale) / r
      i += 1
    }
    org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(out)
  }

  // freshName'd locals — see FloatVecDot.doGenCode for why.
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val ve = VectorExpressions.getClass.getName.stripSuffix("$")
      val self = LongVecL2NormFp.getClass.getName.stripSuffix("$")
      val mu = MathUtils.getClass.getName.stripSuffix("$")
      val n = ctx.freshName("n")
      val n2 = ctx.freshName("n2")
      val r = ctx.freshName("r")
      val out = ctx.freshName("out")
      val i = ctx.freshName("i")
      val v = ctx.freshName("v")
      s"""
         |int $n = $a.numElements();
         |long $n2 = 0L;
         |for (int $i = 0; $i < $n; $i++) {
         |  $ve.checkNoNullElement($a.isNullAt($i), "$prettyName", $i);
         |  $n2 = $mu.addExact($n2, $mu.multiplyExact($a.getLong($i), $a.getLong($i)));
         |}
         |long $r = $self.isqrt53($n2);
         |long[] $out = new long[$n];
         |for (int $i = 0; $i < $n; $i++) {
         |  long $v = $a.getLong($i);
         |  $out[$i] = ($r == 0L) ? $v
         |    : ($v < 0) ? -($mu.multiplyExact(-$v, ${scale}L) / $r)
         |    : $mu.multiplyExact($v, ${scale}L) / $r;
         |}
         |${ev.value} = org.apache.spark.sql.catalyst.expressions.UnsafeArrayData.fromPrimitiveArray($out);
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object LongVecL2NormFp {
  /** Exact isqrt for 0 ≤ n < 2⁵³ — the same one-step correction as
    * `graft.ops.Exact.isqrtLong` (kept callable from generated Java).
    * Out-of-domain throws: a silent wrong root would silently
    * desynchronize the hash-matched pipelines.
    */
  def isqrt53(n: Long): Long = {
    if (n < 0 || n >= (1L << 53))
      throw new IllegalArgumentException(s"isqrt domain: 0 <= n < 2^53, got $n")
    val y0 = math.floor(math.sqrt(n.toDouble)).toLong
    if ((y0 + 1) * (y0 + 1) <= n) y0 + 1 else if (y0 * y0 > n) y0 - 1 else y0
  }
}
