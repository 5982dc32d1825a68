package graft.expressions

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.functions.{VectorFunctions, VectorOracles}

class VectorExpressionsSpec extends SparkSpec {
  import spark.implicits._

  private lazy val emb = graft.ops.Tables.embeddings(spark, sfDir)

  test("native vec_dot / vec_cosine match the HOF forms bit-for-bit on real embeddings") {
    val anchor = emb.where(col("vec_id") === 0).select(col("embedding").as("a"))
    val both = emb.join(broadcast(anchor))
      .select(
        col("vec_id"),
        VectorFunctions.dot(col("embedding"), col("a")).as("d_native"),
        VectorOracles.dotHof(col("embedding"), col("a")).as("d_hof"),
        VectorFunctions.cosine(col("embedding"), col("a")).as("c_native"),
        VectorOracles.cosineHof(col("embedding"), col("a")).as("c_hof"),
      )
      .collect()
    both.foreach { r =>
      assert(r.getDouble(1) == r.getDouble(2), s"dot mismatch at vec ${r.getLong(0)}")
      assert(math.abs(r.getDouble(3) - r.getDouble(4)) < 1e-12,
        s"cosine mismatch at vec ${r.getLong(0)}")
    }
  }

  test("native vec_dot_fp matches the HOF form bit-for-bit and ranks like float cosine") {
    val S = graft.llm.LlmQueries.Q29Scale
    val anchor = emb.where(col("vec_id") === 0).select(col("embedding").as("a"))
    val both = emb.join(broadcast(anchor))
      .select(
        col("vec_id"),
        VectorFunctions.dotFp(col("embedding"), col("a"), S).as("d_native"),
        VectorOracles.dotFpHof(col("embedding"), col("a"), S).as("d_hof"),
      )
      .collect()
    both.foreach { r =>
      assert(r.getLong(1) == r.getLong(2), s"dot_fp mismatch at vec ${r.getLong(0)}")
    }
    // the q29 property: the exact-integer ranking key reproduces the
    // float-cosine ranking on the whole corpus (float cosine VALUES
    // stay the semantic ground truth; the fp key is the hash-pinnable
    // ORDER carrier)
    val ranked = emb.join(broadcast(anchor)).where(col("vec_id") =!= 0)
      .select(
        col("vec_id"),
        VectorFunctions.cosine(col("embedding"), col("a")).as("cos"),
        VectorFunctions.dotFp(col("embedding"), col("a"), S).as("dot_fp"),
        VectorFunctions.dotFp(col("embedding"), col("embedding"), S).as("n_fp"),
      )
      .select(
        col("vec_id"), col("cos"),
        (when(col("dot_fp") < 0, lit(-1L)).otherwise(lit(1L)) *
          expr("(cast(dot_fp as decimal(38,0)) * dot_fp * 10000) div n_fp")).as("key"),
      )
      .collect()
    val byFloat = ranked.sortBy(r => (-r.getDouble(1), r.getLong(0))).map(_.getLong(0)).toSeq
    val byKey = ranked.sortBy(r => (-r.getLong(2), r.getLong(0))).map(_.getLong(0)).toSeq
    assert(byKey == byFloat, "fixed-point key must reproduce the float-cosine order")
  }

  test("native vec_dot_long matches the HOF form bit-for-bit, including wrap-around, and codegen-compiles") {
    import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
    val el = LongVecDot(
      org.apache.spark.sql.graftshim.ColumnShim.expression(col("x")),
      org.apache.spark.sql.graftshim.ColumnShim.expression(col("y")))
    assert(!el.isInstanceOf[CodegenFallback], "vec_dot_long must emit real codegen")
    // real quantized embeddings: native ≡ HOF on every row
    val S = graft.llm.LlmQueries.Q29Scale
    val fp = emb.select(col("vec_id"), VectorFunctions.quantizeFp(col("embedding"), S).as("q"))
    val anchor = fp.where(col("vec_id") === 0).select(col("q").as("qa"))
    fp.join(broadcast(anchor))
      .select(
        col("vec_id"),
        VectorFunctions.dotLong(col("q"), col("qa")).as("d_native"),
        VectorOracles.dotLongHof(col("q"), col("qa")).as("d_hof"))
      .collect()
      .foreach(r => assert(r.getLong(1) == r.getLong(2), s"dot_long mismatch at vec ${r.getLong(0)}"))
    // overflow parity: both paths fail LOUDLY through ANSI arithmetic
    // (silent wrap on one side would be the r8-ADVICE silent-vs-loud
    // divergence class)
    def overflows(f: (org.apache.spark.sql.Column, org.apache.spark.sql.Column) => org.apache.spark.sql.Column): Boolean =
      intercept[Exception] {
        Seq((Seq(Long.MaxValue, 3L), Seq(2L, 5L))).toDF("x", "y")
          .select(f(col("x"), col("y"))).collect()
      }.toString.toLowerCase.contains("overflow")
    assert(overflows(VectorFunctions.dotLong), "native must throw on overflow")
    assert(overflows(VectorOracles.dotLongHof), "HOF must throw on overflow")
    val empty = Seq((Seq.empty[Long], Seq.empty[Long])).toDF("x", "y")
      .select(
        VectorFunctions.dotLong(col("x"), col("y")).as("n"),
        VectorOracles.dotLongHof(col("x"), col("y")).as("h"))
      .head()
    assert(empty.getLong(0) == 0L && empty.getLong(1) == 0L)
    // DOCUMENTED DIVERGENCES from the HOF (r9-ADVICE): (1) a length
    // mismatch throws loudly where the HOF silently zipped nulls —
    // lengths never legitimately differ in the fixed-point pipelines,
    // so a mismatch is corruption and must not yield a partial sum
    assert(intercept[Exception] {
      Seq((Seq(1L, 2L, 3L), Seq(4L, 5L))).toDF("x", "y")
        .select(VectorFunctions.dotLong(col("x"), col("y"))).collect()
    }.toString.contains("length mismatch"), "native must throw on length mismatch")
    // (2) a null ELEMENT is skipped (contributes 0) where the HOF
    // propagated NULL through the whole aggregate — pinned so the
    // convention is a tested contract, not an accident
    val withNullEl = Seq((Seq[java.lang.Long](1L, null, 3L), Seq[java.lang.Long](10L, 20L, 30L)))
      .toDF("x", "y")
      .select(
        VectorFunctions.dotLong(col("x"), col("y")).as("n"),
        VectorOracles.dotLongHof(col("x"), col("y")).as("h"))
      .head()
    assert(withNullEl.getLong(0) == 100L, "native skips null elements (partial sum)")
    assert(withNullEl.isNullAt(1), "HOF propagates NULL — the divergence this pin documents")
    // two instances in one projection (freshName regression, as vec_dot)
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.BoundReference
    import org.apache.spark.sql.catalyst.expressions.codegen.GenerateUnsafeProjection
    import org.apache.spark.sql.catalyst.util.ArrayData
    import org.apache.spark.sql.types.{ArrayType, LongType}
    val ar = BoundReference(0, ArrayType(LongType, containsNull = false), nullable = false)
    val br = BoundReference(1, ArrayType(LongType, containsNull = false), nullable = false)
    val proj = GenerateUnsafeProjection.generate(Seq(LongVecDot(ar, br), LongVecDot(br, ar)))
    val out = proj(InternalRow(
      ArrayData.toArrayData(Array(1L, 2L)), ArrayData.toArrayData(Array(3L, 4L))))
    assert(out.getLong(0) == 11L && out.getLong(1) == 11L)
  }

  test("native expressions are codegen-capable (not CodegenFallback) and handle edges") {
    import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
    val e = FloatVecCosine(
      org.apache.spark.sql.graftshim.ColumnShim.expression(col("x")),
      org.apache.spark.sql.graftshim.ColumnShim.expression(col("y")))
    assert(!e.isInstanceOf[CodegenFallback], "vec_cosine must emit real codegen")
    val efp = FloatVecDotFp(
      org.apache.spark.sql.graftshim.ColumnShim.expression(col("x")),
      org.apache.spark.sql.graftshim.ColumnShim.expression(col("y")), 10000000L)
    assert(!efp.isInstanceOf[CodegenFallback], "vec_dot_fp must emit real codegen")
    val edge = Seq(
      (Seq.empty[Float], Seq.empty[Float]),
      (Seq(0f, 0f), Seq(1f, 1f)),
      (Seq(1f, 2f, 3f), Seq(4f, 5f, 6f)),
    ).toDF("x", "y")
      .select(
        VectorFunctions.dot(col("x"), col("y")).as("d"),
        VectorFunctions.cosine(col("x"), col("y")).as("c"),
      ).collect()
    assert(edge(0).getDouble(0) == 0.0 && edge(0).getDouble(1) == 0.0)
    assert(edge(1).getDouble(1) == 0.0) // zero-norm guard
    assert(edge(2).getDouble(0) == 32.0)
  }

  test("two instances in one projection codegen-compile (freshName regression)") {
    // With non-nullable children, nullSafeCodeGen splices the snippet
    // without an enclosing block; fixed local names would collide when
    // two instances land in the same generated function and janino
    // would reject the class (silent interpreted fallback). Generating
    // the projection directly surfaces that failure as a throw.
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.BoundReference
    import org.apache.spark.sql.catalyst.expressions.codegen.GenerateUnsafeProjection
    import org.apache.spark.sql.catalyst.util.ArrayData
    import org.apache.spark.sql.types.{ArrayType, FloatType}
    val a = BoundReference(0, ArrayType(FloatType, containsNull = false), nullable = false)
    val b = BoundReference(1, ArrayType(FloatType, containsNull = false), nullable = false)
    val proj = GenerateUnsafeProjection.generate(Seq(
      FloatVecCosine(a, b), FloatVecCosine(b, a), FloatVecDot(a, b), FloatVecDot(b, a)))
    val row = InternalRow(
      ArrayData.toArrayData(Array(1f, 2f)), ArrayData.toArrayData(Array(3f, 4f)))
    val out = proj(row)
    assert(out.getDouble(2) == 11.0 && out.getDouble(3) == 11.0)
    assert(math.abs(out.getDouble(0) - out.getDouble(1)) < 1e-15)
  }

  test("null array inputs yield null (BinaryExpression null semantics)") {
    val df = Seq((Some(Seq(1f, 2f)), None: Option[Seq[Float]])).toDF("x", "y")
      .select(VectorFunctions.dot(col("x"), col("y")).as("d"))
    assert(df.head().isNullAt(0))
  }

  test("vec_quantize_fp matches the HOF transform bit-for-bit and codegen-compiles") {
    import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
    val e = FloatVecQuantizeFp(
      org.apache.spark.sql.graftshim.ColumnShim.expression(col("x")), 10000000L)
    assert(!e.isInstanceOf[CodegenFallback], "vec_quantize_fp must emit real codegen")
    // real corpus: native ≡ HOF on every row, element for element —
    // the quantizer feeds hash-matched pipelines, so even one ulp of
    // divergence in the round-half-away rule would fork the oracles
    emb.select(
        VectorFunctions.quantizeFp(col("embedding"), 10000000L).as("n"),
        VectorOracles.quantizeFpHof(col("embedding"), 10000000L).as("h"))
      .collect()
      .foreach(r => assert(r.getSeq[Long](0) == r.getSeq[Long](1)))
    // edges: empty array, exact .5 boundaries both signs, null array
    val edge = Seq(
      (Some(Seq.empty[Float]), 0),
      (Some(Seq(0.05f, -0.05f, 0.15f, -0.15f, 1f, -1f)), 1),
      (None: Option[Seq[Float]], 2),
    ).toDF("x", "tag")
      .orderBy("tag")
      .select(
        VectorFunctions.quantizeFp(col("x"), 10L).as("n"),
        VectorOracles.quantizeFpHof(col("x"), 10L).as("h"))
      .collect()
    assert(edge(0).getSeq[Long](0).isEmpty)
    assert(edge(1).getSeq[Long](0) == edge(1).getSeq[Long](1))
    assert(edge(2).isNullAt(0) && edge(2).isNullAt(1))
  }

  test("vec_sub_long matches zip_with, throws on length mismatch/overflow, codegen-compiles") {
    import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
    val e = LongVecSub(
      org.apache.spark.sql.graftshim.ColumnShim.expression(col("x")),
      org.apache.spark.sql.graftshim.ColumnShim.expression(col("y")))
    assert(!e.isInstanceOf[CodegenFallback], "vec_sub_long must emit real codegen")
    val out = Seq((Seq(10L, -3L, 0L), Seq(4L, 5L, -6L)))
      .toDF("x", "y")
      .select(
        VectorFunctions.subLong(col("x"), col("y")).as("n"),
        zip_with(col("x"), col("y"), (a, b) => a - b).as("h"))
      .head()
    assert(out.getSeq[Long](0) == Seq(6L, -8L, 6L))
    assert(out.getSeq[Long](0) == out.getSeq[Long](1))
    assert(intercept[Exception] {
      Seq((Seq(1L, 2L), Seq(1L))).toDF("x", "y")
        .select(VectorFunctions.subLong(col("x"), col("y"))).collect()
    }.toString.contains("length mismatch"))
    assert(intercept[Exception] {
      Seq((Seq(Long.MinValue), Seq(1L))).toDF("x", "y")
        .select(VectorFunctions.subLong(col("x"), col("y"))).collect()
    }.toString.toLowerCase.contains("overflow"))
  }

  test("vec_l2norm_fp matches the exact-isqrt reference, zero vectors pass through, codegen-compiles") {
    import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
    val e = LongVecL2NormFp(
      org.apache.spark.sql.graftshim.ColumnShim.expression(col("x")), 10000000L)
    assert(!e.isInstanceOf[CodegenFallback], "vec_l2norm_fp must emit real codegen")
    // driver reference: the same integers the old explode→join→groupBy
    // pipeline (and the DuckDB replay) computes
    def ref(q: Seq[Long], scale: Long): Seq[Long] = {
      val n2 = q.map(x => x * x).sum
      val r = graft.ops.Exact.isqrtLong(n2)
      if (r == 0L) q else q.map(x => if (x < 0) -((-x) * scale / r) else x * scale / r)
    }
    val S = 10000000L
    val fp = emb.select(VectorFunctions.quantizeFp(col("embedding"), S).as("q"))
    fp.select(col("q"), VectorFunctions.l2NormFp(col("q"), S).as("n"))
      .collect()
      .foreach(r => assert(r.getSeq[Long](1) == ref(r.getSeq[Long](0), S)))
    // zero vector: r = 0 ⇒ identity (the honest-zero contract)
    val z = Seq(Seq(0L, 0L, 0L)).toDF("q")
      .select(VectorFunctions.l2NormFp(col("q"), S).as("n")).head()
    assert(z.getSeq[Long](0) == Seq(0L, 0L, 0L))
    // isqrt domain violation is LOUD, not a wrong root
    assert(intercept[Exception] {
      Seq(Seq(Long.MaxValue / 2)).toDF("q")
        .select(VectorFunctions.l2NormFp(col("q"), S)).collect()
    }.toString.toLowerCase.contains("overflow"))
  }
}
