package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Dense-vector math over `ArrayType(FloatType)` embedding columns,
  * expressed entirely with `zip_with`/`aggregate` higher-order functions
  * so the arithmetic is codegen'd and never leaves the JVM hot loop.
  *
  * Accumulation is in double (each float element widened before
  * multiply) and strictly sequential over the array — deterministic for
  * a given row, independent of partitioning.
  */
object VectorFunctions {

  /** Σ aᵢ·bᵢ, widened to double before multiplication. Native codegen'd
    * expression ([[graft.expressions.FloatVecDot]]); [[dotHof]] is the
    * HOF composition it replaced (kept as the parity oracle).
    */
  def dot(a: Column, b: Column): Column =
    graft.expressions.VectorExpressions.vecDot(a, b)

  /** HOF form of [[dot]] — interpreted (CodegenFallback), parity-tested. */
  def dotHof(a: Column, b: Column): Column =
    aggregate(
      zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0),
      (acc, v) => acc + v,
    )

  /** Cosine similarity; 0.0 when either vector has zero norm. Single
    * fused codegen'd pass ([[graft.expressions.FloatVecCosine]]).
    */
  def cosine(a: Column, b: Column): Column =
    graft.expressions.VectorExpressions.vecCosine(a, b)

  /** HOF form of [[cosine]] — three interpreted reductions, parity-tested. */
  def cosineHof(a: Column, b: Column): Column = {
    val denom = sqrt(dotHof(a, a)) * sqrt(dotHof(b, b))
    when(denom > 0, dotHof(a, b) / denom).otherwise(lit(0.0))
  }

  /** Exact fixed-point dot product Σ round(aᵢ·scale)·round(bᵢ·scale) as
    * int64 — the hash-pinnable form of [[dot]] (q92's fix-point idiom
    * applied to similarity ranking). `dotFp(a, a, s)` is the fixed-point
    * squared norm. Native codegen'd ([[graft.expressions.FloatVecDotFp]]).
    */
  def dotFp(a: Column, b: Column, scale: Long): Column =
    graft.expressions.VectorExpressions.vecDotFp(a, b, scale)

  /** HOF form of [[dotFp]] — same floor-based half-away-from-zero
    * quantization, interpreted; parity-tested bit-for-bit.
    */
  def dotFpHof(a: Column, b: Column, scale: Long): Column = {
    aggregate(
      zip_with(a, b, (x, y) => fpqElem(x, scale) * fpqElem(y, scale)),
      lit(0L),
      (acc, v) => acc + v,
    )
  }

  /** round(x·scale) half-away-from-zero as int64 — the element-level
    * quantizer shared by [[dotFpHof]] and [[quantizeFp]]; identical to
    * DuckDB `CAST(round(CAST(x AS DOUBLE)·scale) AS BIGINT)`.
    */
  private def fpqElem(x: Column, scale: Long): Column = {
    val p = x.cast("double") * lit(scale.toDouble)
    val ap = abs(p)
    val f = floor(ap)
    val m = f.cast("long") + when(ap - f >= 0.5, lit(1L)).otherwise(lit(0L))
    when(p < 0, -m).otherwise(m)
  }

  /** The whole vector quantized to `array<long>` at `scale` — the
    * MATERIALIZED fixed-point form for pipelines that reuse quantized
    * vectors across stages (q42's k-means: seeds, per-round sums and
    * the final ranking all read the same integer arrays), where
    * re-quantizing inside every [[dotFp]] would repeat work.
    * `dotLong(quantizeFp(a,s), quantizeFp(b,s)) ≡ dotFp(a,b,s)`.
    * Native codegen'd ([[graft.expressions.FloatVecQuantizeFp]]) since
    * round 10 — the `transform` HOF was the interpreted head pass of
    * every fixed-point pipeline; [[quantizeFpHof]] stays as the parity
    * oracle.
    */
  def quantizeFp(v: Column, scale: Long): Column =
    graft.expressions.VectorExpressions.vecQuantizeFp(v, scale)

  /** HOF form of [[quantizeFp]] — interpreted, kept as the parity oracle. */
  def quantizeFpHof(v: Column, scale: Long): Column =
    transform(v, x => fpqElem(x, scale))

  /** Element-wise a − b over quantized vectors (exact; throws on
    * overflow/length mismatch). Native codegen'd
    * ([[graft.expressions.LongVecSub]]) — the centering pass of the
    * fixed-point PCA scatter.
    */
  def subLong(a: Column, b: Column): Column =
    graft.expressions.VectorExpressions.vecSubLong(a, b)

  /** Exact-isqrt L2 normalization of a quantized vector in ONE
    * codegen'd per-row pass ([[graft.expressions.LongVecL2NormFp]]):
    * r = isqrt(Σx²), x → sign·((|x|·scale) div r), zero vectors pass
    * through — the same integers as the explode/join/groupBy form it
    * replaced, with zero shuffles.
    */
  def l2NormFp(v: Column, scale: Long): Column =
    graft.expressions.VectorExpressions.vecL2NormFp(v, scale)

  /** Element-wise exact Σ over `array<long>` rows as ONE aggregate
    * state of d longs ([[graft.expressions.LongVecSumAgg]]) — replaces
    * the posexplode → groupBy(i) mean pass of the fixed-point PCA
    * family (N·d shuffled element rows → d-long partial states).
    */
  def vecSumLong(v: Column): Column =
    graft.expressions.VectorAggregates.vecSumLong(v)

  /** Row-major d² scatter matrix Σ cᵢ·cⱼ as DECIMAL(38,0), accumulated
    * in exact int128 ([[graft.expressions.ScatterMatrixAgg]]) — the
    * one-pass form of the r9 double-posexplode scatter (N·d² generated
    * rows through a hash aggregate → d² int128 cells per partition).
    */
  def scatterMatrix(v: Column): Column =
    graft.expressions.VectorAggregates.scatterMatrix(v)

  /** Exact Σ aᵢ·bᵢ over two `array<long>` columns (int64 throughout —
    * caller owns the no-overflow argument; see Q29Scale's bound note).
    * Native codegen'd ([[graft.expressions.LongVecDot]]) since round 9:
    * the HOF form was the interpreted (CodegenFallback) inner loop of
    * every fixed-point pipeline stage that reuses materialized
    * quantized vectors — k-means assignment, PCA projections,
    * intra-cell dedup pairs.
    */
  def dotLong(a: Column, b: Column): Column =
    graft.expressions.VectorExpressions.vecDotLong(a, b)

  /** Cross-multiplied threshold comparator sign(a·b·k1 − c·d·k2), exact
    * at 192-bit — the codegen'd, allocation-free replacement for the
    * DECIMAL(38,0) forms of `dot²·tDen² ⋛ na·nb·tNum²` on the
    * candidate-verify hot paths (profiled: the decimal filter alone was
    * 8.3 s over 57 M rows at a 64× replica, with GC at ~30% of session
    * wall — SCALE_NOTES r10). Exactness is pinned against the decimal
    * SQL forms and BigInt in Int128Spec.
    */
  def prodCmp3(a: Column, b: Column, k1: Long, c: Column, d: Column, k2: Long): Column =
    graft.expressions.VectorExpressions.prodCmp3(a, b, k1, c, d, k2)

  /** (dot²·10⁴) div n — the exact integer ranking key (q29 idiom),
    * codegen'd; throws on n ≤ 0 / int64 overflow, never wraps.
    */
  def rankFp(dot: Column, n: Column): Column =
    graft.expressions.VectorExpressions.rankFp(dot, n)

  /** (dot²·10⁴) div (na·nb) — exact basis-point squared cosine,
    * codegen'd; positive norms required (the r9 zero-vector rule).
    */
  def cos2Bp(dot: Column, na: Column, nb: Column): Column =
    graft.expressions.VectorExpressions.cos2Bp(dot, na, nb)

  /** HOF form of [[dotLong]] — interpreted, kept as the parity oracle. */
  def dotLongHof(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0L), (acc, v) => acc + v)

  /** Squared L2 distance (cheaper than sqrt for nearest-neighbor ranking). */
  def l2Sq(a: Column, b: Column): Column =
    aggregate(
      zip_with(a, b, (x, y) => {
        val diff = x.cast("double") - y.cast("double")
        diff * diff
      }),
      lit(0.0),
      (acc, v) => acc + v,
    )

  /** PORTABLE random-hyperplane LSH bucket (q31's portable-hash-family
    * idiom applied to sign-LSH): ±1 plane components derived from
    * md5("plane:p:i") — the top bit of the digest's first byte — and
    * the per-plane sign taken on the EXACT fixed-point dot
    * [[dotFp]](v, plane) ≥ 0 (±scale factors out, so the sign equals
    * sign(Σ ±round(vᵢ·scale)), an integer — shuffle/order-proof).
    * Every step is reproducible verbatim in DuckDB SQL (md5, integer
    * sums), which is what lets q37/q38's whole candidate cascade be
    * hash-pinned cross-engine. [[signBucket]] (splitmix64 planes, float
    * dot) remains the at-scale variant — same plan, cheaper hash —
    * recall-parity-pinned in spec.
    */
  def signBucketPortable(v: Column, dim: Int, nPlanes: Int, scale: Long = 10000000L): Column = {
    require(nPlanes <= 62, "bucket packs sign bits into a long")
    val planeCols: Seq[Column] = (0 until nPlanes).map { p =>
      val comps: Seq[Float] = (0 until dim).map { i =>
        val d = java.security.MessageDigest.getInstance("MD5")
          .digest(s"plane:$p:$i".getBytes("UTF-8"))
        // top bit of byte 0 clear ⟺ first hex char ≤ '7'
        if ((d(0) & 0x80) == 0) 1.0f else -1.0f
      }
      val planeLit = array(comps.map(lit(_)): _*)
      when(dotFp(v, planeLit, scale) >= 0, lit(1L << p)).otherwise(lit(0L))
    }
    planeCols.reduce(_ bitwiseOR _)
  }

  /** Random-hyperplane LSH bucket for cosine similarity: the sign-bit
    * pattern of `planes.length` fixed pseudo-random hyperplanes packed
    * into a long. Vectors in the same bucket are likely neighbors —
    * the scale path for ANN joins (bucket-equijoin instead of N² cross
    * join).
    *
    * Hyperplanes are generated deterministically from `seed` via a
    * splitmix64-style integer hash so every executor derives identical
    * planes with no driver-side broadcast of random state.
    */
  def signBucket(v: Column, dim: Int, nPlanes: Int, seed: Long = 42L): Column = {
    require(nPlanes <= 62, "bucket packs sign bits into a long")
    val planeCols: Seq[Column] = (0 until nPlanes).map { p =>
      // plane p: pseudo-random ±1 components; component i derived from
      // a mixed integer hash of (seed, p, i)
      val comps: Seq[Float] = (0 until dim).map { i =>
        var z = seed + 0x9e3779b97f4a7c15L * (p.toLong * 100003L + i.toLong + 1L)
        z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
        z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
        z = z ^ (z >>> 31)
        if (z >= 0) 1.0f else -1.0f
      }
      val planeLit = array(comps.map(lit(_)): _*)
      when(dot(v, planeLit) >= 0, lit(1L << p)).otherwise(lit(0L))
    }
    planeCols.reduce(_ bitwiseOR _)
  }
}
