package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Dense-vector math over `ArrayType(FloatType)` embedding columns and
  * their quantized `array<long>` forms, each a native codegen'd
  * expression ([[graft.expressions.VectorExpressions]],
  * [[graft.expressions.VectorAggregates]]) rather than an interpreted
  * higher-order-function composition.
  *
  * Float accumulation is in double (each float element widened before
  * multiply) and strictly sequential over the array — deterministic for
  * a given row, independent of partitioning. The HOF compositions the
  * native forms replaced are the specs' parity oracles.
  */
object VectorFunctions {

  /** Σ aᵢ·bᵢ, widened to double before multiplication. Native codegen'd
    * expression ([[graft.expressions.FloatVecDot]]).
    */
  def dot(a: Column, b: Column): Column =
    graft.expressions.VectorExpressions.vecDot(a, b)

  /** Cosine similarity; 0.0 when either vector has zero norm. Single
    * fused codegen'd pass ([[graft.expressions.FloatVecCosine]]).
    */
  def cosine(a: Column, b: Column): Column =
    graft.expressions.VectorExpressions.vecCosine(a, b)

  /** Exact fixed-point dot product Σ round(aᵢ·scale)·round(bᵢ·scale) as
    * int64 — the hash-pinnable form of [[dot]] (q92's fix-point idiom
    * applied to similarity ranking). `dotFp(a, a, s)` is the fixed-point
    * squared norm. Native codegen'd ([[graft.expressions.FloatVecDotFp]]).
    */
  def dotFp(a: Column, b: Column, scale: Long): Column =
    graft.expressions.VectorExpressions.vecDotFp(a, b, scale)

  /** The whole vector quantized to `array<long>` at `scale` — the
    * MATERIALIZED fixed-point form for pipelines that reuse quantized
    * vectors across stages (q42's k-means: seeds, per-round sums and
    * the final ranking all read the same integer arrays), where
    * re-quantizing inside every [[dotFp]] would repeat work.
    * `dotLong(quantizeFp(a,s), quantizeFp(b,s)) ≡ dotFp(a,b,s)`.
    * Native codegen'd ([[graft.expressions.FloatVecQuantizeFp]]) since
    * round 10 — the `transform` HOF was the interpreted head pass of
    * every fixed-point pipeline. Elements round half away from zero,
    * identical to DuckDB `CAST(round(CAST(x AS DOUBLE)·scale) AS BIGINT)`.
    */
  def quantizeFp(v: Column, scale: Long): Column =
    graft.expressions.VectorExpressions.vecQuantizeFp(v, scale)

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

  /** PORTABLE random-hyperplane LSH bucket (q31's portable-hash-family
    * idiom applied to sign-LSH): ±1 plane components derived from
    * md5("plane:p:i") — the top bit of the digest's first byte — and
    * the per-plane sign taken on the EXACT fixed-point dot
    * [[dotFp]](v, plane) ≥ 0 (±scale factors out, so the sign equals
    * sign(Σ ±round(vᵢ·scale)), an integer — shuffle/order-proof).
    * Every step is reproducible verbatim in DuckDB SQL (md5, integer
    * sums), which is what lets q37/q38's whole candidate cascade be
    * hash-pinned cross-engine. It is the one sign-LSH bucket: every
    * sign-LSH cascade, `Multimodal.mediaNearDupPairs` included, runs it.
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
}
