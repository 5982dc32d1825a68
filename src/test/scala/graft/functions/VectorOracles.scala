package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The specs' references for the vector family: the interpreted
  * `zip_with`/`aggregate` compositions each native expression in
  * [[VectorFunctions]] replaced (parity oracles), and the exact float
  * top-k every approximate search's recall is measured against.
  */
object VectorOracles {

  /** HOF form of [[VectorFunctions.dot]]. */
  def dotHof(a: Column, b: Column): Column =
    aggregate(
      zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0),
      (acc, v) => acc + v,
    )

  /** HOF form of [[VectorFunctions.cosine]] — three reductions. */
  def cosineHof(a: Column, b: Column): Column = {
    val denom = sqrt(dotHof(a, a)) * sqrt(dotHof(b, b))
    when(denom > 0, dotHof(a, b) / denom).otherwise(lit(0.0))
  }

  /** HOF form of [[VectorFunctions.dotFp]] — same floor-based
    * half-away-from-zero quantization.
    */
  def dotFpHof(a: Column, b: Column, scale: Long): Column =
    aggregate(
      zip_with(a, b, (x, y) => fpqElem(x, scale) * fpqElem(y, scale)),
      lit(0L),
      (acc, v) => acc + v,
    )

  /** round(x·scale) half-away-from-zero as int64 — the element-level
    * quantizer shared by [[dotFpHof]] and [[quantizeFpHof]]; identical
    * to DuckDB `CAST(round(CAST(x AS DOUBLE)·scale) AS BIGINT)`.
    */
  private def fpqElem(x: Column, scale: Long): Column = {
    val p = x.cast("double") * lit(scale.toDouble)
    val ap = abs(p)
    val f = floor(ap)
    val m = f.cast("long") + when(ap - f >= 0.5, lit(1L)).otherwise(lit(0L))
    when(p < 0, -m).otherwise(m)
  }

  /** HOF form of [[VectorFunctions.quantizeFp]]. */
  def quantizeFpHof(v: Column, scale: Long): Column =
    transform(v, x => fpqElem(x, scale))

  /** HOF form of [[VectorFunctions.dotLong]]. */
  def dotLongHof(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0L), (acc, v) => acc + v)

  /** Squared L2 distance. */
  def l2Sq(a: Column, b: Column): Column =
    aggregate(
      zip_with(a, b, (x, y) => {
        val diff = x.cast("double") - y.cast("double")
        diff * diff
      }),
      lit(0.0),
      (acc, v) => acc + v,
    )

  /** Exact top-k neighbors for each vector in `queries` (small,
    * broadcast) over `corpus`. Output: (query_id, vec_id, score),
    * k rows per query.
    */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame, k: Int): DataFrame = {
    val q = queries.select(col("vec_id").as("query_id"), col("embedding").as("q_emb"))
    val scored = corpus
      .join(broadcast(q), col("vec_id") =!= col("query_id"))
      .select(
        col("query_id"),
        col("vec_id"),
        VectorFunctions.cosine(col("embedding"), col("q_emb")).as("score"),
      )
    val w = Window.partitionBy("query_id").orderBy(desc("score"), asc("vec_id"))
    scored.withColumn("rn", row_number().over(w)).where(col("rn") <= k).drop("rn")
  }
}
