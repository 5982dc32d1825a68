package graft.functions

import org.apache.spark.sql.functions._

import graft.SparkSpec

class VectorFunctionsSpec extends SparkSpec {
  import spark.implicits._
  import VectorFunctions._

  private def calc(a: Seq[Float], b: Seq[Float]): (Double, Double, Double) = {
    val row = Seq((a, b)).toDF("a", "b")
      .select(
        dot(col("a"), col("b")).as("dot"),
        cosine(col("a"), col("b")).as("cos"),
        VectorOracles.l2Sq(col("a"), col("b")).as("l2sq"),
      ).head()
    (row.getDouble(0), row.getDouble(1), row.getDouble(2))
  }

  test("dot / cosine / l2 on known vectors") {
    val (d, c, l) = calc(Seq(1f, 2f, 3f), Seq(4f, 5f, 6f))
    assert(d == 32.0)
    assert(math.abs(c - 32.0 / (math.sqrt(14) * math.sqrt(77))) < 1e-12)
    assert(l == 27.0)
  }

  test("cosine: self similarity 1, orthogonal 0, zero-norm guarded") {
    assert(math.abs(calc(Seq(1f, 2f), Seq(1f, 2f))._2 - 1.0) < 1e-12)
    assert(calc(Seq(1f, 0f), Seq(0f, 1f))._2 == 0.0)
    assert(calc(Seq(0f, 0f), Seq(1f, 1f))._2 == 0.0)
  }

  test("signBucket: identical vectors share a bucket, opposite vectors don't") {
    val df = Seq(
      (1L, Seq.fill(8)(1f)),
      (2L, Seq.fill(8)(1f)),
      (3L, Seq.fill(8)(-1f)),
    ).toDF("id", "v").select(col("id"), signBucketPortable(col("v"), 8, 16).as("b"))
    val buckets = df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(buckets(1L) == buckets(2L))
    assert(buckets(1L) != buckets(3L))
  }

  test("signBucket approximately preserves cosine neighborhoods on real embeddings") {
    val emb = graft.ops.Tables.embeddings(spark, sfDir).limit(100)
    val withB = emb.select(col("vec_id"), signBucketPortable(col("embedding"), 64, 12).as("b"))
    // buckets must be non-degenerate: more than one bucket, fewer than n
    val n = withB.count()
    val nb = withB.select("b").distinct().count()
    assert(nb > 1 && nb <= n)
  }
}
