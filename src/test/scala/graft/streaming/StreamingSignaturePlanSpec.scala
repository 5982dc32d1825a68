package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.LambdaFunction
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.functions.current_timestamp

import graft.SparkSpec

/** Plan-size guard for the per-row MinHash signature: the optimizer must
  * not copy the signature's k lambdas into every band component that
  * reads it. The source is a parquet stream on purpose — over a local
  * `toDF` frame the optimizer folds the whole plan into one local
  * relation and the guard would see nothing.
  */
class StreamingSignaturePlanSpec extends SparkSpec {
  import spark.implicits._

  private def lambdas(plan: LogicalPlan): Int =
    plan.flatMap(_.expressions).map(_.collect { case l: LambdaFunction => l }.size).sum

  private def assertBounded(df: DataFrame, what: String): Unit = {
    val analyzed = lambdas(df.queryExecution.analyzed)
    // a streaming frame refuses `optimizedPlan` outside a running query;
    // its micro-batches run this same optimizer
    val optimized = lambdas(spark.sessionState.optimizer.execute(df.queryExecution.analyzed))
    assert(analyzed > 0)
    assert(optimized <= 4 * analyzed,
      s"$what: the optimized plan holds $optimized lambdas, the analyzed plan $analyzed")
  }

  test("band keys read one signature component each: optimized lambdas stay within 4x analyzed") {
    val dir = java.nio.file.Files.createTempDirectory("sig-plan").resolve("docs").toString
    val two = Seq((1L, "the quick brown fox jumps over the lazy dog", true),
      (2L, "the quick brown fox leaps over the lazy dog", false)).toDF("doc_id", "text", "incoming")
    two.write.parquet(dir)
    val docs = spark.readStream.schema(two.schema).parquet(dir)
    assertBounded(StreamingNearDupLedger.bandArrivals(docs).toDF(), "bandArrivals")
    val base = StreamingIncrementalDedup.BaseState.fromTables(
      Seq((2L, 0, 0L)).toDF("base_doc", "band", "bkey"),
      Seq((2L, Seq("a b c"))).toDF("base_doc", "base_set"))
    val arriving = docs.select($"doc_id", $"text", current_timestamp().as("ts"))
    assertBounded(StreamingIncrementalDedup.crossDupStream(base, arriving), "crossDupStream")
  }
}
