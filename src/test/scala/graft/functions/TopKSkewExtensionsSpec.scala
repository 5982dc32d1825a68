package graft.functions

import org.apache.spark.sql.functions._

import graft.SparkSpec

class TopKSpec extends SparkSpec {
  import spark.implicits._

  test("TopK aggregator matches window row_number top-k exactly") {
    val ev = graft.ops.Tables.events(spark, sfDir)
    val viaAgg = ev.groupBy("user_id")
      .agg(TopK.topK(5, col("value"), col("event_id")).as("top"))
      .select(col("user_id"), explode(col("top")).as("t"))
      .select(col("user_id"), col("t.score"), col("t.id"))
      .as[(Long, Double, Long)].collect().toSet
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy(desc("value"), asc("event_id"))
    val viaWindow = ev.withColumn("rn", row_number().over(w)).where(col("rn") <= 5)
      .select(col("user_id"), col("value"), col("event_id"))
      .as[(Long, Double, Long)].collect().toSet
    assert(viaAgg == viaWindow)
  }

  test("TopK handles ties and fewer-than-k groups deterministically") {
    val df = Seq(
      ("a", 1.0, 1L), ("a", 1.0, 2L), ("a", 1.0, 3L), ("a", 2.0, 9L),
      ("b", 5.0, 7L),
    ).toDF("g", "value", "id")
    val got = df.groupBy("g").agg(TopK.topK(3, col("value"), col("id")).as("top"))
      .select(col("g"), col("top"))
      .as[(String, Seq[(Double, Long)])].collect().toMap
    assert(got("a") == Seq((2.0, 9L), (1.0, 1L), (1.0, 2L))) // ties: lower id first
    assert(got("b") == Seq((5.0, 7L)))
  }
}

class SkewSpec extends SparkSpec {
  import spark.implicits._

  test("saltedInnerJoin equals plain join on skewed data") {
    // 10k rows of one hot key + a tail
    val left = ((1 to 10000).map(i => (1L, i)) ++ (1 to 100).map(i => (i.toLong + 1, i)))
      .toDF("k", "payload")
    val right = (1 to 50).map(i => (i.toLong, s"dim$i")).toDF("k", "name")
    val plain = left.join(right, Seq("k")).select("k", "payload", "name")
      .as[(Long, Int, String)].collect().sorted.toSeq
    val salted = graft.ops.Skew.saltedInnerJoin(left, right, Seq("k"), salts = 8)
      .select("k", "payload", "name")
      .as[(Long, Int, String)].collect().sorted.toSeq
    assert(salted == plain)
  }

  test("salt actually spreads the hot key across partitions") {
    val left = (1 to 1000).map(i => (1L, i)).toDF("k", "payload")
    val salts = left.withColumn(
      "__salt", pmod(xxhash64(struct(left.columns.map(col): _*)), lit(8)).cast("int"))
    assert(salts.select("__salt").distinct().count() == 8)
  }
}
