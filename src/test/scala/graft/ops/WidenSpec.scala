package graft.ops

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** [[Widen.widened]] — the scale-adaptive parallelism floor for
  * scan-fused hot expressions. The contract under test: narrow
  * scan-shaped frames are repartitioned to the session's shuffle
  * parallelism; frames that are already wide, shuffle-shaped (their
  * `.rdd` probe would execute stages under AQE), or streaming pass
  * through UNTOUCHED.
  */
class WidenSpec extends SparkSpec {

  test("narrow frame is widened to the session shuffle parallelism") {
    val one = spark.range(0, 100, 1, numPartitions = 1).toDF("id")
    val w = Widen.widened(one)
    assert(w.rdd.getNumPartitions == 4, "1-partition frame must widen to 4")
    // results unchanged (round-robin repartition moves rows, not values)
    assert(w.agg(sum("id")).head.getLong(0) == 4950L)
  }

  test("already-wide frame passes through without a repartition") {
    val wide = spark.range(0, 100, 1, numPartitions = 8).toDF("id")
    val w = Widen.widened(wide)
    assert(w eq wide, "wide input must be returned as-is (no new plan node)")
  }

  test("shuffle-shaped frame passes through (no .rdd probe, no extra exchange)") {
    val agg = spark.range(0, 100, 1, numPartitions = 1).toDF("id")
      .groupBy((col("id") % 10).as("k")).agg(count(lit(1)).as("c"))
    val w = Widen.widened(agg)
    assert(w eq agg, "aggregate-shaped input must be returned as-is")
    val joined = spark.range(10).toDF("id").join(spark.range(5).toDF("id"), "id")
    assert(Widen.widened(joined) eq joined, "join-shaped input must be returned as-is")
  }

  test("streaming frame passes through untouched") {
    val stream = spark.readStream.format("rate").option("rowsPerSecond", 1).load()
    val w = Widen.widened(stream)
    assert(w eq stream, "streaming input must be returned as-is (.rdd would throw)")
  }
}
