package graft.ops

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.streaming.Ev

class StreamDedupSpec extends SparkSpec {
  import spark.implicits._

  test("dropDuplicatesWithinWatermark collapses replayed rows (D1 streaming twin)") {
    implicit val ctx = spark.sqlContext
    val in = MemoryStream[Ev]
    val out = graft.streaming.StreamingOps.dedupWithinHorizon(
      in.toDF().withColumn("event_key", col("user_id")), Seq("event_key"), lateness = "1 hour")
    val q = out.writeStream.format("memory").queryName("dedup_t").outputMode("append").start()
    def ev(s: String, u: Long, v: Double) = Ev(Timestamp.valueOf(s), u, v)
    in.addData(ev("2024-01-01 10:00:00", 1L, 1.0))
    q.processAllAvailable()
    // replay of the same key inside the horizon: dropped
    in.addData(ev("2024-01-01 10:05:00", 1L, 999.0), ev("2024-01-01 10:10:00", 2L, 2.0))
    q.processAllAvailable()
    q.stop()
    val vals = spark.table("dedup_t").select("user_id", "value")
      .as[(Long, Double)].collect().toSet
    assert(vals == Set((1L, 1.0), (2L, 2.0))) // 999.0 duplicate suppressed
  }
}
