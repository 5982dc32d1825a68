package graft.warehouse

import java.sql.{Date, Timestamp}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.state.ControlPlane

class FactTablesSpec extends SparkSpec {
  import spark.implicits._

  test("campaignDaily: newest run wins per grain, SAME-run rows re-aggregate, micros→currency") {
    val payload = Seq(
      // duplicate grain across runs: r2 must win entirely...
      ("c1", 100L, Date.valueOf("2024-01-01"), 10L, 2L, 1.5, 2500000L, "r1"),
      // ...and r2's own split rows must SUM, not dedup
      ("c1", 100L, Date.valueOf("2024-01-01"), 60L, 5L, 6.0, 6000000L, "r2"),
      ("c1", 100L, Date.valueOf("2024-01-01"), 39L, 4L, 3.9, 3900000L, "r2"),
      ("c1", 200L, Date.valueOf("2024-01-01"), 5L, 1L, 0.5, 1000000L, "r1"),
    ).toDF("customer_id", "campaign_id", "date", "impressions", "clicks",
      "conversions", "cost_micros", "run_id")
    val fact = FactTables.campaignDaily(payload)
    val rows = fact.orderBy("campaign_id")
      .select("campaign_id", "impressions", "cost")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDecimal(2).doubleValue()))
    assert(rows.toSeq == Seq((100L, 99L, 9.9), (200L, 5L, 1.0)))
    // PK holds: one row per grain
    assert(fact.groupBy(FactTables.CampaignGrain.map(col): _*).count()
      .where(col("count") > 1).count() == 0)
  }

  test("adGroupDaily: newest run wins, ratio re-aggregates conversions-weighted, NULL at 0 conv") {
    val payload = Seq(
      // grain (c1, ag1, d): run 2 wins; its two split rows re-aggregate
      ("c1", 10L, 1L, "MOBILE", Date.valueOf("2024-01-01"), 2.0, 1000000L, 5.0, 1L),
      ("c1", 10L, 1L, "MOBILE", Date.valueOf("2024-01-01"), 1.0, 500000L, 8.0, 2L),
      ("c1", 10L, 1L, "MOBILE", Date.valueOf("2024-01-01"), 3.0, 900000L, 4.0, 2L),
      // grain (c2, 20, d): zero conversions → value_per_conversion NULL
      ("c2", 20L, 2L, "DESKTOP", Date.valueOf("2024-01-01"), 0.0, 700000L, 0.0, 1L),
    ).toDF("customer_id", "ad_group_id", "campaign_id", "device", "date",
      "conversions", "cost_micros", "value_per_conversion", "run_id")
    val fact = FactTables.adGroupDaily(payload).orderBy("customer_id")
    val rows = fact.collect()
    assert(rows.length == 2)
    val r1 = rows(0)
    assert(r1.getAs[java.math.BigDecimal]("conversions").doubleValue() == 4.0)
    assert(r1.getAs[Long]("cost_micros") == 1400000L)
    // weighted mean: (1·8 + 3·4) / 4 = 5
    assert(r1.getAs[java.math.BigDecimal]("value_per_conversion").doubleValue() == 5.0)
    val r2 = rows(1)
    assert(r2.isNullAt(r2.fieldIndex("value_per_conversion")))
    assert(fact.groupBy(FactTables.AdGroupGrain.map(col): _*).count()
      .where(col("count") > 1).count() == 0)
  }

  test("adGroupDaily: NULL-ratio rows are excluded from BOTH sides of the weighted mean") {
    // (vpc=NULL, conv=3) carries no ratio information: the mean must be
    // 10 (the known row's ratio), not 10/4 = 2.5 (the deflation bug of
    // counting unknown-ratio conversions in the denominator alone).
    val payload = Seq(
      ("c1", 10L, 1L, "MOBILE", Date.valueOf("2024-01-01"),
        Some(3.0), 1000000L, None: Option[Double], 1L),
      ("c1", 10L, 1L, "MOBILE", Date.valueOf("2024-01-01"),
        Some(1.0), 500000L, Some(10.0), 1L),
    ).toDF("customer_id", "ad_group_id", "campaign_id", "device", "date",
      "conversions", "cost_micros", "value_per_conversion", "run_id")
    val r = FactTables.adGroupDaily(payload).collect().head
    assert(r.getAs[java.math.BigDecimal]("value_per_conversion").doubleValue() == 10.0)
    assert(r.getAs[java.math.BigDecimal]("conversions").doubleValue() == 4.0)
  }

  test("replaceDatePartitions through the catalog replaces ONLY the touched date slices") {
    val dir = java.nio.file.Files.createTempDirectory("catfact").toString
    def rows(d: String, imp: Long) = Seq(
      ("c1", 1L, Date.valueOf(d), imp),
      ("c2", 2L, Date.valueOf(d), imp + 1),
    ).toDF("customer_id", "campaign_id", "date", "impressions")
    val full = rows("2024-01-01", 10L)
      .unionByName(rows("2024-01-02", 20L))
      .unionByName(rows("2024-01-03", 30L))
    try {
      FactTables.registerPartitioned(full, "graft_cat_test", Some(s"$dir/t"))
      // backfill re-lands ONLY Jan 2 with new numbers
      FactTables.replaceDatePartitions(
        spark, "graft_cat_test", rows("2024-01-02", 999L))
      val got = spark.table("graft_cat_test")
        .groupBy("date").agg(sum("impressions").as("s"), count(lit(1)).as("n"))
        .collect().map(r => (r.getDate(0).toString, r.getLong(1), r.getLong(2))).toSet
      assert(got == Set(
        ("2024-01-01", 21L, 2L), // untouched
        ("2024-01-02", 1999L, 2L), // replaced, not appended
        ("2024-01-03", 61L, 2L), // untouched
      ))
      // date-pruned read plans against the single touched partition
      val pruned = spark.table("graft_cat_test")
        .where(col("date") === lit("2024-01-02").cast("date"))
      assert(pruned.count() == 2L)
    } finally spark.sql("DROP TABLE IF EXISTS graft_cat_test")
  }
}

class ControlPlaneSpec extends SparkSpec {
  import spark.implicits._

  private val ts = Timestamp.valueOf("2024-03-01 00:00:00")

  private def failedStates(n: Int, terminal: Boolean = false, attempts: Long = 2L): DataFrame =
    (1 to n).map { i =>
      ("s", s"c$i", "q", Date.valueOf("2024-01-01"), "failed", s"r$i", "v1", 1L,
        Timestamp.valueOf(f"2024-02-01 ${i % 24}%02d:00:00"),
        if (terminal) "[terminal] dead" else "boom", attempts)
    }.toDF("source", "customer_id", "query_name", "logical_date", "status",
      "current_run_id", "schema_version", "record_count", "updated_at",
      "error_message", "attempt_count")

  test("retryPlan flips non-terminal failed to pending, PRESERVES attempts, respects cap") {
    val plan = ControlPlane.retryPlan(failedStates(3), maxAttempts = 5, updatedAt = ts)
    val rows = plan.select("status", "attempt_count").as[(String, Long)].collect()
    // attempt_count unchanged: the validator increments on actual
    // processing (validator.py:83); requeue must not double-count
    assert(rows.length == 3 && rows.forall(_ == ("pending", 2L)))
    // terminal rows excluded
    assert(ControlPlane.retryPlan(failedStates(3, terminal = true), 5, ts).count() == 0)
    // attempt cap excludes
    assert(ControlPlane.retryPlan(failedStates(3, attempts = 9L), 5, ts).count() == 0)
  }

  test("backoff schedule golden: min(5min·2^(n−1), 6h) for attempts 1..10") {
    val df = (1L to 10L).map(n => Tuple1(n)).toSeq.toDF("attempt_count")
    val got = df
      .select(col("attempt_count"), ControlPlane.backoffDelaySeconds(col("attempt_count")).as("d"))
      .as[(Long, Long)].collect().toMap
    val want = Map(
      1L -> 300L, 2L -> 600L, 3L -> 1200L, 4L -> 2400L, 5L -> 4800L,
      6L -> 9600L, 7L -> 19200L, 8L -> 21600L, 9L -> 21600L, 10L -> 21600L,
    )
    assert(got == want)
    // attempt_count 0 (never attempted) gets the base delay, and a
    // pathological huge count saturates at the cap instead of overflowing
    val edge = Seq(0L, 500L).toDF("attempt_count")
      .select(ControlPlane.backoffDelaySeconds(col("attempt_count"))).as[Long].collect().toSeq
    assert(edge == Seq(300L, 21600L))
  }

  test("nextAttemptAt: deterministic jitter within ±30s of updated_at + delay") {
    val states = failedStates(10, attempts = 3L) // delay = 1200s
    val out = ControlPlane.nextAttemptAt(states)
      .select("updated_at", "next_attempt_at").as[(Timestamp, Timestamp)].collect()
    out.foreach { case (u, n) =>
      val deltaS = (n.getTime - u.getTime) / 1000L
      assert(deltaS >= 1200L - 30L && deltaS <= 1200L + 30L, s"delta $deltaS out of window")
    }
    // deterministic: same input, same schedule
    val again = ControlPlane.nextAttemptAt(states)
      .select("next_attempt_at").as[Timestamp].collect().toSeq
    assert(again == out.map(_._2).toSeq)
  }

  test("retryPlan respects the backoff window (docs/retry_daemon.md eligibility)") {
    val states = failedStates(3, attempts = 5L) // delay 4800s from 2024-02-01 ~0x:00
    // a sweep 1 minute after the failure: nothing is eligible yet
    val early = ControlPlane.retryPlan(states, 9, Timestamp.valueOf("2024-02-01 00:01:00"))
    assert(early.count() == 0)
    // a sweep a month later: everything is eligible
    assert(ControlPlane.retryPlan(states, 9, ts).count() == 3)
    // manual CLI-style retry ignores the schedule
    assert(ControlPlane.retryPlan(states, 9, Timestamp.valueOf("2024-02-01 00:01:00"),
      respectBackoff = false).count() == 3)
  }

  test("safety rails: bulk ops above threshold refuse unless forced (cli.py:36-37)") {
    val big = failedStates(ControlPlane.RetryThreshold + 5)
    val e = intercept[ControlPlane.ThresholdExceeded](
      ControlPlane.retryPlan(big, 5, ts))
    assert(e.getMessage.contains("force=true"))
    assert(ControlPlane.retryPlan(big, 5, ts, force = true).count() == 25)
  }

  test("markTerminalPlan stamps idempotent marker on matching failed rows") {
    val plan = ControlPlane.markTerminalPlan(failedStates(4), ts, minAttempts = 2)
    val msgs = plan.select("error_message").as[String].collect()
    assert(msgs.length == 4 && msgs.forall(_ == "[terminal] boom"))
    // already-terminal rows are not re-marked
    assert(ControlPlane.markTerminalPlan(failedStates(4, terminal = true), ts,
      minAttempts = 1).count() == 0)
    // customer / query / date filters narrow the sweep (cli.py:495-517)
    assert(ControlPlane.markTerminalPlan(failedStates(4), ts,
      customerId = Some("c2")).count() == 1)
    assert(ControlPlane.markTerminalPlan(failedStates(4), ts,
      queryName = Some("nope")).count() == 0)
    assert(ControlPlane.markTerminalPlan(failedStates(4), ts,
      since = Some(Date.valueOf("2024-01-01")), until = Some(Date.valueOf("2024-01-01"))).count() == 4)
    // unfiltered sweep refuses without force (cli.py:523-525)
    val e = intercept[IllegalArgumentException](
      ControlPlane.markTerminalPlan(failedStates(2), ts))
    assert(e.getMessage.contains("force"))
    assert(ControlPlane.markTerminalPlan(failedStates(2), ts, force = true).count() == 2)
  }

  test("backfillPendingRows enumerates missing dates as pending rows with rails") {
    val states = failedStates(1) // occupies 2024-01-01 for c1
    val combos = Seq(("s", "c1", "q")).toDF("source", "customer_id", "query_name")
    val plan = ControlPlane.backfillPendingRows(
      states, combos, Date.valueOf("2024-01-01"), Date.valueOf("2024-01-05"), ts)
    val dates = plan.select("logical_date").as[Date].collect().map(_.toString).sorted.toSeq
    assert(dates == Seq("2024-01-02", "2024-01-03", "2024-01-04", "2024-01-05"))
    assert(plan.select("status").distinct().as[String].collect().toSeq == Seq("pending"))
  }

  test("oldestNewestFailed returns the two extremes") {
    val got = ControlPlane.oldestNewestFailed(failedStates(5))
      .select("which", "customer_id").as[(String, String)].collect().toMap
    assert(got.keySet == Set("oldest", "newest"))
  }
}
