package graft.tools

import java.sql.{Date, Timestamp}
import java.time.Instant

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.model.{PartitionKey, PartitionState, RunContext}
import graft.sink.RawSink
import graft.state.StateStore
import graft.warehouse.Warehouse

/** End-to-end lifecycle demo: the reference's three entry points
  * (`daily` extract → validate, `warehouse load`, `consume preview`,
  * SURVEY.md §3) composed from this library's modules, run against the
  * events test table standing in for the extraction source.
  *
  * Usage: runMain graft.tools.EndToEnd [sfDir] [workDir]
  *
  * This is the integration surface for the sink/ledger/warehouse
  * layers: it exercises run fencing, metadata-last seal, count
  * validation, LWW ledger upsert, full-outer reconcile,
  * replace-by-partition publish, and the consumer gate in one pass,
  * then prints a JSON summary line per stage, each with the stage's
  * wall time in milliseconds (`"ms"`).
  */
object EndToEnd {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val work = if (args.length > 1) args(1)
      else java.nio.file.Files.createTempDirectory("graft_e2e").toString
    val spark = graft.GraftSession.local()
    import spark.implicits._
    // One JSON line per stage; "ms" is the wall time since the previous line.
    var stageStart = System.nanoTime()
    def stage(json: String): Unit = {
      println(json.stripSuffix("}") + s""","ms":${(System.nanoTime() - stageStart) / 1000000}}""")
      stageStart = System.nanoTime()
    }

    // ---- 1. extract (S1-S3): events become the payload; the logical
    //      partition is (source, customer=user bucket, query, day).
    val run1 = RunContext.mint(Instant.parse("2024-02-01T00:00:00Z"))
    val payload = graft.ops.Tables.events(spark, sfDir)
      .select(
        lit("events_src").as("source"),
        concat(lit("cust_"), (col("user_id") % 3).cast("string")).as("customer_id"),
        lit("event_daily").as("query_name"),
        col("ts").cast("date").as("logical_date"),
        col("event_id"), col("event_type"), col("value"),
      )
    val sink = new RawSink(spark, s"$work/raw")
    val seals = sink.writeRun(payload, run1.runId)
    stage(s"""{"stage":"extract","partitions":${seals.size},"rows":${seals.map(_.recordCount).sum}}""")

    // ---- 2. validate (A6) → ledger upsert (D1/D2): recount each sealed
    //      partition from the sink and mark success/failed.
    val counted = sink.readAll()
      .where(col("run_id") === run1.runId)
      .groupBy(PartitionKey.columns.map(col): _*)
      .agg(count(lit(1)).as("record_count"))
    val declared = seals.map(s =>
      (s.key.source, s.key.customerId, s.key.queryName, s.key.logicalDate, s.recordCount))
      .toDF("source", "customer_id", "query_name", "logical_date", "declared")
    val validated = counted
      .join(declared, PartitionKey.columns)
      .select(
        col("source"), col("customer_id"), col("query_name"), col("logical_date"),
        when(col("record_count") === col("declared"), PartitionState.Success)
          .otherwise(PartitionState.Failed).as("status"),
        lit(run1.runId).as("current_run_id"),
        lit("v1").as("schema_version"),
        col("record_count"),
        lit(Timestamp.from(run1.startedAt)).as("updated_at"),
        lit(null).cast("string").as("error_message"),
        lit(1L).as("attempt_count"),
      )
    val ledger = new StateStore(spark, s"$work/ledger")
    ledger.upsert(validated)
    val statusCounts = StateStore.observe.statusCounts(ledger.snapshot())
      .as[(String, Long)].collect().toMap
    stage(s"""{"stage":"validate","status_counts":"${statusCounts.mkString(",")}"}""")
    require(statusCounts.getOrElse(PartitionState.Failed, 0L) == 0L, "validation failed partitions")
    // Content expectations beside the A6 recount: the declarative gate
    // (graft.ops.Expectations — q226's engine) over the run's payload.
    // A publish must not proceed on rows the schema contract rejects.
    val expectations = graft.ops.Expectations.evaluate(
      sink.readAll().where(col("run_id") === run1.runId),
      Seq(
        graft.ops.Expectations.NotNull("event_id_present", "event_id"),
        graft.ops.Expectations.Unique("event_id_unique", Seq("event_id")),
        graft.ops.Expectations.NotNull("event_type_present", "event_type"),
      ))
    val gate = expectations
      .select(col("rule"), col("n_violations"), col("pass"))
      .as[(String, Long, Boolean)].collect()
    stage(s"""{"stage":"expectations","rules":"${gate.map(g => s"${g._1}=${g._2}").mkString(",")}"}""")
    require(gate.forall(_._3), s"expectation gate failed: ${gate.filterNot(_._3).mkString(",")}")

    // ---- 3. reconcile + publish (J1/J2, D3) against an empty pointer set.
    val pointers0 = spark.createDataFrame(
      new java.util.ArrayList[org.apache.spark.sql.Row](), graft.model.Schemas.warehousePointer)
    val plan = Warehouse.reconcile(ledger.snapshot(), pointers0)
    val actions = plan.groupBy("action").count().as[(String, Long)].collect().toMap
    stage(s"""{"stage":"reconcile","actions":"${actions.mkString(",")}"}""")
    Warehouse.publish(spark, plan, sink.readAll(), s"$work/curated")
    val pointers1 = Warehouse.nextPointers(pointers0, plan, Timestamp.from(Instant.parse("2024-02-01T01:00:00Z")))
    stage(s"""{"stage":"publish","pointers":${pointers1.count()},"curated_rows":${spark.read.parquet(s"$work/curated").count()}}""")

    // ---- 4. supersede one partition with run2 and re-publish: only that
    //      partition's rows change (replace-by-partition).
    val run2 = RunContext.mint(Instant.parse("2024-02-02T00:00:00Z"))
    val someDay = seals.head.key
    val redo = payload.where(
      col("customer_id") === someDay.customerId && col("logical_date") === lit(someDay.logicalDate))
      .limit(5)
    sink.writeRun(redo, run2.runId)
    val revalidated = validated
      .where(col("customer_id") === someDay.customerId && col("logical_date") === lit(someDay.logicalDate))
      .withColumn("current_run_id", lit(run2.runId))
      .withColumn("record_count", lit(5L))
      .withColumn("updated_at", lit(Timestamp.from(run2.startedAt)))
    ledger.upsert(revalidated)
    val plan2 = Warehouse.reconcile(ledger.snapshot(), pointers1)
    val replaceN = plan2.where(col("action") === Warehouse.Action.Replace).count()
    Warehouse.publish(spark, plan2, sink.readAll(), s"$work/curated")
    stage(s"""{"stage":"supersede","replaced":$replaceN}""")

    // ---- 5. consumer preview (J3 + T4): gate on the ledger, sample 3
    //      rows per partition.
    val gated = sink.authoritativeRows(ledger.snapshot())
    val runsVisible = gated.select("run_id").distinct().as[String].collect().sorted.toSeq
    val sample = sink.preview(ledger.snapshot(), 3, "event_id")
    stage(s"""{"stage":"consume","visible_rows":${gated.count()},"sampled":${sample.count()},"runs":"${runsVisible.mkString(",")}"}""")
    require(runsVisible.contains(run2.runId), "superseding run must be visible")

    // ---- 6. serve (K5 + warehouse_tables.sql): daily facts built from
    //      the gated consumer rows, PK-deduped (newest run wins — the
    //      superseding run2 from stage 4 takes its grain), registered
    //      in the session catalog partitioned by date, read back via
    //      spark.table — the serving surface a reporting tool queries.
    val factPayload = gated.select(
      col("customer_id"),
      col("event_type").as("campaign_id"),
      col("logical_date").as("date"),
      lit(1L).as("impressions"),
      when(col("value") > 0, 1L).otherwise(0L).as("clicks"),
      col("value").cast("decimal(18,4)").as("conversions"),
      (col("value").cast("decimal(18,4)") * 1000000).cast("long").as("cost_micros"),
      col("run_id"))
    val fact = graft.warehouse.FactTables.campaignDaily(factPayload)
    graft.warehouse.FactTables.registerPartitioned(
      fact, "e2e_fact_campaign_daily", Some(s"$work/serving/fact_campaign_daily"))
    val served = spark.table("e2e_fact_campaign_daily")
    stage(s"""{"stage":"serve","fact_rows":${served.count()},"dates":${served.select("date").distinct().count()}}""")

    // ---- 7. maintain: compact the (now fragmented) authoritative rows
    //      into one file per partition as a new sealed+validated run,
    //      then vacuum runs superseded by it — the periodic job that
    //      keeps files ∝ partitions. Retention only reclaims runs
    //      strictly OLDER than each key's ledger-validated run, so the
    //      superseded originals go and nothing mid-retry ever would.
    val run3 = RunContext.mint(Instant.parse("2024-02-03T00:00:00Z"))
    val compacted = sink.compactRuns(ledger.snapshot(), run3.runId)
    val recompacted = ledger.snapshot()
      .withColumn("current_run_id", lit(run3.runId))
      .withColumn("updated_at", lit(Timestamp.from(run3.startedAt)))
    ledger.upsert(recompacted)
    // snapshot the pre-maintenance served count NOW: `gated`'s plan
    // holds pre-vacuum file paths and cannot re-execute after deletion
    val servedBefore = gated.count()
    val removed = sink.vacuumSuperseded(ledger.snapshot(), keepRuns = 1)
    val after = sink.authoritativeRows(ledger.snapshot())
    require(after.count() == servedBefore, "maintenance must not change served rows")
    stage(s"""{"stage":"maintain","compacted_partitions":${compacted.size},"runs_removed":$removed}""")

    stage(s"""{"stage":"done","work_dir":"$work"}""")
    spark.stop()
  }
}
