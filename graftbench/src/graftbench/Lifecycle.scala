package graftbench

import java.io.File
import java.sql.{Date, Timestamp}
import java.time.Instant

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.model.{PartitionKey, PartitionState, QueryDefinition, RunContext, Schemas}
import graft.ops.Extraction
import graft.sink.RawSink
import graft.state.{ControlPlane, StateStore}
import graft.warehouse.{FactTables, Warehouse}

/** The reference's daily path, one cycle per op: extract the day's
  * landing through the JSONL source into the raw sink, recount and
  * validate, upsert the ledger, reconcile and publish, pass the consumer
  * gate, observe, serve the daily fact, ingest the day's micro-batch
  * through the streaming twin, then compact and vacuum. Every step goes
  * through the program's public functions.
  */
final class Lifecycle(spark: SparkSession, tracer: Tracer, inputs: String, work: String)
    extends Workload {
  import spark.implicits._

  private type Key = (String, String, String) // customer, query name, logical date

  private val landing = s"$inputs/landing"
  private val stream = new StreamTwin(spark, tracer, s"$inputs/batches", work)

  private val manifest = new ObjectMapper().readTree(new File(s"$landing/_manifest.json"))
  private val days = manifest.get("days").elements().asScala.toIndexedSeq
  private val lookback = manifest.get("lookback_days").asInt()
  private val queryNames = manifest.get("query_names").elements().asScala.map(_.asText()).toSeq
  private val queryDefs = queryNames.map(q => QueryDefinition(q, "campaign", "logical_date",
    Seq("source", "customer.id", "logical_date", "row_id", "campaign.id", "impressions", "clicks",
      "conversions", "cost_micros")))

  private val sink = new RawSink(spark, s"$work/raw")
  private val ledger = new StateStore(spark, s"$work/ledger")
  private val curated = s"$work/curated"
  private val pointerRoot = s"$work/pointers"
  private val factTable = "fact_campaign_daily"
  private val outputs = Seq(s"$work/raw", s"$work/ledger", curated, pointerRoot, s"$work/serving")

  // What the landing says the program must end up serving.
  private val latestRows = mutable.Map.empty[Key, Long]
  private var published = Set.empty[Key]
  private var compactedUnpublished = Set.empty[Key]
  private var pointerVersion = 0
  private var factRegistered = false
  private var day = 0
  private var consumedBytes = 0L
  private val warmupErrors = mutable.ArrayBuffer.empty[String]

  /** Bytes of each landing run, by run id. */
  private val landingBytes: Map[String, Long] = {
    val acc = mutable.Map.empty[String, Long].withDefaultValue(0L)
    def walk(f: File): Unit =
      if (f.isDirectory) f.listFiles().foreach(walk)
      else {
        val run = f.getParentFile.getName
        if (run.startsWith("run_id=")) acc(run.stripPrefix("run_id=")) += f.length()
      }
    walk(new File(landing))
    acc.toMap
  }

  def roundSize: Int = 1
  def hasNext: Boolean = day < days.size && stream.hasNext

  /** The first day is the initial load: run it untimed as the warmup. */
  def prepare(): Unit = {
    stream.start()
    val op = runOp(-1)
    if (!op.ok) warmupErrors += s"warmup cycle: ${op.error}"
  }

  def runOp(opId: Int): Op = {
    val d = days(day)
    day += 1
    val dayStr = d.get("day").asText()
    val landRun = d.get("run_id").asText()
    val parts = d.get("partitions").elements().asScala.map { p =>
      ((p.get("customer_id").asText(), p.get("query_name").asText(), p.get("logical_date").asText()),
        p.get("rows").asLong())
    }.toSeq
    val maintain = opId >= 0
    val run = RunContext.mint(Instant.parse(s"${dayStr}T07:00:00Z"))
    val stamp = Timestamp.from(run.startedAt)
    val (start, end) = Extraction.dailyWindow(Date.valueOf(dayStr), lookback)
    val expectedRows = parts.map(_._2).sum

    var seals: Seq[RawSink.SealedPartition] = Nil
    var validated: Array[Row] = Array.empty
    var plan: Array[Row] = Array.empty
    var gateRows, servedRows, removed, streamed = 0L
    var writeSpan: Option[Span] = None
    stream.stage()
    val t0 = System.nanoTime()
    var freshAt = t0
    tracer.span("op", "day" -> dayStr) {
      val extract = tracer.span("sources.scan") {
        val src = Extraction.readSink(spark, landing).where(col("run_id") === landRun)
        queryDefs.map(q => Extraction.compileSink(src, q, start, end).withColumnRenamed("__query_name", "query_name"))
          .reduce(_ unionByName _)
      }
      seals = tracer.span("sink.write") {
        writeSpan = tracer.current
        sink.writeRun(extract, run.runId)
      }
      val ledgerDelta = tracer.span("sink.read") {
        val counted = sink.readAll().where(col("run_id") === run.runId)
          .groupBy(PartitionKey.columns.map(col): _*)
          .agg(count(lit(1)).as("record_count"))
        val declared = seals.map(s =>
          (s.key.source, s.key.customerId, s.key.queryName, s.key.logicalDate, s.recordCount))
          .toDF("source", "customer_id", "query_name", "logical_date", "declared")
        validated = counted.join(declared, PartitionKey.columns)
          .select(
            col("source"), col("customer_id"), col("query_name"), col("logical_date"),
            when(col("record_count") === col("declared"), PartitionState.Success)
              .otherwise(PartitionState.Failed).as("status"),
            lit(run.runId).as("current_run_id"), lit("v1").as("schema_version"), col("record_count"),
            lit(stamp).as("updated_at"), lit(null).cast("string").as("error_message"),
            lit(1L).as("attempt_count"))
          .collect()
        spark.createDataFrame(validated.toSeq.asJava, Schemas.partitionState)
      }
      tracer.span("state.upsert") { ledger.upsert(ledgerDelta) }
      val snap = tracer.span("state.snapshot") { ledger.snapshot() }
      val pointers = currentPointers()
      val planDf = tracer.span("warehouse.reconcile") {
        val r = Warehouse.reconcile(snap, pointers)
        plan = r.collect()
        spark.createDataFrame(plan.toSeq.asJava, r.schema)
      }
      tracer.span("warehouse.publish") {
        Warehouse.publish(spark, planDf, sink.readAll(), curated)
        val next = Warehouse.nextPointers(pointers, planDf, stamp)
        next.write.parquet(s"$pointerRoot/v${pointerVersion + 1}")
        pointerVersion += 1
      }
      tracer.span("sink.gate") {
        gateRows = sink.authoritativeRows(snap).count()
        sink.preview(snap, 3, "row_id").count()
      }
      freshAt = System.nanoTime()
      tracer.span("state.observe") {
        StateStore.observe.statusCounts(snap).collect()
        StateStore.observe.dateGaps(snap).collect()
        StateStore.observe.freshness(snap, Date.valueOf(dayStr)).collect()
      }
      tracer.span("state.control") {
        ControlPlane.retryPlan(snap, maxAttempts = 5, updatedAt = stamp).count()
      }
      tracer.span("warehouse.serve") {
        val dates = parts.map(p => Date.valueOf(p._1._3)).distinct
        val payload = sink.authoritativeRows(snap)
          .where(col("query_name") === queryNames.head && col("logical_date").isin(dates: _*))
          .select(col("customer_id"), col("campaign_id"), col("logical_date").as("date"),
            col("impressions").cast("long").as("impressions"), col("clicks").cast("long").as("clicks"),
            col("conversions"), col("cost_micros").cast("long").as("cost_micros"), col("run_id"))
        val fact = FactTables.campaignDaily(payload)
        if (factRegistered) FactTables.replaceDatePartitions(spark, factTable, fact)
        else FactTables.registerPartitioned(fact, factTable, Some(s"$work/serving/$factTable"))
        factRegistered = true
        servedRows = spark.table(factTable).count()
      }
      streamed = stream.push()._1
      if (maintain) {
        tracer.span("sink.compact") {
          val compaction = RunContext.mint(run.startedAt.plusSeconds(1800))
          sink.compactRuns(snap, compaction.runId)
          ledger.upsert(ledger.snapshot()
            .withColumn("current_run_id", lit(compaction.runId))
            .withColumn("updated_at", lit(Timestamp.from(compaction.startedAt))))
        }
        removed = tracer.span("sink.vacuum") { sink.vacuumSuperseded(ledger.snapshot(), keepRuns = 1) }
      }
    }
    val seconds = (System.nanoTime() - t0) / 1e9

    // ---- untimed: record layer counts, then check against the landing
    tracer.count("sources.scan", "files", parts.size)
    tracer.count("sources.scan", "rows", seals.map(_.recordCount).sum)
    tracer.add(writeSpan, "partitions", seals.size)
    tracer.add(writeSpan, "input_bytes", landingBytes.getOrElse(landRun, 0L).toDouble)
    if (tracer.isEnabled) tracer.add(writeSpan, "files", Main.runFiles(s"$work/raw", run.runId))
    if (maintain) tracer.count("sink.vacuum", "removed", removed)
    consumedBytes += landingBytes.getOrElse(landRun, 0L)

    val replaced = plan.filter(_.getAs[String]("action") == Warehouse.Action.Replace).map(keyOf).toSet
    tracer.count("warehouse.reconcile", "replaced", replaced.size)
    val loaded = plan.filter(_.getAs[String]("action") == Warehouse.Action.Load).map(keyOf).toSet
    val landed = parts.map(_._1).toSet
    val expectReplaced = (landed ++ compactedUnpublished) & published
    parts.foreach { case (k, n) => latestRows(k) = n }
    published ++= landed
    compactedUnpublished = if (maintain) published else Set.empty
    val want = latestRows.values.sum
    val errors = Seq(
      (validated.length != parts.size || validated.exists(_.getAs[String]("status") != PartitionState.Success)) ->
        s"validation: ${validated.length} rows for ${parts.size} partitions, not all success",
      (seals.map(_.recordCount).sum != expectedRows) -> s"extracted ${seals.map(_.recordCount).sum} rows, landed $expectedRows",
      (replaced != expectReplaced) -> s"replaced ${replaced.size} partitions, expected ${expectReplaced.size}",
      (loaded != landed -- expectReplaced) -> s"loaded ${loaded.size} partitions, expected ${(landed -- expectReplaced).size}",
      (gateRows != want) -> s"consumer gate saw $gateRows rows, landed $want",
      (spark.read.parquet(curated).count() != want) -> s"curated rows differ from landed $want",
      (servedRows <= 0) -> "no fact rows served",
      (maintain && sink.authoritativeRows(ledger.snapshot()).count() != gateRows) -> "maintenance changed served rows",
    ).collect { case (true, msg) => s"$dayStr $msg" }
    tracer.count("op", "ledger_files", fileCount(new File(s"$work/ledger")))
    Op(s"cycle $dayStr", seconds, (freshAt - t0) / 1e9, expectedRows + streamed, errors.isEmpty,
      errors.mkString("; "))
  }

  private def keyOf(r: Row): Key =
    (r.getAs[String]("customer_id"), r.getAs[String]("query_name"), r.getAs[Date]("logical_date").toString)

  private def currentPointers(): DataFrame =
    if (pointerVersion == 0)
      spark.createDataFrame(new java.util.ArrayList[Row](), Schemas.warehousePointer)
    else spark.read.parquet(s"$pointerRoot/v$pointerVersion")

  private def fileCount(f: File): Int =
    if (f.isFile) 1 else Option(f.listFiles()).map(_.map(fileCount).sum).getOrElse(0)

  def finish(): Seq[String] = warmupErrors.toSeq ++ stream.finish()

  def spaceAmp(): Double =
    (outputs.map(Main.du).sum + stream.bytesOnDisk).toDouble / math.max(1L, consumedBytes + stream.pushedBytes)

  override def layerExtras(ops: Seq[Op]): Map[String, Double] = stream.layerMetrics(ops.size)
}
