package graft.sources

import java.nio.file.{Files, Path}

import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources.{EqualTo, GreaterThanOrEqual, LessThanOrEqual}

import graft.SparkSpec

class JsonlSourceSpec extends SparkSpec {
  import spark.implicits._

  /** Reference-layout sink: 2 customers × 3 dates, one sealed run each,
    * plus one UNSEALED run dir that must stay invisible.
    */
  private lazy val root: Path = {
    val r = Files.createTempDirectory("jsonl_sink")
    for {
      c <- Seq("c1", "c2")
      d <- Seq("2024-01-01", "2024-01-02", "2024-01-03")
    } {
      val dir = r.resolve(
        s"source=gads/customer_id=$c/query_name=campaign_daily/logical_date=$d/run_id=r1")
      Files.createDirectories(dir)
      Files.writeString(dir.resolve("payload.jsonl"),
        s"""{"campaign_id":"$c-100","clicks":"10","__query_name":"campaign_daily"}
           |{"campaign_id":"$c-200","clicks":"20","__query_name":"campaign_daily"}
           |""".stripMargin)
      Files.writeString(dir.resolve("_SEAL.json"), """{"sealed":true}""")
    }
    // crashed writer: payload present, no seal
    val unsealed = r.resolve(
      "source=gads/customer_id=c1/query_name=campaign_daily/logical_date=2024-01-04/run_id=r1")
    Files.createDirectories(unsealed)
    Files.writeString(unsealed.resolve("payload.jsonl"),
      """{"campaign_id":"ghost","clicks":"0","__query_name":"campaign_daily"}""" + "\n")
    r
  }

  private def sinkDf = graft.ops.Extraction.readSink(spark, root.toString)

  test("reads sealed partitions with inferred payload + partition schema; unsealed invisible") {
    val df = sinkDf
    assert(df.columns.toSeq ==
      Seq("campaign_id", "clicks", "__query_name",
        "source", "customer_id", "query_name", "logical_date", "run_id"))
    assert(df.schema("logical_date").dataType.typeName == "date")
    assert(df.count() == 12) // 2 customers × 3 dates × 2 rows; ghost excluded
    assert(df.where(col("campaign_id") === "ghost").count() == 0)
    val row = df.where(col("customer_id") === "c2" && col("logical_date") === "2024-01-02")
      .orderBy("campaign_id")
      .select("campaign_id", "clicks", "run_id").as[(String, String, String)].collect().toSeq
    assert(row == Seq(("c2-100", "10", "r1"), ("c2-200", "20", "r1")))
  }

  test("partition filters prune directories before any file is opened") {
    // direct: the lister must exclude non-matching dirs
    val all = JsonlPartitionSource.listSealed(root.toString, Array.empty)
    assert(all.size == 6)
    val pruned = JsonlPartitionSource.listSealed(root.toString, Array(
      EqualTo("customer_id", "c1"),
      GreaterThanOrEqual("logical_date", java.sql.Date.valueOf("2024-01-02")),
      LessThanOrEqual("logical_date", java.sql.Date.valueOf("2024-01-03")),
    ))
    assert(pruned.size == 2)
    assert(pruned.forall(_.values("customer_id") == "c1"))

    // through the planner: the scan's input partitions ARE the pruned
    // file list, so the RDD partition count shows the pruning happened
    val filtered = sinkDf
      .where(col("customer_id") === "c1" &&
        col("logical_date").between("2024-01-02", "2024-01-03"))
    assert(filtered.rdd.getNumPartitions == 2, "date+customer filters must reach the scan")
    assert(filtered.count() == 4)
    // and the plan carries the pushed filters marker
    val plan = filtered.queryExecution.executedPlan.toString
    assert(plan.contains("BatchScan"), plan.take(500))
  }

  test("LIMIT pushes to the scan (preview shape); residual filters decline it") {
    val limited = sinkDf.limit(3)
    val plan = limited.queryExecution.executedPlan.toString
    assert(plan.contains("PushedLimit: 3"), s"limit must reach the scan:\n${plan.take(800)}")
    assert(limited.count() == 3, "partial pushdown: global Limit still applies")
    // rows are real sink rows (the cap stops PULLING, not corrupts)
    assert(limited.collect().forall(_.getAs[String]("campaign_id") != null))
    // a residual payload filter above the scan must keep the limit OUT
    // of the scan — a below-filter cap would starve the filter
    val filtered = sinkDf.where(col("clicks") === "20").limit(2)
    val fplan = filtered.queryExecution.executedPlan.toString
    assert(!fplan.contains("PushedLimit"),
      s"limit must not push below a residual filter:\n${fplan.take(800)}")
    assert(filtered.count() == 2)
  }

  test("column pruning reaches the reader (2-field projection parses 2 fields)") {
    val scanned = sinkDf.select("campaign_id", "logical_date")
    val batchScans = scanned.queryExecution.executedPlan.collect {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b
    }
    assert(batchScans.nonEmpty)
    assert(batchScans.head.scan.readSchema().fieldNames.toSeq == Seq("campaign_id", "logical_date"))
    assert(scanned.distinct().count() == 12)
  }

  test("unpushable partition-column filters (Not/Or) still evaluate correctly post-scan") {
    // Not(EqualTo) over a partition column must NOT be claimed as
    // pushed: the lister admits every directory for it and Spark has to
    // re-apply the filter to rows — claiming it would silently return
    // non-matching rows (round-2 review regression).
    val ne = sinkDf.where(col("customer_id") =!= "c1")
    assert(ne.count() == 6)
    assert(ne.select("customer_id").distinct().as[String].collect().toSeq == Seq("c2"))
    val or = sinkDf.where(col("logical_date") === "2024-01-01" || col("customer_id") === "c2")
    assert(or.count() == 8) // 4 (both customers 01-01) + 6 (c2 all) − 2 overlap
    import org.apache.spark.sql.sources.Not
    assert(!JsonlPartitionSource.isPartitionFilter(
      Not(EqualTo("customer_id", "c1"))), "Not must not be claimed")
  }

  test("blank lines in a payload file are skipped on read, matching inference's tolerance") {
    val r = Files.createTempDirectory("jsonl_blank")
    val dir = r.resolve(
      "source=gads/customer_id=c1/query_name=q/logical_date=2024-01-01/run_id=r1")
    Files.createDirectories(dir)
    // trailing newline + interior blank + whitespace-only line
    Files.writeString(dir.resolve("payload.jsonl"),
      "{\"campaign_id\":\"a\",\"clicks\":\"1\"}\n\n   \n{\"campaign_id\":\"b\",\"clicks\":\"2\"}\n\n")
    Files.writeString(dir.resolve("_SEAL.json"), """{"sealed":true}""")
    val df = graft.ops.Extraction.readSink(spark, r.toString)
    assert(df.count() == 2, "blank lines must not fail or produce rows")
    assert(df.select("campaign_id").as[String].collect().sorted.toSeq == Seq("a", "b"))
  }

  test("schema inference skips empty sealed payload files") {
    val r = Files.createTempDirectory("jsonl_empty")
    def runDir(d: String) = r.resolve(
      s"source=g/customer_id=c/query_name=q/logical_date=$d/run_id=r1")
    // first-listed partition: sealed but EMPTY payload (0 records)
    Files.createDirectories(runDir("2024-01-01"))
    Files.writeString(runDir("2024-01-01").resolve("payload.jsonl"), "")
    Files.writeString(runDir("2024-01-01").resolve("_SEAL.json"), """{"sealed":true}""")
    Files.createDirectories(runDir("2024-01-02"))
    Files.writeString(runDir("2024-01-02").resolve("payload.jsonl"),
      """{"x":"1","__query_name":"q"}""" + "\n")
    Files.writeString(runDir("2024-01-02").resolve("_SEAL.json"), """{"sealed":true}""")
    val df = graft.ops.Extraction.readSink(spark, r.toString)
    assert(df.columns.contains("x"))
    assert(df.count() == 1)
  }

  test("compileSink: declared fields + date window through the connector (S1+S2)") {
    val q = graft.model.QueryDefinition(
      "campaign_daily", "campaign", "segments.date", Seq("campaign.id", "clicks"))
    val out = graft.ops.Extraction.compileSink(
      sinkDf, q, java.sql.Date.valueOf("2024-01-01"), java.sql.Date.valueOf("2024-01-01"))
    assert(out.columns.toSeq == Seq("campaign_id", "clicks", "__query_name"))
    assert(out.count() == 4) // both customers, one date
    assert(out.select("__query_name").distinct().as[String].collect().toSeq ==
      Seq("campaign_daily"))
  }

  /** Sealed layout WITH record_count, including a run whose payload is
    * deliberately CORRUPT: metadata-served counts must not open it.
    */
  private lazy val countedRoot: Path = {
    val r = Files.createTempDirectory("jsonl_counted")
    def run(c: String, d: String, n: Int, corrupt: Boolean): Unit = {
      val dir = r.resolve(
        s"source=gads/customer_id=$c/query_name=q/logical_date=$d/run_id=r1")
      Files.createDirectories(dir)
      val body =
        if (corrupt) "THIS IS NOT JSON {{{\n"
        else (1 to n).map(i => s"""{"x":"$i","__query_name":"q"}""").mkString("", "\n", "\n")
      Files.writeString(dir.resolve("payload.jsonl"), body)
      Files.writeString(dir.resolve("_SEAL.json"),
        s"""{"record_count":$n,"schema_version":"v1","sealed":true}""")
    }
    run("c1", "2024-01-01", 3, corrupt = false)
    run("c1", "2024-01-02", 5, corrupt = true) // unreadable payload
    run("c2", "2024-01-01", 2, corrupt = false)
    r
  }

  private def countedDf = spark.read
    .format("graft.sources.JsonlPartitionSource")
    .schema(org.apache.spark.sql.types.StructType(
      Seq(org.apache.spark.sql.types.StructField("x",
        org.apache.spark.sql.types.StringType) ,
        org.apache.spark.sql.types.StructField("__query_name",
          org.apache.spark.sql.types.StringType)) ++
        JsonlPartitionSource.partitionSchema))
    .option("path", countedRoot.toString).load()

  test("COUNT(*) group by partition keys is served from seal metadata, payloads unopened") {
    val perCust = countedDf.groupBy("customer_id").count()
    val plan = perCust.queryExecution.executedPlan.toString
    assert(plan.contains("PushedAggregation: [COUNT(*)]"),
      s"aggregate must push into the scan:\n$plan")
    // the corrupt run's 5 rows come from its seal — a row scan would throw
    assert(perCust.as[(String, Long)].collect().toMap == Map("c1" -> 8L, "c2" -> 2L))
    // global count: empty group-by also rides the seal counts
    assert(countedDf.count() == 10L)
    // pushed partition filter composes: only the admitted dirs count
    assert(countedDf.where(col("logical_date") === "2024-01-01").count() == 5L)
  }

  test("aggregate pushdown declines for payload grouping or residual filters") {
    // grouping by a payload column needs real rows — no pushdown, and
    // the corrupt run now fails loudly on read (proving the metadata
    // path above never touched it)
    val byPayload = countedDf
      .where(col("logical_date") === "2024-01-01") // avoid the corrupt run
      .groupBy("x").count()
    assert(!byPayload.queryExecution.executedPlan.toString.contains("PushedAggregation"))
    assert(byPayload.collect().map(_.getAs[Long]("count")).sum == 5L)
    // residual (payload) filter: count must come from rows, not seals
    val filtered = countedDf.where(col("logical_date") === "2024-01-01" && col("x") =!= "1")
    assert(!filtered.groupBy("customer_id").count()
      .queryExecution.executedPlan.toString.contains("PushedAggregation"))
    assert(filtered.count() == 3L)
  }

  test("legacy seals without record_count fall back to counting payload lines") {
    val counted = sinkDf.groupBy("customer_id").count()
    assert(counted.queryExecution.executedPlan.toString.contains("PushedAggregation"))
    assert(counted.as[(String, Long)].collect().toMap == Map("c1" -> 6L, "c2" -> 6L))
  }

  /** Layout for TopN: 4 dates × record_count=2 runs under one customer,
    * with date 04 carrying TWO tied runs (r1, r2).
    */
  private lazy val topNRoot: Path = {
    val r = Files.createTempDirectory("jsonl_topn")
    def run(d: String, rid: String): Unit = {
      val dir = r.resolve(
        s"source=gads/customer_id=c1/query_name=q/logical_date=$d/run_id=$rid")
      Files.createDirectories(dir)
      Files.writeString(dir.resolve("payload.jsonl"),
        s"""{"x":"$d/$rid-1","__query_name":"q"}
           |{"x":"$d/$rid-2","__query_name":"q"}
           |""".stripMargin)
      Files.writeString(dir.resolve("_SEAL.json"), """{"record_count":2,"sealed":true}""")
    }
    Seq("2024-01-01", "2024-01-02", "2024-01-03").foreach(run(_, "r1"))
    run("2024-01-04", "r1")
    run("2024-01-04", "r2")
    r
  }

  private def topNDf = graft.ops.Extraction.readSink(spark, topNRoot.toString)

  test("ORDER BY partition key DESC LIMIT n pushes TopN: losing runs are never planned") {
    val q = topNDf.orderBy(col("logical_date").desc, col("run_id").desc).limit(3)
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("PushedTopN: ORDER BY logical_date DESC, run_id DESC LIMIT 3"),
      s"TopN must reach the scan:\n${plan.take(900)}")
    // covering 3 rows needs runs (01-04,r2)=2 + (01-04,r1)=2 → the
    // three older dates' files must not appear as input partitions
    val planned = JsonlPartitionSource.listSealedTopN(
      topNRoot.toString, Array.empty,
      Seq("logical_date" -> true, "run_id" -> true), 3)
    assert(planned.size == 2 && planned.forall(_.values("logical_date") == "2024-01-04"),
      s"seal record_counts must prune the run list to the covering prefix: $planned")
    assert(q.select("x").as[String].collect().toSeq ==
      Seq("2024-01-04/r2-1", "2024-01-04/r2-2", "2024-01-04/r1-1"))
  }

  test("TopN cutoff ties keep every tied run; ASC direction orders the other way") {
    // LIMIT 2 by date DESC only: both 01-04 runs tie on the cutoff
    // tuple — each must stay planned (Spark breaks the tie above)
    val tied = topNDf.orderBy(col("logical_date").desc).limit(2)
    assert(tied.queryExecution.executedPlan.toString.contains("PushedTopN"))
    val tiedRuns = JsonlPartitionSource.listSealedTopN(
      topNRoot.toString, Array.empty, Seq("logical_date" -> true), 2)
    assert(tiedRuns.size == 2 && tiedRuns.map(_.values("run_id")).toSet == Set("r1", "r2"),
      s"tied runs must both survive the cutoff: $tiedRuns")
    assert(tied.select("logical_date").distinct().as[java.sql.Date].collect().toSeq ==
      Seq(java.sql.Date.valueOf("2024-01-04")))
    val asc = topNDf.orderBy(col("logical_date").asc, col("run_id").asc).limit(2)
    assert(asc.queryExecution.executedPlan.toString
      .contains("PushedTopN: ORDER BY logical_date ASC, run_id ASC LIMIT 2"))
    assert(asc.select("x").as[String].collect().toSeq ==
      Seq("2024-01-01/r1-1", "2024-01-01/r1-2"))
  }

  test("TopN declines for payload sort keys and under residual filters") {
    // payload key: directories cannot order rows — full sort above scan
    val byPayload = topNDf.orderBy(col("x").desc).limit(2)
    assert(!byPayload.queryExecution.executedPlan.toString.contains("PushedTopN"))
    assert(byPayload.select("x").as[String].collect().toSeq ==
      Seq("2024-01-04/r2-2", "2024-01-04/r2-1"))
    // residual row filter: a below-filter cap would starve the filter
    val filtered = topNDf.where(col("x").endsWith("-2"))
      .orderBy(col("logical_date").desc).limit(2)
    val fplan = filtered.queryExecution.executedPlan.toString
    assert(!fplan.contains("PushedTopN"), s"must not push under a residual filter:\n$fplan")
    assert(filtered.select("x").as[String].collect().toSet ==
      Set("2024-01-04/r1-2", "2024-01-04/r2-2"))
  }

  test("runtime filtering: a join on a partition key prunes run directories at execution time") {
    import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
    // classic-DPP shape without AQE so the BatchScanExec is directly
    // inspectable in the executed plan (semantics identical with AQE)
    val aqe = spark.conf.get("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      // the reconcile shape: ledger side selects ONE of the three dates.
      // The ledger must be a real source with a Filter above it — a
      // literal local frame constant-folds the predicate away and DPP's
      // selective-predicate check never fires (matches production,
      // where the ledger IS a table)
      val dimPath = Files.createTempDirectory("dpp_ledger").toString
      Seq("2024-01-01", "2024-01-02", "2024-01-03")
        .toDF("d").select(to_date(col("d")).as("logical_date"))
        .write.mode("overwrite").parquet(dimPath)
      val ledger = spark.read.parquet(dimPath)
        .where(col("logical_date") === "2024-01-02")
      val joined = sinkDf
        .join(ledger, Seq("logical_date"))
        .agg(sum(col("clicks").cast("long")).as("total_clicks"))
      assert(joined.as[Long].head() == 60L) // 2 customers × (10+20)
      val scans = joined.queryExecution.executedPlan.collect {
        case b: BatchScanExec if b.scan.isInstanceOf[JsonlScan] => b
      }
      assert(scans.size == 1, s"expected one connector scan:\n${joined.queryExecution.executedPlan}")
      // Spark injected the build-side key set as a runtime filter…
      assert(scans.head.runtimeFilters.nonEmpty,
        s"no runtime filter reached the scan:\n${joined.queryExecution.executedPlan}")
      // …and the listing pruned run DIRECTORIES with it: of the 6
      // sealed runs only the 2 matching the ledger date are planned
      assert(scans.head.inputPartitions.size == 2,
        s"expected 2 runtime-pruned partitions, got ${scans.head.inputPartitions.size}")
    } finally spark.conf.set("spark.sql.adaptive.enabled", aqe)
  }

  test("runtime filtering keeps answers identical when the filter is dropped as unsupported") {
    // a scan asked to runtime-filter on shapes it cannot serve must
    // DROP them (Spark re-applies the join above) — never mis-prune
    val scan = new JsonlScan(root.toString,
      org.apache.spark.sql.types.StructType(Seq()), Array.empty)
    scan.filter(Array[org.apache.spark.sql.sources.Filter](
      org.apache.spark.sql.sources.StringStartsWith("customer_id", "c")))
    // unsupported shape dropped: listing stays complete
    assert(scan.planInputPartitions().length ==
      JsonlPartitionSource.listSealed(root.toString, Array.empty).size)
    scan.filter(Array[org.apache.spark.sql.sources.Filter](
      org.apache.spark.sql.sources.In("customer_id", Array("c1"))))
    assert(scan.planInputPartitions().length ==
      JsonlPartitionSource.listSealed(root.toString,
        Array(org.apache.spark.sql.sources.In("customer_id", Array("c1")))).size)
  }

  test("a run Spark lands under a minted id (partitionBy escapes ':') reads back and filters by that id") {
    import scala.jdk.CollectionConverters._
    val root = Files.createTempDirectory("jsonl_minted").resolve("sink")
    val id = "2024-02-01T07:00:00.000Z"
    Seq(("c1-100", "10"), ("c1-200", "20")).toDF("campaign_id", "clicks")
      .withColumn("source", lit("gads"))
      .withColumn("customer_id", lit("c1"))
      .withColumn("query_name", lit("campaign_daily"))
      .withColumn("logical_date", lit("2024-02-01"))
      .withColumn("run_id", lit(id))
      .write.partitionBy(JsonlPartitionSource.PartitionCols: _*).json(root.toString)
    val walk = Files.walk(root)
    val runDirs = try walk.iterator().asScala
      .filter(p => Files.isDirectory(p) && p.getFileName.toString.startsWith("run_id=")).toList
      finally walk.close()
    assert(runDirs.map(_.getFileName.toString) == List("run_id=2024-02-01T07%3A00%3A00.000Z"))
    runDirs.foreach(d => Files.writeString(d.resolve("_SEAL.json"), """{"sealed":true}"""))
    val df = graft.ops.Extraction.readSink(spark, root.toString)
    assert(df.select("run_id").distinct().as[String].collect().toSeq == Seq(id))
    // the pushed EqualTo prunes directories by their unescaped value
    assert(df.where(col("run_id") === id).orderBy("campaign_id")
      .select("campaign_id").as[String].collect().toSeq == Seq("c1-100", "c1-200"))
  }
}
