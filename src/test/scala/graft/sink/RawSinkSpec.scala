package graft.sink

import java.nio.file.{Files, Paths}
import java.sql.Date
import java.time.Instant
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.SparkSpec.jobsLaunchedBy
import graft.model.{PartitionKey, PartitionState, RunContext}

/** A local FileSystem that ANSWERS as an object store (`getScheme` =
  * "s3a") so the seal writer's conditional-put branch runs against
  * local disk: create(overwrite=false) on an existing path throws
  * FileAlreadyExistsException — the same "lost the claim" signal the
  * real connector raises (at create on the HEAD path, at close on the
  * If-None-Match path).
  */
class FakeObjectStoreFs extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getScheme: String = "s3a"
  override def getUri: java.net.URI = java.net.URI.create("s3a:///")
}

/** [[FakeS3FileSystem]] under its own scheme, whose run-directory
  * deletes succeed while [[CrashingDeleteFs.deletesLeft]] lasts and
  * then throw: a vacuum that dies between deleting one superseded run
  * and the next. Writes (and the committer's `_temporary` cleanup) are
  * never affected.
  */
class CrashingDeleteFs extends FakeS3FileSystem {
  override def getScheme: String = "crashfs"
  override def getUri: java.net.URI = java.net.URI.create("crashfs:///")
  override def delete(f: Path, recursive: Boolean): Boolean =
    if (f.getName.startsWith("run_id=") && !f.toString.contains("/_temporary/") &&
        CrashingDeleteFs.deletesLeft.getAndDecrement() <= 0)
      throw new java.io.IOException(s"simulated crash before deleting $f")
    else super.delete(f, recursive)
}

object CrashingDeleteFs {
  val deletesLeft = new AtomicInteger(Int.MaxValue)
}

class RawSinkSpec extends SparkSpec {
  import spark.implicits._

  private def freshRoot(): String =
    Files.createTempDirectory("rawsink").toString

  private def payload(date: String, rows: Int, customer: String = "c1"): DataFrame =
    (1 to rows)
      .map(i => ("google_ads", customer, "campaign_daily", Date.valueOf(date), i.toLong, s"v$i"))
      .toDF("source", "customer_id", "query_name", "logical_date", "metric", "payload")

  private def key(date: String, customer: String = "c1") =
    PartitionKey("google_ads", customer, "campaign_daily", Date.valueOf(date))

  private def success(date: String, run: String): DataFrame =
    Seq(("google_ads", "c1", "campaign_daily", Date.valueOf(date), PartitionState.Success, run))
      .toDF("source", "customer_id", "query_name", "logical_date", "status", "current_run_id")

  private def filesUnder(root: String): Seq[java.nio.file.Path] = {
    val walk = Files.walk(Paths.get(root))
    try walk.iterator.asScala.filter(Files.isRegularFile(_)).toList
    finally walk.close()
  }

  test("writeRun writes payload, seals metadata-last, records counts") {
    val root = freshRoot()
    val sink = new RawSink(spark, root)
    val seals = sink.writeRun(payload("2024-01-01", 5), "2024-01-02T00:00:00.000Z")
    assert(seals.map(s => (s.key, s.recordCount)) == Seq((key("2024-01-01"), 5L)))
    assert(sink.isSealed(key("2024-01-01"), "2024-01-02T00:00:00.000Z"))
    val sealJson = sink.readSeal(key("2024-01-01"), "2024-01-02T00:00:00.000Z").get
    assert(sealJson.contains("\"record_count\":5"))
    assert(sink.readAll().count() == 5)
  }

  test("overwrite refusal: second write into a sealed (key, run) throws") {
    val root = freshRoot()
    val sink = new RawSink(spark, root)
    sink.writeRun(payload("2024-01-01", 3), "r1")
    val e = intercept[IllegalStateException](sink.writeRun(payload("2024-01-01", 3), "r1"))
    assert(e.getMessage.contains("refusing overwrite"))
    // a different run id is fenced separately and fine
    sink.writeRun(payload("2024-01-01", 3), "r2")
    assert(sink.listRuns(key("2024-01-01")) == Seq("r1", "r2"))
  }

  test("multi-partition run: one write job, one seal per logical partition") {
    val root = freshRoot()
    val sink = new RawSink(spark, root)
    val df = payload("2024-01-01", 2).unionByName(payload("2024-01-02", 3))
      .unionByName(payload("2024-01-01", 4, customer = "c2"))
    val seals = sink.writeRun(df, "r1")
    assert(seals.size == 3)
    assert(seals.map(_.recordCount).sum == 9)
    assert(sink.readAll().count() == 9)
  }

  test("unsealed partitions are invisible to readers") {
    val root = freshRoot()
    val sink = new RawSink(spark, root)
    sink.writeRun(payload("2024-01-01", 2), "r1")
    // simulate a torn write: payload without seal
    payload("2024-01-02", 7).withColumn("run_id", lit("r9"))
      .write.partitionBy("source", "customer_id", "query_name", "logical_date", "run_id")
      .mode("append").parquet(root)
    assert(sink.readAll().count() == 2) // the 7 unsealed rows don't exist yet
  }

  test("numeric-looking partition values survive verbatim (no lossy type inference)") {
    val root = freshRoot()
    val sink = new RawSink(spark, root)
    sink.writeRun(payload("2024-01-01", 3, customer = "007"), "r1")
    val visible = sink.readAll()
    assert(visible.count() == 3)
    assert(visible.select("customer_id").distinct().as[String].collect().toSeq == Seq("007"))
    assert(sink.authoritativeRows(Seq(
      ("google_ads", "007", "campaign_daily", Date.valueOf("2024-01-01"),
        PartitionState.Success, "r1"),
    ).toDF("source", "customer_id", "query_name", "logical_date", "status", "current_run_id"))
      .count() == 3)
  }

  test("readAll on an unwritten sink is empty, not an error") {
    val sink = new RawSink(spark, freshRoot())
    assert(sink.readAll().count() == 0)
  }

  test("partition pruning: date filters on the sink become PartitionFilters in the scan") {
    val root = freshRoot()
    val sink = new RawSink(spark, root)
    sink.writeRun(payload("2024-01-01", 3).unionByName(payload("2024-01-02", 4)), "r1")
    val filtered = spark.read.option("basePath", root).parquet(root)
      .where(col("logical_date") === "2024-01-01")
    filtered.count()
    val scan = filtered.queryExecution.executedPlan.collectLeaves().map(_.toString).mkString
    assert(scan.contains("PartitionFilters") && scan.contains("logical_date"),
      s"expected partition pruning in scan:\n$scan")
    assert(filtered.count() == 3)
  }

  test("preview: gate + head-N per partition (consumer contract)") {
    val root = freshRoot()
    val sink = new RawSink(spark, root)
    sink.writeRun(payload("2024-01-01", 10).unionByName(payload("2024-01-02", 2)), "r1")
    val states = Seq(
      ("google_ads", "c1", "campaign_daily", Date.valueOf("2024-01-01"),
        PartitionState.Success, "r1"),
      ("google_ads", "c1", "campaign_daily", Date.valueOf("2024-01-02"),
        PartitionState.Success, "r1"),
    ).toDF("source", "customer_id", "query_name", "logical_date", "status", "current_run_id")
    val sample = sink.preview(states, 3, "metric")
    assert(sample.count() == 5) // min(10,3) + min(2,3)
    val firstPartition = sample.where(col("logical_date") === "2024-01-01")
      .select("metric").as[Long].collect().sorted.toSeq
    assert(firstPartition == Seq(1L, 2L, 3L))
  }

  test("authoritativeRows: consumer gate exposes only the state-approved run") {
    val root = freshRoot()
    val sink = new RawSink(spark, root)
    sink.writeRun(payload("2024-01-01", 2), "r1")
    sink.writeRun(payload("2024-01-01", 3), "r2") // superseding run
    val states = Seq(
      ("google_ads", "c1", "campaign_daily", Date.valueOf("2024-01-01"),
        PartitionState.Success, "r2"),
    ).toDF("source", "customer_id", "query_name", "logical_date", "status", "current_run_id")
    val visible = sink.authoritativeRows(states)
    assert(visible.count() == 3)
    assert(visible.select("run_id").distinct().as[String].collect().toSeq == Seq("r2"))
  }

  test("seal manifest: writeRun indexes seals; sealedRuns reads the index, not the tree") {
    val root = freshRoot()
    val sink = new RawSink(spark, root)
    sink.writeRun(payload("2024-01-01", 3).unionByName(payload("2024-01-02", 2)), "r1")
    sink.writeRun(payload("2024-01-01", 4), "r2")
    val manifest = spark.read.parquet(s"$root/${RawSink.ManifestDir}")
    assert(manifest.count() == 3)
    assert(manifest.columns.toSet ==
      Set("source", "customer_id", "query_name", "logical_date", "record_count", "run_id", "schema_version"))
    val runs = sink.sealedRuns().select("logical_date", "run_id")
      .as[(Date, String)].collect().toSet
    assert(runs == Set(
      (Date.valueOf("2024-01-01"), "r1"), (Date.valueOf("2024-01-02"), "r1"),
      (Date.valueOf("2024-01-01"), "r2")))
  }

  test("seal re-claim: identical content tolerated (task retry), differing content throws") {
    val root = freshRoot()
    val conf = spark.sparkContext.hadoopConfiguration
    val row = RawSink.SealRow("s", "c", "q", Date.valueOf("2024-01-01"), 5L, "r1", "v1")
    java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(RawSink.runDirPath(root, row).toString))
    RawSink.writeSealFile(conf, root, row)
    RawSink.writeSealFile(conf, root, row) // identical retry: no throw
    val conflicting = row.copy(record_count = 99L)
    val e = intercept[IllegalStateException](RawSink.writeSealFile(conf, root, conflicting))
    assert(e.getMessage.contains("seal conflict"))
    // the loser must not have clobbered the existing seal on the way
    // out (POSIX renameTo silently replaces — the writer must
    // existence-check, not trust the rename's return value)
    val surviving = RawSink.readSealRow(conf, root,
      RawSink.Tuple5RowCase("s", "c", "q", Date.valueOf("2024-01-01"), "r1"))
    assert(surviving.record_count == 5L, "original seal content must survive a conflicting claim")
  }

  test("object-store seal claim: conditional PUT path — idempotent retry, conflict throws, no tmp objects") {
    val conf = new org.apache.hadoop.conf.Configuration(
      spark.sparkContext.hadoopConfiguration)
    conf.set("fs.s3a.impl", classOf[FakeObjectStoreFs].getName)
    conf.set("fs.s3a.impl.disable.cache", "true")
    val localRoot = Files.createTempDirectory("sealobj").toString
    val root = s"s3a:$localRoot"
    val row = RawSink.SealRow("s", "c", "q", Date.valueOf("2024-01-01"), 5L, "r1", "v1")
    java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(RawSink.runDirPath(localRoot, row).toString))
    RawSink.writeSealFile(conf, root, row)
    RawSink.writeSealFile(conf, root, row) // identical retry: lost claim, content matches
    val e = intercept[IllegalStateException](
      RawSink.writeSealFile(conf, root, row.copy(record_count = 99L)))
    assert(e.getMessage.contains("seal conflict"))
    // single-shot PUT path: no tmp artifacts ever touch the store
    val dir = new java.io.File(RawSink.runDirPath(localRoot, row).toString)
    assert(dir.listFiles().forall(f => !f.getName.contains(".tmp-")),
      s"object-store claim must not write tmp objects: ${dir.listFiles().map(_.getName).mkString(",")}")
    // and the original seal survived both the retry and the conflict
    val surviving = RawSink.readSealRow(conf, root,
      RawSink.Tuple5RowCase("s", "c", "q", Date.valueOf("2024-01-01"), "r1"))
    assert(surviving.record_count == 5L)
  }

  test("compactRuns consolidates authoritative rows to one file per partition as a new sealed run") {
    val root = freshRoot()
    val sink = new RawSink(spark, root)
    // fragmented write: repartition(4) → up to 4 files per partition dir
    sink.writeRun(payload("2024-01-01", 40).repartition(4), "r1")
    sink.writeRun(payload("2024-01-02", 20).repartition(4), "r1")
    val states = Seq(
      ("google_ads", "c1", "campaign_daily", Date.valueOf("2024-01-01"), "success", "r1"),
      ("google_ads", "c1", "campaign_daily", Date.valueOf("2024-01-02"), "success", "r1"),
    ).toDF("source", "customer_id", "query_name", "logical_date", "status", "current_run_id")
    def dataFiles(date: String, run: String): Int =
      new java.io.File(s"$root/source=google_ads/customer_id=c1/query_name=campaign_daily" +
        s"/logical_date=$date/run_id=$run")
        .listFiles().count(f => f.getName.endsWith(".parquet"))
    assert(dataFiles("2024-01-01", "r1") > 1, "fixture must start fragmented")
    val sealedParts = sink.compactRuns(states, "r2")
    assert(sealedParts.map(_.recordCount).sum == 60L)
    assert(dataFiles("2024-01-01", "r2") == 1 && dataFiles("2024-01-02", "r2") == 1)
    // content identical: same rows, now under the new authoritative run
    val states2 = states.withColumn("current_run_id", lit("r2"))
    val got = sink.authoritativeRows(states2)
    assert(got.count() == 60L)
    assert(got.agg(sum("metric")).head().getLong(0) ==
      (1 to 40).map(_.toLong).sum + (1 to 20).map(_.toLong).sum)
  }

  test("vacuumSuperseded keeps the newest AND the ledger-authoritative run, deletes the rest") {
    val root = freshRoot()
    val sink = new RawSink(spark, root)
    // key A: r1 < r2 < r3, ledger authority = r3 (normal) → r1, r2 deleted
    sink.writeRun(payload("2024-01-01", 3), "r1")
    sink.writeRun(payload("2024-01-01", 4), "r2")
    sink.writeRun(payload("2024-01-01", 5), "r3")
    // key B: r1 < r2, but the ledger STILL points at r1 (r2 sealed,
    // never validated) → nothing deletable: r2 is newest, r1 is served
    sink.writeRun(payload("2024-01-02", 6), "r1")
    sink.writeRun(payload("2024-01-02", 7), "r2")
    val states = Seq(
      ("google_ads", "c1", "campaign_daily", Date.valueOf("2024-01-01"), "success", "r3"),
      ("google_ads", "c1", "campaign_daily", Date.valueOf("2024-01-02"), "success", "r1"),
    ).toDF("source", "customer_id", "query_name", "logical_date", "status", "current_run_id")
    assert(sink.vacuumSuperseded(states) == 2L) // key A's r1, r2 only
    val left = sink.sealedRuns().select("logical_date", "run_id")
      .as[(Date, String)].collect().toSet
    assert(left == Set(
      (Date.valueOf("2024-01-01"), "r3"),
      (Date.valueOf("2024-01-02"), "r1"), (Date.valueOf("2024-01-02"), "r2")))
    // dirs really gone + manifest agrees with the tree (idempotent repair finds nothing)
    assert(sink.listRuns(key("2024-01-01")) == Seq("r3"))
    assert(sink.repairManifest() == 0L)
    // the consumer gate still serves exactly what the ledger says
    assert(sink.authoritativeRows(states).count() == 5L + 6L)
    // idempotent: second vacuum removes nothing
    assert(sink.vacuumSuperseded(states) == 0L)
  }

  test("vacuumSuperseded never deletes the last validated run of a key mid-retry") {
    val root = freshRoot()
    val sink = new RawSink(spark, root)
    // r1 validated, then re-extraction r2 sealed but FAILED validation:
    // the ledger's last-writer row for the key is (failed, r2) — run-id
    // order outranks status in the upsert total order — so the key has
    // NO Success row. Retention must then keep BOTH runs: r2 is the
    // newest seal, and r1 is the only validated data the key has (the
    // retry path re-points to it or re-extracts; deleting it would be
    // unrecoverable data loss).
    sink.writeRun(payload("2024-01-01", 3), "r1")
    sink.writeRun(payload("2024-01-01", 4), "r2")
    val states = Seq(
      ("google_ads", "c1", "campaign_daily", Date.valueOf("2024-01-01"), "failed", "r2"),
    ).toDF("source", "customer_id", "query_name", "logical_date", "status", "current_run_id")
    assert(sink.vacuumSuperseded(states, keepRuns = 1) == 0L)
    assert(sink.listRuns(key("2024-01-01")) == Seq("r1", "r2"))
    // once a LATER re-extraction validates, r1 and r2 become reclaimable
    sink.writeRun(payload("2024-01-01", 5), "r3")
    val healed = Seq(
      ("google_ads", "c1", "campaign_daily", Date.valueOf("2024-01-01"), "success", "r3"),
    ).toDF("source", "customer_id", "query_name", "logical_date", "status", "current_run_id")
    assert(sink.vacuumSuperseded(healed, keepRuns = 1) == 2L)
    assert(sink.listRuns(key("2024-01-01")) == Seq("r3"))
  }

  test("repairManifest reconciles a lost index from the directory tree") {
    val root = freshRoot()
    val sink = new RawSink(spark, root)
    sink.writeRun(payload("2024-01-01", 3), "r1")
    sink.writeRun(payload("2024-01-02", 2), "r2")
    // crash simulation: the manifest vanishes entirely
    val manifestPath = java.nio.file.Paths.get(root, RawSink.ManifestDir)
    org.apache.commons.io.FileUtils.deleteDirectory(manifestPath.toFile)
    // fallback listing still sees both runs (reference-layout interop)
    assert(sink.sealedRuns().count() == 2)
    assert(sink.readAll().count() == 5)
    // repair rebuilds the index with the original counts from the seals
    assert(sink.repairManifest() == 2)
    val m = spark.read.parquet(manifestPath.toString)
      .select("logical_date", "record_count").as[(Date, Long)].collect().toSet
    assert(m == Set((Date.valueOf("2024-01-01"), 3L), (Date.valueOf("2024-01-02"), 2L)))
    // idempotent
    assert(sink.repairManifest() == 0)
  }

  test("minted run ids: the seal sits beside its payload, listRuns unescapes, vacuum frees the payload") {
    val root = freshRoot()
    val sink = new RawSink(spark, root)
    // RunContext ids carry ':' — escaped to %3A in partitionBy directories
    val runs = Seq("2024-02-01", "2024-02-02", "2024-02-03")
      .map(d => RunContext.mint(Instant.parse(s"${d}T07:00:00Z")).runId)
    runs.zip(Seq(3, 4, 5)).foreach { case (r, n) => sink.writeRun(payload("2024-01-01", n), r) }
    val files = filesUnder(root).filterNot(_.toString.contains(s"/${RawSink.ManifestDir}/"))
    val payloadDirs = files.filter(_.getFileName.toString.startsWith("part-")).map(_.getParent).toSet
    val sealDirs = files.filter(_.getFileName.toString == RawSink.SealFile).map(_.getParent).toSet
    assert(payloadDirs.size == 3, s"one payload directory per run: $payloadDirs")
    assert(sealDirs == payloadDirs, s"seals $sealDirs must sit in the payload directories $payloadDirs")
    assert(sink.listRuns(key("2024-01-01")) == runs)
    assert(runs.forall(sink.isSealed(key("2024-01-01"), _)))
    assert(sink.readAll().count() == 12)

    // the third run is validated: the first two are superseded, and
    // every file they wrote goes with them
    assert(sink.vacuumSuperseded(success("2024-01-01", runs(2))) == 2L)
    val removedDays = Seq("2024-02-01T07", "2024-02-02T07")
    val leftovers = filesUnder(root).map(_.toString).filter(f => removedDays.exists(f.contains))
    assert(leftovers.isEmpty, s"files of removed runs left on disk: $leftovers")
    assert(sink.listRuns(key("2024-01-01")) == Seq(runs(2)))
    assert(sink.readAll().count() == 5)
    assert(sink.repairManifest() == 0L)
  }

  test("seals in unescaped run directories (earlier layout): K3, isSealed, repair and vacuum find them") {
    val root = freshRoot()
    val runs = Seq("2024-02-01", "2024-02-02", "2024-02-03")
      .map(d => RunContext.mint(Instant.parse(s"${d}T07:00:00Z")).runId)
    val writer = new RawSink(spark, root)
    runs.zip(Seq(3, 4, 5)).foreach { case (r, n) => writer.writeRun(payload("2024-01-01", n), r) }
    // the earlier layout, by hand: each seal sits in the unescaped
    // sibling `run_id=…T07:00:00.000Z` of its escaped payload directory
    val keyDir = Paths.get(root, "source=google_ads", "customer_id=c1",
      "query_name=campaign_daily", "logical_date=2024-01-01")
    runs.foreach { r =>
      val escaped = keyDir.resolve("run_id=" + ExternalCatalogUtils.escapePathName(r))
      assert(escaped.getFileName.toString.contains("%3A"))
      val raw = Files.createDirectory(keyDir.resolve(s"run_id=$r"))
      Files.move(escaped.resolve(RawSink.SealFile), raw.resolve(RawSink.SealFile))
    }
    val sink = new RawSink(spark, root)
    assert(sink.listRuns(key("2024-01-01")) == runs)
    assert(runs.forall(sink.isSealed(key("2024-01-01"), _)))
    assert(sink.readSeal(key("2024-01-01"), runs(0)).exists(_.contains("\"record_count\":3")))
    // K3 still refuses a re-write of a sealed run
    intercept[IllegalStateException](sink.writeRun(payload("2024-01-01", 1), runs(0)))
    // the index is lost: repair re-reads every seal from where it lies
    org.apache.commons.io.FileUtils.deleteDirectory(Paths.get(root, RawSink.ManifestDir).toFile)
    assert(sink.readAll().count() == 12)
    assert(sink.repairManifest() == 3L)
    assert(sink.sealedRuns().select("run_id").as[String].collect().sorted.toSeq == runs)
    assert(spark.read.parquet(Paths.get(root, RawSink.ManifestDir).toString)
      .select("record_count").as[Long].collect().sorted.toSeq == Seq(3L, 4L, 5L))
    // vacuum removes both directories of each superseded run
    val states = success("2024-01-01", runs(2))
    assert(sink.vacuumSuperseded(states) == 2L)
    val removedDays = Seq("2024-02-01T07", "2024-02-02T07")
    val leftovers = filesUnder(root).map(_.toString).filter(f => removedDays.exists(f.contains))
    assert(leftovers.isEmpty, s"files of removed runs left on disk: $leftovers")
    // the next vacuum's repair step still runs
    assert(sink.vacuumSuperseded(states) == 0L)
    assert(sink.listRuns(key("2024-01-01")) == Seq(runs(2)))
    assert(sink.readAll().count() == 5)
  }

  test("vacuum crash after the manifest rewrite leaves only unindexed orphans; reads still answer") {
    val conf = spark.sparkContext.hadoopConfiguration
    conf.set("fs.crashfs.impl", classOf[CrashingDeleteFs].getName)
    conf.set("fs.crashfs.impl.disable.cache", "true")
    val root = s"crashfs:${freshRoot()}"
    try {
      val sink = new RawSink(spark, root)
      sink.writeRun(payload("2024-01-01", 3), "r1")
      sink.writeRun(payload("2024-01-01", 4), "r2")
      sink.writeRun(payload("2024-01-01", 5), "r3")
      val states = success("2024-01-01", "r3")
      // r1 and r2 are victims; the process dies after deleting one of them
      CrashingDeleteFs.deletesLeft.set(1)
      intercept[Exception](sink.vacuumSuperseded(states))
      CrashingDeleteFs.deletesLeft.set(Int.MaxValue)
      val afterCrash = sink.listRuns(key("2024-01-01"))
      assert(afterCrash.size == 2 && afterCrash.last == "r3",
        s"one superseded run deleted, one left as an orphan: $afterCrash")
      // the index already lists only the survivor: every reader answers
      for (reader <- Seq(sink, new RawSink(spark, root))) {
        assert(reader.sealedRuns().select("run_id").as[String].collect().toSeq == Seq("r3"))
        assert(reader.readAll().count() == 5)
        assert(reader.authoritativeRows(states).count() == 5)
      }
      // the next vacuum re-indexes the orphan in its repair step and removes it
      assert(sink.vacuumSuperseded(states) == 1L)
      assert(sink.listRuns(key("2024-01-01")) == Seq("r3"))
      assert(sink.readAll().count() == 5)
    } finally {
      CrashingDeleteFs.deletesLeft.set(Int.MaxValue)
      conf.unset("fs.crashfs.impl")
      conf.unset("fs.crashfs.impl.disable.cache")
    }
  }

  test("job-count guard: readAll reads the manifest at most once and infers no schema; writeRun's jobs are pinned") {
    val root = freshRoot()
    val sink = new RawSink(spark, root)
    val threePartitions = payload("2024-01-01", 2).unionByName(payload("2024-01-02", 3))
      .unionByName(payload("2024-01-01", 4, customer = "c2"))
    val (seals, writeJobs) = jobsLaunchedBy(sink.writeRun(threePartitions, "r1"))
    assert(seals.size == 3)
    // the seal-row collect (shuffle map stage + result), the K3 check,
    // the payload write, the seal writes, the manifest append
    assert(writeJobs == 6, s"writeRun of a 3-partition run launched $writeJobs jobs")
    // no action below: only what building the frame costs is counted
    assert(jobsLaunchedBy(sink.readAll())._2 == 1, "manifest changed since the last read: one manifest read")
    assert(jobsLaunchedBy(sink.readAll())._2 == 0, "manifest unchanged: no job at all")
    assert(jobsLaunchedBy(sink.authoritativeRows(success("2024-01-01", "r1")))._2 == 0)
    // the streaming replay decision reads the collected manifest rows
    assert(jobsLaunchedBy(sink.sealedRuns().where(col("run_id") === "r9").isEmpty) == (true, 0))
    assert(sink.readAll().count() == 9)
    sink.writeRun(payload("2024-01-03", 1), "r2")
    assert(jobsLaunchedBy(sink.readAll())._2 == 1)
    assert(jobsLaunchedBy(sink.readAll())._2 == 0)
    // an instance that never wrote infers the payload schema once
    val reader = new RawSink(spark, root)
    assert(jobsLaunchedBy(reader.readAll())._2 == 2, "manifest read + one schema inference")
    assert(jobsLaunchedBy(reader.readAll())._2 == 0)
    assert(reader.readAll().agg(sum("metric")).head().getLong(0) == 3L + 6L + 10L + 1L)
  }
}
