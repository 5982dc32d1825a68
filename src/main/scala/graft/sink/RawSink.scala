package graft.sink

import java.io.FileNotFoundException
import java.nio.charset.StandardCharsets

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, InMemoryFileIndex}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.ConfShim
import org.apache.spark.sql.types.{StringType, StructField, StructType}

import graft.model.PartitionKey

/** Run-fenced, immutable, hive-partitioned raw sink (reference contract:
  * docs/raw_sink_contract.md:15-31; writers raw_sink_local.py:11-48,
  * raw_sink_object.py:27-133).
  *
  * Layout (the reference's key scheme, with Spark's partition-path
  * escaping applied to every value):
  * {{{
  * <root>/source=<s>/customer_id=<c>/query_name=<q>/logical_date=<d>/run_id=<r>/
  *     part-*.parquet          # payload (K1) — parquet, not JSONL: columnar wins
  *     _SEAL.json              # metadata, written LAST (K2): the seal
  * <root>/_manifest/part-*.parquet   # the read index: one SealRow per sealed run
  * }}}
  * Every directory name is built by one function, [[RawSink.runDirPath]],
  * with `ExternalCatalogUtils.escapePathName` — the escaping Spark's
  * `partitionBy` applies to the payload — so a seal always sits beside
  * its payload. A minted run id `2024-02-01T00:00:00.000Z` therefore
  * lives in `run_id=2024-02-01T00%3A00%3A00.000Z`; readers of the
  * reference layout that walk the tree themselves must unescape
  * `run_id` (and any other value) with `unescapePathName`, as
  * [[listRuns]] and the repair walk do.
  *
  * Roots written before this layout sealed a minted run into the
  * unescaped sibling `run_id=2024-02-01T00:00:00.000Z` (the payload
  * was always escaped), as do the reference's own writers. They need
  * no migration: the K3 check, [[isSealed]] and [[readSeal]] look at
  * that sibling too ([[RawSink.sealDirs]]), the repair walk reads each
  * seal from the directory it found it in, and vacuum deletes both.
  *
  * Semantics carried over exactly:
  *  - metadata-last seal: a partition is invisible/incomplete until
  *    `_SEAL.json` exists (K2, raw_sink_local.py:44-48);
  *  - overwrite refusal: writing into a sealed (key, run_id) throws
  *    (K3, raw_sink_object.py:56-62);
  *  - run fencing: concurrent attempts write distinct `run_id=` dirs and
  *    never collide (docs/parallel_safety.md) — which is also what makes
  *    this safe for thousands of concurrent executors: the write job for
  *    one run owns its directory exclusively.
  *
  * Scale: the payload write is one distributed `partitionBy` job (all
  * logical partitions of a run in a single pass — no per-partition
  * driver loop like the reference's nested query×customer iteration,
  * SURVEY §3.1). The K3 check and the seal writes run EXECUTOR-SIDE,
  * as RDD jobs over the run's seal rows.
  *
  * The seal MANIFEST at `<root>/_manifest` is the read index:
  * [[readAll]], [[authoritativeRows]] and [[sealedRuns]] read exactly
  * the run directories it lists — no recursive listing of the tree, no
  * schema inference (the payload schema is the one this instance wrote,
  * or one inference per instance), and partition columns read as the
  * strings in the directory names. Driver bound: the manifest is
  * collected, one [[RawSink.SealRow]] per sealed run, and reused while
  * the listing of `_manifest` is unchanged. That is fewer entries than
  * the file index of a whole-tree read, which also covers unsealed and
  * superseded payload.
  *
  * A sink written without a manifest (e.g. by the reference) still
  * reads — [[sealedRuns]] falls back to a `listStatus` walk of the
  * tree — and [[repairManifest]] reconciles the index from the tree
  * after a crash between seal and manifest append.
  */
final class RawSink(spark: SparkSession, root: String) {
  import RawSink._

  private val hadoopConf = spark.sparkContext.hadoopConfiguration
  private def fs: FileSystem = new Path(root).getFileSystem(hadoopConf)

  /** The collected manifest, with the `_manifest` listing it was read at. */
  @volatile private var manifestCache: (Seq[String], Seq[SealRow]) = (Nil, Nil)
  /** Payload columns (key columns excluded) of the frames this instance wrote. */
  @volatile private var payloadSchema: Option[StructType] = None

  private def runDir(key: PartitionKey, runId: String): Path =
    runDirPath(root, key.source, key.customerId, key.queryName, key.logicalDate, runId)

  /** The run's seal file, wherever [[RawSink.sealDirs]] finds one. */
  private def sealPath(key: PartitionKey, runId: String): Option[Path] =
    sealDirs(root, Tuple5RowCase(key.source, key.customerId, key.queryName, key.logicalDate, runId))
      .iterator.map(new Path(_, SealFile)).find(fs.exists)

  def isSealed(key: PartitionKey, runId: String): Boolean = sealPath(key, runId).nonEmpty

  /** K1+K2: write all logical partitions present in `df` under one
    * `run_id`, then seal each. `df` must carry the four key columns
    * plus payload columns. Throws if any targeted (key, run_id) is
    * already sealed (K3) — checked before any byte is written.
    *
    * The run's seal rows (one per logical partition of THIS run) are
    * collected once; the K3 pre-check and the metadata-last seal
    * writes run executor-side as RDD jobs over them, and the manifest
    * append is one small write. An empty `df` writes nothing.
    */
  def writeRun(df: DataFrame, runId: String, schemaVersion: String = "v1"): Seq[SealedPartition] = {
    import spark.implicits._
    val seals = df
      .groupBy(PartitionKey.columns.map(col): _*)
      .agg(count(lit(1)).as("record_count"))
      .withColumn("run_id", lit(runId))
      .withColumn("schema_version", lit(schemaVersion))
      .as[SealRow]
      .collect()
      .toSeq
    if (seals.isEmpty) return Nil

    // K3, distributedly: any targeted (key, run_id) already sealed?
    val confFactory = ConfShim.confFactory(hadoopConf)
    val rootStr = root
    val clash = rowRdd(seals)
      .mapPartitions { it =>
        val conf = confFactory()
        it.filter(s => RawSink.sealExists(conf, rootStr, s)).take(1)
      }
      .collect()
    if (clash.nonEmpty)
      throw new IllegalStateException(
        s"refusing overwrite: partition ${clash.head} is sealed (raw_sink_contract)")

    // One distributed write for the whole run (fenced by run_id dir).
    df.withColumn("run_id", lit(runId))
      .write
      .partitionBy(PartitionKey.columns :+ "run_id": _*)
      .mode("append") // append is safe: the run_id dir is exclusively ours
      .parquet(root)
    notePayloadSchema(df.schema)

    // Metadata-last seals, executor-side. Each seal is an atomic claim;
    // a task RETRY hitting its own seal is idempotent (identical
    // deterministic content), while foreign seals were excluded by the
    // K3 check above.
    rowRdd(seals).foreachPartition { (it: Iterator[SealRow]) =>
      val conf = confFactory()
      it.foreach(s => RawSink.writeSealFile(conf, rootStr, s))
    }

    // Index the new seals in the manifest, after every seal landed.
    writeManifest(seals, "append")
    seals.map(_.toSealedPartition)
  }

  /** Driver-side rows as an RDD, for the small executor-side jobs. */
  private def rowRdd[T: scala.reflect.ClassTag](rows: Seq[T]) =
    spark.sparkContext.parallelize(rows, math.max(1, math.min(rows.size, spark.sparkContext.defaultParallelism)))

  /** Maintenance: rewrite each logical partition's AUTHORITATIVE rows
    * (the J3 ledger gate) as ONE file per partition under a new sealed
    * run — executing the small-file consolidation the q171 planner
    * sizes. Sealed data is immutable (K3), so compaction never
    * rewrites in place: the consolidated copy is an ordinary new run;
    * the caller re-validates it into the ledger like any extraction
    * run, after which [[vacuumSuperseded]] reclaims the fragmented
    * originals. At 100 TB this is the periodic job that keeps
    * files ∝ logical partitions instead of ∝ (partitions × writer
    * tasks × runs).
    */
  def compactRuns(
      states: DataFrame,
      newRunId: String,
      schemaVersion: String = "v1",
  ): Seq[SealedPartition] = {
    val rows = authoritativeRows(states).drop("run_id")
    // co-locate each logical partition in one task → one output file
    // per partition dir under the new run
    writeRun(rows.repartition(PartitionKey.columns.map(col): _*), newRunId, schemaVersion)
  }

  /** Maintenance: delete run directories that are superseded — not
    * among the newest `keepRuns` sealed runs of their logical
    * partition AND strictly older than that partition's
    * ledger-VALIDATED (Success) run — the retention pass that stops
    * superseded extractions accumulating forever.
    *
    * The validated-supersession guard is the safety core: a run is
    * reclaimable only once a NEWER run of the same partition has
    * passed validation. That covers both ledger-trailing shapes the
    * naive "keep newest + keep authority" rule gets wrong:
    *  - a sealed but never-validated re-extraction (authority
    *    legitimately trails the newest seal) — the served run stays;
    *  - a re-extraction that FAILED validation: the ledger's
    *    last-writer row for the key is now `Failed` (run-id order
    *    outranks status in [[graft.state.StateStore.upsert]]'s total
    *    order), so the key has NO Success row — and retention must
    *    then delete nothing for that key, or it would destroy the
    *    last validated data (run r1) while the key is mid-retry.
    *
    * Returns the number of run directories removed. The manifest is
    * rewritten to the survivors BEFORE any directory is deleted: a
    * crash between the two steps leaves unindexed orphans, which no
    * reader sees and the next vacuum (after its repair step) removes —
    * never index rows pointing at deleted directories, which the
    * path-driven reads would fail on. OFFLINE maintenance: the manifest
    * rewrite is not atomic for concurrent readers — run it in the
    * same maintenance window as any VACUUM.
    */
  def vacuumSuperseded(states: DataFrame, keepRuns: Int = 1): Long = {
    require(keepRuns >= 1, "keepRuns must be >= 1")
    repairManifest(): Unit // make the index authoritative before editing it
    val manifest = manifestRows() match {
      case Some(rows) => rows
      case None => return 0L // empty sink
    }
    import spark.implicits._
    // each key's validated run (the oldest, should `states` repeat a
    // key); keys with no validated run contribute NO victims
    val authority = states
      .where(col("status") === graft.model.PartitionState.Success &&
        col("current_run_id").isNotNull)
      .select(PartitionKey.columns.map(col) :+ col("current_run_id"): _*)
      .as[(String, String, String, java.sql.Date, String)]
      .collect()
      .groupMapReduce(t => (t._1, t._2, t._3, t._4))(_._5)((a, b) => if (a < b) a else b)
    val victims = manifest.groupBy(_.key).toSeq.flatMap { case (key, runs) =>
      val older = runs.sortBy(_.run_id)(Ordering[String].reverse).drop(keepRuns)
      authority.get(key).fold(Seq.empty[SealRow])(auth => older.filter(_.run_id < auth))
    }
    if (victims.nonEmpty) {
      val gone = victims.map(_.id).toSet
      writeManifest(manifest.filterNot(s => gone(s.id)), "overwrite")
      val confFactory = ConfShim.confFactory(hadoopConf)
      val rootStr = root
      rowRdd(victims.map(_.id)).foreachPartition { (it: Iterator[Tuple5RowCase]) =>
        val conf = confFactory()
        it.foreach { r =>
          RawSink.sealDirs(rootStr, r).foreach(dir => dir.getFileSystem(conf).delete(dir, true): Unit)
        }
      }
    }
    victims.size.toLong
  }

  private def manifestDir: String = s"$root/$ManifestDir"

  private def writeManifest(rows: Seq[SealRow], mode: String): Unit =
    spark.createDataset(rows)(Encoders.product[SealRow])
      .coalesce(1)
      .write.mode(mode).parquet(manifestDir)

  /** S5: read one seal back (driver-side; seals are tiny). */
  def readSeal(key: PartitionKey, runId: String): Option[String] =
    sealPath(key, runId).map { p =>
      val in = fs.open(p)
      try new String(in.readAllBytes(), StandardCharsets.UTF_8)
      finally in.close()
    }

  /** S6: discover run_ids for a logical partition, ascending (ISO run
    * ids sort lexicographically == chronologically, T5).
    */
  def listRuns(key: PartitionKey): Seq[String] = {
    val parent = runDir(key, "x").getParent
    if (!fs.exists(parent)) Seq.empty
    else
      fs.listStatus(parent)
        .filter(_.isDirectory)
        .map(_.getPath.getName)
        .filter(_.startsWith("run_id="))
        .map(n => ExternalCatalogUtils.unescapePathName(n.stripPrefix("run_id=")))
        .distinct
        .sorted
        .toSeq
  }

  /** S4/S6: read the whole sink with partition columns recovered. Only
    * *sealed* runs are visible — the read-side half of the metadata-last
    * contract (an unsealed partial write is never observable): the scan
    * covers exactly the run directories the manifest lists.
    */
  def readAll(): DataFrame = {
    val dirs = sealedIds().map(r => fs.makeQualified(runDirPath(root, r))).distinct
    if (payloadSchema.isEmpty && dirs.nonEmpty)
      notePayloadSchema(spark.read.parquet(dirs.head.toString).schema)
    val dataSchema = payloadSchema.getOrElse(StructType(Nil))
    // String-typed partition columns keep directory values verbatim: a
    // numeric-looking customer_id "007" must not become 7. Only
    // logical_date is cast (string→date is lossless for ISO dates).
    val readSchema = StructType(dataSchema.fields ++ RunIdColumns.map(StructField(_, StringType)))
    val df =
      if (dirs.isEmpty)
        spark.createDataFrame(new java.util.ArrayList[org.apache.spark.sql.Row](), readSchema)
      else {
        val index = new InMemoryFileIndex(
          spark, dirs, Map("basePath" -> fs.makeQualified(new Path(root)).toString),
          Some(readSchema))
        spark.baseRelationToDataFrame(HadoopFsRelation(
          index, index.partitionSchema, dataSchema, None, new ParquetFileFormat, Map.empty)(spark))
      }
    df.withColumn("logical_date", col("logical_date").cast("date"))
  }

  private def notePayloadSchema(written: StructType): Unit = synchronized {
    val known = payloadSchema.map(_.fields.toSeq).getOrElse(Nil)
    val added = written.fields.toSeq
      .filterNot(f => RunIdColumns.contains(f.name) || known.exists(_.name == f.name))
      .map(_.copy(nullable = true))
    payloadSchema = Some(StructType(known ++ added))
  }

  /** J3: the consumer gate — only rows whose (key, run_id) is the
    * authoritative success in `states` are visible
    * (consumer_preview.py:28-43; docs/consumer_contract.md:12-17).
    * `states` must carry the key columns + current_run_id + status.
    */
  def authoritativeRows(states: DataFrame): DataFrame = {
    val gate = states
      .where(col("status") === graft.model.PartitionState.Success && col("current_run_id").isNotNull)
      .select(
        PartitionKey.columns.map(col) :+ col("current_run_id").as("run_id"): _*
      )
    readAll().join(gate, PartitionKey.columns :+ "run_id", "left_semi")
  }

  /** Consumer preview (reference §3.3: consumer_preview.py:28-43 +
    * docs/consumer_contract.md): the state-gated view sampled to the
    * first `sampleRows` rows per logical partition, ordered by
    * `orderCol`. The whole read path in one expression: gate (J3) →
    * per-partition head-N (T4).
    */
  def preview(states: DataFrame, sampleRows: Int, orderCols: String*): DataFrame = {
    require(orderCols.nonEmpty,
      "preview needs an ordering; pass columns forming a total order " +
        "within a partition (e.g. an event id) or sampling is nondeterministic")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(PartitionKey.columns.map(col): _*)
      .orderBy(orderCols.map(col): _*)
    authoritativeRows(states)
      .withColumn("__rn", row_number().over(w))
      .where(col("__rn") <= sampleRows)
      .drop("__rn")
  }

  /** All sealed (key, run_id) tuples as a (driver-local) DataFrame: the
    * manifest's rows when the index exists, else a `listStatus` walk of
    * the tree (reference-written trees, or pre-manifest layouts).
    *
    * Once a manifest exists it is authoritative: a MANIFEST-UNAWARE
    * writer (the reference Python sink) sealing runs into the same
    * root afterwards leaves them unindexed — run [[repairManifest]]
    * after any foreign write to reconcile. Mixed-writer roots are an
    * interop scenario, not the normal deployment (graft's own
    * `writeRun` always appends the index).
    */
  def sealedRuns(): DataFrame =
    spark.createDataset(sealedIds())(Encoders.product[Tuple5RowCase]).toDF()

  private def sealedIds(): Seq[Tuple5RowCase] =
    manifestRows().map(_.map(_.id)).getOrElse(listedSealedRuns().map(_._1))

  /** The collected manifest, if the index exists and is non-empty.
    * Re-read (one small scan with the known schema) only when the
    * listing of `_manifest` — path, length, mtime of every part file —
    * changed since the last read. The `_`-prefixed manifest dir is
    * hidden from Spark's data-file discovery by the same convention
    * that keeps `_SEAL.json` out of the payload scan.
    */
  private def manifestRows(): Option[Seq[SealRow]] = {
    val parts =
      try fs.listStatus(new Path(manifestDir))
          .filter(st => st.isFile && st.getPath.getName.startsWith("part-"))
      catch { case _: FileNotFoundException => Array.empty[FileStatus] }
    if (parts.isEmpty) None
    else {
      val listing = parts.map(st => s"${st.getPath}|${st.getLen}|${st.getModificationTime}").sorted.toSeq
      val (seen, rows) = manifestCache
      if (seen == listing) Some(rows)
      else {
        val read = spark.read.schema(ManifestSchema).parquet(parts.map(_.getPath.toString).toSeq: _*)
          .as(Encoders.product[SealRow]).collect().toSeq
        manifestCache = (listing, read)
        Some(read)
      }
    }
  }

  /** Reconcile the manifest with the directory tree: any sealed run dir
    * missing from the index (crash between seal write and manifest
    * append) is re-appended. Idempotent; returns the number of repaired
    * rows. The walk is O(directories) `listStatus` calls — a recovery
    * tool, not a hot path.
    */
  def repairManifest(): Long = {
    val indexed = manifestRows().getOrElse(Nil).map(_.id).toSet
    val missing = listedSealedRuns().filterNot { case (id, _) => indexed(id) }
    if (missing.nonEmpty) {
      // seal JSON carries record_count/schema_version; re-read
      // executor-side from the directory the walk found the seal in
      val confFactory = ConfShim.confFactory(hadoopConf)
      val rows = rowRdd(missing)
        .mapPartitions { it =>
          val conf = confFactory()
          it.map { case (id, dir) => RawSink.readSealRow(conf, new Path(dir), id) }
        }
        .collect()
      writeManifest(rows.toSeq, "append")
    }
    missing.size.toLong
  }

  /** Driver-side walk of sealed runs (fallback/repair path): each run's
    * address and the directory its seal was found in (escaped, or the
    * unescaped sibling of [[RawSink.sealDirs]]). One `listStatus` per
    * directory level. Not `listFiles(recursive)`, which without native
    * Hadoop forks an `ls` per file for its permissions.
    */
  private def listedSealedRuns(): Seq[(Tuple5RowCase, String)] = {
    val base = new Path(root)
    if (!fs.exists(base)) return Nil
    val runDirs = RunIdColumns.foldLeft(Seq(base -> List.empty[String])) { case (dirs, column) =>
      dirs.flatMap { case (dir, values) =>
        fs.listStatus(dir).toSeq
          .filter(st => st.isDirectory && st.getPath.getName.startsWith(s"$column="))
          .map { st =>
            val value = ExternalCatalogUtils.unescapePathName(st.getPath.getName.stripPrefix(s"$column="))
            st.getPath -> (value :: values)
          }
      }
    }
    runDirs.collect {
      case (dir, List(run, date, query, customer, source)) if fs.exists(new Path(dir, SealFile)) =>
        Tuple5RowCase(source, customer, query, java.sql.Date.valueOf(date), run) -> dir.toString
    }.distinctBy(_._1)
  }
}

object RawSink {
  val SealFile = "_SEAL.json"
  val ManifestDir = "_manifest"

  /** Directory levels of a run, in layout order. */
  private val RunIdColumns: Seq[String] = PartitionKey.columns :+ "run_id"

  final case class SealedPartition(
      key: PartitionKey,
      runId: String,
      schemaVersion: String,
      recordCount: Long,
  )

  /** Flat executor-side seal row (also the manifest schema). */
  final case class SealRow(
      source: String,
      customer_id: String,
      query_name: String,
      logical_date: java.sql.Date,
      record_count: Long,
      run_id: String,
      schema_version: String,
  ) {
    def toSealedPartition: SealedPartition =
      SealedPartition(
        PartitionKey(source, customer_id, query_name, logical_date),
        run_id, schema_version, record_count)
    private[sink] def key = (source, customer_id, query_name, logical_date)
    private[sink] def id = Tuple5RowCase(source, customer_id, query_name, logical_date, run_id)
  }

  private val ManifestSchema: StructType = Encoders.product[SealRow].schema

  /** One sealed run's address: its logical partition key and run id. */
  private[sink] case class Tuple5RowCase(
      source: String,
      customer_id: String,
      query_name: String,
      logical_date: java.sql.Date,
      run_id: String,
  )

  /** THE address of a run directory: each level is `column=value`
    * with Spark's partition-path escaping, exactly as `partitionBy`
    * names the payload directories.
    */
  private[sink] def runDirPath(
      root: String, source: String, customerId: String, queryName: String,
      logicalDate: java.sql.Date, runId: String): Path =
    new Path(root + RunIdColumns.zip(Seq(source, customerId, queryName, logicalDate.toString, runId))
      .map { case (c, v) => "/" + ExternalCatalogUtils.getPartitionPathString(c, v) }.mkString)

  private[sink] def runDirPath(root: String, r: Tuple5RowCase): Path =
    runDirPath(root, r.source, r.customer_id, r.query_name, r.logical_date, r.run_id)

  private[sink] def runDirPath(root: String, s: SealRow): Path = runDirPath(root, s.id)

  /** Every directory a run's seal may sit in: its address
    * ([[runDirPath]]), then, when escaping changed a value, the
    * unescaped sibling that earlier graft roots and the reference's
    * writers sealed into. Checked in this order; vacuum deletes both.
    */
  private[sink] def sealDirs(root: String, r: Tuple5RowCase): Seq[Path] = {
    val values = Seq(r.source, r.customer_id, r.query_name, r.logical_date.toString, r.run_id)
    val unescaped = new Path(root + RunIdColumns.zip(values).map { case (c, v) => s"/$c=$v" }.mkString)
    Seq(runDirPath(root, r), unescaped).distinct
  }

  private[sink] def sealExists(
      conf: org.apache.hadoop.conf.Configuration, root: String, s: SealRow): Boolean =
    sealDirs(root, s.id).exists { dir =>
      val p = new Path(dir, SealFile)
      p.getFileSystem(conf).exists(p)
    }

  /** Schemes whose FileSystems are OBJECT STORES: (a) an in-progress
    * create is INVISIBLE until close (a PUT materializes whole objects
    * only — no partial-file visibility), and (b) rename is a
    * non-atomic copy+delete, so the tmp+rename claim used elsewhere
    * offers no atomicity there. On these, the claim is the single-shot
    * conditional create below.
    */
  private val ObjectStoreSchemes =
    Set("s3", "s3a", "s3n", "gs", "abfs", "abfss", "wasb", "wasbs", "oss", "cos", "swift")

  /** Executor-side metadata-last seal write. The write is an atomic
    * claim of the seal path. An already-present seal is tolerated
    * ONLY when its content is byte-identical to what this task would
    * write — that is a task retry re-claiming its own deterministic
    * output. A differing seal (another writer's run with the same
    * run_id but different counts — outside the run-fence contract,
    * where run ids are minted uniquely per attempt) throws instead of
    * silently double-writing. Narrow catch: only already-exists
    * failures are inspected; unrelated IO errors (missing parent dir,
    * permissions) propagate and fail the write job before the manifest
    * is appended.
    *
    * CLAIM STRATEGY BY STORAGE CLASS (the reference's object-backend
    * finalize refuses when `metadata.json` exists —
    * gads-etl `raw_sink_object.py:115-133`, `docs/storage_realism.md:35-40`
    * — but a bare exists-check has a TOCTOU window; each backend gets
    * the strongest primitive it actually offers):
    *
    *  - POSIX `file:` — hard-link publish: the complete seal is written
    *    to a temp file with NIO (no Hadoop create: no checksum file, no
    *    forked `chmod`), then `link(2)` claims the seal path, failing
    *    EEXIST atomically in the kernel.
    *  - HDFS-like (default) — write-temp-then-rename: rename without
    *    overwrite is atomic at the NameNode and rejects an existing
    *    destination.
    *  - Object stores ([[ObjectStoreSchemes]]) — CONDITIONAL PUT:
    *    one `create(seal, overwrite=false)` writing the whole (tiny)
    *    seal. No tmp object is needed — a PUT that dies mid-write
    *    materializes nothing. On connectors with conditional-write
    *    support (e.g. S3A's `fs.s3a.create.conditional.enabled`,
    *    which maps close() to an `If-None-Match: *` PUT), the claim is
    *    atomic AT THE STORE; enable it in production. Connectors
    *    without it degrade to HEAD-then-PUT — a narrow double-PUT
    *    window between two writers racing the SAME (key, run_id),
    *    which the run-fence contract already forbids; and because both
    *    racers' payloads are complete by seal time, the clobber is
    *    between byte-identical seals of equal-validity runs. The
    *    MANIFEST stays the arbiter of record either way: consumers
    *    discover runs through the manifest index, which is appended
    *    exactly once per writeRun AFTER all seals land.
    */
  private[sink] def writeSealFile(
      conf: org.apache.hadoop.conf.Configuration, root: String, s: SealRow): Unit = {
    val dir = runDirPath(root, s)
    val fs = dir.getFileSystem(conf)
    val sealPath = new Path(dir, SealFile)
    val json =
      s"""{"record_count":${s.record_count},"schema_version":"${s.schema_version}",""" +
        s""""run_id":"${s.run_id}","sealed":true}"""
    val bytes = json.getBytes(StandardCharsets.UTF_8)
    def existingMatches(): Boolean = {
      val in = fs.open(sealPath)
      val existing =
        try new String(in.readAllBytes(), StandardCharsets.UTF_8)
        finally in.close()
      existing == json
    }
    def verifyOrThrow(): Unit =
      if (!existingMatches())
        throw new IllegalStateException(
          s"seal conflict at $sealPath: existing seal differs from this run's " +
            "(concurrent writers sharing a run_id violate the run-fence contract)")
    def tmpName = s"$SealFile.tmp-${java.util.UUID.randomUUID()}"
    if (ObjectStoreSchemes.contains(fs.getScheme)) {
      // Conditional-put claim: whole-object PUT-if-absent. A partial
      // write materializes nothing on an object store, so there is no
      // partial-seal hazard and no tmp object. The connector surfaces a
      // lost conditional write as FileAlreadyExistsException at create
      // (HEAD path) or as a remote-conflict IOException at close (true
      // If-None-Match path) — both mean "lost the claim", both routes
      // content-check the winner.
      val claimed =
        try {
          val out = fs.create(sealPath, false)
          try out.write(bytes)
          finally out.close()
          true
        } catch {
          case _: org.apache.hadoop.fs.FileAlreadyExistsException => false
          case _: java.nio.file.FileAlreadyExistsException => false
          case e: java.io.IOException
              if e.getClass.getSimpleName == "RemoteFileChangedException" =>
            false
        }
      if (!claimed) verifyOrThrow()
    } else if (fs.getScheme == "file") {
      // POSIX rename silently REPLACES an existing destination, so the
      // publish is link(2): createLink fails with EEXIST atomically in
      // the kernel. The temp file makes the published seal complete by
      // construction — a task that died mid-write leaves only a temp.
      val nioSeal = java.nio.file.Paths.get(fs.makeQualified(sealPath).toUri.getPath)
      val nioTmp = nioSeal.resolveSibling(tmpName)
      java.nio.file.Files.write(nioTmp, bytes, java.nio.file.StandardOpenOption.CREATE_NEW)
      try {
        try java.nio.file.Files.createLink(nioSeal, nioTmp)
        catch { case _: java.nio.file.FileAlreadyExistsException => verifyOrThrow() }
      } finally java.nio.file.Files.deleteIfExists(nioTmp): Unit
    } else {
      // Write-temp-then-rename: a bare create-then-write would let a
      // task that died mid-write leave a PARTIAL seal which every retry
      // then misreads as a foreign conflict. Rename without overwrite is
      // an atomic exclusive claim here (the NameNode rejects an existing
      // destination); if it loses we content-check the winner (complete
      // by construction — only whole files are ever renamed in).
      val tmp = new Path(dir, tmpName)
      val out = fs.create(tmp, true)
      try out.write(bytes)
      finally out.close()
      try {
        if (!fs.rename(tmp, sealPath)) verifyOrThrow()
      } catch {
        case _: org.apache.hadoop.fs.FileAlreadyExistsException => verifyOrThrow()
      } finally {
        if (fs.exists(tmp)) fs.delete(tmp, false)
      }
    }
  }

  /** Executor-side seal read for manifest repair: parse record_count /
    * schema_version back out of the seal JSON (tiny, one per dir).
    */
  private[sink] def readSealRow(
      conf: org.apache.hadoop.conf.Configuration, root: String, t: Tuple5RowCase): SealRow =
    readSealRow(conf, runDirPath(root, t), t)

  /** [[readSealRow]] from the seal in `dir`, wherever the walk found it. */
  private[sink] def readSealRow(
      conf: org.apache.hadoop.conf.Configuration, dir: Path, t: Tuple5RowCase): SealRow = {
    val p = new Path(dir, SealFile)
    val in = p.getFileSystem(conf).open(p)
    val json =
      try new String(in.readAllBytes(), StandardCharsets.UTF_8)
      finally in.close()
    def field(name: String): String =
      json.split(s""""$name":""")(1).split("[,}]")(0).trim.stripPrefix("\"").stripSuffix("\"")
    SealRow(
      t.source, t.customer_id, t.query_name, t.logical_date,
      field("record_count").toLong, t.run_id, field("schema_version"))
  }
}
