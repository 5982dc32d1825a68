package graft.sources

import java.nio.charset.StandardCharsets
import java.util

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

import graft.sink.RawSink.SealFile

/** DataSource V2 connector for the reference's raw-sink layout (S1):
  * JSONL payload files under the hive-partitioned key scheme
  *
  * {{{
  * <root>/source=<s>/customer_id=<c>/query_name=<q>/logical_date=<d>/run_id=<r>/
  *     *.jsonl       # payload rows (raw_sink_contract.md:15-31)
  *     _SEAL.json    # metadata-last seal — unsealed runs are INVISIBLE
  * }}}
  *
  * This is the Spark-native analog of the reference's streaming source
  * (pipeline.py:80-107): where the reference embeds the projection and
  * date predicate in a GAQL string shipped to the server, here Catalyst
  * pushes them into this scan —
  *
  *  - filters on the five partition-key columns prune entire
  *    DIRECTORIES at planning time (`planInputPartitions` never lists
  *    a pruned date/customer), the moral equivalent of the reference
  *    server never reading the excluded date range;
  *  - column pruning ([[SupportsPushDownRequiredColumns]]) means a
  *    2-column projection parses 2 fields per JSON record, not all;
  *  - the `_SEAL.json` read gate (K2) is enforced during listing, so a
  *    crashed writer's partial output is never observable.
  *
  * Usage:
  * {{{
  * spark.read.format("graft.sources.JsonlPartitionSource")
  *   .option("path", root).load()
  * }}}
  *
  * Schema: payload fields are inferred from the first record of one
  * sealed file (all strings, per the payload contract) or supplied
  * explicitly via `.schema(...)`; the five partition-key columns are
  * always appended (logical_date typed as DATE).
  *
  * Scale notes: listing walks the directory tree on the driver — the
  * same cost class as Spark's built-in `InMemoryFileIndex` — and each
  * sealed file becomes one input partition processed executor-side,
  * opened with the session's Hadoop configuration (shipped via
  * [[org.apache.spark.sql.graftshim.ConfShim]], so credentialed
  * schemes like s3a work).
  */
class JsonlPartitionSource extends TableProvider {

  override def supportsExternalMetadata(): Boolean = true

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    JsonlPartitionSource.inferred(JsonlPartitionSource.rootOf(options))

  override def getTable(
      schema: StructType,
      partitioning: Array[Transform],
      properties: util.Map[String, String],
  ): Table =
    new JsonlTable(schema, properties.get("path"))
}

object JsonlPartitionSource {
  val PartitionCols: Seq[String] =
    Seq("source", "customer_id", "query_name", "logical_date", "run_id")

  /** Payload extensions: `.jsonl` per the reference contract
    * (raw_sink_contract.md:30), plus `.json` — Spark's own JSON-lines
    * writer (`df.write.partitionBy(...).json(root)`) emits
    * `part-*.json`, so accepting it lets a Spark job LAND runs in the
    * reference layout and read them back through this connector.
    * `_SEAL.json` is excluded by name.
    */
  private[sources] def isPayloadFile(name: String): Boolean =
    name != SealFile && (name.endsWith(".jsonl") || name.endsWith(".json"))

  private[sources] def rootOf(options: CaseInsensitiveStringMap): String = {
    val p = options.get("path")
    require(p != null && p.nonEmpty, "graft jsonl source requires option(\"path\", ...)")
    p
  }

  private[sources] def partitionSchema: Seq[StructField] =
    PartitionCols.map {
      case "logical_date" => StructField("logical_date", DateType, nullable = false)
      case c => StructField(c, StringType, nullable = false)
    }

  /** Payload fields (strings, first-record keys) + partition columns.
    * Skips empty payload files (a sealed zero-record run is legal);
    * errors actionably when no sealed file holds a record.
    */
  private[sources] def inferred(root: String): StructType = {
    val files = listSealed(root, Array.empty)
    require(files.nonEmpty, s"no sealed jsonl partitions under $root")
    val fs = new Path(root).getFileSystem(hadoopConf())
    val firstLine = files.iterator
      .map { f =>
        val in = fs.open(new Path(f.file))
        try scala.io.Source.fromInputStream(in, "UTF-8").getLines()
          .find(_.trim.nonEmpty)
        finally in.close()
      }
      .collectFirst { case Some(line) => line }
      .getOrElse(throw new IllegalArgumentException(
        s"cannot infer schema: every sealed payload under $root is empty; " +
          "pass an explicit schema via .schema(...)"))
    val keys = new ObjectMapper().readTree(firstLine).fieldNames().asScala.toSeq
    StructType(
      keys.filterNot(PartitionCols.contains).map(StructField(_, StringType, nullable = true)) ++
        partitionSchema)
  }

  private def hadoopConf(): Configuration =
    SparkSession.getActiveSession
      .map(_.sparkContext.hadoopConfiguration)
      .getOrElse(new Configuration())

  /** The sealed payload files under `root` that `filters` admit, one
    * entry per file: [[listSealedRuns]] plus one listing per run.
    */
  private[sources] def listSealed(root: String, filters: Array[Filter]): Seq[JsonlFilePartition] = {
    val fs = new Path(root).getFileSystem(hadoopConf())
    listSealedRuns(root, filters).flatMap(payloadFiles(fs, _))
  }

  /** A sealed run's payload files (`_SEAL.json` excluded by name). */
  private def payloadFiles(fs: FileSystem, run: JsonlRunPartition): Seq[JsonlFilePartition] =
    fs.listStatus(new Path(run.dir)).toSeq
      .filter(st => st.isFile && isPayloadFile(st.getPath.getName))
      .map(st => JsonlFilePartition(st.getPath.toString, run.values))

  /** Walk the partition tree, pruning directories that contradict any
    * pushed filter on a partition column, and admit only SEALED run
    * dirs (K2) — the granularity aggregate pushdown serves from (one
    * seal = one authoritative record_count). Directory values are
    * unescaped as Spark's `partitionBy` escapes them (`:` lands as
    * `%3A`), so a run landed under a minted id reads back, and is
    * filtered, by that id.
    */
  private[sources] def listSealedRuns(root: String, filters: Array[Filter]): Seq[JsonlRunPartition] = {
    val fs = new Path(root).getFileSystem(hadoopConf())
    val rootPath = new Path(root)
    if (!fs.exists(rootPath)) return Seq.empty

    def walk(dir: Path, values: Map[String, String], depth: Int): Seq[JsonlRunPartition] =
      if (depth == PartitionCols.length) {
        if (fs.exists(new Path(dir, SealFile))) Seq(JsonlRunPartition(dir.toString, values))
        else Seq.empty // unsealed ⇒ invisible
      } else {
        val colName = PartitionCols(depth)
        val prefix = s"$colName="
        fs.listStatus(dir)
          .filter(st => st.isDirectory && st.getPath.getName.startsWith(prefix))
          .map(st => (st.getPath, ExternalCatalogUtils.unescapePathName(st.getPath.getName.stripPrefix(prefix))))
          .filter { case (_, v) => filters.forall(partitionFilterAdmits(_, colName, v)) }
          .flatMap { case (p, v) => walk(p, values + (colName -> v), depth + 1) }
          .toSeq
      }
    walk(rootPath, Map.empty, 0)
  }

  /** TopN-ordered file listing: sealed runs sorted by the pushed sort
    * keys (directory strings — lexicographic == chronological for the
    * contract's encodings, T5), pruned to the prefix that covers
    * `limit` rows by seal `record_count`, INCLUDING every run tied
    * with the cutoff tuple (rows of an excluded run sort strictly
    * after `limit` already-covered rows, so they can never reach the
    * global top-n). A legacy seal without `record_count` contributes 0
    * to the running cover — conservative: it only ever keeps MORE
    * runs.
    */
  private[sources] def listSealedTopN(
      root: String,
      filters: Array[Filter],
      keys: Seq[(String, Boolean)],
      limit: Int,
  ): Seq[JsonlFilePartition] = {
    val fs = new Path(root).getFileSystem(hadoopConf())
    def cmp(a: JsonlRunPartition, b: JsonlRunPartition): Int = {
      var i = 0
      while (i < keys.length) {
        val (c, desc) = keys(i)
        val r = a.values(c).compareTo(b.values(c))
        if (r != 0) return if (desc) -r else r
        i += 1
      }
      0
    }
    def recordCount(run: JsonlRunPartition): Long = {
      val in = fs.open(new Path(run.dir, SealFile))
      val node = try new ObjectMapper().readTree(in) finally in.close()
      val rc = node.get("record_count")
      if (rc != null && rc.canConvertToLong) rc.asLong() else 0L
    }
    val sorted = listSealedRuns(root, filters).sortWith((a, b) => cmp(a, b) < 0)
    var cum = 0L
    var cutoff: Option[JsonlRunPartition] = None
    val it = sorted.iterator
    while (cutoff.isEmpty && it.hasNext) {
      val run = it.next()
      cum += recordCount(run)
      if (cum >= limit) cutoff = Some(run)
    }
    val kept = cutoff match {
      case Some(c) => sorted.takeWhile(r => cmp(r, c) <= 0) // prefix + cutoff ties
      case None => sorted // counts never covered n — keep everything
    }
    kept.flatMap(payloadFiles(fs, _))
  }

  /** Can this filter be claimed as fully pushed? Only when EVERY node
    * is a shape [[partitionFilterAdmits]] evaluates exactly against
    * directory values. Claiming anything looser (Or/Not/StartsWith over
    * partition columns) would be a correctness bug: Spark removes
    * claimed filters from the post-scan plan, and the conservative
    * `admit` fallback would return unfiltered rows as if they matched.
    */
  private[sources] def isPartitionFilter(f: Filter): Boolean = f match {
    case EqualTo(c, _) => PartitionCols.contains(c)
    case GreaterThan(c, _) => PartitionCols.contains(c)
    case GreaterThanOrEqual(c, _) => PartitionCols.contains(c)
    case LessThan(c, _) => PartitionCols.contains(c)
    case LessThanOrEqual(c, _) => PartitionCols.contains(c)
    case In(c, _) => PartitionCols.contains(c)
    case IsNotNull(c) => PartitionCols.contains(c)
    case And(l, r) => isPartitionFilter(l) && isPartitionFilter(r)
    case _ => false
  }

  /** Conservative directory admission: a directory is pruned only when
    * the filter provably excludes its value. Comparisons are
    * lexicographic on the directory string, which matches the
    * contract's encodings (ISO dates and ISO-timestamp run ids order
    * lexicographically == chronologically, T5).
    */
  private[sources] def partitionFilterAdmits(f: Filter, colName: String, value: String): Boolean = {
    def str(a: Any): String = a match {
      case d: java.sql.Date => d.toString
      case d: java.time.LocalDate => d.toString
      case other => String.valueOf(other)
    }
    f match {
      case EqualTo(c, v) if c == colName => value == str(v)
      case GreaterThan(c, v) if c == colName => value > str(v)
      case GreaterThanOrEqual(c, v) if c == colName => value >= str(v)
      case LessThan(c, v) if c == colName => value < str(v)
      case LessThanOrEqual(c, v) if c == colName => value <= str(v)
      case In(c, vs) if c == colName => vs.map(str).contains(value)
      case IsNotNull(c) if c == colName => true // dir value is never null
      case And(l, r) =>
        partitionFilterAdmits(l, colName, value) && partitionFilterAdmits(r, colName, value)
      // Anything else (incl. Or/Not over partition columns) is NOT
      // claimed by isPartitionFilter, so Spark re-applies it post-scan;
      // admitting the directory here is therefore always correct.
      case _ => true
    }
  }
}

final case class JsonlFilePartition(file: String, values: Map[String, String])
    extends InputPartition

/** One sealed RUN directory (aggregate-pushdown granularity). */
final case class JsonlRunPartition(dir: String, values: Map[String, String])
    extends InputPartition

class JsonlTable(tableSchema: StructType, path: String) extends Table with SupportsRead {
  override def name(): String = s"graft_jsonl(`$path`)"
  override def schema(): StructType = tableSchema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new JsonlScanBuilder(tableSchema, path)
}

class JsonlScanBuilder(fullSchema: StructType, path: String)
    extends ScanBuilder
    with SupportsPushDownFilters
    with SupportsPushDownRequiredColumns
    with SupportsPushDownAggregates
    with SupportsPushDownLimit
    with SupportsPushDownTopN {

  private var pushed: Array[Filter] = Array.empty
  private var required: StructType = fullSchema
  private var residual = false
  private var aggGroupCols: Seq[String] = Seq.empty
  private var aggSchema: Option[StructType] = None
  private var limit: Option[Int] = None
  private var topN: Option[(Seq[(String, Boolean)], Int)] = None

  /** TopN pushdown — the control-plane LISTING shape (T1/T2/T5:
    * "latest runs/dates first, take n") served from the partition tree
    * + seal manifests: when every sort key is a partition column, run
    * directories ORDER the rows (all rows of a run share every
    * partition value), so the scan sorts the sealed-run list
    * driver-side, walks it in order accumulating seal `record_count`s
    * until `n` rows are covered (plus cutoff ties), and plans ONLY
    * those runs — no payload under a losing run is ever opened.
    * PARTIAL by contract (isPartiallyPushed = true): each planned
    * file additionally caps at `n` rows, and Spark's global
    * TakeOrderedAndProject still runs above, so tie-breaks and
    * multi-partition merges stay Spark's problem. Declines under
    * residual row filters (same starvation guard as LIMIT), after
    * aggregate pushdown, and for any payload-field sort key.
    */
  override def pushTopN(
      orders: Array[org.apache.spark.sql.connector.expressions.SortOrder],
      n: Int): Boolean = {
    import org.apache.spark.sql.connector.expressions.{NamedReference, SortDirection}
    if (residual || aggSchema.nonEmpty || n <= 0 || orders.isEmpty) return false
    val keys = orders.toSeq.map { o =>
      o.expression() match {
        case nr: NamedReference
            if nr.fieldNames.length == 1 &&
              JsonlPartitionSource.PartitionCols.contains(nr.fieldNames()(0)) =>
          (nr.fieldNames()(0), o.direction() == SortDirection.DESCENDING)
        case _ => return false
      }
    }
    topN = Some((keys, n))
    true
  }

  /** LIMIT pushdown — preview reads (T4/consume-preview) stop pulling
    * lines once a partition has produced `limit` rows instead of
    * parsing whole files. PARTIAL by contract (`isPartiallyPushed` =
    * true): each partition caps at `limit`, Spark's own global Limit
    * still runs above — so multi-partition scans stay correct.
    * Declined when residual row filters exist (a below-filter cap
    * would starve the filter) — Spark's pushdown rule does not offer
    * the limit in that shape, and the guard keeps it that way.
    */
  override def pushLimit(l: Int): Boolean = {
    if (residual || aggSchema.nonEmpty) return false
    limit = Some(l)
    true
  }
  override def isPartiallyPushed: Boolean = true

  /** Accept partition-column filters (they prune directories exactly);
    * everything else is returned for Spark to evaluate post-scan.
    */
  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    val (part, rest) = filters.partition(JsonlPartitionSource.isPartitionFilter)
    pushed = part
    residual = rest.nonEmpty
    rest
  }

  override def pushedFilters(): Array[Filter] = pushed

  /** COUNT(*) grouped by partition-key columns is answered from seal
    * metadata — the reference's own `record_count` (validator A6,
    * raw_sink_contract.md metadata) served as an aggregate, without
    * opening a single payload file. PARTIAL pushdown
    * ([[supportCompletePushDown]] = false): this scan emits one
    * (group keys, count) row per sealed RUN, and Spark's final
    * aggregate sums runs into groups — so multi-run partitions and
    * empty group-bys (global COUNT) compose correctly.
    *
    * Anything else — residual row filters, payload group keys,
    * non-count aggregates — declines, and the plan falls back to the
    * row scan unchanged.
    */
  override def supportCompletePushDown(agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation): Boolean = false

  override def pushAggregation(agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation): Boolean = {
    import org.apache.spark.sql.connector.expressions.NamedReference
    import org.apache.spark.sql.connector.expressions.aggregate.CountStar
    if (residual) return false
    val groupCols = agg.groupByExpressions.toSeq.map {
      case f: NamedReference if f.fieldNames.length == 1 => f.fieldNames()(0)
      case _ => return false
    }
    if (!groupCols.forall(JsonlPartitionSource.PartitionCols.contains)) return false
    val aggs = agg.aggregateExpressions.toSeq
    if (aggs.length != 1 || !aggs.head.isInstanceOf[CountStar]) return false
    aggGroupCols = groupCols
    aggSchema = Some(StructType(
      groupCols.map(c => fullSchema(c)) :+
        StructField("count_star", LongType, nullable = false)))
    true
  }

  override def pruneColumns(requiredSchema: StructType): Unit = {
    // after aggregate pushdown the "required" schema IS the aggregate
    // output — nothing to intersect with payload fields
    if (aggSchema.isEmpty) {
      // preserve this source's field order (payload fields then keys)
      val keep = requiredSchema.fieldNames.toSet
      required = StructType(fullSchema.fields.filter(f => keep.contains(f.name)))
    }
  }

  override def build(): Scan = aggSchema match {
    case Some(s) => new JsonlCountScan(path, s, aggGroupCols, pushed)
    case None =>
      // the per-file cap serves both pushed shapes: a plain LIMIT, or
      // the TopN's per-partition bound (keys are constant per file, so
      // any n rows of a file are a valid per-partition top-n)
      val cap = topN.map(_._2).orElse(limit)
      new JsonlScan(path, required, pushed, cap, topN)
  }
}

/** Aggregate-pushdown scan: one row per sealed run — group-key values
  * from the directory path, count from the seal's `record_count`
  * (falling back to a payload line count for legacy seals without it,
  * with the same blank-line tolerance as the row reader).
  */
class JsonlCountScan(
    path: String,
    aggSchema: StructType,
    groupCols: Seq[String],
    pushed: Array[Filter],
) extends Scan with Batch {

  override def readSchema(): StructType = aggSchema
  override def toBatch: Batch = this
  override def description(): String =
    s"graft_jsonl $path, PushedFilters: [${pushed.mkString(", ")}], " +
      "PushedAggregation: [COUNT(*)]"

  override def planInputPartitions(): Array[InputPartition] =
    JsonlPartitionSource.listSealedRuns(path, pushed).toArray

  override def createReaderFactory(): PartitionReaderFactory = {
    val confFactory = org.apache.spark.sql.graftshim.ConfShim.confFactory(
      SparkSession.active.sparkContext.hadoopConfiguration)
    val schema = aggSchema
    val cols = groupCols
    new PartitionReaderFactory {
      override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
        new JsonlCountReader(partition.asInstanceOf[JsonlRunPartition], schema, cols, confFactory())
    }
  }
}

/** Emits exactly one (group keys, run count) row. The payload is never
  * opened when the seal carries `record_count` — the metadata IS the
  * count, per the sink contract (K2 + A6).
  */
class JsonlCountReader(
    p: JsonlRunPartition,
    schema: StructType,
    groupCols: Seq[String],
    conf: Configuration,
) extends PartitionReader[InternalRow] {

  private var done = false
  private var current: InternalRow = _

  override def next(): Boolean = {
    if (done) return false
    val fs = new Path(p.dir).getFileSystem(conf)
    val sealPath = new Path(p.dir, SealFile)
    val sealNode = {
      val in = fs.open(sealPath)
      try new ObjectMapper().readTree(in) finally in.close()
    }
    val rc = sealNode.get("record_count")
    val count =
      if (rc != null && rc.canConvertToLong) rc.asLong()
      else { // legacy seal: count non-blank payload lines (reader parity)
        fs.listStatus(new Path(p.dir))
          .filter(st => st.isFile && JsonlPartitionSource.isPayloadFile(st.getPath.getName))
          .map { st =>
            val in = fs.open(st.getPath)
            try scala.io.Source.fromInputStream(in, "UTF-8").getLines()
              .count(_.trim.nonEmpty).toLong
            finally in.close()
          }.sum
      }
    val vals = new Array[Any](schema.length)
    groupCols.zipWithIndex.foreach { case (c, i) =>
      val raw = p.values(c)
      vals(i) =
        if (schema(i).dataType == DateType) java.time.LocalDate.parse(raw).toEpochDay.toInt
        else UTF8String.fromString(raw)
    }
    vals(schema.length - 1) = count
    current = new GenericInternalRow(vals)
    done = true
    true
  }

  override def get(): InternalRow = current
  override def close(): Unit = ()
}

class JsonlScan(
    path: String,
    requiredSchema: StructType,
    pushed: Array[Filter],
    limit: Option[Int] = None,
    topN: Option[(Seq[(String, Boolean)], Int)] = None,
) extends Scan with Batch with SupportsRuntimeFiltering {

  // ------------------------------------------------------------------
  // Runtime filtering (r9): the LAST pushdown Spark offers that this
  // source can serve. A join whose key is one of the five partition
  // columns (the reconcile shapes — state⟕pointer through the
  // connector, J1/J3 via S1) gets its build-side key set injected
  // HERE at execution time as In(...) filters, and the listing walk
  // prunes run DIRECTORIES with them exactly like planning-time
  // filters — the connector analog of the reference's driver-side key
  // lookup (warehouse/loader.py:60-91), except the key set arrives
  // from a distributed join instead of a python dict. Without this, a
  // reconcile join through the connector scans every sealed run at
  // 100 TB no matter how few dates/customers the ledger side selects.
  //
  // Only partition-shape filters are kept (same isPartitionFilter
  // gate as planning-time pushdown — anything else would prune
  // directories the conservative lister cannot re-check); dropping a
  // runtime filter is always CORRECT because Spark re-applies the
  // join itself above the scan. Runtime filters compose with pushed
  // TopN/LIMIT soundly: both are conjunctive row-set reductions the
  // operators above re-verify. (JsonlCountScan does not implement
  // this: aggregate pushdown only fires when the aggregate sits
  // DIRECTLY over the scan, so a runtime-filter-producing join can
  // never co-exist with it.)
  // ------------------------------------------------------------------
  private var runtime: Array[Filter] = Array.empty

  // only the partition columns that SURVIVED column pruning: Spark's
  // PartitionPruning rule resolves every declared attribute against
  // this scan's output and errors on any it cannot find — and a join
  // key is by definition in the output
  override def filterAttributes(): Array[org.apache.spark.sql.connector.expressions.NamedReference] =
    JsonlPartitionSource.PartitionCols
      .filter(requiredSchema.fieldNames.contains)
      .map(org.apache.spark.sql.connector.expressions.Expressions.column)
      .toArray

  override def filter(filters: Array[Filter]): Unit =
    runtime = filters.filter(JsonlPartitionSource.isPartitionFilter)

  override def readSchema(): StructType = requiredSchema
  override def toBatch: Batch = this
  override def description(): String =
    s"graft_jsonl $path, PushedFilters: [${pushed.mkString(", ")}]" +
      topN.map { case (ks, n) =>
        val o = ks.map { case (c, d) => s"$c ${if (d) "DESC" else "ASC"}" }.mkString(", ")
        s", PushedTopN: ORDER BY $o LIMIT $n"
      }.getOrElse(limit.map(l => s", PushedLimit: $l").getOrElse(""))

  override def planInputPartitions(): Array[InputPartition] = topN match {
    case Some((keys, n)) =>
      JsonlPartitionSource.listSealedTopN(path, pushed ++ runtime, keys, n).toArray
    case None => JsonlPartitionSource.listSealed(path, pushed ++ runtime).toArray
  }

  override def createReaderFactory(): PartitionReaderFactory = {
    // capture the session Hadoop conf driver-side so executor readers
    // open files with the session's credentials/fs settings
    val confFactory = org.apache.spark.sql.graftshim.ConfShim.confFactory(
      SparkSession.active.sparkContext.hadoopConfiguration)
    new JsonlReaderFactory(requiredSchema, confFactory, limit)
  }
}

class JsonlReaderFactory(
    schema: StructType,
    confFactory: () => Configuration,
    limit: Option[Int] = None,
) extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    new JsonlReader(partition.asInstanceOf[JsonlFilePartition], schema, confFactory(), limit)
}

/** Executor-side line reader: Jackson-parse each JSONL record,
  * projecting only the required payload fields; partition-column values
  * come from the directory path (logical_date as epoch days).
  */
class JsonlReader(
    p: JsonlFilePartition,
    schema: StructType,
    conf: Configuration,
    limit: Option[Int] = None,
) extends PartitionReader[InternalRow] {

  private var emitted = 0

  private val mapper = new ObjectMapper()
  private val fs = new Path(p.file).getFileSystem(conf)
  private val in = fs.open(new Path(p.file))
  private val lines = scala.io.Source.fromInputStream(in, StandardCharsets.UTF_8.name()).getLines()
  private var current: InternalRow = _

  private val fieldPlans: Array[Either[Int, String]] = schema.fields.map { f =>
    if (JsonlPartitionSource.PartitionCols.contains(f.name)) Left(daysOrString(f))
    else Right(f.name)
  }
  // partition values precomputed once per file: Left(index into this)
  private val partValues: Array[Any] = schema.fields.collect {
    case f if JsonlPartitionSource.PartitionCols.contains(f.name) =>
      val raw = p.values(f.name)
      if (f.dataType == DateType) java.time.LocalDate.parse(raw).toEpochDay.toInt
      else UTF8String.fromString(raw)
  }
  private def daysOrString(f: StructField): Int =
    schema.fields.filter(x => JsonlPartitionSource.PartitionCols.contains(x.name))
      .indexWhere(_.name == f.name)

  override def next(): Boolean = {
    // pushed-limit cap: stop PULLING lines once satisfied — the whole
    // point is to not parse the rest of the file
    if (limit.exists(emitted >= _)) return false
    // skip blank/whitespace-only lines, matching schema inference's
    // find(_.trim.nonEmpty) tolerance — read and infer must agree on
    // the same file
    var line: String = null
    while (line == null && lines.hasNext) {
      val candidate = lines.next()
      if (candidate.trim.nonEmpty) line = candidate
    }
    if (line == null) return false
    val node = mapper.readTree(line)
    val vals = new Array[Any](schema.length)
    var i = 0
    while (i < fieldPlans.length) {
      fieldPlans(i) match {
        case Left(pi) => vals(i) = partValues(pi)
        case Right(name) =>
          val n = node.get(name)
          vals(i) = if (n == null || n.isNull) null else UTF8String.fromString(n.asText())
      }
      i += 1
    }
    current = new GenericInternalRow(vals)
    emitted += 1
    true
  }

  override def get(): InternalRow = current
  override def close(): Unit = in.close()
}
