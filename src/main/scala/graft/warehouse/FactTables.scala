package graft.warehouse

import graft.ops.Pin.PinOps
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.EtlFunctions

/** The serving schema (reference database/schema/warehouse_tables.sql:
  * fact_campaign_daily PK (customer_id, campaign_id, date);
  * fact_ad_group_daily PK (customer_id, ad_group_id, date)) as managed
  * Spark tables.
  *
  * PK enforcement is dedup-on-write (newest run wins,
  * [[Warehouse.enforcePrimaryKey]]) since Spark tables have no
  * constraint engine. Money lands as both micros (lossless int64,
  * the storage form) and currency decimal (the serving form, X8).
  */
object FactTables {

  val CampaignGrain: Seq[String] = Seq("customer_id", "campaign_id", "date")
  val AdGroupGrain: Seq[String] = Seq("customer_id", "ad_group_id", "date")

  /** Build fact_campaign_daily rows from raw campaign-daily payloads
    * (columns: customer_id, campaign_id, date, impressions, clicks,
    * conversions, cost_micros, run_id). Re-aggregates on the grain
    * (A7: replace/re-extract overlap may land duplicate grain rows),
    * then PK-dedups keeping the newest run.
    */
  def campaignDaily(payload: DataFrame): DataFrame = {
    // Authority first, at run granularity: keep ALL rows of the newest
    // run per grain (a max-run filter, not a row dedup — a run may
    // legitimately land several rows per grain from split extraction
    // files), then re-aggregate those rows to the grain.
    val w = org.apache.spark.sql.expressions.Window.partitionBy(CampaignGrain.map(col): _*)
    payload
      .withColumn("__max_run", max("run_id").over(w))
      .where(col("run_id") === col("__max_run"))
      .groupBy(CampaignGrain.map(col): _*)
      .agg(
        sum("impressions").as("impressions"),
        sum("clicks").as("clicks"),
        sum(col("conversions").cast("decimal(18,4)")).cast("decimal(18,4)").as("conversions"),
        sum("cost_micros").as("cost_micros"),
        // the authority that produced this grain row — all surviving
        // rows share the grain's max run, so max ≡ that run. Carried so
        // incremental maintenance (StreamingFactMaintenance) can fold
        // NEW runs against stored grains, and a replayed batch can
        // disown its own earlier contribution (idempotent re-fold).
        max("run_id").as("last_run_id"),
      )
      .withColumn("cost", EtlFunctions.microsToCurrency(col("cost_micros")))
  }

  /** Build fact_ad_group_daily rows (reference
    * database/schema/warehouse_tables.sql:13-23) from raw ad-group
    * daily payloads (columns: customer_id, ad_group_id, campaign_id,
    * device, date, conversions, cost_micros, value_per_conversion,
    * run_id). Same authority rule as [[campaignDaily]]: newest run per
    * PK grain wins, then re-aggregate to the grain. The carried
    * dimensions (campaign_id, device) take the grain's maximum — they
    * are functionally dependent on the grain in well-formed payloads,
    * and a deterministic tiebreak beats a nondeterministic `first`.
    * `value_per_conversion` is a RATIO, so it re-aggregates as the
    * conversions-weighted mean over the rows where the ratio is KNOWN
    * (numerator and denominator both skip NULL-ratio rows — counting
    * their conversions in the denominator alone would silently deflate
    * the mean), NULL when no surviving row has both a ratio and
    * conversions.
    */
  def adGroupDaily(payload: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.partitionBy(AdGroupGrain.map(col): _*)
    val dec = "decimal(18,4)"
    payload
      .withColumn("__max_run", max("run_id").over(w))
      .where(col("run_id") === col("__max_run"))
      .groupBy(AdGroupGrain.map(col): _*)
      .agg(
        max("campaign_id").as("campaign_id"),
        max("device").as("device"),
        sum(col("conversions").cast(dec)).cast(dec).as("conversions"),
        sum("cost_micros").as("cost_micros"),
        (sum(col("value_per_conversion").cast(dec) * col("conversions").cast(dec)) /
          nullif(sum(when(col("value_per_conversion").isNotNull,
            col("conversions").cast(dec))), lit(0).cast(dec)))
          .cast(dec).as("value_per_conversion"),
      )
  }

  /** Register a daily fact in the session catalog, PARTITIONED BY date
    * — the serving layout `database/schema/warehouse_tables.sql`
    * implies (every PK ends in `date`; replace/backfill operates on
    * date slices). Consumers read `spark.table(tableName)`; partition
    * pruning serves date-ranged queries from the touched slices only.
    * Pass `path` for an external location (a metastore-managed
    * warehouse dir otherwise).
    */
  def registerPartitioned(df: DataFrame, tableName: String, path: Option[String] = None): Unit = {
    // Repartition BY the partition column first: without it every
    // shuffle task holding rows of a date writes its own file into
    // that date's directory — tasks × dates tiny files (measured 44×
    // slower at bench scale: 77k files for 2.4k dates). With it each
    // date lands wholly in one task → exactly one well-formed file per
    // partition. Same rule at 100 TB, where the per-date volume makes
    // each file parquet-row-group sized; callers with hot single dates
    // can salt within the date.
    //
    // The count is EXPLICIT (REPARTITION_BY_NUM) — a bare
    // repartition(col) is fair game for AQE coalescing, and at bench
    // volume AQE folded the whole write into ONE task that committed
    // every date's file sequentially (stage-traced r11: 19.4 s of a
    // 35.5 s cold q186 in a single-task write stage). With the
    // session's shuffle parallelism pinned, dates spread across tasks
    // and files commit in parallel; each date still lands wholly in
    // one task, so the one-file-per-partition contract is unchanged.
    val n = df.sparkSession.sessionState.conf.numShufflePartitions
    val w = df.repartition(n, col("date"))
      .write.mode("overwrite").partitionBy("date").format("parquet")
    path.fold(w)(p => w.option("path", p)).saveAsTable(tableName)
  }

  /** D3 through the CATALOG: replace exactly the date partitions
    * present in `rows`, leaving every other date untouched (dynamic
    * partition overwrite — the INSERT OVERWRITE ... PARTITION(date)
    * semantics the reference's replace-by-partition contract names).
    * Column order follows the catalog schema, so callers pass rows in
    * any column order.
    */
  /** Serializes the session-conf flip in [[replaceDatePartitions]]:
    * `insertInto` reads partitionOverwriteMode from the SESSION conf
    * only (writer-level options are ignored on the insertInto path —
    * measured: a concurrent restore window plans the insert in STATIC
    * mode and wipes every untouched partition). The lock makes
    * set→write→restore atomic across graft writers on one session;
    * dynamic mode also (by design) permits the self-read that
    * incremental maintenance does — staged files commit only after the
    * job succeeds.
    */
  private val overwriteModeLock = new Object

  def replaceDatePartitions(spark: SparkSession, tableName: String, rows: DataFrame): Unit =
    overwriteModeLock.synchronized {
      val cols = spark.table(tableName).columns
      // Materialize BEFORE the overwrite: replacement rows are
      // routinely derived from the target (incremental maintenance
      // keeps the untouched stored grains), and a lazy plan would read
      // the very files the insert replaces — measured as
      // FAILED_READ_FILE mid-stream. The checkpoint is bounded by the
      // touched slices.
      val snap = rows.select(cols.map(col): _*).pinLineage()
      val key = "spark.sql.sources.partitionOverwriteMode"
      val prev = spark.conf.getOption(key)
      spark.conf.set(key, "dynamic")
      try snap.write.mode("overwrite").insertInto(tableName)
      finally prev match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
    }
}
