package graft.model

import java.sql.{Date, Timestamp}
import java.time.Instant
import java.time.format.DateTimeFormatter
import java.time.temporal.ChronoUnit

import org.apache.spark.sql.types._

/** Core data model mirroring SURVEY.md §1.1 (reference:
  * src/gads_etl/raw_sink.py:8-15, state_store.py:13-25,
  * warehouse/pointer_store.py:8-18, run_context.py:8-15,
  * config.py:16-20).
  */

/** The smallest independent unit of work and of consumer visibility
  * (reference raw_sink.py:8-15). These four columns are the hive
  * partition key of every raw/curated write.
  */
final case class PartitionKey(
    source: String,
    customerId: String,
    queryName: String,
    logicalDate: Date,
)

object PartitionKey {
  /** Partition key column names, in layout order (raw_sink_contract.md:15-27). */
  val columns: Seq[String] = Seq("source", "customer_id", "query_name", "logical_date")
}

/** One row of the partition-state ledger (state_store.py:40-59;
  * docs/state_store_contract.md:45-61). A missing row is implicitly
  * `pending` (decisions.md:41-44) — the ledger never materializes the
  * full partition matrix.
  */
final case class PartitionState(
    source: String,
    customerId: String,
    queryName: String,
    logicalDate: Date,
    status: String, // pending | success | failed
    currentRunId: Option[String],
    schemaVersion: String,
    recordCount: Long,
    updatedAt: Timestamp,
    errorMessage: Option[String],
    attemptCount: Long,
)

object PartitionState {
  val Pending = "pending"
  val Success = "success"
  val Failed = "failed"

  /** `[terminal]` marker semantics (reference cli.py:667-674): an error
    * message carrying this prefix is excluded from retry sweeps.
    */
  val TerminalMarker = "[terminal]"
}

/** Run identity (run_context.py:8-15): ISO-8601 UTC millisecond
  * timestamp minted once per execution attempt. Lexicographic order ==
  * chronological order, so `max(run_id)` is a plain string max — the
  * property the authority rule (D2) relies on.
  */
final case class RunContext(runId: String, startedAt: Instant)

object RunContext {
  private val fmt = DateTimeFormatter.ofPattern("yyyy-MM-dd'T'HH:mm:ss.SSSX")
    .withZone(java.time.ZoneOffset.UTC)

  def mint(now: Instant): RunContext = {
    val t = now.truncatedTo(ChronoUnit.MILLIS)
    RunContext(fmt.format(t), t)
  }
}

/** Declarative extraction query (config.py:16-20;
  * config/google_apis.yaml:18-40): the field list drives both the
  * projection and the read schema; `dateColumn` drives the incremental
  * BETWEEN predicate.
  */
final case class QueryDefinition(
    name: String,
    entity: String,
    dateColumn: String,
    fields: Seq[String],
)

object QueryDefinition {
  /** Reference field-path → snake_case column rename
    * (pipeline.py:99-107): `campaign.id` → `campaign_id`.
    */
  def snakeCase(fieldPath: String): String = fieldPath.replace(".", "_")
}

object Schemas {

  /** Explicit read schema for a query's payload: every declared field as
    * a non-nullable string-ish column plus the injected `__query_name`
    * (pipeline.py:105-107). The reference's crash-on-missing-field
    * behavior (spec.md:42) needs FAILFAST *plus* a per-column null
    * check (PayloadReader.readJsonl): Spark's JSON FAILFAST only
    * rejects malformed records, and silently null-fills well-formed
    * records that lack a declared field.
    */
  def payloadSchema(q: QueryDefinition): StructType =
    StructType(
      q.fields.map(f => StructField(QueryDefinition.snakeCase(f), StringType, nullable = false)) :+
        StructField("__query_name", StringType, nullable = false)
    )

  val partitionState: StructType = StructType(Seq(
    StructField("source", StringType, nullable = false),
    StructField("customer_id", StringType, nullable = false),
    StructField("query_name", StringType, nullable = false),
    StructField("logical_date", DateType, nullable = false),
    StructField("status", StringType, nullable = false),
    StructField("current_run_id", StringType, nullable = true),
    StructField("schema_version", StringType, nullable = false),
    StructField("record_count", LongType, nullable = false),
    StructField("updated_at", TimestampType, nullable = false),
    StructField("error_message", StringType, nullable = true),
    StructField("attempt_count", LongType, nullable = false),
  ))

  val warehousePointer: StructType = StructType(Seq(
    StructField("source", StringType, nullable = false),
    StructField("customer_id", StringType, nullable = false),
    StructField("query_name", StringType, nullable = false),
    StructField("logical_date", DateType, nullable = false),
    StructField("run_id", StringType, nullable = false),
    StructField("schema_version", StringType, nullable = false),
    StructField("loaded_at", TimestampType, nullable = false),
  ))
}
