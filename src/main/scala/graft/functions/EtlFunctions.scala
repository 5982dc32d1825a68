package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** The reference's scalar surface (SURVEY.md §2.1 X1–X8) as codegen'd
  * column functions.
  */
object EtlFunctions {

  /** X1 — snake_case rename of a dotted field path (pipeline.py:105). */
  def snakeCase(fieldPath: Column): Column = regexp_replace(fieldPath, "\\.", "_")

  /** X2 — customer-id normalize: strip hyphens (google_ads_client.py:24-27). */
  def normalizeCustomerId(id: Column): Column = regexp_replace(id, "-", "")

  /** X3 — CSV split + trim (config.py:31-36): `"a, b"` → `["a","b"]`. */
  def csvSplitTrim(csv: Column): Column =
    filter(transform(split(csv, ","), trim(_)), _ =!= "")

  /** X4 — ISO-8601 millisecond format with a REAL offset designator
    * (run_context.py:8-15). `XXX` renders `Z` for a UTC session and the
    * actual offset otherwise — a hardcoded `'Z'` would mislabel
    * non-UTC-session renderings as UTC instants. The engine pins the
    * session timezone to UTC everywhere, where this yields exactly the
    * reference's `…SSSZ` shape whose lexicographic order is
    * chronological.
    */
  def isoMillis(ts: Column): Column =
    date_format(ts, "yyyy-MM-dd'T'HH:mm:ss.SSSXXX")

  /** X6 — idempotent `[terminal]` marker prepend (cli.py:667-674). */
  def markTerminal(msg: Column): Column =
    when(msg.contains(graft.model.PartitionState.TerminalMarker), msg)
      .otherwise(concat(lit(graft.model.PartitionState.TerminalMarker + " "), msg))

  /** F4 — terminal-marker predicate (cli.py:181,417-420). */
  def isTerminal(msg: Column): Column =
    msg.isNotNull && msg.contains(graft.model.PartitionState.TerminalMarker)

  /** X8 — micros → currency (warehouse_tables.sql:9: cost_micros / 1e6),
    * exact decimal result.
    */
  def microsToCurrency(micros: Column): Column =
    (micros.cast(DecimalType(24, 0)) / lit(1000000).cast(DecimalType(7, 0)))
      .cast(DecimalType(18, 4))

  /** X8 inverse — currency → micros. */
  def currencyToMicros(currency: Column): Column =
    round(currency.cast("double") * 1e6, 0).cast("long")
}
