package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.model.PartitionKey
import graft.sink.RawSink

/** Streaming ingest into the run-fenced raw sink: each micro-batch
  * lands as its OWN sealed run (`run_id` = zero-padded batch id, so
  * lexicographic run order ≡ arrival order — the T5 rule), which
  * composes Structured Streaming's replay model with the sink's
  * metadata-last seal into effectively-once delivery:
  *
  *  - a batch REPLAYED after a crash (same batchId) skips every
  *    partition its earlier attempt already sealed (the sink's seal
  *    manifest decides; an anti-join drops them) and re-writes only the
  *    remainder — sealed data is never duplicated, unsealed partial
  *    data was never reader-visible (K2) and is simply overwritten by
  *    the retry under the same fence;
  *  - distinct batches can never collide: K3's exclusive-create claim
  *    refuses a foreign writer on the same (key, run) even across
  *    processes.
  *
  * Downstream consumption is the ordinary batch surface
  * (`PayloadReader` / `RawSink.readAll` / latest-run-wins) — the
  * streaming/batch boundary is exactly one sealed-run directory, the
  * same unit the reference's pipeline emits per extraction run.
  */
object StreamingIngest {

  /** The per-batch ingest function (exposed for testing replay
    * semantics directly). `df` must carry the four partition-key
    * columns plus payload columns.
    */
  def ingestBatch(sink: RawSink, runPrefix: String)(df: DataFrame, batchId: Long): Unit = {
    val runId = f"${runPrefix}_$batchId%012d"
    // replay safety: drop partitions this run already sealed. The
    // sealed runs are the sink's collected manifest rows (a local
    // relation, so a first attempt's anti-join plans away); an empty
    // remainder writes nothing inside writeRun.
    val sealedKeys = sink.sealedRuns().where(col("run_id") === runId)
      .select(PartitionKey.columns.map(col): _*)
    sink.writeRun(df.join(sealedKeys, PartitionKey.columns, "left_anti"), runId): Unit
  }

  /** Attach the sink to a streaming frame; caller picks trigger /
    * checkpoint options and calls `.start()`.
    */
  def toRawSink(
      stream: DataFrame,
      sink: RawSink,
      runPrefix: String = "stream",
  ): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    stream.writeStream.foreachBatch(ingestBatch(sink, runPrefix) _)
}
