package graftbench

import java.io.File

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.{DataFrame, SQLContext, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.StreamingQuery

import graft.sink.RawSink
import graft.streaming.StreamingIngest

/** One keyed record of the pushed stream. */
final case class StreamRow(
    source: String,
    customer_id: String,
    query_name: String,
    logical_date: java.sql.Date,
    event_id: String,
    campaign_id: String,
    value: String,
)

/** The streaming twin of the daily extract: seeded micro-batches pushed
  * through a MemoryStream into a raw sink by StreamingIngest, each batch
  * landing as its own sealed run. A push is timed from addData until
  * processAllAvailable returns.
  */
final class StreamTwin(spark: SparkSession, tracer: Tracer, batchesDir: String, work: String) {
  import spark.implicits._
  private implicit val sqlContext: SQLContext = spark.sqlContext

  private val files = new File(batchesDir).listFiles().filter(_.getName.endsWith(".jsonl")).sortBy(_.getName).toSeq
  private val input = MemoryStream[StreamRow]
  private val sink = new RawSink(spark, s"$work/stream_sink")
  private val runPrefix = "stream"
  private var query: StreamingQuery = _
  private var next = 0
  private val pushed = mutable.LinkedHashMap.empty[String, Long]
  private var pushedTotal = 0L
  @volatile private var writeSpan: Option[Span] = None

  def hasNext: Boolean = next < files.size
  def pushedBytes: Long = pushedTotal
  def bytesOnDisk: Long = Main.du(s"$work/stream_sink")

  /** Start the ingest query. */
  def start(): Unit = {
    // StreamingIngest.toRawSink's foreachBatch, with the sink write
    // inside a span so the tracer can charge its jobs to the sink layer.
    val ingest: (DataFrame, Long) => Unit = (df, id) =>
      tracer.span("sink.write") {
        writeSpan = tracer.current
        StreamingIngest.ingestBatch(sink, runPrefix)(df, id)
      }
    query = input.toDF().writeStream.foreachBatch(ingest)
      .option("checkpointLocation", s"$work/stream_checkpoint").start()
  }

  private def load(f: File): Seq[StreamRow] = {
    val mapper = new ObjectMapper()
    scala.io.Source.fromFile(f, "UTF-8").getLines().map { line =>
      val n = mapper.readTree(line)
      def s(k: String) = n.get(k).asText()
      StreamRow(s("source"), s("customer_id"), s("query_name"), java.sql.Date.valueOf(s("logical_date")),
        s("event_id"), s("campaign_id"), s("value"))
    }.toSeq
  }

  private var staged: Seq[StreamRow] = Nil

  /** Read the next batch into memory, so that `push` times only the stream. */
  def stage(): Unit = staged = load(files(next))

  /** Push the staged batch; returns its record count and seconds until processed. */
  def push(): (Long, Double) = {
    val f = files(next)
    val rows = staged
    val runId = f"${runPrefix}_$next%012d"
    next += 1
    val t0 = System.nanoTime()
    tracer.span("streaming.batch", "batch" -> f.getName) {
      input.addData(rows)
      query.processAllAvailable()
    }
    val seconds = (System.nanoTime() - t0) / 1e9
    pushed(runId) = rows.size.toLong
    pushedTotal += f.length()
    if (tracer.isEnabled) {
      tracer.add(writeSpan, "input_bytes", f.length().toDouble)
      tracer.add(writeSpan, "files", Main.runFiles(s"$work/stream_sink", runId))
      tracer.add(writeSpan, "partitions", rows.map(r => (r.customer_id, r.query_name, r.logical_date)).distinct.size)
    }
    writeSpan = None
    (rows.size.toLong, seconds)
  }

  /** Stop the query; every pushed batch must be sealed in full as its own run. */
  def finish(): Seq[String] = {
    query.stop()
    val sealedRows = sink.readAll().groupBy("run_id").count().as[(String, Long)].collect().toMap
    pushed.collect {
      case (run, n) if sealedRows.getOrElse(run, 0L) != n =>
        s"$run: sealed ${sealedRows.getOrElse(run, 0L)} rows, pushed $n"
    }.toSeq ++
      (sealedRows.keySet -- pushed.keySet).map(r => s"$r: sealed but never pushed")
  }

  /** Progress-report figures of the traced batches, per op. */
  def layerMetrics(ops: Int): Map[String, Double] = {
    val ps = tracer.progress.asScala.toSeq.filter(_.numInputRows > 0)
    val n = math.max(1, ops).toDouble
    def dur(k: String) = ps.map(p => Option(p.durationMs.get(k)).map(_.toDouble).getOrElse(0.0)).sum / 1000.0 / n
    val state = ps.flatMap(_.stateOperators)
    Map(
      "streaming.add_batch_s" -> dur("addBatch"),
      "streaming.commit_s" -> (dur("commitOffsets") + dur("walCommit")),
      "streaming.state_rows" -> state.map(_.numRowsTotal.toDouble).sum / n,
      "streaming.state_mb" -> state.map(_.memoryUsedBytes.toDouble).sum / 1048576.0 / n,
      "streaming.state_commit_s" -> state.map(_.commitTimeMs.toDouble).sum / 1000.0 / n,
    )
  }
}
