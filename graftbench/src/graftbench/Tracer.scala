package graftbench

import java.io.PrintWriter
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import scala.collection.mutable

import org.apache.spark.sql.graftbenchshim.Bus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}

/** Spark-side work attributed to one span: what its jobs did. */
final class SpanStats {
  var jobs, stages, tasks = 0L
  var taskRunMs, taskCpuNs, schedDelayMs, gcMs = 0L
  var inputBytes, shuffleReadBytes, shuffleWriteBytes, spillBytes, outputBytes = 0L
  var planMs = 0L
}

/** One timed call into a layer. `opId` ties the spans of one operation
  * together; `parent` is the span that made the call (-1 for an op root).
  */
final class Span(
    val id: Int,
    val name: String,
    val parent: Int,
    val opId: Int,
    val attrs: Map[String, String],
    val start: Long,
) {
  var end: Long = start
  val stats = new SpanStats
  /** Counts recorded at the layer boundary (partitions, files, rows...). */
  val counters: mutable.Map[String, Double] = mutable.LinkedHashMap.empty
  def seconds: Double = (end - start) / 1e9
}

/** Benchmark-side tracing: spans around every layer call, a SparkListener
  * that charges jobs, stages and tasks to the span that started them (via
  * the job group, or the active span for jobs submitted by other threads
  * such as a streaming query's), and a StreamingQueryListener that keeps
  * each micro-batch's progress report.
  *
  * Disabled, `span` only runs its body: untraced runs pay nothing.
  */
final class Tracer(spark: SparkSession, workload: String) extends SparkListener {
  private val sc = spark.sparkContext
  private var enabled = false
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Span] = Nil
  @volatile private var active: Span = null
  private val byId = new ConcurrentHashMap[Int, Span]
  private val stageSpan = new ConcurrentHashMap[Int, Span]
  private val execSpan = new ConcurrentHashMap[Long, Span]
  val progress = new ConcurrentLinkedQueue[StreamingQueryProgress]
  var opId: Int = -1

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      progress.add(e.progress)
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  def isEnabled: Boolean = enabled

  /** Register the listeners and start recording spans. */
  def start(): Unit = {
    sc.addSparkListener(this)
    spark.streams.addListener(streamListener)
    enabled = true
  }

  /** Stop recording spans and unregister the listeners (recorded spans stay). */
  def stop(): Unit = if (enabled) {
    Bus.drain(sc)
    enabled = false
    sc.removeSparkListener(this)
    spark.streams.removeListener(streamListener)
  }

  def span[T](name: String, attrs: (String, String)*)(body: => T): T =
    if (!enabled) body
    else {
      val parent = stack.headOption
      val s = new Span(spans.size, name, parent.map(_.id).getOrElse(-1), opId, attrs.toMap, System.nanoTime())
      spans += s
      byId.put(s.id, s)
      stack = s :: stack
      active = s
      sc.setJobGroup(s"gb-${s.id}", name, interruptOnCancel = false)
      try body
      finally {
        s.end = System.nanoTime()
        stack = stack.tail
        active = parent.orNull
        parent match {
          case Some(p) => sc.setJobGroup(s"gb-${p.id}", p.name, interruptOnCancel = false)
          case None => sc.clearJobGroup()
        }
      }
    }

  /** The innermost open span, when tracing. */
  def current: Option[Span] = if (enabled) stack.headOption else None

  /** Add `v` to counter `key` of span `s`. */
  def add(s: Option[Span], key: String, v: Double): Unit =
    s.foreach(sp => sp.counters(key) = sp.counters.getOrElse(key, 0.0) + v)

  /** Add `v` to counter `key` of the latest span called `name`. */
  def count(name: String, key: String, v: Double): Unit =
    if (enabled) add(spans.reverseIterator.find(_.name == name), key, v)

  def all: Seq[Span] = spans.toSeq

  // ---- SparkListener -------------------------------------------------

  private def spanOfGroup(group: String): Option[Span] =
    if (group != null && group.startsWith("gb-")) Option(byId.get(group.drop(3).toInt)) else None

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val props = Option(e.properties)
    spanOfGroup(props.map(_.getProperty("spark.jobGroup.id")).orNull).orElse(Option(active)).foreach { s =>
      s.stats.jobs += 1
      e.stageIds.foreach(id => stageSpan.put(id, s))
      props.flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
        .foreach(x => execSpan.putIfAbsent(x.toLong, s))
    }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    Option(stageSpan.get(e.stageInfo.stageId)).foreach(_.stats.stages += 1)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    for (s <- Option(stageSpan.get(e.stageId)); m <- Option(e.taskMetrics)) {
      val st = s.stats
      st.tasks += 1
      st.taskRunMs += m.executorRunTime
      st.taskCpuNs += m.executorCpuTime
      st.gcMs += m.jvmGCTime
      st.schedDelayMs += math.max(0L, e.taskInfo.duration - m.executorRunTime -
        m.executorDeserializeTime - m.resultSerializationTime)
      st.inputBytes += m.inputMetrics.bytesRead
      st.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
      st.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      st.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      st.outputBytes += m.outputMetrics.bytesWritten
    }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case end: SparkListenerSQLExecutionEnd =>
      for (s <- Option(execSpan.get(end.executionId)); qe <- Option(Bus.queryExecution(end))) {
        val ph = qe.tracker.phases
        s.stats.planMs += Seq("analysis", "optimization", "planning").flatMap(ph.get).map(_.durationMs).sum
      }
    case _ =>
  }

  // ---- artifacts -----------------------------------------------------

  private def childSeconds(s: Span): Double =
    spans.iterator.filter(_.parent == s.id).map(_.seconds).sum

  /** Write spans.jsonl (one span a line) and selftime.tsv (per span name:
    * calls, total seconds, self seconds = duration minus child spans).
    */
  def writeArtifacts(dir: String): Unit = {
    new java.io.File(dir).mkdirs()
    val t0 = spans.headOption.map(_.start).getOrElse(0L)
    val out = new PrintWriter(s"$dir/spans.jsonl", "UTF-8")
    try spans.foreach { s =>
      val st = s.stats
      val fields = Seq(
        "id" -> s.id, "name" -> Json.str(s.name), "parent" -> s.parent, "workload" -> Json.str(workload),
        "op" -> s.opId, "start_s" -> (s.start - t0) / 1e9, "end_s" -> (s.end - t0) / 1e9,
        "self_s" -> (s.seconds - childSeconds(s)), "jobs" -> st.jobs, "stages" -> st.stages,
        "tasks" -> st.tasks, "plan_ms" -> st.planMs, "task_run_ms" -> st.taskRunMs,
        "output_bytes" -> st.outputBytes,
        "attrs" -> Json.obj(s.attrs.map { case (k, v) => k -> Json.str(v) }.toSeq),
        "counters" -> Json.obj(s.counters.toSeq.map { case (k, v) => k -> v.toString }),
      )
      out.println(Json.obj(fields.map { case (k, v) => k -> v.toString }))
    } finally out.close()
    val self = new PrintWriter(s"$dir/selftime.tsv", "UTF-8")
    try {
      self.println("span\tcalls\ttotal_s\tself_s")
      spans.groupBy(_.name).toSeq
        .map { case (n, ss) => (n, ss.size, ss.map(_.seconds).sum, ss.map(s => s.seconds - childSeconds(s)).sum) }
        .sortBy(-_._4)
        .foreach { case (n, c, t, sf) => self.println(f"$n\t$c\t$t%.4f\t$sf%.4f") }
    } finally self.close()
  }
}

/** Minimal JSON rendering for the benchmark's own flat records. */
object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    b += '"'
    b.toString
  }
  /** An object from already-rendered values. */
  def obj(fields: Seq[(String, String)]): String =
    fields.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.math.BigDecimal.valueOf(d).toPlainString
}
