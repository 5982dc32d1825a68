package graftbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** One operation of a closed loop: its latency, the part of it after
  * which its result was visible to a consumer, the input rows it moved,
  * and whether it threw or failed its correctness check.
  */
final case class Op(name: String, seconds: Double, freshSeconds: Double, rows: Long, ok: Boolean, error: String = "")

object Op {
  def failed(name: String, seconds: Double, t: Throwable): Op =
    Op(name, seconds, seconds, 0L, ok = false, s"${t.getClass.getSimpleName}: ${t.getMessage}".take(300))
}

/** A workload drives the program through its public functions, one
  * operation at a time from a single driver thread.
  */
trait Workload {
  /** Operations making up one unit of fixed work (a panel pass, a daily
    * cycle). A timed phase always ends on a round boundary.
    */
  def roundSize: Int
  /** Untimed: load inputs, start queries, warm the code paths. */
  def prepare(): Unit
  def hasNext: Boolean
  /** Run and check the next operation. Correctness checks run after the
    * op's clock stops.
    */
  def runOp(opId: Int): Op
  /** Untimed end-of-run checks; returns failure messages. */
  def finish(): Seq[String]
  /** Bytes on disk the workload produced, over the bytes of its inputs. */
  def spaceAmp(): Double
  /** Workload-specific per-layer values for the traced phase. */
  def layerExtras(ops: Seq[Op]): Map[String, Double] = Map.empty
}

final case class Phase(ops: Seq[Op], rounds: Int, pinsLeft: Seq[Int], liveHeapMb: Seq[Double]) {
  def opSeconds: Double = ops.map(_.seconds).sum
  def runS: Double = opSeconds / math.max(1, rounds)
}

/** Entry point: runs one workload in this JVM and writes its result.
  *
  * Args: --workload W --seed N --seconds S --trace 0|1 --inputs DIR
  *       --work DIR --out FILE [--goldens FILE] [--capture DIR] [--artifacts DIR]
  */
object Main {
  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = a("workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val trace = a.getOrElse("trace", "0") == "1"
    val cores = Runtime.getRuntime.availableProcessors()
    val spark = session(cores, a("work"))
    a.get("capture").foreach { dir =>
      Files.write(Paths.get(a("out")), Panel.capture(spark, a("inputs") + "/tables", dir, Panel.panel).getBytes("UTF-8"))
      spark.stop()
      return
    }
    val tracer = new Tracer(spark, workload)
    val errors = mutable.ArrayBuffer.empty[String]
    val w: Workload = workload match {
      case "queries" =>
        new Panel(spark, tracer, a("inputs") + "/tables", a("work"), Goldens.load(a("goldens"), seed))
      case "lifecycle" => new Lifecycle(spark, tracer, a("inputs"), a("work"))
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    def mark(what: String): Unit =
      System.err.println(f"[graftbench] $what at ${(System.currentTimeMillis() - jvmStartMs) / 1000.0}%.2f s")
    mark("session ready")
    try w.prepare() catch { case t: Throwable => errors += s"prepare: $t" }
    val readyMs = System.currentTimeMillis()
    mark("workload prepared")

    // Traced runs measure the tracing overhead as the traced phase minus
    // the mean of an untraced phase before and one after it, which
    // cancels the JIT warm-up the later phases enjoy.
    val untraced = runPhase(spark, tracer, w, seconds)
    val (phases, metrics) =
      if (!trace) (Seq(untraced), endToEnd(untraced, w))
      else {
        tracer.start()
        val traced = runPhase(spark, tracer, w, seconds)
        tracer.stop()
        val after = runPhase(spark, tracer, w, seconds)
        val layers = Layers.metrics(tracer.all, traced, cores) ++ w.layerExtras(traced.ops) ++
          Map("trace.overhead_s" -> (traced.runS - (untraced.runS + after.runS) / 2))
        a.get("artifacts").foreach(tracer.writeArtifacts)
        (Seq(untraced, traced, after), layers)
      }
    mark("timed phases done")
    val allOps = phases.flatMap(_.ops)
    errors ++= allOps.filterNot(_.ok).map(o => s"${o.name}: ${o.error}")
    errors ++= (try w.finish() catch { case t: Throwable => Seq(s"finish: $t") })
    mark("checks done")
    val failed = allOps.count(!_.ok)
    val result = Json.obj(Seq(
      "correct" -> (errors.isEmpty && allOps.nonEmpty).toString,
      "attempted" -> allOps.size.toString,
      "failed" -> failed.toString,
      "error_rate" -> Json.num(failed.toDouble / math.max(1, allOps.size)),
      "rounds" -> phases.map(_.rounds).sum.toString,
      "ready_epoch_ms" -> readyMs.toString,
      "metrics" -> Json.obj(metrics.toSeq.sortBy(_._1).map { case (k, v) => k -> Json.num(v) }),
      "errors" -> errors.take(20).map(Json.str).mkString("[", ",", "]"),
      "op_log" -> allOps.map(o => Json.obj(Seq(
        "name" -> Json.str(o.name), "s" -> Json.num(o.seconds), "ok" -> o.ok.toString))).mkString("[", ",", "]"),
    ))
    Files.write(Paths.get(a("out")), result.getBytes("UTF-8"))
    spark.stop()
    mark("stopped")
  }

  /** graft.Bench's session: local[cores], shuffle partitions = cores,
    * 4m pages, UTC; scratch paths kept inside the work directory.
    */
  def session(cores: Int, work: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graftbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.buffer.pageSize", "4m")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/spark-warehouse")
      .config("spark.sql.streaming.checkpointLocation", s"$work/checkpoints")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** Closed loop: run ops until `seconds` have passed and the current
    * round is complete. Between ops, untimed: count the persistent RDDs
    * the op left pinned, unpersist them (blocking) and collect garbage.
    */
  def runPhase(spark: SparkSession, tracer: Tracer, w: Workload, seconds: Double): Phase = {
    val ops = mutable.ArrayBuffer.empty[Op]
    val pins = mutable.ArrayBuffer.empty[Int]
    val heap = mutable.ArrayBuffer.empty[Double]
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    while (w.hasNext && (elapsed < seconds || ops.size % w.roundSize != 0)) {
      val id = ops.size
      tracer.opId = id
      val start = System.nanoTime()
      ops += (try w.runOp(id) catch { case t: Throwable => Op.failed(s"op$id", (System.nanoTime() - start) / 1e9, t) })
      val persistent = spark.sparkContext.getPersistentRDDs
      pins += persistent.size
      persistent.values.foreach(_.unpersist(blocking = true))
      System.gc()
      heap += ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    }
    Phase(ops.toSeq, math.max(1, ops.size / w.roundSize), pins.toSeq, heap.toSeq)
  }

  def quantile(xs: Seq[Double], q: Double): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else {
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  }

  def endToEnd(p: Phase, w: Workload): Map[String, Double] = {
    val good = p.ops.filter(_.ok)
    Map(
      "run_s" -> p.runS,
      "op_p50_s" -> quantile(good.map(_.seconds), 0.5),
      "op_tail_s" -> quantile(good.map(_.seconds), 0.9),
      "rows_per_s" -> p.ops.map(_.rows).sum / p.opSeconds,
      "freshness_s" -> quantile(good.map(_.freshSeconds), 0.5),
      "mem_peak_mb" -> p.liveHeapMb.max,
      "space_amp" -> w.spaceAmp(),
    )
  }

  /** Payload files a sink holds for one run id, in any partition. */
  def runFiles(root: String, runId: String): Int = {
    val dirName = "run_id=" + runId.replace(":", "%3A") // Hive partition-path escaping
    def walk(f: java.io.File): Int =
      if (f.getName == dirName) Option(f.listFiles()).map(_.count(_.getName.startsWith("part-"))).getOrElse(0)
      else Option(f.listFiles()).map(_.filter(_.isDirectory).map(walk).sum).getOrElse(0)
    walk(new java.io.File(root))
  }

  /** Recursive on-disk size of a local path (0 when absent). */
  def du(path: String): Long = {
    val f = new java.io.File(path)
    if (!f.exists()) 0L
    else if (f.isFile) f.length()
    else Option(f.listFiles()).map(_.map(c => du(c.getPath)).sum).getOrElse(0L)
  }
}
