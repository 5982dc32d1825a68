package graft.tools

import scala.collection.mutable

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}

/** Per-stage anatomy of one registered query: wall time, task count,
  * input/shuffle volumes and the first line of the stage's call site —
  * the evidence `.explain` can't give (WHERE the wall clock went).
  * runMain graft.tools.StageTrace <sfDir> <queryName> (cores: SPARK_GRAFT_CPUS)
  */
object StageTrace {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, name) = args.take(2)
    val spark = graft.GraftSession.local()

    case class St(id: Int, wallMs: Long, tasks: Int, inRec: Long, shrRec: Long,
        shwRec: Long, shwBytes: Long, spill: Long, gcMs: Long, site: String)
    val stages = mutable.ArrayBuffer[St]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
        val si = sc.stageInfo
        val m = si.taskMetrics
        stages += St(
          si.stageId,
          si.completionTime.getOrElse(0L) - si.submissionTime.getOrElse(0L),
          si.numTasks,
          m.inputMetrics.recordsRead,
          m.shuffleReadMetrics.recordsRead,
          m.shuffleWriteMetrics.recordsWritten,
          m.shuffleWriteMetrics.bytesWritten,
          m.memoryBytesSpilled + m.diskBytesSpilled,
          m.jvmGCTime,
          si.details.linesIterator.take(1).mkString)
      }
    })

    val t0 = System.nanoTime()
    val n = graft.ops.Registry.byName(name).run(spark, sfDir).count()
    val wall = (System.nanoTime() - t0) / 1e9
    // listener events are posted asynchronously — settle before printing
    Thread.sleep(2000)
    println(f"[stage-trace] $name total ${wall}%.1f s rows=$n")
    stages.sortBy(-_.wallMs).take(30).foreach { s =>
      println(f"[stage-trace] stage=${s.id}%4d wall=${s.wallMs / 1000.0}%8.1fs tasks=${s.tasks}%3d " +
        f"in=${s.inRec}%12d shR=${s.shrRec}%12d shW=${s.shwRec}%12d shWb=${s.shwBytes / 1048576}%6dMB " +
        f"spill=${s.spill / 1048576}%6dMB gc=${s.gcMs / 1000.0}%6.1fs ${s.site.take(60)}")
    }
    spark.stop()
  }
}
