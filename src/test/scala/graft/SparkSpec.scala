package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.graftshim.ListenerBusShim
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for specs: [[GraftSession.local]], the
  * session the mains run on, at 4 cores and 4 shuffle partitions
  * whatever the machine, so the suite's parallelism is fixed.
  */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session
  val sfDir = "/root/testdata/sf0.001"
}

object SparkSpec {
  lazy val session: SparkSession = {
    // Managed tables (q179's saveAsTable) land in a warehouse of this
    // JVM's own; the builder reads `spark.*` system properties.
    sys.props("spark.sql.warehouse.dir") =
      java.nio.file.Files.createTempDirectory("spark-wh").toString
    GraftSession.local(cores = 4)
  }

  /** `body`'s result and the number of Spark jobs it launched from this
    * thread (tagged by a job group, so jobs of other threads never count).
    */
  def jobsLaunchedBy[T](body: => T): (T, Int) = {
    val sc = session.sparkContext
    val group = s"spec-jobs-${java.util.UUID.randomUUID()}"
    val jobs = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == group))
          jobs.incrementAndGet(): Unit
    }
    sc.addSparkListener(listener)
    sc.setJobGroup(group, "job-count guard")
    try {
      val result = body
      ListenerBusShim.drain(sc)
      (result, jobs.get)
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }
}
