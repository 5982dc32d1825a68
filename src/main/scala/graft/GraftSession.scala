package graft

import org.apache.spark.sql.SparkSession

/** The one local session graft runs on — the mains (Bench, Verify and
  * the tools) and the spec suite — configured in one place:
  * `local[cores]` with as many shuffle partitions as cores, no UI, UTC
  * session time zone, 4m Tungsten pages and WARN logging.
  *
  * Lifetime: a thread that one of Spark's cached pools (shuffle
  * exchange, broadcast) creates while a session is active inherits it
  * as its active session, and keeps that session reachable until the
  * idle thread exits. Through `Pin`'s weak-keyed clone cache it keeps
  * the session's non-adaptive clone reachable too. This matters only
  * to an application that creates many short-lived sessions; graft's
  * mains and specs hold one.
  */
object GraftSession {

  /** @param cores local cores; the mains take `$SPARK_GRAFT_CPUS`
    *   (default 4), the spec suite fixes 4 so its parallelism does not
    *   follow the machine.
    */
  def local(cores: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toLong)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      // Tungsten page size is derived from heap/cores when unset: on a
      // large-heap local[32] JVM (~90g heap) it hits the 64MB cap and
      // every small task allocates+zeroes 64MB pages — measured 6×
      // slowdown on the shuffle-heavy queries (q30 35s -> 5.8s at 90g).
      // Pin a sane page size for local task sizes; real clusters with
      // normal executor heaps derive ~the same value on their own.
      .config("spark.buffer.pageSize", "4m")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
