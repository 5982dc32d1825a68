package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.SparkSpec.jobsLaunchedBy
import graft.functions.VectorFunctions
import graft.llm.SimilarityPipeline

/** Loop guard: every operator that runs on [[Rounds]] builds and
  * materializes its result on a small fixture within a fixed job budget,
  * and leaves nothing pinned behind it that its result does not read:
  * no superseded round's state and no loop-invariant input.
  */
class RoundsSpec extends SparkSpec {
  import spark.implicits._

  // a 6-path, a triangle and a pair: the path's min label needs 5 hops
  private lazy val graph = Seq(
    (1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (5L, 6L),
    (10L, 11L), (11L, 12L), (12L, 10L), (20L, 21L)).toDF("a", "b")
  private lazy val fp = Tables.embeddings(spark, sfDir)
    .select(col("vec_id"), VectorFunctions.quantizeFp(col("embedding"), 10000000L).as("q"))

  /** RDD ids of the persisted frames `df`'s plan reads. */
  private def readRdds(df: DataFrame): Set[Int] =
    df.queryExecution.analyzed.collectLeaves().collect {
      case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd.id
    }.toSet

  /** Jobs `loop` launches building its result and collecting it once,
    * and the RDDs it left persisted that the result does not read.
    */
  private def run(loop: => DataFrame): (Int, Set[Int]) = {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet.toSet
    val (out, jobs) = jobsLaunchedBy { val df = loop; df.collect(); df }
    (jobs, sc.getPersistentRDDs.keySet.toSet -- before -- readRdds(out))
  }

  // (loop, its job budget — measured on these fixtures: what it launched
  // before it ran on Rounds, and for bfsHops since its rounds plan
  // co-partitioned)
  private val loops: Seq[(String, Int, () => DataFrame)] = Seq(
    ("connectedComponents", 30, () => Components.connectedComponents(graph, "a", "b")),
    ("connectedComponentsStar", 36, () => Components.connectedComponentsStar(graph, "a", "b")),
    ("bfsHops", 9, () => GraphOps.bfsHops(graph, "a", "b", Seq(1L, 10L).toDF("v"), "v")),
    ("kCorePeel converged", 16, () => GraphOps.kCorePeel(graph, "a", "b", k = 2, rounds = 5)),
    ("kCorePeel bounded", 10, () => GraphOps.kCorePeel(graph, "a", "b", k = 2, rounds = 2)),
    ("kmeansCentroidsFp", 28, () => SimilarityPipeline.kmeansCentroidsFp(fp, cells = 4, iters = 3)),
    ("ivfAssignCellsFp", 57, () => SimilarityPipeline.ivfAssignCellsFp(fp, cells = 4, iters = 3)),
  )

  test("iterate reports the rounds it ran and whether stop or the bound ended it") {
    val zero = spark.range(1).select(lit(0L).as("x"))
    def climb(from: DataFrame, maxRounds: Int) =
      Rounds.iterate(from, maxRounds)(_.agg(max("x")).head().getLong(0))(
        (s, _) => s.select((col("x") + 1).as("x")))((_, x) => x >= 3)
    val stopped = climb(zero, 5)
    assert((stopped.rounds, stopped.stopped) == ((3, true)))
    assert(stopped.state.as[Long].collect().toSeq == Seq(3L))
    val bounded = climb(zero, 2)
    assert((bounded.rounds, bounded.stopped) == ((2, false)))
    assert(bounded.state.as[Long].collect().toSeq == Seq(2L))
    assert(climb(zero.select(lit(7L).as("x")), 5).rounds == 0, "stop is tested on the initial state")
    val fixed = Rounds.fixed(zero, 4)(_.select((col("x") + 1).as("x")))
    assert(fixed.as[Long].collect().toSeq == Seq(4L))
  }

  test("bfsHops: one job per extra round on a path graph") {
    def jobs(n: Long): Int = run(GraphOps.bfsHops(
      (1L until n).map(i => (i, i + 1)).toDF("a", "b"), "a", "b", Seq(1L).toDF("v"), "v"))._1
    // seeded at one end, a path of n vertices takes n rounds (the last
    // one reaches nothing)
    assert(jobs(9) - jobs(6) == 3)
  }

  for ((name, parentJobs, loop) <- loops)
    test(s"$name: at most $parentJobs jobs; no superseded round stays pinned") {
      val (jobs, leftover) = run(loop())
      assert(jobs <= parentJobs, s"$name launched $jobs jobs")
      assert(leftover.isEmpty, s"$name left ${leftover.size} persisted RDDs its result does not read")
    }
}
