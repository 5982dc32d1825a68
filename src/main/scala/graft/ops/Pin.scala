package graft.ops

import org.apache.spark.sql.DataFrame

/** Lineage pinning for iterative loops (run through [[Rounds]]) and
  * for frames a plan reads more than once: every loop round must cut
  * the plan lineage or planning time doubles per iteration. The
  * DEFAULT is `localCheckpoint` — executor block storage, no extra
  * I/O, the right call on a healthy cluster and in local mode.
  *
  * The escape hatch: `localCheckpoint` blocks live on executors, so on
  * a real multi-executor cluster LOSING an executor mid-loop kills the
  * computation (local checkpoints are non-recoverable by design —
  * public Spark scaladoc on `Dataset.localCheckpoint`). For long loops
  * on preemptible/spot executors, set
  *
  * {{{
  * spark.conf.set(Pin.Flag, "true")
  * spark.sparkContext.setCheckpointDir("hdfs://…/checkpoints") // or s3a://
  * }}}
  *
  * and every loop round writes a RELIABLE checkpoint to the fault-
  * tolerant store instead — survivable at the price of one write+read
  * of the (small, shrinking) per-round frame. No query signature
  * changes: the flag is session-scoped runtime conf, flippable per job
  * (`--conf spark.graft.reliableCheckpoints=true`).
  *
  * Mirrors the durability contract the reference states for its
  * control-plane persistence (gads-etl `docs/storage_realism.md:35-40`):
  * transient state may be fast-but-lossy only where a retry can
  * rebuild it; anything a long computation depends on needs a durable
  * home.
  */
object Pin {

  /** Session conf flag: "true" → reliable `checkpoint()` into the
    * configured checkpoint dir; anything else → `localCheckpoint()`.
    */
  val Flag = "spark.graft.reliableCheckpoints"

  def apply(df: DataFrame, eager: Boolean): DataFrame = {
    val spark = df.sparkSession
    val reliable = spark.conf.getOption(Flag).exists(_.equalsIgnoreCase("true"))
    if (reliable) {
      require(
        spark.sparkContext.getCheckpointDir.isDefined,
        s"$Flag=true requires spark.sparkContext.setCheckpointDir(<fault-tolerant dir>)")
      // Persist first: `checkpoint` computes the plan once for its
      // action and AGAIN in the separate job that writes the
      // checkpoint files — the cache turns the second pass into a
      // read. Always eager here (the caller's lazy probe-as-
      // materializer trick saves one job in local mode; in reliable
      // mode the files must exist before unpersist anyway).
      // Cleanup: Spark never deletes reliable checkpoints on its own —
      // set spark.cleaner.referenceTracking.cleanCheckpoints=true so
      // superseded rounds' files are removed as their frames are GC'd,
      // and point the checkpoint dir at a per-job path that the job
      // runner can delete at exit.
      val persisted = df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val out = persisted.checkpoint(eager = true)
      persisted.unpersist()
      out
    } else df.localCheckpoint(eager)
  }

  /** Pin `df` MATERIALIZED IN A CHOSEN LAYOUT: hash-partitioned on
    * `parts` at the session's shuffle parallelism (optionally sorted
    * within partitions), with the partitioning/ordering CAPTURED into
    * the checkpointed frame so every downstream join/aggregate on the
    * same keys plans exchange-free and sort-free against it — the
    * bucketed-table contract without the table. Two non-obvious rules
    * this helper owns (r10, measured):
    *
    *  - the checkpoint must plan NON-adaptively: under AQE,
    *    `Dataset.checkpoint` captures UnknownPartitioning and every
    *    consumer re-exchanges the pinned frame (3 exchanges per LPA
    *    round instead of ≤1). Since r11 the non-adaptive planning is
    *    SCOPED TO A CLONED SESSION (shared SparkContext, private
    *    SQLConf) instead of flipping the caller's session conf — a
    *    concurrent query on the caller's session can never observe
    *    the flip (the r10 verdict's residual #3);
    *  - `repartition(n, cols)` carries REPARTITION_BY_NUM, so the
    *    layout is also immune to AQE coalescing when consumed.
    */
  def pinPartitioned(
      df: DataFrame,
      parts: Seq[org.apache.spark.sql.Column],
      sortBy: Seq[org.apache.spark.sql.Column] = Nil): DataFrame = {
    val spark = df.sparkSession
    val n = spark.sessionState.conf.numShufflePartitions
    val rp = df.repartition(n, parts: _*)
    pinAligned(if (sortBy.isEmpty) rp else rp.sortWithinPartitions(sortBy: _*))
  }

  /** Pin `df` keeping WHATEVER partitioning its plan already carries
    * (no repartition) — the [[pinPartitioned]] capture rule for frames
    * that are ALREADY laid out right by lineage (e.g. an aggregate or
    * join keyed like the pinned frame it reads): the checkpoint is
    * planned in the non-adaptive clone ([[onClone]]) so it records
    * HashPartitioning instead of AQE's Unknown, and the next round's
    * join/aggregate on the same key stays exchange-free. The checkpoint
    * scan is rebound to the caller's session.
    */
  def pinAligned(df: DataFrame, eager: Boolean = true): DataFrame =
    org.apache.spark.sql.graftshim.DatasetShim.ofRows(
      df.sparkSession, onClone(df)(Pin(_, eager)).queryExecution.analyzed)

  /** ONE non-adaptive clone per caller session, created lazily and
    * reused for every pin: a clone per pin call (loops pin every round)
    * would build a fresh session state each time. The weak keys
    * release a retired parent's clone: once the parent is collected,
    * the map's next use drops its entry and the clone is collected
    * too. A clone leaves nothing on the shared SparkContext listener
    * bus: in Spark 4.1 a session's ExecutionListenerManager creates its
    * bus only when a QueryExecutionListener is registered on it, and
    * Pin registers none (PinSpec checks both). As for any session, a
    * Spark thread-pool thread created while the parent or the clone
    * was the active session inherits it and keeps it reachable until
    * that idle thread exits.
    */
  private val cloneCache =
    new java.util.WeakHashMap[org.apache.spark.sql.SparkSession, org.apache.spark.sql.SparkSession]

  /** Apply `f` to `df` rebound to its session's non-adaptive clone. The
    * clone shares the SparkContext (so blocks, broadcasts and checkpoint
    * RDDs are the same), but its SQLConf is private: no session-global
    * conf mutation is observable by any concurrent query. First the
    * clone's runtime conf is synced to the caller's (every non-static
    * entry set or unset to match), so whatever the caller set —
    * broadcast thresholds, join and codegen switches, [[Flag]] —
    * governs `f`'s plans too. The sync and `f` hold the clone's lock,
    * so `f` always plans under one consistent snapshot of its caller's
    * conf.
    */
  private[ops] def onClone[T](df: DataFrame)(f: DataFrame => T): T = {
    import org.apache.spark.sql.graftshim.DatasetShim
    import org.apache.spark.sql.internal.SQLConf
    val spark = df.sparkSession
    val clone = cloneCache.synchronized {
      cloneCache.computeIfAbsent(spark, s => s.newSession())
    }
    clone.synchronized {
      val cloneConf = clone.sessionState.conf
      def runtime(m: Map[String, String]) = m.filter { case (k, _) => !SQLConf.isStaticConfigKey(k) }
      val want = runtime(spark.sessionState.conf.getAllConfs) +
        (SQLConf.ADAPTIVE_EXECUTION_ENABLED.key -> "false")
      val have = runtime(cloneConf.getAllConfs)
      (have.keySet -- want.keySet).foreach(cloneConf.unsetConf)
      want.foreach { case (k, v) => if (!have.get(k).contains(v)) cloneConf.setConfString(k, v) }
      f(DatasetShim.ofRows(clone, df.queryExecution.analyzed))
    }
  }

  /** `df.pinLineage(eager)` — chainable form of [[Pin.apply]]. */
  implicit class PinOps(private val df: DataFrame) extends AnyVal {
    def pinLineage(eager: Boolean = true): DataFrame = Pin(df, eager)
  }
}
