package graft
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.local()
    // Untimed warmup: exercise scan/agg/sort codegen + JIT once so the
    // first measured query doesn't absorb session initialization, and
    // touch each input table once so no measured query pays the
    // first-ever parquet footer/column-reader initialization (profiled:
    // the first scan of any table costs ~1.8s of pure init vs 0.17s
    // warm — a fixed cost that on a long-lived cluster is paid once,
    // not per query).
    spark.range(1000000).selectExpr("sum(id)", "count(distinct id % 7)").collect()
    // Warm the collation-aware string path: Spark 4 routes lower()
    // through ICU for non-ASCII input, whose class init costs ~1.8s
    // cold — and worse when 32 task threads race the init locks
    // (JFR-profiled: UCaseProps.getCaseLocale dominating an entire
    // query's runtime, intermittently, in whichever query first
    // touched non-ASCII case conversion).
    spark.range(32).repartition(32)
      .selectExpr("sum(length(lower(concat('ÅßΓ中文Q', id))))", "sum(length(upper(concat('é', id))))")
      .collect()
    import graft.ops.Tables
    Seq[(org.apache.spark.sql.SparkSession, String) => org.apache.spark.sql.DataFrame](
      Tables.lineitem, Tables.orders, Tables.customer, Tables.supplier,
      Tables.part, Tables.nation, Tables.region, Tables.events,
      Tables.documents, Tables.embeddings,
    ).foreach { t => try t(spark, sfDir).count() catch { case _: Throwable => () } }
    // Optional subset filter for local profiling (comma-separated
    // substrings); unset = full suite, which is what the driver runs.
    val only = sys.env.get("SPARK_GRAFT_QUERIES").map(_.split(",").toSeq)
    val selected = only match {
      case Some(subs) => SparkEntry.queries.filter { case (n, _) => subs.exists(n.contains) }
      case None => SparkEntry.queries
    }
    // Deterministic name order (Map iteration order is hash-order):
    // timings stay attributable run-to-run.
    val ordered = selected.toSeq.sortBy(_._1)
    val benchT0 = System.nanoTime()

    // Pass-boundary instrumentation (round-10, after BENCH_r09's 23.3%
    // spread with an INVERTED pass profile): storage bytes + block
    // counts, cumulative GC time, heap occupancy and live persistent
    // RDDs, logged before/after every pass. If in-process accumulation
    // (checkpoint residue awaiting the ContextCleaner, heap creep) is
    // inflating later passes, these lines show it growing; flat lines
    // + noisy timings = box contention. One artifact, both hypotheses
    // falsifiable.
    def passStats(tag: String): Unit = {
      val bd = org.apache.spark.graftshim.StorageShim.breakdown(spark.sparkContext)
      val gcMs = java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
        .stream.mapToLong(_.getCollectionTime).sum
      val heap = java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
      val rdds = spark.sparkContext.getPersistentRDDs.size
      System.err.println(
        s"[bench-stats] $tag broadcast_bytes=${bd.broadcastBytes} rdd_bytes=${bd.rddBytes} " +
          s"other_bytes=${bd.otherBytes} blocks=${bd.blocks} " +
          s"gc_total_ms=$gcMs heap_used=$heap persistent_rdds=$rdds " +
          f"t=${(System.nanoTime() - benchT0) / 1e9}%.1f")
    }

    // Inter-pass barrier: BLOCKING unpersist of anything still pinned
    // (the per-query drain below is non-blocking — deliberate inside a
    // measured window, but residue can straddle passes), then GC +
    // settle so the ContextCleaner's reference queue drains DEAD
    // broadcasts/checkpoints NOW — measured: broadcast residue grows
    // ~100 MB per 9-query pass with no barrier, and the cleaner only
    // reacts to GC, asynchronously. The next pass starts from a clean
    // block manager instead of paying deferred cleanup inside its own
    // measured window.
    def interPassBarrier(): Unit = {
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
      System.gc()
      Thread.sleep(400) // cleaner drain window (untimed)
      System.gc()
      Thread.sleep(100)
    }

    // Queries that threw in any pass (warmup included): their timings
    // measure a failure, not speed, so stdout names them.
    val failed = scala.collection.mutable.SortedSet.empty[String]

    def runPass(tag: String): Seq[(String, Double)] = {
      passStats(s"$tag-begin")
      val out = runPassInner(tag)
      passStats(s"$tag-end")
      interPassBarrier()
      out
    }

    def runPassInner(tag: String): Seq[(String, Double)] = ordered.map { case (name, fn) =>
      val t0 = System.nanoTime()
      System.err.println(f"[bench-trace] $tag $name start at ${(t0 - benchT0) / 1e9}%.2f")
      try { fn(spark, sfDir).count() } catch {
        case t: Throwable =>
          System.err.println(s"[bench-trace] $tag $name FAILED: ${t.getClass.getName}: ${t.getMessage}")
          failed += name
          -1L
      }
      val elapsed = (System.nanoTime() - t0) / 1e9
      // Untimed: release checkpoint/persist blocks the finished query
      // left in the block manager. The pipelines own their caches
      // (CacheManager is empty), but localCheckpoint RDD blocks are
      // freed by GC via the ContextCleaner — lazily. Dropping them
      // deterministically stops one query's residue from inflating the
      // next query's memory pressure.
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
      // Also untimed: force a collection so the previous query's
      // checkpoint blocks and codegen classes are reclaimed NOW, not
      // asynchronously inside the next query's measured window
      // (observed: alphabetically-late queries absorbing 10-20x
      // spikes from accumulated garbage, gone when run isolated).
      System.gc()
      name -> elapsed
    }

    // Noise discipline (round-6): one untimed warmup pass compiles all
    // plans / codegen classes and faults every input page in, then N
    // timed passes; each query reports its MEDIAN across passes and the
    // headline total is the sum of medians. A single-pass total on this
    // shared-CPU sandbox carries the documented ±45% boot-epoch drift
    // (SCALE_NOTES); the median of 3 interleaved passes is robust to a
    // transient spike landing on any one pass, and the printed per-pass
    // totals give every future number its own error bar.
    val basePasses = sys.env.get("SPARK_GRAFT_BENCH_PASSES").map(_.toInt).getOrElse(3)
    // Probe runs (multi-minute queries at replica scales) can skip the
    // warmup pass: session-init noise is amortized at those runtimes
    // and the probe methodology (SCALE_NOTES) is single-pass isolated.
    if (sys.env.get("SPARK_GRAFT_BENCH_WARMUP").forall(_ != "0")) runPass("warmup")
    var timed: Seq[Seq[(String, Double)]] = (1 to basePasses).map(i => runPass(s"pass$i"))
    def passTotalsOf(t: Seq[Seq[(String, Double)]]): Seq[Double] = t.map(_.map(_._2).sum)
    // Same-run dispersion: (max-min)/median of the pass totals — the
    // error bar to read any cross-round comparison against.
    def spreadOf(pt: Seq[Double]): Double =
      if (pt.isEmpty || pt.min <= 0) 0.0
      else 100.0 * (pt.max - pt.min) / pt.sorted.apply(pt.size / 2)
    // Spread hygiene (round-9, after r8's 15.8%-spread artifact): when
    // the default 3 passes disperse past 12%, one pass ran hot and the
    // median sits on a 2-good-1-bad sample — two more passes make the
    // median a 5-sample statistic and keep driver artifacts readable
    // round-over-round. Bounded (at most 2 extra), and only on the
    // default configuration — an explicit SPARK_GRAFT_BENCH_PASSES is
    // a probe methodology and stays exactly what it asked for.
    if (sys.env.get("SPARK_GRAFT_BENCH_PASSES").isEmpty &&
      spreadOf(passTotalsOf(timed)) > 12.0) {
      System.err.println(
        f"[bench] 3-pass spread ${spreadOf(passTotalsOf(timed))}%.1f%% > 12%% — running 2 more passes")
      timed = timed ++ (basePasses + 1 to basePasses + 2).map(i => runPass(s"pass$i"))
    }
    val passes = timed.size
    val medians: Seq[(String, Double)] = ordered.map { case (name, _) =>
      val obs = timed.map(_.toMap.apply(name)).sorted
      name -> obs(obs.size / 2)
    }
    val passTotals = passTotalsOf(timed)
    val total = medians.map(_._2).sum
    val spreadPct = spreadOf(passTotals)
    val qs = medians.map { case (k, v) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val pt = passTotals.map(t => f"$t%.2f").mkString("[", ",", "]")
    // Write-benchmark split (round-7): these queries' measured work is
    // dominated by materializing a persistent artifact (a partitioned
    // catalog table, a bucketed table, a run-fenced sink landing) — a
    // real cost, but a STORAGE cost, not a query-plan cost. `value`
    // stays the full total for cross-round comparability; `read_total`
    // is the query-plan-only figure to read plan regressions against.
    val writeQueries = Set(
      "q179_bucketed_join", "q186_catalog_fact_serving",
      "q190_kcore_peel", "q212_latest_runs_listing",
      // r9: same landing+seal shape as q212 (12 runs written per
      // execution) — storage cost, not query-plan cost
      "q257_runtime_pruned_reconcile")
    // Guard against silent drift: on a full-suite run every write
    // benchmark must still exist under its expected name, or the
    // read/write split would silently misattribute storage cost to
    // read_total across rounds.
    if (only.isEmpty) {
      val missing = writeQueries -- medians.map(_._1).toSet
      require(missing.isEmpty, s"writeQueries renamed/removed: $missing")
    }
    val writeTotal = medians.collect { case (k, v) if writeQueries(k) => v }.sum
    val readTotal = total - writeTotal
    val failedJson = failed.map(n => "\"" + n + "\"").mkString("[", ",", "]")
    println(s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"sf":"$sfDir","passes":$passes,"pass_totals":$pt,"spread_pct":${f"$spreadPct%.1f"},"read_total":${f"$readTotal%.3f"},"write_total":${f"$writeTotal%.3f"},"failed":$failedJson}""")
    spark.stop()
  }
}
