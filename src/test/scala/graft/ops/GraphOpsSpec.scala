package graft.ops

import org.apache.spark.sql.functions._

import graft.SparkSpec

class GraphOpsSpec extends SparkSpec {
  import spark.implicits._

  private def tri(edges: Seq[(Long, Long)]): Map[Long, Long] =
    GraphOps.triangleCounts(edges.toDF("a", "b"), "a", "b")
      .as[(Long, Long)].collect().toMap

  /** Naive reference: count closed triples over the canonical edge set. */
  private def triBrute(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val es = edges.filter(e => e._1 != e._2)
      .map(e => (math.min(e._1, e._2), math.max(e._1, e._2))).toSet
    val vs = es.flatMap(e => Seq(e._1, e._2))
    val triples = (for {
      Seq(x, y, z) <- vs.toSeq.sorted.combinations(3)
      if es((x, y)) && es((y, z)) && es((x, z))
    } yield Seq(x, y, z)).toSeq
    val counts = triples.flatten.groupBy(identity[Long]).map { case (v, o) => v -> o.size.toLong }
    vs.map(v => v -> counts.getOrElse(v, 0L)).toMap
  }

  test("triangle counts match brute force on fixture graphs") {
    val fixtures = Seq(
      // triangle + pendant + disjoint edge
      Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L), (10L, 11L)),
      // K4 (every vertex in 3 triangles)
      Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L)),
      // triangle-free path
      Seq((1L, 2L), (2L, 3L), (3L, 4L)),
      // two triangles sharing an edge + duplicate/reversed/self-loop noise
      Seq((1L, 2L), (2L, 3L), (3L, 1L), (1L, 4L), (4L, 2L), (2L, 1L), (3L, 3L), (1L, 2L)),
    )
    fixtures.foreach(f => assert(tri(f) == triBrute(f), s"fixture $f"))
  }

  test("hubCappedClusteringCoeff: star center excluded-and-reported, triangles stay exact on the pruned graph") {
    // two disjoint triangles + a degree-6 star center wired to all six
    // vertices: with hubFrac = 7 (⌈7/7⌉ = 1 hub) exactly the center is
    // excluded, and every survivor's coefficient is the PRUNED graph's
    // exact value — a plain triangle corner: cc_bp = 20000·1/(2·1)
    val edges = Seq(
      (1L, 2L), (2L, 3L), (1L, 3L),
      (4L, 5L), (5L, 6L), (4L, 6L),
    ) ++ (1L to 6L).map(v => (100L, v))
    val got = GraphOps.hubCappedClusteringCoeff(edges.toDF("a", "b"), "a", "b", hubFrac = 7)
      .as[(Long, Long, Boolean, Long, Long, Long)].collect()
      .map(r => r._1 -> r).toMap
    assert(got(100L) == ((100L, 6L, true, 0L, 0L, -1L)), s"hub row ${got(100L)}")
    (1L to 6L).foreach { v =>
      assert(got(v) == ((v, 3L, false, 2L, 1L, 10000L)), s"survivor $v: ${got(v)}")
    }
  }

  test("hubCappedClusteringCoeff: hub count is ⌈|V|/hubFrac⌉ and pruned degrees respect the cap") {
    val edges = Tables.lineitem(spark, sfDir)
      .select("l_orderkey", "l_partkey").distinct().as("x")
      .join(Tables.lineitem(spark, sfDir).select("l_orderkey", "l_partkey").distinct().as("y"),
        col("x.l_orderkey") === col("y.l_orderkey") && col("x.l_partkey") < col("y.l_partkey"))
      .select(col("x.l_partkey").as("a"), col("y.l_partkey").as("b"))
      .distinct()
    val out = GraphOps.hubCappedClusteringCoeff(edges, "a", "b", hubFrac = 100)
      .as[(Long, Long, Boolean, Long, Long, Long)].collect()
    val n = out.length.toLong
    val hubs = out.filter(_._3)
    assert(hubs.length.toLong == (n + 99) / 100,
      s"expected ${(n + 99) / 100} hubs over $n vertices, got ${hubs.length}")
    // the work bound the operator exists for: nothing in the pruned
    // graph is heavier than the lightest excluded hub
    val minHubDeg = hubs.map(_._2).min
    val maxPruned = out.filter(!_._3).map(_._4).max
    assert(maxPruned <= minHubDeg,
      s"pruned degree $maxPruned exceeds the hub cap $minHubDeg")
    // hubs are excluded-and-reported, never scored
    assert(hubs.forall(h => h._4 == 0L && h._5 == 0L && h._6 == -1L))
  }

  private type HubRow = (Long, Long, Boolean, Long, Long, Long)

  private def hubCapped(edges: Seq[(Long, Long)], hubFrac: Int): Map[Long, HubRow] =
    GraphOps.hubCappedClusteringCoeff(edges.toDF("a", "b"), "a", "b", hubFrac)
      .as[HubRow].collect().map(r => r._1 -> r).toMap

  /** Naive reference: rank vertices by (degree desc, id asc), exclude the
    * first ⌈|V|/hubFrac⌉, count triangles of the rest by brute force.
    */
  private def hubCappedBrute(edges: Seq[(Long, Long)], hubFrac: Int): Map[Long, HubRow] = {
    val es = edges.filter(e => e._1 != e._2)
      .map(e => (math.min(e._1, e._2), math.max(e._1, e._2))).distinct
    def degrees(es: Seq[(Long, Long)]): Map[Long, Long] =
      es.flatMap(e => Seq(e._1, e._2)).groupBy(identity).map { case (v, o) => v -> o.size.toLong }
    val deg = degrees(es)
    val ranked = deg.toSeq.sortBy { case (v, d) => (-d, v) }.map(_._1)
    val hubs = ranked.take((ranked.size + hubFrac - 1) / hubFrac).toSet
    val pruned = es.filterNot(e => hubs(e._1) || hubs(e._2))
    val (degP, tri) = (degrees(pruned), if (pruned.isEmpty) Map.empty[Long, Long] else triBrute(pruned))
    deg.map { case (v, d) =>
      val (pd, t) = (degP.getOrElse(v, 0L), tri.getOrElse(v, 0L))
      val cc = if (hubs(v)) -1L else if (pd >= 2) 20000 * t / (pd * (pd - 1)) else 0L
      v -> ((v, d, hubs(v), pd, t, cc))
    }
  }

  /** Seeded random graphs whose hub cutoff degree is shared by vertices
    * on both sides of the cutoff.
    */
  private lazy val tieSplitGraphs: Seq[(Int, Seq[(Long, Long)], Int)] =
    (1 to 200).iterator.map { seed =>
      val rnd = new scala.util.Random(seed)
      val n = 20 + rnd.nextInt(20)
      (seed, Seq.fill(3 * n)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong)), 3 + rnd.nextInt(6))
    }.filter { case (_, edges, hubFrac) =>
      val hubs = hubCappedBrute(edges, hubFrac).values.toSeq
      val cut = hubs.filter(_._3).map(_._2).min
      hubs.exists(r => !r._3 && r._2 == cut)
    }.take(4).toSeq

  test("hubCappedClusteringCoeff equals the naive reference where the cutoff degree splits a tie") {
    assert(tieSplitGraphs.size == 4)
    for ((seed, edges, hubFrac) <- tieSplitGraphs)
      assert(hubCapped(edges, hubFrac) == hubCappedBrute(edges, hubFrac), s"seed=$seed hubFrac=$hubFrac")
    // a star over a triangle: the cutoff holds its whole tie (hubFrac
    // 2), a lone top degree (7), or splits the triangle's tie (3)
    val star = (1L to 6L).map(v => (100L, v)) ++ Seq((1L, 2L), (2L, 3L), (1L, 3L))
    for (hubFrac <- Seq(2, 3, 7))
      assert(hubCapped(star, hubFrac) == hubCappedBrute(star, hubFrac), s"star hubFrac=$hubFrac")
    // every degree tied: more hubs than histogram rows, so the tied ids
    // are ranked globally
    assert(hubCapped(cycle, 4) == hubCappedBrute(cycle, 4))
  }

  private lazy val cycle = (0L until 30L).map(v => (v, (v + 1) % 30))

  test("hubCappedClusteringCoeff: job budget to build and collect, cutoff tie included") {
    val (seed, edges, hubFrac) = tieSplitGraphs.head
    val jobs = Seq((s"tie-split graph seed=$seed", edges, hubFrac, 18), ("ranked cycle", cycle, 4, 21))
      .map { case (name, g, frac, budget) =>
        (name, SparkSpec.jobsLaunchedBy(
          GraphOps.hubCappedClusteringCoeff(g.toDF("a", "b"), "a", "b", frac).collect())._2, budget)
      }
    assert(jobs.forall { case (_, n, budget) => n <= budget }, s"(case, jobs launched, budget): $jobs")
  }

  test("hub skew: star core plus one closing edge counts exactly one triangle") {
    // vertex 0 adjacent to 1..40 (hub), single closing edge (1,2):
    // orientation keeps the hub's out-degree at ~1, and the count is
    // exact — one triangle on (0,1,2), zero elsewhere
    val star = (1L to 40L).map(i => (0L, i)) :+ (1L, 2L)
    val got = tri(star)
    assert(got(0L) == 1L && got(1L) == 1L && got(2L) == 1L)
    assert((3L to 40L).forall(got(_) == 0L))
  }

  private def pr(edges: Seq[(Long, Long)], iters: Int = 3): Map[Long, Long] =
    GraphOps.pageRankFixed(edges.toDF("a", "b"), "a", "b", iters)
      .as[(Long, Long)].collect().toMap

  test("pagerank conserves mass up to floor loss and is row-order invariant") {
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L), (4L, 5L), (10L, 11L))
    val got = pr(edges)
    val n = got.size.toLong
    val mass = got.values.sum
    // each floor loses < 1 unit per (vertex, step); 3 iterations of
    // two floors over n vertices bound the total loss
    assert(mass <= n * 1000000000L)
    assert(mass >= n * 1000000000L - 6L * n * 1000L, s"mass $mass vs n·S ${n * 1000000000L}")
    assert(pr(edges.reverse.map(e => (e._2, e._1))) == got, "row order / direction must not matter")
  }

  test("pagerank symmetry: automorphic vertices get identical ranks") {
    // path 1-2-3: endpoints 1 and 3 are exchangeable
    val got = pr(Seq((1L, 2L), (2L, 3L)))
    assert(got(1L) == got(3L))
    assert(got(2L) > got(1L), "the center of a path outranks the endpoints")
  }

  test("pagerank on a regular graph is uniform at every iteration count") {
    // 4-cycle: all degrees 2, ranks stay exactly S
    val cycle = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L))
    (1 to 4).foreach { k =>
      val got = pr(cycle, iters = k)
      assert(got.values.toSet.size == 1, s"iters=$k: $got")
    }
  }

  private def bfs(edges: Seq[(Long, Long)], seeds: Seq[Long], maxHops: Int = 20): Map[Long, Long] =
    GraphOps.bfsHops(edges.toDF("a", "b"), "a", "b", seeds.toDF("v"), "v", maxHops)
      .as[(Long, Long)].collect().toMap

  test("bfsHops: exact level distances; detached components and off-graph seeds excluded") {
    // path 1-2-3-4 plus detached edge 5-6; seed 9 is not a vertex
    val got = bfs(Seq((1L, 2L), (2L, 3L), (3L, 4L), (5L, 6L)), Seq(1L, 9L))
    assert(got == Map(1L -> 0L, 2L -> 1L, 3L -> 2L, 4L -> 3L))
  }

  test("bfsHops: multi-source takes the NEAREST seed; maxHops truncates the frontier") {
    // path 1..6 seeded at both ends: middle meets at min distance
    val path = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (5L, 6L))
    assert(bfs(path, Seq(1L, 6L)) ==
      Map(1L -> 0L, 2L -> 1L, 3L -> 2L, 4L -> 2L, 5L -> 1L, 6L -> 0L))
    assert(bfs(path, Seq(1L), maxHops = 2) == Map(1L -> 0L, 2L -> 1L, 3L -> 2L))
  }

  test("labelPropagation splits a bridged pair of triangles ONE component holds") {
    // two triangles joined by a bridge: components would report one
    // blob; 3 LPA rounds settle each triangle on its own label
    // (hand-traced: min-tie rounds give {1,2,3}→1 and {10,11,12}→3)
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L),
      (10L, 11L), (11L, 12L), (12L, 10L), (3L, 10L))
    val r = GraphOps.labelPropagation(edges.toDF("a", "b"), "a", "b", rounds = 3)
      .as[(Long, Long)].collect().toMap
    assert(r == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 3L, 11L -> 3L, 12L -> 3L))
    // row-order invariance: reversed/duplicated edge input, same labels
    val noisy = (edges.reverse ++ edges.map(e => (e._2, e._1)))
    val r2 = GraphOps.labelPropagation(noisy.toDF("a", "b"), "a", "b", rounds = 3)
      .as[(Long, Long)].collect().toMap
    assert(r2 == r)
  }

  test("q180: triangle corner vs pendant clustering coefficients on a hand graph") {
    val dir = java.nio.file.Files.createTempDirectory("q180fix").toString
    // order 1 co-purchases parts {1,2,3} (a triangle), order 2 adds the
    // pendant edge 1-4: deg(1)=3 tri(1)=1 -> cc = 20000/(3*2) = 3333;
    // deg(2)=deg(3)=2 tri=1 -> 10000; deg(4)=1 -> 0
    Seq((1L, 1L), (1L, 2L), (1L, 3L), (2L, 1L), (2L, 4L))
      .toDF("l_orderkey", "l_partkey").write.parquet(s"$dir/lineitem.parquet")
    val got = GraphQueries.q180.run(spark, dir).collect()
      .map(r => r.getAs[Long]("part_key") ->
        (r.getAs[Long]("degree"), r.getAs[Long]("n_tri"), r.getAs[Long]("cc_bp"))).toMap
    assert(got == Map(
      1L -> ((3L, 1L, 3333L)),
      2L -> ((2L, 1L, 10000L)),
      3L -> ((2L, 1L, 10000L)),
      4L -> ((1L, 0L, 0L))))
  }

  /** Brute-force k-core fixpoint: peel until stable, return in-core degrees. */
  private def kCoreBrute(edges: Seq[(Long, Long)], k: Int): Map[Long, Long] = {
    var es = edges.filter(e => e._1 != e._2)
      .map(e => (math.min(e._1, e._2), math.max(e._1, e._2))).distinct
    var changed = true
    while (changed) {
      val deg = es.flatMap(e => Seq(e._1, e._2)).groupBy(identity).map { case (v, o) => v -> o.size }
      val keep = deg.filter(_._2 >= k).keySet
      val next = es.filter(e => keep(e._1) && keep(e._2))
      changed = next.size != es.size
      es = next
    }
    es.flatMap(e => Seq(e._1, e._2)).groupBy(identity).map { case (v, o) => v -> o.size.toLong }
  }

  private def kCore(edges: Seq[(Long, Long)], k: Int, rounds: Int): Map[Long, Long] =
    GraphOps.kCorePeel(edges.toDF("a", "b"), "a", "b", k, rounds)
      .as[(Long, Long)].collect().toMap

  test("kCorePeel: triangle survives the 2-peel, pendant and path cascade away") {
    // triangle {1,2,3} + pendant 3-4: round 1 drops 4 (deg 1), stable after
    val g1 = Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L))
    assert(kCore(g1, k = 2, rounds = 4) == Map(1L -> 2L, 2L -> 2L, 3L -> 2L))
    // path graph: 2-peel cascades from both ends to empty
    val g2 = Seq((1L, 2L), (2L, 3L), (3L, 4L))
    assert(kCore(g2, k = 2, rounds = 4) == Map.empty[Long, Long])
    // noise invariance: duplicates/reversals/self-loops don't change the core
    val noisy = g1 ++ g1.map(e => (e._2, e._1)) ++ Seq((5L, 5L))
    assert(kCore(noisy, k = 2, rounds = 4) == kCore(g1, k = 2, rounds = 4))
  }

  test("kCorePeel with ample rounds matches the brute-force fixpoint core") {
    // deterministic pseudo-random graph: moderate density, some low-degree fringe
    val rnd = new scala.util.Random(421)
    val edges = Seq.fill(160)((rnd.nextInt(28).toLong, rnd.nextInt(28).toLong))
    for (k <- Seq(2, 4, 6, 9)) {
      assert(kCore(edges, k, rounds = 30) == kCoreBrute(edges, k), s"k=$k")
    }
  }

  test("kCorePeel bounded rounds stop mid-cascade: each round peels one layer") {
    // path 1-2-3-4-5-6: 2-peel drops one layer of endpoints per round
    val path = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (5L, 6L))
    // round 1 drops {1,6}; round 2 drops {2,5}; rounds=2 leaves edge 3-4
    assert(kCore(path, k = 2, rounds = 2) == Map(3L -> 1L, 4L -> 1L))
  }

  test("kCorePeel broadcast rail: forcing the shuffled-anti fallback changes nothing") {
    val rnd = new scala.util.Random(77)
    val edges = Seq.fill(120)((rnd.nextInt(24).toLong, rnd.nextInt(24).toLong))
    val viaBcast = kCore(edges, k = 3, rounds = 20)
    val viaShuffle = GraphOps.kCorePeel(
      edges.toDF("a", "b"), "a", "b", k = 3, rounds = 20,
      broadcastRailRows = 0L) // every layer exceeds the rail
      .as[(Long, Long)].collect().toMap
    assert(viaShuffle == viaBcast, "the fallback path must peel identically")
    assert(viaBcast == kCoreBrute(edges, 3))
  }

  /** The FINAL (post-AQE) section of the executed plan string. */
  private def finalPlanStr(df: org.apache.spark.sql.DataFrame): String = {
    val s = df.queryExecution.executedPlan.toString
    val i = s.indexOf("== Initial Plan ==")
    if (i >= 0) s.substring(0, i) else s
  }

  /** The OLD (pre-r11) operator semantics, replayed literally: full
    * degree recount of the filtered edge set every round, bounded
    * rounds, early exit when a round drops nothing. The delta form
    * must match this EXACTLY — including mid-cascade truncation —
    * on any graph.
    */
  private def kCoreRecount(edges: Seq[(Long, Long)], k: Int, rounds: Int): Map[Long, Long] = {
    var es = edges.filter(e => e._1 != e._2)
      .map(e => (math.min(e._1, e._2), math.max(e._1, e._2))).distinct
    var stable = false
    for (_ <- 1 to rounds if !stable) {
      val deg = es.flatMap(e => Seq(e._1, e._2)).groupBy(identity).map { case (v, o) => v -> o.size }
      val dead = deg.filter(_._2 < k).keySet
      if (dead.isEmpty) stable = true
      else es = es.filterNot(e => dead(e._1) || dead(e._2))
    }
    es.flatMap(e => Seq(e._1, e._2)).groupBy(identity).map { case (v, o) => v -> o.size.toLong }
  }

  test("kCorePeel DELTA ≡ RECOUNT: bounded rounds, every k, random graphs (r11 equivalence pin)") {
    // the r11 delta-frontier form replaces the per-round full degree
    // recount with layer-loss subtraction; this property test replays
    // the recount semantics and demands exact agreement INCLUDING
    // mid-cascade round budgets (where a wrong 0-degree or dead-layer
    // rule would diverge)
    for (seed <- Seq(1, 42, 421); (n, m) <- Seq((20, 60), (28, 160), (16, 30))) {
      val rnd = new scala.util.Random(seed)
      val edges = Seq.fill(m)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
      for (k <- Seq(2, 3, 5, 8); rounds <- Seq(1, 2, 3, 30)) {
        assert(kCore(edges, k, rounds) == kCoreRecount(edges, k, rounds),
          s"seed=$seed n=$n m=$m k=$k rounds=$rounds")
      }
    }
  }

  test("kCorePeel delta round: broadcast semi-join loss probe, co-partitioned update, ZERO exchange") {
    import graft.ops.Pin
    val g = Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L), (4L, 5L))
    val sym = (g ++ g.map(e => (e._2, e._1))).toDF("a", "b")
    val adj = Pin.pinPartitioned(sym, Seq(col("a")), Seq(col("a")))
    val deg = Pin.pinAligned(adj.groupBy(col("a").as("v")).agg(count(lit(1)).as("dg")))
    val layer = broadcast(deg.where(col("dg") < 2).select("v"))
    val next = GraphOps.peelRound(adj, deg, layer, k = 2)
    // survivors after peeling {5}: 4 loses its edge to 5
    assert(next.as[(Long, Long)].collect().toMap ==
      Map(1L -> 2L, 2L -> 2L, 3L -> 3L, 4L -> 1L))
    val plan = finalPlanStr(next)
    assert(plan.contains("BroadcastHashJoin") && plan.contains("LeftSemi"),
      s"the loss probe must be a broadcast semi-join of the pinned adjacency:\n$plan")
    assert(!plan.contains("Exchange hashpartitioning"),
      s"a delta peel round must not shuffle anything — the loss aggregate rides the " +
        s"adjacency partitioning and the update join is co-partitioned:\n$plan")
  }

  test("kCorePeel result frame reads the pinned delta degree frame, exchange-free") {
    val g = Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L), (4L, 5L))
    val out = GraphOps.kCorePeel(g.toDF("a", "b"), "a", "b", k = 2, rounds = 3)
    assert(out.as[(Long, Long)].collect().toMap == Map(1L -> 2L, 2L -> 2L, 3L -> 2L))
    val plan = finalPlanStr(out)
    assert(plan.contains("ExistingRDD"), s"result must read the pinned degree frame:\n$plan")
    assert(!plan.contains("Exchange hashpartitioning"),
      s"the returned frame must not re-shuffle anything:\n$plan")
  }

  test("labelPropagation round: the edge⋈labels join rides the pinned layout (no exchange under it)") {
    val g = Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L), (4L, 5L), (1L, 5L))
    val conf = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force SMJ: the at-scale shape
      val out = GraphOps.labelPropagation(g.toDF("a", "b"), "a", "b", rounds = 1)
      out.collect()
      val plan = finalPlanStr(out)
      assert(plan.contains("SortMergeJoin"), s"expected the SMJ shape:\n$plan")
      // ONE exchange in the whole round — the post-join argmax shuffle
      // (|V|·labels rows). The join reads the pinned adjacency on
      // both sides with zero exchange (the checkpoint-captured
      // HashPartitioning + sort order); round 1's neighbor-label count even
      // rides the subset-partitioning rule (lbl ≡ join key).
      val n = "Exchange hashpartitioning".r.findAllIn(plan).size
      assert(n <= 1, s"expected ≤1 shuffle in a round, found $n:\n$plan")
      assert(plan.contains("ExistingRDD"), s"adjacency must read the pinned layout:\n$plan")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", conf)
  }
}
