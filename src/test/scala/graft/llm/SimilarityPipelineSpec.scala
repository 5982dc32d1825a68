package graft.llm

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.functions.VectorOracles

class SimilarityPipelineSpec extends SparkSpec {
  import spark.implicits._

  private lazy val emb = graft.ops.Tables.embeddings(spark, sfDir)

  /** Recall@3 against bruteForceTopK of the float spherical k-means
    * top-k (cells = isqrt(n)/2, 2 Lloyd rounds, nprobe 2) on the sf0.001
    * corpus's first 5 vectors: 6 of the 15 true neighbors. Measured
    * before that form was deleted; the fixed-point form must hold it.
    */
  private val FloatKmeansRecall = 6.0 / 15

  test("bruteForceTopK returns k rows per query, scores descending, no self-match") {
    val out = VectorOracles.bruteForceTopK(emb, emb.where(col("vec_id") < 3), 5)
    val rows = out.as[(Long, Long, Double)].collect()
    assert(rows.length == 15)
    rows.groupBy(_._1).foreach { case (_, g) =>
      val scores = g.sortBy(r => (-r._3, r._2)).map(_._3)
      assert(scores.sorted.reverse.toSeq == scores.toSeq)
    }
    assert(rows.forall(r => r._1 != r._2))
  }

  test("annTopKPortable: fp ranking agrees with float cosine over its own candidates, pinned recall") {
    val queries = emb.where(col("vec_id") < 5)
    val bits = SimilarityPipeline.cellBits(emb.count())
    val ann = SimilarityPipeline.annTopKPortable(emb, queries, 3, bits)
      .as[(Long, Long, Long, Long)].collect()
    assert(ann.nonEmpty && ann.forall { case (q, v, _, _) => q != v })
    // the float-cosine property: the fp-keyed top-3 per query must be
    // the same set the float cosine would pick from the SAME candidate
    // pool (the integer key only replaces the ORDER carrier, never the
    // geometry)
    val bf = VectorOracles.bruteForceTopK(emb, queries, emb.count().toInt)
      .as[(Long, Long, Double)].collect()
    val bfMap = bf.map { case (q, v, s) => (q, v) -> s }.toMap
    val cands = SimilarityPipeline.annTopKPortable(emb, queries, emb.count().toInt, bits)
      .as[(Long, Long, Long, Long)].collect()
    val floatTop = cands.groupBy(_._1).map { case (q, g) =>
      q -> g.map(r => (r._2, bfMap((q, r._2)))).sortBy(r => (-r._2, r._1)).take(3).map(_._1).toSet
    }
    val fpTop = ann.groupBy(_._1).map { case (q, g) => q -> g.map(_._2).toSet }
    floatTop.foreach { case (q, t) =>
      assert(fpTop(q) == t, s"fp top-3 for query $q diverged from float cosine over same candidates")
    }
    // recall@3 vs global brute force — pinned empirically (md5 planes)
    val trueTop = bf.groupBy(_._1).map { case (q, g) =>
      q -> g.sortBy(r => (-r._3, r._2)).take(3).map(_._2).toSet
    }
    val recall = trueTop.map { case (q, t) =>
      (t intersect fpTop.getOrElse(q, Set.empty)).size.toDouble / t.size
    }.sum / trueTop.size
    assert(recall >= 0.4, s"portable recall@3 dropped to $recall")
  }

  test("annNearDupPairsPortable: integer threshold ≡ float threshold, subset of brute force, pinned recall") {
    val bits = SimilarityPipeline.cellBits(emb.count())
    val ann = SimilarityPipeline.annNearDupPairsPortable(emb, 2, 5, bits)
      .as[(Long, Long, Long, Long)].collect()
    assert(ann.map(p => (p._1, p._2)).distinct.length == ann.length, "banding must dedupe pairs")
    // every emitted pair clears the float threshold too (the fp test is
    // the same inequality on quantized values; 1e-6 covers quantization)
    val e = emb.select(col("vec_id"), col("embedding"))
    val all = e.as("a").join(e.as("b"), col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id"), col("b.vec_id"),
        graft.functions.VectorFunctions.cosine(col("a.embedding"), col("b.embedding")).as("c"))
      .as[(Long, Long, Double)].collect()
    val cosMap = all.map(p => (p._1, p._2) -> p._3).toMap
    assert(ann.forall(p => cosMap((p._1, p._2)) >= 0.4 - 1e-6),
      "an emitted pair fails the float threshold beyond quantization tolerance")
    val truth = all.filter(_._3 >= 0.4).map(p => (p._1, p._2)).toSet
    val found = ann.map(p => (p._1, p._2)).toSet
    assert((found -- truth).forall(p => math.abs(cosMap(p) - 0.4) < 1e-6),
      "portable set may differ from float truth only at the quantization boundary")
    if (truth.nonEmpty) {
      val recall = (found intersect truth).size.toDouble / truth.size
      assert(recall >= 0.4, s"portable near-dup recall dropped to $recall (truth=${truth.size})")
    }
    // cos2_bp sanity: exact integer ≈ 10⁴·cos² on every pair
    ann.foreach { p =>
      val c = cosMap((p._1, p._2))
      assert(math.abs(p._4.toDouble - c * c * 10000.0) < 2.0,
        s"cos2_bp ${p._4} diverges from float cos²·10⁴ at pair (${p._1},${p._2})")
    }
  }

  test("annNearDupPairsPortable: zero vectors pair with nothing, the rest is unchanged") {
    // a zero vector's sign bucket is all-ones, so two of them always
    // collide; with no norm they have no cosine to clear
    val corpus = emb.select("vec_id", "embedding")
    val zeros = Seq(1000000L, 1000001L).map(id => (id, Array.fill(64)(0f))).toDF("vec_id", "embedding")
    val bits = SimilarityPipeline.cellBits(corpus.count())
    def pairs(c: org.apache.spark.sql.DataFrame) =
      SimilarityPipeline.annNearDupPairsPortable(c, 2, 5, bits).as[(Long, Long, Long, Long)].collect().toSet
    val want = pairs(corpus)
    assert(want.nonEmpty)
    assert(pairs(corpus.unionByName(zeros)) == want)
  }

  test("kmeansTopKFp: integer ranking mirrors float cosine order, deterministic, recall agrees with float form") {
    val queries = emb.where(col("vec_id") < 5)
    val n = emb.count()
    // q42's registered parameters
    val cells = math.max(2L, graft.ops.Exact.isqrtLong(n) / 2).toInt
    def runFp() = SimilarityPipeline
      .kmeansTopKFp(emb, queries, 3, cells, iters = 2, nprobe = 2)
      .as[(Long, Long, Long)].collect()
    val fp = runFp()
    assert(fp.nonEmpty && fp.forall { case (q, v, _) => q != v })
    assert(fp.groupBy(_._1).forall(_._2.length == 3))
    // deterministic build (retry-safe index — the reason the seeds are
    // plain lowest-vec_id rather than any sampled choice)
    assert(runFp().sortBy(r => (r._1, r._2)).toSeq == fp.sortBy(r => (r._1, r._2)).toSeq)
    // the integer key resolves cos² at ~1e-18 — its order must agree
    // with float cosine up to double noise on every returned ranking
    val bf = VectorOracles.bruteForceTopK(emb, queries, n.toInt)
      .as[(Long, Long, Double)].collect()
    val cosMap = bf.map { case (q, v, s) => (q, v) -> s }.toMap
    fp.groupBy(_._1).foreach { case (q, g) =>
      val cosines = g.sortBy(r => (-r._3, r._2)).map(v => cosMap((q, v._2)))
      assert(cosines.zip(cosines.tail).forall { case (a, b) => a >= b - 1e-6 },
        s"fp rank order diverges from float cosine at query $q: ${cosines.mkString(",")}")
    }
    // recall agreement with the float form at identical parameters:
    // the fixed-point path is the same algorithm with decisions pinned
    // to integers, so quality must match up to quantization-flipped
    // borderline assignments (slack = one neighbor over 15). The float
    // k-means form is gone; its recall@3 against bruteForceTopK on this
    // fixture and these parameters was FloatKmeansRecall.
    def recall(found: Array[(Long, Long)]): Double = {
      val trueTop = bf.groupBy(_._1).map { case (q, g) =>
        q -> g.sortBy(r => (-r._3, r._2)).take(3).map(_._2).toSet
      }
      val got = found.groupBy(_._1).map { case (q, g) => q -> g.map(_._2).toSet }
      trueTop.map { case (q, t) =>
        (t intersect got.getOrElse(q, Set.empty)).size.toDouble / t.size
      }.sum / trueTop.size
    }
    val rFp = recall(fp.map(r => (r._1, r._2)))
    assert(rFp >= FloatKmeansRecall - (1.0 / 15.0) - 1e-9,
      s"fixed-point recall $rFp fell below float recall $FloatKmeansRecall beyond one borderline neighbor")
  }

  test("annHardNegativesCapped: huge cap reproduces q217 exactly; small cap bounds the scored frame and stays deterministic") {
    val n = emb.count()
    val bits = SimilarityPipeline.cellBits(n)
    // cap ≥ any possible fan-in (N) ⇒ identical to the uncapped form
    val uncapped = SimilarityPipeline
      .annHardNegativesPortable(emb, k = 2, 1, 5, 3, 5, bits)
      .as[(Long, Long, Long, Long, Long)].collect().sortBy(r => (r._1, r._2))
    val wide = SimilarityPipeline
      .annHardNegativesCapped(emb, k = 2, 1, 5, 3, 5, bits, cap = n.toInt)
      .as[(Long, Long, Long, Long, Long)].collect().sortBy(r => (r._1, r._2))
    assert(wide.toSeq == uncapped.toSeq,
      "cap >= fan-in must reproduce the uncapped operator exactly")
    // the work bound the cap exists for: the scored frame is <= N·cap
    val cap = 8
    val capped = SimilarityPipeline.cappedDirectedCandidates(emb, bits, cap)
    val perAnchor = capped.groupBy("anchor_id").agg(count(lit(1)).as("c"))
    assert(perAnchor.where(col("c") > cap).isEmpty, "cap violated")
    assert(capped.count() <= cap * n)
    // deterministic (the md5 order is a pure function of ids)
    val o1 = SimilarityPipeline
      .annHardNegativesCapped(emb, k = 2, 1, 5, 3, 5, bits, cap = 8)
      .as[(Long, Long, Long, Long, Long)].collect().sortBy(r => (r._1, r._2))
    val o2 = SimilarityPipeline
      .annHardNegativesCapped(emb, k = 2, 1, 5, 3, 5, bits, cap = 8)
      .as[(Long, Long, Long, Long, Long)].collect().sortBy(r => (r._1, r._2))
    assert(o1.toSeq == o2.toSeq)
    // subset pin: the capped candidate frame is a per-anchor PREFIX of
    // the full directed banded candidate set (note the top-k OUTPUT is
    // deliberately not a subset of the uncapped output — an anchor that
    // lost its rank-1 negative to the cap promotes its rank-3, which is
    // exactly the documented recall trade)
    val allCand = SimilarityPipeline.cappedDirectedCandidates(emb, bits, n.toInt)
    assert(capped.exceptAll(allCand).isEmpty)
  }

  test("semanticDedupFp: deterministic drops with minimal witnesses on a planted-cluster fixture") {
    // x-family: v0 = x, v1 = x (identical), v2 ≈ x (cos ≈ 0.994);
    // y-family: v3 = y, v4 = y; v5 = z. Seeds are v0/v1 — identical
    // vectors, so round-1 assignment ties every vector into cell 0,
    // cell 1 empties out, and the final clustering is the single cell:
    // drops are exactly {v : ∃ u < v, cos ≥ 3/10} with minimal
    // witnesses — v1←v0, v2←v0, v4←v3 (all cross-family cosines ≤ 0.12).
    val s2 = 1.0 / math.sqrt(0.82)
    def vec(x: Double, y: Double, z: Double): Seq[Float] =
      Seq(x.toFloat, y.toFloat, z.toFloat, 0f)
    val fx = Seq(
      (0L, vec(1, 0, 0)), (1L, vec(1, 0, 0)), (2L, vec(0.9 * s2, 0.1 * s2, 0)),
      (3L, vec(0, 1, 0)), (4L, vec(0, 1, 0)), (5L, vec(0, 0, 1)))
      .toDF("vec_id", "embedding")
    val out = SimilarityPipeline.semanticDedupFp(fx, cells = 2, tNum = 3, tDen = 10, iters = 2)
      .orderBy("vec_id")
      .as[(Long, Long, Long, Long)].collect()
    // replicate the exact integer cos2_bp for the (0,2) pair
    def q(v: Seq[Float]): Seq[Long] = v.map(x => math.round(x.toDouble * 10000000L))
    def dot(a: Seq[Long], b: Seq[Long]): BigInt =
      a.zip(b).map { case (x, y) => BigInt(x) * y }.sum
    val (q0, q2) = (q(vec(1, 0, 0)), q(vec(0.9 * s2, 0.1 * s2, 0)))
    val bp02 = (dot(q0, q2).pow(2) * 10000 / (dot(q0, q0) * dot(q2, q2))).toLong
    assert(out.toSeq == Seq((1L, 0L, 0L, 10000L), (2L, 0L, 0L, bp02), (4L, 3L, 0L, 10000L)))
    assert(bp02 >= 900, "planted near-dup must clear the cross-multiplied (3/10)^2 bar")
  }

  test("semanticDedupFp: corpus drops are same-cell, threshold-verified, keep-first and distinct") {
    val cellsN = math.max(2L, graft.ops.Exact.isqrtLong(emb.count()) / 2).toInt
    val out = SimilarityPipeline.semanticDedupFp(emb, cells = cellsN, tNum = 3, tDen = 10, iters = 2)
      .as[(Long, Long, Long, Long)].collect()
    assert(out.nonEmpty)
    // a dropped vector appears exactly once, always with a lower-id keeper
    assert(out.map(_._1).distinct.length == out.length)
    assert(out.forall { case (v, k, _, _) => k < v })
    // every emitted pair clears the float threshold (quantization at 1e7
    // keeps the integer and float decisions within ~1e-6 of each other,
    // and the fixture threshold is nowhere near that margin)
    val vecs = emb.select("vec_id", "embedding").as[(Long, Seq[Float])].collect().toMap
    out.foreach { case (v, k, _, bp) =>
      val (a, b) = (vecs(k), vecs(v))
      val d = a.zip(b).map { case (x, y) => x.toDouble * y.toDouble }.sum
      val cos = d / math.sqrt(a.map(x => x.toDouble * x).sum * b.map(x => x.toDouble * x).sum)
      assert(cos >= 0.3 - 1e-4, s"drop ($v ← $k): cos $cos below threshold")
      assert(math.abs(cos * cos * 10000 - bp) <= 1, s"drop ($v ← $k): cos2_bp $bp vs ${cos * cos * 10000}")
    }
  }

  test("semanticDecontamFp: planted benchmark leaks flagged with minimal witnesses, clean vectors pass") {
    // bench = {v0 = x, v4 = y}; train: v1 = x (exact leak of v0),
    // v2 ≈ x (paraphrase leak, cos ≈ 0.994), v3 = y (exact leak of
    // v4), v5 = z (clean). Seeds v0/v1 are identical ⇒ single cell
    // (the q259 fixture argument), so expected flags are exactly the
    // threshold pairs: 1←0, 2←0, 3←4; v5 unflagged.
    val s2 = 1.0 / math.sqrt(0.82)
    def vec(x: Double, y: Double, z: Double): Seq[Float] =
      Seq(x.toFloat, y.toFloat, z.toFloat, 0f)
    val fx = Seq(
      (0L, vec(1, 0, 0)), (1L, vec(1, 0, 0)), (2L, vec(0.9 * s2, 0.1 * s2, 0)),
      (3L, vec(0, 1, 0)), (4L, vec(0, 1, 0)), (5L, vec(0, 0, 1)))
      .toDF("vec_id", "embedding")
    val out = SimilarityPipeline
      .semanticDecontamFp(fx, isBench = col("vec_id").isin(0L, 4L),
        cells = 2, tNum = 3, tDen = 10, iters = 2)
      .orderBy("vec_id")
      .as[(Long, Long, Long, Long)].collect()
    def q(v: Seq[Float]): Seq[Long] = v.map(x => math.round(x.toDouble * 10000000L))
    def dot(a: Seq[Long], b: Seq[Long]): BigInt =
      a.zip(b).map { case (x, y) => BigInt(x) * y }.sum
    val (q0, q2) = (q(vec(1, 0, 0)), q(vec(0.9 * s2, 0.1 * s2, 0)))
    val bp20 = (dot(q2, q0).pow(2) * 10000 / (dot(q2, q2) * dot(q0, q0))).toLong
    assert(out.toSeq == Seq((1L, 0L, 0L, 10000L), (2L, 0L, 0L, bp20), (3L, 4L, 0L, 10000L)))
  }

  test("semanticDecontamFp: corpus flags are train-side only, bench-witnessed, threshold-verified") {
    val cellsN = math.max(2L, graft.ops.Exact.isqrtLong(emb.count()) / 2).toInt
    val isBench = col("vec_id") % 20 === 0
    val out = SimilarityPipeline
      .semanticDecontamFp(emb, isBench, cells = cellsN, tNum = 3, tDen = 10, iters = 2)
      .as[(Long, Long, Long, Long)].collect()
    assert(out.nonEmpty)
    assert(out.map(_._1).distinct.length == out.length, "one manifest row per flagged vector")
    out.foreach { case (v, wtn, _, _) =>
      assert(v % 20 != 0, s"benchmark vector $v must never be flagged")
      assert(wtn % 20 == 0, s"witness $wtn must be a benchmark vector")
    }
    val vecs = emb.select("vec_id", "embedding").as[(Long, Seq[Float])].collect().toMap
    out.foreach { case (v, wtn, _, bp) =>
      val (a, b) = (vecs(v), vecs(wtn))
      val d = a.zip(b).map { case (x, y) => x.toDouble * y.toDouble }.sum
      val cos = d / math.sqrt(a.map(x => x.toDouble * x).sum * b.map(x => x.toDouble * x).sum)
      assert(cos >= 0.3 - 1e-4, s"flag ($v ← $wtn): cos $cos below threshold")
      assert(math.abs(cos * cos * 10000 - bp) <= 1)
    }
  }

  test("ivfAssignCellsFp: degenerates to the flat assignment under a single coarse cell, covers every vector") {
    import graft.functions.VectorFunctions
    val fp = emb.select(col("vec_id"), VectorFunctions.quantizeFp(col("embedding"), 10000000L).as("q"))
    // cells = 3 ⇒ isqrt(3) = 1 coarse cell ⇒ every point probes every
    // fine centroid every round — the probed path must REPRODUCE the
    // flat kmeans bit for bit (same seeds, same argmax tie-breaks,
    // same integer means), which pins that the probe machinery itself
    // introduces no decision drift
    val scaled = SimilarityPipeline.ivfAssignCellsFp(fp, cells = 3, iters = 2)
      .as[(Long, Int)].collect().sortBy(_._1)
    val flat = fp.join(
        SimilarityPipeline.assignCellsFp(fp, SimilarityPipeline.kmeansCentroidsFp(fp, 3, 2)), "vec_id")
      .select("vec_id", "cell").as[(Long, Int)].collect().sortBy(_._1)
    assert(scaled.toSeq == flat.toSeq,
      "single-coarse-cell probed assignment must equal the flat assignment")
    // coverage under a REAL two-level geometry (cells ∝ n): the live-
    // coarse-cell restriction must keep every vector assigned
    val n = emb.count()
    val cells = math.max(2L, n / 32).toInt
    val assigned = SimilarityPipeline.ivfAssignCellsFp(fp, cells, iters = 2)
    assert(assigned.count() == n, "every vector must receive a cell")
    assert(assigned.select("vec_id").distinct().count() == n)
    assert(assigned.where(col("cell") < 0 || col("cell") >= cells).isEmpty)
  }

  test("semanticDedupFpScaled / semanticDecontamFpScaled: scaled-geometry drops keep q259/q260's decision contract") {
    val out = SimilarityPipeline
      .semanticDedupFpScaled(emb, tNum = 3, tDen = 10, targetCell = 32, iters = 2)
      .as[(Long, Long, Long, Long)].collect()
    assert(out.nonEmpty)
    assert(out.map(_._1).distinct.length == out.length)
    assert(out.forall { case (v, k, _, _) => k < v }, "keep-first: keeper id below dropped id")
    val vecs = emb.select("vec_id", "embedding").as[(Long, Seq[Float])].collect().toMap
    out.foreach { case (v, k, _, bp) =>
      val (a, b) = (vecs(k), vecs(v))
      val d = a.zip(b).map { case (x, y) => x.toDouble * y.toDouble }.sum
      val cos = d / math.sqrt(a.map(x => x.toDouble * x).sum * b.map(x => x.toDouble * x).sum)
      assert(cos >= 0.3 - 1e-4, s"scaled drop ($v ← $k): cos $cos below threshold")
      assert(math.abs(cos * cos * 10000 - bp) <= 1)
    }
    val flags = SimilarityPipeline
      .semanticDecontamFpScaled(emb, isBench = col("vec_id") % 20 === 0,
        tNum = 3, tDen = 10, targetCell = 32, iters = 2)
      .as[(Long, Long, Long, Long)].collect()
    assert(flags.nonEmpty)
    flags.foreach { case (v, wtn, _, _) =>
      assert(v % 20 != 0, s"benchmark vector $v must never be flagged")
      assert(wtn % 20 == 0, s"witness $wtn must be a benchmark vector")
    }
  }

  test("annHardNegativesScaled: exact replay of q217's band/ranking over the scaled clustering's cluster-mates") {
    import graft.functions.VectorFunctions
    val n = emb.count()
    val out = SimilarityPipeline
      .annHardNegativesScaled(emb, k = 2, 1, 5, 3, 5, targetCell = 32, iters = 2,
        knownRows = Some(n))
      .as[(Long, Long, Long, Long, Long)].collect()
    assert(out.nonEmpty)
    // brute-force replay: same clustering, then plain-Scala scoring of
    // every intra-cell pair through q217's exact integer band + rank —
    // the operator must reproduce it row for row (the candidate
    // geometry, the mirror, the tie-breaks, the top-k truncation)
    val S = graft.llm.LlmQueries.Q29Scale
    val fp = emb.select(col("vec_id"), VectorFunctions.quantizeFp(col("embedding"), S).as("q"))
    val cells = math.max(2L, n / 32).toInt
    val assigned = fp
      .join(SimilarityPipeline.ivfAssignCellsFp(fp, cells, iters = 2), "vec_id")
      .select("vec_id", "q", "cell").as[(Long, Seq[Long], Int)].collect()
    val groups: Seq[Seq[(Long, Seq[Long], Int)]] =
      assigned.toSeq.groupBy(_._3).values.toSeq
    val dirs: Seq[(Long, Long, Long, Long, Long)] = groups.flatMap { grp =>
      for {
        a <- grp
        b <- grp
        if a._1 != b._1
        d = a._2.zip(b._2).map { case (x, y) => x * y }.sum
        na = a._2.map(x => x * x).sum
        nb = b._2.map(x => x * x).sum
        if d >= 0 &&
          BigInt(d) * BigInt(d) * 25 >= BigInt(na) * BigInt(nb) &&
          BigInt(d) * BigInt(d) * 25 < BigInt(na) * BigInt(nb) * 9
      } yield (a._1, b._1, d,
        (BigInt(d) * BigInt(d) * 10000 / BigInt(nb)).toLong,
        (BigInt(d) * BigInt(d) * 10000 / (BigInt(na) * BigInt(nb))).toLong)
    }
    val expected = dirs.groupBy(_._1).toSeq.flatMap { case (anchor, g) =>
      g.sortBy(r => (-r._4, r._2)).take(2).zipWithIndex.map { case (r, i) =>
        (anchor, (i + 1).toLong, r._2, r._3, r._5)
      }
    }.sortBy(r => (r._1, r._2))
    assert(out.sortBy(r => (r._1, r._2)).toSeq == expected,
      "scaled hard negatives diverge from the intra-cell brute-force replay")
    // the structural claim the operator makes: candidates never leave
    // a cell, so per-anchor fan-in is bounded by its cluster size − 1
    val cellSize = assigned.groupBy(_._3).view.mapValues(_.length).toMap
    val byCell = assigned.map(r => r._1 -> r._3).toMap
    dirs.groupBy(_._1).foreach { case (anchor, g) =>
      assert(g.length <= cellSize(byCell(anchor)) - 1)
    }
  }

  test("ivfTopKScaled: exact replay of the two-level probed descent and q29 ranking") {
    import graft.functions.VectorFunctions
    val n = emb.count()
    val queries = emb.where(col("vec_id") < 5)
    val out = SimilarityPipeline
      .ivfTopKScaled(emb, queries, k = 3, targetCell = 32, iters = 2, nprobe = 2,
        knownRows = Some(n))
      .as[(Long, Long, Long)].collect().sortBy(r => (r._1, r._2))
    assert(out.nonEmpty)
    // replay: same index internals, then plain-Scala descent — coarse
    // argmax, fine ranking within the coarse cell, nprobe probe, q29
    // key over probed members — must match row for row
    val S = graft.llm.LlmQueries.Q29Scale
    val fp = emb.select(col("vec_id"), VectorFunctions.quantizeFp(col("embedding"), S).as("q"))
    val cells = math.max(2L, n / 32).toInt
    val (cellOf, centsDf, coarseDf) = SimilarityPipeline.ivfIndexFp(fp, cells, iters = 2)
    val assigned = fp.join(cellOf, "vec_id").select("vec_id", "q", "cell")
      .as[(Long, Seq[Long], Int)].collect()
    val cents = centsDf.as[(Int, Seq[Long])].collect().sortBy(_._1)
    val coarse = coarseDf.as[(Int, Seq[Long])].collect().sortBy(_._1)
    def dot(a: Seq[Long], b: Seq[Long]): Long =
      a.zip(b).map { case (x, y) => x * y }.sum
    def argmax(q: Seq[Long], cands: Seq[(Int, Seq[Long])]): Int =
      cands.map { case (c, v) => (dot(q, v), c) }.minBy { case (d, c) => (-d, c) }._2
    val fg = cents.map { case (c, v) => c -> argmax(v, coarse) }.toMap
    val liveCoarse = coarse.filter { case (gc, _) => fg.values.exists(_ == gc) }
    val qs = fp.where(col("vec_id") < 5).as[(Long, Seq[Long])].collect()
    val byCell = assigned.groupBy(_._3)
    val expected = qs.flatMap { case (qid, qq) =>
      val g = argmax(qq, liveCoarse)
      val fine = cents.filter { case (c, _) => fg(c) == g }
      val probed = fine.map { case (c, v) => (dot(qq, v), c) }
        .sortBy { case (d, c) => (-d, c) }.take(2).map(_._2)
      val cands = probed.flatMap(c => byCell.getOrElse(c, Array.empty[(Long, Seq[Long], Int)]))
        .filter(_._1 != qid)
      cands.map { m =>
        val d = dot(m._2, qq)
        val nf = dot(m._2, m._2)
        val key = (if (d < 0) -1L else 1L) *
          (BigInt(d) * BigInt(d) * 10000 / BigInt(nf)).toLong
        (qid, m._1, key)
      }.sortBy(r => (-r._3, r._2)).take(3)
    }.sortBy(r => (r._1, r._2))
    assert(out.toSeq == expected.toSeq,
      "scaled IVF search diverges from the probed-descent replay")
  }

  test("semanticDedupIncrementalFp: frozen-base clustering, incoming×base pairs only, exact replay") {
    import graft.functions.VectorFunctions
    val out = SimilarityPipeline
      .semanticDedupIncrementalFp(emb, isIncoming = col("vec_id") % 4 === 0,
        tNum = 3, tDen = 10, targetCell = 32, iters = 2)
      .as[(Long, Long, Long, Long)].collect()
    assert(out.nonEmpty)
    // frame contract: only incoming vectors are flagged, only base
    // vectors witness — base×base and incoming×incoming never pair
    out.foreach { case (v, w, _, _) =>
      assert(v % 4 == 0, s"flagged vector $v is not incoming")
      assert(w % 4 != 0, s"witness $w is not a base vector")
    }
    // exact replay: cluster the BASE frame only, probe-assign the full
    // frame through the frozen index, then plain-Scala cross-frame
    // hits with the min-witness pick
    val S = graft.llm.LlmQueries.Q29Scale
    val fp = emb.select(col("vec_id"), VectorFunctions.quantizeFp(col("embedding"), S).as("q"))
    val base = fp.where(col("vec_id") % 4 =!= 0)
    val cells = math.max(2L, base.count() / 32).toInt
    val (_, cents, coarse) = SimilarityPipeline.ivfIndexFp(base, cells, iters = 2)
    val assigned = fp
      .join(SimilarityPipeline.probedAssignFp(fp, cents, coarse), "vec_id")
      .select("vec_id", "q", "cell").as[(Long, Seq[Long], Int)].collect()
    val expected = assigned.groupBy(_._3).toSeq.flatMap { case (cell, grp) =>
      val (incoming, bs) = grp.partition(_._1 % 4 == 0)
      incoming.flatMap { i =>
        val hits = bs.flatMap { b =>
          val d = i._2.zip(b._2).map { case (x, y) => x * y }.sum
          val na = i._2.map(x => x * x).sum
          val nb = b._2.map(x => x * x).sum
          if (d >= 0 && na > 0 && nb > 0 &&
            BigInt(d) * BigInt(d) * 100 >= BigInt(na) * BigInt(nb) * 9)
            Some((b._1, (BigInt(d) * BigInt(d) * 10000 / (BigInt(na) * BigInt(nb))).toLong))
          else None
        }
        if (hits.isEmpty) None
        else {
          val (w, bp) = hits.minBy(_._1)
          Some((i._1, w, cell.toLong, bp))
        }
      }
    }.sortBy(_._1)
    assert(out.sortBy(_._1).toSeq == expected.toSeq,
      "incremental semantic dedup diverges from the frozen-base replay")
  }

  test("fixed-point PCA: axes agree with the planted directions, p1 orders the planted cohorts, orthogonal, deterministic") {
    // q202's r9 registered form, on a TWO-direction planted fixture
    // with a ~20x eigenvalue ratio. (A single-direction fixture has
    // lambda2/lambda1 ~ 4e-7 — BELOW the documented 2e-6 Gram-Schmidt
    // coefficient quantum, so no fixed-point arithmetic of this width
    // could recover its second axis; realistic spectra sit far above
    // the quantum.)
    val d0 = 8
    val u = Array.tabulate(d0)(i => math.sin(i + 1.0))
    val un = { val n = math.sqrt(u.map(x => x * x).sum); u.map(x => (x / n).toFloat) }
    // second direction: orthogonalize cos(2i) against u
    val w0 = Array.tabulate(d0)(i => math.cos(2.0 * (i + 1)))
    val wOrth = {
      val du = w0.zip(un).map { case (a, b) => a * b }.sum
      val r = w0.zip(un).map { case (a, b) => a - du * b }
      val n = math.sqrt(r.map(x => x * x).sum); r.map(x => (x / n).toFloat)
    }
    val fixture = (0 until 200).map { k =>
      val t = (k % 41) - 20.0
      val t2 = (((k * 7) % 29) - 14.0) * 0.35
      val vec = Array.tabulate(d0)(i =>
        (t * un(i) + t2 * wOrth(i) + 0.01 * math.cos(k * (i + 1))).toFloat)
      (k.toLong, vec.toSeq)
    }.toDF("vec_id", "embedding")
    val fp = fixture.select(col("vec_id"),
      graft.functions.VectorFunctions.quantizeFp(col("embedding"), 10000000L).as("q"))
    def axes() = SimilarityPipeline.topTwoAxesFp(fp, iters = 8)
      .as[(Int, Long, Long)].collect().sortBy(_._1)
    val a = axes()
    // deterministic (oracle replay depends on it)
    assert(axes().toSeq == a.toSeq)
    // axes align with BOTH planted directions at fp scale
    val n1 = math.sqrt(a.map(r => r._2.toDouble * r._2).sum)
    val cosU = a.map(_._2.toDouble / n1).zip(un).map { case (x, b) => x * b }.sum
    assert(math.abs(cosU) > 0.99, s"fp PC1 must align with planted direction, cos=$cosU")
    val n2 = math.sqrt(a.map(r => r._3.toDouble * r._3).sum)
    val cosW = a.map(_._3.toDouble / n2).zip(wOrth).map { case (x, b) => x * b }.sum
    assert(math.abs(cosW) > 0.95, s"fp PC2 must align with second planted direction, cos=$cosW")
    // orthogonality within the documented 2^-19 coefficient quantum
    val ortho = a.map(r => (r._2.toDouble / n1) * (r._3.toDouble / n2)).sum
    assert(math.abs(ortho) < 2e-4, s"fp axes not orthogonal enough: $ortho")
    // p1 orders the fixture by its planted coordinate t along u: the
    // spread is in unit steps of t — far past the fixed-point
    // resolution and the t2 leakage into axis 1 — so the p1 ORDER must
    // be the t order up to ties (same-t cohorts, vec_id % 41)
    val pFp = SimilarityPipeline.pcaProjectFp(fixture, iters = 8)
      .as[(Long, Long, Long)].collect()
    def t(id: Long): Double = (id % 41) - 20.0
    // the axis sign is pinned by its loading sum, not by t's direction
    val sgn = if (pFp.map(r => r._2.toDouble * t(r._1)).sum >= 0) 1.0 else -1.0
    val cohorts = pFp.sortBy(r => (sgn * r._2, r._1)).map(_._1 % 41).toSeq
    assert(cohorts == cohorts.sorted, "fp projection order diverged from the planted t order beyond tie cohorts")
  }

  test("quantizer scale probe: per-cell pair counts stay roughly flat across corpus sizes") {
    // cells ∝ N at fixed target occupancy ⇒ Σ c_i·(c_i−1)/2 / cells
    // (the same-cell candidate-pair load) must not grow with N — the
    // property the fixed-label quantizer lacked.
    val loads = Seq("/root/testdata/sf0.01", "/root/testdata/sf0.1").map { dir =>
      val corpus = graft.ops.Tables.embeddings(spark, dir)
      val n = corpus.count()
      val bits = SimilarityPipeline.cellBits(n)
      val perCell = SimilarityPipeline.withCellsPortable(corpus, bits)
        .groupBy("cell").agg(count(lit(1)).as("c"))
        .select(sum(col("c") * (col("c") - 1) / 2).as("pairs"), count(lit(1)).as("cells"))
        .as[(Double, Long)].head()
      val load = perCell._1 / (1L << bits)
      (n, bits, load)
    }
    val (nSmall, _, loadSmall) = loads.head
    val (nBig, _, loadBig) = loads.last
    assert(nBig > nSmall)
    // allow slack for LSH imbalance over the clustered corpus, but the
    // 4× corpus must not produce ≳4× per-cell load (that would mean the
    // quantizer stopped scaling cells with N)
    assert(loadBig <= loadSmall * 3.0,
      s"per-cell pair load grew ${loadBig / loadSmall}× for a ${nBig / nSmall}× corpus")
  }

  test("adaptiveNearDupPairsFp: threshold rail rejects sub-7/9 thresholds loudly, 7/9 itself passes") {
    val e = intercept[IllegalArgumentException] {
      SimilarityPipeline.adaptiveNearDupPairsFp(emb, tNum = 2, tDen = 5, iters = 2)
    }
    assert(e.getMessage.contains("needs threshold >= 7/9"))
    // 7/9 boundary: exactly 7/9 passes, just below throws
    SimilarityPipeline.adaptiveNearDupPairsFp(emb.limit(0), tNum = 7, tDen = 9, iters = 2)
    intercept[IllegalArgumentException] {
      SimilarityPipeline.adaptiveNearDupPairsFp(emb.limit(0), tNum = 777, tDen = 1000, iters = 2)
    }
  }

  test("q224 fp form: planted corpus takes the GRID branch losslessly; registered corpus takes the fallback — the whole decision integer-exact") {
    // adaptiveNearDupPairsFp (the registered form) on a small
    // clustered fixture: 10 random unit directions, 4 of them with a
    // planted partner at cos ≈ 0.9; the exact integer threshold
    // t = 4/5, and the integer histogram decision
    val dim = 64
    val rnd = new scala.util.Random(7)
    def unit(): Array[Double] = {
      val v = Array.fill(dim)(rnd.nextGaussian())
      val n = math.sqrt(v.map(x => x * x).sum); v.map(_ / n)
    }
    val bases = Array.fill(10)(unit())
    val planted = bases.zipWithIndex.flatMap { case (b, k) =>
      val self = Seq((k.toLong, b.map(_.toFloat).toSeq))
      if (k < 4) {
        val p = unit()
        val d = b.zip(p).map { case (x, y) => x * y }.sum
        val r = b.zip(p).map { case (x, y) => y - d * x }
        val rn = math.sqrt(r.map(x => x * x).sum)
        val mix = b.zip(r).map { case (x, y) => 0.9 * x + math.sqrt(1 - 0.81) * y / rn }
        self :+ ((100L + k, mix.map(_.toFloat).toSeq))
      } else self
    }
    val dir = java.nio.file.Files.createTempDirectory("q224fp").toString
    planted.toSeq.toDF("vec_id", "embedding").write.parquet(s"$dir/embeddings.parquet")
    val corpus = graft.ops.Tables.embeddings(spark, dir)
    val fpPlanted = SimilarityPipeline.adaptiveNearDupPairsFp(corpus, tNum = 4, tDen = 5, iters = 6)
    // branch pin: grid (the 3×3 probe explode is in the plan)
    assert(fpPlanted.queryExecution.analyzed.toString.contains("sequence(-1, 1"),
      "planted anisotropic corpus should take the lossless GRID branch (fp)")
    val rows = fpPlanted.as[(Long, Long, Long, Long)].collect()
    val e2 = corpus.select(col("vec_id"), col("embedding"))
    val truth = e2.as("a").join(e2.as("b"), col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id"), col("b.vec_id"),
        graft.functions.VectorFunctions.cosine(col("a.embedding"), col("b.embedding")).as("c"))
      .where(col("c") >= 0.8).as[(Long, Long, Double)].collect()
      .map(p => (p._1, p._2)).toSet
    assert(truth.size == 4)
    assert(rows.map(r => (r._1, r._2)).toSet == truth,
      s"fp grid-branch blocking missed pairs: ${truth -- rows.map(r => (r._1, r._2)).toSet}")
    // exact threshold semantics: every emitted cos2_bp ≥ t²·10⁴ = 6400
    assert(rows.forall(_._4 >= 6400L), s"cos2_bp below threshold: ${rows.mkString(",")}")
    // the registered corpus run takes the FALLBACK branch and its
    // empty answer is CORRECT, not a silent blocking miss: brute-force
    // cosine over all pairs finds no pair at 0.8 either
    val fpCorpus = SimilarityPipeline.adaptiveNearDupPairsFp(emb, tNum = 4, tDen = 5, iters = 6)
    assert(!fpCorpus.queryExecution.analyzed.toString.contains("sequence(-1, 1"),
      "isotropic corpus should take the sign-LSH fallback branch (fp)")
    assert(LlmQueries.q224.run(spark, sfDir).count() == 0)
    val eC = emb.select(col("vec_id"), col("embedding"))
    val bruteEmpty = eC.as("a").join(eC.as("b"), col("a.vec_id") < col("b.vec_id"))
      .select(graft.functions.VectorFunctions.cosine(col("a.embedding"), col("b.embedding")).as("c"))
      .where(col("c") >= 0.8).count()
    assert(bruteEmpty == 0, "corpus unexpectedly contains ≥0.8 pairs — emptiness pin stale")
    // the decision statistic: implied candidates on the isotropic
    // corpus exceed the linear budget
    val n = emb.count()
    val fpN = SimilarityPipeline.l2NormalizeFp(
      emb.select(col("vec_id"),
        graft.functions.VectorFunctions.quantizeFp(col("embedding"), 10000000L).as("q")))
    val cellsC = SimilarityPipeline.gridCellsFp(
      fpN, SimilarityPipeline.topTwoAxesFp(fpN, 6), 4, 5)
    assert(SimilarityPipeline.gridImpliedCandidatesFp(cellsC) > 8L * n)
  }

  test("adaptiveNearDupPairsFp survives a rank-deficient corpus: exact duplicates still pair") {
    // 6 identical vectors + 2 mutually-orthogonal others: the
    // normalized corpus is (near-)rank-deficient, power iteration can
    // degenerate, and a projection that lost rows would lose the
    // EASIEST pairs. All C(6,2)=15 cos=1.0 pairs must surface.
    val dim = 64
    def vec(hot: Int): Seq[Float] = (0 until dim).map(i => if (i == hot) 1.0f else 0.0f)
    val rows = (0 until 6).map(i => (i.toLong, vec(0), 0)) ++
      Seq((6L, vec(1), 1), (7L, vec(2), 1))
    val dir = java.nio.file.Files.createTempDirectory("q224degen").toString
    rows.toDF("vec_id", "embedding", "label").write.parquet(s"$dir/embeddings.parquet")
    val emb2 = graft.ops.Tables.embeddings(spark, dir)
    val got = SimilarityPipeline.adaptiveNearDupPairsFp(emb2, tNum = 9, tDen = 10, iters = 4)
      .select(col("va"), col("vb")).as[(Long, Long)].collect().toSet
    val want = (for { a <- 0 until 6; b <- a + 1 until 6 } yield (a.toLong, b.toLong)).toSet
    assert(got == want, s"degenerate corpus lost pairs: missing=${want -- got} extra=${got -- want}")
  }

  test("q217 hard negatives: band membership, per-anchor rank contract, dup pairs excluded") {
    // new r8 schema: (anchor_id, rank, negative_id, dot_fp, cos2_bp) —
    // all exact int64; the float cosine is the semantic ground truth we
    // recompute here (band + ordering must agree within quantization)
    val out = LlmQueries.q217.run(spark, sfDir)
      .as[(Long, Long, Long, Long, Long)].collect()
    assert(out.nonEmpty)
    val ids = out.flatMap(r => Seq(r._1, r._3)).toSet.toSeq
    val vecs = emb.where(col("vec_id").isin(ids: _*))
      .select("vec_id", "embedding").as[(Long, Seq[Float])].collect().toMap
    def cosOf(a: Long, n: Long): Double = {
      val (va, vn) = (vecs(a), vecs(n))
      val dot = va.zip(vn).map { case (x, y) => x.toDouble * y.toDouble }.sum
      dot / (math.sqrt(va.map(x => x.toDouble * x).sum) * math.sqrt(vn.map(x => x.toDouble * x).sum))
    }
    // every mined pair sits inside the hard-negative band (quantization
    // tolerance: the registered test is exact on round(v·1e7) integers)
    out.foreach { case (a, _, n, _, _) =>
      val c = cosOf(a, n)
      assert(c >= 0.2 - 1e-6 && c < 0.6 + 1e-6,
        s"mined negative ($a,$n) at cos $c escaped the [0.2, 0.6) band")
    }
    // per anchor: ranks are 1..m (m ≤ 2), descending float cosine, no
    // self pairs; cos2_bp tracks 10⁴·cos²
    out.groupBy(_._1).foreach { case (a, g) =>
      val byRank = g.sortBy(_._2)
      assert(byRank.map(_._2).toSeq == (1L to byRank.length).toSeq, s"anchor $a rank gap")
      val cs = byRank.map(r => cosOf(a, r._3))
      assert(cs.zip(cs.tail).forall { case (x, y) => x >= y - 1e-9 }, s"anchor $a not cos-desc")
      assert(g.forall(_._3 != a), s"anchor $a returned itself")
      g.foreach { r =>
        val c = cosOf(a, r._3)
        assert(math.abs(r._5.toDouble - c * c * 10000.0) < 2.0,
          s"cos2_bp ${r._5} diverges from 10⁴·cos² at ($a,${r._3})")
      }
    }
  }

  test("q218 int8 audit: quantizer bounded, recall in [0,k], perfect recall on a scale-separated fixture") {
    // real corpus: n_recovered ∈ [0, 10] for each of the 10 query ids
    val audit = LlmQueries.q218.run(spark, sfDir)
      .as[(Long, Long, Long)].collect()
    assert(audit.map(_._1).toSeq == (0L to 9L).toSeq)
    assert(audit.forall { case (_, r, k) => r >= 0 && r <= k && k == 10 })
    // scale-separated fixture: 12 one-hot-ish vectors whose float-dot
    // ranking survives int8 rounding exactly (gaps ≫ quantization
    // error), plus 10 orthogonal fillers ⇒ recall@10 must be 10/10.
    val dim = 64
    def vec(hot: Int, mag: Float): Seq[Float] =
      (0 until dim).map(i => if (i == hot) mag else 0.0f)
    val rows =
      (0 until 12).map(i => (i.toLong, vec(0, 1.0f - i * 0.05f), 0)) ++
        (12 until 22).map(i => (i.toLong, vec(i - 10, 1.0f), 1))
    val dir = java.nio.file.Files.createTempDirectory("q218fix").toString
    rows.toDF("vec_id", "embedding", "label").write.parquet(s"$dir/embeddings.parquet")
    val fixed = LlmQueries.q218.run(spark, dir).as[(Long, Long, Long)].collect()
    assert(fixed.forall { case (_, r, k) => r == k },
      s"int8 ranking diverged from float on a scale-separated fixture: ${fixed.mkString(",")}")
  }
}
